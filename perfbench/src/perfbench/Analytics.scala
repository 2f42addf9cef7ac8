package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.Tables
import graft.queries.{BarQueries, BookQueries, Q, TickQueries}
import graft.sources.TickStore

/** `analytics`: batch and streaming DataFrame work. The registry queries
  * read a generated sf0.1 `events` table (100k events, four books, 30 days)
  * through the tick table `graft.Tables.updates` derives from it; the three
  * streaming twins (see [[Stream]]) read an in-order feed of generated
  * ticks. One pass builds (`q.fn`) and executes (the `noop` sink) each
  * query of `Queries`, then feeds the next `BatchesPerPass` micro-batches
  * through the twins. Passes repeat until `--seconds` is used up, at least
  * `MinPasses` times. An operation is one query (build and execute) or one
  * micro-batch.
  *
  * Set-up writes the tick table to a `TickStore` root once, then runs one
  * warm-up pass, whose first call of the store-served query builds the
  * store it reads, whose query outputs `run.py` checks against the DuckDB
  * twins, and whose micro-batches start the twins. At the end, the twins'
  * outputs are checked against their batch operators. */
object Analytics {
  val Rows = 100000
  /** One registry query from each of three groups: the reference's own
    * surface, the fold block that launches the most eager jobs while it is
    * built, and the queries served from the partitioned tick store. A warm
    * pass over the 18 queries of these groups took 35 s on a 4-core box,
    * and a run has to fit in about a minute with its cold first pass. */
  val Queries: Seq[String] = Seq("q_time_bars", "q_stats", "q_tickstore_bars")
  /** Four micro-batches to three queries, so the median operation is a
    * micro-batch or the store-served query. */
  val BatchesPerPass = 4
  /** Micro-batches in the warm-up pass, enough to warm the twins. */
  val WarmBatches = 2
  /** At least three passes: 21 operations, 10 of them beyond the median. */
  val MinPasses = 3
  /** Ticks in the streaming feed: far more than a run feeds. */
  val FeedRows = 40000
  val OpTimeoutS = 60.0
  /** The store-served queries' symbol and inclusive ms range. */
  val ScanSymbol = "click"
  val ScanLo = 1704844800000L
  val ScanHi = 1705708800000L

  def run(spark: SparkSession, ctx: Ctx): Unit = {
    val dataDir = s"${ctx.dir}/sf"
    Gen.writeEvents(spark, dataDir, ctx.seed, Rows)
    // the registry's tick, bar and book groups; `SparkEntry.registry` as a
    // whole also builds the text/embedding families, which read tables
    // this workload does not generate
    val registry = (TickQueries.all ++ BarQueries.all ++ BookQueries.all)
      .map(q => q.name -> q).toMap
    val qs = Queries.map(registry)
    val ticks = Gen.streams(ctx.seed, 3, Gen.T0, 20000)
    val feed = Stream.batches(ticks.flatMap(_.take(FeedRows / 4)))
    val progress = new Stream.Progress
    spark.streams.addListener(progress)

    val buildS, execS, jobs = scala.collection.mutable.Map
      .empty[String, ArrayBuffer[Double]]
    val queryS, batchS = ArrayBuffer.empty[Double]
    var failed, attempted = 0L

    /** Runs one operation under the time budget; its wall seconds, or None
      * if it failed. */
    def op[T](what: String, group: String)(f: => T): Option[(T, Double)] = {
      attempted += 1
      Budget.run(OpTimeoutS, () => spark.sparkContext.cancelJobGroup(group)) {
        spark.sparkContext.setJobGroup(group, what, interruptOnCancel = true)
        Stats.time(f)
      } match {
        case Right(r) => Some(r)
        case Left(err) => failed += 1; ctx.note(s"$what: $err"); None
      }
    }

    def runQuery(q: Q, out: Option[String]): Unit =
      op(q.name, s"perfbench-${q.name}") {
        val j0 = ctx.counters.jobs.get
        val (df, b) = Stats.time(Trace.span("operators", q.name)(q.fn(spark, dataDir)))
        val j1 = ctx.counters.jobs.get
        val (_, x) = Stats.time(Trace.span("spark", q.name) {
          out match {
            case Some(dir) => df.coalesce(1).write.mode(SaveMode.Overwrite)
              .parquet(s"$dir/${q.name}")
            case None => df.write.format("noop").mode(SaveMode.Overwrite).save()
          }
        })
        buildS.getOrElseUpdate(q.name, ArrayBuffer.empty) += b
        execS.getOrElseUpdate(q.name, ArrayBuffer.empty) += x
        jobs.getOrElseUpdate(q.name, ArrayBuffer.empty) += (j1 - j0).toDouble
      }.foreach(r => queryS += r._2)

    val root = s"${ctx.dir}/store"
    def storeWrite(): Double =
      op("TickStore.write", "perfbench-store")(Trace.span("sources", "TickStore.write") {
        TickStore.write(Tables.updates(spark, dataDir), root, SaveMode.Overwrite)
      }).map(_._2).getOrElse(0.0)

    var twins: Stream.Twins = null
    var next = 0
    var batchRows = 0L
    def microBatches(n: Int): Unit = (1 to n).foreach { _ =>
      if (next < feed.size) {
        val b = feed(next)
        next += 1
        op(s"micro-batch $next", "perfbench-stream")(twins.feed(b))
          .foreach { r => batchS += r._2; batchRows += b.size }
      }
    }

    def pass(queries: Seq[Q], out: Option[String], batches: Int): Double =
      Stats.time {
        queries.foreach(q => runQuery(q, out))
        microBatches(batches)
      }._2

    val outDir = s"${ctx.dir}/out"
    val (storeWriteS, warmS) = Stats.time {
      val s = storeWrite()
      twins = new Stream.Twins(spark)
      pass(qs, Some(outDir), WarmBatches)
      s
    }
    ctx.setSetup(Seq(warmS))
    val warmFailed = failed
    Seq(buildS, execS, jobs).foreach(_.clear())
    Seq(queryS, batchS).foreach(_.clear())
    failed = 0; attempted = 0; batchRows = 0

    ctx.beginMeasure()
    progress.recording = true
    val passS = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (passS.size < MinPasses || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      passS += pass(qs, None, BatchesPerPass)
      ctx.heapCheckpoint()
    }
    progress.recording = false
    ctx.endMeasure()
    ctx.attempted += attempted
    ctx.failed += failed

    val ops = (queryS ++ batchS).toSeq
    val m = ctx.metrics
    val disk = StoreStats(Seq(root))
    m("rate_per_s") = ops.size / passS.sum
    m("latency_p50_ms") = Stats.median(ops) * 1e3
    m("bytes_per_event") = disk.bytes.toDouble / Rows
    m("analytics.total_s") = Stats.median(passS.toSeq)
    m("sources.store_write_s") = storeWriteS
    m("stream.rows_per_s") = batchRows / batchS.sum
    m("stream.batch_p50_ms") = Stats.median(batchS.toSeq) * 1e3
    m("stream.batch_p90_ms") = Stats.pct(batchS.toSeq, 0.9) * 1e3
    Queries.foreach { q =>
      def med(xs: scala.collection.mutable.Map[String, ArrayBuffer[Double]]) =
        Stats.median(xs.getOrElse(q, ArrayBuffer.empty).toSeq)
      m(s"analytics.$q.build_s") = med(buildS)
      m(s"analytics.$q.exec_s") = med(execS)
      if (ctx.traced) m(s"analytics.$q.eager_jobs") = med(jobs)
    }
    progress.metrics(m)
    m("sources.disk_bytes") = disk.bytes.toDouble
    m("sources.files_per_day_leaf") = disk.filesPerLeaf
    ctx.note(f"analytics: ${passS.size} passes of ${qs.size} queries and " +
      f"$BatchesPerPass micro-batches, ${m("analytics.total_s")}%.2f s per " +
      f"pass, TickStore.write ${storeWriteS}%.2f s in set-up, " +
      f"micro-batch p50 ${m("stream.batch_p50_ms")}%.0f ms")

    if (ctx.traced) {
      val scans = (1 to 5).map { _ =>
        Stats.time(Trace.span("sources", "TickStore.scan") {
          TickStore.scan(spark, root, ScanSymbol, ScanLo, ScanHi)
            .write.format("noop").mode(SaveMode.Overwrite).save()
        })._2 * 1e3
      }
      m("sources.scan_ms") = Stats.median(scans)
    }

    // output checks: the twins against their batch operators here, the
    // warm-up pass's query outputs against DuckDB in run.py
    if (failed == 0 && warmFailed == 0) twins.closeAndCheck(ctx)
    else ctx.note("an operation failed, so the twins' outputs are not checked")
    val oracle = qs.flatMap(q => q.oracle.map(q.name -> _)).toMap
    qs.filterNot(q => oracle.contains(q.name))
      .foreach(q => ctx.check(false, s"${q.name} has no oracle twin"))
    ctx.extra("analytics_check") = "{" + Json.str("data") + ":" +
      Json.str(dataDir) + "," + Json.str("out") + ":" + Json.str(outDir) +
      "," + Json.str("oracle") + ":{" + oracle.toSeq.sorted
        .map { case (n, sql) => Json.str(n) + ":" + Json.str(sql) }
        .mkString(",") + "}}"
  }
}
