package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — runs every registered query against
  * `SPARK_GRAFT_SF_DIR` (default sf0.1) and prints ONE JSON line with
  * per-query wall seconds.
  *
  * Queries are fully materialized through the `noop` datasource (count()
  * would let Catalyst prune columns and under-measure the scan). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Pin the trained-index catalog state for FULL sweeps (VERDICT r16
    // #3): a fresh per-run catalog root makes sweep 1 measure
    // train+persist and sweep 2 measure serve-from-artifact — so
    // min-of-sweeps legitimately reports serving while training cost
    // stays visible in the cold sweep, instead of depending on whatever
    // earlier process warmed /tmp. Filtered (BENCH_ONLY) A/B runs keep
    // the ambient catalog: isolated A/Bs of serving gates measure
    // serving. An explicit -Dgraft.index.catalog.root is respected.
    val catalogPinned =
      if (sys.env.contains("SPARK_GRAFT_BENCH_ONLY") ||
          sys.props.contains("graft.index.catalog.root")) false
      else {
        val fresh = java.nio.file.Files
          .createTempDirectory("graft-bench-catalog")
        sys.props("graft.index.catalog.root") = fresh.toString
        true
      }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.enableNanos(spark)

    // JVM/codegen warmup on the smallest SF so per-query numbers measure
    // the plan, not class loading. Guarded: one broken query must cost its
    // own sweep row, never the round's entire bench signal (BENCH_r08 died
    // here on an unguarded analysis exception and produced no numbers).
    try SparkEntry.queries.get("q_time_bars")
      .foreach(fn => fn(spark, "/root/testdata/sf0.001").count())
    catch { case _: Throwable => () }

    // fixed calibration workload: identical every round, so cross-round
    // query comparisons can be normalized for host-speed drift (measured
    // ±15% box variance between same-code runs two hours apart). Run
    // before AND after the query sweep to expose drift within the run.
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(200L * 1000 * 1000)
        .selectExpr("sum(id * 2654435761 % 1000000007)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val calibStart = calibrate()

    // optional comma-separated filter for isolated A/B timing runs (the
    // driver sets no filter -> full sweep); a token naming a registry
    // FAMILY (core/dedup/ann/text/pipeline/multimodal) expands to that
    // family's queries, so one token sweeps a family
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
        .map(_.flatMap(tok =>
          SparkEntry.registryFamilies.find(_._1 == tok)
            .map(_._2.map(_.name).toSet).getOrElse(Set(tok))))

    // Per-query wall budget: a poisoned query costs its own row (-2.0),
    // never the round's bench. BENCH_r08 died on an unguarded exception
    // (fixed then), BENCH_r12 on a HANG (q_ofi's one-task grid sort,
    // rc=124 for the whole round) — same lesson, second failure mode
    // (VERDICT r12 #3). The query runs in its own thread under a named
    // job group; on timeout the group is cancelled (interrupts running
    // tasks) and the sweep moves on. 60 s ≈ 15× the slowest healthy
    // query at sf0.1 — a breach is a plan defect, not host noise.
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "60").toLong
    val pool = java.util.concurrent.Executors.newCachedThreadPool(
      new java.util.concurrent.ThreadFactory {
        // daemon threads: a timed-out query ignoring its interrupt
        // must never keep the bench JVM alive past main()
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, "bench-query")
          t.setDaemon(true); t
        }
      })
    def timedRun(q: graft.queries.Q): Double = {
      val group = s"bench-${q.name}"
      val task = new java.util.concurrent.Callable[Double] {
        def call(): Double = {
          // job-group registration is thread-local: set it in the
          // thread that issues the Spark actions
          spark.sparkContext.setJobGroup(group, q.name,
            interruptOnCancel = true)
          try {
            val t0 = System.nanoTime()
            q.fn(spark, sfDir).write.format("noop")
              .mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          } finally spark.sparkContext.clearJobGroup()
        }
      }
      val fut = pool.submit(task)
      try fut.get(budgetSec, java.util.concurrent.TimeUnit.SECONDS)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          spark.sparkContext.cancelJobGroup(group)
          fut.cancel(true)
          -2.0
        case _: Throwable => -1.0
      }
    }
    def sweep(): Seq[(String, Double)] = SparkEntry.registry
      .filter(q => only.forall(_.contains(q.name)))
      .map(q => q.name -> timedRun(q))
    def render(rs: Seq[(String, Double)]): String = rs
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // sweep 1 = the cross-round comparable: same single-shot order as
    // every earlier round, though the calibration job above adds some
    // extra JVM warm-up earlier rounds didn't have (bias is toward
    // slightly faster sweep-1 times — small next to the measured
    // run-to-run variance, and stated here rather than hidden);
    // sweep 2 = steady state — JIT settled, page cache warm — which is
    // what distinguishes a plan regression from a host hiccup on this
    // high-variance box (per-query times measured varying up to 5x
    // run-to-run at identical code)
    val results = sweep()
    val warm = sweep()
    // sweep 3 (full runs only): per-family ISOLATED — each family swept
    // contiguously with its own calibration sample taken immediately
    // before, so the host-noise class that consumed the r6/r7 A/B effort
    // (minutes-apart drift polluting cross-family comparisons inside one
    // sweep) is visible per run: a family whose isolated total disagrees
    // with its full-sweep total by more than its calib ratio was measured
    // under transient contention, not a plan change (VERDICT r7 #8).
    val famIso: Option[String] = if (only.isDefined) None else Some {
      SparkEntry.registryFamilies.map { case (fam, fqs) =>
        val calib = calibrate()
        val rs = fqs.map(q => q.name -> timedRun(q))
        val tot = rs.map(_._2).filter(_ >= 0).sum
        "\"" + fam + "\":{" + f""""calib_sec":$calib%.3f,""" +
          f""""total_sec":$tot%.3f,"queries":${render(rs)}}"""
      }.mkString("{", ",", "}")
    }
    val qs = render(results)
    val total = results.map(_._2).filter(_ >= 0).sum
    val totalWarm = warm.map(_._2).filter(_ >= 0).sum

    // storage density: the updates table as parquet+zstd, bytes per event,
    // next to the reference's ~12 B/event DTF claim (README.md:28). It is a
    // plain Spark write: v1 pages with Spark's default encodings and zstd,
    // so ts/seq are not delta-encoded as DTF and the tick writers'
    // TickStore.FileEncoding do it; not comparable with perfbench's
    // bytes_per_event
    val densityBpe =
      try {
        val dir = java.nio.file.Files.createTempDirectory("graft-dens")
        Tables.updates(spark, sfDir).write.mode("overwrite")
          .option("compression", "zstd").parquet(dir.toString)
        val bytes = {
          val it = java.nio.file.Files.walk(dir).iterator()
          var sum = 0L
          while (it.hasNext) {
            val p = it.next()
            if (p.toString.endsWith(".parquet"))
              sum += java.nio.file.Files.size(p)
          }
          sum
        }
        val rows = spark.read.parquet(dir.toString).count()
        bytes.toDouble / rows
      } catch { case _: Throwable => -1.0 }

    val calibEnd = calibrate()
    // min-of-sweeps: the robust per-query number on this high-variance box
    // (BENCH_r04's warm sweep carried two 10x host-noise outliers) — the
    // minimum of two independent runs bounds host contention from above
    val minQ = results.map { case (k, cold) =>
      val w = warm.find(_._1 == k).map(_._2).getOrElse(-1.0)
      k -> (if (cold < 0) w else if (w < 0) cold else math.min(cold, w))
    }
    val totalMin = minQ.map(_._2).filter(_ >= 0).sum
    // per-group totals (core = reference surface, ext = pipeline ops) so
    // future regressions localize to a group in cross-round diffs
    val minByName = minQ.toMap
    def famTotals(gs: Seq[(String, Seq[graft.queries.Q])],
        suffix: String) =
      gs.map { case (g, qs2) =>
        val t = qs2.flatMap(q => minByName.get(q.name)).filter(_ >= 0).sum
        "\"" + g + suffix + "\":" + f"$t%.3f"
      }.mkString(",")
    val famMap = famTotals(SparkEntry.registryFamilies, "")
    val groupTotals =
      famTotals(SparkEntry.registryGroups, "_min_sec") + "," +
        "\"families\":{" + famMap + "}"
    val famIsoField = famIso.map(j => s""","families_isolated":$j""").getOrElse("")
    val line =
      f"""{"metric":"total_query_seconds","value":$total%.3f,"unit":"sec","queries":$qs,"queries_warm":${render(warm)},"total_warm_sec":$totalWarm%.3f,"queries_min":${render(minQ)},"total_min_sec":$totalMin%.3f,$groupTotals,"storage_bytes_per_event":$densityBpe%.2f,"calib_start_sec":$calibStart%.3f,"calib_end_sec":$calibEnd%.3f,"catalog_cold_first_sweep":$catalogPinned$famIsoField,"sf":"$sfDir"}"""
    println(line)
    // The driver's stdout capture keeps only a ~2000-char TAIL; the full
    // line above is ~8 KB with 243 per-query entries, so its FRONT (the
    // {"metric": opener) is truncated away and the driver has parsed
    // null every round since r04 (VERDICT r16 #2). Print a compact
    // driver-parseable line LAST — same contract fields, with per-FAMILY
    // min-of-sweeps totals under `families_min_sec` (the full line's
    // `queries` holds per-QUERY entries; that map is in the line above
    // and in bench.json) — small enough to survive any tail capture.
    val compact =
      f"""{"metric":"total_query_seconds","value":$total%.3f,"unit":"sec","families_min_sec":{$famMap},"n_queries":${results.size},"total_min_sec":$totalMin%.3f,"total_warm_sec":$totalWarm%.3f,"calib_start_sec":$calibStart%.3f,"calib_end_sec":$calibEnd%.3f,"catalog_cold_first_sweep":$catalogPinned,"sf":"$sfDir"}"""
    println(compact)
    // ALSO write the line to a file: the driver's stdout tail-capture
    // truncated BENCH_r04 ("parsed": null) — a file can't be truncated by
    // whatever buffers sit between println and the capture. Filtered
    // (SPARK_GRAFT_BENCH_ONLY) A/B runs write their own file: a subset
    // line must never clobber the round's full-sweep bench.json (which
    // is exactly what the r9 isolated attribution run did to the r8 one).
    val outFile = if (only.isDefined) "bench_isolated.json" else "bench.json"
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outFile), line + "\n")
    catch { case _: Throwable => () }
    spark.stop()
  }
}
