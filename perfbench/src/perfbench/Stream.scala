package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.model.{Candle, Update}
import graft.operators.{FoldBars, Microstructure}
import graft.streaming.Streaming

/** The streaming part of `analytics`: ticks sorted by (ts, seq), fed in
  * order as fixed-size micro-batches into three streaming twins at once,
  * one of each state shape the twins are built from: volume bars (a
  * reset-accumulator fold), tick-rule flow (a bucketed fold) and dedup
  * (keyed state). Every `DupEvery`-th row is sent twice in its batch, so
  * dedup has work. At the end, closing rows close every real bar and
  * bucket, and each twin's output must equal its batch operator on the
  * same rows. Late rows are not part of the feed. */
object Stream {
  val BatchRows = 1000
  val DupEvery = 50
  val VolumeInterval = 2500.0
  val Names: Seq[String] = Seq("volume_bars", "tick_rule_flow", "dedup")

  /** The feed's micro-batches. */
  def batches(rows: Seq[Update]): IndexedSeq[Seq[Update]] =
    rows.sortBy(u => (u.ts, u.seq)).grouped(BatchRows).map { b =>
      b ++ b.indices.filter(_ % DupEvery == 0).map(b(_))
    }.toIndexedSeq

  /** Per-query progress read from Structured Streaming's own reporting,
    * while `recording` is on. */
  final class Progress extends StreamingQueryListener {
    val addBatchMs = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
    val stateRows = scala.collection.mutable.Map.empty[String, Double]
    val stateBytes = scala.collection.mutable.Map.empty[String, Double]
    @volatile var recording = false
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized {
        val p = e.progress
        if (recording && p.numInputRows > 0) {
          Option(p.durationMs.get("addBatch")).foreach(d =>
            addBatchMs.getOrElseUpdate(p.name, ArrayBuffer.empty) += d.doubleValue)
          stateRows(p.name) = p.stateOperators.map(_.numRowsTotal).sum.toDouble
          stateBytes(p.name) = p.stateOperators.map(_.memoryUsedBytes).sum.toDouble
        }
      }

    def metrics(m: scala.collection.mutable.Map[String, Double]): Unit =
      synchronized {
        Names.foreach { n =>
          m(s"stream.$n.add_batch_ms") =
            Stats.median(addBatchMs.getOrElse(n, ArrayBuffer.empty).toSeq)
          m(s"stream.$n.state_rows") = stateRows.getOrElse(n, 0.0)
          m(s"stream.$n.state_mb") = stateBytes.getOrElse(n, 0.0) / 1048576.0
        }
      }
  }

  /** The twins on one memory source, each writing to a memory sink named
    * after it. */
  final class Twins(spark: SparkSession) {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in: MemoryStream[Update] = MemoryStream[Update]
    private val ds = in.toDS()
    private def start(name: String, df: DataFrame): StreamingQuery =
      df.writeStream.outputMode("append").format("memory")
        .queryName(name).start()
    val queries: Seq[StreamingQuery] = Seq(
      start("volume_bars", Streaming.streamingVolumeBars(ds, VolumeInterval).toDF()),
      start("tick_rule_flow", Streaming.streamingTickRuleFlow(ds).toDF()),
      start("dedup", Streaming.streamingDedup(ds).toDF()))
    val fed = ArrayBuffer.empty[Update]

    /** Adds one micro-batch and waits until every twin processed it. */
    def feed(rows: Seq[Update]): Unit = Trace.span("streaming", "micro_batch") {
      fed ++= rows
      in.addData(rows)
      queries.foreach(_.processAllAvailable())
    }

    def output(name: String): DataFrame = spark.table(name)

    /** Feeds one batch of closing rows, one trade per book two hours past
      * the last fed row, which closes every real bar and bucket; stops the
      * twins; and checks each twin's output against its batch operator
      * over the same rows. */
    def closeAndCheck(ctx: Ctx): Unit = {
      import spark.implicits._
      val real = fed.toList
      val maxTs = real.map(_.ts).max
      val closers = real.groupBy(_.symbol).values.map(_.last).toSeq
        .sortBy(_.symbol).zipWithIndex.map { case (u, i) =>
          Update(u.symbol, maxTs + 7200000L, 1000000000L + i,
            is_trade = true, is_bid = true, u.price, 1.0)
        }
      feed(closers)
      queries.foreach(_.stop())
      val all = real ++ closers
      val allDf = all.toDF()

      // volume bars: every bar but each book's still-open last one
      val gotVol = output("volume_bars").as[Candle].collect()
      val wantVol = FoldBars.volumeBars(allDf, VolumeInterval).as[Candle]
        .collect().groupBy(_.symbol).values
        .flatMap(g => g.sortBy(c => (c.start, c.end)).dropRight(1)).toSet
      ctx.check(gotVol.toSet == wantVol && gotVol.length == wantVol.size,
        s"stream volume_bars: ${gotVol.length} bars, batch ${wantVol.size}")

      // tick-rule flow: every bucket but each book's still-open last one
      val wantFlow = Microstructure.tickRuleFlow(allDf)
        .as[Streaming.TickFlowBucket].collect().groupBy(_.symbol).values
        .flatMap(g => g.sortBy(_.start).dropRight(1)).toSet
      val gotFlow = output("tick_rule_flow").as[Streaming.TickFlowBucket]
        .collect().toSet
      ctx.check(gotFlow == wantFlow, s"stream tick_rule_flow: " +
        s"${gotFlow.size} buckets, batch ${wantFlow.size}")

      // dedup: each distinct (symbol, ts, seq) exactly once
      val gotDedup = output("dedup").as[Update].collect()
      val wantDedup = all.map(u => (u.symbol, u.ts, u.seq)).toSet
      ctx.check(gotDedup.length == wantDedup.size &&
        gotDedup.map(u => (u.symbol, u.ts, u.seq)).toSet == wantDedup,
        s"stream dedup: ${gotDedup.length} rows, want ${wantDedup.size}")
    }
  }
}
