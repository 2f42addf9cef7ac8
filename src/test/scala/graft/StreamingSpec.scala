package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.model.Update
import graft.streaming.Streaming

class StreamingSpec extends SparkSpec {

  test("line ingest -> stateful book top over micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val tops = Streaming.streamingBookTop(Streaming.parseLines(in.toDS()))
    val q = tops.writeStream.outputMode("append")
      .format("memory").queryName("tops").start()

    in.addData(
      ("b1", "1505177459.658, 1, f, t, 10.00, 5.0;"),  // bid level
      ("b1", "1505177459.659, 2, f, f, 11.00, 3.0;"))  // ask level
    q.processAllAvailable()
    val batch1 = spark.table("tops").as[Streaming.BookTop].collect()
    assert(batch1.length === 1)
    assert(batch1.head.best_bid === 10.0)
    assert(batch1.head.best_ask === 11.0)
    assert(batch1.head.mid === 10.5)

    // second batch mutates state: delete the ask, add a better bid
    in.addData(
      ("b1", "1505177460.000, 3, f, f, 11.00, 0.0;"),
      ("b1", "1505177460.001, 4, f, f, 12.00, 1.0;"),
      ("b1", "1505177460.002, 5, f, t, 10.50, 2.0;"))
    q.processAllAvailable()
    q.stop()
    val all = spark.table("tops").as[Streaming.BookTop].collect()
    assert(all.length === 2)
    val last = all.last
    assert(last.best_bid === 10.5)
    assert(last.best_ask === 12.0)
  }

  test("streaming time bars over a memory stream of updates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Update]
    val bars = Streaming.streamingTimeBars(in.toDF())
    val q = bars.writeStream.outputMode("append")
      .format("memory").queryName("sbars").start()
    val t0 = 1700000000000L
    in.addData(
      Update("s", t0, 1, true, true, 10.0, 1.0),
      Update("s", t0 + 1000, 2, true, true, 12.0, 2.0),
      // next minute + far-future row to advance the watermark past minute 0
      Update("s", t0 + 60000, 3, true, true, 11.0, 1.0),
      Update("s", t0 + 30 * 60000, 4, true, true, 11.0, 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sbars")
      .orderBy("start").collect()
    assert(rows.length >= 1)
    val first = rows.head
    assert(first.getAs[Long]("start") === (t0 / 60000) * 60000)
    assert(first.getAs[Double]("open") === 10.0)
    assert(first.getAs[Double]("close") === 12.0)
    assert(first.getAs[Double]("volume") === 3.0)
  }

  test("streaming vwap and imbalance replay the batch microstructure " +
      "ops bit-exactly across micro-batches") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ups = Tables.updatesDs(spark, sf("sf0.001")).collect()
    val maxTs = ups.map(_.ts).max
    // far-future sentinels close every real window past the watermark.
    // One per ROW KIND: predicate pushdown sinks each query's
    // trade/level filter below the watermark node, so a query's
    // watermark only advances on rows that survive ITS filter — a
    // trade-only sentinel would never flush the quote windows
    val sentinel = Update("zzz", maxTs + 3600L * 1000, 0L,
      is_trade = true, is_bid = true, 1.0, 1.0)
    val sentinelLvl = Update("zzz", maxTs + 3600L * 1000, 1L,
      is_trade = false, is_bid = true, 1.0, 1.0)
    val all = ups ++ Seq(sentinel, sentinelLvl)
    val batchDf = updatesDf(all.toSeq)
    def keyOf(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1))
    val wantVwap = graft.operators.Microstructure.vwapBars(batchDf)
      .collect().map(r => keyOf(r) -> r.toSeq.drop(2)).toMap
    val wantImb = graft.operators.Microstructure.tradeImbalance(batchDf)
      .collect().map(r => keyOf(r) -> r.toSeq.drop(2)).toMap
    val wantSpr = graft.operators.Microstructure.bucketSpread(batchDf)
      .collect().map(r => keyOf(r) -> r.toSeq.drop(2)).toMap
    val in = MemoryStream[Update]
    val qv = Streaming.streamingVwapBars(in.toDF()).writeStream
      .outputMode("append").format("memory").queryName("svwap").start()
    val qi = Streaming.streamingTradeImbalance(in.toDF()).writeStream
      .outputMode("append").format("memory").queryName("simb").start()
    val qs = Streaming.streamingBucketSpread(in.toDF()).writeStream
      .outputMode("append").format("memory").queryName("sspr").start()
    // two micro-batches, then the sentinel to advance the watermark
    def drain(): Unit = {
      qv.processAllAvailable(); qi.processAllAvailable()
      qs.processAllAvailable()
    }
    // replay in event order (the ingest reality) — parquet row order is
    // not time order, and an unsorted split would make batch-2 rows
    // late beyond the watermark
    val ordered = ups.sortBy(u0 => (u0.ts, u0.seq))
    val (b1, b2) = ordered.splitAt(ordered.length / 2)
    in.addData(b1.toSeq: _*); drain()
    in.addData(b2.toSeq: _*); drain()
    in.addData(sentinel, sentinelLvl); drain()
    qv.stop(); qi.stop(); qs.stop()
    val gotVwap = spark.table("svwap").collect()
      .map(r => keyOf(r) -> r.toSeq.drop(2)).toMap
    val gotImb = spark.table("simb").collect()
      .map(r => keyOf(r) -> r.toSeq.drop(2)).toMap
    val gotSpr = spark.table("sspr").collect()
      .map(r => keyOf(r) -> r.toSeq.drop(2)).toMap
    // every closed (non-sentinel) batch bucket streamed bit-exactly
    val closedV = wantVwap.keySet.filterNot(_._1 == "zzz")
    assert(closedV.nonEmpty)
    closedV.foreach { k =>
      assert(gotVwap.get(k).contains(wantVwap(k)), s"vwap drift at $k")
    }
    wantImb.keySet.filterNot(_._1 == "zzz").foreach { k =>
      assert(gotImb.get(k).contains(wantImb(k)), s"imbalance drift at $k")
    }
    val closedS = wantSpr.keySet.filterNot(_._1 == "zzz")
    assert(closedS.nonEmpty)
    closedS.foreach { k =>
      assert(gotSpr.get(k).contains(wantSpr(k)), s"spread drift at $k")
    }
  }

  test("streaming realized vol: emitted buckets replay the batch op " +
      "bit-exactly; final open bucket per symbol stays pending") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ups = Tables.updatesDs(spark, sf("sf0.001")).collect()
      .sortBy(u0 => (u0.ts, u0.seq))
    val batch = graft.operators.Microstructure
      .realizedVol(updatesDf(ups.toSeq)).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // emit-on-advance: everything except each symbol's last bucket
    val lastPerSym = batch.keys.groupBy(_._1).view
      .mapValues(_.map(_._2).max).toMap
    val wantKeys = batch.keySet
      .filterNot { case (s0, b) => lastPerSym(s0) == b }
    val in = MemoryStream[Update]
    val q = Streaming.streamingRealizedVol(in.toDS()).writeStream
      .outputMode("append").format("memory").queryName("srv").start()
    val (b1, b2) = ups.splitAt(ups.length / 2)
    in.addData(b1.toSeq: _*); q.processAllAvailable()
    in.addData(b2.toSeq: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("srv").as[Streaming.RvBucket].collect()
      .map(r => (r.symbol, r.start) ->
        ((r.n_returns, r.sum_sq_q, r.rv))).toMap
    assert(wantKeys.nonEmpty)
    assert(got.keySet === wantKeys,
      s"missing ${(wantKeys -- got.keySet).take(3)}, " +
        s"extra ${(got.keySet -- wantKeys).take(3)}")
    wantKeys.foreach { k =>
      assert(got(k) === batch(k), s"rv drift at $k")
    }
  }

  test("streaming order-trade ratio and twap quote replay the batch " +
      "microstructure ops bit-exactly (VERDICT r10 #3)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ups = Tables.updatesDs(spark, sf("sf0.001")).collect()
      .sortBy(u0 => (u0.ts, u0.seq))
    val maxTs = ups.map(_.ts).max
    // unfiltered twin: one sentinel of any kind advances its watermark
    val sentinel = graft.model.Update("zzz", maxTs + 3600L * 1000, 0L,
      is_trade = true, is_bid = true, 1.0, 1.0)
    val wantOtr = graft.operators.Microstructure
      .orderTradeRatio(updatesDf(ups.toSeq :+ sentinel)).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
    val wantTwap = graft.operators.Microstructure
      .twapQuote(updatesDf(ups.toSeq)).collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getLong(2)) ->
        ((r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) None else Some(r.getDouble(5))))).toMap
    val in = MemoryStream[graft.model.Update]
    val qo = Streaming.streamingOrderTradeRatio(in.toDF()).writeStream
      .outputMode("append").format("memory").queryName("sotr").start()
    val qt = Streaming.streamingTwapQuote(in.toDS()).writeStream
      .outputMode("append").format("memory").queryName("stwap").start()
    def drain(): Unit = {
      qo.processAllAvailable(); qt.processAllAvailable()
    }
    val (b1, b2) = ups.splitAt(ups.length / 2)
    in.addData(b1.toSeq: _*); drain()
    in.addData(b2.toSeq: _*); drain()
    in.addData(sentinel); drain()
    qo.stop(); qt.stop()
    // order-trade ratio: every closed (non-sentinel) bucket bit-exact
    val gotOtr = spark.table("sotr").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
    val closedO = wantOtr.keySet.filterNot(_._1 == "zzz")
    assert(closedO.nonEmpty)
    closedO.foreach { k =>
      assert(gotOtr.get(k).contains(wantOtr(k)), s"otr drift at $k")
    }
    // twap: emit-on-advance — everything except each (symbol, side)
    // key's final open bucket, bit-exact
    val lastPerKey = wantTwap.keys.groupBy(k => (k._1, k._2)).view
      .mapValues(_.map(_._3).max).toMap
    val wantKeys = wantTwap.keySet
      .filterNot(k => lastPerKey((k._1, k._2)) == k._3)
    val got = spark.table("stwap").as[Streaming.TwapBucket].collect()
      .map(r => (r.symbol, r.is_bid, r.start) ->
        ((r.n_events, r.dur_ms, r.twap))).toMap
    assert(wantKeys.nonEmpty)
    assert(got.keySet === wantKeys,
      s"missing ${(wantKeys -- got.keySet).take(3)}, " +
        s"extra ${(got.keySet -- wantKeys).take(3)}")
    wantKeys.foreach { k =>
      assert(got(k) === wantTwap(k), s"twap drift at $k")
    }
  }

  test("streaming tick-rule flow and effective spread replay the batch " +
      "ops bit-exactly; final open bucket per symbol stays pending") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ups = Tables.updatesDs(spark, sf("sf0.001")).collect()
      .sortBy(u0 => (u0.ts, u0.seq))
    def optD(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val wantFlow = graft.operators.Microstructure
      .tickRuleFlow(updatesDf(ups.toSeq)).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4),
          optD(r, 5)))).toMap
    val wantEff = graft.operators.Microstructure
      .effectiveSpread(updatesDf(ups.toSeq)).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4),
          optD(r, 5)))).toMap
    def openKeys[V](m: Map[(String, Long), V]): Set[(String, Long)] = {
      val lastPerSym = m.keys.groupBy(_._1).view
        .mapValues(_.map(_._2).max).toMap
      m.keySet.filterNot { case (s0, b) => lastPerSym(s0) == b }
    }
    val in = MemoryStream[Update]
    val qf = Streaming.streamingTickRuleFlow(in.toDS()).writeStream
      .outputMode("append").format("memory").queryName("sflow").start()
    val qe = Streaming.streamingEffectiveSpread(in.toDS()).writeStream
      .outputMode("append").format("memory").queryName("seff").start()
    val (b1, b2) = ups.splitAt(ups.length / 2)
    in.addData(b1.toSeq: _*)
    qf.processAllAvailable(); qe.processAllAvailable()
    in.addData(b2.toSeq: _*)
    qf.processAllAvailable(); qe.processAllAvailable()
    qf.stop(); qe.stop()
    val gotFlow = spark.table("sflow").as[Streaming.TickFlowBucket]
      .collect().map(r => (r.symbol, r.start) ->
        ((r.n_trades, r.signed_vol, r.class_vol, r.flow_ratio))).toMap
    val wantF = openKeys(wantFlow)
    assert(wantF.nonEmpty)
    assert(gotFlow.keySet === wantF,
      s"missing ${(wantF -- gotFlow.keySet).take(3)}, " +
        s"extra ${(gotFlow.keySet -- wantF).take(3)}")
    wantF.foreach { k =>
      assert(gotFlow(k) === wantFlow(k), s"tick-rule drift at $k")
    }
    val gotEff = spark.table("seff").as[Streaming.EffSprBucket]
      .collect().map(r => (r.symbol, r.start) ->
        ((r.n_trades, r.n_classified, r.eff_sum,
          r.avg_eff_spread))).toMap
    val wantE = openKeys(wantEff)
    assert(wantE.nonEmpty)
    assert(gotEff.keySet === wantE,
      s"missing ${(wantE -- gotEff.keySet).take(3)}, " +
        s"extra ${(gotEff.keySet -- wantE).take(3)}")
    wantE.foreach { k =>
      assert(gotEff(k) === wantEff(k), s"effective-spread drift at $k")
    }
  }

  test("streaming roll spread replays the batch estimator bit-exactly; " +
      "final open bucket per symbol stays pending") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ups = Tables.updatesDs(spark, sf("sf0.001")).collect()
      .sortBy(u0 => (u0.ts, u0.seq))
    val batch = graft.operators.Microstructure
      .rollSpread(updatesDf(ups.toSeq)).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6),
          if (r.isNullAt(7)) None else Some(r.getDouble(7))))).toMap
    val lastPerSym = batch.keys.groupBy(_._1).view
      .mapValues(_.map(_._2).max).toMap
    val wantKeys = batch.keySet
      .filterNot { case (s0, b) => lastPerSym(s0) == b }
    val in = MemoryStream[Update]
    val q = Streaming.streamingRollSpread(in.toDS()).writeStream
      .outputMode("append").format("memory").queryName("srsp").start()
    val (b1, b2) = ups.splitAt(ups.length / 2)
    in.addData(b1.toSeq: _*); q.processAllAvailable()
    in.addData(b2.toSeq: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("srsp").as[Streaming.RollSprBucket].collect()
      .map(r => (r.symbol, r.start) ->
        ((r.n_pairs, r.sum_x, r.sum_y, r.sum_xy, r.cov,
          r.roll_spread))).toMap
    assert(wantKeys.nonEmpty)
    assert(got.keySet === wantKeys,
      s"missing ${(wantKeys -- got.keySet).take(3)}, " +
        s"extra ${(got.keySet -- wantKeys).take(3)}")
    wantKeys.foreach { k =>
      assert(got(k) === batch(k), s"roll-spread drift at $k")
    }
  }

  test("streaming kyle lambda: after sentinel closers the serving row " +
      "per symbol IS the batch regression bit-exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ups = Tables.updatesDs(spark, sf("sf0.001")).collect()
      .sortBy(u0 => (u0.ts, u0.seq))
    val want = graft.operators.Microstructure
      .kyleLambda(updatesDf(ups.toSeq)).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5),
          if (r.isNullAt(6)) None else Some(r.getDouble(6))))).toMap
    // one far-future closer per symbol: closes every real bucket (its
    // own bucket stays open and holds no pair), so the final emission
    // equals the batch regression over the original history
    val maxTs = ups.map(_.ts).max
    val closers = ups.map(_.symbol).distinct.zipWithIndex.map {
      case (s0, i) => graft.model.Update(s0, maxTs + 7200L * 1000,
        1000L + i, is_trade = true, is_bid = true, 1.0, 1.0)
    }
    val in = MemoryStream[Update]
    val q = Streaming.streamingKyleLambda(in.toDS()).writeStream
      .outputMode("append").format("memory").queryName("skyle").start()
    val (b1, b2) = ups.splitAt(ups.length / 2)
    in.addData(b1.toSeq: _*); q.processAllAvailable()
    in.addData(b2.toSeq: _*); q.processAllAvailable()
    in.addData(closers.toSeq: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("skyle").as[Streaming.KyleLamRow].collect()
      .zipWithIndex.groupBy(_._1.symbol).view
      .mapValues(_.maxBy(_._2)._1).toMap
    assert(want.nonEmpty)
    assert(want.keySet.subsetOf(got.keySet))
    want.foreach { case (s0, w) =>
      val g = got(s0)
      assert((g.n_pairs, g.sum_x, g.sum_y, g.sum_xy, g.sum_xx,
        g.kyle_lambda) === w, s"kyle-lambda drift at $s0")
    }
  }

  test("streaming flow autocorrelation: after sentinel closers the " +
      "serving row per symbol IS the batch correlation bit-exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ups = Tables.updatesDs(spark, sf("sf0.001")).collect()
      .sortBy(u0 => (u0.ts, u0.seq))
    val want = graft.operators.Microstructure
      .flowAutocorr(updatesDf(ups.toSeq)).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6),
          if (r.isNullAt(7)) None else Some(r.getDouble(7))))).toMap
    val maxTs = ups.map(_.ts).max
    val closers = ups.map(_.symbol).distinct.zipWithIndex.map {
      case (s0, i) => graft.model.Update(s0, maxTs + 7200L * 1000,
        2000L + i, is_trade = true, is_bid = true, 1.0, 1.0)
    }
    val in = MemoryStream[Update]
    val q = Streaming.streamingFlowAutocorr(in.toDS()).writeStream
      .outputMode("append").format("memory").queryName("sfac").start()
    val (b1, b2) = ups.splitAt(ups.length / 2)
    in.addData(b1.toSeq: _*); q.processAllAvailable()
    in.addData(b2.toSeq: _*); q.processAllAvailable()
    in.addData(closers.toSeq: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("sfac").as[Streaming.FlowAcRow].collect()
      .zipWithIndex.groupBy(_._1.symbol).view
      .mapValues(_.maxBy(_._2)._1).toMap
    assert(want.nonEmpty)
    assert(want.keySet.subsetOf(got.keySet))
    want.foreach { case (s0, w) =>
      val g = got(s0)
      assert((g.n_pairs, g.sum_x, g.sum_y, g.sum_xy, g.sum_xx, g.sum_yy,
        g.flow_autocorr) === w, s"flow-autocorr drift at $s0")
    }
  }

  test("streaming variance ratio: after sentinel closers the serving " +
      "row per symbol IS the batch estimator bit-exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ups = Tables.updatesDs(spark, sf("sf0.001")).collect()
      .sortBy(u0 => (u0.ts, u0.seq))
    def optL(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    def optD(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val want = graft.operators.Microstructure
      .varianceRatio(updatesDf(ups.toSeq)).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), optL(r, 2), optL(r, 3), r.getLong(4),
          optL(r, 5), optL(r, 6), optD(r, 7), optD(r, 8), optD(r, 9))))
      .toMap
    // a far-future closer per symbol closes the final REAL bucket (and
    // its return); the closer's own bucket stays open and holds none
    val maxTs = ups.map(_.ts).max
    val closers = ups.map(_.symbol).distinct.zipWithIndex.map {
      case (s0, i) => graft.model.Update(s0, maxTs + 7200L * 1000,
        3000L + i, is_trade = true, is_bid = true, 1.0, 1.0)
    }
    val in = MemoryStream[Update]
    val q = Streaming.streamingVarianceRatio(in.toDS()).writeStream
      .outputMode("append").format("memory").queryName("svr").start()
    val (b1, b2) = ups.splitAt(ups.length / 2)
    in.addData(b1.toSeq: _*); q.processAllAvailable()
    in.addData(b2.toSeq: _*); q.processAllAvailable()
    in.addData(closers.toSeq: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("svr").as[Streaming.VrRow].collect()
      .zipWithIndex.groupBy(_._1.symbol).view
      .mapValues(_.maxBy(_._2)._1).toMap
    assert(want.nonEmpty)
    assert(want.keySet.subsetOf(got.keySet))
    want.foreach { case (s0, w) =>
      val g = got(s0)
      assert((g.n1, g.sum_q1, g.sum_sq1, g.nk, g.sum_qk, g.sum_sqk,
        g.var1, g.vark, g.vr) === w, s"variance-ratio drift at $s0")
    }
  }

  test("streaming return moments: after sentinel closers the serving " +
      "row per symbol IS the batch estimator bit-exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ups = Tables.updatesDs(spark, sf("sf0.001")).collect()
      .sortBy(u0 => (u0.ts, u0.seq))
    def optD(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val want = graft.operators.Microstructure
      .returnMoments(updatesDf(ups.toSeq)).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), optD(r, 2), optD(r, 3), optD(r, 4), optD(r, 5),
          optD(r, 6), optD(r, 7), optD(r, 8), optD(r, 9)))).toMap
    val maxTs = ups.map(_.ts).max
    val closers = ups.map(_.symbol).distinct.zipWithIndex.map {
      case (s0, i) => graft.model.Update(s0, maxTs + 7200L * 1000,
        7000L + i, is_trade = true, is_bid = true, 1.0, 1.0)
    }
    val in = MemoryStream[Update]
    val q = Streaming.streamingReturnMoments(in.toDS()).writeStream
      .outputMode("append").format("memory").queryName("smom").start()
    val (b1, b2) = ups.splitAt(ups.length / 2)
    in.addData(b1.toSeq: _*); q.processAllAvailable()
    in.addData(b2.toSeq: _*); q.processAllAvailable()
    in.addData(closers.toSeq: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("smom").as[Streaming.MomRow].collect()
      .zipWithIndex.groupBy(_._1.symbol).view
      .mapValues(_.maxBy(_._2)._1).toMap
    assert(want.nonEmpty)
    want.foreach { case (s0, w) =>
      val g = got(s0)
      assert((g.n, g.sum_q, g.sum_q2, g.sum_q3, g.sum_q4, g.mean,
        g.variance, g.skewness, g.kurtosis) === w,
        s"return-moments drift at $s0")
    }
  }

  test("streaming parkinson: after sentinel closers the serving row " +
      "per symbol IS the batch estimator bit-exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ups = Tables.updatesDs(spark, sf("sf0.001")).collect()
      .sortBy(u0 => (u0.ts, u0.seq))
    def optD(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val want = graft.operators.RangeSpread
      .parkinson(updatesDf(ups.toSeq)).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), Some(r.getLong(2)), optD(r, 3), optD(r, 4))))
      .toMap
    val maxTs = ups.map(_.ts).max
    val closers = ups.filter(_.is_trade).map(_.symbol).distinct
      .sorted.zipWithIndex.map {
        case (s0, i) => graft.model.Update(s0, maxTs + 7200L * 1000,
          7300L + i, is_trade = true, is_bid = true, 1.0, 1.0)
      }
    val in = MemoryStream[Update]
    val q = Streaming.streamingParkinson(in.toDS()).writeStream
      .outputMode("append").format("memory").queryName("spark13")
      .start()
    val (b1, b2) = ups.splitAt(ups.length / 2)
    in.addData(b1.toSeq: _*); q.processAllAvailable()
    in.addData(b2.toSeq: _*); q.processAllAvailable()
    in.addData(closers.toSeq: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("spark13").as[Streaming.ParkRow].collect()
      .zipWithIndex.groupBy(_._1.symbol).view
      .mapValues(_.maxBy(_._2)._1).toMap
    assert(want.nonEmpty)
    want.foreach { case (s0, w) =>
      val g = got(s0)
      assert((g.n_buckets, g.sum_rq2, g.park_var, g.park_vol) === w,
        s"parkinson drift at $s0")
    }
  }

  test("streaming range estimators drop a closed-minute trade from a " +
      "later batch") {
    import org.apache.spark.sql.{DataFrame, Dataset}
    import graft.operators.RangeSpread
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000040000L // minute-aligned
    def tr(minute: Int, sec: Int, seq: Long, price: Double) =
      Update("p", t0 + minute * 60000L + sec * 1000L, seq, is_trade = true,
        is_bid = true, price, 1.0)
    val b1 = Seq(tr(0, 0, 0, 100.0), tr(0, 10, 1, 102.0),
      tr(1, 0, 2, 101.0), tr(1, 10, 3, 99.5))
    // minute 0 closed when minute 1 opened
    val late = tr(0, 20, 4, 97.0)
    val b2 = Seq(late, tr(2, 0, 5, 100.0), tr(2, 30, 6, 103.25))
    val closer = tr(120, 0, 7, 100.0)
    val kept = updatesDf(b1 ++ b2.tail)
    // (twin, batch operator over the rows without the late trade, its
    // term count over the three closed minutes)
    val twins = Seq[(String, Dataset[Update] => DataFrame, DataFrame, Long)](
      ("parkinson", Streaming.streamingParkinson(_).toDF(),
        RangeSpread.parkinson(kept), 3L),
      ("rogers_satchell", Streaming.streamingRogersSatchell(_).toDF(),
        RangeSpread.rogersSatchell(kept), 3L),
      // the first minute only supplies the previous close
      ("yang_zhang", Streaming.streamingYangZhang(_).toDF(),
        RangeSpread.yangZhang(kept), 2L))
    val drift = twins.flatMap { case (name, twin, batch, n) =>
      val want = batch.collect().head.toSeq
      assert(want(1) === n, name)
      val in = MemoryStream[Update]
      val q = twin(in.toDS()).writeStream.outputMode("append")
        .format("memory").queryName(s"late_$name").start()
      try Seq(b1, b2, Seq(closer)).foreach { b =>
        in.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      val got = spark.table(s"late_$name").collect().last.toSeq
      if (got == want) None else Some(s"$name: got $got, want $want")
    }
    assert(drift.isEmpty)

    // Every per-bucket twin, on one feed of trades and level sets on
    // both sides. Batch 2 starts with a trade and a bid level from
    // minute 1, which closed in batch 1, so each twin's output must equal
    // its output on the same feed without those two rows: every emitted
    // row of a per-close twin, the last serving row of the others.
    def up(m: Int, sec: Int, seq: Long, trade: Boolean, bid: Boolean,
        price: Double, size: Double) =
      Update("p", t0 + m * 60000L + sec * 1000L, seq, trade, bid, price,
        size)
    def minute(m: Int): Seq[Update] = {
      val (s, px) = (100L * m, 100.0 + m % 3 - 0.5 * (m % 2))
      Seq(up(m, 0, s, trade = false, bid = true, px - 1.0, 5.0 + m),
        up(m, 1, s + 1, trade = false, bid = false, px + 1.0, 4.0 + m),
        up(m, 10, s + 2, trade = true, bid = true, px + 0.25, 1.0 + m),
        up(m, 20, s + 3, trade = true, bid = false, px - 0.5, 2.0),
        up(m, 30, s + 4, trade = true, bid = true, px + 0.75, 1.5),
        up(m, 40, s + 5, trade = false, bid = true, px - 0.5, 3.0),
        up(m, 45, s + 6, trade = false, bid = false, px + 1.5, 2.5))
    }
    val lateRows = Seq(up(1, 50, 150, trade = true, bid = true, 90.0, 3.0),
      up(1, 55, 151, trade = false, bid = true, 98.0, 4.0))
    val feed = Seq((0 to 3).flatMap(minute),
      lateRows ++ (4 to 6).flatMap(minute), minute(120))
    type Twin = Dataset[Update] => DataFrame
    val perClose = Seq[(String, Twin)](
      ("trade_intensity", Streaming.streamingTradeIntensity(_).toDF()),
      ("ema_close", Streaming.streamingEmaClose(_).toDF()),
      ("realized_vol", Streaming.streamingRealizedVol(_).toDF()),
      ("twap_quote", Streaming.streamingTwapQuote(_).toDF()),
      ("tick_rule_flow", Streaming.streamingTickRuleFlow(_).toDF()),
      ("effective_spread", Streaming.streamingEffectiveSpread(_).toDF()),
      ("roll_spread", Streaming.streamingRollSpread(_).toDF()),
      ("ofi", Streaming.streamingOfi(_).toDF()),
      ("depth_profile", Streaming.streamingDepthProfile(_).toDF()))
    val serving = Seq[(String, Twin)](
      ("kyle_lambda", Streaming.streamingKyleLambda(_).toDF()),
      ("flow_autocorr", Streaming.streamingFlowAutocorr(_).toDF()),
      ("variance_ratio", Streaming.streamingVarianceRatio(_).toDF()),
      ("return_moments", Streaming.streamingReturnMoments(_).toDF()),
      ("parkinson", Streaming.streamingParkinson(_).toDF()),
      ("rogers_satchell", Streaming.streamingRogersSatchell(_).toDF()),
      ("yang_zhang", Streaming.streamingYangZhang(_).toDF()),
      ("tsrv", Streaming.streamingTsrv(_).toDF()),
      ("realized_kernel", Streaming.streamingRealizedKernel(_).toDF()),
      ("max_drawdown", Streaming.streamingMaxDrawdown(_).toDF()))
    def run(name: String, twin: Twin, batches: Seq[Seq[Update]])
        : Seq[org.apache.spark.sql.Row] = {
      val in = MemoryStream[Update]
      val q = twin(in.toDS()).writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try batches.foreach { b =>
        in.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      spark.table(name).collect().toSeq
    }
    val tableDrift = (perClose.map(_ -> true) ++ serving.map(_ -> false))
      .flatMap { case ((name, twin), everyRow) =>
        def view(rows: Seq[org.apache.spark.sql.Row]) =
          if (everyRow) rows.groupBy(identity).view.mapValues(_.size).toMap
          else Map(rows.last -> 1)
        val want = run(s"clean_$name", twin,
          feed.map(_.filterNot(lateRows.contains)))
        assert(want.nonEmpty, name)
        val got = run(s"laterow_$name", twin, feed)
        if (view(got) == view(want)) None
        else Some(s"$name: got $got, want $want")
      }
    assert(tableDrift.isEmpty, tableDrift.mkString("\n"))

    // The other tick folds, every emitted or served row as a multiset.
    // Epps folds all symbols under one key, so its feed carries a second
    // symbol beside the first (without the late rows).
    def bag(rows: Seq[org.apache.spark.sql.Row]) =
      rows.groupBy(identity).view.mapValues(_.size).toMap
    def withQ(b: Seq[Update]) = b ++ b.filterNot(lateRows.contains)
      .map(u => u.copy(symbol = "q", price = u.price + u.seq % 3))
    val tick = Seq[(String, Twin, Seq[Seq[Update]])](
      ("volume_bars", Streaming.streamingVolumeBars(_, 5.0).toDF(), feed),
      ("tick_imbalance_bars",
        Streaming.streamingTickImbalanceBars(_, 2L).toDF(), feed),
      ("vpin", Streaming.streamingVpin(_, 5.0, 3).toDF(), feed),
      ("rolling_volume", Streaming.streamingRollingVolume(_).toDF(), feed),
      ("asof", Streaming.streamingAsof(_).toDF(), feed),
      ("book_top", Streaming.streamingBookTop(_).toDF(), feed),
      ("book_features", Streaming.streamingBookFeatures(_).toDF(), feed),
      ("liquidity_band",
        Streaming.streamingLiquidityBand(_, bps = 500L).toDF(), feed),
      ("epps", Streaming.streamingEppsEffect(_).toDF(), feed.map(withQ)))
    val tickDrift = tick.flatMap { case (name, twin, f) =>
      val want = run(s"clean_$name", twin,
        f.map(_.filterNot(lateRows.contains)))
      assert(want.nonEmpty, name)
      val got = run(s"laterow_$name", twin, f)
      if (bag(got) == bag(want)) None
      else Some(s"$name: got $got, want $want")
    }
    assert(tickDrift.isEmpty, tickDrift.mkString("\n"))

    // A trade equal to the mark, sent again at the head of the next
    // batch: volume bars fold it, as they fold a row repeated within a
    // batch, and dedup drops it.
    val rep = up(3, 50, 307, trade = true, bid = true, 100.0, 2.0)
    val (m03, m46) = ((0 to 3).flatMap(minute) :+ rep, (4 to 6).flatMap(minute))
    val vbars: Twin = Streaming.streamingVolumeBars(_, 5.0).toDF()
    val vbGot = bag(run("atmark_vbars", vbars, Seq(m03, rep +: m46)))
    assert(vbGot == bag(run("inbatch_vbars", vbars, Seq(m03 :+ rep, m46))))
    assert(vbGot != bag(run("once_vbars", vbars, Seq(m03, m46))))
    val dedup: Twin = Streaming.streamingDedup(_).toDF()
    assert(bag(run("atmark_dedup", dedup, Seq(m03, rep +: m46))) ==
      bag(run("once_dedup", dedup, Seq(m03, m46))))
  }

  test("streaming rogers-satchell: after sentinel closers the serving " +
      "row per symbol IS the batch estimator bit-exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ups = Tables.updatesDs(spark, sf("sf0.001")).collect()
      .sortBy(u0 => (u0.ts, u0.seq))
    def optD(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val want = graft.operators.RangeSpread
      .rogersSatchell(updatesDf(ups.toSeq)).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), Some(r.getLong(2)), optD(r, 3), optD(r, 4))))
      .toMap
    val maxTs = ups.map(_.ts).max
    val closers = ups.filter(_.is_trade).map(_.symbol).distinct
      .sorted.zipWithIndex.map {
        case (s0, i) => graft.model.Update(s0, maxTs + 7200L * 1000,
          7400L + i, is_trade = true, is_bid = true, 1.0, 1.0)
      }
    val in = MemoryStream[Update]
    val q = Streaming.streamingRogersSatchell(in.toDS()).writeStream
      .outputMode("append").format("memory").queryName("srs14")
      .start()
    // split INSIDE the stream so buckets straddle micro-batches —
    // the (ts, seq)-stamped open/close must survive the boundary
    // (the in-order ingest contract of the serving-twin family)
    val (b1, b2) = ups.splitAt(ups.length / 2)
    in.addData(b1.toSeq: _*); q.processAllAvailable()
    in.addData(b2.toSeq: _*); q.processAllAvailable()
    in.addData(closers.toSeq: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("srs14").as[Streaming.RsRow].collect()
      .zipWithIndex.groupBy(_._1.symbol).view
      .mapValues(_.maxBy(_._2)._1).toMap
    assert(want.nonEmpty)
    want.foreach { case (s0, w) =>
      val g = got(s0)
      assert((g.n_buckets, g.sum_term, g.rs_var, g.rs_vol) === w,
        s"rogers-satchell drift at $s0")
    }
  }

  test("streaming yang-zhang: after sentinel closers the serving row " +
      "per symbol IS the batch estimator bit-exactly (VERDICT r14 #5)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ups = Tables.updatesDs(spark, sf("sf0.001")).collect()
      .sortBy(u0 => (u0.ts, u0.seq))
    def optD(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val want = graft.operators.RangeSpread
      .yangZhang(updatesDf(ups.toSeq)).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), Some(r.getLong(2)), optD(r, 3),
          Some(r.getLong(4)), optD(r, 5), Some(r.getLong(6)),
          optD(r, 7), optD(r, 8))))
      .toMap
    val maxTs = ups.map(_.ts).max
    val closers = ups.filter(_.is_trade).map(_.symbol).distinct
      .sorted.zipWithIndex.map {
        case (s0, i) => graft.model.Update(s0, maxTs + 7200L * 1000,
          7500L + i, is_trade = true, is_bid = true, 1.0, 1.0)
      }
    val in = MemoryStream[Update]
    val q = Streaming.streamingYangZhang(in.toDS()).writeStream
      .outputMode("append").format("memory").queryName("syz15")
      .start()
    // buckets straddle micro-batches — the (ts, seq)-stamped
    // open/close and the carried previous close must survive the
    // boundary
    val (b1, b2) = ups.splitAt(ups.length / 2)
    in.addData(b1.toSeq: _*); q.processAllAvailable()
    in.addData(b2.toSeq: _*); q.processAllAvailable()
    in.addData(closers.toSeq: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("syz15").as[Streaming.YzRow].collect()
      .zipWithIndex.groupBy(_._1.symbol).view
      .mapValues(_.maxBy(_._2)._1).toMap
    assert(want.nonEmpty)
    want.foreach { case (s0, w) =>
      val g = got(s0)
      assert((g.n, g.sum_oq, g.sum_oq2, g.sum_cq, g.sum_cq2, g.sum_rs,
        g.yz_var, g.yz_vol) === w, s"yang-zhang drift at $s0")
    }
  }

  test("streaming tsrv: after sentinel closers the serving row per " +
      "symbol IS the batch estimator bit-exactly (VERDICT r14 #5)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ups = Tables.updatesDs(spark, sf("sf0.001")).collect()
      .sortBy(u0 => (u0.ts, u0.seq))
    def optD(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val want = graft.operators.ReturnDynamics
      .tsrv(updatesDf(ups.toSeq)).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), Some(r.getLong(2)), Some(r.getLong(3)),
          optD(r, 4), optD(r, 5), optD(r, 6))))
      .toMap
    val maxTs = ups.map(_.ts).max
    val closers = ups.filter(_.is_trade).map(_.symbol).distinct
      .sorted.zipWithIndex.map {
        case (s0, i) => graft.model.Update(s0, maxTs + 7200L * 1000,
          7600L + i, is_trade = true, is_bid = true, 1.0, 1.0)
      }
    val in = MemoryStream[Update]
    val q = Streaming.streamingTsrv(in.toDS()).writeStream
      .outputMode("append").format("memory").queryName("stsrv15")
      .start()
    // the K-deep close history must survive the micro-batch boundary
    val (b1, b2) = ups.splitAt(ups.length / 2)
    in.addData(b1.toSeq: _*); q.processAllAvailable()
    in.addData(b2.toSeq: _*); q.processAllAvailable()
    in.addData(closers.toSeq: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("stsrv15").as[Streaming.TsrvRow].collect()
      .zipWithIndex.groupBy(_._1.symbol).view
      .mapValues(_.maxBy(_._2)._1).toMap
    assert(want.nonEmpty)
    want.foreach { case (s0, w) =>
      val g = got(s0)
      assert((g.m, g.sum_q2_1, g.sum_q2_k, g.rv_full, g.tsrv,
        g.tsrv_pos) === w, s"tsrv drift at $s0")
    }
  }

  test("streaming realized kernel: after sentinel closers the serving " +
      "row per symbol IS the batch estimator bit-exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ups = Tables.updatesDs(spark, sf("sf0.001")).collect()
      .sortBy(u0 => (u0.ts, u0.seq))
    def optD(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val want = graft.operators.ReturnDynamics
      .realizedKernel(updatesDf(ups.toSeq)).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), Some(r.getLong(2)), Some(r.getLong(3)),
          Some(r.getLong(4)), Some(r.getLong(5)), Some(r.getLong(6)),
          optD(r, 7), optD(r, 8))))
      .toMap
    val maxTs = ups.map(_.ts).max
    val closers = ups.filter(_.is_trade).map(_.symbol).distinct
      .sorted.zipWithIndex.map {
        case (s0, i) => graft.model.Update(s0, maxTs + 7200L * 1000,
          7700L + i, is_trade = true, is_bid = true, 1.0, 1.0)
      }
    val in = MemoryStream[Update]
    val q = Streaming.streamingRealizedKernel(in.toDS()).writeStream
      .outputMode("append").format("memory").queryName("srk15")
      .start()
    // the H-deep return history must survive the micro-batch boundary
    val (b1, b2) = ups.splitAt(ups.length / 2)
    in.addData(b1.toSeq: _*); q.processAllAvailable()
    in.addData(b2.toSeq: _*); q.processAllAvailable()
    in.addData(closers.toSeq: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("srk15").as[Streaming.RkRow].collect()
      .zipWithIndex.groupBy(_._1.symbol).view
      .mapValues(_.maxBy(_._2)._1).toMap
    assert(want.nonEmpty)
    want.foreach { case (s0, w) =>
      val g = got(s0)
      assert((g.n_rets, g.gamma0, g.gamma1, g.gamma2, g.gamma3,
        g.gamma4, g.rk_var, g.rk_vol) === w,
        s"realized kernel drift at $s0")
    }
  }

  test("streaming max drawdown: after sentinel closers the serving row " +
      "per symbol IS the batch row bit-exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ups = Tables.updatesDs(spark, sf("sf0.001")).collect()
      .sortBy(u0 => (u0.ts, u0.seq))
    val want = graft.operators.Microstructure
      .maxDrawdown(updatesDf(ups.toSeq)).collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Long]("n_buckets"), r.getAs[Long]("q_min"),
          r.getAs[Long]("trough_start"),
          r.getAs[Double]("max_drawdown")))).toMap
    // one far-future closer per symbol: it closes the final REAL bucket
    // (folding its q); the closer's own bucket stays open, so its price
    // never enters the fold and the folded bucket set equals the batch
    // bucket set exactly
    val maxTs = ups.map(_.ts).max
    val closers = ups.filter(_.is_trade).map(_.symbol).distinct
      .sorted.zipWithIndex.map {
        case (s0, i) => graft.model.Update(s0, maxTs + 7200L * 1000,
          4000L + i, is_trade = true, is_bid = true, 1.0, 1.0)
      }
    val in = MemoryStream[Update]
    val q = Streaming.streamingMaxDrawdown(in.toDS()).writeStream
      .outputMode("append").format("memory").queryName("sdd").start()
    val (b1, b2) = ups.splitAt(ups.length / 2)
    in.addData(b1.toSeq: _*); q.processAllAvailable()
    in.addData(b2.toSeq: _*); q.processAllAvailable()
    in.addData(closers.toSeq: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("sdd").as[Streaming.DdRow].collect()
      .zipWithIndex.groupBy(_._1.symbol).view
      .mapValues(_.maxBy(_._2)._1).toMap
    assert(want.nonEmpty)
    want.foreach { case (s0, (n, qm, tr, dd)) =>
      val g = got(s0)
      assert((g.n_buckets, g.q_min, g.trough_start, g.max_drawdown) ===
        ((n, Some(qm), Some(tr), Some(dd))), s"drawdown drift at $s0")
    }
  }

  test("streaming liquidity band: the final serving rows ARE the batch " +
      "band table bit-exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ups = Tables.updatesDs(spark, sf("sf0.001")).collect()
      .sortBy(u0 => (u0.ts, u0.seq))
    // 500 bps: the sf0.001 book is sparse enough that the default
    // 25 bps band is empty — the contract under test is batch/stream
    // symmetry at a shared dial, not the dial itself
    val want = graft.operators.Orderbook
      .liquidityBand(updatesDf(ups.toSeq), bps = 500L).collect()
      .map(r => (r.getString(0), r.getBoolean(1)) ->
        ((r.getAs[Long]("n_levels"), r.getAs[Double]("liquidity"))))
      .toMap
    assert(want.nonEmpty)
    // one micro-batch of the whole history: each symbol emits exactly
    // once, from its FINAL book — the serving row to compare against
    // the batch table (multi-batch state carry is streamingBookFeatures'
    // already-proven shared fold; a stale side row from an earlier
    // batch would make last-row-wins comparisons ambiguous here)
    val in = MemoryStream[Update]
    val q = Streaming.streamingLiquidityBand(in.toDS(), bps = 500L)
      .writeStream
      .outputMode("append").format("memory").queryName("sliq").start()
    in.addData(ups.toSeq: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("sliq").as[Streaming.LiqRow].collect()
      .map(r => (r.symbol, r.is_bid) -> ((r.n_levels, r.liquidity)))
      .toMap
    assert(got === want)
  }

  test("streaming rolling volume replays the batch RANGE window " +
      "bit-exactly up to the pending peer group") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ups = Tables.updatesDs(spark, sf("sf0.001")).collect()
      .sortBy(u0 => (u0.ts, u0.seq))
    val batch = graft.operators.BookFeatures
      .rollingVolume(updatesDf(ups.toSeq)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
        ((r.getDouble(3), r.getLong(4), r.getDouble(5)))).toMap
    // emit-on-advance: each symbol's final ts peer group stays pending
    val lastTsPerSym = batch.keys.groupBy(_._1).view
      .mapValues(_.map(_._2).max).toMap
    val wantKeys = batch.keySet
      .filterNot { case (s0, t, _) => lastTsPerSym(s0) == t }
    val in = MemoryStream[Update]
    val q = Streaming.streamingRollingVolume(in.toDS()).writeStream
      .outputMode("append").format("memory").queryName("sroll").start()
    val (b1, b2) = ups.splitAt(ups.length / 2)
    in.addData(b1.toSeq: _*); q.processAllAvailable()
    in.addData(b2.toSeq: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("sroll").as[Streaming.RollRow].collect()
      .map(r => (r.symbol, r.ts, r.seq) ->
        ((r.size, r.n_window, r.vol_window))).toMap
    assert(wantKeys.nonEmpty)
    assert(got.keySet === wantKeys,
      s"missing ${(wantKeys -- got.keySet).take(3)}, " +
        s"extra ${(got.keySet -- wantKeys).take(3)}")
    wantKeys.foreach { k =>
      assert(got(k) === batch(k), s"rolling-volume drift at $k")
    }
  }

  test("streaming book features converge on the batch microprice and " +
      "depth imbalance bit-exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ups = Tables.updatesDs(spark, sf("sf0.001")).collect()
      .sortBy(u0 => (u0.ts, u0.seq))
    val book = graft.operators.Orderbook.snapshot(updatesDf(ups.toSeq))
    def opt(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val wantMicro = graft.operators.BookFeatures.microprice(book)
      .collect().map(r => r.getString(0) ->
        ((opt(r, 1), opt(r, 2), opt(r, 3), opt(r, 4), opt(r, 5)))).toMap
    val wantDepth = graft.operators.BookFeatures.depthImbalance(book)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), opt(r, 3)))).toMap
    val in = MemoryStream[Update]
    val q = Streaming.streamingBookFeatures(in.toDS()).writeStream
      .outputMode("append").format("memory").queryName("sbookfeat").start()
    val (b1, b2) = ups.splitAt(ups.length / 2)
    in.addData(b1.toSeq: _*); q.processAllAvailable()
    in.addData(b2.toSeq: _*); q.processAllAvailable()
    q.stop()
    // serving cadence: one row per symbol per micro-batch — the LAST
    // emitted row per symbol is the full-history state
    val got = spark.table("sbookfeat").as[Streaming.BookFeat].collect()
      .zipWithIndex.groupBy(_._1.symbol).view
      .mapValues(_.maxBy(_._2)._1).toMap
    assert(wantMicro.nonEmpty)
    assert(got.keySet === wantMicro.keySet)
    wantMicro.foreach { case (s0, (bb, bs, ba, as0, mp)) =>
      val g = got(s0)
      assert((g.best_bid, g.bid_size, g.best_ask, g.ask_size,
        g.microprice) === ((bb, bs, ba, as0, mp)), s"microprice drift $s0")
    }
    // depthImbalance drops symbols whose book is empty post-filter —
    // every emitted symbol with a surviving book row must match
    wantDepth.foreach { case (s0, (bd, ad, imb)) =>
      val g = got(s0)
      assert((g.bid_depth, g.ask_depth, g.imbalance) === ((bd, ad, imb)),
        s"depth drift $s0")
    }
  }

  test("streaming dedup collapses replayed frames across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    def up(i: Int) = Update("d", t0 + i, i.toLong, is_trade = true,
      is_bid = true, 1.0 + i, 2.0)
    val in = MemoryStream[Update]
    val q = Streaming.streamingDedup(in.toDS()).writeStream
      .outputMode("append").format("memory").queryName("sdedup").start()
    in.addData(up(0), up(1), up(1)) // dup within batch
    q.processAllAvailable()
    in.addData(up(1), up(2))        // replay across batches
    q.processAllAvailable()
    q.stop()
    val seqs = spark.table("sdedup").select("seq")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(seqs === Seq(0L, 1L, 2L))
  }

  /** Feeds `batches` to `streamingDedup`, one micro-batch each; returns
    * the emitted (symbol, ts, seq) keys, sorted, duplicates kept. */
  private def dedupRun(name: String, batches: Seq[Update]*)
      : Seq[(String, Long, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Update]
    val q = Streaming.streamingDedup(in.toDS()).writeStream
      .outputMode("append").format("memory").queryName(name).start()
    try batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    spark.table(name).as[Update].collect()
      .map(u => (u.symbol, u.ts, u.seq)).sorted.toSeq
  }

  private def dedupUp(sym: String, ts: Long, seq: Long) =
    Update(sym, ts, seq, is_trade = true, is_bid = true, 1.0 + seq, 2.0)

  test("streaming dedup drops in-batch duplicates and cross-batch " +
      "replays") {
    def up(i: Int) = dedupUp("d", i, i)
    val got = dedupRun("sdedup_replay",
      Seq(up(2), up(0), up(1), up(1), up(0)),
      Seq(up(1), up(2), up(3), up(3)),
      (0 to 3).map(up) :+ up(4))
    assert(got === (0 to 4).map(i => ("d", i.toLong, i.toLong)))
  }

  test("streaming dedup keeps a same-ts row with a higher seq from a " +
      "later batch") {
    val got = dedupRun("sdedup_seq",
      Seq(dedupUp("d", 0, 5)),
      Seq(dedupUp("d", 0, 6), dedupUp("d", 0, 5)))
    assert(got === Seq(("d", 0L, 5L), ("d", 0L, 6L)))
  }

  test("streaming dedup drops a late row at or below the book's " +
      "(ts, seq) mark") {
    val got = dedupRun("sdedup_late",
      Seq(dedupUp("d", 10, 1)),
      // earlier ts with a higher seq, same ts with a lower seq: both late
      Seq(dedupUp("d", 5, 2), dedupUp("d", 10, 0), dedupUp("d", 11, 3)))
    assert(got === Seq(("d", 10L, 1L), ("d", 11L, 3L)))
  }

  test("streaming dedup keeps one mark per book: books do not " +
      "interfere") {
    val got = dedupRun("sdedup_books",
      Seq(dedupUp("a", 100, 1), dedupUp("b", 1, 1)),
      // b's row is below a's mark but above b's; a's row is late
      Seq(dedupUp("b", 2, 2), dedupUp("a", 50, 2)))
    assert(got === Seq(("a", 100L, 1L), ("b", 1L, 1L), ("b", 2L, 2L)))
  }

  test("bench twins run one trigger per micro-batch; dedup keeps one " +
      "state row per book") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val books = Seq("b0", "b1", "b2")
    val n = 4
    val in = MemoryStream[Update]
    val ds = in.toDS()
    val twins = Seq(
      "g_vbars" -> Streaming.streamingVolumeBars(ds, 10.0).toDF(),
      "g_flow" -> Streaming.streamingTickRuleFlow(ds).toDF(),
      "g_dedup" -> Streaming.streamingDedup(ds).toDF())
    val qs = twins.map { case (name, df) =>
      name -> df.writeStream.outputMode("append").format("memory")
        .queryName(name).start()
    }.toMap
    try (0 until n).foreach { k =>
      // 20 trades per book a minute apart, every fifth sent twice
      val rows = books.flatMap(b => (0 until 20).map { i =>
        val j = k * 20 + i
        Update(b, 1700000000000L + j * 60000L, j.toLong, is_trade = true,
          is_bid = true, 10.0 + j % 3, 1.0 + i % 4)
      })
      in.addData(rows ++ rows.zipWithIndex.collect {
        case (u, i) if i % 5 == 0 => u }: _*)
      qs.values.foreach(_.processAllAvailable())
    } finally qs.values.foreach(_.stop())
    qs.foreach { case (name, q) =>
      assert(q.recentProgress.map(_.batchId).distinct.length === n,
        s"$name triggers")
    }
    val last = qs("g_dedup").recentProgress.filter(_.numInputRows > 0).last
    assert(last.stateOperators.map(_.numRowsTotal).sum === books.size)
    assert(spark.table("g_dedup").count() === books.size * n * 20)
  }

  test("streaming volume bars match the batch fold's closed bars") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ups = (0 until 30).map(i =>
      Update("v", 1000L + i, i.toLong, is_trade = true, is_bid = true,
        10.0 + i % 4, 3.0))
    val in = MemoryStream[Update]
    val bars = Streaming.streamingVolumeBars(in.toDS(), interval = 10.0)
    val q = bars.writeStream.outputMode("append")
      .format("memory").queryName("svbars").start()
    // two micro-batches: state must carry the in-progress bar across
    in.addData(ups.take(13): _*)
    q.processAllAvailable()
    in.addData(ups.drop(13): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("svbars").as[graft.model.Candle]
      .collect().sortBy(_.start).toSeq
    val batch = graft.operators.FoldBars.volumeBars(updatesDf(ups), 10.0)
      .as[graft.model.Candle].collect().sortBy(_.start).toSeq
    // batch emits the final partial bar; streaming holds it in state
    assert(streamed === batch.dropRight(1))
  }

  test("streaming as-of join matches the batch operator across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // alternating quotes/trades on two symbols; split mid-stream so the
    // prevailing quote must survive in state across micro-batches
    val ups = (0 until 40).map { i =>
      val sym = if (i % 2 == 0) "x" else "y"
      Update(sym, 1000L + i, i.toLong, is_trade = i % 3 == 0,
        is_bid = true, 10.0 + (i % 7), 1.0)
    }
    val in = MemoryStream[Update]
    val joined = Streaming.streamingAsof(in.toDS())
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("sasof").start()
    in.addData(ups.take(17): _*)
    q.processAllAvailable()
    in.addData(ups.drop(17): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sasof")
      .as[Streaming.TradeQuote].collect()
      .map(t => (t.symbol, t.ts, t.seq) -> ((t.quote_price, t.slippage)))
      .toMap
    val batch = graft.operators.AsofJoin.tradesWithQuote(updatesDf(ups))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
        ((if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          if (r.isNullAt(6)) None else Some(r.getDouble(6)))))
      .toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming quality filter ≡ batch filter, stateless plan") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then " +
        "keeps running through the quiet field toward the distant " +
        "hills while the sun sets slowly behind them tonight again"),
      (2L, "spam spam spam spam spam spam spam spam spam spam spam " +
        "spam spam spam spam spam spam spam spam spam spam spam spam " +
        "spam spam spam"),                     // repetition drop
      (3L, "too short"),                       // length drop
      (4L, "x"))                               // 1 word: no grams (null path)
    val in = MemoryStream[(Long, String)]
    val filtered = Streaming.streamingQualityFilter(
      in.toDS().toDF("doc_id", "text"))
    assert(filtered.isStreaming)
    val q = filtered.writeStream.outputMode("append")
      .format("memory").queryName("sqf").start()
    in.addData(docs: _*)
    q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4)))
    val streamed = spark.table("sqf").collect().map(key).toMap
    val batch = graft.ext.TextOps.qualityFilter(
      docs.toDF("doc_id", "text")).collect().map(key).toMap
    assert(streamed === batch)
    assert(streamed(1L)._4 && !streamed(2L)._2 && !streamed(3L)._1)
  }

  test("streaming BM25 serving ≡ batch scorer bit-exact per query, " +
      "cross-batch, ties and ranks aligned") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docsDf = Tables.table(spark, sf("sf0.001"), "documents")
    val index = graft.ext.TextOps.bm25Index(docsDf)
      .transform(graft.functions.checkpointed)
    def batchTop(terms: Seq[String]) =
      graft.ext.TextOps.bm25(docsDf, terms).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
    val b1 = batchTop(Seq("spark", "merge", "join", "hash"))
    val b2 = batchTop(Seq("alpha", "merge"))
    val in = MemoryStream[(Long, String)]
    val q = Streaming.streamingBm25TopK(in.toDS(), index)
      .writeStream.outputMode("append")
      .format("memory").queryName("sbm25").start()
    in.addData(1L -> "spark merge join hash")
    q.processAllAvailable()
    in.addData(2L -> "alpha merge alpha") // dup term collapses
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sbm25").as[Streaming.Bm25Hit].collect()
      .groupBy(_.q_id).map { case (qid, hs) =>
        qid -> hs.sortBy(_.rank).map(h => (h.doc_id, h.score)).toSeq
      }
    assert(got(1L) === b1.toSeq,
      "served query 1 must equal the batch scorer bit-exactly")
    assert(got(2L) === b2.toSeq,
      "served query 2 must equal the batch scorer bit-exactly")
  }

  test("streaming OOV rate against a frozen vocab ≡ batch audit after " +
      "cross-batch replay") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docsDf = Tables.table(spark, sf("sf0.001"), "documents")
    val vocab = graft.ext.TextOps.vocab(docsDf)
      .transform(graft.functions.localRelation)
    val batch = graft.ext.TextOps.oovRate(docsDf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val rows = docsDf.select(col("doc_id"), col("source"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val in = MemoryStream[(Long, String, String)]
    val q = Streaming.streamingOovRate(
        in.toDS().toDF("doc_id", "source", "text"), vocab)
      .writeStream.outputMode("complete")
      .format("memory").queryName("soov").start()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("soov").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(streamed === batch)
  }

  test("streaming corpus checksum ≡ batch manifest after cross-batch " +
      "replay in shuffled order") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docsDf = Tables.table(spark, sf("sf0.001"), "documents")
    val batch = graft.ext.Pipeline.corpusChecksum(docsDf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val rows = docsDf.select(col("doc_id"), col("source"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val shuffled = new scala.util.Random(7).shuffle(rows.toSeq)
    val in = MemoryStream[(Long, String, String)]
    val q = Streaming.streamingCorpusChecksum(
        in.toDS().toDF("doc_id", "source", "text"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("scsum").start()
    val (b1, b2) = shuffled.splitAt(shuffled.length / 3)
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("scsum").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(streamed === batch,
      "receiving-side running checksum must equal the sender manifest")
  }

  test("streaming quality score ≡ batch classifier scores bit-exact, " +
      "stateless plan, cross-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.table(spark, sf("sf0.001"), "documents")
    // train ONCE batch-side; serve the same corpus as a 2-batch stream
    val w = graft.ext.TextOps.trainQualityClassifier(docs)
    val batch = graft.ext.TextOps.scoreQuality(docs, w).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2))))
      .toMap
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val scored = Streaming.streamingQualityScore(
      in.toDS().toDF("doc_id", "text"), w)
    assert(scored.isStreaming)
    val q = scored.writeStream.outputMode("append")
      .format("memory").queryName("sqs").start()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sqs").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2))))
      .toMap
    assert(streamed === batch)
    assert(streamed.values.exists(!_._2), "drop class must appear")
  }

  test("streaming token budget: single-batch ≡ batch operator; state persists across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // real documents, one micro-batch: streamed output must equal the
    // batch tokenBudget rows exactly (same md5 order, same prefix cumsum)
    val docs = Tables.table(spark, sf("sf0.001"), "documents")
    val budget = 800L
    val batchRows = graft.ext.Pipeline.tokenBudget(docs, budget)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    val triples = docs.select(
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("source"),
      graft.ext.TextOps.tokenCount(
        org.apache.spark.sql.functions.col("text")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val in = MemoryStream[(Long, String, Long)]
    val out = Streaming.streamingTokenBudget(in.toDS(), budget)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("stb").start()
    in.addData(triples: _*)
    q.processAllAvailable()
    val streamed = spark.table("stb").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(streamed === batchRows)
    // cross-batch state: a fresh source blows its budget in batch 2
    // (cum = budget+1 -> dropped AND the total advances); a tiny doc in
    // batch 3 must ALSO drop — the source closed when it crossed
    in.addData((999998L, "zz_fresh", budget + 1))
    q.processAllAvailable()
    in.addData((999999L, "zz_fresh", 1L))
    q.processAllAvailable()
    q.stop()
    val after = spark.table("stb").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(after === batchRows,
      "a source that crossed its budget must stay closed across batches")
  }

  test("subscribe filter fans out one book") {
    import spark.implicits._
    val ups = Seq(
      Update("a", 1, 1, true, true, 1, 1),
      Update("b", 2, 2, true, true, 1, 1))
    assert(Streaming.subscribe(spark.createDataset(ups), "a")
      .collect().map(_.symbol).toSeq === Seq("a"))
  }

  // near-dup streaming corpus: exact dup pair (1,2), near pair (3 vs 1/2),
  // disjoint vocab (4), and a second wave with another copy (5) plus noise
  private val nearDupDocs = Seq(
    1L -> "alpha beta gamma delta epsilon",
    2L -> "alpha beta gamma delta epsilon",
    3L -> "alpha beta gamma delta zeta",
    4L -> "omega psi chi phi upsilon")
  private val nearDupWave2 = Seq(
    5L -> "alpha beta gamma delta epsilon",
    6L -> "totally different words here")

  test("streaming simhash near-dup ≡ batch pair set, including cross-batch pairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val pairs = Streaming.streamingSimhashNearDup(in.toDS(),
      bandBits = 4, maxHamming = 15)
    val q = pairs.writeStream.outputMode("append")
      .format("memory").queryName("spairs").start()
    in.addData(nearDupDocs: _*)
    q.processAllAvailable()
    in.addData(nearDupWave2: _*) // doc 5 pairs with docs 1/2 from batch 1
    q.processAllAvailable()
    q.stop()
    val got = spark.table("spairs").as[Streaming.SimPair].collect()
    val gotSet = got.map(p => (p.doc_a, p.doc_b, p.hamming)).toSet
    val batch = graft.ext.Dedup.simhashNearDup(
      (nearDupDocs ++ nearDupWave2).toDF("doc_id", "text"),
      bandBits = 4, maxHamming = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotSet === batch, s"streamed $gotSet vs batch $batch")
    // the cross-batch pair (1,5) can only exist through carried state
    assert(gotSet.contains((1L, 5L, 0L)), "cross-batch pair lost")
    // state-size gate: no bucket ever held more members than the true
    // per-(band,value) occupancy of the full corpus
    val all = nearDupDocs ++ nearDupWave2
    val maxOcc = all
      .map { case (_, t) => graft.ext.Dedup.simhash64(t) }
      .flatMap(h => (0 until 16).map(b => (b, (h >>> (4 * b)) & 15L)))
      .groupBy(identity).values.map(_.size).max
    assert(got.map(_.bucket_n).max <= maxOcc,
      s"bucket state exceeded true occupancy $maxOcc")
  }

  test("scalar simhash64 ≡ DataFrame simhash bit-for-bit") {
    import spark.implicits._
    val docs = (nearDupDocs ++ nearDupWave2) :+ (7L -> "") :+
      (8L -> "  MiXeD   Case  words mixed case WORDS  ")
    val df = graft.ext.Dedup.simhash(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    docs.foreach { case (id, t) =>
      assert(df(id) === graft.ext.Dedup.simhash64(t), s"doc $id <$t>")
    }
  }

  test("streaming bigram LM score ≡ batch on training docs; OOV backs off finitely") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(1L -> "the cat sat on the mat",
      2L -> "the dog sat on the cat", 3L -> "a cat and a dog")
    val corpusDf = corpus.toDF("doc_id", "text")
    val model = Streaming.lmModelOf(corpusDf)
    val in = MemoryStream[(Long, String)]
    val q = Streaming.streamingBigramScore(in.toDS(), model)
      .writeStream.outputMode("append")
      .format("memory").queryName("lmscores").start()
    in.addData(corpus: _*)
    in.addData(10L -> "the cat sat zzz unseenword qqq", 11L -> "solo")
    q.processAllAvailable()
    q.stop()
    val got = spark.table("lmscores").as[Streaming.LmScore].collect()
      .map(s => s.doc_id -> ((s.n_bigrams, s.avg_logprob))).toMap
    // training docs: BIT-identical to the batch operator
    val batch = graft.ext.TextOps.bigramLogProb(corpusDf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    corpus.foreach { case (id, _) =>
      assert(got(id) === batch(id), s"doc $id: ${got(id)} vs ${batch(id)}")
    }
    // novel text: finite score through the hapax backoff, and strictly
    // below any training doc (unseen bigrams are maximally surprising)
    assert(got(10L)._1 === 5L)
    assert(!got(10L)._2.isNaN && !got(10L)._2.isInfinite)
    assert(got(10L)._2 < batch.values.map(_._2).min)
    assert(!got.contains(11L), "single-word docs emit no row, as batch")
  }

  test("multimodal decode plumbing runs incrementally: streamed decodeMeta ≡ batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the batch operator is a stateless mapPartitions over a binary
    // column (the decode-kernel batching shape) — apply it UNCHANGED to
    // a streaming DataFrame: per-micro-batch kernel invocations, same
    // rows out. This is T6 coverage for the multimodal family: the
    // ingest path decodes arriving blobs incrementally.
    val docs = Seq(1L -> "some image bytes", 2L -> "aud", 3L -> "vvvvv",
      4L -> "")
    val in = MemoryStream[(Long, String)]
    val q = graft.ext.Multimodal.decodeMeta(in.toDS().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("mmeta").start()
    in.addData(docs.take(2): _*)
    q.processAllAvailable()
    in.addData(docs.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("mmeta").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toSet
    val batch = graft.ext.Multimodal.decodeMeta(docs.toDF("doc_id", "text"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toSet
    assert(got === batch, s"streamed $got vs batch $batch")
  }

  test("TTL dedup: state expires with the event-time watermark, content re-admits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val in = MemoryStream[Streaming.TimedDoc]
    val q = Streaming.streamingExactDedupTtl(in.toDS(), ttlSecs = 500L)
      .writeStream.outputMode("append")
      .format("memory").queryName("ttldedup").start()
    // batch 1: X kept, its dup dropped; watermark -> 1001
    in.addData(Streaming.TimedDoc(1L, "content X", ts(1000)),
      Streaming.TimedDoc(2L, "content X", ts(1001)))
    q.processAllAvailable()
    // batch 2: wm at start (1001) < X's expiry (1001+500) -> X state live
    in.addData(Streaming.TimedDoc(3L, "other Y", ts(2000)))
    q.processAllAvailable()
    // batch 3: wm at start (2000) > 1501 -> X's keeper state expires now
    in.addData(Streaming.TimedDoc(4L, "other Z", ts(2100)))
    q.processAllAvailable()
    // batch 4: X re-admitted as a FRESH keeper (doc 5, not doc 1)
    in.addData(Streaming.TimedDoc(5L, "content X", ts(2105)),
      Streaming.TimedDoc(6L, "content X", ts(2106)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ttldedup").as[Streaming.DedupDecision]
      .collect().map(d => d.doc_id -> ((d.keeper, d.keep))).toMap
    assert(got === Map(
      1L -> ((1L, true)), 2L -> ((1L, false)),
      3L -> ((3L, true)), 4L -> ((4L, true)),
      5L -> ((5L, true)), 6L -> ((5L, false))),
      s"got $got")
  }

  test("TTL dedup: out-of-order duplicate cannot move the expiry EARLIER") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val in = MemoryStream[Streaming.TimedDoc]
    // wide watermark delay so an out-of-order duplicate is ACCEPTED,
    // not dropped by the late-row filter
    val q = Streaming.streamingExactDedupTtl(in.toDS(), ttlSecs = 500L,
      watermarkDelay = "1000 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("ttlmono").start()
    // batch 1: keeper @2000 -> promised expiry 2500
    in.addData(Streaming.TimedDoc(1L, "content X", ts(2000)))
    q.processAllAvailable()
    // batch 2: OUT-OF-ORDER duplicate @1500 — refresh must be monotone:
    // expiry stays 2500 (state stores max arrival ts), it must NOT
    // shrink to 1500+500=2000
    in.addData(Streaming.TimedDoc(2L, "content X", ts(1500)))
    q.processAllAvailable()
    // batch 3: advance the watermark to 2400 — past the BUGGY expiry
    // (2000) but before the promised one (2500). processAllAvailable
    // also runs the follow-up no-data batch at wm 2400, which is
    // exactly where an understated timeout would fire and drop X
    in.addData(Streaming.TimedDoc(3L, "other Y", ts(3400)))
    q.processAllAvailable()
    // batch 4: X again @3450 (wm still 2400 for this batch) — within
    // the promised horizon, so the keeper MUST still be doc 1
    in.addData(Streaming.TimedDoc(4L, "content X", ts(3450)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ttlmono").as[Streaming.DedupDecision]
      .collect().map(d => d.doc_id -> ((d.keeper, d.keep))).toMap
    assert(got(4L) === ((1L, false)),
      s"out-of-order dup shrank the TTL horizon: got $got")
  }

  test("TTL dedup: watermark drops very-late arrivals BEFORE the state function") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val in = MemoryStream[Streaming.TimedDoc]
    val q = Streaming.streamingExactDedupTtl(in.toDS(), ttlSecs = 500L)
      .writeStream.outputMode("append")
      .format("memory").queryName("ttllate").start()
    in.addData(Streaming.TimedDoc(1L, "fresh", ts(10000))) // wm -> 10000
    q.processAllAvailable()
    // event time far behind the watermark: Spark's late-row filter drops
    // the row before flatMapGroupsWithState — no decision row, no state,
    // no crash (this filter is also why accepted rows can never compute
    // a timeout behind the watermark; the clamp in the op is insurance
    // for ttl < watermarkDelay configurations)
    in.addData(Streaming.TimedDoc(2L, "late content", ts(100)))
    q.processAllAvailable()
    // the same content arriving ON TIME is a fresh keeper — the late
    // row left no trace
    in.addData(Streaming.TimedDoc(3L, "late content", ts(10050)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ttllate").as[Streaming.DedupDecision]
      .collect().map(d => d.doc_id -> ((d.keeper, d.keep))).toMap
    assert(got === Map(1L -> ((1L, true)), 3L -> ((3L, true))),
      s"got $got")
  }

  test("TTL simhash near-dup: expired members stop pairing, live ones still pair") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val text = "alpha beta gamma delta epsilon"
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = Streaming.streamingSimhashNearDupTtl(in.toDS(), ttlSecs = 500L)
      .writeStream.outputMode("append")
      .format("memory").queryName("ttlsim").start()
    // batch 1: identical docs 1, 2 pair; watermark -> 1001
    in.addData((1L, text, ts(1000)), (2L, text, ts(1001)))
    q.processAllAvailable()
    // batch 2: unrelated content advances the watermark past 1501
    in.addData((3L, "totally different words here", ts(2000)))
    q.processAllAvailable()
    // batch 3: doc 4 = same content, but 1 and 2 fell out of the horizon
    // (arrival-path prune: wm 2000 > 1001 + 500) -> NO pair
    in.addData((4L, text, ts(2100)))
    q.processAllAvailable()
    // batch 4: doc 5 pairs with the still-live doc 4 ONLY
    in.addData((5L, text, ts(2150)))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("ttlsim").as[Streaming.SimPair].collect()
      .map(p => (p.doc_a, p.doc_b)).toSet
    assert(pairs === Set((1L, 2L), (4L, 5L)), s"got $pairs")
  }

  test("TTL minhash near-dup: horizon governs pairing, Jaccard verify intact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val text = "alpha beta gamma delta epsilon"
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = Streaming.streamingMinhashNearDupTtl(in.toDS(), ttlSecs = 500L)
      .writeStream.outputMode("append")
      .format("memory").queryName("ttlmh").start()
    in.addData((1L, text, ts(1000)), (2L, text, ts(1001)))
    q.processAllAvailable()
    in.addData((3L, "totally different words here", ts(2000)))
    q.processAllAvailable()
    in.addData((4L, text, ts(2100))) // 1, 2 out of horizon: no pair
    q.processAllAvailable()
    in.addData((5L, text, ts(2150))) // pairs with live 4 only
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ttlmh").as[Streaming.MhPair].collect()
    assert(got.map(p => (p.doc_a, p.doc_b)).toSet === Set((1L, 2L), (4L, 5L)),
      s"got ${got.toSeq}")
    // the exact verification still runs: identical docs are jaccard 1.0
    assert(got.forall(p => p.jaccard == 1.0 && p.inter == p.uni))
  }

  test("streaming minhash near-dup ≡ batch pair set, including cross-batch pairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = Streaming.streamingMinhashNearDup(in.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("mpairs").start()
    in.addData(nearDupDocs: _*)
    q.processAllAvailable()
    in.addData(nearDupWave2: _*) // doc 5 pairs with docs 1/2 from batch 1
    q.processAllAvailable()
    q.stop()
    val got = spark.table("mpairs").as[Streaming.MhPair].collect()
    val gotSet = got
      .map(p => (p.doc_a, p.doc_b, p.inter, p.uni, p.jaccard)).toSet
    val batch = graft.ext.Dedup.minhashNearDup(
      (nearDupDocs ++ nearDupWave2).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(gotSet === batch, s"streamed $gotSet vs batch $batch")
    // identical docs 1 and 5 arrived in DIFFERENT batches: the pair can
    // only exist through carried state, with exact-Jaccard 1.0
    assert(gotSet.exists(t => t._1 == 1L && t._2 == 5L && t._5 == 1.0),
      "cross-batch pair lost")
    // state-size gate: no bucket ever held more members than the true
    // per-(band, bval) occupancy of the full corpus
    val maxOcc = (nearDupDocs ++ nearDupWave2)
      .flatMap { case (_, t) =>
        val shset = graft.ext.Dedup.shingleSet(t)
        if (shset.isEmpty) Seq.empty[String]
        else {
          val sig = graft.ext.Dedup.minhashSig(shset)
          (0 until 4).map(j => s"$j:" + graft.functions.md5Hex(
            sig.slice(j * 4, j * 4 + 4).mkString("").getBytes("UTF-8")))
        }
      }.groupBy(identity).values.map(_.size).max
    assert(got.map(_.bucket_n).max <= maxOcc,
      s"bucket state exceeded true occupancy $maxOcc")
  }

  test("scalar shingleSet/minhashSig ≡ batch shingles/minhashSignature") {
    import spark.implicits._
    val docs = (nearDupDocs ++ nearDupWave2) :+ (7L -> "") :+
      (8L -> " one ") :+ (9L -> "  MiXeD   Case words mixed CASE  ")
    val df = docs.toDF("doc_id", "text")
    val batchSh = graft.ext.Dedup.shingles(df).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getString(1)).toSet).toMap
    docs.foreach { case (id, t) =>
      assert(batchSh.getOrElse(id, Set.empty[String]) ===
        graft.ext.Dedup.shingleSet(t), s"shingles doc $id <$t>")
    }
    val batchSig = graft.ext.Dedup
      .minhashSignature(graft.ext.Dedup.shingles(df)).collect()
      .map(r => r.getLong(0) -> (1 to 16).map(i => r.getString(i))).toMap
    docs.foreach { case (id, t) =>
      val s = graft.ext.Dedup.shingleSet(t)
      if (s.nonEmpty)
        assert(batchSig(id) === graft.ext.Dedup.minhashSig(s).toSeq,
          s"signature doc $id <$t>")
    }
  }

  test("minhash member state is fixed-width: bytes track shingle COUNT, not text size") {
    import graft.ext.Dedup
    // same word count, wildly different word lengths: the fingerprint
    // payload (8 bytes/shingle) must be IDENTICAL in size, where the old
    // raw-string payload was O(text bytes) per member
    val short = "a b c d e f"
    val long = (1 to 6).map(i => ("w" + i.toString) * 15).mkString(" ")
    val ss = Dedup.shingleSet(short); val sl = Dedup.shingleSet(long)
    assert(ss.size === sl.size, "fixture must have equal shingle counts")
    val hs = Dedup.shingleHashes64(ss); val hl = Dedup.shingleHashes64(sl)
    assert(hs.length === hl.length,
      "fingerprint count must not depend on word length")
    assert(hs.length * 8 === hl.length * 8) // state bytes equal by width
    // raw strings, for contrast, differ ~15x in bytes
    assert(sl.map(_.length).sum > 10 * ss.map(_.length).sum)
    // fingerprints are sorted + distinct (the two-pointer intersect's
    // precondition) and collision-free on the fixtures
    assert(hs.toSeq === hs.toSeq.sorted && hs.distinct.length === hs.length)
    // Jaccard over fingerprints ≡ Jaccard over raw shingle sets, across
    // seeded random word-bag pairs (exact up to md5-prefix collision)
    val rnd = new scala.util.Random(42)
    (1 to 50).foreach { _ =>
      val vocab = (1 to 12).map(i => s"tok$i")
      def doc() = (1 to (3 + rnd.nextInt(15)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val (a, b) = (Dedup.shingleSet(doc()), Dedup.shingleSet(doc()))
      val (ha, hb) = (Dedup.shingleHashes64(a).toSet,
        Dedup.shingleHashes64(b).toSet)
      assert(ha.intersect(hb).size === a.intersect(b).size)
      assert(ha.union(hb).size === a.union(b).size)
    }
  }

  test("lmModelOf: model rows are pigeonhole-bounded by targetRows; serving stays total") {
    import spark.implicits._
    import graft.ext.TextOps
    // minCountFor is a hard bound, not a heuristic: ceil(N/targetRows)
    assert(TextOps.minCountFor(100L, 1000L) === 1L)
    assert(TextOps.minCountFor(1000L, 1000L) === 1L)
    assert(TextOps.minCountFor(1001L, 1000L) === 2L)
    assert(TextOps.minCountFor(1000L * 1000 * 1000 * 1000) === 500000L)
    // corpus: "a b" x 30 docs (common bigram), plus 20 distinct rare ones
    val docs = ((1 to 30).map(i => i.toLong -> "a b") ++
      (1 to 20).map(i => (100L + i) -> s"r$i s$i")).toDF("doc_id", "text")
    // N = 100 tokens; targetRows 20 -> minCount 5: only (a,b) survives
    val m = Streaming.lmModelOf(docs, targetRows = 20L)
    assert(m.nTotal === 100L, "nTotal stays the FULL corpus count")
    assert(m.q.size.toLong <= 20L && m.uni.size.toLong <= 20L,
      s"pigeonhole bound violated: ${m.q.size} bigrams, ${m.uni.size} unis")
    assert(m.q.contains(("a", "b")) && !m.q.contains(("r1", "s1")))
    assert(m.uni.contains("a") && !m.uni.contains("r1"))
    // pruned-away bigrams score through the same deterministic hapax
    // backoff OOV takes — ln stays total, no crash, strictly worse score
    val out = Streaming.streamingBigramScore(
      Seq(201L -> "a b", 202L -> "r1 s1").toDS(), m).collect()
      .map(s => s.doc_id -> s.avg_logprob).toMap
    assert(!out(202L).isNaN && !out(202L).isInfinite)
    assert(out(202L) < out(201L))
    // and the un-pruned regime (default targetRows) is the identity:
    // same corpus, minCount=1, full tables
    val full = Streaming.lmModelOf(docs)
    assert(full.q.contains(("r1", "s1")) && full.uni("r1") === 1L)
  }

  test("streaming ANN nearest ≡ batch LSH nearest, single and multi-probe") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val embs = Tables.table(spark, sf(), "embeddings")
      .select("vec_id", "embedding")
    val planes = graft.ext.Similarity.planesFor(500)
    // scalar bucket twin ≡ DataFrame op over the whole real corpus
    val dfBuckets = graft.ext.Similarity.lshBuckets(embs, planes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = embs
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect()
    vecs.foreach { case (id, e) =>
      assert(graft.ext.Similarity.lshBucket64(e, planes) === dfBuckets(id),
        s"vec $id bucket drifted")
    }
    // the served index vs the batch operator, queries in two waves
    val index = Streaming.annIndexOf(embs, planes)
    val in = MemoryStream[(Long, Array[Double])]
    val q = Streaming.streamingAnnNearest(in.toDS(), index).writeStream
      .outputMode("append").format("memory").queryName("annhits").start()
    val (w1, w2) = vecs.splitAt(vecs.length / 2)
    in.addData(w1.toSeq: _*)
    q.processAllAvailable()
    in.addData(w2.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("annhits").as[Streaming.AnnHit].collect()
      .map(h => (h.q_id, h.vec_id, h.sim)).toSet
    val batch = graft.ext.Similarity.lshNearest(embs, planes).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === batch, s"${got.size} streamed vs ${batch.size} batch")
    // multi-probe serving ≡ the batch multi-probe op (batch-mode Dataset
    // exercises the same flatMap/join/reassembly path)
    val got2 = Streaming.streamingAnnNearest(vecs.toSeq.toDS(), index,
      multiProbe = true).collect().map(h => (h.q_id, h.vec_id, h.sim)).toSet
    val batch2 = graft.ext.Similarity.lshNearestMultiProbe(embs, planes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got2 === batch2,
      s"multiprobe: ${got2.size} streamed vs ${batch2.size} batch")
  }

  test("streaming IVF top-k ≡ batch IVF, probed cells only, across batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val embs = Tables.table(spark, sf(), "embeddings")
      .select("vec_id", "embedding")
    val index = Streaming.ivfIndexOf(embs, nCentroids = 8)
    // the batch op's query set (vec_id < 10), streamed in two waves
    val queries = embs
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().filter(_._1 < 10L)
    val in = MemoryStream[(Long, Array[Double])]
    val q = Streaming.streamingIvfTopK(in.toDS(), index).writeStream
      .outputMode("append").format("memory").queryName("ivfhits").start()
    val (w1, w2) = queries.splitAt(5)
    in.addData(w1.toSeq: _*)
    q.processAllAvailable()
    in.addData(w2.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ivfhits").as[Streaming.AnnHit].collect()
      .map(h => (h.q_id, h.rank.toLong, h.vec_id, h.sim)).toSet
    val batch = graft.ext.Similarity.ivfTopK(embs).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2),
        r.getDouble(3))).toSet
    assert(got === batch, s"${got.size} streamed vs ${batch.size} batch")
  }

  test("streaming trained-IVF top-k ≡ batch trained IVF (L2, Lloyd index)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val embs = Tables.table(spark, sf(), "embeddings")
      .select("vec_id", "embedding")
    val index = Streaming.ivfIndexTrainedOf(embs)
    val queries = embs
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().filter(_._1 < 10L)
    val in = MemoryStream[(Long, Array[Double])]
    val q = Streaming.streamingIvfTrainedTopK(in.toDS(), index).writeStream
      .outputMode("append").format("memory").queryName("tivfhits").start()
    in.addData(queries.take(5).toSeq: _*)
    q.processAllAvailable()
    in.addData(queries.drop(5).toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("tivfhits").as[Streaming.AnnL2Hit].collect()
      .map(h => (h.q_id, h.rank.toLong, h.vec_id, h.dist)).toSet
    val batch = graft.ext.Similarity.ivfTrainedTopK(embs).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2),
        r.getDouble(3))).toSet
    assert(got === batch, s"${got.size} streamed vs ${batch.size} batch")
  }

  test("streaming residual IVF-PQ top-k ≡ batch (fully-trained FAISS composition)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val embs = Tables.table(spark, sf(), "embeddings")
      .select("vec_id", "embedding")
    val index = Streaming.ivfPqIndexOf(embs)
    val queries = embs
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().filter(_._1 < 10L)
    val in = MemoryStream[(Long, Array[Double])]
    val q = Streaming.streamingIvfPqTopK(in.toDS(), index).writeStream
      .outputMode("append").format("memory").queryName("ivfpqhits").start()
    in.addData(queries.take(5).toSeq: _*)
    q.processAllAvailable()
    in.addData(queries.drop(5).toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ivfpqhits").as[Streaming.AdcHit].collect()
      .map(h => (h.q_id, h.rank.toLong, h.vec_id, h.adc_q)).toSet
    val batch = graft.ext.Similarity.ivfPqTrainedTopK(embs).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2),
        r.getLong(3))).toSet
    assert(got === batch, s"${got.size} streamed vs ${batch.size} batch")
  }

  test("streaming ADC top-k ≡ batch ADC: compressed-domain serving, no corpus floats") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val embs = Tables.table(spark, sf(), "embeddings")
      .select("vec_id", "embedding")
    val index = Streaming.adcIndexOf(embs)
    val queries = embs
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().filter(_._1 < 10L)
    val in = MemoryStream[(Long, Array[Double])]
    val q = Streaming.streamingAdcTopK(in.toDS(), index).writeStream
      .outputMode("append").format("memory").queryName("adchits").start()
    val (w1, w2) = queries.splitAt(5)
    in.addData(w1.toSeq: _*)
    q.processAllAvailable()
    in.addData(w2.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("adchits").as[Streaming.AdcHit].collect()
      .map(h => (h.q_id, h.rank.toLong, h.vec_id, h.adc_q)).toSet
    val batch = graft.ext.Similarity.pqAdcTopK(embs).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2),
        r.getLong(3))).toSet
    assert(got === batch, s"${got.size} streamed vs ${batch.size} batch")
  }

  test("ADC + IVF-PQ scale join order (broadcast per-batch LUT) ≡ batch " +
    "(VERDICT r7 #7: forced big-corpus dispatch)") {
    // forge codesRows over the dispatch bound so the SCALE branch runs:
    // static codes stay un-shuffled, the micro-batch LUT broadcasts —
    // results must still be bit-identical to the batch ops
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val embs = Tables.table(spark, sf(), "embeddings")
      .select("vec_id", "embedding")
    val queries = embs
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().filter(_._1 < 10L)

    val adcIdx = Streaming.adcIndexOf(embs)
      .copy(codesRows = Streaming.BroadcastCodesMaxRows + 1L)
    val in1 = MemoryStream[(Long, Array[Double])]
    val q1 = Streaming.streamingAdcTopK(in1.toDS(), adcIdx).writeStream
      .outputMode("append").format("memory").queryName("adcbig").start()
    in1.addData(queries.toSeq: _*)
    q1.processAllAvailable()
    q1.stop()
    val gotAdc = spark.table("adcbig").as[Streaming.AdcHit].collect()
      .map(h => (h.q_id, h.rank.toLong, h.vec_id, h.adc_q)).toSet
    val batchAdc = graft.ext.Similarity.pqAdcTopK(embs).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2),
        r.getLong(3))).toSet
    assert(gotAdc === batchAdc,
      s"scale-branch ADC drift: ${gotAdc.size} vs ${batchAdc.size}")

    val pqIdx = Streaming.ivfPqIndexOf(embs)
      .copy(codesRows = Streaming.BroadcastCodesMaxRows + 1L)
    val in2 = MemoryStream[(Long, Array[Double])]
    val q2 = Streaming.streamingIvfPqTopK(in2.toDS(), pqIdx).writeStream
      .outputMode("append").format("memory").queryName("ivfpqbig").start()
    in2.addData(queries.toSeq: _*)
    q2.processAllAvailable()
    q2.stop()
    val gotPq = spark.table("ivfpqbig").as[Streaming.AdcHit].collect()
      .map(h => (h.q_id, h.rank.toLong, h.vec_id, h.adc_q)).toSet
    val batchPq = graft.ext.Similarity.ivfPqTrainedTopK(embs).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2),
        r.getLong(3))).toSet
    assert(gotPq === batchPq,
      s"scale-branch IVF-PQ drift: ${gotPq.size} vs ${batchPq.size}")
  }

  test("BPE apply-stream ≡ batch doc tokens on training docs; OOV segments by rule") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // real corpus slice so merges are non-trivial
    val corpusDf = Tables.table(spark, sf(), "documents")
      .select("doc_id", "text").limit(50).localCheckpoint(true)
    val merges = Streaming.bpeMergesOf(corpusDf, k = 6)
    assert(merges.size.toLong <= 6L, "model is parameter-bounded")
    // scalar rewrite ≡ the trained segmentation for EVERY vocab word
    val seg = graft.ext.TextOps.bpeSegment(corpusDf, 6).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getString(3))))
    seg.foreach { case (term, (nPieces, pieces)) =>
      val s = graft.ext.TextOps.bpeApplyWord(term, merges)
      assert(s === pieces && s.split(" ", -1).length.toLong === nPieces,
        s"word <$term>: scalar <$s> vs trained <$pieces>")
    }
    // streamed doc counts ≡ batch on the training corpus
    val docs = corpusDf.as[(Long, String)].collect()
    val in = MemoryStream[(Long, String)]
    val q = Streaming.streamingBpeDocTokens(in.toDS(), merges)
      .writeStream.outputMode("append")
      .format("memory").queryName("bpecounts").start()
    in.addData(docs.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("bpecounts").as[Streaming.BpeCount].collect()
      .map(c => c.doc_id -> ((c.n_words, c.n_bpe_tokens))).toMap
    val batch = graft.ext.TextOps.bpeDocTokens(corpusDf, 6).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === batch, "training docs must count bit-identically")
    // OOV: the stream counts what the batch join cannot see, by rule
    val oov = Streaming.streamingBpeDocTokens(
      Seq(999L -> "zzqx wwvv").toDS(), merges).collect()
    assert(oov.length === 1 && oov.head.n_words === 2L)
    val expected = Seq("zzqx", "wwvv")
      .map(w => graft.ext.TextOps.bpeApplyWord(w, merges)
        .split(" ", -1).length.toLong).sum
    assert(oov.head.n_bpe_tokens === expected)
  }

  test("stream-static join scorer ≡ broadcast scorer ≡ batch (zero-collect serving)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(1L -> "the cat sat on the mat",
      2L -> "the dog sat on the cat", 3L -> "a cat and a dog")
    val corpusDf = corpus.toDF("doc_id", "text")
    val ref = Streaming.lmModelRefOf(corpusDf)   // model stays distributed
    val model = Streaming.lmModelOf(corpusDf)    // broadcast path
    val probe = corpus :+ (10L -> "the cat sat zzz unseenword qqq") :+
      (11L -> "solo")
    val in = MemoryStream[(Long, String)]
    val q = Streaming.streamingBigramScoreJoined(in.toDS(), ref)
      .writeStream.outputMode("append")
      .format("memory").queryName("lmjoin").start()
    in.addData(probe: _*)
    q.processAllAvailable()
    q.stop()
    val joined = spark.table("lmjoin").as[Streaming.LmScore].collect()
      .map(s => s.doc_id -> ((s.n_bigrams, s.avg_logprob))).toMap
    // ≡ the broadcast scorer on every doc, OOV included
    val bcast = Streaming.streamingBigramScore(probe.toDS(), model)
      .collect().map(s => s.doc_id -> ((s.n_bigrams, s.avg_logprob))).toMap
    assert(joined === bcast, s"join $joined vs broadcast $bcast")
    // ≡ the batch operator on training docs
    val batch = graft.ext.TextOps.bigramLogProb(corpusDf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    corpus.foreach { case (id, _) => assert(joined(id) === batch(id)) }
    assert(!joined.contains(11L), "single-word docs emit no row")
    // pruned serving parity: both paths under the same tight bound agree
    val docs2 = ((1 to 30).map(i => i.toLong -> "a b") ++
      (1 to 20).map(i => (100L + i) -> s"r$i s$i")).toDF("doc_id", "text")
    val refP = Streaming.lmModelRefOf(docs2, targetRows = 20L)
    val modelP = Streaming.lmModelOf(docs2, targetRows = 20L)
    assert(refP.model.count() === modelP.q.size.toLong)
    val probe2 = Seq(201L -> "a b", 202L -> "r1 s1")
    val j2 = Streaming.streamingBigramScoreJoined(probe2.toDS(), refP)
      .collect().map(s => s.doc_id -> s.avg_logprob).toMap
    val b2 = Streaming.streamingBigramScore(probe2.toDS(), modelP)
      .collect().map(s => s.doc_id -> s.avg_logprob).toMap
    assert(j2 === b2, s"pruned serving drifted: $j2 vs $b2")
  }

  test("streaming bigram score: 2M-bigram doc does not wrap (BigInt accumulator)") {
    import spark.implicits._
    // All-OOV doc: every bigram backs off to the SAME quantized term
    // (ln(0.1/17)·1e12 ≈ -5.14e12 units), so the exact average equals
    // that single term. 2e6 bigrams sum to ≈ -1.03e19 — past Long.Min, so
    // the old Long accumulator wraps POSITIVE; BigInt stays exact (the
    // scalar counterpart of the batch twin's decimal(38,0) sum).
    val corpus = Seq(1L -> "the cat sat on the mat").toDF("doc_id", "text")
    val model = Streaming.lmModelOf(corpus)
    val words = Array.fill(2000001)("zzz").mkString(" ")
    val out = Streaming.streamingBigramScore(
      Seq(90L -> words).toDS(), model).collect()
    assert(out.length === 1)
    val s = out.head
    assert(s.n_bigrams === 2000000L)
    val expectedTerm = math.floor(math.log(
      (1.0 - model.lambda) * 1.0 / model.nTotal) * 1e12).toLong
    assert(math.abs(s.avg_logprob - expectedTerm.toDouble / 1e12) < 1e-9,
      s"avg must equal the per-term backoff exactly: ${s.avg_logprob}")
    assert(s.avg_logprob < 0, "a wrapped Long sum flips the sign")
  }

  test("streaming exact dedup: first arrival keeps, replays and dups drop") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = Streaming.streamingExactDedup(in.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("sdedup").start()
    in.addData(1L -> "same text", 2L -> "same text", 3L -> "other")
    q.processAllAvailable()
    in.addData(4L -> "same text", 3L -> "other") // late dup + replayed id
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sdedup").as[Streaming.DedupDecision].collect()
      .map(d => d.doc_id -> ((d.keeper, d.keep))).toMap
    assert(got(1L) === ((1L, true)))   // min-id keeper in the id-sorted batch
    assert(got(2L) === ((1L, false)))
    assert(got(3L) === ((3L, true)))   // replay of the keeper stays kept
    assert(got(4L) === ((1L, false))) // cross-batch dup sees batch-1 keeper
    // single-batch replay of the id-ordered corpus == batch keeper choice
    val batchKeepers = graft.ext.Dedup.exactDedup(
      Seq(1L -> "same text", 2L -> "same text", 3L -> "other")
        .toDF("doc_id", "text"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(batchKeepers.values.toSet === Set(1L, 3L))
  }

  test("streaming chunk dedup: keep-first sites; cross-batch dups drop") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = Streaming.streamingChunkDedup(in.toDS(), width = 2)
      .writeStream.outputMode("append")
      .format("memory").queryName("schunk").start()
    // doc0 [a b][c d]; doc1 [a b][x]; doc2 [c d][c d] — the batch
    // operator's planted fixture, one micro-batch
    in.addData(0L -> "a b c d", 1L -> "a b x", 2L -> "c d c d")
    q.processAllAvailable()
    in.addData(3L -> "x c d") // later batch: [x c] fresh, [d] fresh
    q.processAllAvailable()
    q.stop()
    val got = spark.table("schunk").as[Streaming.ChunkDecision].collect()
      .map(d => (d.doc_id, d.chunk_idx) ->
        ((d.keeper_doc, d.keeper_idx, d.keep))).toMap
    assert(got((0L, 0L)) === ((0L, 0L, true)))
    assert(got((0L, 1L)) === ((0L, 1L, true)))
    assert(got((1L, 0L)) === ((0L, 0L, false))) // "a b" seen at (0,0)
    assert(got((1L, 1L)) === ((1L, 1L, true)))  // "x"
    assert(got((2L, 0L)) === ((0L, 1L, false))) // "c d" seen at (0,1)
    assert(got((2L, 1L)) === ((0L, 1L, false))) // internal repeat drops
    assert(got((3L, 0L)) === ((3L, 0L, true)))  // "x c" is a NEW chunk
    assert(got((3L, 1L)) === ((3L, 1L, true)))  // "d" ≠ "c d"
  }

  test("streaming CDC chunk dedup ≡ batch reconstruction; shifted " +
      "re-crawl drops resynced tail chunks cross-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 200).map(i => s"tok$i").mkString(" ")
    val docs = Seq(1L -> base,
      2L -> (1 to 50).map(i => s"o$i").mkString(" "))
    val in = MemoryStream[(Long, String)]
    val q = Streaming.streamingCdcChunkDedup(in.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("scdc").start()
    in.addData(docs: _*)
    q.processAllAvailable()
    // later batch: a re-crawl of doc 1 with an injected banner — CDC
    // boundaries resync, the tail chunks hash-match doc 1's state
    in.addData(9L -> ("banner words here " + base))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("scdc").as[Streaming.ChunkDecision].collect()
    val byDoc = got.filter(_.doc_id < 9L).groupBy(_.doc_id)
      .map { case (d, cs) =>
        d -> ((cs.length.toLong, cs.count(!_.keep).toLong,
          cs.sortBy(_.chunk_idx).filter(_.keep).map(_.chunk_text)
            .mkString(" ")))
      }
    val batch = graft.ext.Pipeline.cdcChunkDedup(
      docs.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(byDoc === batch)
    val recrawl = got.filter(_.doc_id == 9L)
    assert(recrawl.exists(!_.keep),
      "resynced tail chunks must drop against the original's state")
    assert(recrawl.filter(!_.keep).forall(_.keeper_doc == 1L))
  }

  test("streaming DSIR score: replay of the training corpus ≡ batch weights") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docsDf = Tables.table(spark, sf("sf0.001"), "documents")
    val ref = graft.ext.Pipeline.dsirModel(docsDf)
    val in = MemoryStream[(Long, String)]
    val q = Streaming.streamingDsirScore(in.toDS(), ref)
      .writeStream.outputMode("append")
      .format("memory").queryName("sdsir").start()
    val docs = docsDf.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
    in.addData(docs: _*)
    q.processAllAvailable()
    // a NOVEL doc: every word OOV -> per-token fixed prior ratio
    in.addData(9999L -> "zzz qqq")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sdsir").as[Streaming.DsirScore].collect()
      .map(s => s.doc_id -> ((s.n_words, s.llr, s.selected))).toMap
    val batch = graft.ext.Pipeline.dsirWeights(docsDf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(batch.nonEmpty && batch.keySet.forall(streamed.contains))
    batch.foreach { case (d, want) =>
      assert(streamed(d) === want, s"doc $d drift")
    }
    // OOV contribution = n_words * lnQ-prior-ratio, positive (target
    // corpus is the smaller side under add-1)
    val (nOov, llrOov, selOov) = streamed(9999L)
    assert(nOov === 2L && llrOov > 0d && selOov)
  }

  test("streaming semantic decontam: corpus replay ≡ batch; novel vector " +
      "scored against the frozen eval suite") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val embsDf = Tables.table(spark, sf("sf0.001"), "embeddings")
    val ref = Streaming.semDecontamEvalRef(embsDf)
    val in = MemoryStream[(Long, Seq[Float])]
    val q = Streaming.streamingSemDecontam(in.toDS(), ref)
      .writeStream.outputMode("append").format("memory")
      .queryName("ssemdc").start()
    val corpus = embsDf.where(col("label") =!= 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    in.addData(corpus: _*)
    q.processAllAvailable()
    // a novel vector: copy of an eval vector -> max sim 1.0, dropped
    val evalCopy = embsDf.where(col("label") === 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].head()
    in.addData(99999L -> evalCopy._2)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ssemdc")
      .as[Streaming.SemDecontamDecision].collect()
      .map(s => s.vec_id -> ((s.max_eval_sim, s.kept))).toMap
    val batch = graft.ext.Similarity.semDecontam(embsDf).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    assert(batch.nonEmpty && batch.keySet.forall(streamed.contains))
    batch.foreach { case (v, want) =>
      assert(streamed(v) === want, s"vec $v drift")
    }
    // self-cosine lands within one ulp of 1 (dot == norm² only up to
    // the sqrt/multiply rounding), far above any sane tau -> dropped
    assert(math.abs(streamed(99999L)._1 - 1.0) < 1e-12)
    assert(!streamed(99999L)._2)
  }

  test("streaming unimax apply: md5-ordered replay ≡ batch; unbudgeted " +
      "language contributes nothing") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docsDf = Tables.table(spark, sf("sf0.001"), "documents")
    val alloc = graft.ext.Pipeline.unimaxAlloc(docsDf)
      .select(col("lang"), col("alloc")).localCheckpoint(true)
    val in = MemoryStream[(Long, String, String)]
    val q = Streaming.streamingUnimaxApply(in.toDS(), alloc)
      .writeStream.outputMode("append").format("memory")
      .queryName("sunimax").start()
    in.addData((docsDf.select(col("doc_id"), col("text"), col("lang"))
      .as[(Long, String, String)].collect() :+
      ((99999L, "a b c", "tlh"))): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sunimax").as[Streaming.UnimaxDoc].collect()
      .map(d => d.doc_id -> ((d.lang, d.n_tokens, d.cum_tokens))).toMap
    val batch = graft.ext.Pipeline.unimaxApply(docsDf).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(batch.nonEmpty)
    assert(streamed.keySet === batch.keySet,
      "replay must admit exactly the batch selection")
    batch.foreach { case (d, want) => assert(streamed(d) === want) }
    assert(!streamed.contains(99999L), "unbudgeted language admitted")
  }

  test("temperature allocation serves through the same streaming budget " +
      "enforcer: per-lang admitted tokens bounded by the √n allocation") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the allocator is swappable: mixtureTemp's (lang, alloc) table
    // drops into streamingUnimaxApply unchanged — one serving path,
    // two allocation policies
    val docsDf = Tables.table(spark, sf("sf0.001"), "documents")
    val alloc = graft.ext.Pipeline.mixtureTemp(docsDf)
      .select(col("lang"), col("alloc")).localCheckpoint(true)
    val allocMap = alloc.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val in = MemoryStream[(Long, String, String)]
    val q = Streaming.streamingUnimaxApply(in.toDS(), alloc)
      .writeStream.outputMode("append").format("memory")
      .queryName("stempalloc").start()
    in.addData(docsDf.select(col("doc_id"), col("text"), col("lang"))
      .as[(Long, String, String)].collect(): _*)
    q.processAllAvailable()
    q.stop()
    val byLang = spark.table("stempalloc").as[Streaming.UnimaxDoc]
      .collect().groupBy(_.lang)
    assert(byLang.nonEmpty)
    byLang.foreach { case (lang, ds) =>
      assert(ds.map(_.n_tokens).sum <= allocMap(lang),
        s"$lang overshoots its √n allocation")
      assert(ds.map(_.cum_tokens).max <= allocMap(lang))
    }
  }

  test("streaming ppl bucket: training replay ≡ batch terciles; novel " +
      "docs cut by the frozen boundary keys; unknown lang flagged") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docsDf = Tables.table(spark, sf("sf0.001"), "documents")
    val ref = Streaming.pplBoundsOf(docsDf)
    val in = MemoryStream[(Long, String, String)]
    val q = Streaming.streamingPplBucket(in.toDS(), ref)
      .writeStream.outputMode("append").format("memory")
      .queryName("sppl").start()
    in.addData(docsDf.select(col("doc_id"), col("text"), col("lang"))
      .as[(Long, String, String)].collect(): _*)
    q.processAllAvailable()
    // a novel all-OOV doc in a trained lang + an untrained language
    in.addData((9999L, "zzz qqq xxx", "en"), (9998L, "a b", "tlh"))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sppl").as[Streaming.PplBucketScore]
      .collect()
      .map(s => s.doc_id -> ((s.lang, s.n_bigrams, s.avg_logprob, s.bucket)))
      .toMap
    val batch = graft.ext.TextOps.pplBuckets(docsDf).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getDouble(3), r.getString(4))))
      .toMap
    assert(batch.nonEmpty)
    batch.foreach { case (d, want) =>
      assert(streamed(d) === want, s"doc $d drift")
    }
    // the novel doc's bucket is exactly what the frozen en boundary keys
    // dictate for its (score, id) ordering key — semantics twin
    val en = ref.bounds.where(col("lang") === "en").head()
    def isBefore(lp: Double, id: Long, bLp: Double, bId: Long): Boolean =
      lp > bLp || (lp == bLp && id <= bId)
    val nv = streamed(9999L)
    val want = if (isBefore(nv._3, 9999L, en.getDouble(1), en.getLong(2)))
      "head"
    else if (!en.isNullAt(3) &&
        isBefore(nv._3, 9999L, en.getDouble(3), en.getLong(4))) "middle"
    else "tail"
    assert(nv._1 === "en" && nv._4 === want)
    assert(streamed(9998L)._4 === "unknown")
  }

  test("streaming ppl bucket ABOVE the prune threshold: boundaries cut " +
      "from the SAME pruned model the stream serves (ADVICE r9)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docsDf = Tables.table(spark, sf("sf0.001"), "documents")
    // a targetRows far below the corpus bigram count forces minCount > 1:
    // the serving model is pruned, so the unpruned batch pplBuckets cut
    // is the WRONG boundary source — this replay only stays tercile-exact
    // because pplBoundsOf scores through the pruned LmModelRef itself
    val tgt = 50L
    val nTok = docsDf.select(explode(split(lower(trim(col("text"))),
      "\\s+"))).count()
    assert(graft.ext.TextOps.minCountFor(nTok, tgt) > 1L,
      "fixture must exceed the prune threshold for this test to bite")
    val ref = Streaming.pplBoundsOf(docsDf, targetRows = tgt)
    // the pruned scores genuinely differ from the unpruned batch scorer
    val pruned = Streaming.lmScoresOf(docsDf, ref.lm)
      .select(col("doc_id"), col("avg_logprob"))
      .as[(Long, Double)].collect().toMap
    val unpruned = graft.ext.TextOps.bigramLogProb(docsDf)
      .select(col("doc_id"), col("avg_logprob"))
      .as[(Long, Double)].collect().toMap
    assert(pruned.exists { case (d, s) => unpruned(d) != s },
      "pruning should change at least one score, else the test is vacuous")
    // batch expectation: terciles over the PRUNED scores
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("avg_logprob").desc, col("doc_id"))
    val want = Streaming.lmScoresOf(docsDf, ref.lm)
      .join(docsDf.select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("nt", ntile(3).over(w))
      .select(col("doc_id"),
        when(col("nt") === 1, "head").when(col("nt") === 2, "middle")
          .otherwise("tail").as("bucket"))
      .as[(Long, String)].collect().toMap
    val in = MemoryStream[(Long, String, String)]
    val q = Streaming.streamingPplBucket(in.toDS(), ref)
      .writeStream.outputMode("append").format("memory")
      .queryName("spplpruned").start()
    in.addData(docsDf.select(col("doc_id"), col("text"), col("lang"))
      .as[(Long, String, String)].collect(): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("spplpruned")
      .as[Streaming.PplBucketScore].collect()
      .map(s => s.doc_id -> s.bucket).toMap
    assert(streamed.size === want.size)
    want.foreach { case (d, b) =>
      assert(streamed(d) === b, s"doc $d: pruned-model tercile drift")
    }
  }

  test("streaming bloom decontam: replay of the train corpus ≡ batch") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docsDf = Tables.table(spark, sf("sf0.001"), "documents")
    val bits = graft.ext.Pipeline.bloomBits(
      docsDf.where(col("doc_id") % 97 === 0)).localCheckpoint(true)
    val in = MemoryStream[(Long, String)]
    val q = Streaming.streamingBloomDecontam(in.toDS(), bits)
      .writeStream.outputMode("append")
      .format("memory").queryName("sbloom").start()
    val train = docsDf.where(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    in.addData(train: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sbloom").as[Streaming.BloomHit].collect()
      .map(h => h.doc_id -> h.bloom_hits).toMap
    val batch = graft.ext.Pipeline.bloomDecontam(docsDf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch.nonEmpty, "bloom gate degenerate on sf0.001")
    assert(streamed === batch, "stream/batch bloom drift")
  }

  test("streaming semdedup: id-ordered replay ≡ batch; TTL re-admits") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val embsDf = Tables.table(spark, sf("sf0.001"), "embeddings")
    val k = graft.ext.Similarity.semCellsFor(embsDf.count())
    val thr = 0.25
    val cents = graft.ext.Similarity.semDedupCentroids(embsDf, k)
    val data = embsDf
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
      .map { case (id, e) =>
        Streaming.TimedVec(id, e, new java.sql.Timestamp(1000L)) }
    val in = MemoryStream[Streaming.TimedVec]
    val q = Streaming.streamingSemDedupTtl(in.toDS(), cents, thr,
        ttlSecs = 1000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("ssem").start()
    in.addData(data: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ssem").as[Streaming.SemDecision]
      .collect()
      .map(s => s.vec_id -> ((s.cell, s.n_twins, s.keep))).toMap
    val batch = graft.ext.Similarity.semDedup(embsDf, k, iters = 2,
        threshold = thr)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(batch.values.exists(!_._3) && batch.values.exists(_._3),
      "equivalence fixture degenerate")
    assert(streamed === batch, "stream/batch semdedup drift")

    // TTL: an expired twin re-admits fresh
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val v = Array.tabulate(64)(i => math.sin(i + 1))
    val u = Array.tabulate(64)(i => math.cos(2 * i + 1))
    val in2 = MemoryStream[Streaming.TimedVec]
    val q2 = Streaming.streamingSemDedupTtl(in2.toDS(),
        Array(0L -> v, 1L -> u), threshold = 0.9, ttlSecs = 100L)
      .writeStream.outputMode("append")
      .format("memory").queryName("ssemttl").start()
    in2.addData(Streaming.TimedVec(10L, v, ts(1000)),
      Streaming.TimedVec(11L, v, ts(1001)))
    q2.processAllAvailable()
    in2.addData(Streaming.TimedVec(12L, u, ts(2000))) // advances wm
    q2.processAllAvailable()
    in2.addData(Streaming.TimedVec(13L, v, ts(2050))) // past 10/11+ttl
    q2.processAllAvailable()
    q2.stop()
    val got = spark.table("ssemttl").as[Streaming.SemDecision].collect()
      .map(s => s.vec_id -> s.keep).toMap
    assert(got === Map(10L -> true, 11L -> false, 12L -> true,
      13L -> true), s"got $got")
  }

  test("streaming chunk dedup: id-ordered replay ≡ batch chunkDedup") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docsDf = Tables.table(spark, sf("sf0.001"), "documents")
    val docs = docsDf.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val in = MemoryStream[(Long, String)]
    val q = Streaming.streamingChunkDedup(in.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("schunkreal").start()
    in.addData(docs: _*) // ONE micro-batch, id order == batch keep-first
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("schunkreal")
      .as[Streaming.ChunkDecision].collect()
    val streamedClean = streamed.filter(_.keep)
      .groupBy(_.doc_id).map { case (d, cs) =>
        d -> cs.sortBy(_.chunk_idx).map(_.chunk_text).mkString(" ")
      }
    val batch = graft.ext.Pipeline.chunkDedup(docsDf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getString(3)))).toMap
    assert(streamed.map(_.doc_id).distinct.length === batch.size)
    batch.foreach { case (d, (nChunks, nDup, clean)) =>
      val mine = streamed.filter(_.doc_id == d)
      assert(mine.length.toLong === nChunks, s"doc $d chunk count")
      assert(mine.count(!_.keep).toLong === nDup, s"doc $d dup count")
      assert(streamedClean.getOrElse(d, "") === clean, s"doc $d text")
    }
  }

  test("streaming clickstream twins replay the batch family bit-exactly: " +
      "native session_window sessions, funnel advances, transition pairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val eventsDf = Tables.table(spark, sf("sf0.001"), "events")
      .withColumn("ts", org.apache.spark.sql.functions.col("ts")
        .cast("timestamp"))
      .select("event_id", "ts", "user_id", "event_type", "value")
    // exact-micros sort: getTime truncates to millis, and a micro-level
    // inversion at a batch boundary would break the folds' in-order
    // ingest contract
    def micros(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    val evs = eventsDf.as[Streaming.ClickEvent].collect()
      .sortBy(e => (micros(e.ts), e.event_id))
    val steps = Seq("view", "click", "purchase")

    // batch truths over the same rows
    val wantSessions = graft.operators.EventAnalytics
      .sessionize(eventsDf).collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("session_start")) ->
        ((r.getAs[Long]("session_end"), r.getAs[Long]("n_events"),
          r.getAs[Long]("value_q"), r.getAs[Long]("duration_us")))).toMap
    val wantAdvances = graft.operators.EventAnalytics
      .funnel(eventsDf, steps).collect().flatMap { r =>
        (1 to steps.size).flatMap(i =>
          if (r.isNullAt(r.fieldIndex(s"t$i"))) None
          else Some((r.getAs[Long]("user_id"), i,
            r.getAs[Long](s"t$i"))))
      }.toSet
    val wantPairs = graft.operators.EventAnalytics
      .transitions(eventsDf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n"))
      .toMap

    val in = MemoryStream[Streaming.ClickEvent]
    val qs = Streaming.streamingSessionize(in.toDF()).writeStream
      .outputMode("append").format("memory").queryName("ssess").start()
    val qf = Streaming.streamingFunnelSteps(in.toDS(), steps).writeStream
      .outputMode("append").format("memory").queryName("sfun").start()
    val qt = Streaming.streamingTransitionPairs(in.toDS()).writeStream
      .outputMode("append").format("memory").queryName("strans").start()
    def drain(): Unit = {
      qs.processAllAvailable(); qf.processAllAvailable()
      qt.processAllAvailable()
    }
    val third = evs.length / 3
    in.addData(evs.take(third).toSeq: _*); drain()
    in.addData(evs.slice(third, 2 * third).toSeq: _*); drain()
    in.addData(evs.drop(2 * third).toSeq: _*); drain()
    // sentinel user far in the future: advances the session watermark
    // past every real session's close; its own session stays pending
    val sentinel = Streaming.ClickEvent(-1L,
      new java.sql.Timestamp(evs.map(_.ts.getTime).max +
        90L * 24 * 3600 * 1000), -1L, "view", 0.0)
    in.addData(sentinel); drain()
    qs.stop(); qf.stop(); qt.stop()

    val gotSessions = spark.table("ssess").collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("session_start")) ->
        ((r.getAs[Long]("session_end"), r.getAs[Long]("n_events"),
          r.getAs[Long]("value_q"), r.getAs[Long]("duration_us")))).toMap
    assert(wantSessions.nonEmpty)
    assert(gotSessions.keySet === wantSessions.keySet,
      s"missing ${(wantSessions.keySet -- gotSessions.keySet).take(3)}, " +
        s"extra ${(gotSessions.keySet -- wantSessions.keySet).take(3)}")
    wantSessions.foreach { case (k, v) =>
      assert(gotSessions(k) === v, s"session drift at $k")
    }

    val gotAdvances = spark.table("sfun").as[Streaming.FunnelAdvance]
      .collect().filter(_.user_id >= 0) // drop the sentinel's own advance
      .map(a => (a.user_id, a.step, a.tsu)).toSet
    assert(wantAdvances.nonEmpty)
    assert(gotAdvances === wantAdvances)

    val gotPairs = spark.table("strans").as[Streaming.TransitionPair]
      .collect().groupBy(p => (p.event_type, p.next_type)).view
      .mapValues(_.length.toLong).toMap
    assert(wantPairs.nonEmpty)
    assert(gotPairs === wantPairs)
  }

  test("streaming session paths and bounce flags replay the batch " +
      "tables bit-exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val eventsDf = Tables.table(spark, sf("sf0.001"), "events")
      .withColumn("ts", org.apache.spark.sql.functions.col("ts")
        .cast("timestamp"))
      .select("event_id", "ts", "user_id", "event_type", "value")
    def micros(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    val evs = eventsDf.as[Streaming.ClickEvent].collect()
      .sortBy(e => (micros(e.ts), e.event_id))

    val wantPaths = graft.operators.EventAnalytics
      .sessionPaths(eventsDf).collect()
      .map(r => r.getAs[String]("path") -> r.getAs[Long]("n_sessions"))
      .toMap
    val wantBounce = graft.operators.EventAnalytics
      .bounceRate(eventsDf).collect()
      .map(r => r.getAs[Long]("period") ->
        ((r.getAs[Long]("n_sessions"), r.getAs[Long]("n_bounce"),
          r.getAs[Double]("bounce_rate")))).toMap
    assert(wantPaths.nonEmpty && wantBounce.nonEmpty)

    val in = MemoryStream[Streaming.ClickEvent]
    val qp = Streaming.streamingSessionPaths(in.toDS()).writeStream
      .outputMode("append").format("memory").queryName("spath").start()
    val qb = Streaming.streamingSessionBounce(in.toDF()).writeStream
      .outputMode("append").format("memory").queryName("sbounce").start()
    def drain(): Unit = {
      qp.processAllAvailable(); qb.processAllAvailable()
    }
    val third = evs.length / 3
    in.addData(evs.take(third).toSeq: _*); drain()
    in.addData(evs.slice(third, 2 * third).toSeq: _*); drain()
    in.addData(evs.drop(2 * third).toSeq: _*); drain()
    // per-user closers far in the future: the paths fold only closes a
    // session when the SAME user speaks again; the same events push the
    // session watermark past every real close for the bounce side (the
    // closers' own sessions stay pending in both)
    val farTs = new java.sql.Timestamp(
      evs.map(_.ts.getTime).max + 90L * 24 * 3600 * 1000)
    val closers = evs.map(_.user_id).distinct.zipWithIndex.map {
      case (u0, i) =>
        Streaming.ClickEvent(900000L + i, farTs, u0, "x", 0.0)
    }
    in.addData(closers.toSeq: _*); drain()
    qp.stop(); qb.stop()

    val gotPaths = spark.table("spath").as[Streaming.SessionPath]
      .collect().groupBy(_.path).view.mapValues(_.length.toLong).toMap
    assert(gotPaths === wantPaths)

    // the monoid replay: per-period counts + one IEEE division
    val flags = spark.table("sbounce").collect()
      .map(r => (r.getAs[Long]("period"), r.getAs[Long]("is_bounce")))
    val gotBounce = flags.groupBy(_._1).view.mapValues { fs =>
      val n = fs.length.toLong
      val b = fs.map(_._2).sum
      (n, b, b.toDouble / n.toDouble)
    }.toMap
    assert(gotBounce === wantBounce)
  }

  test("funnel summary is a monoid replay of streamed advances") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val eventsDf = Tables.table(spark, sf("sf0.001"), "events")
      .withColumn("ts", org.apache.spark.sql.functions.col("ts")
        .cast("timestamp"))
      .select("event_id", "ts", "user_id", "event_type", "value")
    def micros(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    val evs = eventsDf.as[Streaming.ClickEvent].collect()
      .sortBy(e => (micros(e.ts), e.event_id))
    val steps = Seq("view", "click", "purchase")
    val want = graft.operators.EventAnalytics
      .funnelSummary(eventsDf, steps).collect()
      .map(r => r.getAs[Long]("step") ->
        ((r.getAs[Long]("n_reached"),
          Option(r.getAs[java.lang.Double]("conversion"))
            .map(_.doubleValue())))).toMap
    val in = MemoryStream[Streaming.ClickEvent]
    val q = Streaming.streamingFunnelSteps(in.toDS(), steps).writeStream
      .outputMode("append").format("memory").queryName("sfsum").start()
    val half = evs.length / 2
    in.addData(evs.take(half).toSeq: _*); q.processAllAvailable()
    in.addData(evs.drop(half).toSeq: _*); q.processAllAvailable()
    q.stop()
    // each user emits each reached step exactly once, so counting
    // advances per step IS n_reached; conversions are the same IEEE
    // division of those exact counts
    val byStep = spark.table("sfsum").as[Streaming.FunnelAdvance]
      .collect().groupBy(_.step).view.mapValues(_.length.toLong).toMap
    val got = steps.indices.map { i =>
      val n = byStep.getOrElse(i + 1, 0L)
      (i + 1).toLong -> ((n,
        if (i == 0) None
        else Some(n.toDouble / byStep.getOrElse(i, 0L).toDouble)))
    }.toMap
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("streaming type-firsts replay the batch event-lift table " +
      "bit-exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val eventsDf = Tables.table(spark, sf("sf0.001"), "events")
      .withColumn("ts", org.apache.spark.sql.functions.col("ts")
        .cast("timestamp"))
      .select("event_id", "ts", "user_id", "event_type", "value")
    def micros(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    val evs = eventsDf.as[Streaming.ClickEvent].collect()
      .sortBy(e => (micros(e.ts), e.event_id))
    val want = graft.operators.EventAnalytics.eventLift(eventsDf)
      .collect()
      .map(r => (r.getAs[String]("type_a"), r.getAs[String]("type_b")) ->
        ((r.getAs[Long]("n_ab"), r.getAs[Long]("n_a"),
          r.getAs[Long]("n_b"), r.getAs[Long]("n_users"),
          r.getAs[Double]("support"), r.getAs[Double]("lift")))).toMap
    assert(want.nonEmpty)
    val in = MemoryStream[Streaming.ClickEvent]
    val q = Streaming.streamingTypeFirsts(in.toDS()).writeStream
      .outputMode("append").format("memory").queryName("stf").start()
    val half = evs.length / 2
    in.addData(evs.take(half).toSeq: _*); q.processAllAvailable()
    in.addData(evs.drop(half).toSeq: _*); q.processAllAvailable()
    q.stop()
    val hits = spark.table("stf").as[Streaming.TypeFirst].collect()
    assert(hits.map(h => (h.user_id, h.event_type)).distinct.length ===
      hits.length, "duplicate type-first emitted")
    // the monoid replay: per-type counts, per-user pairs, then the
    // batch op's exact ratio expressions
    val nUsers = hits.map(_.user_id).distinct.length.toLong
    val tc = hits.groupBy(_.event_type).view.mapValues(_.length.toLong)
    val got = hits.groupBy(_.user_id).values.toSeq.flatMap { hs =>
      val ts = hs.map(_.event_type).sorted.toSeq
      for (a <- ts; b <- ts if a < b) yield (a, b)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      .map { case ((a, b), nAb) =>
        (a, b) -> ((nAb, tc(a), tc(b), nUsers,
          nAb.toDouble / nUsers.toDouble,
          (nAb.toDouble * nUsers.toDouble) /
            (tc(a).toDouble * tc(b).toDouble)))
      }
    assert(got === want)
  }

  test("streaming retention hits replay the batch cohort matrix " +
      "bit-exactly, including derived cohort_size and retained_frac") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val eventsDf = Tables.table(spark, sf("sf0.001"), "events")
      .withColumn("ts", org.apache.spark.sql.functions.col("ts")
        .cast("timestamp"))
      .select("event_id", "ts", "user_id", "event_type", "value")
    def micros(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    val evs = eventsDf.as[Streaming.ClickEvent].collect()
      .sortBy(e => (micros(e.ts), e.event_id))

    // batch truth: full cohort matrix with derived columns
    val want = graft.operators.EventAnalytics.retentionCohorts(eventsDf)
      .collect()
      .map(r => (r.getAs[Long]("cohort"), r.getAs[Long]("offset")) ->
        ((r.getAs[Long]("n_users"), r.getAs[Long]("cohort_size"),
          r.getAs[Double]("retained_frac")))).toMap
    assert(want.nonEmpty)
    assert(want.exists(_._1._2 > 0L), "fixture has no off-cohort activity")

    val in = MemoryStream[Streaming.ClickEvent]
    val q = Streaming.streamingRetentionHits(in.toDS()).writeStream
      .outputMode("append").format("memory").queryName("sret").start()
    val third = evs.length / 3
    in.addData(evs.take(third).toSeq: _*); q.processAllAvailable()
    in.addData(evs.slice(third, 2 * third).toSeq: _*)
    q.processAllAvailable()
    in.addData(evs.drop(2 * third).toSeq: _*); q.processAllAvailable()
    q.stop()

    // the monoid replay: count hits per (cohort, offset), then derive
    // cohort_size / retained_frac by the batch expressions
    val hits = spark.table("sret").as[Streaming.RetentionHit].collect()
    assert(hits.map(h => (h.user_id, h.offset)).distinct.length ===
      hits.length, "duplicate hit emitted")
    val counts = hits.groupBy(h => (h.cohort, h.offset)).view
      .mapValues(_.length.toLong).toMap
    val sizes = counts.collect { case ((c, 0L), n) => c -> n }
    val got = counts.map { case ((c, o), n) =>
      (c, o) -> ((n, sizes(c), n.toDouble / sizes(c).toDouble))
    }
    assert(got === want)
  }

  test("dwell buckets and rfm serve from a batch boundary snapshot: " +
      "streamed ≡ batch (VERDICT r11 #6)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val eventsDf = Tables.table(spark, sf("sf0.001"), "events")
      .withColumn("ts", org.apache.spark.sql.functions.col("ts")
        .cast("timestamp"))
      .select("event_id", "ts", "user_id", "event_type", "value")
    def micros(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    val evs = eventsDf.as[Streaming.ClickEvent].collect()
      .sortBy(e => (micros(e.ts), e.event_id))
    import graft.operators.EventAnalytics

    // cut both boundary snapshots batch-side (the ppl pattern); pin the
    // snapshot to a LocalRelation so both front doors read the same rows
    val dwellBounds = graft.functions.localRelation(
      EventAnalytics.dwellPercentiles(eventsDf))
    val rfmBounds = graft.functions.localRelation(
      EventAnalytics.rfmBounds(eventsDf))

    // batch truths: the same compare-to-boundary classification
    def dwellRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(r =>
        Seq("user_id", "tsu", "event_type", "dwell_us", "bucket")
          .map(c => r.getAs[Any](c).toString).mkString("|"))
        .sorted.toSeq
    val wantDwell = dwellRows(EventAnalytics.assignDwellBuckets(
      EventAnalytics.dwellIntervals(eventsDf), dwellBounds))
    assert(wantDwell.nonEmpty)
    val wantRfm = EventAnalytics.rfmApply(
        EventAnalytics.rfmUserStats(eventsDf), rfmBounds)
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("recency_us"), r.getAs[Long]("frequency"),
          r.getAs[Long]("monetary_q"), r.getAs[Long]("r_score"),
          r.getAs[Long]("f_score"), r.getAs[Long]("m_score"),
          r.getAs[Long]("rfm_code")))).toMap
    assert(wantRfm.nonEmpty)
    assert(wantRfm.values.map(_._7).toSet.size > 1,
      "fixture must spread across rfm codes")

    val in = MemoryStream[Streaming.ClickEvent]
    val qd = Streaming.streamingDwellBucket(in.toDS(), dwellBounds)
      .writeStream.outputMode("append").format("memory")
      .queryName("sdwell").start()
    val qr = Streaming.streamingRfm(in.toDS(), rfmBounds)
      .writeStream.outputMode("append").format("memory")
      .queryName("srfm").start()
    val third = evs.length / 3
    def drain(): Unit = {
      qd.processAllAvailable(); qr.processAllAvailable()
    }
    in.addData(evs.take(third).toSeq: _*); drain()
    in.addData(evs.slice(third, 2 * third).toSeq: _*); drain()
    in.addData(evs.drop(2 * third).toSeq: _*); drain()
    qd.stop(); qr.stop()

    val gotDwell = dwellRows(spark.table("sdwell"))
    assert(gotDwell === wantDwell,
      "streamed dwell buckets diverge from the batch snapshot path")

    // rfm serves one row per touched user per batch: the LAST serving
    // row per user is the final state
    val gotRfm = spark.table("srfm").as[Streaming.RfmServing].collect()
      .zipWithIndex.groupBy(_._1.user_id).view
      .mapValues(_.maxBy(_._2)._1).toMap
    assert(gotRfm.keySet === wantRfm.keySet)
    wantRfm.foreach { case (uid, w) =>
      val g = gotRfm(uid)
      assert((g.recency_us, g.frequency, g.monetary_q, g.r_score,
        g.f_score, g.m_score, g.rfm_code) === w, s"rfm drift at $uid")
    }
  }

  test("navigation entropy serves from stream state: last serving row " +
      "per user ≡ the batch lnQ pipeline bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val eventsDf = Tables.table(spark, sf("sf0.001"), "events")
      .withColumn("ts", org.apache.spark.sql.functions.col("ts")
        .cast("timestamp"))
      .select("event_id", "ts", "user_id", "event_type", "value")
    val want = graft.operators.ActivityStats.navEntropy(eventsDf)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          if (r.isNullAt(5)) None else Some(r.getDouble(5))))).toMap
    assert(want.nonEmpty)
    assert(want.values.exists(_._5.isDefined),
      "fixture must have a multi-type user")
    val evs = eventsDf.as[Streaming.ClickEvent].collect()
    val in = MemoryStream[Streaming.ClickEvent]
    val q = Streaming.streamingNavEntropy(in.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("snav").start()
    val third = evs.length / 3
    in.addData(evs.take(third).toSeq: _*); q.processAllAvailable()
    in.addData(evs.slice(third, 2 * third).toSeq: _*)
    q.processAllAvailable()
    in.addData(evs.drop(2 * third).toSeq: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("snav").as[Streaming.NavEntropyServing]
      .collect().zipWithIndex.groupBy(_._1.user_id).view
      .mapValues(_.maxBy(_._2)._1).toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (uid, w) =>
      val g = got(uid)
      assert((g.n_types, g.n_events, g.sum_clnq, g.entropy,
        g.norm_entropy) === w, s"nav entropy drift at user $uid")
    }
  }

  test("streaming return correlation: after a sentinel closer the " +
      "serving pair rows ARE the batch returnCorr bit-exactly " +
      "(VERDICT r15 #3 — associative Pearson component sums)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ups = Tables.updatesDs(spark, sf("sf0.001")).collect()
      .sortBy(u0 => (u0.ts, u0.seq))
    val maxTs = ups.map(_.ts).max
    // ONE far-future closer advances the GLOBAL coarse clock and
    // closes every symbol's open bucket; its own single-symbol bucket
    // forms no pair, so batch(ups + closer) is comparable directly
    val closer = graft.model.Update("zz_close", maxTs + 7200L * 1000,
      9900L, is_trade = true, is_bid = true, 1.0, 1.0)
    val all = ups.toSeq :+ closer
    def optD(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    // hourly buckets: at sf0.001 minute buckets barely overlap
    // across symbols (no pairs — the known cross-symbol pin pitfall)
    val want = graft.operators.Microstructure
      .returnCorr(updatesDf(all), seconds = 3600L).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), Some(r.getDouble(3)), Some(r.getDouble(4)),
          Some(r.getDouble(5)), Some(r.getDouble(6)),
          Some(r.getDouble(7)), optD(r, 8))))
      .toMap
    val in = MemoryStream[Update]
    val q = Streaming.streamingReturnCorr(in.toDS(), seconds = 3600L)
      .writeStream
      .outputMode("append").format("memory").queryName("srcorr16")
      .start()
    // buckets and pair state straddle micro-batches
    val (b1, b2) = ups.splitAt(ups.length / 2)
    in.addData(b1.toSeq: _*); q.processAllAvailable()
    in.addData(b2.toSeq: _*); q.processAllAvailable()
    in.addData(closer); q.processAllAvailable()
    q.stop()
    val got = spark.table("srcorr16").as[Streaming.EppsCorrRow]
      .collect().zipWithIndex
      .groupBy(r => (r._1.symbol_a, r._1.symbol_b)).view
      .mapValues(_.maxBy(_._2)._1).toMap
    assert(want.nonEmpty)
    assert(got.keySet === want.keySet, "pair set drift")
    want.foreach { case (k, w) =>
      val g = got(k)
      assert((g.n_pairs, g.sum_x, g.sum_y, g.sum_xy, g.sum_xx,
        g.sum_yy, g.return_corr) === w, s"return-corr drift at $k")
    }
  }

  test("streaming Epps ladder: after a sentinel closer every " +
      "(pair, scale) serving row IS the batch eppsEffect bit-exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // hourly ladder: the sf0.001 cross-symbol overlap scale
    val scales = Seq(3600L, 7200L, 21600L)
    val ups = Tables.updatesDs(spark, sf("sf0.001")).collect()
      .sortBy(u0 => (u0.ts, u0.seq))
    val maxTs = ups.map(_.ts).max
    val closer = graft.model.Update("zz_close", maxTs + 7200L * 1000,
      9901L, is_trade = true, is_bid = true, 1.0, 1.0)
    val all = ups.toSeq :+ closer
    def optD(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val want = graft.operators.Microstructure
      .eppsEffect(updatesDf(all), scales).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) ->
        ((r.getLong(3), optD(r, 4))))
      .toMap
    val in = MemoryStream[Update]
    val q = Streaming.streamingEppsEffect(in.toDS(), scales)
      .writeStream.outputMode("append").format("memory")
      .queryName("sepps16").start()
    val (b1, b2) = ups.splitAt(ups.length / 2)
    in.addData(b1.toSeq: _*); q.processAllAvailable()
    in.addData(b2.toSeq: _*); q.processAllAvailable()
    in.addData(closer); q.processAllAvailable()
    q.stop()
    val got = spark.table("sepps16").as[Streaming.EppsCorrRow]
      .collect().zipWithIndex
      .groupBy(r => (r._1.symbol_a, r._1.symbol_b, r._1.scale_s)).view
      .mapValues(_.maxBy(_._2)._1).toMap
    assert(want.nonEmpty)
    assert(got.keySet === want.keySet, "(pair, scale) set drift")
    want.foreach { case (k, (n, corr)) =>
      val g = got(k)
      assert((g.n_pairs, g.return_corr) === ((n, corr)),
        s"epps drift at $k")
    }
  }
}
