package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.{Candle, Update}
import graft.operators.Orderbook
import graft.operators.Orderbook.LevelCell
import graft.server.CommandParser

/** Structured-Streaming rebuild of the reference's server loop
  * (SURVEY §2.8): text-line ingest (T2), incremental per-book orderbook
  * state (the broker's `Book.orderbook`, `state.rs:127-141`), and
  * SUBSCRIBE-style fan-out (T3) as a per-symbol filtered stream.
  *
  * The reference drops late/overlapping data at flush and keeps no
  * watermarks. Only the windowed-aggregation twins below (time, VWAP,
  * trade-imbalance, bucket-spread and order-trade-ratio bars) add
  * event-time watermarking, a documented new capability (T6). The
  * stateful folds keep no watermark and are built on [[keyedFold]]. The
  * tick folds share the reference's rule ([[tickFold]]): a row below its
  * key's (ts, seq) high-water mark is dropped. The document and click
  * folds keep their arrival-order contracts, and the four TTL twins
  * expire state by event time.
  */
object Streaming {

  /** ADC/IVF-PQ serving join dispatch bound: corpora whose code tables fit
    * comfortably in an executor broadcast (~1M (s,cid) rows ≈ 25 MB)
    * broadcast the STATIC codes; anything larger keeps the codes in place
    * and broadcasts the per-micro-batch query LUT instead — either way,
    * no per-trigger shuffle of the bigger side. */
  val BroadcastCodesMaxRows: Long = 1000000L

  /** The input of a stateful twin: installs [[LocalCheckpointFileManager]]
    * on its session, so the query's offsets and commits logs and its
    * state files are written without forked processes on local paths.
    * Called when the twin is built, since `start()` reads the manager
    * class from the session. */
  private def localCheckpoints[T](ds: Dataset[T]): Dataset[T] = {
    LocalCheckpointFileManager.install(ds.sparkSession)
    ds
  }

  /** Ingest deserializer (S7): lines like
    * `"1505177459.658, 139010, t, f, 0.0703629, 7.65064249; bookname"`
    * — here the stream carries (book, line) pairs; malformed lines drop
    * (the reference returns an error string per bad line). */
  def parseLines(lines: Dataset[(String, String)]): Dataset[Update] = {
    import lines.sparkSession.implicits._
    lines.flatMap { case (book, line) =>
      CommandParser.parseLine(line).map(_.copy(symbol = book))
    }
  }

  /** Per-symbol book state: the [[graft.operators.Orderbook.step]] book,
    * updated incrementally per micro-batch (key = symbol — bounded state:
    * live price levels only, SURVEY §7.4-7). Emits (symbol, best_bid,
    * best_ask, mid, n_levels) after each batch. */
  case class BookTop(symbol: String, best_bid: Double, best_ask: Double,
      mid: Double, n_levels: Int)

  def streamingBookTop(updates: Dataset[Update], decimals: Int = 2)
      : Dataset[BookTop] = {
    import updates.sparkSession.implicits._
    val mult = math.pow(10, decimals)
    tickFold[String, Map[Long, LevelCell], BookTop](updates, _.symbol,
      _ => true, Map.empty)(
      (_, b, u, _) => Orderbook.step(b, u, mult),
      (sym, b) => {
        val (bids, asks) = Orderbook.sides(b)
        if (bids.isEmpty || asks.isEmpty) None
        else {
          val bb = bids.keysIterator.max / mult
          val ba = asks.keysIterator.min / mult
          Some(BookTop(sym, bb, ba, (bb + ba) / 2, b.size))
        }
      })
  }

  /** Streaming 1-minute OHLCV bars with watermarking (T6 — new capability
    * vs. the reference). */
  def streamingTimeBars(updates: DataFrame, seconds: Long = 60): DataFrame =
    localCheckpoints(updates)
      .withColumn("event_time",
        timestamp_millis(graft.functions.fillDigits(col("ts"))))
      .withWatermark("event_time", "10 minutes")
      .where(col("is_trade"))
      .groupBy(col("symbol"),
        window(col("event_time"), s"$seconds seconds"))
      .agg(
        min_by(col("price"), struct(col("ts"), col("seq"))).as("open"),
        max(col("price")).as("high"),
        min(col("price")).as("low"),
        max_by(col("price"), struct(col("ts"), col("seq"))).as("close"),
        sum(col("size")).as("volume"))
      .select(col("symbol"),
        unix_millis(col("window.start")).as("start"),
        unix_millis(col("window.end")).as("end"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))

  /** Streaming VWAP bars — the ingest-time twin of
    * [[graft.operators.Microstructure.vwapBars]]: a watermarked
    * windowed aggregation whose operands are the SAME decimal-exact
    * sums as the batch op (decimal addition is a commutative monoid,
    * so any micro-batch slicing/replay order lands on the batch value
    * bit-for-bit — the corpus-checksum stance), with the vwap ratio
    * as the same single IEEE division. */
  def streamingVwapBars(updates: DataFrame, seconds: Long = 60)
      : DataFrame =
    localCheckpoints(updates)
      .withColumn("event_time",
        timestamp_millis(graft.functions.fillDigits(col("ts"))))
      .withWatermark("event_time", "10 minutes")
      .where(col("is_trade"))
      .groupBy(col("symbol"),
        window(col("event_time"), s"$seconds seconds"))
      .agg(
        count(lit(1)).as("n_trades"),
        graft.functions.exactSum(
          graft.operators.Microstructure.finiteSize).as("volume"),
        graft.functions.exactSumProduct(
          graft.operators.Microstructure.finitePrice,
          graft.operators.Microstructure.finiteSize)
          .as("turnover"))
      .select(col("symbol"),
        unix_millis(col("window.start")).divide(1000).cast("long")
          .as("start"),
        col("n_trades"), col("volume"), col("turnover"),
        when(col("volume") =!= 0.0d, col("turnover") / col("volume"))
          .as("vwap"))

  /** Streaming trade-flow imbalance — twin of
    * [[graft.operators.Microstructure.tradeImbalance]], same monoid
    * decimal sums per side, same guarded ratio. */
  def streamingTradeImbalance(updates: DataFrame, seconds: Long = 60)
      : DataFrame =
    localCheckpoints(updates)
      .withColumn("event_time",
        timestamp_millis(graft.functions.fillDigits(col("ts"))))
      .withWatermark("event_time", "10 minutes")
      .where(col("is_trade"))
      .groupBy(col("symbol"),
        window(col("event_time"), s"$seconds seconds"))
      .agg(
        graft.functions.exactSum(
          when(col("is_bid"), graft.operators.Microstructure.finiteSize)
            .otherwise(0.0d)).as("buy_vol"),
        graft.functions.exactSum(
          when(!col("is_bid"), graft.operators.Microstructure.finiteSize)
            .otherwise(0.0d))
          .as("sell_vol"))
      .select(col("symbol"),
        unix_millis(col("window.start")).divide(1000).cast("long")
          .as("start"),
        col("buy_vol"), col("sell_vol"),
        when(col("buy_vol") + col("sell_vol") =!= 0.0d,
          (col("buy_vol") - col("sell_vol")) /
            (col("buy_vol") + col("sell_vol"))).as("imbalance"))

  /** Streaming end-of-bucket quote state — twin of
    * [[graft.operators.Microstructure.bucketSpread]]: the per-side
    * `max_by` over `(ts, seq)` is itself a commutative aggregate (max
    * of a total order), so the watermarked windowed aggregation
    * replays the batch buckets bit-exactly in any arrival order.
    *
    * Watermark caveat (applies to every filtered twin here): Catalyst
    * pushes the row-kind filter below the EventTimeWatermark node, so
    * this query's watermark advances only on LEVEL rows — a quiet
    * trade-only feed does not close quote windows (and vice versa for
    * the trade twins). Deliberate: it matches per-stream-kind ingest
    * topologies, and StreamingSpec pins it. */
  def streamingBucketSpread(updates: DataFrame, seconds: Long = 60)
      : DataFrame = {
    def sideLast(side: org.apache.spark.sql.Column) =
      max_by(when(side, col("price")),
        when(side, struct(col("ts"), col("seq"))))
    localCheckpoints(updates)
      .withColumn("event_time",
        timestamp_millis(graft.functions.fillDigits(col("ts"))))
      .withWatermark("event_time", "10 minutes")
      .where(!col("is_trade") && col("size") > 0.0d)
      .groupBy(col("symbol"),
        window(col("event_time"), s"$seconds seconds"))
      .agg(
        sideLast(col("is_bid")).as("last_bid"),
        sideLast(!col("is_bid")).as("last_ask"))
      .select(col("symbol"),
        unix_millis(col("window.start")).divide(1000).cast("long")
          .as("start"),
        col("last_bid"), col("last_ask"),
        (col("last_ask") - col("last_bid")).as("spread"),
        ((col("last_bid") + col("last_ask")) / 2.0d).as("mid"))
  }

  /** SUBSCRIBE fan-out (T3): one filtered streaming view per book. */
  def subscribe(updates: Dataset[Update], book: String): Dataset[Update] =
    updates.filter(_.symbol == book)

  /** A book's dedup high-water mark: the largest (ts, seq) emitted
    * ((Long.MinValue, Long.MinValue) before the first). */
  case class DedupMark(ts: Long, seq: Long)

  /** Streaming dedup on a per-book (ts, seq) high-water mark — the
    * reference's append rule (S6, `file_format.rs:780-819`): a row at or
    * below its book's mark is dropped, so replayed or overlapping frames
    * (the case the reference's append path panics on) collapse, and a row
    * that arrives after a newer row of its book is dropped as late. Rows of
    * a book fold in (ts, seq) order within a micro-batch; every emitted row
    * advances the mark. State is the mark alone, one row per book. There is
    * no watermark: a moving watermark costs a dataless trigger after every
    * data batch, and a watermark on a key without event time never evicted
    * any state. */
  def streamingDedup(updates: Dataset[Update]): Dataset[Update] = {
    import updates.sparkSession.implicits._
    // at or below the mark is dropped: stricter than tickFold's rule,
    // which folds a row equal to its mark
    keyedFold[Update, String, DedupMark, Update](updates, _.symbol,
      DedupMark(Long.MinValue, Long.MinValue))(
      _.sortBy(u => (u.ts, u.seq)),
      (_, mark, u, out) =>
        if (u.ts > mark.ts || (u.ts == mark.ts && u.seq > mark.seq)) {
          out(u)
          DedupMark(u.ts, u.seq)
        } else mark)
  }

  /** Streaming as-of join (the incremental twin of
    * [[graft.operators.AsofJoin.tradesWithQuote]]): per-symbol state is
    * just the prevailing quote (price, ts) — O(1) per key — carried across
    * micro-batches; each trade emits joined to that state. Rows process
    * in (ts, seq) order; trades before any quote emit with no quote
    * fields (None), matching the batch operator's NULLs. A row below the
    * symbol's (ts, seq) mark is dropped ([[tickFold]]): a late trade
    * would otherwise join a newer quote than the batch operator gives
    * it, and a late quote would regress the prevailing one. */
  case class TradeQuote(symbol: String, ts: Long, seq: Long, price: Double,
      quote_price: Option[Double], quote_ts: Option[Long],
      slippage: Option[Double])

  def streamingAsof(updates: Dataset[Update]): Dataset[TradeQuote] = {
    import updates.sparkSession.implicits._
    val NoQuote = Long.MinValue // state = (price, ts) of the prevailing quote
    tickFold[String, (Double, Long), TradeQuote](updates, _.symbol,
      _ => true, (0.0d, NoQuote))(
      (sym, q, u, out) =>
        if (!u.is_trade) (u.price, u.ts)
        else {
          val p = Option.when(q._2 != NoQuote)(q)
          out(TradeQuote(sym, u.ts, u.seq, u.price, p.map(_._1), p.map(_._2),
            p.map(u.price - _._1)))
          q
        })
  }

  /** Streaming reset-semantics volume bars: the FoldBars state machine
    * (`volume_bars.rs:20-103`) carried across micro-batches via
    * flatMapGroupsWithState, key = symbol. Closed bars emit as soon as the
    * accumulator crosses the interval; the in-progress candle and elapsed
    * weight live in bounded per-symbol state. Same sampler quirks as the
    * batch fold (boundary trade starts the next bar, first trade of a run
    * never feeds the accumulator). Rows fold in (ts, seq) order; a row
    * below the symbol's (ts, seq) mark is dropped ([[tickFold]]), so a
    * late trade neither extends the open bar nor feeds the accumulator,
    * and the bars are those of the feed without it. A trade equal to
    * the mark, a repeated row, still folds, as in the batch fold. */
  case class BarState(cur: Option[Candle], elapsed: Double)

  def streamingVolumeBars(updates: Dataset[Update], interval: Double)
      : Dataset[Candle] = {
    import updates.sparkSession.implicits._
    tickFold[String, BarState, Candle](updates, _.symbol, _.is_trade,
      BarState(None, 0.0))(
      (sym, st, u, out) => st.cur match {
        case None =>
          BarState(Some(Candle(sym, u.ts, u.ts, u.price, u.price, u.price,
            u.price, u.size)), st.elapsed)
        case Some(c) =>
          val elapsed = st.elapsed + u.size
          if (elapsed > interval) { // is_sample: close, start next bar
            out(c)
            BarState(Some(Candle(sym, u.ts, u.ts, u.price, u.price,
              u.price, u.price, u.size)), 0.0)
          } else
            BarState(Some(Candle(sym, c.start, u.ts, c.open,
              math.max(c.high, u.price), math.min(c.low, u.price),
              u.price, c.volume + u.size)), elapsed)
      })
  }

  /** Per-symbol imbalance-bar state: the open candle, the exact
    * integer tick imbalance, and the tick-rule carry — O(1) per key. */
  case class ImbBarState(cur: Option[Candle], theta: Long,
      prevPrice: Double, hasPrev: Boolean, carry: Int)

  /** Tick imbalance bars on a STREAM — the ingest-time twin of
    * [[graft.operators.FoldBars.tickImbalanceBars]] (the
    * [[streamingVolumeBars]] shape): the integer reset accumulator and
    * tick-rule carry fold per symbol, emit-on-close, final partial bar
    * stays open (the fold twins' dropLast stance). Integer state, so
    * closed bars equal the batch fold bit-for-bit
    * (MicrostructureFuzzSpec). Non-finite prices/sizes raise loud (the
    * batch fold's own guards). Late trades follow [[tickFold]]'s mark,
    * the [[streamingVolumeBars]] rule. */
  def streamingTickImbalanceBars(updates: Dataset[Update],
      threshold: Long): Dataset[Candle] = {
    import updates.sparkSession.implicits._
    tickFold[String, ImbBarState, Candle](updates, _.symbol, _.is_trade,
      ImbBarState(None, 0L, 0.0d, hasPrev = false, 0))(
      (sym, st0, u, out) => {
        FiniteGuard.price("tickImbalanceBars", u)
        FiniteGuard.size("tickImbalanceBars", u)
        val b = SignedFlow.sign(u.price, st0.prevPrice, st0.hasPrev,
          st0.carry)
        val st = st0.copy(prevPrice = u.price, hasPrev = true, carry = b)
        st.cur match {
          case None =>
            st.copy(cur = Some(Candle(sym, u.ts, u.ts, u.price, u.price,
              u.price, u.price, u.size)), theta = 0L)
          case Some(c) =>
            if (math.abs(st.theta + b) > threshold) {
              out(c)
              st.copy(cur = Some(Candle(sym, u.ts, u.ts, u.price, u.price,
                u.price, u.price, u.size)), theta = 0L)
            } else
              st.copy(cur = Some(Candle(sym, c.start, u.ts, c.open,
                math.max(c.high, u.price), math.min(c.low, u.price),
                u.price, c.volume + u.size)), theta = st.theta + b)
        }
      })
  }

  /** Per-symbol decayed-intensity state: the open bucket's count and
    * the integer intensity after the last CLOSED bucket. */
  case class IntensityState(n: Long, iq: Long)
  case class IntensityRow(symbol: String, start: Long, n_trades: Long,
      intensity_q: Long, intensity: Double)

  /** Geometric-decay trade intensity on a STREAM — the ingest-time
    * twin of [[graft.operators.DecaySeries.tradeIntensity]]: the same
    * pure-integer recursion stepped at bucket close (emit-on-advance;
    * the final partial bucket stays open, the fold twins' dropLast
    * stance), so closed buckets equal the batch series bit-for-bit
    * (MicrostructureFuzzSpec). O(1) state per key. */
  def streamingTradeIntensity(updates: Dataset[Update],
      seconds: Long = 60, num: Long = 7, den: Long = 8)
      : Dataset[IntensityRow] = {
    import updates.sparkSession.implicits._
    require(num >= 0 && den > 0 && num < den,
      "decay num/den must be a proper fraction")
    bucketFold[String, IntensityState, IntensityRow](updates, seconds,
      _.symbol, _.is_trade, IntensityState(0L, 0L))(
      add = (_, st, _) => st.copy(n = st.n + 1L),
      close = (sym, b, st, _, out) => {
        val iq = Math.addExact(Math.multiplyExact(st.n, 1000000L),
          Math.floorDiv(Math.multiplyExact(st.iq, num), den))
        out(IntensityRow(sym, b, st.n, iq, iq.toDouble / 1e6))
        IntensityState(0L, iq)
      })
  }

  /** Per-symbol EMA state: the open bucket's running close (cents) and
    * the integer EMA after the last CLOSED bucket. */
  case class EmaState(closeC: Long, eq: Long, seeded: Boolean)
  case class EmaRow(symbol: String, start: Long, close_cq: Long,
      ema_q: Long, ema: Double)

  /** Bucket-close EMA on a STREAM — the ingest-time twin of
    * [[graft.operators.DecaySeries.emaClose]] under the same integer
    * recursion and the same cents guards (non-finite and
    * out-of-exact-regime prices raise loud). Emit-on-advance, final
    * partial bucket open. */
  def streamingEmaClose(updates: Dataset[Update], seconds: Long = 60,
      num: Long = 7, den: Long = 8): Dataset[EmaRow] = {
    import updates.sparkSession.implicits._
    require(num >= 0 && den > 0 && num < den,
      "decay num/den must be a proper fraction")
    def centsOf(u: Update): Long = {
      FiniteGuard.price("emaClose", u)
      val c = math.floor(u.price * 100.0d + 0.5d)
      if (SqlOrd.gt(math.abs(c), 1.0e12d))
        throw new ArithmeticException("emaClose: price outside the " +
          "exact-decimal regime at symbol=" + u.symbol)
      c.toLong
    }
    bucketFold[String, EmaState, EmaRow](updates, seconds, _.symbol,
      u => u.is_trade && SqlOrd.gt(u.price, 0.0),
      EmaState(0L, 0L, seeded = false))(
      add = (_, st, u) => st.copy(closeC = centsOf(u)),
      close = (sym, b, st, _, out) => {
        val cq = Math.multiplyExact(st.closeC, 10000L)
        val eq =
          if (!st.seeded) cq
          else Math.floorDiv(Math.addExact(
            Math.multiplyExact(cq, den - num),
            Math.multiplyExact(st.eq, num)), den)
        out(EmaRow(sym, b, cq, eq, eq.toDouble / 1e6))
        st.copy(eq = eq, seeded = true)
      })
  }

  /** Per-symbol realized-volatility state: prevailing trade price (0 =
    * none yet; kept prices are positive) and the open bucket's exact
    * integer return accumulators. */
  case class RvState(lastPrice: Double, n: Long, sumSq: Long)
  case class RvBucket(symbol: String, start: Long, n_returns: Long,
      sum_sq_q: Long, rv: Double)

  /** Realized volatility on a STREAM — the ingest-time twin of
    * [[graft.operators.Microstructure.realizedVol]] as a per-symbol
    * ordered fold (the [[streamingVolumeBars]] shape): state is one
    * (lastPrice, open bucket, n, Σq²) tuple, O(1) per key. A return
    * belongs to the bucket of its LATER trade and closes the open
    * bucket when it lands in a newer one — emit-on-advance, so the
    * in-progress final bucket per symbol stays open (the fold twins'
    * dropLast stance). Same floor-quantized `ln` arithmetic as the
    * batch op on the same JVM, so emitted buckets match it bit-exactly
    * (StreamingSpec). */
  def streamingRealizedVol(updates: Dataset[Update],
      seconds: Long = 60): Dataset[RvBucket] = {
    import updates.sparkSession.implicits._
    bucketFold[String, RvState, RvBucket](updates, seconds, _.symbol,
      u => u.is_trade && SqlOrd.gt(u.price, 0.0), RvState(0.0d, 0L, 0L))(
      add = (_, st, u) => {
        FiniteGuard.price("realizedVol", u) // the batch finitePrice
        // no lag yet, or the ratio underflowed the double division: the
        // batch plan's Spark log(0.0) is NULL and the row's return DROPS
        // (it still serves as the next return's lag) — replicate that,
        // don't throw where the batch twin silently skips
        if (st.lastPrice == 0.0d || u.price / st.lastPrice == 0.0)
          st.copy(lastPrice = u.price)
        else {
          val q = math.floor(
            math.log(u.price / st.lastPrice) * 1e6).toLong
          // exact-or-throw, matching the batch op's guarded decimal
          // cast (a silent Long wrap would diverge from it)
          RvState(u.price, st.n + 1,
            Math.addExact(st.sumSq, Math.multiplyExact(q, q)))
        }
      },
      close = (sym, b, st, _, out) => {
        if (st.n > 0) out(RvBucket(sym, b, st.n, st.sumSq,
          math.sqrt(st.sumSq.toDouble) / 1e6))
        st.copy(n = 0L, sumSq = 0L)
      })
  }

  /** Streaming order-to-trade ratio — twin of
    * [[graft.operators.Microstructure.orderTradeRatio]]: STATELESS
    * beyond the windowed aggregation itself (two integer counts are a
    * commutative monoid), so any micro-batch slicing replays the batch
    * buckets bit-exactly. No row-kind filter → the watermark advances
    * on every update, unlike the filtered twins (their caveat does not
    * apply here). */
  def streamingOrderTradeRatio(updates: DataFrame, seconds: Long = 60)
      : DataFrame =
    localCheckpoints(updates)
      .withColumn("event_time",
        timestamp_millis(graft.functions.fillDigits(col("ts"))))
      .withWatermark("event_time", "10 minutes")
      .groupBy(col("symbol"),
        window(col("event_time"), s"$seconds seconds"))
      .agg(
        sum(when(!col("is_trade"), 1L).otherwise(0L)).as("n_levels"),
        sum(when(col("is_trade"), 1L).otherwise(0L)).as("n_trades"))
      .select(col("symbol"),
        unix_millis(col("window.start")).divide(1000).cast("long")
          .as("start"),
        col("n_levels"), col("n_trades"),
        when(col("n_trades") =!= 0L,
          col("n_levels").cast("double") / col("n_trades").cast("double"))
          .as("order_trade_ratio"))

  /** Per-(symbol, side) TWAP state: the OPEN level event (its duration
    * is unresolved until the side's next event arrives) plus the open
    * bucket's resolved accumulators. All-integer: durations are exact
    * ms, prices the batch op's round-half-up cents. Σdur within a
    * bucket is ≤ the bucket width in ms (prevailing intervals are
    * disjoint and clipped), so `wq ≤ width·cents` stays far inside a
    * long for any real price — the same bound the batch op's
    * decimal(12,0) operands encode. */
  case class TwapState(lastTs: Long, lastCents: Long, nEvents: Long,
      durMs: Long, wq: Long)
  case class TwapBucket(symbol: String, is_bid: Boolean, start: Long,
      n_events: Long, dur_ms: Long, twap: Option[Double])

  /** Bucket-local TWAP of quote prices on a STREAM — the ingest-time
    * twin of [[graft.operators.Microstructure.twapQuote]] as a
    * per-(symbol, side) ordered fold (the [[streamingRealizedVol]]
    * shape, keyed two-part because the batch window is). An event's
    * prevailing duration resolves when the side's NEXT event arrives —
    * `min(next ts, own bucket end) − ts`, the batch formula — and lands
    * in the event's own bucket; a later-bucket arrival closes the open
    * bucket (emit-on-advance, final in-progress bucket per key stays
    * open — the fold twins' dropLast stance). Same cents quantization
    * and twap division as the batch op on the same JVM → emitted
    * buckets match it bit-exactly (StreamingSpec). */
  def streamingTwapQuote(updates: Dataset[Update],
      seconds: Long = 60): Dataset[TwapBucket] = {
    import updates.sparkSession.implicits._
    val zero = TwapState(0L, 0L, 0L, 0L, 0L)
    /** Resolves the open event (bucket `b`) against an arrival at `ts`. */
    def resolve(st: TwapState, b: Long, ts: Long): TwapState = {
      val dur = math.max(0L, math.min(ts, (b + seconds) * 1000L) - st.lastTs)
      // exact-or-throw: wq is bounded by width·cents by design,
      // but a pathological price must fail loud, not wrap
      st.copy(durMs = st.durMs + dur,
        wq = Math.addExact(st.wq, Math.multiplyExact(dur, st.lastCents)))
    }
    bucketFold[(String, Boolean), TwapState, TwapBucket](updates, seconds,
      u => (u.symbol, u.is_bid), u => !u.is_trade && SqlOrd.gt(u.size, 0.0),
      zero)(
      add = (_, st, u) => {
        FiniteGuard.price("twapQuote", u) // the batch finitePrice
        val r = if (st.nEvents == 0L) st
          else resolve(st, Buckets.of(u.ts, seconds), u.ts)
        r.copy(lastTs = u.ts, lastCents = math.floor(u.price * 100d + 0.5d)
          .toLong, nEvents = r.nEvents + 1L)
      },
      close = (key, b, st, next, out) => {
        val r = resolve(st, b, next.ts)
        out(TwapBucket(key._1, key._2, b, r.nEvents, r.durMs,
          if (r.durMs != 0L) Some(r.wq.toDouble / r.durMs.toDouble / 100.0d)
          else None))
        zero
      })
  }

  /** Scalar twins of the batch ops' decimal(·,4) arithmetic, in a
    * standalone serializable holder so state-fold closures can call
    * them without capturing the (non-serializable) enclosing object. */
  private[graft] object Dec4 extends Serializable {
    /** Twin of `cast(x AS decimal(·,4))` INSIDE A SUM: Spark's
      * double→decimal cast parses the double's SHORTEST decimal
      * representation and rounds HALF_UP to scale 4 — reproduced here
      * on the unscaled long so streaming folds can sum exactly and
      * fail-loud on overflow instead of drifting. A NON-FINITE double
      * casts to decimal NULL under non-ANSI mode and `sum` skips the
      * null — the zero contribution here IS that skip (a corrupt
      * NaN/∞ feed value must not poison-pill the stream where the
      * batch plan silently drops it; MicrostructureFuzzSpec drives
      * both). */
    def dec4(d: Double): Long =
      if (java.lang.Double.isFinite(d))
        new java.math.BigDecimal(java.lang.Double.toString(d))
          .setScale(4, java.math.RoundingMode.HALF_UP)
          .unscaledValue().longValueExact()
      else 0L

    /** Twin of `cast(decimalValue AS double)` on a scale-4 sum. */
    def dec4ToDouble(unscaled: Long): Double =
      java.math.BigDecimal.valueOf(unscaled, 4).doubleValue()
  }

  /** Scalar twin of Spark SQL's (and DuckDB's) DOUBLE ordering: NaN is
    * GREATER than every other value and equal to itself — so
    * `size > 0.0` is TRUE for a NaN size in the batch plans, where
    * Scala's IEEE `>` says false. Every fold comparison that mirrors a
    * Column comparison must go through these (MicrostructureFuzzSpec
    * plants NaN sizes to hold the line). */
  private object SqlOrd extends Serializable {
    def gt(a: Double, b: Double): Boolean =
      if (a.isNaN) !b.isNaN
      else if (b.isNaN) false
      else a > b
    def lt(a: Double, b: Double): Boolean = gt(b, a)
  }

  /** Ingest-time mirror of the batch
    * [[graft.operators.Microstructure.finitePrice]] guard (ADVICE r11):
    * a non-finite price entering a fold's quantization/exact-sum path
    * fails loud exactly where the batch plan raises and the DuckDB
    * twins' casts error — silently quantizing NaN to 0 was the hazard.
    * Standalone serializable holder (the [[Dec4]] stance). */
  private object FiniteGuard extends Serializable {
    def price(op: String, u: Update): Unit =
      if (u.price.isNaN || u.price.isInfinite)
        throw new ArithmeticException(
          s"$op: non-finite price at symbol=" + u.symbol)
    def size(op: String, u: Update): Unit =
      if (u.size.isNaN || u.size.isInfinite)
        throw new ArithmeticException(
          s"$op: non-finite trade size at symbol=" + u.symbol)
  }

  /** The folds' shared bucket function — ONE definition of
    * `floor(fillDigits(ts)/1000/seconds)*seconds` so the bucketed
    * streaming twins ([[bucketFold]] and [[streamingEppsEffect]])
    * cannot silently diverge from each other (or from the batch ops'
    * `bucketed`). Standalone serializable holder, the [[Dec4]]
    * stance. */
  private object Buckets extends Serializable {
    def of(ts: Long, seconds: Long): Long = {
      val s = CommandParser.fillDigits(ts) / 1000L
      s / seconds * seconds
    }
  }

  /** The tick rule every signed fold shares. Serializable holder, the
    * [[Dec4]] stance. */
  private object SignedFlow extends Serializable {
    /** A trade's sign against the prevailing trade price: none yet → 0,
      * a zero tick carries the last non-zero sign `carry`. Compares
      * through [[SqlOrd]], which is plain `>`/`<` on finite prices, so
      * the folds that reject non-finite prices first (VPIN, tick
      * imbalance bars) sign exactly as their raw comparisons did. */
    def sign(price: Double, prev: Double, hasPrev: Boolean,
        carry: Int): Int = {
      val dir =
        if (!hasPrev) 0
        else if (SqlOrd.gt(price, prev)) 1
        else if (SqlOrd.lt(price, prev)) -1 else 0
      if (dir != 0) dir else carry
    }

    /** The step [[streamingKyleLambda]] and [[streamingFlowAutocorr]]
      * share: the trade's sign, and the open bucket's flow `fU` plus the
      * trade's signed scale-4 size. Returns (carry, fU). */
    def step(prev: Double, hasPrev: Boolean, carry0: Int, fU: Long,
        u: Update): (Int, Long) = {
      val carry = sign(u.price, prev, hasPrev, carry0)
      if (carry == 0) (carry, fU)
      else {
        // batch guard parity (finiteSize): classified non-finite size
        // raises in the plan — fail the same way here
        if (!java.lang.Double.isFinite(u.size))
          throw new ArithmeticException("signedFlow: non-finite trade size")
        val q = Dec4.dec4(u.size)
        (carry, Math.addExact(fU, if (carry == 1) q else -q))
      }
    }
  }

  /** The fold under every per-key state twin but the four TTL ones: each
    * micro-batch's rows group by `key`, `order` filters and orders a
    * key's rows, and `step` folds them one at a time into the key's
    * state (`zero` before its first row), emitting through its callback.
    * The state is written back when `order` kept a row; `serve` then
    * adds the key's current rows, once per micro-batch in which the key
    * has rows. There is no timeout, so state lives as long as the query
    * and each twin keeps its own per-key state bounded. The hooks must
    * capture only the twin's own parameters and the serializable holders
    * ([[Dec4]] stance). */
  private def keyedFold[I, K: Encoder, S: Encoder, O: Encoder](
      in: Dataset[I], key: I => K, zero: S)(
      order: Seq[I] => Seq[I], step: (K, S, I, O => Unit) => S,
      serve: (K, S) => IterableOnce[O] = (_: K, _: S) => Nil)
      : Dataset[O] = {
    def fn(k: K, rows: Iterator[I], state: GroupState[S]): Iterator[O] = {
      var st = state.getOption.getOrElse(zero)
      val out = Seq.newBuilder[O]
      val batch = order(rows.toSeq)
      batch.foreach(r => st = step(k, st, r, out += _))
      if (batch.nonEmpty) state.update(st)
      out ++= serve(k, st)
      out.result().iterator
    }
    localCheckpoints(in).groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
  }

  /** [[keyedFold]] over the updates passing `keep`, in (ts, seq) order,
    * with the late-row rule of every tick fold — the reference's append
    * rule (S6, `file_format.rs:780-819`): a key keeps the (ts, seq)
    * high-water mark of the rows it folded, and a row strictly below
    * the mark is dropped in whichever micro-batch it arrives, so the
    * output is the output of the same feed without it. A row equal to
    * the mark still folds: a feed that repeats a row, within a batch or
    * across batches, folds it twice, as the batch operators do. */
  private def tickFold[K: Encoder, S: Encoder, O: Encoder](
      updates: Dataset[Update], key: Update => K, keep: Update => Boolean,
      zero: S)(step: (K, S, Update, O => Unit) => S,
      serve: (K, S) => IterableOnce[O] = (_: K, _: S) => Nil)
      : Dataset[O] =
    keyedFold[Update, K, (Long, Long, S), O](updates, key,
      (Long.MinValue, Long.MinValue, zero))(
      _.filter(keep).sortBy(u => (u.ts, u.seq)),
      (k, m, u, out) =>
        if (u.ts < m._1 || (u.ts == m._1 && u.seq < m._2)) m
        else (u.ts, u.seq, step(k, m._3, u, out)),
      (k, m) => serve(k, m._3))(implicitly[Encoder[K]],
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        implicitly[Encoder[S]]), implicitly[Encoder[O]])

  /** The per-bucket [[tickFold]] the bucketed twins are built on. Each
    * row folds in its [[Buckets.of]] bucket: the first row opens a
    * bucket, a row of a later bucket closes the open one (`close` also
    * sees that row) and opens its own, and every row folds into the
    * state through `add`. A `side` row folds without opening or closing
    * a bucket (quotes that only refresh a prevailing price, trades that
    * only prime a lag).
    *
    * Late rows follow the tick fold's mark. It covers a row of a bucket
    * older than the open one, side rows included, since such a row is
    * older than the row that opened the open bucket: a late row neither
    * reopens nor re-emits a closed bucket.
    *
    * State is the open bucket (Long.MinValue before the first) beside
    * the twin's own `S`. A twin emits either one row per closed bucket
    * (through `close`'s callback) or its current row after every
    * micro-batch (`serve`). */
  private def bucketFold[K: Encoder, S: Encoder, O: Encoder](
      updates: Dataset[Update], seconds: Long, key: Update => K,
      keep: Update => Boolean, zero: S,
      side: (S, Update) => Boolean = (_: S, _: Update) => false)(
      add: (K, S, Update) => S,
      close: (K, Long, S, Update, O => Unit) => S,
      serve: (K, S) => Option[O] = (_: K, _: S) => None): Dataset[O] =
    tickFold[K, (Long, S), O](updates, key, keep, (Long.MinValue, zero))(
      (k, os, u, out) => {
        val (open, st) = os
        if (side(st, u)) (open, add(k, st, u))
        else {
          val b = Buckets.of(u.ts, seconds)
          (b, add(k, if (b > open && open != Long.MinValue)
            close(k, open, st, u, out) else st, u))
        }
      },
      (k, os) => serve(k, os._2))(implicitly[Encoder[K]],
      Encoders.tuple(Encoders.scalaLong, implicitly[Encoder[S]]),
      implicitly[Encoder[O]])

  /** A per-key regroup of rows that one micro-batch holds in full (a
    * query's candidates, a document's scored terms). Structured
    * Streaming refuses `flatMapGroups` on a stream, so this is a
    * `flatMapGroupsWithState` that never writes its state: the keys
    * (query or document ids) are unbounded, and a state row per key
    * would grow with the stream. */
  private def regroup[K: Encoder, V, O: Encoder](rows: Dataset[V])(
      key: V => K)(fn: (K, Iterator[V]) => Iterator[O]): Dataset[O] =
    localCheckpoints(rows).groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        (k: K, vs: Iterator[V], _: GroupState[Boolean]) => fn(k, vs))(
        Encoders.scalaBoolean, implicitly[Encoder[O]])

  /** Per-symbol tick-rule state: prevailing trade price (if any), the
    * running last-non-zero tick sign (0 = no classified tick yet), and
    * the open bucket's exact unscaled scale-4 accumulators. */
  case class TickFlowState(lastPrice: Double, hasPrev: Boolean, carry: Int,
      n: Long, signedU: Long, classU: Long)
  case class TickFlowBucket(symbol: String, start: Long, n_trades: Long,
      signed_vol: Double, class_vol: Double, flow_ratio: Option[Double])

  /** Tick-rule signed order flow on a STREAM — the ingest-time twin of
    * [[graft.operators.Microstructure.tickRuleFlow]] as a per-symbol
    * ordered fold (the [[streamingRealizedVol]] shape): state is one
    * (lastPrice, carried sign, open-bucket sums) tuple, O(1) per key.
    * The batch op's two windows (the price lag and the running
    * last-non-zero sign) collapse into the fold's own order; sums are
    * the same scale-4 decimal arithmetic ([[Dec4]]), so emitted buckets
    * match the batch op bit-exactly (StreamingSpec). Emit-on-advance:
    * each symbol's in-progress final bucket stays open (the fold
    * twins' dropLast stance). */
  def streamingTickRuleFlow(updates: Dataset[Update],
      seconds: Long = 60): Dataset[TickFlowBucket] = {
    import updates.sparkSession.implicits._
    val Dec4 = Streaming.Dec4
    bucketFold[String, TickFlowState, TickFlowBucket](updates, seconds,
      _.symbol, _.is_trade,
      TickFlowState(0.0d, hasPrev = false, 0, 0L, 0L, 0L))(
      add = (_, st, u) => {
        // the first trade's lag is null → dir 0, no sign to carry
        val carry = SignedFlow.sign(u.price, st.lastPrice, st.hasPrev,
          st.carry)
        if (carry == 0)
          st.copy(lastPrice = u.price, hasPrev = true, n = st.n + 1L)
        else {
          // batch guard parity: a CLASSIFIED non-finite size raises
          // in the plan (finiteSize) — fail the same way here
          if (!java.lang.Double.isFinite(u.size))
            throw new ArithmeticException(
              "tickRuleFlow: non-finite trade size")
          val q = Dec4.dec4(u.size)
          TickFlowState(u.price, hasPrev = true, carry, st.n + 1L,
            Math.addExact(st.signedU, if (carry == 1) q else -q),
            Math.addExact(st.classU, q))
        }
      },
      close = (sym, b, st, _, out) => {
        val signed = Dec4.dec4ToDouble(st.signedU)
        val cls = Dec4.dec4ToDouble(st.classU)
        out(TickFlowBucket(sym, b, st.n, signed, cls,
          if (cls != 0.0d) Some(signed / cls) else None))
        st.copy(n = 0L, signedU = 0L, classU = 0L)
      })
  }

  /** Per-symbol effective-spread state: the prevailing touch proxy
    * (last bid / ask level-set prices; NaN = side unseen) plus the open
    * trade bucket's exact accumulators. */
  case class EffSprState(pb: Double, pa: Double, n: Long, nClass: Long,
      effU: Long)
  case class EffSprBucket(symbol: String, start: Long, n_trades: Long,
      n_classified: Long, eff_sum: Double,
      avg_eff_spread: Option[Double])

  /** Effective spread on a STREAM — the ingest-time twin of
    * [[graft.operators.Microstructure.effectiveSpread]] as a per-symbol
    * ordered fold over ALL updates: level SETs (size > 0) refresh the
    * prevailing side price, trades measure `2·|price − mid|` against
    * the state as-of strictly earlier rows — exactly the batch op's
    * 1-PRECEDING frame, since the fold updates state after the row.
    * Same IEEE mid/abs arithmetic and scale-4 decimal sum ([[Dec4]]) as
    * the batch plan → emitted buckets match it bit-exactly
    * (StreamingSpec). Emit-on-advance on TRADE buckets (level events
    * refresh state but never close a bucket — batch buckets exist only
    * where trades are); each symbol's final bucket stays open. */
  def streamingEffectiveSpread(updates: Dataset[Update],
      seconds: Long = 60): Dataset[EffSprBucket] = {
    import updates.sparkSession.implicits._
    val Dec4 = Streaming.Dec4
    bucketFold[String, EffSprState, EffSprBucket](updates, seconds,
      _.symbol, u => u.is_trade || SqlOrd.gt(u.size, 0.0d),
      EffSprState(Double.NaN, Double.NaN, 0L, 0L, 0L),
      side = (_, u) => !u.is_trade)(
      add = (_, st, u) => {
        // a quote is guarded BEFORE the store: a genuine NaN quote would
        // alias the unseen-quote sentinel; batch raises via the sideMark
        FiniteGuard.price("effectiveSpread", u) // the batch finitePrice
        if (!u.is_trade) {
          if (u.is_bid) st.copy(pb = u.price) else st.copy(pa = u.price)
        } else if (st.pb.isNaN || st.pa.isNaN) st.copy(n = st.n + 1L)
        else {
          val eff = 2.0d * math.abs(u.price - (st.pb + st.pa) / 2.0d)
          st.copy(n = st.n + 1L, nClass = st.nClass + 1L,
            effU = Math.addExact(st.effU, Dec4.dec4(eff)))
        }
      },
      close = (sym, b, st, _, out) => {
        val sum = Dec4.dec4ToDouble(st.effU)
        out(EffSprBucket(sym, b, st.n, st.nClass, sum,
          if (st.nClass != 0L) Some(sum / st.nClass.toDouble) else None))
        st.copy(n = 0L, nClass = 0L, effU = 0L)
      })
  }

  /** Per-symbol VPIN state: the open volume bucket's accumulators
    * (bucket 0 = no trade yet), the tick-rule carry, and the trailing
    * (imbU, classU) of up to `window − 1` CLOSED buckets — O(window)
    * per key. */
  case class VpinState(bucket: Long, acc: Double, start: Long, end: Long,
      n: Long, buyU: Long, sellU: Long, classU: Long, volU: Long,
      prevPrice: Double, hasPrev: Boolean, carry: Int,
      recent: Seq[(Long, Long)])
  case class VpinRow(symbol: String, bucket: Long, start: Long,
      end: Long, n_trades: Long, buy_vol: Double, sell_vol: Double,
      class_vol: Double, volume: Double, imb: Double, imb_win: Double,
      class_win: Double, vpin: Option[Double])

  /** VPIN on a STREAM — the ingest-time twin of
    * [[graft.operators.Vpin.vpin]]: the same reset-fold volume
    * bucketing (first trade of a bucket never feeds the accumulator, a
    * boundary trade closes and starts with its weight swallowed), the
    * same tick-rule carry, the same unscaled scale-4 integer sums
    * ([[Dec4]]), with each bucket's trailing vpin served AT CLOSE from
    * the carried (imbU, classU) window — integer sums compose exactly,
    * so a closed bucket's row equals the batch row bit-for-bit
    * (MicrostructureFuzzSpec, sentinel-closer pattern: a far-future
    * trade of size > interval closes each symbol's final real bucket
    * without contaminating it). Non-finite prices/sizes raise loud at
    * ingest (the batch fold's own guards). Late trades follow
    * [[tickFold]]'s mark, the [[streamingVolumeBars]] rule. */
  def streamingVpin(updates: Dataset[Update], interval: Double = 100.0,
      window: Int = 5): Dataset[VpinRow] = {
    import updates.sparkSession.implicits._
    require(window >= 1, "vpin needs a trailing window of >= 1 buckets")
    val d4 = (u: Long) => java.math.BigDecimal.valueOf(u, 4).doubleValue()
    val zero = VpinState(0L, 0.0d, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0.0d,
      hasPrev = false, 0, Nil)
    def addTo(st0: VpinState, u: Update): VpinState = {
      val s = Dec4.dec4(u.size)
      val carry = SignedFlow.sign(u.price, st0.prevPrice, st0.hasPrev,
        st0.carry)
      var st = st0.copy(end = u.ts, n = st0.n + 1L,
        volU = Math.addExact(st0.volU, s),
        prevPrice = u.price, hasPrev = true, carry = carry)
      if (carry == 1) st = st.copy(
        buyU = Math.addExact(st.buyU, s),
        classU = Math.addExact(st.classU, s))
      else if (carry == -1) st = st.copy(
        sellU = Math.addExact(st.sellU, s),
        classU = Math.addExact(st.classU, s))
      st
    }
    def row(sym: String, st: VpinState): VpinRow = {
      val imbU = math.abs(st.buyU - st.sellU)
      val imbWinU = st.recent.map(_._1).foldLeft(imbU)(Math.addExact)
      val classWinU = st.recent.map(_._2).foldLeft(st.classU)(Math.addExact)
      VpinRow(sym, st.bucket, st.start, st.end, st.n, d4(st.buyU),
        d4(st.sellU), d4(st.classU), d4(st.volU), d4(imbU),
        d4(imbWinU), d4(classWinU),
        if (classWinU != 0L) Some(d4(imbWinU) / d4(classWinU)) else None)
    }
    tickFold[String, VpinState, VpinRow](updates, _.symbol, _.is_trade,
      zero)(
      (sym, st, u, out) => {
        FiniteGuard.price("vpin", u)
        FiniteGuard.size("vpin", u)
        if (st.bucket == 0L) addTo(st.copy(bucket = 1L, start = u.ts), u)
        else if (st.acc + u.size > interval) {
          out(row(sym, st))
          val recent = ((math.abs(st.buyU - st.sellU), st.classU) +:
            st.recent).take(window - 1)
          addTo(zero.copy(bucket = st.bucket + 1L, start = u.ts,
            prevPrice = st.prevPrice, hasPrev = st.hasPrev,
            carry = st.carry, recent = recent), u)
        } else addTo(st.copy(acc = st.acc + u.size), u)
      })
  }

  /** Per-symbol Roll-estimator state: the last two trade prices in
    * cents (Long.MinValue = unseen) plus the open bucket's exact
    * integer accumulators. */
  case class RollSprState(c1: Long, c2: Long, n: Long, sx: Long, sy: Long,
      sxy: Long)
  case class RollSprBucket(symbol: String, start: Long, n_pairs: Long,
      sum_x: Long, sum_y: Long, sum_xy: Long, cov: Double,
      roll_spread: Option[Double])

  /** Roll's implied spread on a STREAM — the ingest-time twin of
    * [[graft.operators.Microstructure.rollSpread]] as a per-symbol
    * ordered fold: state carries the last two cent prices and the open
    * bucket's exact integer sums (Σx, Σy, Σxy — `addExact`/
    * `multiplyExact`, the batch op's raise-loud stance), O(1) per key.
    * Same cents quantization, same final IEEE cov/spread sequence →
    * emitted buckets match the batch op bit-exactly (StreamingSpec).
    * Emit-on-advance; each symbol's final bucket stays open. A
    * symbol's first two trades only prime the pair: they open no
    * bucket. */
  def streamingRollSpread(updates: Dataset[Update],
      seconds: Long = 60): Dataset[RollSprBucket] = {
    import updates.sparkSession.implicits._
    val Unseen = Long.MinValue
    bucketFold[String, RollSprState, RollSprBucket](updates, seconds,
      _.symbol, _.is_trade, RollSprState(Unseen, Unseen, 0L, 0L, 0L, 0L),
      side = (st, _) => st.c2 == Unseen)(
      add = (_, st, u) => {
        FiniteGuard.price("rollSpread", u) // the batch finitePrice
        val c0 = math.floor(u.price * 100.0d + 0.5d).toLong
        val paired =
          if (st.c2 == Unseen) st
          else {
            val x = c0 - st.c1
            val y = st.c1 - st.c2
            st.copy(n = st.n + 1L,
              sx = Math.addExact(st.sx, x),
              sy = Math.addExact(st.sy, y),
              sxy = Math.addExact(st.sxy, Math.multiplyExact(x, y)))
          }
        paired.copy(c2 = st.c1, c1 = c0)
      },
      close = (sym, b, st, _, out) => {
        val n = st.n.toDouble
        val cov =
          (st.sxy.toDouble - st.sx.toDouble * st.sy.toDouble / n) / n
        out(RollSprBucket(sym, b, st.n, st.sx, st.sy, st.sxy, cov,
          if (cov < 0.0d) Some(2.0d * math.sqrt(-cov) / 100.0d) else None))
        st.copy(n = 0L, sx = 0L, sy = 0L, sxy = 0L)
      })
  }

  /** Per-symbol Kyle-lambda state: the tick-rule carry (prevailing
    * trade price + last non-zero sign), the OPEN bucket's accumulators
    * (signed-flow unscaled scale-4 sum, last level-set cents per side;
    * Long.MinValue = unset), the per-SIDE quotes carried across closed
    * buckets (the batch op's independent `last(... ignoreNulls)` per
    * side), and the running regression sums over closed pairs —
    * Σx/Σy/Σxy/Σx² as BigInt STRINGS (Σx² outgrows a long at real
    * magnitudes; the string is the exact-encoding the state store can
    * carry). */
  case class KyleLamState(prevTrade: Double, hasPrevTrade: Boolean,
      carry: Int, fU: Long, cb: Long, ca: Long,
      cbCarry: Long, caCarry: Long, n: Long,
      sx: String, sy: String, sxy: String, sxx: String)
  case class KyleLamRow(symbol: String, n_pairs: Long, sum_x: Double,
      sum_y: Double, sum_xy: Double, sum_xx: Double,
      kyle_lambda: Option[Double])

  /** Kyle's lambda on a STREAM — the ingest-time twin of
    * [[graft.operators.Microstructure.kyleLambda]] at the serving
    * cadence (one CURRENT-λ row per symbol per micro-batch, the
    * [[streamingBookFeatures]] stance): a per-symbol ordered fold
    * closes a bucket when a later-bucket update arrives, resolves its
    * pair against the carried mid exactly as the batch bucket-series
    * window does, and folds the pair into exact BigInt regression
    * sums — so after every symbol's final bucket is closed by a
    * sentinel, the emitted row IS the batch result bit-for-bit
    * (StreamingSpec): same scale-4 flow quantization ([[Dec4]]), same
    * round-half-up cents, same decimal→double casts
    * (`BigDecimal.doubleValue`, the same correctly-rounded conversion
    * Spark's `Decimal.toDouble` performs), same final IEEE slope
    * sequence. The batch op's raise-loud operand guards fold too:
    * cents past 1e12 or |flow| past 1e11 throw where the batch plan
    * raises. State is O(1) per symbol. */
  def streamingKyleLambda(updates: Dataset[Update],
      seconds: Long = 60): Dataset[KyleLamRow] = {
    import updates.sparkSession.implicits._
    val NoQuote = Long.MinValue
    def closeBucket(st: KyleLamState): KyleLamState = {
      // the PREVIOUS bucket's carried mid, then this bucket's: each
      // side independently — the batch per-side last(... ignoreNulls)
      val prevMf: Option[Long] =
        if (st.cbCarry != NoQuote && st.caCarry != NoQuote)
          Some(st.cbCarry + st.caCarry)
        else None
      val cbC = if (st.cb != NoQuote) st.cb else st.cbCarry
      val caC = if (st.ca != NoQuote) st.ca else st.caCarry
      val mf: Option[Long] =
        if (cbC != NoQuote && caC != NoQuote) Some(cbC + caC) else None
      val paired =
        if (mf.isDefined && prevMf.isDefined) {
          if (math.abs(st.fU) > 1000000000000000L)
            throw new ArithmeticException(
              "kyleLambda: signed flow outside the exact-decimal regime")
          val x = BigInt(st.fU)
          val y = BigInt(mf.get - prevMf.get)
          st.copy(n = st.n + 1L,
            sx = (BigInt(st.sx) + x).toString,
            sy = (BigInt(st.sy) + y).toString,
            sxy = (BigInt(st.sxy) + x * y).toString,
            sxx = (BigInt(st.sxx) + x * x).toString)
        } else st
      paired.copy(fU = 0L, cb = NoQuote, ca = NoQuote,
        cbCarry = cbC, caCarry = caC)
    }
    def emit(sym: String, st: KyleLamState): KyleLamRow = {
      def d(s: String) = new java.math.BigDecimal(
        new java.math.BigInteger(s)).doubleValue()
      val (nD, sxD, syD, sxyD, sxxD) =
        (st.n.toDouble, d(st.sx), d(st.sy), d(st.sxy), d(st.sxx))
      val den = nD * sxxD - sxD * sxD
      KyleLamRow(sym, st.n, sxD, syD, sxyD, sxxD,
        if (den != 0.0d) Some((nD * sxyD - sxD * syD) / den * 50.0d)
        else None)
    }
    bucketFold[String, KyleLamState, KyleLamRow](updates, seconds,
      _.symbol, _ => true, KyleLamState(0.0, hasPrevTrade = false, 0, 0L,
        NoQuote, NoQuote, NoQuote, NoQuote, 0L, "0", "0", "0", "0"))(
      add = (_, st, u) =>
        if (u.is_trade) {
          val (carry, fU) = SignedFlow.step(st.prevTrade, st.hasPrevTrade,
            st.carry, st.fU, u)
          st.copy(prevTrade = u.price, hasPrevTrade = true,
            carry = carry, fU = fU)
        } else if (SqlOrd.gt(u.size, 0.0d)) {
          val c = math.floor(u.price * 100.0d + 0.5d)
          // NaN/∞ raises like the batch guard chain (finitePrice, then
          // the 1e12 cents bound): scala floor keeps NaN, and the
          // NaN-greatest compare sends it to the throw
          if (SqlOrd.gt(math.abs(c), 1.0e12d))
            throw new ArithmeticException(
              "kyleLambda: price outside the exact-decimal regime")
          if (u.is_bid) st.copy(cb = c.toLong) else st.copy(ca = c.toLong)
        } else st,
      close = (_, _, st, _, _) => closeBucket(st),
      serve = (sym, st) => Some(emit(sym, st)))
  }

  /** Per-symbol flow-autocorrelation state: the tick-rule carry, the
    * open bucket's flow sum, the last CLOSED bucket's flow, and exact
    * BigInt regression sums as strings (the [[KyleLamState]]
    * encoding). */
  case class FlowAcState(prevTrade: Double, hasPrevTrade: Boolean,
      carry: Int, fU: Long, fPrev: Long, hasFPrev: Boolean, n: Long,
      sx: String, sy: String, sxy: String, sxx: String, syy: String)
  case class FlowAcRow(symbol: String, n_pairs: Long, sum_x: Double,
      sum_y: Double, sum_xy: Double, sum_xx: Double, sum_yy: Double,
      flow_autocorr: Option[Double])

  /** Order-flow autocorrelation on a STREAM — the ingest-time twin of
    * [[graft.operators.Microstructure.flowAutocorr]] at the serving
    * cadence (the [[streamingKyleLambda]] stance): the fold closes a
    * bucket on advance, pairs its flow with the previous closed
    * bucket's, and folds into exact BigInt sums; after sentinel
    * closers the emitted row IS the batch correlation bit-for-bit
    * (StreamingSpec). Same scale-4 quantization, guards, and final
    * IEEE sequence. State is O(1) per symbol.
    *
    * (No such twin exists for [[graft.operators.Microstructure.amihud]]
    * by design: an EXACT median is an order statistic over the full
    * bucket history — serving it would need unbounded per-key state,
    * and an approximate sketch would break the bit-exact contract this
    * family keeps. Its batch form is the only honest one.) */
  def streamingFlowAutocorr(updates: Dataset[Update],
      seconds: Long = 60): Dataset[FlowAcRow] = {
    import updates.sparkSession.implicits._
    def closeBucket(st: FlowAcState): FlowAcState = {
      val paired =
        if (st.hasFPrev) {
          if (math.abs(st.fU) > 1000000000000000L ||
              math.abs(st.fPrev) > 1000000000000000L)
            throw new ArithmeticException(
              "flowAutocorr: signed flow outside the exact-decimal regime")
          val x = BigInt(st.fPrev)
          val y = BigInt(st.fU)
          st.copy(n = st.n + 1L,
            sx = (BigInt(st.sx) + x).toString,
            sy = (BigInt(st.sy) + y).toString,
            sxy = (BigInt(st.sxy) + x * y).toString,
            sxx = (BigInt(st.sxx) + x * x).toString,
            syy = (BigInt(st.syy) + y * y).toString)
        } else st
      paired.copy(fU = 0L, fPrev = st.fU, hasFPrev = true)
    }
    def emit(sym: String, st: FlowAcState): FlowAcRow = {
      def d(s: String) = new java.math.BigDecimal(
        new java.math.BigInteger(s)).doubleValue()
      val (nD, sxD, syD, sxyD, sxxD, syyD) = (st.n.toDouble,
        d(st.sx), d(st.sy), d(st.sxy), d(st.sxx), d(st.syy))
      val dx = nD * sxxD - sxD * sxD
      val dy = nD * syyD - syD * syD
      FlowAcRow(sym, st.n, sxD, syD, sxyD, sxxD, syyD,
        if (dx != 0.0d && dy != 0.0d)
          Some((nD * sxyD - sxD * syD) /
            (math.sqrt(dx) * math.sqrt(dy)))
        else None)
    }
    bucketFold[String, FlowAcState, FlowAcRow](updates, seconds,
      _.symbol, _ => true, FlowAcState(0.0, hasPrevTrade = false, 0, 0L,
        0L, hasFPrev = false, 0L, "0", "0", "0", "0", "0"))(
      add = (_, st, u) =>
        if (!u.is_trade) st
        else {
          val (carry, fU) = SignedFlow.step(st.prevTrade, st.hasPrevTrade,
            st.carry, st.fU, u)
          st.copy(prevTrade = u.price, hasPrevTrade = true,
            carry = carry, fU = fU)
        },
      close = (_, _, st, _, _) => closeBucket(st),
      serve = (sym, st) => Some(emit(sym, st)))
  }

  /** Per-symbol variance-ratio state: the open bucket's running
    * close, the last CLOSED bucket's close (the lag operand), the last
    * k−1 one-bucket returns (the overlapping-window tail), and exact
    * BigInt operand sums as strings (the [[KyleLamState]] encoding). */
  case class VrState(close: Double, prevClose: Double,
      hasPrevClose: Boolean, recentQs: Seq[Long], n1: Long,
      s1: String, ss1: String, nk: Long, sk: String, ssk: String)
  case class VrRow(symbol: String, n1: Long,
      sum_q1: Option[Long], sum_sq1: Option[Long], nk: Long,
      sum_qk: Option[Long], sum_sqk: Option[Long],
      var1: Option[Double], vark: Option[Double], vr: Option[Double])

  /** Variance ratio on a STREAM — the ingest-time twin of
    * [[graft.operators.Microstructure.varianceRatio]] at the serving
    * cadence (the [[streamingKyleLambda]] stance): a per-symbol ordered
    * fold closes a bucket when a later-bucket positive-price trade
    * arrives, takes the one-bucket return `q` between consecutive
    * CLOSED buckets (the batch lag over the present-bucket series),
    * extends the overlapping k-window sum from the carried k−1 return
    * tail, and folds everything into exact BigInt sums — so after a
    * sentinel closes each symbol's final real bucket, the emitted row
    * IS the batch result bit-for-bit (StreamingSpec; the sentinel's own
    * bucket stays open and contributes no return). Same floor-quantized
    * `ln`, the same loud guards: an infinite ratio throws where the
    * batch |q| guard raises, an underflowed (0.0) ratio drops the
    * return but still advances the lag close (the batch NULL log), and
    * a sum past 2^63 throws at emission where the batch guarded BIGINT
    * cast raises. State is O(k) per symbol. */
  def streamingVarianceRatio(updates: Dataset[Update],
      seconds: Long = 60, k: Int = 4): Dataset[VrRow] = {
    import updates.sparkSession.implicits._
    require(k >= 2, "variance ratio needs k >= 2")
    /** The open bucket's close is final: fold its return (if a lag
      * close exists and the ratio survives) and advance the lag. */
    def closeBucket(st: VrState): VrState = {
      if (!st.hasPrevClose)
        return st.copy(prevClose = st.close, hasPrevClose = true)
      val ratio = st.close / st.prevClose
      if (ratio == 0.0) // underflow: the batch plan's NULL log drops
        return st.copy(prevClose = st.close)
      // closes are finite positives by the ingest FiniteGuard (ADVICE
      // r11 — silently folding a NaN return as q = 0 was the hazard),
      // so the log is never NaN; an overflowed ratio still raises
      val l = math.log(ratio)
      if (l.isInfinite) throw new ArithmeticException(
        "varianceRatio: price ratio outside double range")
      val q = math.floor(l * 1e6).toLong
      val qB = BigInt(q)
      var next = st.copy(prevClose = st.close, n1 = st.n1 + 1L,
        s1 = (BigInt(st.s1) + qB).toString,
        ss1 = (BigInt(st.ss1) + qB * qB).toString)
      if (st.recentQs.length == k - 1) {
        val qk = st.recentQs.sum + q // |q| ≤ 7.1e8, small k: exact
        val qkB = BigInt(qk)
        next = next.copy(nk = next.nk + 1L,
          sk = (BigInt(next.sk) + qkB).toString,
          ssk = (BigInt(next.ssk) + qkB * qkB).toString)
      }
      next.copy(recentQs = (st.recentQs :+ q).takeRight(k - 1))
    }
    def emit(sym: String, st: VrState): VrRow = {
      def longOf(s: String, what: String): Long = {
        val b = BigInt(s)
        if (b.abs > BigInt(Long.MaxValue)) throw new ArithmeticException(
          s"varianceRatio: $what overflows BIGINT") // the batch raise
        b.toLong
      }
      val (s1, ss1) = (longOf(st.s1, "sum_q1"), longOf(st.ss1, "sum_sq1"))
      val (sk, ssk) = (longOf(st.sk, "sum_qk"), longOf(st.ssk, "sum_sqk"))
      def varOf(ss: Long, s: Long, n: Long): Double =
        ss.toDouble / n - (s.toDouble / n) * (s.toDouble / n)
      val var1 =
        if (st.n1 > 0L) Some(varOf(ss1, s1, st.n1)) else None
      val vark =
        if (st.nk > 0L) Some(varOf(ssk, sk, st.nk)) else None
      val vr =
        if (st.nk > 0L && var1.exists(_ != 0.0d))
          Some((vark.get / k.toDouble) / var1.get)
        else None
      VrRow(sym, st.n1,
        if (st.n1 > 0L) Some(s1) else None,
        if (st.n1 > 0L) Some(ss1) else None,
        st.nk,
        if (st.nk > 0L) Some(sk) else None,
        if (st.nk > 0L) Some(ssk) else None,
        var1, vark, vr)
    }
    bucketFold[String, VrState, VrRow](updates, seconds, _.symbol,
      u => u.is_trade && SqlOrd.gt(u.price, 0.0), VrState(0.0, 0.0,
        hasPrevClose = false, Nil, 0L, "0", "0", 0L, "0", "0"))(
      add = (_, st, u) => {
        FiniteGuard.price("varianceRatio", u) // the batch finitePrice
        st.copy(close = u.price)
      },
      close = (_, _, st, _, _) => closeBucket(st),
      serve = (sym, st) => Some(emit(sym, st)))
  }

  /** Per-symbol moment state: the [[VrState]] bucket-close carry plus
    * exact BigInt power sums Σq..Σq⁴ as strings. */
  case class MomState(close: Double, prevClose: Double,
      hasPrevClose: Boolean, n: Long, s1: String, s2: String,
      s3: String, s4: String)
  case class MomRow(symbol: String, n: Long, sum_q: Option[Double],
      sum_q2: Option[Double], sum_q3: Option[Double],
      sum_q4: Option[Double], mean: Option[Double],
      variance: Option[Double], skewness: Option[Double],
      kurtosis: Option[Double])

  /** Return moments on a STREAM — the ingest-time twin of
    * [[graft.operators.Microstructure.returnMoments]] at the serving
    * cadence (the [[streamingVarianceRatio]] bucket-close fold): exact
    * BigInt power sums carried as state strings, emitted through the
    * shared correctly-rounded decimal→double conversion
    * (`BigDecimal.doubleValue`), then the batch op's IEEE chains
    * verbatim. A power sum past the batch op's 38-digit decimal
    * headroom throws at emission where the batch plan raises
    * ARITHMETIC_OVERFLOW. After sentinel closers the emitted row IS
    * the batch row bit-for-bit (StreamingSpec). O(1) state. */
  def streamingReturnMoments(updates: Dataset[Update],
      seconds: Long = 60): Dataset[MomRow] = {
    import updates.sparkSession.implicits._
    def closeBucket(st: MomState): MomState = {
      if (!st.hasPrevClose)
        return st.copy(prevClose = st.close, hasPrevClose = true)
      val ratio = st.close / st.prevClose
      if (ratio == 0.0) return st.copy(prevClose = st.close)
      // closes are finite positives by the ingest FiniteGuard; see the
      // varianceRatio note (ADVICE r11)
      val l = math.log(ratio)
      if (l.isInfinite) throw new ArithmeticException(
        "bucketReturns: price ratio outside double range")
      val q = BigInt(math.floor(l * 1e6).toLong)
      st.copy(prevClose = st.close, n = st.n + 1L,
        s1 = (BigInt(st.s1) + q).toString,
        s2 = (BigInt(st.s2) + q * q).toString,
        s3 = (BigInt(st.s3) + q * q * q).toString,
        s4 = (BigInt(st.s4) + q * q * q * q).toString)
    }
    val Headroom = BigInt(10).pow(38)
    def emit(sym: String, st: MomState): MomRow = {
      if (st.n == 0L)
        return MomRow(sym, 0L, None, None, None, None, None, None,
          None, None)
      def d(s: String): Double = {
        val b = BigInt(s)
        if (b.abs >= Headroom) throw new ArithmeticException(
          "returnMoments: sum overflows decimal headroom")
        new java.math.BigDecimal(b.bigInteger).doubleValue()
      }
      val nD = st.n.toDouble
      val (d1, d2, d3, d4) = (d(st.s1), d(st.s2), d(st.s3), d(st.s4))
      val mean = d1 / nD
      val vr = d2 / nD - (d1 / nD) * (d1 / nD)
      val skew =
        if (vr > 0.0d)
          Some((d3 / nD - 3.0d * mean * (d2 / nD) +
            2.0d * mean * mean * mean) / (vr * math.sqrt(vr)))
        else None
      val kurt =
        if (vr > 0.0d)
          Some((d4 / nD - 4.0d * mean * (d3 / nD) +
            6.0d * mean * mean * (d2 / nD) -
            3.0d * mean * mean * mean * mean) / (vr * vr) - 3.0d)
        else None
      MomRow(sym, st.n, Some(d1), Some(d2), Some(d3), Some(d4),
        Some(mean), Some(vr), skew, kurt)
    }
    bucketFold[String, MomState, MomRow](updates, seconds, _.symbol,
      u => u.is_trade && SqlOrd.gt(u.price, 0.0), MomState(0.0, 0.0,
        hasPrevClose = false, 0L, "0", "0", "0", "0"))(
      add = (_, st, u) => {
        FiniteGuard.price("returnMoments", u) // the batch finitePrice
        st.copy(close = u.price)
      },
      close = (_, _, st, _, _) => closeBucket(st),
      serve = (sym, st) => Some(emit(sym, st)))
  }

  /** Per-symbol Parkinson state: the open bucket's running high/low
    * in exact integer cents, plus the closed-bucket count and exact
    * Σrq² (BigInt as string — Spark state encoders have no BigInt). */
  case class ParkState(hc: Long, lc: Long, n: Long, s: String)
  case class ParkRow(symbol: String, n_buckets: Long,
      sum_rq2: Option[Long], park_var: Option[Double],
      park_vol: Option[Double])

  /** Parkinson range volatility on a STREAM — the serve-current-state
    * twin of [[graft.operators.RangeSpread.parkinson]]: each
    * micro-batch folds trades into the open bucket's integer-cent
    * high/low, closes buckets on rollover with the batch quantization
    * (`rq = floor(ln(hc/lc)·1e8)`, loud 2e9 bound, zero-cent lows
    * dropped), and emits the CURRENT estimate from the exact running
    * sums — so after a far-future closer the last serving row equals
    * the batch operator bit-for-bit (MicrostructureFuzzSpec). Trades
    * within the open bucket fold in any arrival order, since high and
    * low do not depend on it. */
  def streamingParkinson(updates: Dataset[Update],
      seconds: Long = 60): Dataset[ParkRow] = {
    import updates.sparkSession.implicits._
    // 4·ln 2 — recomputed identically to the batch constant
    val fourLn2 = 4.0d * math.log(2.0d)
    def cents(sym: String, p: Double): Long = {
      val c = math.floor(p * 100.0d + 0.5d)
      if (math.abs(c) > 1.0e12d) throw new ArithmeticException(
        s"parkinson: price outside the exact-decimal regime at " +
          s"symbol=$sym")
      c.toLong
    }
    def closeBucket(sym: String, st: ParkState): ParkState = {
      if (st.lc <= 0L) return st // the batch lc > 0 drop
      val rq = math.floor(
        math.log(st.hc.toDouble / st.lc.toDouble) * 1e8d).toLong
      if (math.abs(rq) > 2000000000L) throw new ArithmeticException(
        s"parkinson: log range outside the exact regime at " +
          s"symbol=$sym")
      st.copy(n = st.n + 1L,
        s = (BigInt(st.s) + BigInt(rq) * BigInt(rq)).toString)
    }
    def emit(sym: String, st: ParkState): ParkRow = {
      if (st.n == 0L) return ParkRow(sym, 0L, None, None, None)
      val b = BigInt(st.s)
      if (b > BigInt(Long.MaxValue)) throw new ArithmeticException(
        s"parkinson: sum_rq2 overflows BIGINT at symbol=$sym")
      val sumL = b.toLong
      val pv = (sumL.toDouble / 1e16d) / (fourLn2 * st.n.toDouble)
      ParkRow(sym, st.n, Some(sumL), Some(pv), Some(math.sqrt(pv)))
    }
    // the open bucket's high/low start empty: Long.MinValue/MaxValue
    bucketFold[String, ParkState, ParkRow](updates, seconds, _.symbol,
      u => u.is_trade && SqlOrd.gt(u.price, 0.0),
      ParkState(Long.MinValue, Long.MaxValue, 0L, "0"))(
      add = (sym, st, u) => {
        FiniteGuard.price("parkinson", u)
        val c = cents(sym, u.price)
        st.copy(hc = math.max(st.hc, c), lc = math.min(st.lc, c))
      },
      close = (sym, _, st, _, _) =>
        closeBucket(sym, st).copy(hc = Long.MinValue, lc = Long.MaxValue),
      serve = (sym, st) => Some(emit(sym, st)))
  }

  /** Per-symbol Rogers–Satchell state: the open bucket's OHLC in exact
    * integer cents with the (ts, seq) stamps that make open/close
    * robust to out-of-order arrivals WITHIN a bucket, plus the
    * closed-bucket count and exact Σterm (BigInt as string). */
  case class RsState(oc: Long, ots: Long, oseq: Long,
      hc: Long, lc: Long, cc: Long, cts: Long, cseq: Long,
      n: Long, s: String)
  case class RsRow(symbol: String, n_buckets: Long,
      sum_term: Option[Long], rs_var: Option[Double],
      rs_vol: Option[Double])

  /** Rogers–Satchell range volatility on a STREAM — the
    * serve-current-state twin of
    * [[graft.operators.RangeSpread.rogersSatchell]]: the open bucket
    * carries exact integer-cent OHLC (open/close stamped by (ts, seq)
    * so a late same-bucket row lands exactly where the batch
    * `min_by`/`max_by` would put it), rollover closes the bucket with
    * the batch quantization (four `floor(ln·1e8)` legs, loud 2e9
    * bounds, zero-cent lows and opens dropped), and the CURRENT
    * estimate is emitted from the exact running sum — after a
    * far-future closer the last serving row equals the batch operator
    * bit-for-bit (StreamingSpec). */
  def streamingRogersSatchell(updates: Dataset[Update],
      seconds: Long = 60): Dataset[RsRow] = {
    import updates.sparkSession.implicits._
    def cents(sym: String, p: Double): Long = {
      val c = math.floor(p * 100.0d + 0.5d)
      if (math.abs(c) > 1.0e12d) throw new ArithmeticException(
        s"rogersSatchell: price outside the exact-decimal regime at " +
          s"symbol=$sym")
      c.toLong
    }
    def lq(sym: String, a: Long, b: Long, what: String): Long = {
      val v = math.floor(
        math.log(a.toDouble / b.toDouble) * 1e8d).toLong
      if (math.abs(v) > 2000000000L) throw new ArithmeticException(
        s"rogersSatchell: $what outside the exact regime at " +
          s"symbol=$sym")
      v
    }
    def closeBucket(sym: String, st: RsState): RsState = {
      if (st.lc <= 0L || st.oc <= 0L) return st // the batch log-domain drops
      val term = lq(sym, st.hc, st.cc, "high/close leg") *
        lq(sym, st.hc, st.oc, "high/open leg") +
        lq(sym, st.lc, st.cc, "low/close leg") *
        lq(sym, st.lc, st.oc, "low/open leg")
      st.copy(n = st.n + 1L,
        s = (BigInt(st.s) + BigInt(term)).toString)
    }
    def emit(sym: String, st: RsState): RsRow = {
      if (st.n == 0L) return RsRow(sym, 0L, None, None, None)
      val b = BigInt(st.s)
      if (b.abs > BigInt(Long.MaxValue)) throw new ArithmeticException(
        s"rogersSatchell: sum_term overflows BIGINT at symbol=$sym")
      val sumL = b.toLong
      val rv = (sumL.toDouble / 1e16d) / st.n.toDouble
      RsRow(sym, st.n, Some(sumL), Some(rv), Some(math.sqrt(rv)))
    }
    // hc = Long.MinValue marks an empty open bucket (cents are >= 0)
    bucketFold[String, RsState, RsRow](updates, seconds, _.symbol,
      u => u.is_trade && SqlOrd.gt(u.price, 0.0),
      RsState(0L, 0L, 0L, Long.MinValue, 0L, 0L, 0L, 0L, 0L, "0"))(
      add = (sym, st, u) => {
        FiniteGuard.price("rogersSatchell", u)
        val c = cents(sym, u.price)
        if (st.hc == Long.MinValue)
          RsState(c, u.ts, u.seq, c, c, c, u.ts, u.seq, st.n, st.s)
        else {
          val o =
            if (u.ts < st.ots || (u.ts == st.ots && u.seq < st.oseq))
              (c, u.ts, u.seq) else (st.oc, st.ots, st.oseq)
          val cl =
            if (u.ts > st.cts || (u.ts == st.cts && u.seq >= st.cseq))
              (c, u.ts, u.seq) else (st.cc, st.cts, st.cseq)
          st.copy(oc = o._1, ots = o._2, oseq = o._3,
            hc = math.max(st.hc, c), lc = math.min(st.lc, c),
            cc = cl._1, cts = cl._2, cseq = cl._3)
        }
      },
      close = (sym, _, st, _, _) =>
        closeBucket(sym, st).copy(hc = Long.MinValue),
      serve = (sym, st) => Some(emit(sym, st)))
  }

  /** Per-symbol Yang–Zhang state: the open bucket's OHLC in exact
    * integer cents with (ts, seq) stamps, the previous SURVIVING
    * bucket's close (0 = none yet — cents are > 0 for surviving
    * buckets), the term count and the five exact sums (BigInt as
    * string). O(1) per key. */
  case class YzState(oc: Long, ots: Long, oseq: Long,
      hc: Long, lc: Long, cc: Long, cts: Long, cseq: Long,
      pc: Long, n: Long, so: String, so2: String, sc: String,
      sc2: String, sr: String)
  case class YzRow(symbol: String, n: Long, sum_oq: Option[Long],
      sum_oq2: Option[Double], sum_cq: Option[Long],
      sum_cq2: Option[Double], sum_rs: Option[Long],
      yz_var: Option[Double], yz_vol: Option[Double])

  /** Yang–Zhang volatility on a STREAM — the serve-current-state twin
    * of [[graft.operators.RangeSpread.yangZhang]]: the open bucket
    * folds exact integer-cent OHLC ((ts, seq)-stamped open/close, the
    * [[streamingRogersSatchell]] shape), rollover closes it with the
    * batch semantics — zero-cent-low buckets drop BEFORE the lag
    * chain (they neither score nor supply a previous close), the
    * first surviving bucket supplies only its close, every later one
    * adds the overnight leg `oq = floor(ln(oc/pc)·1e8)`, the intraday
    * leg `cq`, and the four-leg Rogers–Satchell term to the exact
    * running sums (loud 2e9 leg bounds; the square sums raise loud
    * past the decimal(38,0) regime exactly where the batch side now
    * raises) — and the CURRENT estimate is emitted with the batch
    * IEEE chain, so after a far-future closer the last serving row
    * equals the batch operator bit-for-bit (StreamingSpec). */
  def streamingYangZhang(updates: Dataset[Update],
      seconds: Long = 60): Dataset[YzRow] = {
    import updates.sparkSession.implicits._
    val DecimalMax = BigInt(10).pow(38)
    def cents(sym: String, p: Double): Long = {
      val c = math.floor(p * 100.0d + 0.5d)
      if (math.abs(c) > 1.0e12d) throw new ArithmeticException(
        s"yangZhang: price outside the exact-decimal regime at " +
          s"symbol=$sym")
      c.toLong
    }
    def lq(sym: String, a: Long, b: Long, what: String): Long = {
      val v = math.floor(
        math.log(a.toDouble / b.toDouble) * 1e8d).toLong
      if (math.abs(v) > 2000000000L) throw new ArithmeticException(
        s"yangZhang: $what outside the exact regime at symbol=$sym")
      v
    }
    def closeBucket(sym: String, st: YzState): YzState = {
      if (st.lc <= 0L) return st // dropped before the lag chain
      if (st.pc <= 0L) return st.copy(pc = st.cc) // first surviving
      val oq = lq(sym, st.oc, st.pc, "overnight leg")
      val cq = lq(sym, st.cc, st.oc, "open-close leg")
      val rs = lq(sym, st.hc, st.cc, "high/close leg") *
        lq(sym, st.hc, st.oc, "high/open leg") +
        lq(sym, st.lc, st.cc, "low/close leg") *
        lq(sym, st.lc, st.oc, "low/open leg")
      st.copy(pc = st.cc, n = st.n + 1L,
        so = (BigInt(st.so) + BigInt(oq)).toString,
        so2 = (BigInt(st.so2) + BigInt(oq) * BigInt(oq)).toString,
        sc = (BigInt(st.sc) + BigInt(cq)).toString,
        sc2 = (BigInt(st.sc2) + BigInt(cq) * BigInt(cq)).toString,
        sr = (BigInt(st.sr) + BigInt(rs)).toString)
    }
    def emit(sym: String, st: YzState): YzRow = {
      if (st.n == 0L) return YzRow(sym, 0L, None, None, None, None,
        None, None, None)
      def gl(b: BigInt, what: String): Long = {
        if (b.abs > BigInt(Long.MaxValue)) throw new ArithmeticException(
          s"yangZhang: $what overflows BIGINT at symbol=$sym")
        b.toLong
      }
      def gd(b: BigInt, what: String): Double = {
        if (b.abs >= DecimalMax) throw new ArithmeticException(
          s"yangZhang: $what outside the exact decimal regime at " +
            s"symbol=$sym")
        b.toDouble // round-half-even, = the batch decimal→double cast
      }
      val so = gl(BigInt(st.so), "sum_oq")
      val so2 = gd(BigInt(st.so2), "sum_oq2")
      val sc = gl(BigInt(st.sc), "sum_cq")
      val sc2 = gd(BigInt(st.sc2), "sum_cq2")
      val sr = gl(BigInt(st.sr), "sum_rs")
      if (st.n == 1L) return YzRow(sym, 1L, Some(so), Some(so2),
        Some(sc), Some(sc2), Some(sr), None, None)
      val nD = st.n.toDouble
      def sampleVar(q: Long, q2: Double): Double =
        (q2 / 1e16d -
          (q.toDouble / 1e8d) * (q.toDouble / 1e8d) / nD) /
          (nD - 1.0d)
      val k = 0.34d / (1.34d + (nD + 1.0d) / (nD - 1.0d))
      val rsv = (sr.toDouble / 1e16d) / nD
      val yz = sampleVar(so, so2) + k * sampleVar(sc, sc2) +
        (1.0d - k) * rsv
      YzRow(sym, st.n, Some(so), Some(so2), Some(sc), Some(sc2),
        Some(sr), Some(yz), Some(math.sqrt(math.max(yz, 0.0d))))
    }
    // hc = Long.MinValue marks an empty open bucket (cents are >= 0)
    bucketFold[String, YzState, YzRow](updates, seconds, _.symbol,
      u => u.is_trade && SqlOrd.gt(u.price, 0.0), YzState(0L, 0L, 0L,
        Long.MinValue, 0L, 0L, 0L, 0L, 0L, 0L, "0", "0", "0", "0", "0"))(
      add = (sym, st, u) => {
        FiniteGuard.price("yangZhang", u)
        val c = cents(sym, u.price)
        if (st.hc == Long.MinValue)
          st.copy(oc = c, ots = u.ts, oseq = u.seq, hc = c, lc = c,
            cc = c, cts = u.ts, cseq = u.seq)
        else {
          val o =
            if (u.ts < st.ots || (u.ts == st.ots && u.seq < st.oseq))
              (c, u.ts, u.seq) else (st.oc, st.ots, st.oseq)
          val cl =
            if (u.ts > st.cts || (u.ts == st.cts && u.seq >= st.cseq))
              (c, u.ts, u.seq) else (st.cc, st.cts, st.cseq)
          st.copy(oc = o._1, ots = o._2, oseq = o._3,
            hc = math.max(st.hc, c), lc = math.min(st.lc, c),
            cc = cl._1, cts = cl._2, cseq = cl._3)
        }
      },
      close = (sym, _, st, _, _) =>
        closeBucket(sym, st).copy(hc = Long.MinValue),
      serve = (sym, st) => Some(emit(sym, st)))
  }

  /** Per-symbol TSRV state: the open bucket's (ts, seq)-stamped close
    * as the batch DOUBLE (no cents — the estimator logs price
    * ratios directly), the last K closed-bucket closes most-recent
    * first, the bucket count, and the two exact square sums (BigInt
    * as string). O(K) per key. */
  case class TsrvState(close: Double, cts: Long, cseq: Long, m: Long,
      prevs: Seq[Double], s1: String, sk: String)
  case class TsrvRow(symbol: String, m: Long, sum_q2_1: Option[Long],
      sum_q2_k: Option[Long], rv_full: Option[Double],
      tsrv: Option[Double], tsrv_pos: Option[Double])

  /** Two-scale realized variance on a STREAM — the serve-current-state
    * twin of [[graft.operators.ReturnDynamics.tsrv]]: the open bucket
    * carries its (ts, seq)-stamped close, rollover scores the
    * full-grid return against the last close and the subgrid return
    * against the close K buckets back (both `floor(ln·1e6)` with the
    * loud 1e9 bound, exactly the batch lags over PRESENT buckets),
    * pushes the close into the bounded K-deep history, and the
    * CURRENT estimate is emitted with the batch IEEE chain — after a
    * far-future closer the last serving row equals the batch operator
    * bit-for-bit (StreamingSpec). */
  def streamingTsrv(updates: Dataset[Update], seconds: Long = 60,
      k: Int = 5): Dataset[TsrvRow] = {
    require(k > 1, "k must exceed 1 (K=1 degenerates to RV_full)")
    import updates.sparkSession.implicits._
    val DecimalMax = BigInt(10).pow(38)
    def q(sym: String, c: Double, prev: Double, what: String): Long = {
      val v = math.floor(math.log(c / prev) * 1e6d).toLong
      if (math.abs(v) > graft.operators.Microstructure.QuantizedReturnBound)
        throw new ArithmeticException(
        s"tsrv: $what outside double range at symbol=$sym")
      v
    }
    def closeBucket(sym: String, st: TsrvState): TsrvState = {
      val s1 =
        if (st.prevs.nonEmpty) {
          val q1 = q(sym, st.close, st.prevs.head, "full-grid ratio")
          (BigInt(st.s1) + BigInt(q1) * BigInt(q1)).toString
        } else st.s1
      val sk =
        if (st.prevs.length >= k) {
          val qk = q(sym, st.close, st.prevs(k - 1), "subgrid ratio")
          (BigInt(st.sk) + BigInt(qk) * BigInt(qk)).toString
        } else st.sk
      st.copy(m = st.m + 1L, prevs = (st.close +: st.prevs).take(k),
        s1 = s1, sk = sk)
    }
    def emit(sym: String, st: TsrvState): TsrvRow = {
      if (st.m == 0L) return TsrvRow(sym, 0L, None, None, None, None,
        None)
      def gl(b: BigInt, what: String): Long = {
        if (b.abs >= DecimalMax) throw new ArithmeticException(
          s"tsrv: $what outside the exact decimal regime at " +
            s"symbol=$sym")
        if (b.abs > BigInt(Long.MaxValue)) throw new ArithmeticException(
          s"tsrv: $what overflows BIGINT at symbol=$sym")
        b.toLong
      }
      val s1 = gl(BigInt(st.s1), "sum_q2_1")
      val sk = gl(BigInt(st.sk), "sum_q2_k")
      val mD = st.m.toDouble
      val rvFull = s1.toDouble / 1e12d
      val avgRv = (sk.toDouble / 1e12d) / k.toDouble
      val nBar = (mD - k.toDouble + 1.0d) / k.toDouble
      val est = avgRv - nBar / (mD - 1.0d) * rvFull
      TsrvRow(sym, st.m, Some(s1), Some(sk),
        if (st.m > 1L) Some(rvFull) else None,
        if (st.m > k.toLong) Some(est) else None,
        if (st.m > k.toLong) Some(math.max(est, 0.0d)) else None)
    }
    // the open bucket's close stamp starts below every (ts, seq)
    bucketFold[String, TsrvState, TsrvRow](updates, seconds, _.symbol,
      u => u.is_trade && SqlOrd.gt(u.price, 0.0), TsrvState(0.0d,
        Long.MinValue, Long.MinValue, 0L, Nil, "0", "0"))(
      add = (_, st, u) => {
        FiniteGuard.price("tsrv", u) // the batch finitePrice
        if (u.ts > st.cts || (u.ts == st.cts && u.seq >= st.cseq))
          st.copy(close = u.price, cts = u.ts, cseq = u.seq)
        else st
      },
      close = (sym, _, st, _, _) => closeBucket(sym, st)
        .copy(cts = Long.MinValue, cseq = Long.MinValue),
      serve = (sym, st) => Some(emit(sym, st)))
  }

  /** Per-symbol realized-kernel state: the open bucket's (ts, seq)-
    * stamped close, the previous closed-bucket close, the last H
    * quantized returns most-recent first, the return count and the
    * H+1 exact autocovariance sums (BigInt as string). O(H) per
    * key. */
  case class RkState(close: Double, cts: Long, cseq: Long, prev: Double,
      nRets: Long, qHist: Seq[Long], gammas: Seq[String])
  case class RkRow(symbol: String, n_rets: Long, gamma0: Option[Long],
      gamma1: Option[Long], gamma2: Option[Long],
      gamma3: Option[Long], gamma4: Option[Long],
      rk_var: Option[Double], rk_vol: Option[Double])

  /** Realized-kernel variance on a STREAM — the serve-current-state
    * twin of [[graft.operators.ReturnDynamics.realizedKernel]] at the
    * fixed default bandwidth H = 4: rollover scores the quantized
    * return against the previous PRESENT bucket's close (loud 1e9
    * bound), folds `γ₀ += q²` and `γ_h += q·q_{t−h}` against the
    * bounded H-deep return history, and the CURRENT estimate is
    * emitted with the batch Parzen chain — after a far-future closer
    * the last serving row equals the batch operator bit-for-bit
    * (StreamingSpec). */
  def streamingRealizedKernel(updates: Dataset[Update],
      seconds: Long = 60): Dataset[RkRow] = {
    import updates.sparkSession.implicits._
    val H = 4
    def q(sym: String, c: Double, prev: Double): Long = {
      val v = math.floor(math.log(c / prev) * 1e6d).toLong
      if (math.abs(v) > graft.operators.Microstructure.QuantizedReturnBound)
        throw new ArithmeticException(
        s"bucketReturns: price ratio outside double range at " +
          s"symbol=$sym")
      v
    }
    def closeBucket(sym: String, st: RkState): RkState = {
      if (st.prev <= 0.0d) // first present bucket: no return yet
        return st.copy(prev = st.close)
      val qv = q(sym, st.close, st.prev)
      val gs = st.gammas.zipWithIndex.map { case (g, h) =>
        if (h == 0) (BigInt(g) + BigInt(qv) * BigInt(qv)).toString
        else if (st.qHist.length >= h)
          (BigInt(g) + BigInt(qv) * BigInt(st.qHist(h - 1))).toString
        else g
      }
      st.copy(prev = st.close, nRets = st.nRets + 1L,
        qHist = (qv +: st.qHist).take(H), gammas = gs)
    }
    def emit(sym: String, st: RkState): RkRow = {
      if (st.nRets == 0L) return RkRow(sym, 0L, None, None, None,
        None, None, None, None)
      def gl(b: BigInt, what: String): Long = {
        if (b.abs > BigInt(Long.MaxValue)) throw new ArithmeticException(
          s"realizedKernel: $what overflows BIGINT at symbol=$sym")
        b.toLong
      }
      val g = (0 to H).map(h => gl(BigInt(st.gammas(h)), s"gamma$h"))
      var rk = g(0).toDouble
      for (h <- 1 to H)
        rk = rk + 2.0d * graft.operators.ReturnDynamics
          .parzen(h.toDouble / (H + 1).toDouble) * g(h).toDouble
      rk = rk / 1e12d
      RkRow(sym, st.nRets, Some(g(0)), Some(g(1)), Some(g(2)),
        Some(g(3)), Some(g(4)), Some(rk),
        Some(math.sqrt(math.max(rk, 0.0d))))
    }
    // the open bucket's close stamp starts below every (ts, seq)
    bucketFold[String, RkState, RkRow](updates, seconds, _.symbol,
      u => u.is_trade && SqlOrd.gt(u.price, 0.0), RkState(0.0d,
        Long.MinValue, Long.MinValue, 0.0d, 0L, Nil, Seq.fill(H + 1)("0")))(
      add = (_, st, u) => {
        FiniteGuard.price("realizedKernel", u) // the batch finitePrice
        if (u.ts > st.cts || (u.ts == st.cts && u.seq >= st.cseq))
          st.copy(close = u.price, cts = u.ts, cseq = u.seq)
        else st
      },
      close = (sym, _, st, _, _) => closeBucket(sym, st)
        .copy(cts = Long.MinValue, cseq = Long.MinValue),
      serve = (sym, st) => Some(emit(sym, st)))
  }

  /** Per-symbol drawdown state: the open bucket's running close,
    * the running peak over CLOSED buckets, and the exact minimum
    * quantized trough ratio with its earliest bucket. O(1) per key. */
  case class DdState(close: Double, peak: Double, hasPeak: Boolean,
      n: Long, qMin: Long, trough: Long)
  case class DdRow(symbol: String, n_buckets: Long, q_min: Option[Long],
      trough_start: Option[Long], max_drawdown: Option[Double])

  /** Maximum drawdown on a STREAM — the ingest-time twin of
    * [[graft.operators.Microstructure.maxDrawdown]] at the serving
    * cadence: the fold closes a bucket on advance, extends the running
    * peak (SqlOrd max — the plan's NaN-greatest ordering), quantizes
    * the trough ratio exactly, and keeps the earliest bucket attaining
    * the minimum (bucket starts are monotone, so first-strict-
    * improvement IS the batch `min(start) where q = min(q)`). After
    * sentinel closers the emitted row is the batch row bit-for-bit
    * (StreamingSpec). */
  def streamingMaxDrawdown(updates: Dataset[Update],
      seconds: Long = 60): Dataset[DdRow] = {
    import updates.sparkSession.implicits._
    def closeBucket(st: DdState, bucket: Long): DdState = {
      val peak =
        if (!st.hasPeak || SqlOrd.gt(st.close, st.peak)) st.close
        else st.peak
      val q = math.floor(st.close / peak * 1e6).toLong
      if (q < st.qMin)
        st.copy(peak = peak, hasPeak = true, n = st.n + 1L, qMin = q,
          trough = bucket)
      else st.copy(peak = peak, hasPeak = true, n = st.n + 1L)
    }
    def emit(sym: String, st: DdState): DdRow =
      if (st.n == 0L) DdRow(sym, 0L, None, None, None)
      else DdRow(sym, st.n, Some(st.qMin), Some(st.trough),
        Some(1.0d - st.qMin.toDouble / 1e6))
    bucketFold[String, DdState, DdRow](updates, seconds, _.symbol,
      u => u.is_trade && SqlOrd.gt(u.price, 0.0),
      DdState(0.0, 0.0, hasPeak = false, 0L, Long.MaxValue, 0L))(
      add = (_, st, u) => {
        FiniteGuard.price("maxDrawdown", u) // the batch finitePrice
        st.copy(close = u.price)
      },
      close = (_, b, st, _, _) => closeBucket(st, b),
      serve = (sym, st) => Some(emit(sym, st)))
  }

  /** One scale's cross-symbol state: the global open coarse bucket,
    * each symbol's open close within it (plain assignment under the
    * sorted fold — last write IS last-by-(ts, seq), the
    * [[streamingRealizedKernel]] convention), each symbol's previous
    * PRESENT coarse close (the batch lag over present buckets), and
    * the per-pair exact Pearson component sums (BigInt as string).
    * O(S + P) per scale, P ≤ maxSymbols²/2 by the loud guard. */
  case class EppsScaleState(gb: Long, opens: Map[String, Double],
      prevs: Map[String, Double], pairs: Map[String, EppsPairSums])
  case class EppsPairSums(n: Long, sx: String, sy: String, sxy: String,
      sxx: String, syy: String)
  case class EppsCorrRow(symbol_a: String, symbol_b: String,
      scale_s: Long, n_pairs: Long, sum_x: Option[Double],
      sum_y: Option[Double], sum_xy: Option[Double],
      sum_xx: Option[Double], sum_yy: Option[Double],
      return_corr: Option[Double])

  /** Cross-symbol return correlation on a STREAM at a single scale —
    * [[streamingEppsEffect]] with a one-rung ladder; see its contract
    * (VERDICT r15 #3: the per-(pair, scale) Pearson component sums
    * are associative, so the open-bucket fold applies). */
  def streamingReturnCorr(updates: Dataset[Update], seconds: Long = 60,
      maxSymbols: Int = graft.operators.Microstructure.MaxCorrSymbols)
      : Dataset[EppsCorrRow] =
    streamingEppsEffect(updates, Seq(seconds), maxSymbols)

  /** Epps-effect correlation ladder on a STREAM — the
    * serve-current-state twin of
    * [[graft.operators.Microstructure.eppsEffect]] (and, at one
    * scale, [[graft.operators.Microstructure.returnCorr]]): per scale
    * the fold tracks each symbol's open coarse-bucket close; when the
    * GLOBAL coarse clock advances (rows fold in (ts, seq) order, so a
    * bucket is immutable once any later tick arrives), every open
    * close scores its present-bucket return
    * `q = floor(ln(close/prev)·1e6)` (loud
    * [[graft.operators.Microstructure.QuantizedReturnBound]] guard),
    * the bucket's returning symbols pair off (a < b in the batch
    * sort_array order, the loud maxSymbols S²/2 guard riding the
    * expansion), and each pair's exact integer component sums
    * (n, Σx, Σy, Σxy, Σx², Σy²) fold in BigInt — associative, the
    * whole reason this member of the family streams while
    * hayashiYoshida (cross-key forward lookups) and cusumChangePoint
    * (final-mean centering) stay batch-only by definition. The
    * CURRENT (pair, scale) rows are emitted per micro-batch with the
    * batch decimal→double emission (loud decimal(38) bound) and the
    * batch IEEE Pearson chain, so after a far-future closer the last
    * serving snapshot equals the batch operator bit-for-bit
    * (StreamingSpec, both row sets).
    *
    * Late rows follow [[tickFold]]'s mark, and the fold's one key makes
    * it one mark for the whole feed: a trade older than one already
    * folded, of any symbol, is dropped. That covers a trade from a
    * coarse bucket older than a scale's open one, so a bucket closes
    * only on a later one and is never reopened.
    *
    * Scale contract, stated honestly: pair sums are inherently
    * cross-key, so the fold runs under ONE group key — every tick
    * passes through a single stateful task. That is the right shape
    * for a SERVING summary whose output is the S²/2 correlation
    * matrix of a bounded venue catalog (the reference's book set;
    * the same maxSymbols bound the batch arm enforces), and the
    * wrong shape for an unbounded corpus — the batch arm, whose pair
    * expansion runs per-bucket across the cluster, remains the scale
    * path. */
  def streamingEppsEffect(updates: Dataset[Update],
      scales: Seq[Long] = Seq(60L, 300L, 900L),
      maxSymbols: Int = graft.operators.Microstructure.MaxCorrSymbols)
      : Dataset[EppsCorrRow] = {
    require(scales.nonEmpty && scales.forall(_ > 0),
      "scales must be positive")
    require(scales.forall(_ % scales.min == 0),
      s"every scale must be a multiple of the finest (${scales.min})")
    import updates.sparkSession.implicits._
    val Unset = Long.MinValue
    val DecimalMax = BigInt(10).pow(38)
    val sortedScales = scales.sorted
    def zero = sortedScales.map(s =>
      s.toString -> EppsScaleState(Unset, Map(), Map(), Map())).toMap
    def q(sym: String, c: Double, prev: Double): Long = {
      val v = math.floor(math.log(c / prev) * 1e6d).toLong
      if (math.abs(v) >
          graft.operators.Microstructure.QuantizedReturnBound)
        throw new ArithmeticException(
          s"eppsEffect: price ratio outside double range at " +
            s"symbol=$sym")
      v
    }
    /** Close the global bucket: score every open symbol's return,
      * expand the a<b pairs of the returning set, fold the sums. */
    def closeGlobal(st: EppsScaleState,
        maxS: Int): EppsScaleState = {
      val qs = st.opens.toSeq.flatMap { case (sym, close) =>
        st.prevs.get(sym).map(p => sym -> q(sym, close, p))
      }.sortBy(_._1)
      if (qs.length > maxS) throw new ArithmeticException(
        s"returnCorr: bucket symbol set exceeds $maxS (S^2/2 pair " +
          s"expansion) at start=${st.gb}")
      var pairs = st.pairs
      for (i <- qs.indices; j <- (i + 1) until qs.length) {
        val (sa, qa) = qs(i); val (sb, qb) = qs(j)
        val key = sa + "\u0000" + sb
        val cur = pairs.getOrElse(key,
          EppsPairSums(0L, "0", "0", "0", "0", "0"))
        val (x, y) = (BigInt(qa), BigInt(qb))
        pairs = pairs.updated(key, EppsPairSums(cur.n + 1L,
          (BigInt(cur.sx) + x).toString,
          (BigInt(cur.sy) + y).toString,
          (BigInt(cur.sxy) + x * y).toString,
          (BigInt(cur.sxx) + x * x).toString,
          (BigInt(cur.syy) + y * y).toString))
      }
      st.copy(opens = Map(),
        prevs = st.prevs ++ st.opens, pairs = pairs)
    }
    def emit(scaleS: Long, st: EppsScaleState): Seq[EppsCorrRow] = {
      def gd(b: BigInt, what: String, k: String): Double = {
        if (b.abs >= DecimalMax) throw new ArithmeticException(
          s"returnCorr: $what outside the exact decimal regime at " +
            s"pair=$k")
        b.toDouble // round-half-even = the batch decimal→double cast
      }
      st.pairs.toSeq.sortBy(_._1).map { case (k, p) =>
        val Array(sa, sb) = k.split('\u0000')
        val n = p.n
        val sx = gd(BigInt(p.sx), "sum_x", k)
        val sy = gd(BigInt(p.sy), "sum_y", k)
        val sxy = gd(BigInt(p.sxy), "sum_xy", k)
        val sxx = gd(BigInt(p.sxx), "sum_xx", k)
        val syy = gd(BigInt(p.syy), "sum_yy", k)
        val dx = n.toDouble * sxx - sx * sx
        val dy = n.toDouble * syy - sy * sy
        val corr =
          if (n >= 2L && dx != 0.0d && dy != 0.0d)
            Some((n.toDouble * sxy - sx * sy) /
              (math.sqrt(dx) * math.sqrt(dy)))
          else None
        EppsCorrRow(sa, sb, scaleS, n, Some(sx), Some(sy), Some(sxy),
          Some(sxx), Some(syy), corr)
      }
    }
    tickFold[Int, Map[String, EppsScaleState], EppsCorrRow](updates,
      _ => 0, u => u.is_trade && SqlOrd.gt(u.price, 0.0), zero)(
      (_, st, u, _) => {
        FiniteGuard.price("eppsEffect", u)
        sortedScales.foldLeft(st) { (st, s) =>
          val b = Buckets.of(u.ts, s)
          val ss0 = st(s.toString)
          val ss =
            if (b <= ss0.gb) ss0
            else if (ss0.gb == Unset) ss0.copy(gb = b)
            else closeGlobal(ss0, maxSymbols).copy(gb = b)
          st.updated(s.toString,
            ss.copy(opens = ss.opens.updated(u.symbol, u.price)))
        }
      },
      (_, st) => sortedScales.flatMap(s => emit(s, st(s.toString))))
  }

  case class BookFeat(symbol: String,
      best_bid: Option[Double], bid_size: Option[Double],
      best_ask: Option[Double], ask_size: Option[Double],
      microprice: Option[Double],
      bid_depth: Double, ask_depth: Double, imbalance: Option[Double])

  /** Per-symbol OFI state: the SET-only level book (key packs
    * `(level << 1) | is_bid`, value = last set size) and the previous
    * CLOSED bucket's touch. */
  case class OfiState(book: Map[Long, Double],
      pbbl: Option[Long], pbbs: Option[Double],
      pbal: Option[Long], pbas: Option[Double], hasPrev: Boolean)
  case class OfiRow(symbol: String, start: Long,
      best_bid: Option[Double], bid_size: Option[Double],
      best_ask: Option[Double], ask_size: Option[Double],
      ofi: Option[Double])

  /** Order Flow Imbalance on a STREAM — the ingest-time twin of
    * [[graft.operators.BookFeatures.ofi]]: the fold carries the
    * SET-only level book (last write wins — exactly the batch forward
    * fill, which carries each level's last set across the symbol's
    * present buckets) plus the previous bucket's touch; a bucket close
    * computes the touch (live iff size > 0 under the NaN-greatest
    * [[SqlOrd]] compare, the batch filter) and emits the same
    * four-term IEEE chain. Closed buckets equal the batch rows
    * bit-for-bit (MicrostructureFuzzSpec, far-future LEVEL closer). */
  def streamingOfi(updates: Dataset[Update], seconds: Long = 60,
      decimals: Int = 2): Dataset[OfiRow] = {
    import updates.sparkSession.implicits._
    val mult = math.pow(10, decimals)
    def closeTouch(sym: String, bucket: Long, st: OfiState,
        out: OfiRow => Unit): OfiState = {
      // the batch touch: best live level per side with its SET size.
      // A bucket with NO live level has no row in the batch touch
      // table at all — its lag skips it — so emit nothing and carry
      // the previous touch unchanged.
      val live = st.book.filter(e => SqlOrd.gt(e._2, 0.0d))
      if (live.isEmpty) st
      else {
        val bids = live.collect { case (k, s) if (k & 1L) == 1L =>
          (k >> 1, s) }
        val asks = live.collect { case (k, s) if (k & 1L) == 0L =>
          (k >> 1, s) }
        val bbl = if (bids.isEmpty) None else Some(bids.keysIterator.max)
        val bal = if (asks.isEmpty) None else Some(asks.keysIterator.min)
        val bbs = bbl.map(bids); val bas = bal.map(asks)
        val ofi = for {
          b <- bbl; a <- bal; pb <- st.pbbl; pa <- st.pbal
          bs <- bbs; as <- bas; pbs <- st.pbbs; pas <- st.pbas
          if st.hasPrev
        } yield
          ((if (b >= pb) bs else 0.0d) - (if (b <= pb) pbs else 0.0d)) -
          ((if (a <= pa) as else 0.0d) - (if (a >= pa) pas else 0.0d))
        out(OfiRow(sym, bucket, bbl.map(_.toDouble / mult), bbs,
          bal.map(_.toDouble / mult), bas, ofi))
        st.copy(pbbl = bbl, pbbs = bbs, pbal = bal, pbas = bas,
          hasPrev = true)
      }
    }
    bucketFold[String, OfiState, OfiRow](updates, seconds, _.symbol,
      !_.is_trade,
      OfiState(Map.empty, None, None, None, None, hasPrev = false))(
      add = (_, st, u) => {
        FiniteGuard.price("ofi", u) // the batch finitePrice
        val level = math.floor(u.price * mult).toLong
        st.copy(book = st.book +
          (((level << 1) | (if (u.is_bid) 1L else 0L)) -> u.size))
      },
      close = (sym, b, st, _, out) => closeTouch(sym, b, st, out))
  }

  /** Per-symbol depth-profile state: the SET-only level book (the
    * [[OfiState]] packing). */
  case class DepthState(book: Map[Long, Double])
  case class DepthRow(symbol: String, start: Long, is_bid: Boolean,
      band_bps: Long, n_levels: Long, depth: Double)

  /** Book depth profile on a STREAM — the ingest-time twin of
    * [[graft.operators.BookFeatures.depthProfile]]: the fold carries
    * the SET-only level book (last write wins ≡ the batch forward
    * fill); a bucket close replays the batch band scan EXACTLY — the
    * integer band cut `10000·|2l − m2| ≤ e·m2` and the scale-4
    * [[Dec4]] depth sums — so closed buckets equal the batch rows
    * bit-for-bit (MicrostructureFuzzSpec, far-future LEVEL closer). */
  def streamingDepthProfile(updates: Dataset[Update],
      seconds: Long = 60, decimals: Int = 2,
      bandsBps: Seq[Long] = Seq(5L, 10L, 25L, 50L))
      : Dataset[DepthRow] = {
    import updates.sparkSession.implicits._
    val mult = math.pow(10, decimals)
    val bands = bandsBps.sorted
    val Dec4 = Streaming.Dec4
    def closeBands(sym: String, b: Long, st: DepthState,
        out: DepthRow => Unit): Unit = {
      val live = st.book.filter(e => SqlOrd.gt(e._2, 0.0d))
      val bids = live.collect { case (k, s) if (k & 1L) == 1L =>
        (k >> 1, s) }
      val asks = live.collect { case (k, s) if (k & 1L) == 0L =>
        (k >> 1, s) }
      if (bids.isEmpty || asks.isEmpty) return
      val m2 = bids.keysIterator.max + asks.keysIterator.min
      for ((side, isBid) <- Seq((bids, true), (asks, false))) {
        val nLv = new Array[Long](bands.length)
        val dq = new Array[Long](bands.length)
        side.foreach { case (l, s) =>
          val d = 10000L * math.abs(2L * l - m2)
          var i = 0
          while (i < bands.length) {
            if (d <= bands(i) * m2) {
              nLv(i) += 1L; dq(i) += Dec4.dec4(s)
            }
            i += 1
          }
        }
        var i = 0
        while (i < bands.length) {
          out(DepthRow(sym, b, isBid, bands(i), nLv(i),
            Dec4.dec4ToDouble(dq(i))))
          i += 1
        }
      }
    }
    bucketFold[String, DepthState, DepthRow](updates, seconds, _.symbol,
      !_.is_trade, DepthState(Map.empty))(
      add = (_, st, u) => {
        FiniteGuard.price("depthProfile", u)
        val level = math.floor(u.price * mult).toLong
        DepthState(st.book +
          (((level << 1) | (if (u.is_bid) 1L else 0L)) -> u.size))
      },
      close = (sym, b, st, _, out) => { closeBands(sym, b, st, out); st })
  }

  /** Book-derived features on a STREAM — the ingest-time twin of
    * [[graft.operators.BookFeatures.microprice]] and
    * [[graft.operators.BookFeatures.depthImbalance]] off ONE shared
    * incremental book state ([[graft.operators.Orderbook.step]], whose
    * cells give batch-exact sizes). Emits one row per
    * symbol per micro-batch with the CURRENT features — the serving
    * cadence; feeding the whole history is the batch result bit-for-bit
    * (StreamingSpec proves both features against the batch ops).
    *
    * Parity notes, all inherited from the batch ops: a level set to
    * size 0 is REMOVED; a level whose computed size reaches 0 via
    * trades is KEPT (the batch filter is on last-set size only); a
    * symbol missing a side emits null microprice and that side's
    * best/size as null; depth sums quantize each included level's
    * computed size to decimal scale 4 (the `exactSum` cast) and sum
    * exactly. State is bounded by live price levels per symbol. Late
    * rows follow [[tickFold]]'s mark. */
  def streamingBookFeatures(updates: Dataset[Update], decimals: Int = 2,
      k: Long = 10L): Dataset[BookFeat] = {
    import updates.sparkSession.implicits._
    val mult = math.pow(10, decimals)
    val Dec4 = Streaming.Dec4 // local binding: the closure captures the
    // serializable holder, not the enclosing (non-serializable) object
    import Orderbook.sizeOf
    def serve(sym: String, b: Map[Long, LevelCell]): Option[BookFeat] =
      if (b.isEmpty) None
      else {
        val (bids, asks) = Orderbook.sides(b)
        val bb = if (bids.isEmpty) None else Some(bids.keysIterator.max)
        val ba = if (asks.isEmpty) None else Some(asks.keysIterator.min)
        val bidSz = bb.map(l => sizeOf(bids(l)))
        val askSz = ba.map(l => sizeOf(asks(l)))
        val bestBid = bb.map(_.toDouble / mult)
        val bestAsk = ba.map(_.toDouble / mult)
        val micro = for {
          bbd <- bestBid; bad <- bestAsk; bs <- bidSz; as <- askSz
          if bs + as != 0.0d
        } yield (bbd * as + bad * bs) / (bs + as)
        // depth within k ticks of each side's own best, exact scale-4 sums
        val bidDepth = bb.fold(0L)(l => bids.iterator
          .filter(_._1 >= l - k)
          .map(e => Dec4.dec4(sizeOf(e._2)))
          .foldLeft(0L)(Math.addExact))
        val askDepth = ba.fold(0L)(l => asks.iterator
          .filter(_._1 <= l + k)
          .map(e => Dec4.dec4(sizeOf(e._2)))
          .foldLeft(0L)(Math.addExact))
        val bd = Dec4.dec4ToDouble(bidDepth)
        val ad = Dec4.dec4ToDouble(askDepth)
        val imb = if (bd + ad != 0.0d) Some((bd - ad) / (bd + ad)) else None
        Some(BookFeat(sym, bestBid, bidSz, bestAsk, askSz, micro, bd, ad,
          imb))
      }
    tickFold[String, Map[Long, LevelCell], BookFeat](updates, _.symbol,
      _ => true, Map.empty)((_, b, u, _) => Orderbook.step(b, u, mult),
      serve)
  }

  case class LiqRow(symbol: String, is_bid: Boolean, n_levels: Long,
      liquidity: Double)

  /** Banded liquidity on a STREAM — the ingest-time twin of
    * [[graft.operators.Orderbook.liquidityBand]] off the same
    * incremental book state as [[streamingBookFeatures]]
    * ([[graft.operators.Orderbook.step]]): per micro-batch, the CURRENT
    * all-integer band test around `(bb+ba) div 2` and the exact scale-4
    * size sums (`Orderbook.sizeOf` is the batch snapshot's arithmetic,
    * the Dec4 sum is the `exactSum` decimal cast).
    * Like the batch op, a symbol missing a side emits nothing, and a
    * side with no in-band levels emits no row. Feeding the whole
    * history reproduces the batch table bit-for-bit (StreamingSpec).
    * Late rows follow [[tickFold]]'s mark. */
  def streamingLiquidityBand(updates: Dataset[Update], bps: Long = 25L,
      decimals: Int = 2): Dataset[LiqRow] = {
    import updates.sparkSession.implicits._
    val mult = math.pow(10, decimals)
    val Dec4 = Streaming.Dec4 // see streamingBookFeatures: holder capture
    import Orderbook.sizeOf
    def serve(sym: String, b: Map[Long, LevelCell]): Seq[LiqRow] = {
      val (bids, asks) = Orderbook.sides(b)
      if (bids.isEmpty || asks.isEmpty) Nil
      else {
        val mid = (bids.keysIterator.max + asks.keysIterator.min) / 2L
        def side(levels: Map[Long, LevelCell], isBid: Boolean) = {
          val in = levels.iterator.filter { case (l, _) =>
            math.abs(l - mid) * 10000L <= mid * bps }.toSeq
          if (in.isEmpty) None
          else Some(LiqRow(sym, isBid, in.length.toLong,
            Dec4.dec4ToDouble(in.map(e => Dec4.dec4(sizeOf(e._2)))
              .foldLeft(0L)(Math.addExact))))
        }
        (side(bids, isBid = true) ++ side(asks, isBid = false)).toSeq
      }
    }
    tickFold[String, Map[Long, LevelCell], LiqRow](updates, _.symbol,
      _ => true, Map.empty)((_, b, u, _) => Orderbook.step(b, u, mult),
      serve)
  }

  /** Per-symbol rolling-volume state: the trailing-window trade buffer
    * (ts, exact unscaled scale-4 size) plus the UNRESOLVED newest-ts
    * peer group — a RANGE frame includes ALL trades at a row's own ts
    * (later-seq peers too), so a row can only resolve once a strictly
    * later ts arrives for its symbol. */
  case class RollState(buf: List[(Long, Long)],
      pend: List[(Long, Long, Double, Long)])
  case class RollRow(symbol: String, ts: Long, seq: Long, size: Double,
      n_window: Long, vol_window: Double)

  /** Trailing-window rolling trade volume on a STREAM — the ingest-time
    * twin of [[graft.operators.BookFeatures.rollingVolume]] as a
    * per-symbol ordered fold with emit-on-advance peer resolution: rows
    * at the newest ts stay pending until a strictly later trade arrives
    * (RANGE-frame peers — the batch frame includes same-ts rows with
    * LATER seq, which a stream cannot have seen), then every pending
    * peer emits with the full peer group counted — so each symbol's
    * final ts group stays open (the fold twins' dropLast stance) and
    * everything emitted matches the batch op bit-exactly
    * (StreamingSpec): same exact scale-4 decimal sum ([[Dec4.dec4]]), same
    * single cast-to-double. State is bounded by the trades inside one
    * `windowMs` span per symbol. Rows fold in (ts, seq) order, and a
    * trade below the symbol's (ts, seq) mark is dropped ([[tickFold]]):
    * a late trade neither resolves a pending group early nor enters a
    * window that has already emitted. */
  def streamingRollingVolume(updates: Dataset[Update],
      windowMs: Long = 60000L): Dataset[RollRow] = {
    import updates.sparkSession.implicits._
    val Dec4 = Streaming.Dec4 // see streamingBookFeatures: avoid capture
    def resolve(sym: String, st: RollState,
        out: RollRow => Unit): RollState = {
      val t = st.pend.head._1
      // peers enter the frame of every peer, then the frame is the
      // pruned trailing buffer — identical for the whole peer group
      val buf = (st.buf ++ st.pend.map(p => (p._1, p._4)))
        .filter(_._1 >= t - (windowMs - 1))
      val n = buf.length.toLong
      val vol = Dec4.dec4ToDouble(buf.iterator.map(_._2)
        .foldLeft(0L)(Math.addExact))
      st.pend.reverseIterator.foreach { case (ts, seq, size, _) =>
        out(RollRow(sym, ts, seq, size, n, vol))
      }
      RollState(buf, Nil)
    }
    tickFold[String, RollState, RollRow](updates, _.symbol, _.is_trade,
      RollState(Nil, Nil))(
      (sym, st0, u, out) => {
        val st = if (st0.pend.nonEmpty && u.ts > st0.pend.head._1)
          resolve(sym, st0, out) else st0
        st.copy(pend = (u.ts, u.seq, u.size, Dec4.dec4(u.size)) :: st.pend)
      })
  }

  /** Per-source token budgeting on a STREAM of documents — the ingest-time
    * twin of [[graft.ext.Pipeline.tokenBudget]]: per-source state is one
    * running token total (O(1) per key) carried across micro-batches; a
    * document passes iff it fits ENTIRELY in its source's remaining
    * budget (same whole-doc-fit convention as the batch operator). Within
    * a micro-batch rows process in the batch operator's deterministic
    * md5(doc_id) order; ACROSS batches the order is arrival order — the
    * inherent streaming deviation (a stream cannot see future arrivals),
    * same stance as [[streamingAsof]]'s late-data note. Feeding the
    * md5-ordered corpus as one batch reproduces the batch operator
    * bit-for-bit (StreamingSpec proves it). The cumulative total advances
    * for EVERY arriving doc, kept or not — the batch operator's
    * prefix-cumsum semantics: once a source crosses its budget it is
    * closed, a smaller later doc cannot sneak in. */
  case class BudgetedDoc(doc_id: Long, source: String, n_tokens: Long,
      cum_tokens: Long)

  def streamingTokenBudget(docs: Dataset[(Long, String, Long)],
      budget: Long): Dataset[BudgetedDoc] = {
    import docs.sparkSession.implicits._
    def md5Key(id: Long): String =
      graft.functions.md5Hex(id.toString.getBytes("UTF-8"))
    keyedFold[(Long, String, Long), String, Long, BudgetedDoc](docs, _._2,
      0L)(_.sortBy { case (id, _, _) => (md5Key(id), id) },
      (src, cum0, r, out) => {
        val cum = cum0 + r._3
        if (cum <= budget) out(BudgetedDoc(r._1, src, r._3, cum))
        cum
      })
  }

  /** Streaming EXACT dedup on a document stream — the ingest-time twin of
    * [[graft.ext.Dedup.exactDedup]]: state per content hash (md5 of the
    * text) is ONE long (the keeper's doc id), so state grows with the
    * number of DISTINCT documents, not the stream. Emits a decision per
    * arriving doc: keep (first arrival of its content) or drop (with the
    * keeper recorded). Within a micro-batch rows process in doc_id order,
    * so a single-batch replay of an id-ordered corpus reproduces the
    * batch operator's min-id keeper exactly; across batches the keeper is
    * the FIRST-ARRIVED doc — the inherent streaming semantics (an emitted
    * keep decision cannot be retracted in append mode), same arrival-
    * order stance as [[streamingTokenBudget]]. */
  case class DedupDecision(doc_id: Long, keeper: Long, keep: Boolean)

  def streamingExactDedup(docs: Dataset[(Long, String)])
      : Dataset[DedupDecision] = {
    import docs.sparkSession.implicits._
    val hashed = docs.map { case (id, text) =>
      (graft.functions.md5Hex(text.getBytes("UTF-8")), id)
    }
    keyedFold[(String, Long), String, Option[Long], DedupDecision](hashed,
      _._1, None)(_.sortBy(_._2),
      (_, keeper, r, out) => {
        val k = keeper.getOrElse(r._2)
        out(DedupDecision(r._2, k, keep = r._2 == k))
        Some(k)
      })
  }

  /** Streaming CHUNK-level dedup — the ingest-time twin of
    * [[graft.ext.Pipeline.chunkDedup]]: each arriving document splits
    * into `width`-word chunks (stateless map side, the scalar twin of
    * the batch slice explode via [[graft.ext.TextOps.sqlWords]]), and
    * state per chunk-content hash is ONE `(doc_id, chunk_idx)` pair —
    * the keeper site. Emits a decision per chunk: keep (first arrival
    * of its content) or drop. Within a micro-batch rows process in
    * `(doc_id, chunk_idx)` order, so a single-batch replay of an
    * id-ordered corpus reproduces the batch operator's keep-first
    * choice exactly; across batches the keeper is the FIRST-ARRIVED
    * site — [[streamingExactDedup]]'s arrival-order stance, one
    * granularity down. State grows with DISTINCT chunk contents, not
    * the stream. */
  case class ChunkDecision(doc_id: Long, chunk_idx: Long,
      chunk_text: String, keeper_doc: Long, keeper_idx: Long,
      keep: Boolean)

  /** Keep-first chunk arbitration shared by the fixed-width and CDC
    * streaming dedups over (hash, doc, idx, text) chunks: state per
    * chunk hash = the keeper (doc, idx); idx −1 = none yet (chunk
    * indexes count from 0). */
  private def chunkKeeper(chunks: Dataset[(String, Long, Long, String)])
      : Dataset[ChunkDecision] = {
    import chunks.sparkSession.implicits._
    keyedFold[(String, Long, Long, String), String, (Long, Long),
      ChunkDecision](chunks, _._1, (0L, -1L))(_.sortBy(r => (r._2, r._3)),
      (_, keeper, r, out) => {
        val (_, d, i, t) = r
        val (kd, ki) = if (keeper._2 < 0L) (d, i) else keeper
        out(ChunkDecision(d, i, t, kd, ki, keep = d == kd && i == ki))
        (kd, ki)
      })
  }

  def streamingChunkDedup(docs: Dataset[(Long, String)],
      width: Int = 20): Dataset[ChunkDecision] = {
    import docs.sparkSession.implicits._
    chunkKeeper(docs.flatMap { case (id, text) =>
      graft.ext.TextOps.sqlWords(text).grouped(width).zipWithIndex
        .map { case (chunk, i) =>
          val t = chunk.mkString(" ")
          (graft.functions.md5Hex(t.getBytes("UTF-8")), id, i.toLong, t)
        }
    })
  }

  /** [[streamingChunkDedup]] with CONTENT-DEFINED boundaries — the
    * ingest-time twin of [[graft.ext.Pipeline.cdcChunkDedup]]: each
    * arriving document chunks at its own rolling-hash boundaries (the
    * scalar twin of the batch op's window chain, per-doc and stateless),
    * then the chunk hashes meet the SAME keep-first keeper state as the
    * fixed-width path. Shift-robustness carries over: a re-crawled page
    * with an injected banner still drops its unchanged tail chunks
    * against the original's state. State = one (doc, idx) per distinct
    * chunk hash, identical growth law to the fixed-width op. */
  def streamingCdcChunkDedup(docs: Dataset[(Long, String)], w: Int = 4,
      div: Int = 16): Dataset[ChunkDecision] = {
    import docs.sparkSession.implicits._
    chunkKeeper(docs.flatMap { case (id, text) =>
      graft.ext.Pipeline.cdcChunksOf(text, w, div).map { case (cid, t) =>
        (graft.functions.md5Hex(t.getBytes("UTF-8")), id, cid, t)
      }
    })
  }

  /** Exact dedup with an EVENT-TIME retention horizon — the rolling-
    * window form of [[streamingExactDedup]] for streams where "keep
    * every content hash forever" is impossible: a content's keeper
    * state expires once the watermark passes its LAST arrival plus
    * `ttlSecs`, and later arrivals of the same content are admitted as
    * fresh keepers. The horizon IS the semantics (production ingest
    * dedups against a recency window), not a state leak — and it makes
    * total state O(distinct contents within the horizon), bounded for
    * any stream length. Each duplicate arrival REFRESHES its content's
    * expiry (timeout = last arrival + ttl), the LRU-ish behavior a
    * rolling dedup wants.
    * Hand-written, not on [[keyedFold]]: it sets an `EventTimeTimeout`
    * and removes expired state, which the timeout-free fold cannot. */
  case class TimedDoc(doc_id: Long, text: String,
      ts: java.sql.Timestamp)

  def streamingExactDedupTtl(docs: Dataset[TimedDoc], ttlSecs: Long,
      watermarkDelay: String = "0 seconds"): Dataset[DedupDecision] = {
    import docs.sparkSession.implicits._
    // state = (keeperId, maxArrivalTsMs): the stored max event time makes
    // the refresh monotone — a batch of ONLY out-of-order duplicates
    // (older ts than the keeper's latest arrival) must not move the
    // expiry earlier than the already-promised 'last arrival + ttl',
    // mirroring the per-member max-ts handling in the simhash/minhash
    // TTL twins
    def fn(hash: String,
        rows: Iterator[(String, Long, java.sql.Timestamp)],
        state: GroupState[(Long, Long)]): Iterator[DedupDecision] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      var keeper = state.getOption.map(_._1)
      var maxTs = state.getOption.map(_._2).getOrElse(Long.MinValue)
      val out = rows.toSeq.sortBy(_._2).map { case (_, id, ts) =>
        maxTs = math.max(maxTs, ts.getTime)
        keeper match {
          case None =>
            keeper = Some(id); DedupDecision(id, id, keep = true)
          case Some(kp) => DedupDecision(id, kp, keep = id == kp)
        }
      }
      keeper.foreach(kp => state.update((kp, maxTs)))
      // clamp past the watermark: Spark REJECTS a timeout that is not
      // strictly later than the current watermark, and a sufficiently
      // late arrival (event time + ttl already behind the watermark)
      // would otherwise kill the query — such state expires at the next
      // trigger instead
      if (maxTs != Long.MinValue)
        state.setTimeoutTimestamp(math.max(maxTs + ttlSecs * 1000L,
          state.getCurrentWatermarkMs() + 1L))
      out.iterator
    }
    // the watermark must be declared on the TIMESTAMP COLUMN that reaches
    // the stateful operator: a typed .map re-creates columns and drops
    // the event-time metadata, so hash first, watermark after
    localCheckpoints(docs)
      .map(d => (graft.functions.md5Hex(d.text.getBytes("UTF-8")),
        d.doc_id, d.ts))
      .toDF("hash", "doc_id", "ts")
      .withWatermark("ts", watermarkDelay)
      .as[(String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Streaming SimHash near-dup detection — the ingest-time twin of
    * [[graft.ext.Dedup.simhashNearDup]]: each arriving document hashes
    * map-side ([[graft.ext.Dedup.simhash64]], the scalar twin of the
    * batch op's bit mapping), fans out to its 64/`bandBits` band keys,
    * and the stateful stage — keyed on the PACKED (band, value) bucket,
    * exactly the batch op's blocking key — compares it against the
    * bucket's members by exact XOR popcount, emitting every pair within
    * `maxHamming`. Same pigeonhole completeness guarantee as the batch
    * op (enforced), evaluated incrementally.
    *
    * State per bucket = the member (doc_id, simhash) list: 16 bytes per
    * member, bounded by bucket occupancy — with [[graft.ext.Dedup
    * .bandBitsFor]] widths that is ~targetBucket (64) members per
    * bucket, NOT the stream length; `bucket_n` carries the post-insert
    * occupancy so callers (and the spec's state-size gate) can audit the
    * bound live. A pair sharing several bands emits once per shared band
    * (identical rows — the batch op's pre-distinct candidate multiset);
    * consumers dedup downstream exactly as the batch op's `.distinct()`. */
  case class SimPair(doc_a: Long, doc_b: Long, hamming: Long, bucket_n: Int)

  def streamingSimhashNearDup(docs: Dataset[(Long, String)],
      bandBits: Int = 8, maxHamming: Int = 2): Dataset[SimPair] = {
    import docs.sparkSession.implicits._
    require(64 % bandBits == 0, s"bandBits $bandBits must divide 64")
    val nBands = 64 / bandBits
    require(maxHamming <= nBands - 1,
      s"banding with $nBands bands is only complete for Hamming <= ${nBands - 1}")
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    val banded = docs.flatMap { case (id, text) =>
      val h = graft.ext.Dedup.simhash64(text)
      // packed bucket key: band index in the high bits, the (≤32-bit)
      // band value in the low 32 — collision-free for every bandBits
      (0 until nBands).map { b =>
        ((b.toLong << 32) | ((h >>> (bandBits * b)) & mask), id, h)
      }
    }
    keyedFold[(Long, Long, Long), Long, List[(Long, Long)], SimPair](banded,
      _._1, Nil)(_.sortBy(_._2),
      (_, members, r, out) => {
        val (_, id, h) = r
        if (members.exists(_._1 == id)) members // replayed frame: no self-pairs
        else {
          members.foreach { case (oid, oh) =>
            val ham = java.lang.Long.bitCount(oh ^ h).toLong
            if (ham <= maxHamming)
              out(SimPair(math.min(oid, id), math.max(oid, id), ham,
                members.size + 1))
          }
          (id, h) :: members
        }
      })
  }

  /** SimHash near-dup with an EVENT-TIME retention horizon — the
    * rolling-window form of [[streamingSimhashNearDup]], completing the
    * TTL story [[streamingExactDedupTtl]] starts: bucket members whose
    * last arrival has fallen `ttlSecs` behind the watermark stop
    * pairing (pruned on the arrival path, since a bucket receiving new
    * data in the same batch its timeout would fire suppresses the
    * timeout), and a bucket whose NEWEST member expires clears its
    * state entirely via EventTimeTimeout. State is therefore
    * O(bucket occupancy within the horizon) for any stream length.
    * Hand-written, not on [[keyedFold]]: it sets an `EventTimeTimeout`
    * and removes expired state, which the timeout-free fold cannot. */
  def streamingSimhashNearDupTtl(docs: Dataset[(Long, String,
      java.sql.Timestamp)], ttlSecs: Long, bandBits: Int = 8,
      maxHamming: Int = 2, watermarkDelay: String = "0 seconds")
      : Dataset[SimPair] = {
    import docs.sparkSession.implicits._
    require(64 % bandBits == 0, s"bandBits $bandBits must divide 64")
    val nBands = 64 / bandBits
    require(maxHamming <= nBands - 1,
      s"banding with $nBands bands is only complete for Hamming <= ${nBands - 1}")
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    val ttlMs = ttlSecs * 1000L
    def fn(bucket: Long,
        rows: Iterator[(Long, Long, Long, java.sql.Timestamp)],
        state: GroupState[List[(Long, Long, Long)]])
        : Iterator[SimPair] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      val horizon = state.getCurrentWatermarkMs() - ttlMs
      var members = state.getOption.getOrElse(List.empty)
        .filter(_._3 > horizon)
      val out = Seq.newBuilder[SimPair]
      rows.toSeq.sortBy(_._2).foreach { case (_, id, h, ts) =>
        members.find(_._1 == id) match {
          case Some(m) =>
            // replayed frame: refresh recency only — the STORED payload
            // wins (a re-sent doc_id with changed text keeps its original
            // simhash rather than silently swapping it without pairing),
            // the same replay stance as the minhash TTL twin
            members = (id, m._2, math.max(m._3, ts.getTime)) ::
              members.filterNot(_._1 == id)
          case None =>
            members.foreach { case (oid, oh, _) =>
              val ham = java.lang.Long.bitCount(oh ^ h).toLong
              if (ham <= maxHamming)
                out += SimPair(math.min(oid, id), math.max(oid, id), ham,
                  members.size + 1)
            }
            members = (id, h, ts.getTime) :: members
        }
      }
      state.update(members)
      // clamped past the watermark -- see streamingExactDedupTtl
      if (members.nonEmpty)
        state.setTimeoutTimestamp(math.max(members.map(_._3).max + ttlMs,
          state.getCurrentWatermarkMs() + 1L))
      out.result().iterator
    }
    localCheckpoints(docs).flatMap { case (id, text, ts) =>
      val h = graft.ext.Dedup.simhash64(text)
      (0 until nBands).map { b =>
        ((b.toLong << 32) | ((h >>> (bandBits * b)) & mask), id, h, ts)
      }
    }.toDF("bucket", "doc_id", "simhash", "ts")
      .withWatermark("ts", watermarkDelay)
      .as[(Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Streaming SemDeDup with an event-time retention horizon — the
    * ingest-time twin of [[graft.ext.Similarity.semDedup]]: centroids
    * train batch-side ([[graft.ext.Similarity.semDedupCentroids]], a
    * bounded collected model), each arriving vector assigns to its
    * nearest cell map-side (scalar argmin over the broadcast table —
    * the identical L2 chain and (dist, cid) tiebreak as the batch
    * `centRank`), and the stateful stage compares the arrival against
    * its cell's stored members by the EXACT cosine chain
    * ([[graft.ext.Similarity.dotScalar]], the dotD fold order) — twins
    * at sim ≥ `threshold` mean drop. ALL arrivals join the member list
    * (kept AND dropped — a dropped vector is still a valid twin for
    * later arrivals, exactly as the batch pair set counts every
    * cell-mate), so a single-batch id-ordered replay reproduces the
    * batch op's (cell, n_twins, kept) verdicts bit-exactly
    * (StreamingSpec proves it). Member state expires per the rolling
    * `ttlSecs` horizon — the bounded-state stance of the simhash TTL
    * twin; the horizon IS the production semantics (dedup against a
    * recency window).
    * Hand-written, not on [[keyedFold]]: it sets an `EventTimeTimeout`
    * and removes expired state, which the timeout-free fold cannot. */
  case class TimedVec(vec_id: Long, emb: Array[Double],
      ts: java.sql.Timestamp)
  case class SemDecision(vec_id: Long, cell: Long, n_twins: Long,
      keep: Boolean)

  def streamingSemDedupTtl(vecs: Dataset[TimedVec],
      cents: Array[(Long, Array[Double])], threshold: Double,
      ttlSecs: Long, watermarkDelay: String = "0 seconds")
      : Dataset[SemDecision] = {
    import vecs.sparkSession.implicits._
    import graft.ext.Similarity.dotScalar
    val ttlMs = ttlSecs * 1000L
    val bc = vecs.sparkSession.sparkContext.broadcast(cents)
    // scalar centRank: first strict minimum over cid-ascending = the
    // batch (dist, cid) window tiebreak
    def assign(e: Array[Double]): Long = {
      var bestCid = Long.MaxValue
      var best = Double.PositiveInfinity
      bc.value.foreach { case (cid, c) =>
        val d = dotScalar(e, e) - 2.0 * dotScalar(e, c) +
          dotScalar(c, c)
        if (d < best) { best = d; bestCid = cid }
      }
      bestCid
    }
    def fn(cell: Long,
        rows: Iterator[(Long, Long, Array[Double], java.sql.Timestamp)],
        state: GroupState[List[(Long, Array[Double], Double, Long)]])
        : Iterator[SemDecision] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      val horizon = state.getCurrentWatermarkMs() - ttlMs
      var members = state.getOption.getOrElse(List.empty)
        .filter(_._4 > horizon)
      val out = Seq.newBuilder[SemDecision]
      rows.toSeq.sortBy(_._2).foreach { case (_, id, e, ts) =>
        members.find(_._1 == id) match {
          case Some(m) =>
            // replayed id: refresh recency, stored payload wins (the
            // simhash TTL twin's replay stance)
            members = (id, m._2, m._3, math.max(m._4, ts.getTime)) ::
              members.filterNot(_._1 == id)
          case None =>
            val norm = math.sqrt(dotScalar(e, e))
            var twins = 0L
            members.foreach { case (_, oe, onorm, _) =>
              // earlier member on the LEFT of the dot — the batch
              // pair join's (a_emb, emb) operand order
              if (dotScalar(oe, e) / (onorm * norm) >= threshold)
                twins += 1
            }
            out += SemDecision(id, cell, twins, twins == 0L)
            members = (id, e, norm, ts.getTime) :: members
        }
      }
      state.update(members)
      // clamped past the watermark -- see streamingExactDedupTtl
      if (members.nonEmpty)
        state.setTimeoutTimestamp(math.max(members.map(_._4).max + ttlMs,
          state.getCurrentWatermarkMs() + 1L))
      out.result().iterator
    }
    localCheckpoints(vecs).map(v => (assign(v.emb), v.vec_id, v.emb, v.ts))
      .toDF("cell", "vec_id", "emb", "ts")
      .withWatermark("ts", watermarkDelay)
      .as[(Long, Long, Array[Double], java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Streaming MinHash+LSH near-dup detection — the ingest-time twin of
    * [[graft.ext.Dedup.minhashNearDup]], the dedup most production
    * pipelines actually run. Each arriving document shingles and signs
    * map-side ([[graft.ext.Dedup.shingleSet]] /
    * [[graft.ext.Dedup.minhashSig]], the scalar twins of the batch
    * shingle/signature aggregations), fans out to its k/r LSH band
    * buckets (band value = md5 of the band's r signature hashes — the
    * batch op's exact banding key), and the stateful stage verifies the
    * arrival against the bucket's members by EXACT set Jaccard — the
    * same inter/uni/jaccard arithmetic the batch op's array_intersect
    * verification computes, evaluated incrementally on arrival.
    *
    * State per bucket = the member (doc_id, shingle-FINGERPRINT array)
    * list: each member stores its doc's distinct shingles as sorted
    * 64-bit md5 prefixes ([[graft.ext.Dedup.shingleHashes64]]) — 8
    * bytes per shingle regardless of word length (the r7 verdict's
    * state-slimming ask: the raw-string payload was O(text bytes) per
    * member), with the Jaccard arithmetic EXACT up to md5-prefix
    * collision. Member count is bounded by LSH bucket occupancy — NOT
    * the stream length; `bucket_n` carries the post-insert occupancy so
    * the spec's state-size gate audits the bound live. A pair agreeing
    * in several bands emits once per shared band (the batch op's
    * pre-distinct candidate multiset); consumers dedup downstream
    * exactly as the batch `.distinct()`. Docs with fewer than n words
    * have no shingles, emit to no bucket and pair with nothing —
    * identically to the batch op. */
  case class MhPair(doc_a: Long, doc_b: Long, inter: Long, uni: Long,
      jaccard: Double, bucket_n: Int)

  /** Intersection size of two SORTED distinct long arrays — the linear
    * two-pointer merge the on-arrival Jaccard verify runs per bucket
    * member (the fingerprint arrays are sorted at build time). */
  private def sortedIntersect(a: Array[Long], b: Array[Long]): Long = {
    var i = 0; var j = 0; var n = 0L
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { n += 1L; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    n
  }

  def streamingMinhashNearDup(docs: Dataset[(Long, String)], n: Int = 2,
      k: Int = 16, r: Int = 4, threshold: Double = 0.2)
      : Dataset[MhPair] = {
    import docs.sparkSession.implicits._
    require(threshold > 0.0,
      "threshold must be > 0 (zero-overlap candidates are never emitted)")
    require(k % r == 0, s"r $r must divide k $k")
    val banded = docs.flatMap { case (id, text) =>
      val shset = graft.ext.Dedup.shingleSet(text, n)
      if (shset.isEmpty) Iterator.empty
      else {
        val sig = graft.ext.Dedup.minhashSig(shset, k)
        val shArr = graft.ext.Dedup.shingleHashes64(shset)
        (0 until k / r).iterator.map { j =>
          val bval = graft.functions.md5Hex(
            sig.slice(j * r, j * r + r).mkString("").getBytes("UTF-8"))
          (s"$j:$bval", id, shArr)
        }
      }
    }
    keyedFold[(String, Long, Array[Long]), String, List[(Long, Array[Long])],
      MhPair](banded, _._1, Nil)(_.sortBy(_._2),
      (_, members, r, out) => {
        val (_, id, shArr) = r
        if (members.exists(_._1 == id)) members // replayed frame: no self-pairs
        else {
          members.foreach { case (oid, oArr) =>
            val inter = sortedIntersect(shArr, oArr)
            val uni = shArr.length.toLong + oArr.length - inter
            val j = if (uni == 0L) 0.0 else inter.toDouble / uni
            if (j >= threshold)
              out(MhPair(math.min(oid, id), math.max(oid, id), inter,
                uni, j, members.size + 1))
          }
          (id, shArr) :: members
        }
      })
  }

  /** MinHash near-dup with an EVENT-TIME retention horizon — the
    * rolling-window form of [[streamingMinhashNearDup]], completing the
    * TTL family (exact, simhash, minhash): same banding and exact
    * on-arrival Jaccard verify, with bucket members pruned on the
    * arrival path once `ttlSecs` behind the watermark and whole buckets
    * cleared via EventTimeTimeout when their newest member expires
    * (the [[streamingSimhashNearDupTtl]] mechanics — arrival-path
    * pruning is what guarantees an expired member never pairs even
    * when same-batch data suppresses the timeout).
    * Hand-written, not on [[keyedFold]]: it sets an `EventTimeTimeout`
    * and removes expired state, which the timeout-free fold cannot. */
  def streamingMinhashNearDupTtl(docs: Dataset[(Long, String,
      java.sql.Timestamp)], ttlSecs: Long, n: Int = 2, k: Int = 16,
      r: Int = 4, threshold: Double = 0.2,
      watermarkDelay: String = "0 seconds"): Dataset[MhPair] = {
    import docs.sparkSession.implicits._
    require(threshold > 0.0,
      "threshold must be > 0 (zero-overlap candidates are never emitted)")
    require(k % r == 0, s"r $r must divide k $k")
    val ttlMs = ttlSecs * 1000L
    def fn(bucket: String,
        rows: Iterator[(String, Long, Array[Long], java.sql.Timestamp)],
        state: GroupState[List[(Long, Array[Long], Long)]])
        : Iterator[MhPair] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      val horizon = state.getCurrentWatermarkMs() - ttlMs
      var members = state.getOption.getOrElse(List.empty)
        .filter(_._3 > horizon)
      val out = Seq.newBuilder[MhPair]
      rows.toSeq.sortBy(_._2).foreach { case (_, id, shArr, ts) =>
        members.find(_._1 == id) match {
          case Some(m) => // replayed frame: refresh recency, no self-pairs
            members = (id, m._2, math.max(m._3, ts.getTime)) ::
              members.filterNot(_._1 == id)
          case None =>
            members.foreach { case (oid, oArr, _) =>
              val inter = sortedIntersect(shArr, oArr)
              val uni = shArr.length.toLong + oArr.length - inter
              val j = if (uni == 0L) 0.0 else inter.toDouble / uni
              if (j >= threshold)
                out += MhPair(math.min(oid, id), math.max(oid, id), inter,
                  uni, j, members.size + 1)
            }
            members = (id, shArr, ts.getTime) :: members
        }
      }
      state.update(members)
      // clamped past the watermark -- see streamingExactDedupTtl
      if (members.nonEmpty)
        state.setTimeoutTimestamp(math.max(members.map(_._3).max + ttlMs,
          state.getCurrentWatermarkMs() + 1L))
      out.result().iterator
    }
    localCheckpoints(docs).flatMap { case (id, text, ts) =>
      val shset = graft.ext.Dedup.shingleSet(text, n)
      if (shset.isEmpty) Iterator.empty
      else {
        val sig = graft.ext.Dedup.minhashSig(shset, k)
        val shArr = graft.ext.Dedup.shingleHashes64(shset)
        (0 until k / r).iterator.map { j =>
          val bval = graft.functions.md5Hex(
            sig.slice(j * r, j * r + r).mkString("").getBytes("UTF-8"))
          (s"$j:$bval", id, shArr, ts)
        }
      }
    }.toDF("bucket", "doc_id", "shingles", "ts")
      .withWatermark("ts", watermarkDelay)
      .as[(String, Long, Array[Long], java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** The FULLY-TRAINED residual IVF-PQ index left IN THE CLUSTER — the
    * FAISS-style production composition of
    * [[graft.ext.Similarity.ivfPqTrainedTopK]] as a serving artifact:
    * Lloyd-trained coarse cells, residual-trained per-subspace
    * codebooks, the corpus's residual codes joined with its cell
    * assignment (one static table, so a probed cell restricts the code
    * join directly), built with exactly the batch op's training
    * stages. */
  case class IvfPqIndexRef(cents: DataFrame, cbook: DataFrame,
      codesWithCell: DataFrame, subspaces: Int, codesRows: Long)

  def ivfPqIndexOf(embeddings: DataFrame, subspaces: Int = 8,
      nCentroids: Int = 16, nCells: Int = 8, cellIters: Int = 2,
      pqIters: Int = 2): IvfPqIndexRef = {
    import graft.ext.{IndexCatalog, Similarity}
    // trained artifacts come from the persistent catalog — a serving
    // tier restart reloads them instead of retraining (VERDICT r15 #2)
    val cents = IndexCatalog.centroids(embeddings, nCells, cellIters)
    val vecs = Similarity.withNorms(embeddings)
      .select(col("vec_id"), col("emb"))
      .transform(graft.functions.checkpointed)
    val assigned = Similarity.centRank(vecs, cents)
      .where(col("rn") === 1).select(col("vec_id"), col("cid").as("cell"))
    val centsAsCell = cents.select(col("cid").as("cell"), col("cemb"))
    val res = vecs.join(assigned, "vec_id")
      .join(broadcast(centsAsCell), "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("emb"), col("cemb"), (x, g) => x - g).as("res"))
      .transform(graft.functions.checkpointed)
    val points = Similarity.subPoints(
      res.select(col("vec_id"), col("res")), "res", subspaces)
      .transform(graft.functions.checkpointed)
    val cbook = IndexCatalog.residualCodebook(embeddings, subspaces,
      nCentroids, nCells, cellIters, pqIters)
    val codes = Similarity.subAssign(points, cbook)
      .select(col("vec_id"), col("s"), col("cid"))
    val codesWithCell = codes.join(assigned, "vec_id").transform(graft.functions.checkpointed)
    IvfPqIndexRef(centsAsCell.transform(graft.functions.checkpointed),
      cbook.transform(graft.functions.checkpointed),
      codesWithCell, subspaces, codesWithCell.count())
  }

  /** Residual IVF-PQ top-k for a STREAM of query vectors — the serving
    * twin of [[graft.ext.Similarity.ivfPqTrainedTopK]]: probe the
    * nProbe nearest trained cells (L2, the [[streamingIvfTrainedTopK]]
    * stage), compute the query's PER-CELL residual map-side (stateless
    * zip_with against the broadcast cell centroid), build the
    * integer-quantized LUT against the broadcast residual codebooks,
    * join the cell-restricted corpus CODES on (cell, s, cid) — a query
    * touches only its probed cells' inverted lists and never reads a
    * corpus float — and rank per query by (adc, vec_id) in a stateless
    * reassembly. Same subvector L2 chains and quantization as batch:
    * spec proves streamed ≡ batch bit-for-bit. */
  def streamingIvfPqTopK(queries: Dataset[(Long, Array[Double])],
      index: IvfPqIndexRef, nProbe: Int = 2, k: Int = 3)
      : Dataset[AdcHit] = {
    import queries.sparkSession.implicits._
    import graft.ext.Similarity
    val probed = queries.toDF("q_id", "q_emb")
      .crossJoin(broadcast(index.cents))
      .select(col("q_id"), col("cell"),
        Similarity.l2ToCent(col("q_emb"), col("cemb")).as("cdist"),
        col("q_emb"))
      .as[(Long, Long, Double, Array[Double])]
    def probeFn(id: Long,
        rows: Iterator[(Long, Long, Double, Array[Double])])
        : Iterator[(Long, Long, Array[Double])] = {
      rows.toSeq.sortBy { case (_, cell, d, _) => (d, cell) }.take(nProbe)
        .map { case (q, cell, _, e) => (q, cell, e) }.iterator
    }
    val probes = regroup(probed)(_._1)(probeFn)
      .toDF("q_id", "cell", "q_emb")
    val qres = probes.join(broadcast(index.cents), Seq("cell"))
      .select(col("q_id"), col("cell"),
        zip_with(col("q_emb"), col("cemb"), (x, g) => x - g).as("res"))
    val sub = 64 / index.subspaces
    val qpoints = qres.select(col("q_id"), col("cell"),
      explode(array((0 until index.subspaces).map(s =>
        struct(lit(s).as("s"),
          slice(col("res"), s * sub + 1, sub).as("sv"))): _*)).as("p"))
      .select(col("q_id"), col("cell"), col("p.s").as("s"),
        col("p.sv").as("sv"))
    val lut = qpoints.join(broadcast(index.cbook), Seq("s"))
      .select(col("q_id"), col("cell"), col("s"), col("cid"),
        floor((Similarity.dotD(col("sv"), col("sv"))
          - lit(2d) * Similarity.dotD(col("sv"), col("cv"))
          + Similarity.dotD(col("cv"), col("cv"))) * lit(1e9))
          .cast("long").as("dq"))
    // same size dispatch as streamingAdcTopK (VERDICT r7 #7): small
    // corpus → broadcast its codes; big corpus → ONE broadcast LUT table
    // per micro-batch, codes never shuffle
    val codes = index.codesWithCell.withColumnRenamed("vec_id", "c_vec")
    val joined =
      if (index.codesRows <= Streaming.BroadcastCodesMaxRows)
        lut.join(broadcast(codes), Seq("cell", "s", "cid"))
      else codes.join(broadcast(lut), Seq("cell", "s", "cid"))
    val cand = joined
      .where(col("c_vec") =!= col("q_id"))
      .select(col("q_id"), col("c_vec"), col("dq"))
      .as[(Long, Long, Long)]
    def topkFn(id: Long, rows: Iterator[(Long, Long, Long)])
        : Iterator[AdcHit] = {
      val sums = scala.collection.mutable.HashMap.empty[Long, Long]
      rows.foreach { case (_, v, dq) =>
        sums.update(v, sums.getOrElse(v, 0L) + dq)
      }
      sums.toSeq.sortBy { case (v, a) => (a, v) }.take(k)
        .iterator.zipWithIndex
        .map { case ((v, a), i) => AdcHit(id, v, a, i + 1) }
    }
    regroup(cand)(_._1)(topkFn)
  }

  /** Trained BPE merges as a broadcastable serving artifact — k rows by
    * construction (the model is the parameter-bounded merge list, never
    * corpus-sized). */
  def bpeMergesOf(docs: DataFrame, k: Int = 6): Seq[(String, String)] =
    graft.ext.TextOps.bpeMerges(docs, k).collect()
      .sortBy(_.getAs[Int]("merge_rank"))
      .map(r => (r.getAs[String]("pair"), r.getAs[String]("merged"))).toSeq

  /** Tokenize a DOCUMENT STREAM under the trained BPE — train-batch /
    * apply-stream for the tokenizer artifact, the count a production
    * loader budgets arriving docs by. Stateless: the merge list
    * broadcasts, each doc segments its words via
    * [[graft.ext.TextOps.bpeApplyWord]] (the exact training rewrite, so
    * training-corpus docs count BIT-identically to
    * [[graft.ext.TextOps.bpeDocTokens]] — spec proves it), with a
    * per-doc memo so repeated words segment once. Unseen words segment
    * by rule — the standard serving behavior; the batch op's vocab join
    * silently drops them, so OOV-bearing docs are the documented
    * deviation (streaming counts them, batch can't see them). */
  case class BpeCount(doc_id: Long, n_words: Long, n_bpe_tokens: Long)

  def streamingBpeDocTokens(docs: Dataset[(Long, String)],
      merges: Seq[(String, String)]): Dataset[BpeCount] = {
    import docs.sparkSession.implicits._
    val bc = docs.sparkSession.sparkContext.broadcast(merges)
    docs.map { case (id, text) =>
      val ws = graft.ext.TextOps.sqlWords(text)
      val memo = scala.collection.mutable.HashMap.empty[String, Long]
      var bpe = 0L
      ws.foreach { w =>
        bpe += memo.getOrElseUpdate(w,
          graft.ext.TextOps.bpeApplyWord(w, bc.value)
            .split(" ", -1).length.toLong)
      }
      BpeCount(id, ws.length.toLong, bpe)
    }
  }

  /** A trained interpolated-bigram LM as a broadcastable serving
    * artifact: the lnQ-quantized pair log-probs (exactly
    * [[graft.ext.TextOps.bigramModel]]'s rows), the unigram counts, and
    * the corpus total — everything OOV backoff needs. */
  case class LmModel(q: Map[(String, String), Long],
      uni: Map[String, Long], nTotal: Long, lambda: Double)

  /** Collect the trained model off the batch corpus (the train step of
    * train-batch / score-stream).
    *
    * Driver/executor memory is BOUNDED by construction, not by hope: the
    * bigram and unigram tables are count-pruned at
    * [[graft.ext.TextOps.minCountFor]]`(nTotal, targetRows)` before
    * collecting, and pigeonhole guarantees ≤ targetRows rows each for
    * ANY corpus — a 100-TB corpus collects the same ≤ 2×targetRows-row
    * model a laptop corpus does (the pruning a shipped KenLM/CCNet
    * model applies anyway). When the corpus is small enough that
    * minCount = 1 (every sf the gates run at), the model is the full
    * table and serving is bit-identical to [[graft.ext.TextOps
    * .bigramLogProb]]. Pruned rare bigrams back off to the interpolated
    * unigram term; pruned rare unigrams score as hapax (c2 → 1) — the
    * same deterministic backoff OOV words already take. `nTotal` stays
    * the FULL corpus token count (pruning bounds the table, it does not
    * rescale the distribution). */
  def lmModelOf(docs: DataFrame, lambda: Double = 0.9,
      targetRows: Long = 2000000L): LmModel = {
    import graft.ext.TextOps
    val uniDf = docs
      .select(explode(split(lower(trim(col("text"))), "[ \\t\\n\\x0B\\f\\r]+")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
      .transform(graft.functions.checkpointed)
    val nTotal = uniDf.agg(coalesce(sum(col("c")), lit(0L)).cast("long"))
      .head.getLong(0)
    val minCount = TextOps.minCountFor(nTotal, targetRows)
    val q = TextOps.bigramModel(docs, lambda, minCount).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val uni = (if (minCount > 1L) uniDf.where(col("c") >= minCount)
               else uniDf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    LmModel(q, uni, nTotal, lambda)
  }

  /** An LSH ANN index left IN THE CLUSTER: the bucketed, normed corpus
    * table (vec_id, emb, norm, bucket), built once batch-side and
    * served to a stream of query vectors by stream-static joins —
    * online ANN serving off a trained index, the embedding twin of
    * [[LmModelRef]]. Nothing reaches the driver. */
  case class AnnIndexRef(vecs: DataFrame, planes: Int)

  def annIndexOf(embeddings: DataFrame, planes: Int): AnnIndexRef = {
    import graft.ext.Similarity
    val buckets = Similarity.lshBuckets(embeddings, planes)
    AnnIndexRef(Similarity.withNorms(embeddings).join(buckets, "vec_id")
      .transform(graft.functions.checkpointed), planes)
  }

  /** Nearest corpus vectors for a STREAM of query vectors — the serving
    * twin of [[graft.ext.Similarity.lshNearest]] /
    * [[graft.ext.Similarity.lshNearestMultiProbe]]: each arriving query
    * buckets map-side ([[graft.ext.Similarity.lshBucket64]], the scalar
    * twin of the batch bucket mapping, property-gated bit-for-bit) and
    * optionally fans out to its Hamming-1 probe buckets, stream-static
    * equi-joins the index on the bucket key (the corpus is only ever
    * touched through the blocking key — no cross join), and a stateless
    * per-query reassembly ranks candidates by (sim DESC, vec_id) and
    * emits the top k. Same left-fold cosine kernel as the batch ops, so
    * results are bit-identical (StreamingSpec proves streamed ≡ batch
    * for both probe modes). Queries landing in an empty bucket emit no
    * row, exactly as the batch equi-join drops them. */
  case class AnnHit(q_id: Long, vec_id: Long, sim: Double, rank: Int)

  def streamingAnnNearest(queries: Dataset[(Long, Array[Double])],
      index: AnnIndexRef, k: Int = 1, multiProbe: Boolean = false)
      : Dataset[AnnHit] = {
    import queries.sparkSession.implicits._
    import graft.ext.Similarity
    val qdf = queries.flatMap { case (id, emb) =>
      val b = Similarity.lshBucket64(emb, index.planes)
      val probes =
        if (multiProbe) b +: (0 until index.planes).map(p => b ^ (1L << p))
        else Seq(b)
      val norm = math.sqrt(Similarity.dotScalar(emb, emb))
      probes.map(pb => (id, pb, emb, norm))
    }.toDF("q_id", "bucket", "q_emb", "q_norm")
    val cand = qdf.join(index.vecs, Seq("bucket"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (Similarity.dotD(col("q_emb"), col("emb")) /
          (col("q_norm") * col("norm"))).as("sim"))
      .as[(Long, Long, Double)]
    // stateless reassembly after the join shuffle (the LM join-scorer
    // pattern): a query's candidate rows are complete within its batch;
    // multi-probe duplicates are identical rows, deduped by vec_id as
    // the batch op's .distinct() does
    def fn(id: Long, rows: Iterator[(Long, Long, Double)]): Iterator[AnnHit] = {
      val best = rows.map { case (_, v, s) => (v, s) }.toSeq
        .distinct
        .sortBy { case (v, s) => (-s, v) }.take(k)
      best.iterator.zipWithIndex.map { case ((v, s), i) =>
        AnnHit(id, v, s, i + 1)
      }
    }
    regroup(cand)(_._1)(fn)
  }

  /** An IVF ANN index left IN THE CLUSTER: the coarse-quantizer
    * centroid table and the cell-assigned corpus (vec_id, cell, emb,
    * norm), built once batch-side with exactly
    * [[graft.ext.Similarity.ivfTopK]]'s assignment (same csim
    * arithmetic, same (csim DESC, cid) argmax). */
  case class IvfIndexRef(cents: DataFrame, cells: DataFrame)

  def ivfIndexOf(embeddings: DataFrame, nCentroids: Int): IvfIndexRef = {
    import graft.ext.Similarity
    import org.apache.spark.sql.expressions.Window
    val vecs = Similarity.withNorms(embeddings)
    val cents = vecs.where(col("vec_id") < nCentroids)
      .select(col("vec_id").as("cid"), col("emb").as("c_emb"),
        col("norm").as("c_norm"))
      .transform(graft.functions.checkpointed)
    val csims = vecs.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        (Similarity.dotD(col("emb"), col("c_emb")) /
          (col("norm") * col("c_norm"))).as("csim"))
    val byCell = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cid"))
    val assigned = csims.withColumn("rn", row_number().over(byCell))
      .where(col("rn") === 1).select(col("vec_id"), col("cid").as("cell"))
    IvfIndexRef(cents, assigned.join(vecs, "vec_id").transform(graft.functions.checkpointed))
  }

  /** IVF top-k for a STREAM of query vectors — the serving twin of
    * [[graft.ext.Similarity.ivfTopK]], the index production ANN tiers
    * actually run at corpus scale (cells of ~√n, probe a few). Two
    * stream-static joins and two STATELESS reassemblies: (1) each query
    * cross-joins the broadcast centroid table (the inherent n_q×C
    * assignment cost) and keeps its `nProbe` best cells by
    * (csim DESC, cid); (2) the probed cells equi-join the cell-assigned
    * corpus — the search touches ONLY probed cells, never the corpus —
    * and the per-query top-k ranks by (sim DESC, vec_id). Same left-fold
    * kernels and tiebreaks as batch: StreamingSpec proves streamed ≡
    * batch bit-for-bit. A corpus vector lives in exactly one cell, so
    * probes produce no duplicate candidates — no dedup stage, exactly
    * as the batch op. */
  def streamingIvfTopK(queries: Dataset[(Long, Array[Double])],
      index: IvfIndexRef, nProbe: Int = 2, k: Int = 3): Dataset[AnnHit] = {
    import queries.sparkSession.implicits._
    import graft.ext.Similarity
    val qdf = queries.map { case (id, emb) =>
      (id, emb, math.sqrt(Similarity.dotScalar(emb, emb)))
    }.toDF("q_id", "q_emb", "q_norm")
    val probed = qdf.crossJoin(broadcast(index.cents))
      .select(col("q_id"), col("cid"),
        (Similarity.dotD(col("q_emb"), col("c_emb")) /
          (col("q_norm") * col("c_norm"))).as("csim"),
        col("q_emb"), col("q_norm"))
      .as[(Long, Long, Double, Array[Double], Double)]
    def probeFn(id: Long,
        rows: Iterator[(Long, Long, Double, Array[Double], Double)])
        : Iterator[(Long, Long, Array[Double], Double)] = {
      rows.toSeq.sortBy { case (_, cid, cs, _, _) => (-cs, cid) }
        .take(nProbe)
        .map { case (q, cid, _, e, n) => (q, cid, e, n) }.iterator
    }
    val probes = regroup(probed)(_._1)(probeFn)
      .toDF("q_id", "cell", "q_emb", "q_norm")
    val cand = probes.join(index.cells, Seq("cell"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (Similarity.dotD(col("q_emb"), col("emb")) /
          (col("q_norm") * col("norm"))).as("sim"))
      .as[(Long, Long, Double)]
    def topkFn(id: Long, rows: Iterator[(Long, Long, Double)])
        : Iterator[AnnHit] = {
      rows.map { case (_, v, s) => (v, s) }.toSeq
        .sortBy { case (v, s) => (-s, v) }.take(k).iterator.zipWithIndex
        .map { case ((v, s), i) => AnnHit(id, v, s, i + 1) }
    }
    regroup(cand)(_._1)(topkFn)
  }

  /** A TRAINED (Lloyd k-means) IVF index left IN THE CLUSTER — the L2
    * twin of [[IvfIndexRef]]: the trained centroid table and the
    * cell-assigned corpus, built with exactly
    * [[graft.ext.Similarity.ivfTrainedTopK]]'s training loop and
    * assignment (same quantized-mean rounds, same (dist, cid) argmin). */
  case class IvfL2IndexRef(cents: DataFrame, cells: DataFrame)

  def ivfIndexTrainedOf(embeddings: DataFrame, kCells: Int = 8,
      iters: Int = 2): IvfL2IndexRef = {
    import graft.ext.{IndexCatalog, Similarity}
    val cents = IndexCatalog.centroids(embeddings, kCells, iters)
    val vecs = Similarity.withNorms(embeddings)
      .select(col("vec_id"), col("emb"))
      .transform(graft.functions.checkpointed)
    val assigned = Similarity.centRank(vecs, cents)
      .where(col("rn") === 1).select(col("vec_id"), col("cid").as("cell"))
    IvfL2IndexRef(cents.transform(graft.functions.checkpointed),
      assigned.join(vecs, "vec_id").transform(graft.functions.checkpointed))
  }

  /** Trained-IVF top-k for a STREAM of query vectors — the serving twin
    * of [[graft.ext.Similarity.ivfTrainedTopK]], same two-stage shape
    * as [[streamingIvfTopK]] but in the trained index's L2 metric:
    * probe the `nProbe` nearest trained cells by ((q·q − 2·q·c) + c·c,
    * cid), search only those cells, rank by (dist ASC, vec_id). The
    * same left-fold L2 chain as batch, so StreamingSpec proves
    * streamed ≡ batch bit-for-bit. */
  case class AnnL2Hit(q_id: Long, vec_id: Long, dist: Double, rank: Int)

  def streamingIvfTrainedTopK(queries: Dataset[(Long, Array[Double])],
      index: IvfL2IndexRef, nProbe: Int = 2, k: Int = 3)
      : Dataset[AnnL2Hit] = {
    import queries.sparkSession.implicits._
    import graft.ext.Similarity
    val probed = queries.toDF("q_id", "q_emb")
      .crossJoin(broadcast(index.cents))
      .select(col("q_id"), col("cid"),
        Similarity.l2ToCent(col("q_emb"), col("cemb")).as("cdist"),
        col("q_emb"))
      .as[(Long, Long, Double, Array[Double])]
    def probeFn(id: Long,
        rows: Iterator[(Long, Long, Double, Array[Double])])
        : Iterator[(Long, Long, Array[Double])] = {
      rows.toSeq.sortBy { case (_, cid, d, _) => (d, cid) }.take(nProbe)
        .map { case (q, cid, _, e) => (q, cid, e) }.iterator
    }
    val probes = regroup(probed)(_._1)(probeFn)
      .toDF("q_id", "cell", "q_emb")
    val cand = probes.join(index.cells, Seq("cell"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        Similarity.l2ToCent(col("q_emb"), col("emb")).as("dist"))
      .as[(Long, Long, Double)]
    def topkFn(id: Long, rows: Iterator[(Long, Long, Double)])
        : Iterator[AnnL2Hit] = {
      rows.map { case (_, v, d) => (v, d) }.toSeq
        .sortBy { case (v, d) => (d, v) }.take(k).iterator.zipWithIndex
        .map { case ((v, d), i) => AnnL2Hit(id, v, d, i + 1) }
    }
    regroup(cand)(_._1)(topkFn)
  }

  /** A PQ-ADC serving index left IN THE CLUSTER: the corpus's code
    * assignments (the compressed RAM-tier representation — no corpus
    * floats) and the subspace codebook arriving queries build their
    * lookup tables against. */
  case class AdcIndexRef(codes: DataFrame, codebook: DataFrame,
      subspaces: Int, codesRows: Long)

  def adcIndexOf(embeddings: DataFrame, subspaces: Int = 8,
      nCentroids: Int = 16): AdcIndexRef = {
    import graft.ext.Similarity
    val codes = Similarity.pqAssignments(embeddings, subspaces, nCentroids)
      .transform(graft.functions.checkpointed)
    AdcIndexRef(codes,
      Similarity.pqCodebookOf(embeddings, subspaces, nCentroids)
        .transform(graft.functions.checkpointed),
      subspaces, codes.count())
  }

  /** ADC top-k for a STREAM of query vectors — the serving twin of
    * [[graft.ext.Similarity.pqAdcTopK]]: each arriving query slices
    * into subvectors and builds its per-(s, cid) distance lookup table
    * against the broadcast codebook (the SAME pqPoints/pqDistsAgainst
    * expressions the batch chain runs — bit-exact by construction),
    * integer-quantized per subspace; the corpus codes join the LUT on
    * (s, cid) and a stateless per-query reassembly sums each vector's
    * exactly-`subspaces` quantized terms (order-free integer sum) and
    * ranks by (adc, vec_id). The corpus contributes only its CODES —
    * no corpus float is ever read at query time, the ADC property.
    * Plain ADC is a full compressed-domain scan by design; compose with
    * [[streamingIvfTopK]]'s cell restriction when the corpus is too big
    * to scan even compressed (the batch `ivfAdcTopK` shape). */
  case class AdcHit(q_id: Long, vec_id: Long, adc_q: Long, rank: Int)

  def streamingAdcTopK(queries: Dataset[(Long, Array[Double])],
      index: AdcIndexRef, k: Int = 3): Dataset[AdcHit] = {
    import queries.sparkSession.implicits._
    import graft.ext.Similarity
    val qpts = Similarity.pqPoints(
      queries.toDF("vec_id", "emb"), index.subspaces)
    val lut = Similarity.pqDistsAgainst(qpts, index.codebook)
      .select(col("vec_id").as("q_id"), col("s"), col("cid"),
        floor(col("dist") * lit(1e9)).cast("long").as("dq"))
    // No side of the candidate join may shuffle per trigger (VERDICT
    // r7 #7). Which side broadcasts depends on a size only the index
    // knows: a small corpus broadcasts its CODES once per trigger
    // (trivial), a 100-TB-scale corpus must stay put while the batch's
    // whole LUT (queries × subspaces × centroids — bounded by the
    // trigger, not the corpus) broadcasts as ONE table per micro-batch.
    // The old unhinted join let Catalyst shuffle BOTH sides on (s, cid)
    // whenever the codes outgrew the auto-broadcast threshold — a
    // per-trigger exchange of the entire compressed corpus.
    val codes = index.codes.withColumnRenamed("vec_id", "c_vec")
    val joined =
      if (index.codesRows <= Streaming.BroadcastCodesMaxRows)
        lut.join(broadcast(codes), Seq("s", "cid"))
      else codes.join(broadcast(lut), Seq("s", "cid"))
    val cand = joined
      .where(col("c_vec") =!= col("q_id"))
      .select(col("q_id"), col("c_vec"), col("dq"))
      .as[(Long, Long, Long)]
    def fn(id: Long, rows: Iterator[(Long, Long, Long)]): Iterator[AdcHit] = {
      val sums = scala.collection.mutable.HashMap.empty[Long, Long]
      rows.foreach { case (_, v, dq) =>
        sums.update(v, sums.getOrElse(v, 0L) + dq)
      }
      sums.toSeq.sortBy { case (v, a) => (a, v) }.take(k)
        .iterator.zipWithIndex
        .map { case ((v, a), i) => AdcHit(id, v, a, i + 1) }
    }
    regroup(cand)(_._1)(fn)
  }

  /** A trained bigram LM left IN THE CLUSTER: the model and unigram
    * DataFrames (optionally [[graft.ext.TextOps.minCountFor]]-pruned)
    * plus the two scalars OOV backoff needs. The serving path for
    * models too large even for the pruned broadcast — nothing but two
    * Longs ever reaches the driver. */
  case class LmModelRef(model: DataFrame, uni: DataFrame, nTotal: Long,
      lambda: Double)

  /** Train on the batch corpus, keep the model distributed (the
    * stream-static-join twin of [[lmModelOf]]): same tables, same
    * pruning bound, zero collect — `nTotal` is the only driver value
    * (an O(1) aggregate). */
  def lmModelRefOf(docs: DataFrame, lambda: Double = 0.9,
      targetRows: Long = 2000000L): LmModelRef = {
    import graft.ext.TextOps
    val uniDf = docs
      .select(explode(split(lower(trim(col("text"))), "[ \\t\\n\\x0B\\f\\r]+")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
      .transform(graft.functions.checkpointed)
    val nTotal = uniDf.agg(coalesce(sum(col("c")), lit(0L)).cast("long"))
      .head.getLong(0)
    val minCount = TextOps.minCountFor(nTotal, targetRows)
    val model = TextOps.bigramModel(docs, lambda, minCount)
      .transform(graft.functions.checkpointed)
    val uniP = (if (minCount > 1L) uniDf.where(col("c") >= minCount)
                else uniDf).transform(graft.functions.checkpointed)
    LmModelRef(model, uniP, nTotal, lambda)
  }

  /** Score a document stream by STREAM-STATIC JOINS against the model
    * tables (VERDICT r6 #1 option b): arriving docs explode to their
    * bigram rows ([[graft.ext.TextOps.bigramPairs]] — stateless
    * expressions, legal on a stream), LEFT-join the model for in-vocab
    * q values and the unigram table for the backoff count, and
    * re-aggregate per doc. The per-doc aggregation is a
    * flatMapGroupsWithState that stores NO state: a doc's bigram rows
    * all originate from one input row, so they are complete within its
    * micro-batch — the group exists to reassemble them after the join
    * shuffle, not to remember anything.
    *
    * Identical arithmetic to [[streamingBigramScore]] (same left-assoc
    * backoff chain, BigInt-exact summation): StreamingSpec proves the
    * two serving paths and the batch scorer agree bit-for-bit. Spark
    * plans the model join as broadcast or shuffle by size — exactly the
    * knob a 100-TB model needs (the broadcast path ships the model per
    * task; this one shuffles bigram keys to it). */
  def streamingBigramScoreJoined(docs: Dataset[(Long, String)],
      ref: LmModelRef): Dataset[LmScore] = {
    import docs.sparkSession.implicits._
    val backoff = floor(log(
      lit(1.0 - ref.lambda) *
        greatest(coalesce(col("c2"), lit(0L)), lit(1L)).cast("double") /
        lit(ref.nTotal.toDouble)) * 1e12).cast("long")
    val scored = graft.ext.TextOps.bigramPairs(docs.toDF("doc_id", "text"))
      .join(ref.model, Seq("w1", "w2"), "left")
      .join(ref.uni.select(col("term").as("w2"), col("c").as("c2")),
        Seq("w2"), "left")
      .select(col("doc_id"), coalesce(col("q_lnp"), backoff).as("q"))
      .as[(Long, Long)]
    def fn(id: Long, rows: Iterator[(Long, Long)]): Iterator[LmScore] = {
      var n = 0L
      var qsum = BigInt(0)
      rows.foreach { case (_, q) => n += 1; qsum += q }
      if (n == 0) Iterator.empty
      else Iterator.single(LmScore(id, n, qsum.toDouble / 1e12 / n))
    }
    regroup(scored)(_._1)(fn)
  }

  /** DSIR importance scoring of a DOCUMENT STREAM — train
    * [[graft.ext.Pipeline.dsirModel]] on a reference corpus batch-side,
    * score every arriving doc by stream-static joining its tokens
    * against the model vocab (zero collect: the freq table never leaves
    * the cluster — only the three BOUNDED corpus constants are
    * scalars). In-vocab tokens reproduce the batch lnQ terms exactly,
    * so a doc from the training corpus scores BIT-IDENTICALLY to
    * [[graft.ext.Pipeline.dsirWeights]] (StreamingSpec proves it).
    * Unseen words take the add-1 smoothed prior on BOTH sides (c=0):
    * their contribution is the fixed prior ratio
    * ln((nRaw+v)/(nTgt+v)) — standard add-1 behavior for novel stream
    * text, deterministic and total. */
  case class DsirScore(doc_id: Long, n_words: Long, llr: Double,
      selected: Boolean)

  def streamingDsirScore(docs: Dataset[(Long, String)],
      ref: graft.ext.Pipeline.DsirModelRef): Dataset[DsirScore] = {
    import docs.sparkSession.implicits._
    def lnQ(c: Column, tot: Long): Column =
      floor(log((c.cast("double") + 1.0d) /
        lit(tot.toDouble + ref.v.toDouble)) * 1e12)
    val q = (lnQ(coalesce(col("c_tgt"), lit(0L)), ref.nTgt) -
      lnQ(coalesce(col("c_raw"), lit(0L)), ref.nRaw)).cast("long")
    val scored = docs.toDF("doc_id", "text")
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "[ \\t\\n\\x0B\\f\\r]+")).as("term"))
      .join(ref.freq, Seq("term"), "left")
      .select(col("doc_id"), q.as("q")).as[(Long, Long)]
    def fn(id: Long, rows: Iterator[(Long, Long)]): Iterator[DsirScore] = {
      var n = 0L
      var qsum = BigInt(0)
      rows.foreach { case (_, qq) => n += 1; qsum += qq }
      if (n == 0) Iterator.empty
      else Iterator.single(
        DsirScore(id, n, qsum.toDouble / 1e12, qsum > 0))
    }
    regroup(scored)(_._1)(fn)
  }

  /** The eval-suite side of semantic decontamination, materialized
    * batch-side for stream serving: `(q_emb, q_norm)` with the
    * [[graft.ext.Similarity]] left-fold norms. Bounded by the benchmark
    * suite — a broadcast table, zero collect. */
  def semDecontamEvalRef(embeddings: DataFrame, evalLabel: Int = 0)
      : DataFrame =
    graft.ext.Similarity.evalSide(embeddings, evalLabel)
      .transform(graft.functions.checkpointed)

  /** Semantic decontamination of a VECTOR STREAM — the ingest-time twin
    * of [[graft.ext.Similarity.semDecontam]]: every arriving vector
    * meets the broadcast eval suite inside its own partition (the batch
    * op's exact join shape — the stream side never shuffles), cosines
    * run through the same native [[graft.plans.ArrayDotProduct]]
    * left-fold, and the per-vector max reassembles in a stateless
    * flatMapGroupsWithState (a vector's pair rows are complete within
    * its micro-batch — the [[streamingBigramScoreJoined]] stance). Max
    * is order-independent exactly, so any replay of the corpus scores
    * BIT-IDENTICALLY to the batch op (StreamingSpec). No state store. */
  case class SemDecontamDecision(vec_id: Long, max_eval_sim: Double,
      kept: Boolean)

  def streamingSemDecontam(vecs: Dataset[(Long, Seq[Float])],
      evalRef: DataFrame, tau: Double = 0.28)
      : Dataset[SemDecontamDecision] = {
    import vecs.sparkSession.implicits._
    val scored = graft.ext.Similarity
      .scoreAgainstEval(vecs.toDF("vec_id", "embedding"), evalRef)
      .as[(Long, Double)]
    def fn(id: Long, rows: Iterator[(Long, Double)])
        : Iterator[SemDecontamDecision] = {
      var m = Double.NegativeInfinity
      var n = 0
      rows.foreach { case (_, s) => n += 1; if (s > m) m = s }
      if (n == 0) Iterator.empty
      else Iterator.single(SemDecontamDecision(id, m, m < tau))
    }
    regroup(scored)(_._1)(fn)
  }

  /** UniMax budget enforcement on a DOCUMENT STREAM — the serving twin
    * of [[graft.ext.Pipeline.unimaxApply]]: the language allocation
    * trains batch-side ([[graft.ext.Pipeline.unimaxAlloc]], a bounded
    * table) and broadcasts onto arriving `(doc_id, text, lang)` docs;
    * state per language is ONE long (tokens admitted so far — state
    * grows with the language inventory, not the stream). Within a
    * micro-batch rows process in the batch op's md5 order, so a
    * single-batch replay of the training corpus reproduces
    * [[graft.ext.Pipeline.unimaxApply]] exactly; across batches
    * admission is arrival-ordered ([[streamingTokenBudget]]'s stance).
    * A language with no allocation row contributes nothing (no budget
    * was granted). */
  case class UnimaxDoc(doc_id: Long, lang: String, n_tokens: Long,
      cum_tokens: Long)

  def streamingUnimaxApply(docs: Dataset[(Long, String, String)],
      alloc: DataFrame): Dataset[UnimaxDoc] = {
    import docs.sparkSession.implicits._
    def md5Key(id: Long): String =
      graft.functions.md5Hex(id.toString.getBytes("UTF-8"))
    val rows = docs.toDF("doc_id", "text", "lang")
      .select(col("doc_id"), col("lang"),
        graft.ext.TextOps.tokenCount(col("text")).cast("long")
          .as("n_tokens"))
      .join(broadcast(alloc), "lang")
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("alloc"))
      .as[(Long, String, Long, Long)]
    keyedFold[(Long, String, Long, Long), String, Long, UnimaxDoc](rows,
      _._2, 0L)(_.sortBy { case (id, _, _, _) => (md5Key(id), id) },
      (lang, cum0, r, out) => {
        val (id, _, n, budget) = r
        val cum = cum0 + n
        if (cum <= budget) out(UnimaxDoc(id, lang, n, cum))
        cum
      })
  }

  /** CCNet bucket boundaries trained batch-side: the per-language LAST
    * head / last middle (avg_logprob, doc_id) keys of a tercile cut
    * over the training corpus, plus the LM that produced the scores.
    * Rank cuts can't be recomputed on a stream (a tercile needs the
    * whole population) — but they don't need to be: a document's bucket
    * is fully determined by WHERE its ordering key sits relative to the
    * two boundary keys, so serving is a broadcast of one bounded row
    * per language. This is exactly how CCNet ships: thresholds trained
    * on a corpus snapshot, applied per document.
    *
    * The boundary scores come from [[lmScoresOf]] over the SAME pruned
    * [[LmModelRef]] the serving path joins against — not from the
    * unpruned [[graft.ext.TextOps.pplBuckets]] model. Below the
    * [[graft.ext.TextOps.minCountFor]] prune threshold the two models
    * are identical (minCount = 1) and the boundaries equal the batch
    * tercile cut bit-for-bit; above it, deriving boundaries from the
    * unpruned scores would silently break the replay contract (the
    * stream would score through the pruned model against boundaries
    * cut on different numbers). Training scorer ≡ serving scorer by
    * construction, at any corpus size. */
  case class PplBoundsRef(bounds: DataFrame, lm: LmModelRef)

  /** Batch-side scoring through a trained [[LmModelRef]] — the exact
    * arithmetic of [[streamingBigramScoreJoined]] as a batch plan
    * (left-join the pruned model, OOV pairs take the unigram backoff,
    * decimal(38,0)-exact per-doc sum). The training half of the
    * train/serve contract: boundaries cut on these scores replay
    * bit-identically through the streaming scorer. */
  def lmScoresOf(docs: DataFrame, lm: LmModelRef): DataFrame = {
    val backoff = floor(log(
      lit(1.0 - lm.lambda) *
        greatest(coalesce(col("c2"), lit(0L)), lit(1L)).cast("double") /
        lit(lm.nTotal.toDouble)) * 1e12).cast("long")
    graft.ext.TextOps.bigramPairs(docs)
      .join(lm.model, Seq("w1", "w2"), "left")
      .join(lm.uni.select(col("term").as("w2"), col("c").as("c2")),
        Seq("w2"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("q_lnp"), backoff).cast("decimal(38,0)"))
          .cast("double").as("_qsum"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("_qsum") / 1e12 / col("n_bigrams")).as("avg_logprob"))
  }

  def pplBoundsOf(docs: DataFrame, lambda: Double = 0.9,
      targetRows: Long = 2000000L): PplBoundsRef = {
    val lm = lmModelRefOf(docs, lambda, targetRows)
    // boundary keys via the adaptive rank machinery shared with the
    // batch cut (TextOps.pplBoundaryKeys): below PplWindowMaxRows the
    // single ntile pass, above it the distributed bucketed-rank plan —
    // training a boundary set on a web-scale corpus must not sort its
    // dominant language in one task any more than the batch op may.
    // Output is already a bounded LocalRelation, broadcast at serve time.
    val scored = graft.functions.checkpointed(
      lmScoresOf(docs, lm)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id"))
    PplBoundsRef(graft.ext.TextOps.pplBoundaryKeys(scored), lm)
  }

  /** CCNet perplexity bucketing of a DOCUMENT STREAM: score each
    * arriving `(doc_id, text, lang)` under the batch-trained bigram LM
    * (the [[streamingBigramScoreJoined]] stream-static-join arithmetic,
    * with `lang` carried through the bigram explode) and assign
    * head / middle / tail by comparing the (avg_logprob DESC, doc_id)
    * ordering key against the broadcast per-language boundary keys.
    * A training-corpus replay lands every doc in exactly its batch
    * tercile — the boundary keys cut the SAME total order the batch
    * ntile ranked, ties included (StreamingSpec proves bit-equality).
    * Novel docs compare deterministically against the frozen
    * boundaries; a language with no trained boundary row buckets as
    * `unknown` (no model — CCNet's own out-of-scope case). */
  case class PplBucketScore(doc_id: Long, lang: String, n_bigrams: Long,
      avg_logprob: Double, bucket: String)

  def streamingPplBucket(docs: Dataset[(Long, String, String)],
      ref: PplBoundsRef): Dataset[PplBucketScore] = {
    import docs.sparkSession.implicits._
    val lm = ref.lm
    val backoff = floor(log(
      lit(1.0 - lm.lambda) *
        greatest(coalesce(col("c2"), lit(0L)), lit(1L)).cast("double") /
        lit(lm.nTotal.toDouble)) * 1e12).cast("long")
    val pairs = docs.toDF("doc_id", "text", "lang")
      .select(col("doc_id"), col("lang"),
        split(lower(trim(col("text"))), "[ \\t\\n\\x0B\\f\\r]+").as("ws"))
      .where(size(col("ws")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(transform(sequence(lit(1), size(col("ws")) - 1),
          i => struct(element_at(col("ws"), i).as("w1"),
            element_at(col("ws"), i + 1).as("w2")))).as("p"))
      .select(col("doc_id"), col("lang"), col("p.w1").as("w1"),
        col("p.w2").as("w2"))
    val scored = pairs
      .join(lm.model, Seq("w1", "w2"), "left")
      .join(lm.uni.select(col("term").as("w2"), col("c").as("c2")),
        Seq("w2"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("q_lnp"), backoff).as("q"))
      .as[(Long, String, Long)]
    def fn(id: Long, rows: Iterator[(Long, String, Long)])
        : Iterator[(Long, String, Long, Double)] = {
      var n = 0L
      var qsum = BigInt(0)
      var lang = ""
      rows.foreach { case (_, l, q) => n += 1; qsum += q; lang = l }
      if (n == 0) Iterator.empty
      else Iterator.single((id, lang, n, qsum.toDouble / 1e12 / n))
    }
    val perDoc = regroup(scored)(_._1)(fn)
      .toDF("doc_id", "lang", "n_bigrams", "avg_logprob")
    // at-or-before a boundary in the (avg_logprob DESC, doc_id) order
    def before(bLp: Column, bId: Column): Column =
      col("avg_logprob") > bLp ||
        (col("avg_logprob") === bLp && col("doc_id") <= bId)
    perDoc.join(broadcast(ref.bounds), Seq("lang"), "left")
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        col("avg_logprob"),
        when(col("h_lp").isNull, "unknown")
          .when(before(col("h_lp"), col("h_id")), "head")
          .when(col("m_lp").isNotNull && before(col("m_lp"), col("m_id")),
            "middle")
          .otherwise("tail").as("bucket"))
      .as[PplBucketScore]
  }

  /** Bloom decontamination of a DOCUMENT STREAM — the ingest-time
    * train/eval gate: the fixed-size set-bit table comes from the eval
    * suite batch-side ([[graft.ext.Pipeline.bloomBits]], ≤ mBits rows
    * forever); every arriving doc is flagged with the count of its
    * grams whose `k` probe bits are ALL set. Stream-static broadcast
    * equi-join on the bit key + a per-doc in-memory (gram, probe) set —
    * no state store (the working set is the doc's OWN grams, bounded by
    * its length; docs arrive whole, the per-arrival stance of the LM
    * scorers). Single-batch replay of the train corpus reproduces
    * [[graft.ext.Pipeline.bloomDecontam]] bit-for-bit
    * (StreamingSpec). */
  case class BloomHit(doc_id: Long, bloom_hits: Long)

  def streamingBloomDecontam(docs: Dataset[(Long, String)],
      bits: DataFrame, n: Int = 3, mBits: Int = 1 << 14,
      k: Int = 3): Dataset[BloomHit] = {
    import docs.sparkSession.implicits._
    val probed = graft.ext.Pipeline.gramStream(
        docs.toDF("doc_id", "text"), n)
      .select(col("doc_id"), col("g"), graft.ext.Pipeline.bloomJs(k))
      .withColumn("bit",
        graft.ext.Pipeline.bloomBitpos(col("g"), col("j"), mBits))
      .join(broadcast(bits), "bit")
      .select(col("doc_id"), col("g"), col("j"))
      .as[(Long, String, Int)]
    def fn(id: Long, rows: Iterator[(Long, String, Int)])
        : Iterator[BloomHit] = {
      // (gram, probe) set: gram multiplicity inside the doc collapses,
      // matching the batch op's DISTINCT (doc_id, g) probe stream
      val seen = scala.collection.mutable.Set.empty[(String, Int)]
      rows.foreach { case (_, g, j) => seen += ((g, j)) }
      val hits = seen.groupBy(_._1).valuesIterator.count(_.size == k)
      if (hits == 0) Iterator.empty
      else Iterator.single(BloomHit(id, hits.toLong))
    }
    regroup(probed)(_._1)(fn)
  }

  /** Score a DOCUMENT STREAM under a trained bigram LM — the quality
    * gate a production ingest pipeline runs per arriving document
    * (train batch, score stream). Stateless: the model broadcasts, each
    * row scores via its own bigrams — no state store, no watermark,
    * append mode on any unbounded source.
    *
    * In-vocabulary bigrams reuse the model's quantized q values, so a
    * document from the training corpus scores BIT-IDENTICALLY to
    * [[graft.ext.TextOps.bigramLogProb]] (StreamingSpec proves it). A
    * stream sees novel text too — the inherent difference from the
    * closed-corpus batch op — so unseen pairs back off to the
    * interpolated unigram term with OOV words counted as hapax:
    * `p = (1−λ)·max(c2,1)/N` (deterministic, documented; ln stays
    * total). Tokenization is [[graft.ext.TextOps.sqlWords]] — the exact
    * SQL split semantics. */
  case class LmScore(doc_id: Long, n_bigrams: Long, avg_logprob: Double)

  def streamingBigramScore(docs: Dataset[(Long, String)], model: LmModel)
      : Dataset[LmScore] = {
    import docs.sparkSession.implicits._
    val bc = docs.sparkSession.sparkContext.broadcast(model)
    docs.flatMap { case (id, text) =>
      val ws = graft.ext.TextOps.sqlWords(text)
      if (ws.length < 2) Iterator.empty
      else {
        val m = bc.value
        // BigInt accumulator: each quantized term is ~1e13–3e13, so a
        // ~3e5-bigram document overflows a Long sum silently; the batch
        // twin sums in decimal(38,0), and BigInt is its exact scalar
        // counterpart (bit-identical for every length, not just short docs)
        var qsum = BigInt(0)
        var i = 0
        while (i < ws.length - 1) {
          val term: Long = m.q.getOrElse((ws(i), ws(i + 1)), {
            val c2 = math.max(m.uni.getOrElse(ws(i + 1), 0L), 1L)
            math.floor(math.log(
              (1.0 - m.lambda) * c2 / m.nTotal) * 1e12).toLong
          })
          qsum += term
          i += 1
        }
        val n = (ws.length - 1).toLong
        Iterator.single(LmScore(id, n, qsum.toDouble / 1e12 / n))
      }
    }
  }

  /** The C4/Gopher document filter on a STREAM of documents — the corpus
    * ingest path run incrementally instead of as a batch job.
    *
    * Same decision as [[graft.ext.TextOps.qualityFilter]] (same defaults,
    * same per-rule attribution flags), but every signal is a per-row
    * scalar: the repetition share uses [[graft.ext.TextOps.topGramFrac]]
    * (sort-and-fold over the doc's own gram array) instead of the batch
    * explode+groupBy, so the plan has NO stateful operator — no watermark,
    * no state store, works in append mode on any unbounded source, and
    * emits bit-identical keep/drop decisions to the batch operator
    * (StreamingSpec proves streamed ≡ batch on the same docs). */
  def streamingQualityFilter(docs: DataFrame, minTokens: Long = 25,
      maxTopGramFrac: Double = 0.08, minMeanTokLen: Double = 3.0,
      maxMeanTokLen: Double = 8.0): DataFrame =
    qualityFlags(docs, minTokens, maxTopGramFrac, minMeanTokLen,
      maxMeanTokLen)
      .select(col("doc_id"), col("len_ok"), col("rep_ok"),
        col("toklen_ok"), col("keep"))

  /** The quality decision of [[streamingQualityFilter]] APPENDED to the
    * input rows (all other columns pass through) — the composable form
    * the assembly chain below filters on. */
  def qualityFlags(docs: DataFrame, minTokens: Long = 25,
      maxTopGramFrac: Double = 0.08, minMeanTokLen: Double = 3.0,
      maxMeanTokLen: Double = 8.0): DataFrame = {
    import graft.ext.TextOps
    val t = col("text")
    val toks = TextOps.tokenCount(t)
    val meanTok = length(t).cast("double") / toks
    // the word array is BOUND into a projected column before the gram
    // lambda: an inline split would re-run the regex per gram element
    // (O(words²) per document — fatal on long streamed docs)
    docs
      .withColumn("ws", split(lower(trim(t)), "[ \\t\\n\\x0B\\f\\r]+"))
      .withColumn("len_ok", toks.cast("long") >= minTokens)
      .withColumn("rep_ok",
        coalesce(TextOps.topGramFracWords(col("ws")), lit(0.0))
          <= maxTopGramFrac)
      .withColumn("toklen_ok",
        meanTok >= minMeanTokLen && meanTok <= maxMeanTokLen)
      .withColumn("keep",
        col("len_ok") && col("rep_ok") && col("toklen_ok"))
      .drop("ws")
  }

  /** Trained-probe quality scoring on a STREAM — the serving half of
    * [[graft.ext.TextOps.qualityClassifier]]'s train/serve split:
    * weights are trained ONCE batch-side (the bounded 5-double model
    * artifact) and baked into the plan as literals; the per-document
    * feature map is pure stateless per-row expressions (token count,
    * ratios — no joins, no state store), so every arriving document
    * scores inside its own partition with zero shuffle and the stream
    * plan is a single codegen'd projection. Scores are BIT-IDENTICAL
    * to the batch op on the same rows (StreamingSpec gate): the score
    * head is the identically-spelled IEEE fold on both paths. */
  def streamingQualityScore(docs: DataFrame, w: Array[Double])
      : DataFrame =
    graft.ext.TextOps.scoreQuality(docs, w)

  /** Running per-source content checksum on a STREAM — the ingest-time
    * twin of [[graft.ext.Pipeline.corpusChecksum]], and the op the
    * additive design exists FOR: the checksum is a commutative monoid,
    * so Spark's built-in streaming aggregation (complete mode, partial
    * aggregation per micro-batch, state = one row per source) lands on
    * EXACTLY the batch value after any replay, in any arrival order,
    * across any batch boundaries. A transfer's receiving side runs this
    * while ingesting and compares against the sender's batch manifest
    * — no second pass over the corpus. */
  def streamingCorpusChecksum(docs: DataFrame): DataFrame =
    localCheckpoints(docs).select(col("source"),
        conv(substring(md5(col("text")), 1, 8), 16, 10)
          .cast("decimal(38,0)").as("h"),
        length(col("text")).cast("long").as("nc"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("n_chars"),
        (sum(col("h")) % 2147483647L).cast("long").as("checksum"))

  /** BM25 search serving on a QUERY STREAM against the static inverted
    * index ([[graft.ext.TextOps.bm25Index]]) — "search as you ingest":
    * each arriving query explodes to its distinct terms, equi-joins the
    * term-keyed postings (stream-static — the static side never
    * recomputes), and the per-query top-k assembles in a stateless
    * flatMapGroupsWithState (a query's postings rows are complete
    * within its micro-batch, the [[streamingBigramScoreJoined]]
    * stance). Determinism: per-doc contributions sum in SORTED term
    * order — the batch scorer's fixed reduceLeft chain — so a served
    * query's scores are BIT-IDENTICAL to [[graft.ext.TextOps.bm25]] on
    * the same term bag (absent terms contribute exact +0.0).
    * Ranking ties break (score desc, doc_id). */
  case class Bm25Hit(q_id: Long, rank: Long, doc_id: Long, score: Double)

  def streamingBm25TopK(queries: Dataset[(Long, String)],
      index: DataFrame, topK: Int = 10): Dataset[Bm25Hit] = {
    import queries.sparkSession.implicits._
    val qt = queries.toDF("q_id", "qtext")
      .select(col("q_id"),
        explode(array_distinct(
          split(lower(trim(col("qtext"))), "[ \\t\\n\\x0B\\f\\r]+"))).as("term"))
    val rows = qt.join(index, "term")
      .select(col("q_id"), col("doc_id"), col("term"), col("tscore"))
      .as[(Long, Long, String, Double)]
    def fn(qid: Long, it: Iterator[(Long, Long, String, Double)])
        : Iterator[Bm25Hit] = {
      val perDoc = it.toSeq.groupBy(_._2).map { case (doc, rs) =>
        doc -> rs.sortBy(_._3).map(_._4).foldLeft(0.0)(_ + _)
      }
      perDoc.toSeq.sortBy { case (doc, s) => (-s, doc) }.take(topK)
        .zipWithIndex.map { case ((doc, s), i) =>
          Bm25Hit(qid, i + 1L, doc, s)
        }.iterator
    }
    regroup(rows)(_._1)(fn)
  }

  /** Running per-source OOV rate on a STREAM against a FROZEN vocab —
    * ingest-time tokenizer-coverage monitoring (a source whose live OOV
    * rate drifts up is changing under the crawler's feet; the batch
    * audit only catches it at the next snapshot). The vocabulary is the
    * batch-trained top-V table broadcast against arriving docs; counts
    * are monoid sums, so complete-mode streaming aggregation equals the
    * batch [[graft.ext.TextOps.oovRate]] after any replay order — the
    * [[streamingCorpusChecksum]] stance. */
  def streamingOovRate(docs: DataFrame, vocab: DataFrame): DataFrame =
    localCheckpoints(docs).select(col("source"),
        explode(split(lower(trim(col("text"))), "[ \\t\\n\\x0B\\f\\r]+")).as("term"))
      .join(broadcast(vocab.select(col("term"), lit(1L).as("in_v"))),
        Seq("term"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))

  /** Parsed document-ingest line — the corpus pipeline's T2, one
    * tab-separated `<doc_id>\t<source>\t<text>` record per wire line
    * (text may itself contain tabs; only the first two split). */
  case class DocLine(doc_id: Long, source: String, text: String)

  /** Ingest deserializer for document lines; malformed lines drop, the
    * same per-line error stance as [[parseLines]]. */
  def parseDocLines(lines: Dataset[String]): Dataset[DocLine] = {
    import lines.sparkSession.implicits._
    lines.flatMap { s =>
      val i = s.indexOf('\t')
      val j = if (i < 0) -1 else s.indexOf('\t', i + 1)
      if (i <= 0 || j < 0) None
      else scala.util.Try(DocLine(s.substring(0, i).toLong,
        s.substring(i + 1, j), s.substring(j + 1))).toOption
    }
  }

  /** A document that survived the FULL streaming assembly chain —
    * quality gate, content dedup, per-source token budget — with the
    * budget bookkeeping a packing stage consumes. */
  case class AssembledDoc(doc_id: Long, source: String, text: String,
      n_tokens: Long, cum_tokens: Long)

  /** The end-to-end corpus-assembly pipeline on a STREAM — the
    * streaming twin of the batch chain PipelineSpec composes (quality
    * filter → dedup → token budget → pack), wired as ONE streaming
    * query: a stateless scalar quality gate ([[qualityFlags]], the
    * batch operator's exact decisions), then exact content dedup
    * (state = one has-a-keeper flag per distinct md5, the
    * [[streamingExactDedup]] semantics with the row carried through),
    * then the per-source token budget ([[streamingTokenBudget]]
    * semantics). Two chained flatMapGroupsWithState stages — legal in
    * Spark because both emit in Append mode; each keeps the same
    * bounded state its standalone op keeps. The survivors feed any
    * sink; the spec lands them in parquet via foreachBatch and packs
    * them with [[graft.ext.Pipeline.writePackedShards]] — the
    * stream-ingest, batch-pack split production loaders run (packing
    * wants the epoch's corpus frozen; dedup/budget want per-arrival
    * decisions). */
  def streamingCorpusAssembly(docs: Dataset[DocLine], budget: Long,
      minTokens: Long = 25, maxTopGramFrac: Double = 0.08,
      minMeanTokLen: Double = 3.0, maxMeanTokLen: Double = 8.0)
      : Dataset[AssembledDoc] = {
    import docs.sparkSession.implicits._
    val kept = qualityFlags(docs.toDF(), minTokens, maxTopGramFrac,
      minMeanTokLen, maxMeanTokLen)
      .where(col("keep"))
      .select(col("doc_id"), col("source"), col("text"),
        graft.ext.TextOps.tokenCount(col("text")).cast("long")
          .as("n_tokens"))
      .as[(Long, String, String, Long)]
    // content-dedup stage: key = md5(text), state = whether the content
    // has a keeper; first arrival of a content wins (doc_id order within
    // a batch — the batch operator's min-id keeper on a single-batch
    // replay). A replayed keeper row is DROPPED, not re-emitted: the
    // downstream budget stage counts every emitted row, so re-emission
    // would double-charge the source's budget.
    val deduped = keyedFold[(Long, String, String, Long), String, Boolean,
      (Long, String, String, Long)](kept,
      r => graft.functions.md5Hex(r._3.getBytes("UTF-8")), false)(
      _.sortBy(_._1), (_, seen, r, out) => { if (!seen) out(r); true })
    // budget stage: key = source, state = cumulative tokens; md5(doc_id)
    // order within a batch (the batch operator's deterministic order),
    // arrival order across batches — streamingTokenBudget's stance
    def md5Key(id: Long): String =
      graft.functions.md5Hex(id.toString.getBytes("UTF-8"))
    keyedFold[(Long, String, String, Long), String, Long, AssembledDoc](
      deduped, _._2, 0L)(
      _.sortBy(r => (md5Key(r._1), r._1)),
      (src, cum0, r, out) => {
        val cum = cum0 + r._4
        if (cum <= budget) out(AssembledDoc(r._1, src, r._3, r._4, cum))
        cum
      })
  }

  // ------------------------------------------------ clickstream twins

  /** One event of the clickstream family's stream form (the `events`
    * table's analytics columns; `props` is dead weight for every op in
    * the family). */
  case class ClickEvent(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String, value: Double)

  /** Exact integer micros of a ClickEvent timestamp — the fold-side
    * spelling of the batch family's `unix_micros` (both read the same
    * instant; `Timestamp.getTime` alone would truncate to millis). */
  private def clickMicros(ts: java.sql.Timestamp): Long = {
    val i = ts.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** [[keyedFold]] per user over click events in (event micros,
    * event_id) order within a micro-batch; across batches the click
    * twins fold in arrival order, under the in-order ingest contract. */
  private def clickFold[S: Encoder, O: Encoder](
      events: Dataset[ClickEvent], zero: S)(
      step: (Long, S, ClickEvent, O => Unit) => S,
      serve: (Long, S) => IterableOnce[O] = (_: Long, _: S) => Nil)
      : Dataset[O] =
    keyedFold[ClickEvent, Long, S, O](events, _.user_id, zero)(
      _.sortBy(e => (clickMicros(e.ts), e.event_id)), step, serve)(
      Encoders.scalaLong, implicitly[Encoder[S]], implicitly[Encoder[O]])

  /** Streaming sessionize — twin of
    * [[graft.operators.EventAnalytics.sessionize]] via Spark's NATIVE
    * session_window aggregation (gap-merge is exactly the batch rule:
    * per-event windows `[ts, ts+gap)` merge iff they overlap, i.e.
    * `diff < gap`, so a diff of exactly the gap splits in both forms).
    * All aggregates are the batch expressions over exact integers, so a
    * finalized session is bit-equal to its batch row; `session_idx` is
    * the one batch column with no streaming analog (it numbers sessions
    * within a user's FULL history), so the twin keys sessions by
    * `(user_id, session_start)` instead — equivalent information, since
    * session starts are unique per user by construction.
    *
    * Append mode: a session emits once the watermark passes its close;
    * each user's final in-progress session stays pending (the fold
    * twins' dropLast stance, enforced here by the engine itself). */
  def streamingSessionize(events: DataFrame,
      gapSeconds: Long = 1800): DataFrame =
    localCheckpoints(events)
      .withColumn("event_time", col("ts").cast("timestamp"))
      .withColumn("tsu", unix_micros(col("event_time")))
      .withWatermark("event_time", "10 minutes")
      .groupBy(col("user_id"),
        session_window(col("event_time"), s"$gapSeconds seconds"))
      .agg(
        min(col("tsu")).as("session_start"),
        max(col("tsu")).as("session_end"),
        count(lit(1)).as("n_events"),
        graft.operators.EventAnalytics.valueQSum("streamingSessionize")
          .as("value_q"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("value_q"),
        (col("session_end") - col("session_start")).as("duration_us"))

  /** One closed session's path: its exact start micros and the first
    * `maxLen` event types in event order, `>`-joined. */
  case class SessionPath(user_id: Long, session_start: Long, path: String)

  /** The open session: last event micros, start micros, and the
    * truncated type prefix (≤ maxLen — O(1) state per user; empty = no
    * event yet). */
  case class PathState(lastTsu: Long, start: Long, types: Seq[String])

  /** Streaming session paths — the stateful half of
    * [[graft.operators.EventAnalytics.sessionPaths]]: a per-user fold
    * that carries only the open session's first-`maxLen` type prefix
    * and emits the path when the session CLOSES (a later event at
    * `diff >= gap`, the batch split rule). Each user's final session
    * stays pending (the fold twins' dropLast stance — StreamingSpec
    * closes them with per-user sentinels); counting emitted paths is a
    * commutative monoid any downstream aggregation replays, so the
    * path frequency table reproduces the batch one exactly. The fold
    * truncates DURING ingest where the batch op truncates after
    * collection — same prefix, O(maxLen) state instead of the batch
    * side's session-length array. */
  def streamingSessionPaths(events: Dataset[ClickEvent],
      gapSeconds: Long = 1800, maxLen: Int = 8): Dataset[SessionPath] = {
    import events.sparkSession.implicits._
    val gapUs = gapSeconds * 1000000L
    clickFold[PathState, SessionPath](events, PathState(0L, 0L, Nil))(
      (uid, st, e, out) => {
        val (tsu, typ) = (clickMicros(e.ts), e.event_type)
        if (st.types.isEmpty) PathState(tsu, tsu, Seq(typ))
        else if (tsu - st.lastTsu >= gapUs) {
          out(SessionPath(uid, st.start, st.types.mkString(">")))
          PathState(tsu, tsu, Seq(typ))
        } else PathState(tsu, st.start,
          if (st.types.length < maxLen) st.types :+ typ else st.types)
      })
  }

  /** Streaming bounce flags — the stateless projection that makes
    * [[graft.operators.EventAnalytics.bounceRate]] a pure composition
    * over [[streamingSessionize]]: each finalized session becomes its
    * period index and a 0/1 bounce flag, and the per-period counts and
    * their ratio are a commutative monoid + one IEEE division any
    * downstream aggregation replays bit-exactly (StreamingSpec proves
    * the composition against the batch table). */
  def streamingSessionBounce(events: DataFrame, gapSeconds: Long = 1800,
      periodDays: Long = 7): DataFrame = {
    val periodUs = periodDays * 86400L * 1000000L
    streamingSessionize(events, gapSeconds)
      .select(
        floor(col("session_start") / periodUs).cast("long").as("period"),
        when(col("n_events") === 1L, 1L).otherwise(0L).as("is_bounce"))
  }

  /** A funnel advance: `user_id` reached `step` (1-based) at `tsu`. */
  case class FunnelAdvance(user_id: Long, step: Int, tsu: Long)

  /** Step times reached so far; `Long.MinValue` = unreached. */
  case class FunnelState(times: Seq[Long])

  /** Streaming funnel progress — the ingest-time twin of
    * [[graft.operators.EventAnalytics.funnel]]: a per-user fold that
    * emits one [[FunnelAdvance]] the moment a user first satisfies a
    * step (strictly after the previous step's time, within the horizon
    * of step 1 — the batch conditions verbatim). Because each batch
    * t_i is the MINIMUM qualifying time and the fold sees events in
    * (tsu, event_id) order (sorted per micro-batch; in-order across
    * batches — the fold twins' ingest contract), the first qualifying
    * event IS the minimum, so the emitted advance set equals the batch
    * row's non-null step times exactly (StreamingSpec). */
  def streamingFunnelSteps(events: Dataset[ClickEvent],
      steps: Seq[String], horizonSeconds: Long = 7L * 86400)
      : Dataset[FunnelAdvance] = {
    import events.sparkSession.implicits._
    require(steps.size >= 2, "funnel needs at least two steps")
    // indexOf resolves only the FIRST occurrence of a repeated step
    // type, which could never advance past it — reject loudly, exactly
    // as the batch funnel does (ADVICE r11)
    require(steps.distinct.size == steps.size,
      s"funnel steps must be distinct: $steps")
    val horizonUs = horizonSeconds * 1000000L
    clickFold[FunnelState, FunnelAdvance](events,
      FunnelState(Seq.fill(steps.size)(Long.MinValue)))(
      (uid, st, e, out) => {
        val (tsu, i, times) = (clickMicros(e.ts), steps.indexOf(e.event_type),
          st.times)
        if ((i == 0 && times(0) == Long.MinValue) ||
            (i > 0 && times(i) == Long.MinValue &&
              times(i - 1) != Long.MinValue && tsu > times(i - 1) &&
              tsu <= times(0) + horizonUs)) {
          out(FunnelAdvance(uid, i + 1, tsu))
          FunnelState(times.updated(i, tsu))
        } else st
      })
  }

  /** Per-user dwell classification on a STREAM against a batch
    * boundary snapshot (VERDICT r11 #6 — the [[streamingPplBucket]]
    * serve-compare-to-boundary pattern): the fold carries only the
    * user's LAST event ([[TransState]], O(1)); each arrival emits the
    * PREVIOUS event's exact dwell micros, and classification happens
    * map-side through
    * [[graft.operators.EventAnalytics.assignDwellBuckets]] VERBATIM
    * over the broadcast `bounds` snapshot
    * ([[graft.operators.EventAnalytics.dwellPercentiles]] output) — so
    * streamed buckets equal the batch classification bit-for-bit from
    * the same snapshot (StreamingSpec). */
  def streamingDwellBucket(events: Dataset[ClickEvent],
      bounds: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val dwells = clickFold[TransState, (Long, Long, String, Long)](events,
      NoClick)(
      (uid, last, e, out) => {
        val tsu = clickMicros(e.ts)
        if (last != NoClick) out((uid, last.tsu, last.typ, tsu - last.tsu))
        TransState(tsu, e.event_id, e.event_type)
      })
      .toDF("user_id", "tsu", "event_type", "dwell_us")
    graft.operators.EventAnalytics.assignDwellBuckets(dwells, bounds)
  }

  /** One user's RFM serving row. */
  case class RfmServing(user_id: Long, recency_us: Long,
      frequency: Long, monetary_q: Long, r_score: Long, f_score: Long,
      m_score: Long, rfm_code: Long)

  /** Per-user RFM state: exact BigInt monetary sum as a string (the
    * estimator-wave fold stance). */
  case class RfmUserState(recency: Long, frequency: Long,
      monetaryQ: String)

  /** RFM serving on a STREAM from a batch boundary snapshot
    * (VERDICT r11 #6): `bounds` is the ONE-ROW
    * [[graft.operators.EventAnalytics.rfmBounds]] table, collected to
    * scalars at construction; the fold carries (max tsu, count, exact
    * BigInt value_q) per user — a commutative monoid, O(1) state —
    * and each micro-batch serves the user's current scores through the
    * same `v <= b1 / v <= b2` IEEE comparisons the batch
    * [[graft.operators.EventAnalytics.rfmApply]] runs (longs widen to
    * double identically), with the batch valueQSum guard chain
    * replayed scalar-side (finite value, 1e15 summand bound, BIGINT
    * emission bound). Streamed serving rows therefore equal the batch
    * [[graft.operators.EventAnalytics.rfm]] rows from the same
    * snapshot once every event is ingested (StreamingSpec). */
  def streamingRfm(events: Dataset[ClickEvent],
      bounds: DataFrame): Dataset[RfmServing] = {
    import events.sparkSession.implicits._
    val b = bounds.head()
    val (b1r, b2r) = (b.getAs[Double]("b1_r"), b.getAs[Double]("b2_r"))
    val (b1f, b2f) = (b.getAs[Double]("b1_f"), b.getAs[Double]("b2_f"))
    val (b1m, b2m) = (b.getAs[Double]("b1_m"), b.getAs[Double]("b2_m"))
    def score(v: Double, b1: Double, b2: Double): Long =
      if (v <= b1) 1L else if (v <= b2) 2L else 3L
    def serve(uid: Long, st: RfmUserState): Option[RfmServing] = {
      val m = BigInt(st.monetaryQ)
      if (m.abs > BigInt(Long.MaxValue))
        throw new ArithmeticException("rfm: value_q sum overflows BIGINT")
      val (r, f, mm) = (score(st.recency.toDouble, b1r, b2r),
        score(st.frequency.toDouble, b1f, b2f),
        score(m.toDouble, b1m, b2m))
      Some(RfmServing(uid, st.recency, st.frequency,
        m.toLong, r, f, mm, r * 100L + f * 10L + mm))
    }
    clickFold[RfmUserState, RfmServing](events,
      RfmUserState(Long.MinValue, 0L, "0"))(
      (uid, st, e, _) => {
        // the batch valueQSum guards, scalar-side
        if (e.value.isNaN || e.value.isInfinite)
          throw new ArithmeticException(
            "rfm: non-finite event value at user_id=" + uid)
        val q = math.floor(e.value * 1e6).toLong
        if (math.abs(q) > 1000000000000000L)
          throw new ArithmeticException("rfm: quantized value outside " +
            "the exact-decimal regime at user_id=" + uid)
        RfmUserState(math.max(st.recency, clickMicros(e.ts)),
          st.frequency + 1L, (BigInt(st.monetaryQ) + q).toString)
      }, serve)
  }

  /** One user's navigation-entropy serving row. */
  case class NavEntropyServing(user_id: Long, n_types: Long,
      n_events: Long, sum_clnq: Long, entropy: Double,
      norm_entropy: Option[Double])

  /** Per-user event-type counts — bounded by the user's own type
    * vocabulary (the batch op carries the same per-user axis). */
  case class NavEntropyState(counts: Map[String, Long])

  /** Navigation-entropy serving on a STREAM (the [[streamingRfm]]
    * serve-current-state pattern): the fold carries each user's
    * type-count map — a commutative monoid, type-bounded state — and
    * every micro-batch serves the user's current entropy through the
    * SAME scalar lnQ chain the batch
    * [[graft.operators.ActivityStats.navEntropy]] runs
    * (`floor(ln(c/n)·1e12)` per type, exact BigInt `Σ c·lnQ` with the
    * batch's BIGINT emission guard, one IEEE chain for entropy and
    * the ln(k)-normalized form), so the LAST serving row per user
    * equals the batch row bit-for-bit once every event is ingested
    * (StreamingSpec). */
  def streamingNavEntropy(events: Dataset[ClickEvent])
      : Dataset[NavEntropyServing] = {
    import events.sparkSession.implicits._
    def serve(uid: Long, st: NavEntropyState): Option[NavEntropyServing] = {
      val counts = st.counts
      val n = counts.values.sum
      val s = counts.values.map(c => BigInt(c) * BigInt(
        math.floor(math.log(c.toDouble / n.toDouble) * 1e12).toLong))
        .sum
      if (s.abs > BigInt(Long.MaxValue))
        throw new ArithmeticException(
          "navEntropy: sum_clnq overflows BIGINT at user_id=" + uid)
      val sq = s.toLong
      val entropy = -sq.toDouble / 1e12 / n.toDouble
      val norm =
        if (counts.size > 1) Some(entropy /
          (math.floor(math.log(counts.size.toDouble) * 1e12)
            .toLong.toDouble / 1e12))
        else None
      Some(NavEntropyServing(uid, counts.size.toLong, n, sq, entropy,
        norm))
    }
    clickFold[NavEntropyState, NavEntropyServing](events,
      NavEntropyState(Map.empty))(
      (_, st, e, _) => NavEntropyState(st.counts.updated(e.event_type,
        st.counts.getOrElse(e.event_type, 0L) + 1L)), serve)
  }

  /** One consecutive event-type pair of a user's stream. */
  case class TransitionPair(user_id: Long, event_type: String,
      next_type: String)

  /** Last event seen per user — O(1) state. */
  case class TransState(tsu: Long, eventId: Long, typ: String)
  /** [[TransState]] before a user's first event. */
  private val NoClick = TransState(Long.MinValue, 0L, null)

  /** Streaming transition pairs — the stateful half of
    * [[graft.operators.EventAnalytics.transitions]]: a per-user fold
    * carrying only the LAST event, emitting each consecutive
    * (from, to) pair at ingest. Counting pairs into the matrix is a
    * commutative monoid downstream (any aggregation replays batch
    * counts exactly); the fold is what needs event order, and it sorts
    * per micro-batch under the cross-batch in-order contract. */
  def streamingTransitionPairs(events: Dataset[ClickEvent])
      : Dataset[TransitionPair] = {
    import events.sparkSession.implicits._
    clickFold[TransState, TransitionPair](events, NoClick)(
      (uid, last, e, out) => {
        if (last != NoClick) out(TransitionPair(uid, last.typ, e.event_type))
        TransState(clickMicros(e.ts), e.event_id, e.event_type)
      })
  }

  /** One first-occurrence record: `user_id` performed `event_type` for
    * the first time. */
  case class TypeFirst(user_id: Long, event_type: String)

  /** Streaming type-firsts — the stateful half of
    * [[graft.operators.EventAnalytics.eventLift]]: a per-user fold
    * whose state is the set of event types already seen (bounded by
    * type cardinality, O(1) for any real stream), emitting one
    * [[TypeFirst]] per new (user, type). The emitted set IS the batch
    * `distinct(user_id, event_type)` table, so every eventLift output
    * — per-type counts, user-keyed pair counts, support, lift — is a
    * downstream replay over it (StreamingSpec proves the composition
    * bit-exactly). */
  def streamingTypeFirsts(events: Dataset[ClickEvent])
      : Dataset[TypeFirst] = {
    import events.sparkSession.implicits._
    clickFold[Seq[String], TypeFirst](events, Nil)(
      (uid, seen, e, out) =>
        if (seen.contains(e.event_type)) seen
        else { out(TypeFirst(uid, e.event_type)); e.event_type +: seen })
  }

  /** One first-activity-in-a-period record: `user_id` (cohort
    * `cohort`) was active in period `cohort + offset` for the first
    * time. */
  case class RetentionHit(user_id: Long, cohort: Long, offset: Long)

  /** Cohort period (Long.MinValue = no event yet) plus the period
    * offsets already emitted. State is bounded by the number of
    * DISTINCT periods the user was active in (≤ calendar periods of the
    * stream's lifetime, ~52/year at weekly grain — not event volume). */
  case class RetentionState(cohort: Long, offsets: Seq[Long])

  /** Streaming retention hits — the stateful half of
    * [[graft.operators.EventAnalytics.retentionCohorts]]: a per-user
    * fold that pins the user's cohort at their FIRST event (the ingest
    * in-order contract makes "first seen" = "first", as for the other
    * fold twins) and emits one [[RetentionHit]] the first time the user
    * is active in each period. The emitted set equals the batch
    * `active ⋈ firsts` rows exactly, so counting hits per
    * (cohort, offset) — a commutative monoid any downstream windowed
    * aggregation replays — reproduces `n_users` bit-exactly, and
    * `cohort_size`/`retained_frac` are derived from those counts by the
    * batch expressions (StreamingSpec proves the composition).
    *
    * The period index is spelled EXACTLY as the batch/oracle compute
    * it — `floor(tsu.toDouble / periodUs)`, one IEEE division + floor —
    * not integer floorDiv, so a hypothetical boundary-rounding quirk
    * would land identically in all three forms. */
  def streamingRetentionHits(events: Dataset[ClickEvent],
      periodDays: Long = 7): Dataset[RetentionHit] = {
    import events.sparkSession.implicits._
    val periodUs = periodDays * 86400L * 1000000L
    clickFold[RetentionState, RetentionHit](events,
      RetentionState(Long.MinValue, Nil))(
      (uid, st0, e, out) => {
        val period = math.floor(clickMicros(e.ts).toDouble / periodUs).toLong
        val st = if (st0.cohort == Long.MinValue) RetentionState(period, Nil)
          else st0
        val off = period - st.cohort
        if (st.offsets.contains(off)) st
        else {
          out(RetentionHit(uid, st.cohort, off))
          st.copy(offsets = off +: st.offsets)
        }
      })
  }
}
