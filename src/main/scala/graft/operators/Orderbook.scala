package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.model.Update
import graft.streaming.Streaming.Dec4

/** L2 orderbook reconstruction (`postprocessing/orderbook.rs:16-131`).
  *
  * The reference replays updates sequentially into per-side BTreeMaps
  * (`process_update`, orderbook.rs:46-63):
  *   - level update: set `(side, discretize(price)) -> size`, 0 deletes;
  *   - trade: subtract size at that level IF the level exists (no-op
  *     otherwise); levels driven negative by trades are kept.
  *
  * [[step]] is that replay step, written once: [[replayFold]], the
  * server's OB and the book twins in `graft.streaming.Streaming` all fold
  * it. It keeps the batch snapshot's arithmetic, not the naive
  * sequential one: a level is `lastSize − double(Σ decimal(30,4) trades
  * since)` ([[LevelCell]], [[sizeOf]]), so every replay is bit-equal to
  * [[snapshot]]. Two bounds, where the replay fails loud with an
  * `ArithmeticException` instead of returning a wrong book: a level's
  * trade sum at scale 4 must fit a Long (|Σ| < 2^63 / 10^4, about
  * 9.2e14), where Spark's `decimal(30,4)` sum still returns a number; and
  * a level must fit the packed key (|price·10^decimals| < 2^62).
  *
  * The final snapshot is order-theoretic, so it has a pure relational form
  * (no fold): for each `(symbol, side, level)` take the LAST level-set by
  * `(ts, seq)`; drop it if that set was 0; subtract the trade sizes that
  * arrived after it. This shuffles once on the level key and scales by
  * symbol×level cardinality — no sequential pass, no driver state. The
  * sequential replay gives the same answer (cross-checked in
  * OrderbookSpec); the relational form is what you want at 100 TB.
  */
object Orderbook extends Serializable {

  /** One level of a replayed book: the size of its last set and the exact
    * scale-4 sum of the trades since, unscaled (`Dec4`). */
  final case class LevelCell(lastSize: Double, tradedUnscaled: Long)

  /** `process_update` on a book keyed by `(level << 1) | is_bid`, at
    * `mult` = 10^decimals: a set replaces the level's cell and resets its
    * trade sum, a set of size 0 removes the level, and a trade adds its
    * scale-4 size only to a level that exists. */
  def step(book: Map[Long, LevelCell], u: Update,
      mult: Double): Map[Long, LevelCell] = {
    val key = Math.multiplyExact(math.floor(u.price * mult).toLong, 2L) |
      (if (u.is_bid) 1L else 0L)
    if (u.is_trade)
      book.get(key).fold(book)(c => book.updated(key, c.copy(tradedUnscaled =
        Math.addExact(c.tradedUnscaled, Dec4.dec4(u.size)))))
    else if (u.size == 0.0) book.removed(key)
    else book.updated(key, LevelCell(u.size, 0L))
  }

  /** A level's size as [[snapshot]] computes it: one decimal sum, ONE
    * double subtraction. */
  def sizeOf(c: LevelCell): Double =
    if (c.tradedUnscaled == 0L) c.lastSize
    else c.lastSize - Dec4.dec4ToDouble(c.tradedUnscaled)

  /** `updates`, in (ts, seq) order, folded through [[step]]. */
  def replay(updates: Iterator[Update],
      decimals: Int): Map[Long, LevelCell] = {
    val mult = math.pow(10, decimals)
    updates.foldLeft(Map.empty[Long, LevelCell])(step(_, _, mult))
  }

  /** A replayed book's bid and ask levels, each keyed by its level. */
  def sides(book: Map[Long, LevelCell])
      : (Map[Long, LevelCell], Map[Long, LevelCell]) = {
    val (bids, asks) = book.partition(e => (e._1 & 1L) == 1L)
    (bids.map(e => (e._1 >> 1) -> e._2), asks.map(e => (e._1 >> 1) -> e._2))
  }

  /** Final book snapshot: `(symbol, is_bid, level, size)`. */
  def snapshot(updates: DataFrame, decimals: Int = 2): DataFrame = {
    val dp = discretize(col("price"), decimals)
    val levels = updates.where(!col("is_trade"))
      .select(col("symbol"), col("is_bid"), dp.as("level"),
        col("size"), col("ts"), col("seq"))
      .groupBy("symbol", "is_bid", "level")
      .agg(
        orderedLast(col("size"), col("ts"), col("seq")).as("lvl_size"),
        max(struct(col("ts"), col("seq"))).as("k"))
    val tradedAfter = updates.where(col("is_trade"))
      .select(col("symbol"), col("is_bid"), dp.as("level"),
        col("size"), col("ts"), col("seq"))
      .join(levels.select(col("symbol"), col("is_bid"), col("level"),
        col("k")), Seq("symbol", "is_bid", "level"))
      .where(struct(col("ts"), col("seq")) > col("k"))
      .groupBy("symbol", "is_bid", "level")
      .agg(exactSum(col("size")).as("traded"))
    levels
      .where(col("lvl_size") =!= 0.0)
      .join(tradedAfter, Seq("symbol", "is_bid", "level"), "left")
      .select(col("symbol"), col("is_bid"), col("level"),
        (col("lvl_size") - coalesce(col("traded"), lit(0.0))).as("size"))
  }

  /** DuckDB twin of [[snapshot]]. */
  def snapshotSql(decimals: Int = 2): String = {
    val p = math.pow(10, decimals).toLong
    s"""SELECT l.symbol, l.is_bid, l.level,
       | l.lvl_size - coalesce(t.traded, 0.0) AS size
       |FROM (
       | SELECT symbol, is_bid, CAST(floor(price * $p) AS BIGINT) AS level,
       |  last(size ORDER BY ts, seq) AS lvl_size,
       |  last(ts ORDER BY ts, seq) AS kts,
       |  last(seq ORDER BY ts, seq) AS kseq
       | FROM updates WHERE NOT is_trade
       | GROUP BY 1, 2, 3) l
       |LEFT JOIN (
       | SELECT u.symbol, u.is_bid, CAST(floor(u.price * $p) AS BIGINT) AS level,
       |  ls.kts, ls.kseq,
       |  CAST(SUM(CAST(u.size AS DECIMAL(30,4))) AS DOUBLE) AS traded
       | FROM updates u
       | JOIN (SELECT symbol, is_bid, CAST(floor(price * $p) AS BIGINT) AS level,
       |        last(ts ORDER BY ts, seq) AS kts, last(seq ORDER BY ts, seq) AS kseq
       |       FROM updates WHERE NOT is_trade GROUP BY 1, 2, 3) ls
       |  ON u.symbol = ls.symbol AND u.is_bid = ls.is_bid
       |  AND CAST(floor(u.price * $p) AS BIGINT) = ls.level
       | WHERE u.is_trade
       |  AND (u.ts > ls.kts OR (u.ts = ls.kts AND u.seq > ls.kseq))
       | GROUP BY 1, 2, 3, 4, 5) t
       |ON l.symbol = t.symbol AND l.is_bid = t.is_bid AND l.level = t.level
       |WHERE l.lvl_size <> 0.0
       |ORDER BY 1, 2, 3""".stripMargin.replace('\n', ' ')
  }

  /** Sequential replay (`process_update`, orderbook.rs:46-63): per
    * symbol, the (ts, seq)-sorted rows folded through [[step]]. The
    * sequential reference [[snapshot]] is checked against in
    * OrderbookSpec and OperatorPropertySpec. */
  def replayFold(updates: DataFrame, decimals: Int = 2): DataFrame = {
    val spark = updates.sparkSession
    import spark.implicits._
    updates.as[Update].groupByKey(_.symbol).flatMapGroups { (sym, rows) =>
      val (bids, asks) = sides(replay(
        rows.toSeq.sortBy(u => (u.ts, u.seq)).iterator, decimals))
      Seq(true -> bids, false -> asks).flatMap { case (bid, levels) =>
        levels.map { case (level, c) => (sym, bid, level, sizeOf(c)) }
      }
    }.toDF("symbol", "is_bid", "level", "size")
  }

  /** Top of book per symbol (`orderbook.rs:84-131`): best bid = max bid
    * level, best ask = min ask level, mid = (bb+ba)/2, plus the raw
    * integer-division variants. */
  def top(book: DataFrame, decimals: Int = 2): DataFrame = {
    def und(c: Column) = undiscretize(c, decimals)
    book.groupBy("symbol")
      .agg(
        max(when(col("is_bid"), col("level"))).as("bb_raw"),
        min(when(!col("is_bid"), col("level"))).as("ba_raw"))
      .select(col("symbol"), col("bb_raw"), col("ba_raw"),
        expr("(bb_raw + ba_raw) div 2").as("mid_raw"),
        und(col("bb_raw")).as("best_bid"),
        und(col("ba_raw")).as("best_ask"),
        ((und(col("bb_raw")) + und(col("ba_raw"))) / 2.0).as("mid"))
  }

  /** Liquidity within `bps` basis points of the mid, per (symbol,
    * side), off the final [[snapshot]]: level count and exact-decimal
    * size sum over book levels with
    * `|level − mid_raw|·10⁴ ≤ mid_raw·bps` — an ALL-INTEGER band test
    * on the discretized levels and the raw integer mid (no float
    * threshold to diverge on). A symbol missing a side has a null mid
    * and drops entirely (no band is defined), in both engines.
    *
    * Scale shape: the snapshot aggregation plus one broadcast join of
    * the symbol-cardinality top table and one (symbol, side) partial
    * aggregation. */
  def liquidityBand(updates: DataFrame, bps: Long = 25L,
      decimals: Int = 2): DataFrame = {
    val book = snapshot(updates, decimals)
    val mids = top(book, decimals).select("symbol", "mid_raw")
    book.join(mids, "symbol")
      .where(abs(col("level") - col("mid_raw")) * lit(10000L) <=
        col("mid_raw") * lit(bps))
      .groupBy(col("symbol"), col("is_bid"))
      .agg(count(lit(1)).as("n_levels"),
        exactSum(col("size")).as("liquidity"))
      .orderBy("symbol", "is_bid")
  }

  def liquidityBandSql(bps: Long = 25L, decimals: Int = 2): String =
    s"""WITH book AS (${snapshotSql(decimals)}),
       |tp AS (${topSql(decimals)})
       |SELECT b.symbol, b.is_bid, count(*) AS n_levels,
       | CAST(SUM(CAST(b.size AS DECIMAL(30,4))) AS DOUBLE) AS liquidity
       |FROM book b JOIN tp ON b.symbol = tp.symbol
       |WHERE abs(b.level - tp.mid_raw) * 10000 <= tp.mid_raw * $bps
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin.replace('\n', ' ')

  def topSql(decimals: Int = 2): String = {
    val p = math.pow(10, decimals).toLong
    s"""SELECT symbol, bb_raw, ba_raw, (bb_raw + ba_raw) // 2 AS mid_raw,
       | bb_raw / $p.0 AS best_bid, ba_raw / $p.0 AS best_ask,
       | (bb_raw / $p.0 + ba_raw / $p.0) / 2.0 AS mid
       |FROM (SELECT symbol,
       |  max(CASE WHEN is_bid THEN level END) AS bb_raw,
       |  min(CASE WHEN NOT is_bid THEN level END) AS ba_raw
       | FROM book GROUP BY symbol)
       |ORDER BY symbol""".stripMargin.replace('\n', ' ')
  }
}
