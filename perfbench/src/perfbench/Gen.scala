package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

import graft.model.Update

/** Seeded input generator. The program only ever sees what this makes;
  * the same seed gives the same inputs.
  *
  * Every tick stream is a price walk on a 1/8 grid with quarter-unit sizes:
  * both are exact in the wire format's f32 fields and in double sums, so
  * outputs can be checked exactly. About a third of the ticks are trades
  * and the rest are level updates, 1 in 16 of them a level delete
  * (size 0). */
object Gen {
  /** Books of the wire workloads. */
  val Books: Seq[String] = Seq("book0", "book1", "book2", "book3")
  /** 2024-01-01T00:00:00Z in ms. */
  val T0 = 1704067200000L
  val DayMs = 86400000L

  /** One book's tick stream. `ts` strictly increases (the engine's flush
    * keeps only rows newer than the stored maximum, so equal timestamps
    * across a flush boundary would be dropped by design); gaps are
    * uniform in [1, 2 * meanGapMs]. */
  final class BookStream(val book: String, seed: Long, startTs: Long,
      meanGapMs: Int) {
    private val r = new SplittableRandom(seed)
    private var ts = startTs
    private var seq = 0L
    private var priceTicks = 800 + r.nextInt(800)

    def next(): Update = {
      ts += 1 + r.nextInt(2 * meanGapMs)
      seq += 1
      val trade = r.nextInt(3) == 0
      val bid = r.nextBoolean()
      priceTicks = math.max(8, priceTicks + r.nextInt(5) - 2)
      val size =
        if (!trade && r.nextInt(16) == 0) 0.0 else (1 + r.nextInt(400)) / 4.0
      Update(book, ts, seq, trade, bid, priceTicks / 8.0, size)
    }

    def take(n: Int): Array[Update] = Array.fill(n)(next())
  }

  /** The four book streams of a run; `salt` separates streams drawn for
    * different purposes from one seed. */
  def streams(seed: Long, salt: Long, startTs: Long,
      meanGapMs: Int): IndexedSeq[BookStream] =
    Books.indices.map(i => new BookStream(Books(i),
      new SplittableRandom(seed * 1000003L + salt * 31L + i).nextLong(),
      startTs, meanGapMs))

  /** Event types of the analytics/stream `events` table: four books. The
    * store-served registry queries read the `click` book. */
  val EventTypes: Seq[String] = Seq("click", "purchase", "signup", "view")

  /** Writes `dir/events.parquet` in the testdata layout (event_id, ts as
    * TIMESTAMP_NTZ micros, user_id, event_type, value, props): `rows`
    * events over 30 days from 2024-01-01, event_id in ts order, `value` a
    * per-type walk in cents. `graft.Tables.updates` derives the tick table
    * from it. */
  def writeEvents(spark: SparkSession, dir: String, seed: Long,
      rows: Int): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val r = new SplittableRandom(seed * 7919L + 17L)
    val spanUs = 30L * DayMs * 1000L
    val offs = Array.fill(rows)(r.nextLong(spanUs))
    java.util.Arrays.sort(offs)
    val cents = Array.fill(EventTypes.size)(2000 + r.nextInt(30000))
    val epoch = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val data = (0 until rows).map { i =>
      val t = r.nextInt(EventTypes.size)
      cents(t) = math.max(50, cents(t) + r.nextInt(41) - 20)
      Row(i.toLong, epoch.plusNanos(offs(i) * 1000L),
        r.nextInt(5000).toLong, EventTypes(t), cents(t) / 100.0,
        s"""{"k": ${r.nextInt(100)}}""")
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 4), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }
}
