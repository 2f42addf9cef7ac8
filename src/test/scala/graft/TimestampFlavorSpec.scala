package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Timestamp-flavor matrix for the `events.ts` source boundary.
  *
  * The driver has regenerated `events.parquet` with a different parquet
  * timestamp flavor twice already (TIMESTAMP(NANOS) → read as raw ns Long
  * under `nanosAsLong`; then `timestamp[us]` without tz → TIMESTAMP_NTZ),
  * and the second change took out every core correctness gate for a round
  * (VERDICT r8). This suite writes the SAME logical events in all three
  * flavors the adapter claims to handle and asserts `Tables.updates` and
  * `Tables.updatesInRange` are bit-identical over all of them — the third
  * driver-side flavor change should cost a red row here, not a dark round.
  *
  * The reference engine's analogous duty is `fill_digits`
  * (`crates/tdb-core/src/utils.rs:11-22`): normalize any incoming epoch
  * resolution at the ingest boundary.
  */
class TimestampFlavorSpec extends SparkSpec {

  // instants inside the q_range_scan window (2024-01-10 .. 2024-01-20 UTC)
  // plus stragglers outside it, with sub-ms µs parts to exercise truncation
  private val baseMs = 1704844800000L // 2024-01-10T00:00:00Z
  private val rowsMicros: Seq[(Long, Long)] = (0 until 200).map { i =>
    val tsUs = (baseMs - 3600000L + i * 7200017L) * 1000L + i * 137L % 1000L
    (i.toLong, tsUs)
  }

  private def writeFlavor(dir: java.nio.file.Path, flavor: String): String = {
    import spark.implicits._
    val base = rowsMicros.toDF("event_id", "ts_us")
      .withColumn("user_id", col("event_id") % 17)
      .withColumn("event_type",
        concat(lit("evt_"), (col("event_id") % 5).cast("string")))
      .withColumn("value", (col("event_id") % 997).cast("double") / 100.0)
      .withColumn("props", lit("{}"))
    val withTs = flavor match {
      // raw ns Long, as Spark surfaces parquet TIMESTAMP(NANOS) under
      // spark.sql.legacy.parquet.nanosAsLong
      case "nslong" => base.withColumn("ts", col("ts_us") * 1000L)
      case "timestamp" =>
        base.withColumn("ts", timestamp_micros(col("ts_us")))
      case "ntz" =>
        base.withColumn("ts",
          timestamp_micros(col("ts_us")).cast(TimestampNTZType))
    }
    val out = dir.resolve(flavor)
    withTs.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(out.resolve("events.parquet").toString)
    out.toString
  }

  test("Tables.updates is identical over ns-long / TIMESTAMP / NTZ parquet") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-tsflavor")
    val dirs = Seq("nslong", "timestamp", "ntz").map(f => f -> writeFlavor(tmp, f))

    // sanity: the three files really carry three distinct Spark types
    val types = dirs.map { case (_, d) =>
      spark.read.parquet(s"$d/events.parquet").schema("ts").dataType
    }
    assert(types.head == LongType)
    assert(types(1) == TimestampType)
    assert(types(2) == TimestampNTZType)

    val outs = dirs.map { case (f, d) =>
      f -> Tables.updates(spark, d).orderBy("seq")
        .collect().map(_.toSeq).toSeq
    }
    val (refName, ref) = outs.head
    assert(ref.nonEmpty)
    for ((f, rows) <- outs.tail)
      assert(rows == ref, s"updates($f) != updates($refName)")
  }

  test("updatesInRange matches a post-hoc ms filter in every flavor " +
    "(range predicate semantics survive the flavor branch)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-tsflavor-rng")
    val lo = baseMs
    val hi = baseMs + 86400000L // one day
    for (flavor <- Seq("nslong", "timestamp", "ntz")) {
      val d = writeFlavor(tmp, flavor)
      val ranged = Tables.updatesInRange(spark, d, lo, hi)
        .orderBy("seq").collect().map(_.toSeq).toSeq
      val expected = Tables.updates(spark, d)
        .where(col("ts") >= lo && col("ts") <= hi)
        .orderBy("seq").collect().map(_.toSeq).toSeq
      assert(ranged.nonEmpty, s"$flavor: range selected no rows")
      assert(ranged == expected, s"$flavor: range scan != post-hoc filter")
    }
  }

  test("raw-Long ts at a NON-nanosecond magnitude is refused loudly at " +
      "plan time (footer-stats unit guard), never mis-scaled silently") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-tsflavor-bad")
    // a plausible driver mistake: plain int64 MICROSECONDS (no logical
    // type) — the ns interpretation would divide it 1000x wrong
    rowsMicros.toDF("event_id", "ts")
      .withColumn("event_type", lit("evt_0"))
      .withColumn("value", lit(1.0))
      .write.mode("overwrite")
      .parquet(tmp.resolve("events.parquet").toString)
    val e = intercept[IllegalArgumentException] {
      Tables.updates(spark, tmp.toString).collect()
    }
    assert(e.getMessage.contains("not a nanosecond epoch"),
      s"guard must name the failure: ${e.getMessage}")
    // and the legitimate ns-long flavor still passes the guard
    val good = writeFlavor(
      java.nio.file.Files.createTempDirectory("graft-tsflavor-good"),
      "nslong")
    assert(Tables.updates(spark, good).count() > 0)
  }

  test("a ts of any other type is refused by name, never projected") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-tsflavor-str")
    rowsMicros.toDF("event_id", "ts_us")
      .select(col("event_id"),
        timestamp_micros(col("ts_us")).cast("string").as("ts"),
        lit("evt_0").as("event_type"), lit(1.0).as("value"))
      .write.mode("overwrite")
      .parquet(tmp.resolve("events.parquet").toString)
    assert(spark.read.parquet(tmp.resolve("events.parquet").toString)
      .schema("ts").dataType === StringType)
    for (read <- Seq(
        () => Tables.updates(spark, tmp.toString),
        () => Tables.updatesInRange(spark, tmp.toString, baseMs,
          baseMs + 86400000L))) {
      val e = intercept[IllegalArgumentException](read())
      for (word <- Seq("events.ts has type string", "TIMESTAMP(NANOS)",
          "timestamp_ntz", "TIMESTAMP(MICROS) with a time zone"))
        assert(e.getMessage.contains(word), e.getMessage)
    }
  }

  test("NTZ range bounds still reach the parquet scan as PushedFilters") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-tsflavor-push")
    val d = writeFlavor(tmp, "ntz")
    val p = Tables.updatesInRange(spark, d, baseMs, baseMs + 86400000L)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("GreaterThanOrEqual(ts"),
      s"NTZ lower bound not pushed:\n$p")
    assert(p.contains("LessThan(ts"), s"NTZ upper bound not pushed:\n$p")
  }
}
