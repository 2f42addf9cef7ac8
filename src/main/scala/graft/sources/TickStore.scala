package graft.sources

import org.apache.parquet.column.ParquetProperties.WriterVersion
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.model.Update

/** Hive-partitioned physical layout for the tick store — SURVEY §1.2's
  * mapping made literal: `root/symbol=<book>/day=<epochDay>/part-*`.
  *
  * The reference prunes at FILE level: every `.dtf` file carries
  * `(symbol, min_ts, max_ts)` in its header and a range scan skips
  * non-overlapping files before opening them
  * (`file_format.rs:848-864`, overlap test `utils.rs:34-36`). Here the
  * directory tree IS that metadata, evaluated at PLAN time: a
  * symbol+range query lists only one `symbol=` directory and only the
  * `day=` directories its range can overlap (Spark PartitionFilters —
  * no file outside them is even statted), while the exact ts bounds
  * remain parquet footer pushdown that prunes row groups inside the
  * surviving files. At 100 TB this is the difference between listing a
  * symbol-day's worth of files and listing the store.
  *
  * The day partition value is a tz-free epoch-day Long
  * (`floorDiv(ts_ms, 86400000)`) — no calendar or DST arithmetic, and
  * a ms range maps exactly onto the closed day interval
  * `[dayOfMs(lo), dayOfMs(hi)]`, so day pruning can never drop a row
  * the ts predicate would keep.
  */
object TickStore {
  val MsPerDay = 86400000L
  val DayCol = "day"

  /** The schema every read of a `day=`-partitioned tree plans with:
    * [[Update.schema]] plus `day: Long`. A store root and an engine book
    * dir with `day=` leaves both read with it (in the store `symbol` and
    * `day` are partition columns, in a book dir only `day` is), so no read
    * runs a Spark job to infer what the writer already fixed, and a
    * numeric-looking partition value (`symbol=0001`) stays a String. A
    * book dir with no `day=` leaf reads with [[Update.schema]] alone. */
  val PartitionedSchema: StructType = Update.schema.add(DayCol, LongType)

  /** The encoding of every tick file, defined once for the three tick
    * writers: [[graft.server.FlushWriter]] sets it on its builder,
    * [[Compaction]] and [[write]] pass [[options]] to their Spark
    * writes. Those set keys override whatever the session's Hadoop conf
    * says, so no session conf changes a tick file's encoding, while
    * every other parquet write in the session keeps its own defaults.
    *
    * v2 data pages, with `ts` and `seq` out of the dictionary, so both
    * are written DELTA_BINARY_PACKED: (ts, seq)-sorted ticks differ by
    * a few ms and a few seq steps, the deltas DTF stores as u16 dts and
    * u8 dseq (`file_format.rs:26`), where v1 pages store 8 plain bytes
    * each. v2 pages also RLE-encode the two booleans; `price` and `size`
    * keep their dictionaries. The codec is not part of it: it stays the
    * session's `spark.sql.parquet.compression.codec`. Every reader reads
    * it unchanged: Spark's vectorized scan, the parquet-hadoop reader of
    * [[graft.server.BookFileReader]], and the footer `ts` statistics. */
  object FileEncoding {
    val Writer: WriterVersion = WriterVersion.PARQUET_2_0
    /** Dictionary encoding on or off, per column. */
    val Dictionary: Seq[(String, Boolean)] =
      Seq("ts" -> false, "seq" -> false, "price" -> true, "size" -> true)
    /** The same, as parquet-hadoop's writer keys for a Spark write's
      * `.options(...)`. */
    val options: Map[String, String] =
      Dictionary.map { case (c, on) =>
        s"${ParquetOutputFormat.ENABLE_DICTIONARY}#$c" -> on.toString
      }.toMap + (ParquetOutputFormat.WRITER_VERSION -> Writer.name)
  }

  /** Epoch day of a ms timestamp (floor division — exact for negatives
    * too, matching [[dayOf]]'s floor). */
  def dayOfMs(tsMs: Long): Long = Math.floorDiv(tsMs, MsPerDay)

  /** Epoch-day column of a ms Long `ts` column. Double-precision floor
    * division is exact here: epoch-ms magnitudes (~1.5e12) are far
    * below 2^53. */
  def dayOf(ts: Column): Column =
    floor(ts / lit(MsPerDay.toDouble)).cast("long")

  /** Write an updates DataFrame (the [[graft.model.Update]] schema)
    * into the partitioned layout. One shuffle on (symbol, day) so each
    * partition directory receives whole sorted files rather than a
    * sliver from every input task; rows are (ts, seq)-sorted within
    * each file so parquet row-group stats stay tight for the residual
    * ts pushdown. The files are written in [[FileEncoding]]. */
  def write(updates: DataFrame, root: String,
      mode: SaveMode = SaveMode.Append): Unit = {
    val need = Update.schema.fieldNames.toSet
    val missing = need -- updates.columns.toSet
    require(missing.isEmpty,
      s"TickStore.write: input is missing Update columns " +
        s"${missing.toSeq.sorted.mkString(", ")} " +
        s"(got: ${updates.columns.mkString(", ")})")
    // reads plan from PartitionedSchema, so a file of any other type
    // would fail every later read of the store
    val wrongType = Update.schema.fields.toSeq.flatMap { f =>
      val got = updates.schema(f.name).dataType
      if (got == f.dataType) None
      else Some(s"${f.name} is ${got.simpleString}, " +
        s"want ${f.dataType.simpleString}")
    }
    require(wrongType.isEmpty,
      s"TickStore.write: Update columns of the wrong type: " +
        wrongType.mkString(", "))
    updates
      .withColumn(DayCol, dayOf(col("ts")))
      .repartition(col("symbol"), col(DayCol))
      .sortWithinPartitions("ts", "seq")
      .write.options(FileEncoding.options).mode(mode)
      .partitionBy("symbol", DayCol).parquet(root)
  }

  /** The whole store, with the partition columns folded back into the
    * canonical Update column order.
    *
    * Planned from [[PartitionedSchema]], not inferred: a store root holds
    * only files [[write]] put there (and compaction rewrote), whose data
    * columns are the Update columns without `symbol`, and the `symbol=` /
    * `day=` directory names supply the rest. Inference would cost a Spark
    * job per read and would type a numeric-looking symbol as an integer. */
  def read(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(PartitionedSchema).parquet(root)
      .select(Update.schema.fieldNames.map(col).toIndexedSeq: _*)

  /** MIGRATION bridge, reference → Spark: read an entire tdb
    * `dtf_folder` through the DSv2 "dtf" source (file-parallel decode,
    * ts pushdown at the header level) and lay it out as this
    * partitioned store. The one-call switch path for a reference user:
    * point it at the live folder, get a store every Spark operator
    * scans with symbol/day pruning. */
  def fromDtf(spark: SparkSession, dtfFolder: String, root: String,
      mode: SaveMode = SaveMode.Append): Unit =
    write(spark.read.format("dtf").load(dtfFolder), root, mode)

  /** MIGRATION bridge, Spark → reference: export one symbol back to a
    * reference-readable `.dtf` file (hand a book to a running
    * tdb-server deployment). The symbol's rows stream to the local
    * encoder in (ts, seq) order via `toLocalIterator` — one partition
    * in memory at a time, with [[graft.dtf.DtfCodec.encodeStream]]'s
    * back-patched header — so a book larger than driver memory still
    * exports. Prices/sizes narrow to f32, the reference's own storage
    * width. Returns the exported row count. */
  def toDtf(spark: SparkSession, root: String, symbol: String,
      outPath: String): Long = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Encoders
    val rows = read(spark, root)
      .where(col("symbol") === symbol)
      .orderBy("ts", "seq")
      .as[graft.model.Update](Encoders.product[graft.model.Update])
      .toLocalIterator().asScala
    graft.dtf.DtfCodec.encodeStream(outPath, symbol, rows)._1
  }

  /** Symbol + inclusive ms-range scan with BOTH prunings: the symbol
    * equality and the derived day interval are partition-directory
    * predicates (plan-time pruning — `PartitionFilters` in the explain,
    * only one symbol's overlapping days are listed); the exact ts
    * bounds remain data predicates pushed to the parquet footers of
    * the surviving files. Planned from [[PartitionedSchema]] like
    * [[read]]. */
  def scan(spark: SparkSession, root: String, symbol: String,
      loMs: Long, hiMs: Long): DataFrame =
    spark.read.schema(PartitionedSchema).parquet(root)
      .where(col("symbol") === symbol &&
        col(DayCol).between(dayOfMs(loMs), dayOfMs(hiMs)) &&
        col("ts").between(loMs, hiMs))
      .select(Update.schema.fieldNames.map(col).toIndexedSeq: _*)
}
