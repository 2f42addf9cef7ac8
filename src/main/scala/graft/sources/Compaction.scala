package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction for append-heavy tick stores.
  *
  * The Engine's FLUSH path (like the reference's append,
  * `file_format.rs:783-819`) writes one file per flush; a long-running
  * ingest leaves thousands of KB-sized parquet files, and at 100 TB the
  * scan's task-per-file scheduling and footer reads dominate query time.
  * Compaction rewrites a book directory into ~`targetBytes` files, each
  * internally sorted by (ts, seq) so parquet row-group min/max stats keep
  * the S3/S4 range-scan pruning exact.
  *
  * Scale shape: a single `repartitionByRange(ts, seq)` pass — ranges come
  * from a distributed sample (no driver materialization), writers stream
  * one sorted partition each, and the ts-range file layout preserves the
  * reference's time-partitioned-file property (SURVEY S4) so header-stat
  * pruning still skips whole files.
  *
  * Every file compaction and migration write is in
  * [[TickStore.FileEncoding]], the encoding the flush and the store
  * writer use, whatever encoding the input files had.
  */
object Compaction {

  /** Rewrite `dir` (a parquet directory) into ≈`targetBytes` files.
    * Returns (files before, files after). The number of output files is
    * sized from the input files' bytes, so a leaf of files in another
    * encoding compacts into files of another size: v1-page files, whose
    * `ts` and `seq` are plain 8-byte longs, compact into
    * [[TickStore.FileEncoding]] files of about half of `targetBytes`.
    *
    * Safety properties:
    *  - the input set is PINNED to the files listed at entry (read by
    *    explicit path) — a flush that appends a new file mid-compaction
    *    is neither folded in nor deleted, so no row duplicates or loses;
    *  - the swap parks originals in `dir + ".old"` (per-file rename,
    *    no data copy) BEFORE moving compacted files in, so every byte is
    *    on disk in one of the three directories at every instant; a crash
    *    leaves either the originals (possibly parked — restore by moving
    *    `.old` back) or the completed swap. The `.old` staging dir is
    *    removed last.
    * Single-writer assumption as elsewhere in the engine: one compactor
    * at a time per book (the Engine lock provides this).
    *
    * Reader exclusion: the rename swap is NOT atomic — a reader listing
    * the directory mid-swap would see a partial book. `swapLock` must
    * exclude the readers scanning this directory; for the server path
    * that is the WRITE side of `Engine.swapGate`
    * ([[graft.server.Engine.compactBook]] passes it; Wire holds the READ
    * side from GET execution through row materialization), so the swap
    * waits for in-flight reads instead of readers serializing the whole
    * engine. The expensive Spark rewrite runs OUTSIDE the lock; only the
    * O(files) rename sequence holds it. Standalone callers with no
    * concurrent readers may omit it. */
  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L << 20,
      swapLock: java.util.concurrent.locks.Lock =
        new java.util.concurrent.locks.ReentrantLock(),
      stagingBase: Option[String] = None): (Int, Int) = {
    val src = new java.io.File(dir)
    def parquetFiles(d: java.io.File): Array[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".parquet") && f.isFile)
    val before = parquetFiles(src)
    if (before.isEmpty) return (0, 0)
    val totalBytes = before.map(_.length()).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)

    // staging dirs default to siblings of `dir`; a PARTITIONED store
    // must stage outside its partition tree instead (a `day=X.compact`
    // sibling inside `symbol=Y/` would be read as a malformed partition
    // value by any concurrent partition discovery of the store) —
    // compactPartitioned passes the store-level base for that
    val tmp = stagingBase.map(_ + ".compact").getOrElse(dir + ".compact")
    // read EXACTLY the pinned file set — not the directory, which may
    // gain files from concurrent flushes while the job runs
    spark.read.parquet(before.map(_.getPath).toIndexedSeq: _*)
      .repartitionByRange(nOut, col("ts"), col("seq"))
      .sortWithinPartitions("ts", "seq")
      .write.options(TickStore.FileEncoding.options)
      .mode(SaveMode.Overwrite).parquet(tmp)

    // swap: park pinned originals aside, move compacted files in —
    // under the reader-exclusion lock, so no scan ever lists a
    // partially-swapped directory
    val old = new java.io.File(
      stagingBase.map(_ + ".old").getOrElse(dir + ".old"))
    swapLock.lock()
    val moved =
      try {
        old.mkdirs()
        before.foreach { f =>
          java.nio.file.Files.move(f.toPath,
            new java.io.File(old, f.getName).toPath)
        }
        val compacted = parquetFiles(new java.io.File(tmp))
        compacted.foreach { f =>
          java.nio.file.Files.move(f.toPath,
            new java.io.File(src, f.getName).toPath)
        }
        compacted
      } finally swapLock.unlock()
    // cleanup outside the lock: readers never list .compact or .old
    deleteRecursively(new java.io.File(tmp))
    deleteRecursively(old)
    (before.length, moved.length)
  }

  private def isStaging(d: java.io.File): Boolean =
    d.getName.endsWith(".compact") || d.getName.endsWith(".old") ||
      d.getName.endsWith(".migrate") || d.getName == "_temporary"

  /** Names [[compact]]/[[compactPartitioned]]/[[migrateFlatToPartitioned]]
    * may create as SIBLINGS of a store/book dir — directory listings that
    * enumerate books (metrics sweeps, folder walks) must skip these or a
    * sweep concurrent with a rewrite reports phantom books. */
  def isStagingName(name: String): Boolean =
    name.contains(".stage_") || name.endsWith(".compact") ||
      name.endsWith(".old") || name.endsWith(".migrate") ||
      name == "_temporary"

  /** Migrate LEGACY root-level parquet files of `root` (flat flushes
    * written before the `day=` layout existed) into the `day=<epochDay>`
    * partition tree. A mixed dir is a data-loss trap for naive readers:
    * Spark's partition discovery silently ignores root-level files once
    * any `day=` subdir exists. The Engine reads such dirs correctly by
    * unioning root files explicitly, but only migration restores
    * plan-time day pruning and removes the trap for external readers.
    *
    * Same pinning/staging/swap discipline as [[compact]]: the pinned
    * root file set is rewritten (day-partitioned, sorted by ts,seq)
    * into `root + ".migrate"` OUTSIDE the lock; the per-file rename
    * swap (park originals in `root + ".old"`, move staged files into
    * their `day=` dirs — which may already exist and keep their files)
    * holds `swapLock`. Migrated files can overlap existing files' ts
    * ranges within a day — callers wanting the disjoint-range pruning
    * contract should run [[compactPartitioned]] right after, as
    * `Engine.compactBook` does. Returns the number of files migrated. */
  def migrateFlatToPartitioned(spark: SparkSession, root: String,
      swapLock: java.util.concurrent.locks.Lock =
        new java.util.concurrent.locks.ReentrantLock()): Int = {
    val rootF = new java.io.File(root)
    val pinned = Option(rootF.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    if (pinned.isEmpty) return 0
    val tmp = new java.io.File(root + ".migrate")
    spark.read.parquet(pinned.map(_.getPath).toIndexedSeq: _*)
      .withColumn(TickStore.DayCol, TickStore.dayOf(col("ts")))
      .repartition(col(TickStore.DayCol))
      .sortWithinPartitions("ts", "seq")
      .write.options(TickStore.FileEncoding.options)
      .mode(SaveMode.Overwrite)
      .partitionBy(TickStore.DayCol).parquet(tmp.getPath)
    val old = new java.io.File(root + ".old")
    swapLock.lock()
    try {
      old.mkdirs()
      pinned.foreach { f =>
        java.nio.file.Files.move(f.toPath,
          new java.io.File(old, f.getName).toPath)
      }
      // stale flat-write sidecars (_SUCCESS, .crc) serve nothing once
      // their data files are parked — drop them so the root is clean
      Option(rootF.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile &&
          (f.getName == "_SUCCESS" || f.getName.endsWith(".crc")))
        .foreach(_.delete())
      Option(tmp.listFiles()).getOrElse(Array.empty)
        .filter(d => d.isDirectory &&
          d.getName.startsWith(TickStore.DayCol + "="))
        .foreach { dayDir =>
          val dest = new java.io.File(rootF, dayDir.getName)
          dest.mkdirs()
          Option(dayDir.listFiles()).getOrElse(Array.empty)
            .filter(f => f.isFile && f.getName.endsWith(".parquet"))
            .foreach { f =>
              java.nio.file.Files.move(f.toPath,
                new java.io.File(dest, f.getName).toPath)
            }
        }
    } finally swapLock.unlock()
    deleteRecursively(tmp)
    deleteRecursively(old)
    pinned.length
  }

  /** Leaf data directories of a (possibly Hive-partitioned) store:
    * every directory under `root` (root included) that directly
    * contains parquet files. Staging dirs are never descended into. */
  def leafDataDirs(root: java.io.File): Seq[java.io.File] =
    if (!root.isDirectory || isStaging(root)) Seq.empty
    else {
      val kids = Option(root.listFiles()).getOrElse(Array.empty)
      val here =
        if (kids.exists(f => f.isFile && f.getName.endsWith(".parquet")))
          Seq(root)
        else Seq.empty
      here ++ kids.filter(_.isDirectory).toSeq.flatMap(leafDataDirs)
    }

  /** [[compact]] over a Hive-partitioned store ([[TickStore]]'s
    * `symbol=/day=` layout, or the Engine's `book=<name>/day=` dirs):
    * each leaf partition directory compacts independently and
    * sequentially, so per-file ts ranges stay DISJOINT within every
    * partition — the pruning contract — and the partition tree itself
    * is untouched. Staging lives OUTSIDE the tree (siblings of `root`,
    * one per leaf), so concurrent partition discovery never sees a
    * malformed `day=...compact` entry. Same single-compactor and
    * reader-exclusion contracts as [[compact]]. Returns summed
    * (files before, files after). */
  def compactPartitioned(spark: SparkSession, root: String,
      targetBytes: Long = 128L << 20,
      swapLock: java.util.concurrent.locks.Lock =
        new java.util.concurrent.locks.ReentrantLock()): (Int, Int) = {
    val rootF = new java.io.File(root)
    val rootPath = rootF.toPath
    leafDataDirs(rootF).foldLeft((0, 0)) { case ((b, a), leaf) =>
      val rel =
        if (leaf == rootF) "root"
        else rootPath.relativize(leaf.toPath).toString
          .replace(java.io.File.separatorChar, '_').replace('/', '_')
      val (db, da) = compact(spark, leaf.getPath, targetBytes, swapLock,
        stagingBase = Some(s"$root.stage_$rel"))
      (b + db, a + da)
    }
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  /** The scan-side pruning contract compaction must preserve: per-file
    * (min ts, max ts) ranges are disjoint after a range-partitioned
    * rewrite, so a ts-predicate scan opens only overlapping files. */
  def fileTsRanges(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"),
        count(lit(1)).as("rows"))
}
