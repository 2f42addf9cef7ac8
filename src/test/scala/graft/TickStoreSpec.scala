package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.sources.{Compaction, TickStore}

/** The Hive-partitioned tick-store layout (SURVEY §1.2's
  * `symbol=/day=` mapping, VERDICT r9 #3): write → partition tree,
  * scan → plan-time pruning (files touched = one symbol's overlapping
  * days), compaction → layout preserved with disjoint per-file ts
  * ranges within each partition. */
class TickStoreSpec extends SparkSpec {

  private lazy val updates =
    Tables.updates(spark, sf("sf0.001")).localCheckpoint(true)

  private def freshStore(): String = {
    val root = Files.createTempDirectory("graft-tickstore").toString +
      "/store"
    TickStore.write(updates, root, SaveMode.Overwrite)
    root
  }

  private def rows(df: org.apache.spark.sql.DataFrame) = df
    .orderBy("symbol", "ts", "seq")
    .collect().map(_.toSeq).toSeq

  test("write/read round-trip: partition tree holds the whole table") {
    val root = freshStore()
    // the tree is symbol=<name>/day=<epochDay>/part-*
    val symbolDirs = new java.io.File(root).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(symbolDirs.exists(_.startsWith("symbol=")), symbolDirs)
    val dayDirs = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("symbol="))
      .flatMap(_.listFiles()).filter(_.isDirectory).map(_.getName)
    assert(dayDirs.nonEmpty && dayDirs.forall(_.startsWith("day=")))
    assert(rows(TickStore.read(spark, root)) === rows(updates))
    // small-file discipline: the (symbol, day) repartition before the
    // partitioned write means each leaf receives exactly ONE file per
    // write — without it, every shuffle task writes a sliver into every
    // partition dir (tasks x partitions files; at 100 TB that is the
    // difference between one file per symbol-day and millions)
    val leaves = graft.sources.Compaction
      .leafDataDirs(new java.io.File(root))
    assert(leaves.nonEmpty)
    leaves.foreach { leaf =>
      val n = leaf.listFiles().count(_.getName.endsWith(".parquet"))
      assert(n === 1, s"$leaf: $n files from a single write")
    }
  }

  test("symbol+range scan prunes partitions at PLAN time and matches " +
      "the unpartitioned filter exactly") {
    val root = freshStore()
    val symbol = "click"
    // a 3-day window in the middle of the 30-day corpus
    val lo = 1704672000000L // day 19730
    val hi = 1704931199999L // day 19732
    val scan = TickStore.scan(spark, root, symbol, lo, hi)
    // semantics: identical to the brute filter over the raw table
    val want = updates.where(col("symbol") === symbol &&
      col("ts").between(lo, hi))
    assert(rows(scan) === rows(want))
    assert(scan.count() > 0, "window must be non-empty for the gate to bite")
    // plan: both partition predicates evaluated at plan time
    val p = scan.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("PartitionFilters"), p)
    assert(p.contains("symbol#") || p.contains("(symbol"),
      s"symbol not a partition predicate:\n$p")
    // files listed: ONLY the one symbol's overlapping day dirs
    val files = spark.read.parquet(root)
      .where(col("symbol") === symbol &&
        col(TickStore.DayCol).between(
          TickStore.dayOfMs(lo), TickStore.dayOfMs(hi)))
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.nonEmpty)
    assert(files.forall(_.contains(s"symbol=$symbol/")),
      s"scan listed another symbol's files: ${files.mkString("\n")}")
    val daysTouched = files.map { f =>
      f.split("/").find(_.startsWith("day=")).get.stripPrefix("day=").toLong
    }.toSet
    assert(daysTouched.subsetOf(
      (TickStore.dayOfMs(lo) to TickStore.dayOfMs(hi)).toSet),
      s"scan touched days outside the range: $daysTouched")
    assert(daysTouched.size <= 3)
  }

  test("DTF migration bridge: reference folder -> partitioned store -> " +
      "back to .dtf, bit-exact both ways") {
    import graft.dtf.DtfCodec
    import org.apache.spark.sql.functions.col
    // a reference-style dtf_folder: one sorted .dtf file per book,
    // written by the engine's own encoder (f32-narrowed, like the
    // reference stores)
    val dtfDir = Files.createTempDirectory("graft-dtfdir").toString
    val bySym = updates.collect()
      .map(r => graft.model.Update(r.getString(0), r.getLong(1),
        r.getLong(2), r.getBoolean(3), r.getBoolean(4), r.getDouble(5),
        r.getDouble(6)))
      .groupBy(_.symbol)
    val twoBooks = bySym.view.filterKeys(Set("click", "view")).toMap
    twoBooks.foreach { case (sym, rows) =>
      DtfCodec.encode(s"$dtfDir/$sym.dtf", sym,
        rows.sortBy(u => (u.ts, u.seq)).toSeq)
    }
    // forward: folder -> partitioned store
    val root = Files.createTempDirectory("graft-mig").toString + "/store"
    TickStore.fromDtf(spark, dtfDir, root, SaveMode.Overwrite)
    val want = twoBooks.values.flatten.toSeq
      .map(u => (u.symbol, u.ts, u.seq, u.is_trade, u.is_bid,
        u.price.toFloat.toDouble, u.size.toFloat.toDouble))
      .sortBy(t => (t._1, t._2, t._3))
    val got = TickStore.read(spark, root)
      .orderBy("symbol", "ts", "seq").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getBoolean(4), r.getDouble(5), r.getDouble(6)))
      .toSeq
    assert(got === want, "migrated store differs from the dtf folder")
    // the store is genuinely partitioned (the migration kept the layout)
    assert(new java.io.File(root).listFiles()
      .exists(f => f.isDirectory && f.getName == "symbol=click"))
    // reverse: one book back to a reference-readable file, header
    // count/max_ts back-patched
    val outDtf = s"$dtfDir/roundtrip.dtf"
    val n = TickStore.toDtf(spark, root, "click", outDtf)
    val clickWant = want.filter(_._1 == "click")
    assert(n === clickWant.length.toLong)
    val meta = DtfCodec.metadata(outDtf)
    assert(meta.symbol === "click" && meta.count === n &&
      meta.maxTs === clickWant.map(_._2).max)
    val back = DtfCodec.decode(outDtf)
      .map(u => (u.symbol, u.ts, u.seq, u.is_trade, u.is_bid,
        u.price, u.size))
    assert(back.map(t => t.copy(_1 = "click")) === clickWant,
      "exported .dtf does not decode back to the book")
  }

  test("property: scan == brute filter on random ranges, day-boundary " +
      "edges included") {
    import org.apache.spark.sql.functions.col
    val root = freshStore()
    val symbols = Seq("click", "view", "error")
    val tsMin = 1704067798778L
    val tsMax = 1706657176220L
    val rnd = new scala.util.Random(7)
    val dayMs = TickStore.MsPerDay
    // random windows plus adversarial ones pinned to exact day
    // boundaries (first/last ms of a day — where closed-interval day
    // pruning must not drop rows the ts predicate keeps)
    val ranges = (0 until 8).map { _ =>
      val a = tsMin + (rnd.nextDouble() * (tsMax - tsMin)).toLong
      val b = a + (rnd.nextDouble() * 5 * dayMs).toLong
      (a, b)
    } ++ Seq(
      (TickStore.dayOfMs(tsMin + 3 * dayMs) * dayMs,
        TickStore.dayOfMs(tsMin + 5 * dayMs) * dayMs - 1), // whole days
      (TickStore.dayOfMs(tsMax) * dayMs, tsMax),           // last day
      (tsMin, tsMin))                                      // single ms
    ranges.zipWithIndex.foreach { case ((lo, hi), i) =>
      val sym = symbols(i % symbols.length)
      val got = rows(TickStore.scan(spark, root, sym, lo, hi))
      val want = rows(updates.where(col("symbol") === sym &&
        col("ts").between(lo, hi)))
      assert(got === want, s"range #$i [$lo,$hi] $sym: " +
        s"${got.length} vs ${want.length} rows")
    }
  }

  test("compactPartitioned: layout preserved, data identical, per-file " +
      "ts ranges disjoint within every partition") {
    val root = freshStore()
    // three more appends -> several files per (symbol, day) partition
    (0 until 3).foreach(_ => TickStore.write(updates, root))
    val before = rows(TickStore.read(spark, root))
    val leavesBefore = Compaction.leafDataDirs(new java.io.File(root))
      .map(_.getPath).toSet
    val multiFile = leavesBefore.count(d =>
      new java.io.File(d).listFiles().count(_.getName.endsWith(".parquet")) > 1)
    assert(multiFile > 0, "fixture must have multi-file partitions")
    // tiny target -> multiple sorted output files per leaf, so the
    // disjointness assertion below actually has file pairs to check
    val (nb, na) = Compaction.compactPartitioned(spark, root,
      targetBytes = 4096L)
    assert(na < nb, s"no compaction happened: $nb -> $na")
    // layout: same leaf set, no staging residue, tree still symbol=/day=
    val leavesAfter = Compaction.leafDataDirs(new java.io.File(root))
      .map(_.getPath).toSet
    assert(leavesAfter === leavesBefore)
    val splitLeaves = leavesAfter.count(d => new java.io.File(d).listFiles()
      .count(_.getName.endsWith(".parquet")) >= 2)
    assert(splitLeaves > 0, "no leaf compacted into two or more files: " +
      "the disjointness check below would check nothing")
    val residue = new java.io.File(root).getParentFile.listFiles()
      .map(_.getName).filter(n => n.contains(".stage_") ||
        n.endsWith(".compact") || n.endsWith(".old"))
    assert(residue.isEmpty, residue.mkString(", "))
    // data: every row kept, fourfold as written
    val after = rows(TickStore.read(spark, root))
    assert(after.length === before.length)
    assert(after === before)
    // pruning contract: per-file (min_ts, max_ts) disjoint inside each
    // partition dir
    leavesAfter.foreach { leaf =>
      val ranges = Compaction.fileTsRanges(spark, leaf)
        .orderBy("min_ts").collect()
        .map(r => (r.getLong(1), r.getLong(2)))
      ranges.sliding(2).foreach {
        case Array((_, hi1), (lo2, _)) =>
          assert(hi1 <= lo2, s"$leaf: overlapping file ranges " +
            s"$hi1 > $lo2 after compaction")
        case _ =>
      }
    }
  }

  test("a numeric-looking symbol reads and scans back as the String " +
      "it was written as") {
    val root = Files.createTempDirectory("graft-tickstore-num").toString +
      "/store"
    val t0 = 1704672000000L
    val written = Seq("0001", "0001", "0002", "7").zipWithIndex.map {
      case (sym, i) => graft.model.Update(sym, t0 + i * 1000L, i.toLong,
        is_trade = i % 2 == 0, is_bid = true, 1.5 + i, 2.0)
    }
    TickStore.write(updatesDf(written), root)
    val read = TickStore.read(spark, root)
    assert(read.schema("symbol").dataType ===
      org.apache.spark.sql.types.StringType, read.schema)
    assert(rows(read) === written.map(u => Seq(u.symbol, u.ts, u.seq,
      u.is_trade, u.is_bid, u.price, u.size)))
    val scan = TickStore.scan(spark, root, "0001", t0, t0 + 5000L)
    assert(scan.collect().map(r => (r.getString(0), r.getLong(1))).toSet ===
      Set("0001" -> t0, "0001" -> (t0 + 1000L)))
  }

  test("read and scan plan without a Spark job; write rejects Update " +
      "columns of the wrong type by name") {
    val root = freshStore()
    val (_, jobs) = jobsDuring {
      TickStore.read(spark, root)
      TickStore.scan(spark, root, "click", 1704672000000L, 1704931199999L)
    }
    assert(jobs.isEmpty, s"planning ran jobs: $jobs")
    val bad = updates.withColumn("price", col("price").cast("float"))
      .withColumn("seq", col("seq").cast("int"))
    val ex = intercept[IllegalArgumentException] {
      TickStore.write(bad, root + "-bad")
    }
    assert(ex.getMessage.contains("seq is int, want bigint") &&
      ex.getMessage.contains("price is float, want double"), ex.getMessage)
    assert(!new java.io.File(root + "-bad").exists())
  }
}
