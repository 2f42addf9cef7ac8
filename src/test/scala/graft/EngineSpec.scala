package graft

import java.nio.file.Files

import graft.operators.Orderbook
import graft.server._

/** Server state-machine goldens ported from `handler.rs:197-260` and
  * `parser.rs:125-206`. */
class EngineSpec extends SparkSpec {

  private def engine() =
    new Engine(spark, Files.createTempDirectory("graft-db").toString)

  test("command parsing goldens (parser.rs:125-206)") {
    import Command._
    assert(CommandParser.parse("PING") === Ping)
    assert(CommandParser.parse("") === Noop)
    assert(CommandParser.parse("COUNT ALL IN MEM") ===
      Count(ReqCount.All, Loc.Mem))
    assert(CommandParser.parse("GET 20 FROM 100 TO 200 AS CSV") ===
      Get(ReqCount.N(20), GetFormat.Csv, Some((100000L, 200000L)), Loc.Fs))
    assert(CommandParser.parse("GET ALL AS JSON") ===
      Get(ReqCount.All, GetFormat.Json, None, Loc.Mem))
    // parse_line golden: ms normalization drops the decimal point
    val up = CommandParser
      .parseLine("1505177459.658, 139010, t, f, 0.0703629, 7.65064249;").get
    assert(up.ts === 1505177459658L)
    assert(up.seq === 139010L)
    assert(up.is_trade)
    assert(!up.is_bid)
    assert(up.price === 0.0703629f.toDouble)
    assert(up.size === 7.65064249f.toDouble)
    // malformed: double bools / missing fields -> None
    assert(CommandParser
      .parseLine("1505177459.658, 139010,,, f, t, 0.0703629, 7.65064249;")
      .isEmpty)
    // second-resolution epochs normalize to 13 digits
    assert(CommandParser.parseLine("1505177459, 139010, t, f, 0.1, 1.0;")
      .get.ts === 1505177459000L)
  }

  test("server state machine (handler.rs:214-260)") {
    val e = engine()
    assert(e.execute(Command.Ping) === e.Text("PONG"))
    // insert into missing db errors
    val bad = e.execute(CommandParser.parse(
      "ADD 1505177459.658, 139010, t, f, 0.0703629, 7.65064249; INTO nodb"))
    assert(bad === e.Err("DB nodb not found."))
    // create + insert + count
    assert(e.execute(CommandParser.parse("CREATE mydb")) ===
      e.Text("Created orderbook `mydb`."))
    e.execute(CommandParser.parse(
      "ADD 1505177459.658, 139010, t, f, 0.0703629, 7.65064249; INTO mydb"))
    e.execute(CommandParser.parse(
      "ADD 1505177460.658, 139011, f, t, 0.0703630, 1.0; INTO mydb"))
    assert(e.execute(CommandParser.parse("COUNT IN MEM")) === e.Text("2"))
    // flush then count from fs
    e.execute(CommandParser.parse("FLUSH"))
    assert(e.execute(CommandParser.parse("COUNT IN MEM")) === e.Text("0"))
    assert(e.execute(CommandParser.parse("COUNT")) === e.Text("2"))
    // GET ALL returns both rows, sorted
    val got = e.execute(CommandParser.parse("GET ALL FROM 1505177459 TO 1505177461"))
    val rows = got.asInstanceOf[e.Frame].df.collect()
    assert(rows.length === 2)
    // EXISTS / USE
    assert(e.execute(CommandParser.parse("EXISTS mydb")) === e.Text("1"))
    assert(e.execute(CommandParser.parse("EXISTS ghost")) ===
      e.Err("No db named `ghost`"))
  }

  test("subscribe receives inserted updates") {
    val e = engine()
    e.execute(CommandParser.parse("CREATE s1"))
    e.execute(CommandParser.parse("SUBSCRIBE s1"))
    e.execute(CommandParser.parse(
      "ADD 1505177459.658, 1, t, f, 1.0, 2.0; INTO s1"))
    val got = e.drainSubscription("s1")
    assert(got.map(_.seq) === Seq(1L))
    assert(e.drainSubscription("s1").isEmpty)
  }

  test("INFO carries the reference meta + dbs shape (state.rs:377-435)") {
    val e = engine()
    e.execute(CommandParser.parse("CREATE infodb"))
    e.execute(CommandParser.parse("ADD 1505177459.658, 1, t, f, 1.0, 2.0;"))
    def info(): String = e.execute(CommandParser.parse("INFO")) match {
      case e.Text(t) => t
      case other => fail(s"unexpected: $other")
    }
    val out = info()
    assert(out.contains("\"meta\": {\n    \"clis\": 0"), out)
    assert(out.contains("\"total_in_memory_count\": 1"), out)
    assert(out.contains("\"name\": \"infodb\",\n    \"in_memory\": 1,\n    \"count\": 1"), out)
    // CLEAR drops staging but not the lifetime nominal count
    e.execute(CommandParser.parse("CLEAR"))
    val out2 = info()
    assert(out2.contains("\"name\": \"infodb\",\n    \"in_memory\": 0,\n    \"count\": 1"), out2)
    assert(out2.contains("\"total_count\": 1"), out2)
  }

  test("autoflush flushes a book at flush_interval inserts (state.rs:130-140)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-af").toString
    val e = new graft.server.Engine(spark, dir, autoflush = true,
      flushInterval = 5L)
    e.execute(CommandParser.parse("CREATE afdb"))
    e.execute(CommandParser.parse("USE afdb"))
    (1 to 5).foreach(i => e.execute(CommandParser.parse(
      s"ADD 150517745$i.000, $i, t, f, 1.0, 2.0;")))
    // 5th insert crossed the interval: staging flushed to parquet
    val fs = spark.read.parquet(s"$dir/book=afdb")
    assert(fs.count() === 5)
    val out = e.execute(CommandParser.parse("INFO")) match {
      case e.Text(t) => t
      case other => fail(s"unexpected: $other")
    }
    assert(out.contains("\"in_memory\": 0"), out)
    assert(out.contains("\"autoflush_enabled\": true"), out)
    assert(out.contains("\"autoflush_interval\": 5"), out)
  }

  test("CLEAR resets nominal count from disk (state.rs:562-579,112-118)") {
    val e = engine()
    e.execute(CommandParser.parse("CREATE cleardb"))
    e.execute(CommandParser.parse("USE cleardb"))
    e.execute(CommandParser.parse("ADD 1505177459.658, 1, t, f, 1.0, 2.0;"))
    e.execute(CommandParser.parse("ADD 1505177459.659, 2, t, f, 1.0, 2.0;"))
    e.execute(CommandParser.parse("FLUSH"))
    // third insert bumps lifetime nominal to 3, but never reaches disk
    // before CLEAR; the reference's clear() -> load_size_from_file resets
    // the count to the stored size (2), not the lifetime count
    e.execute(CommandParser.parse("ADD 1505177459.100, 3, t, f, 1.0, 2.0;"))
    e.execute(CommandParser.parse("CLEAR"))
    val out = e.execute(CommandParser.parse("INFO")) match {
      case e.Text(t) => t
      case other => fail(s"unexpected: $other")
    }
    assert(out.contains("\"name\": \"cleardb\",\n    \"in_memory\": 0,\n    \"count\": 2"), out)
  }

  test("PERF ring-buffer history (A11, state.rs:193-203,338-360)") {
    val e = engine()
    e.execute(CommandParser.parse("CREATE hist_db"))
    e.execute(CommandParser.parse("USE hist_db"))
    e.execute(CommandParser.parse("ADD 1505177459.658, 1, t, f, 1.0, 2.0;"))
    e.recordHistory(1000L)
    e.execute(CommandParser.parse("ADD 1505177459.659, 2, t, f, 1.0, 2.0;"))
    e.recordHistory(2000L)
    val out = e.execute(CommandParser.parse("PERF")) match {
      case e.Text(t) => t
      case other => fail(s"unexpected: $other")
    }
    // reference PERF shape (state.rs:444-460): array of one-key objects,
    // second-granular keys, ", " joins
    assert(out.contains("""{"hist_db": {"1":1, "2":2}}"""), out)
    assert(out.trim.startsWith("[") && out.trim.endsWith("]"), out)
    // ring buffer caps at historyCapacity entries
    (0 until e.historyCapacity + 50).foreach(i => e.recordHistory(3000L + i))
    val out2 = e.execute(CommandParser.parse("PERF")) match {
      case e.Text(t) => t
      case other => fail(s"unexpected: $other")
    }
    val entries = out2.split("hist_db").last.count(_ == ':') - 1
    assert(entries <= e.historyCapacity + 1, s"ring not bounded: $entries")
  }

  test("flush writes day= partition dirs; cross-day ranged GET and " +
      "compaction preserve the layout (VERDICT r9 #3)") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-daypart").toString
    val e = new Engine(spark, dir)
    e.execute(CommandParser.parse("CREATE dp"))
    e.execute(CommandParser.parse("USE dp"))
    // two flushes spanning four calendar days (86400 s apart). Flush
    // freshness (S6) only keeps ts > stored max, so the second flush
    // continues INSIDE day 2 (the multi-flush-per-day case that gives a
    // day partition several files) and opens day 3.
    for (d <- 0 until 3; i <- 0 until 4) {
      val ts = 1505177459.0 + d * 86400 + i
      e.execute(CommandParser.parse(
        f"ADD $ts%.3f, ${d * 10 + i}, t, f, 1.0, 2.0;"))
    }
    e.execute(CommandParser.parse("FLUSH"))
    for ((d, i) <- Seq((2, 4), (2, 5), (3, 0), (3, 1))) {
      val ts = 1505177459.0 + d * 86400 + i
      e.execute(CommandParser.parse(
        f"ADD $ts%.3f, ${d * 10 + i}, t, f, 1.0, 2.0;"))
    }
    e.execute(CommandParser.parse("FLUSH"))
    // layout: book dir contains day= partition dirs, one per day
    val bookDir = new java.io.File(s"$dir/book=dp")
    val dayDirs = bookDir.listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("day=")).sorted
    assert(dayDirs.length === 4, dayDirs.mkString(", "))
    // ranged GET crossing a day boundary: day pruning must not lose
    // boundary rows (inclusive bounds, day interval closed)
    val lo = 1505177459000L + 86400000L // first row of day 2
    val hi = lo + 86400000L + 5000L     // into day 3
    val got = e.execute(CommandParser.parse(
      s"GET ALL FROM ${lo / 1000} TO ${hi / 1000} AS CSV")) match {
      case e.Frame(df, _, _) => df.count()
      case other => fail(s"unexpected: $other")
    }
    val want = e.bookDf("dp")
      .where(col("ts").between(lo / 1000 * 1000, hi / 1000 * 1000))
      .count()
    assert(got === want && got > 0, s"ranged GET: $got vs $want")
    // compaction: per-day leaves compacted in place, layout unchanged,
    // counts identical
    val total = e.bookDf("dp").count()
    val (nb, na) = e.compactBook("dp", targetBytes = 128L << 20)
    assert(nb === 5 && na === 4, s"compaction: $nb -> $na")
    val dayDirs2 = bookDir.listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("day=")).sorted
    assert(dayDirs2.toSeq === dayDirs.toSeq)
    assert(e.bookDf("dp").count() === total)
    assert(!bookDir.getParentFile.listFiles().exists(f =>
      f.getName.contains(".stage_")), "staging residue left behind")
  }

  test("mixed flat/day= layout: legacy rows survive post-upgrade " +
      "flushes and compactBook migrates them (ADVICE r10 high)") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-legacy").toString
    val e = new Engine(spark, dir)
    // emulate the PRE-day= flush path: flat parquet at the book root
    val legacy = (0 until 6).map(i =>
      graft.model.Update("leg", 1505177459000L + i * 1000, i.toLong,
        is_trade = true, is_bid = false, 1.0 + i, 2.0))
    spark.createDataset(legacy)(
        org.apache.spark.sql.Encoders.product[graft.model.Update])
      .toDF().write.mode("append").parquet(s"$dir/book=leg")
    // pure-flat dirs read as before
    e.execute(CommandParser.parse("CREATE leg"))
    e.execute(CommandParser.parse("USE leg"))
    assert(e.execute(CommandParser.parse("COUNT")) === e.Text("6"))
    // post-upgrade flush creates day= dirs next to the flat files; the
    // union read must keep BOTH (naive partition discovery would
    // silently drop all 6 legacy rows)
    e.execute(CommandParser.parse(
      "ADD 1505177470.000, 100, t, f, 9.0, 1.0;"))
    e.execute(CommandParser.parse(
      "ADD 1505263870.000, 101, t, f, 9.5, 1.0;")) // next day
    e.execute(CommandParser.parse("FLUSH"))
    val bookDir = new java.io.File(s"$dir/book=leg")
    assert(bookDir.listFiles().exists(f =>
      f.isFile && f.getName.endsWith(".parquet")), "flat files gone")
    assert(bookDir.listFiles().exists(f =>
      f.isDirectory && f.getName.startsWith("day=")), "no day= dirs")
    assert(e.execute(CommandParser.parse("COUNT")) === e.Text("8"))
    // ranged GET over the legacy span (fsDfInRange union path)
    e.execute(CommandParser.parse("GET ALL FROM 1505177459 TO 1505177465 AS CSV")) match {
      case e.Frame(df, _, _) => assert(df.count() === 6)
      case other => fail(s"unexpected: $other")
    }
    // compactBook migrates the flat files into the day= tree for good
    e.compactBook("leg")
    assert(!bookDir.listFiles().exists(f =>
      f.isFile && f.getName.endsWith(".parquet")),
      "flat files not migrated")
    assert(e.execute(CommandParser.parse("COUNT")) === e.Text("8"))
    assert(e.bookDf("leg").where(col("ts") < 1505177470000L).count() === 6)
    // no staging residue ('book=leg.migrate'/'.old'/'.stage_*')
    assert(!new java.io.File(dir).listFiles().exists(f =>
      graft.sources.Compaction.isStagingName(f.getName)),
      "migration staging residue left behind")
  }

  test("auto-compaction bounds leaf file counts under sustained flushes " +
      "(VERDICT r10 #2)") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-autocompact").toString
    val e = new Engine(spark, dir, autoCompact = true,
      compactMaxLeafFiles = 3)
    e.execute(CommandParser.parse("CREATE ac"))
    e.execute(CommandParser.parse("USE ac"))
    val bookDir = new java.io.File(s"$dir/book=ac")
    def leafCounts(): Seq[Int] =
      graft.sources.Compaction.leafDataDirs(bookDir).map(l =>
        l.listFiles().count(f =>
          f.isFile && f.getName.endsWith(".parquet")))
    // 12 flushes into the SAME day: one file per flush without
    // compaction; the policy (>3 files in a leaf) must keep pruning
    var seq = 0
    for (round <- 0 until 12) {
      for (i <- 0 until 3) {
        val ts = 1505177459.0 + round * 10 + i
        e.execute(CommandParser.parse(
          f"ADD $ts%.3f, $seq%d, t, f, 1.0, 2.0;"))
        seq += 1
      }
      e.execute(CommandParser.parse("FLUSH"))
    }
    e.awaitAutoCompaction()
    val counts = leafCounts()
    // the last flush may land after the final rewrite, hence bound + 1
    assert(counts.nonEmpty && counts.forall(_ <= 4),
      s"leaf file counts not bounded: ${counts.mkString(", ")}")
    // GETs stay green across rewrites: every row present, exactly once
    assert(e.execute(CommandParser.parse("COUNT")) === e.Text("36"))
    assert(e.bookDf("ac").select("seq").distinct().count() === 36)
    // the compaction pruning contract holds: per-file ts ranges disjoint
    val ranges = graft.sources.Compaction
      .fileTsRanges(spark, bookDir.getPath)
      .orderBy(col("min_ts")).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"overlapping file ts ranges: ${ranges.toSeq}")
      case _ => ()
    }
  }

  test("metrics sweep skips compaction/migration staging dirs " +
      "(ADVICE r10 low)") {
    val dir = Files.createTempDirectory("graft-phantom").toString
    val e = new Engine(spark, dir)
    e.execute(CommandParser.parse("CREATE real"))
    e.execute(CommandParser.parse("USE real"))
    e.execute(CommandParser.parse("ADD 1505177459.658, 1, t, f, 1.0, 2.0;"))
    e.execute(CommandParser.parse("FLUSH"))
    // phantom staging siblings a concurrent rewrite would leave
    for (n <- Seq("book=real.stage_day=2.compact", "book=real.stage_day=2.old",
        "book=real.migrate", "book=real.old"))
      new java.io.File(dir, n).mkdirs()
    // 'default' is the session mem book; no phantom staging names
    val names = e.bookSizes().map(_._1)
    assert(names === Seq("default", "real"), names.mkString(", "))
  }

  /** ADD one row at `tsMs` into the session's book. */
  private def addAt(e: Engine, tsMs: Long, seq: Long): Unit =
    e.execute(CommandParser.parse(
      f"ADD ${tsMs / 1000}%d.${tsMs % 1000}%03d, $seq%d, t, f, 1.0, 2.0;"))

  private def updates(sym: String, ts: Seq[Long]): Seq[graft.model.Update] =
    ts.zipWithIndex.map { case (t, i) =>
      graft.model.Update(sym, t, 1000L + i, is_trade = true,
        is_bid = false, 1.0, 2.0)
    }

  private val base = 1505177459000L
  private val day = graft.sources.TickStore.MsPerDay

  test("a multi-day FLUSH into a book with rows on disk runs no Spark " +
      "job and writes one (ts, seq)-sorted file per day leaf") {
    val dir = Files.createTempDirectory("graft-onejob").toString
    val e = new Engine(spark, dir)
    e.execute(CommandParser.parse("CREATE oj"))
    e.execute(CommandParser.parse("USE oj"))
    (0 until 3).foreach(i => addAt(e, base + i * 1000L, i.toLong))
    e.execute(CommandParser.parse("FLUSH"))
    // three later days, staged out of order (ts ties broken by seq)
    val staged = for (d <- Seq(3, 1, 2); i <- Seq(2, 0, 1))
      yield (base + d * day + i * 1000L, (d * 10 + i).toLong)
    staged.foreach { case (ts, seq) => addAt(e, ts, seq) }
    addAt(e, base + 3 * day + 2000L, 29L)

    val (_, jobs) = jobsDuring(e.execute(CommandParser.parse("FLUSH")))
    assert(jobs.isEmpty, jobs)

    assert(e.execute(CommandParser.parse("COUNT")) === e.Text("13"))
    for (d <- 1 to 3) {
      val leaf = new java.io.File(s"$dir/book=oj/day=${(base + d * day) / day}")
      val files = leaf.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1, leaf.list().mkString(", "))
      val keys = spark.read.parquet(files.head.getPath).collect()
        .map(r => (r.getAs[Long]("ts"), r.getAs[Long]("seq"))).toSeq
      assert(keys === keys.sorted && keys.nonEmpty, keys)
    }
  }

  test("FLUSH reads the stored max from the disk as it is now: legacy " +
      "flat files, a compacted leaf, another writer's later day, a " +
      "day emptied by archival, a footer without statistics") {
    import org.apache.spark.sql.functions.col
    val enc = org.apache.spark.sql.Encoders.product[graft.model.Update]
    /** Stages `ts` (one row each), FLUSHes, and checks the flush ran no
      * Spark job and kept exactly the rows newer than `diskMax`. */
    def flushAgainst(e: Engine, book: String, diskMax: Long,
        ts: Seq[Long]): Unit = {
      val before = e.bookDf(book).count()
      val dropped0 = e.flushStats.droppedRows
      ts.zipWithIndex.foreach { case (t, i) => addAt(e, t, 500L + i) }
      val (_, jobs) = jobsDuring(e.execute(CommandParser.parse("FLUSH")))
      assert(jobs.isEmpty, s"$book: FLUSH ran $jobs")
      val kept = ts.filter(_ > diskMax).sorted
      assert(kept.nonEmpty && kept.size < ts.size)
      assert(e.execute(CommandParser.parse("COUNT")) ===
        e.Text(s"${before + kept.size}"))
      val newer = e.bookDf(book).where(col("ts") > diskMax)
        .select("ts").collect().map(_.getLong(0)).toSeq
      assert(newer.headOption === kept.headOption &&
        newer.lastOption === kept.lastOption && newer.size === kept.size,
        s"rows newer than $diskMax: $newer, want $kept")
      assert(e.flushStats.droppedRows - dropped0 === ts.size - kept.size)
    }
    def bookOnDisk(book: String): (Engine, String) = {
      val dir = Files.createTempDirectory("graft-maxts").toString
      val e = new Engine(spark, dir)
      e.execute(CommandParser.parse(s"CREATE $book"))
      e.execute(CommandParser.parse(s"USE $book"))
      (0 until 3).foreach(i => addAt(e, base + i * 1000L, i.toLong))
      e.execute(CommandParser.parse("FLUSH"))
      (e, s"$dir/book=$book")
    }
    def writeDays(rows: Seq[graft.model.Update], path: String,
        options: Map[String, String] = Map.empty): Unit =
      spark.createDataset(rows)(enc).toDF()
        .withColumn("day", graft.sources.TickStore.dayOf(col("ts")))
        .write.options(options).mode("append").partitionBy("day")
        .parquet(path)

    // the max sits in a legacy root-level flat file
    val (e1, root1) = bookOnDisk("flat")
    spark.createDataset(updates("flat", Seq(base + 30000L)))(enc).toDF()
      .write.mode("append").parquet(root1)
    flushAgainst(e1, "flat", base + 30000L,
      Seq(10000L, 20000L, 30000L, 40000L, 50000L).map(base + _))

    // the max sits in a leaf compactBook has just rewritten
    val (e2, root2) = bookOnDisk("comp")
    for (k <- 1 to 3) {
      addAt(e2, base + k * 10000L, 10L + k)
      e2.execute(CommandParser.parse("FLUSH"))
    }
    val leaf2 = new java.io.File(s"$root2/day=${base / day}")
    assert(leaf2.list().count(_.endsWith(".parquet")) === 4)
    e2.compactBook("comp")
    assert(leaf2.list().count(_.endsWith(".parquet")) === 1)
    flushAgainst(e2, "comp", base + 30000L,
      Seq(25000L, 30000L, 35000L, day + 1000L).map(base + _))

    // another writer has added a file for a later day
    val (e3, root3) = bookOnDisk("other")
    writeDays(updates("other", Seq(base + 2 * day, base + 2 * day + 500L)),
      root3)
    flushAgainst(e3, "other", base + 2 * day + 500L,
      Seq(day, 2 * day, 2 * day + 500L, 2 * day + 600L, 3 * day).map(base + _))

    // the highest day dir lost its files, as Archiver's removeLocal
    // leaves it: the max moves back to the next leaf down
    val (e4, root4) = bookOnDisk("archived")
    addAt(e4, base + day + 9000L, 9L)
    e4.execute(CommandParser.parse("FLUSH"))
    val leaf4 = new java.io.File(s"$root4/day=${(base + day) / day}")
    leaf4.listFiles().foreach(_.delete())
    assert(leaf4.isDirectory && leaf4.list().isEmpty)
    flushAgainst(e4, "archived", base + 2000L,
      Seq(1000L, 2000L, 3000L, day + 5000L).map(base + _))

    // a later day whose footer carries no ts statistics: the leaf's rows
    // are read on the driver
    val (e5, root5) = bookOnDisk("nostats")
    writeDays(updates("nostats", Seq(base + day, base + day + 700L)), root5,
      Map("parquet.column.statistics.enabled" -> "false"))
    val noStats = new java.io.File(s"$root5/day=${(base + day) / day}")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(noStats.getPath),
        spark.sparkContext.hadoopConfiguration))
    try {
      import scala.jdk.CollectionConverters._
      assert(footer.getFooter.getBlocks.asScala.forall(_.getColumns.asScala
        .forall(c => !c.getStatistics.hasNonNullValue)),
        "fixture still carries statistics")
    } finally footer.close()
    flushAgainst(e5, "nostats", base + day + 700L,
      Seq(day + 600L, day + 700L, day + 800L).map(base + _))
  }

  test("OB folds a book of a legacy root file, day= leaves and staged " +
      "rows on the driver: no Spark job, and Orderbook.snapshot's JSON " +
      "bit for bit") {
    val enc = org.apache.spark.sql.Encoders.product[graft.model.Update]
    def up(t: Long, seq: Long, trade: Boolean, bid: Boolean, px: Double,
        size: Double) = graft.model.Update("ob", base + t, seq, trade, bid,
      px, size)
    val dir = Files.createTempDirectory("graft-ob-fold").toString
    spark.createDataset(Seq(
      up(0L, 1L, trade = true, bid = true, 10.0, 1.0), // before the first set
      up(1000L, 2L, trade = false, bid = true, 10.0, 3.0),
      up(2000L, 3L, trade = false, bid = false, 10.5, 2.0),
      up(3000L, 4L, trade = false, bid = false, 11.0, 1.5),
      up(4000L, 5L, trade = true, bid = true, 10.0, 0.1)))(enc).toDF()
      .coalesce(1).write.parquet(s"$dir/book=ob")
    val e = new Engine(spark, dir)
    e.execute(CommandParser.parse("CREATE ob"))
    e.execute(CommandParser.parse("USE ob"))
    def add(ups: graft.model.Update*): Unit =
      ups.foreach(u => e.execute(Command.Insert(Some(u), None)))
    add(up(5000L, 6L, trade = false, bid = false, 11.0, 0.0), // delete
      up(day, 7L, trade = true, bid = false, 11.0, 0.5), // deleted level
      up(day + 1000L, 8L, trade = false, bid = true, 9.5, 1.0),
      up(day + 2000L, 9L, trade = true, bid = true, 9.5, 0.75))
    e.execute(CommandParser.parse("FLUSH")) // leaves day 0 and day 1
    add(up(day + 3000L, 10L, trade = true, bid = true, 10.0, 0.2),
      up(day + 4000L, 11L, trade = true, bid = true, 9.5, 0.75), // negative
      up(day + 5000L, 12L, trade = true, bid = false, 10.5, 0.3))
    assert(new java.io.File(s"$dir/book=ob").list().count(n =>
      n.startsWith("day=")) === 2)

    val (reply, jobs) = jobsDuring(e.execute(CommandParser.parse("OB")))
    assert(jobs.isEmpty, jobs)
    val rows = Orderbook.snapshot(e.bookDf("ob"), Engine.PriceDecimals)
      .orderBy("level").collect()
    def side(bid: Boolean) = rows.filter(_.getAs[Boolean]("is_bid") == bid)
      .map(r => s""""${r.getAs[Long]("level")}":${r.getAs[Double]("size")}""")
      .mkString(",")
    val want = s"""{"price_decimals":10,"bids":{${side(true)}},""" +
      s""""asks":{${side(false)}}}"""
    assert(want === """{"price_decimals":10,"bids":{"95000000000":-0.5,""" +
      """"100000000000":2.7},"asks":{"105000000000":1.7}}""")
    assert(reply === e.Text(want))
  }

  /** The `ts` of every row a GET reply frames, in reply order. */
  private def replyTs(e: Engine)(reply: e.Reply): Seq[Long] = reply match {
    case e.Frame(df, _, _) if df.columns.contains("ts") =>
      df.select("ts").collect().map(_.getLong(0)).toSeq
    case e.Frame(df, _, _) => // AS JSON / AS CSV: ts is the first field
      df.collect().map { r =>
        val secs = r.getString(0).stripPrefix("{\"ts\":")
          .takeWhile(c => c != ',')
        (BigDecimal(secs) * 1000).toLongExact
      }.toSeq
    case other => fail(s"unexpected: $other")
  }

  test("a ranged GET on a book with day= leaves and staged rows plans " +
      "without a Spark job, as DTF, JSON and CSV") {
    val dir = Files.createTempDirectory("graft-nojob").toString
    val e = new Engine(spark, dir)
    e.execute(CommandParser.parse("CREATE nj"))
    e.execute(CommandParser.parse("USE nj"))
    (0 until 3).foreach(d => addAt(e, base + d * day, d.toLong))
    e.execute(CommandParser.parse("FLUSH"))
    addAt(e, base + 3 * day, 3L)
    val range = Some((base + day, base + 3 * day))
    for (format <- Seq(GetFormat.Dtf, GetFormat.Json, GetFormat.Csv)) {
      val (reply, jobs) = jobsDuring(e.execute(
        Command.Get(ReqCount.All, format, range, Loc.Fs)))
      assert(jobs.isEmpty, s"$format GET planned with jobs: $jobs")
      assert(replyTs(e)(reply) === (1 to 3).map(base + _ * day), format)
    }
  }

  test("pure-flat, mixed and day-only books: ranged GET, unranged GET " +
      "and COUNT return exactly the book's rows") {
    val enc = org.apache.spark.sql.Encoders.product[graft.model.Update]
    // legacy flat rows on days 0 and 1, flushed rows after them on days
    // 1 and 2, staged rows on days 2 and 3
    val older = Seq(0L, 5000L, day + 1000L, day + 9000L).map(base + _)
    val newer = Seq(day + 20000L, 2 * day, 2 * day + 500L).map(base + _)
    val staged = Seq(2 * day + 900L, 3 * day).map(base + _)
    val layouts = Seq(
      ("flat", older, Seq.empty[Long]),
      ("mixed", older, newer),
      ("days", Seq.empty[Long], older ++ newer))
    val ranges = Seq(
      (base + 5000L, base + day + 20000L), // legacy and flushed, days 0-1
      (base + day + 1000L, base + day + 1000L), // one ms
      (base + day + 9001L, base + 3 * day), // no legacy row
      (base + 4 * day, base + 5 * day)) // nothing
    for ((book, flatTs, flushedTs) <- layouts) {
      val dir = Files.createTempDirectory(s"graft-layout").toString
      val bookDir = new java.io.File(s"$dir/book=$book")
      if (flatTs.nonEmpty)
        spark.createDataset(updates(book, flatTs))(enc).toDF()
          .write.parquet(bookDir.getPath)
      val e = new Engine(spark, dir)
      e.execute(CommandParser.parse(s"CREATE $book"))
      e.execute(CommandParser.parse(s"USE $book"))
      flushedTs.zipWithIndex.foreach { case (t, i) => addAt(e, t, i.toLong) }
      e.execute(CommandParser.parse("FLUSH"))
      staged.zipWithIndex.foreach { case (t, i) => addAt(e, t, 50L + i) }
      val entries = bookDir.listFiles().toSeq
      assert(entries.exists(f => f.isFile && f.getName.endsWith(".parquet"))
        === flatTs.nonEmpty, s"$book: ${entries.map(_.getName)}")
      assert(entries.exists(_.getName.startsWith("day=")) ===
        flushedTs.nonEmpty, s"$book: ${entries.map(_.getName)}")

      val all = (flatTs ++ flushedTs ++ staged).sorted
      val (count, countJobs) =
        jobsDuring(e.execute(CommandParser.parse("COUNT")))
      assert(count === e.Text(s"${all.size}"), book)
      assert(countJobs.isEmpty, s"$book: COUNT ran jobs: $countJobs")
      assert(replyTs(e)(e.execute(Command.Get(ReqCount.All,
        GetFormat.Dtf, None, Loc.Fs))) === all, book)
      for ((lo, hi) <- ranges)
        assert(replyTs(e)(e.execute(Command.Get(ReqCount.All,
          GetFormat.Dtf, Some((lo, hi)), Loc.Fs))) ===
          all.filter(t => t >= lo && t <= hi), s"$book [$lo, $hi]")

      // CLEAR resets the nominal count to the rows on disk, also jobless
      val (_, clearJobs) = jobsDuring(e.execute(CommandParser.parse("CLEAR")))
      assert(clearJobs.isEmpty, s"$book: CLEAR ran jobs: $clearJobs")
      assert(infoCount(e, book) === flatTs.size + flushedTs.size, book)
    }
  }

  /** The nominal `count` INFO reports for `book`. */
  private def infoCount(e: Engine, book: String): Long =
    e.execute(CommandParser.parse("INFO")) match {
      case e.Text(t) =>
        val at = t.indexOf(s"\"name\": \"$book\"")
        assert(at >= 0, t)
        val key = "\"count\": "
        val from = t.indexOf(key, at) + key.length
        t.substring(from).takeWhile(_.isDigit).toLong
      case other => fail(s"unexpected: $other")
    }

  /** Parquet footer of one file. */
  private def footer(f: java.io.File) = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getPath),
        spark.sparkContext.hadoopConfiguration))
    try r.getFooter finally r.close()
  }

  private def parquetFiles(dir: java.io.File): Seq[java.io.File] =
    graft.sources.Compaction.leafDataDirs(dir).flatMap(_.listFiles()
      .filter(_.getName.endsWith(".parquet"))).sortBy(_.getPath)

  /** The column chunks of one parquet file, across its row groups. */
  private def chunks(f: java.io.File) = {
    import scala.jdk.CollectionConverters._
    footer(f).getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
  }

  /** Asserts `f` is in [[graft.sources.TickStore.FileEncoding]]: v2 data
    * pages in every column chunk, `ts` and `seq` DELTA_BINARY_PACKED
    * with no dictionary, the booleans RLE, `price` and `size`
    * dictionary-encoded, and the session's codec. The writer falls back
    * from a dictionary that does not pay for itself, so the fixtures
    * draw prices and sizes from small grids. */
  private def assertTickEncoding(f: java.io.File, writer: String): Unit = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.column.Encoding
    val codec = org.apache.parquet.hadoop.metadata.CompressionCodecName
      .valueOf(spark.conf.get("spark.sql.parquet.compression.codec")
        .toUpperCase(java.util.Locale.ROOT))
    val cs = chunks(f)
    val names = cs.map(_.getPath.toDotString).toSet
    assert(Set("ts", "seq", "is_trade", "is_bid", "price", "size")
      .subsetOf(names), s"$writer: ${f.getName} has columns $names")
    for (c <- cs) {
      val what = s"$writer: ${f.getName} ${c.getPath.toDotString}"
      val stats = c.getEncodingStats
      assert(stats != null && stats.usesV2Pages, s"$what: v1 data pages")
      assert(c.getCodec === codec, what)
      val data = stats.getDataEncodings.asScala.toSet
      c.getPath.toDotString match {
        case "ts" | "seq" =>
          assert(data === Set(Encoding.DELTA_BINARY_PACKED) &&
            !stats.hasDictionaryPages, s"$what: $data")
        case "is_trade" | "is_bid" =>
          assert(data === Set(Encoding.RLE), s"$what: $data")
        case "price" | "size" =>
          assert(stats.hasDictionaryEncodedPages, s"$what: $data")
        case _ =>
      }
    }
  }

  /** Whether every column chunk of `f` is written in v1 data pages. */
  private def v1Pages(f: java.io.File): Boolean =
    chunks(f).forall(c => !c.getEncodingStats.usesV2Pages)

  test("FLUSH, compactBook's migrate and compact steps and " +
      "TickStore.write write TickStore.FileEncoding whatever the " +
      "session's parquet keys say; a plain Spark write keeps v1 pages") {
    val enc = org.apache.spark.sql.Encoders.product[graft.model.Update]
    def rows(from: Long, n: Int, seq0: Long) = (0 until n).map { i =>
      graft.model.Update("enc", from + i * 613L, seq0 + i,
        is_trade = i % 5 == 0, is_bid = i % 3 == 0, 100.0 + i % 17 * 0.5,
        (i % 11 + 1) * 0.25)
    }
    // legacy rows on days 0 and 1, flushed rows on days 1 and 2
    val day0 = base / day * day
    val legacy = rows(day0 + day - 100000L, 300, 0L)
    val flushed = rows(day0 + 2 * day - 60000L, 300, 1000L)
    val keys = Map("parquet.writer.version" -> "v1",
      "parquet.enable.dictionary" -> "true")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val dir = Files.createTempDirectory("graft-enc").toString
      val bookDir = new java.io.File(s"$dir/book=enc")
      spark.createDataset(legacy)(enc).toDF().coalesce(1).write
        .parquet(bookDir.getPath)
      val plain = parquetFiles(bookDir)
      assert(plain.nonEmpty && plain.forall(v1Pages),
        "a plain Spark write did not keep the session's v1 pages")

      val e = new Engine(spark, dir)
      e.execute(CommandParser.parse("CREATE enc"))
      e.execute(CommandParser.parse("USE enc"))
      flushed.foreach(u => e.execute(Command.Insert(Some(u), None)))
      e.execute(CommandParser.parse("FLUSH"))
      val flushFiles = parquetFiles(bookDir).filterNot(plain.contains)
      assert(flushFiles.size === 2, flushFiles.mkString(", "))
      flushFiles.foreach(assertTickEncoding(_, "FLUSH"))

      // compactBook's first step, on its own so its files can be told
      // apart from the compact step's
      assert(graft.sources.Compaction
        .migrateFlatToPartitioned(spark, bookDir.getPath) === plain.size)
      val migrated = parquetFiles(bookDir).filterNot(flushFiles.contains)
      assert(migrated.size === 2 && !migrated.exists(plain.contains),
        migrated.mkString(", "))
      migrated.foreach(assertTickEncoding(_, "migrate"))
      e.compactBook("enc")
      val compacted = parquetFiles(bookDir)
      assert(compacted.nonEmpty && !compacted.exists(f =>
        flushFiles.contains(f) || migrated.contains(f)),
        compacted.mkString(", "))
      compacted.foreach(assertTickEncoding(_, "compact"))
      assert(e.bookDf("enc").as(enc).collect().sortBy(_.seq).toSeq ===
        legacy ++ flushed)

      val root = s"$dir/store"
      graft.sources.TickStore.write(
        spark.createDataset(legacy ++ flushed)(enc).toDF(), root)
      val stored = parquetFiles(new java.io.File(root))
      assert(stored.size === 3, stored.mkString(", "))
      stored.foreach(assertTickEncoding(_, "TickStore.write"))
    } finally keys.keys.foreach(spark.conf.unset)

    // the encoding is the tick writers' alone: at the session's
    // defaults a plain Spark write is v1 too
    val out = Files.createTempDirectory("graft-enc-plain").toString + "/out"
    spark.createDataset(legacy)(enc).toDF().write.parquet(out)
    val plain = parquetFiles(new java.io.File(out))
    assert(plain.nonEmpty && plain.forall(v1Pages))
  }

  test("a book of v1 files written the old way next to flushed v2 files: " +
      "GET, COUNT, LOAD and OB read every row, FLUSH drops exactly the " +
      "stale rows, and compactBook leaves the same rows in v2 files") {
    import org.apache.spark.sql.functions.col
    val enc = org.apache.spark.sql.Encoders.product[graft.model.Update]
    val rnd = new scala.util.Random(17)
    var seq = 0L
    /** `n` rows from `from` on, with gaps of 0 to 3 s, unique seqs with
      * a jump now and then, and a price/size walk on a small grid. */
    def walk(from: Long, n: Int): Seq[graft.model.Update] = {
      var ts = from
      Seq.fill(n) {
        ts += rnd.nextInt(3000)
        seq += (if (rnd.nextInt(50) == 0) 1L + rnd.nextInt(1 << 30) else 1L)
        graft.model.Update("mix", ts, seq, is_trade = rnd.nextInt(4) == 0,
          is_bid = rnd.nextBoolean(), 100.0 + rnd.nextInt(40) * 0.5,
          rnd.nextInt(40) / 8.0)
      }
    }
    def ts(us: Seq[graft.model.Update]) = us.map(_.ts)
    val day0 = base / day * day
    val legacy = walk(day0 + day - 200000L, 200) // root file, days 0-1
    val oldLeaf = walk(legacy.last.ts + 1L, 200) // day 1, Spark-written
    val dir = Files.createTempDirectory("graft-mixed").toString
    val bookDir = new java.io.File(s"$dir/book=mix")
    spark.createDataset(legacy)(enc).toDF().coalesce(1).write
      .parquet(bookDir.getPath)
    spark.createDataset(oldLeaf)(enc).toDF().coalesce(1)
      .withColumn("day", graft.sources.TickStore.dayOf(col("ts")))
      .write.mode("append").partitionBy("day").parquet(bookDir.getPath)
    val v1Files = parquetFiles(bookDir)
    assert(v1Files.size === 2 && v1Files.forall(v1Pages),
      v1Files.mkString(", "))

    val e = new Engine(spark, dir)
    e.execute(CommandParser.parse("CREATE mix"))
    e.execute(CommandParser.parse("USE mix"))
    /** Stages `fresh` and `stale` interleaved by ts, FLUSHes, and checks
      * the flush dropped exactly `stale`. */
    def flushWith(fresh: Seq[graft.model.Update],
        stale: Seq[graft.model.Update]): Unit = {
      val dropped0 = e.flushStats.droppedRows
      (fresh ++ stale).sortBy(u => (u.ts, u.seq))
        .foreach(u => e.execute(Command.Insert(Some(u), None)))
      e.execute(CommandParser.parse("FLUSH"))
      assert(e.flushStats.droppedRows - dropped0 === stale.size)
    }
    // the stored max is in the v1 leaf, then in a flushed v2 file
    val flushed1 = walk(day0 + 2 * day - 200000L, 300) // days 1-2
    flushWith(flushed1, (legacy.take(3) ++ oldLeaf.takeRight(3))
      .map(_.copy(seq = 0L, price = 1.0)))
    val flushed2 = walk(flushed1.last.ts + 1L, 100)
    flushWith(flushed2, flushed1.takeRight(5).map(_.copy(seq = 0L)))
    val all = legacy ++ oldLeaf ++ flushed1 ++ flushed2
    val v2Files = parquetFiles(bookDir).filterNot(v1Files.contains)
    assert(v2Files.nonEmpty && v1Files.forall(_.exists))
    v2Files.foreach(assertTickEncoding(_, "FLUSH"))

    /** GET, COUNT, LOAD and OB against `all`. */
    def readsAll(e: Engine, what: String): Unit = {
      assert(e.execute(CommandParser.parse("COUNT")) === e.Text(s"${all.size}"),
        what)
      assert(e.bookDf("mix").as(enc).collect().sortBy(_.seq).toSeq === all,
        what)
      val ranges = Seq(None,
        Some((legacy(150).ts, flushed1(50).ts)), // v1 root, v1 leaf, v2
        Some((oldLeaf(20).ts, oldLeaf(120).ts)), // v1 leaf alone
        Some((flushed1(10).ts, flushed2(10).ts))) // v2 alone
      for {
        range <- ranges
        format <- Seq(GetFormat.Dtf, GetFormat.Json, GetFormat.Csv)
      } {
        val get = Command.Get(ReqCount.All, format, range, Loc.Fs)
        val reply = e.execute(get)
        val want = range.fold(ts(all)) { case (lo, hi) =>
          ts(all).filter(t => t >= lo && t <= hi)
        }
        assert(replyTs(e)(reply) === want, s"$what: $get")
        assert(reply.asInstanceOf[e.Frame].body.map(_.toSeq) ===
          Some(sparkGetBody(e, "mix", get).toSeq), s"$what: $get")
      }
      val loader = new Engine(spark, dir)
      assert(loader.execute(Command.Load("mix")) ===
        loader.Text("Loaded orderbook `mix`."), what)
      assert(loader.memDf("mix").as(enc).collect().toSeq.sortBy(_.seq) ===
        all, what)
      val inMem = new Engine(spark,
        Files.createTempDirectory("graft-mixed-mem").toString)
      inMem.execute(CommandParser.parse("CREATE mix"))
      inMem.execute(CommandParser.parse("USE mix"))
      all.foreach(u => inMem.execute(Command.Insert(Some(u), None)))
      assert(e.execute(CommandParser.parse("OB mix")) ===
        e.Text(inMem.execute(CommandParser.parse("OB mix")) match {
          case inMem.Text(t) => t
          case other => fail(s"$what: $other")
        }), what)
    }
    readsAll(e, "mixed")

    e.compactBook("mix")
    val compacted = parquetFiles(bookDir)
    assert(compacted.nonEmpty && compacted.forall(_.getParentFile != bookDir),
      "root files left after compactBook")
    compacted.foreach(assertTickEncoding(_, "compactBook"))
    readsAll(e, "compacted")
  }

  test("flushed files have the schema a Spark write gives, ts statistics " +
      "in every row group and the session's parquet codec; autoflush " +
      "runs no Spark job") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.col
    val codecKey = "spark.sql.parquet.compression.codec"
    val dir = Files.createTempDirectory("graft-files").toString
    val ts = Seq(0L, 4000L, 9000L, day + 1000L, 2 * day, 2 * day + 3000L)
      .map(base + _)
    val rows = updates("ff", ts)
    val e = new Engine(spark, dir, autoflush = true,
      flushInterval = ts.size.toLong)
    e.execute(CommandParser.parse("CREATE ff"))
    e.execute(CommandParser.parse("USE ff"))
    val prevCodec = spark.conf.get(codecKey)
    spark.conf.set(codecKey, "gzip")
    val (_, jobs) =
      try jobsDuring(rows.foreach(u => addAt(e, u.ts, u.seq)))
      finally spark.conf.set(codecKey, prevCodec)
    assert(jobs.isEmpty, s"autoflush ran jobs: $jobs")
    assert(e.execute(CommandParser.parse("COUNT IN MEM")) === e.Text("0"))

    // the same rows as a Spark job wrote them before
    val sparkDir =
      s"${Files.createTempDirectory("graft-sparkfiles")}/book=ff"
    spark.createDataset(rows)(
        org.apache.spark.sql.Encoders.product[graft.model.Update]).toDF()
      .withColumn("day", graft.sources.TickStore.dayOf(col("ts")))
      .coalesce(1).write.partitionBy("day").parquet(sparkDir)
    val bookDir = new java.io.File(s"$dir/book=ff")
    val ours = parquetFiles(bookDir)
    val theirs = parquetFiles(new java.io.File(sparkDir))
    assert(ours.size === 3 && theirs.size === 3)

    def fields(path: String) = spark.read.parquet(path).schema.fields
      .map(f => f.name -> f.dataType).toSeq
    val inferred = fields(bookDir.getPath)
    assert(inferred === fields(sparkDir))
    assert(inferred.init ===
      graft.model.Update.schema.fields.map(f => f.name -> f.dataType).toSeq)
    assert(inferred.last._1 === "day")
    assert(spark.read.parquet(bookDir.getPath).drop("day")
      .as(org.apache.spark.sql.Encoders.product[graft.model.Update])
      .collect().sortBy(_.ts).toSeq === rows)

    for ((f, g) <- ours.zip(theirs)) {
      val meta = footer(f)
      assert(meta.getFileMetaData.getSchema ===
        footer(g).getFileMetaData.getSchema, f.getName)
      val fileTs = spark.read.parquet(f.getPath).select("ts").collect()
        .map(_.getLong(0))
      val blocks = meta.getBlocks.asScala
      assert(blocks.nonEmpty && blocks.map(_.getRowCount).sum === fileTs.length)
      for (rg <- blocks) {
        val stats = rg.getColumns.asScala
          .find(_.getPath.toDotString == "ts").get.getStatistics
          .asInstanceOf[org.apache.parquet.column.statistics.LongStatistics]
        assert(stats.hasNonNullValue, f.getName)
        assert(stats.getMin === fileTs.min && stats.getMax === fileTs.max,
          f.getName)
        assert(rg.getColumns.asScala.forall(_.getCodec ===
          org.apache.parquet.hadoop.metadata.CompressionCodecName.GZIP),
          f.getName)
      }
      assert(f.getName.startsWith("part-") &&
        f.getName.endsWith(".gz.parquet"), f.getName)
    }
    // no in-progress file, `_SUCCESS` marker or `.crc` sidecar is left
    val leftovers = bookDir.listFiles().flatMap(d =>
      Option(d.listFiles()).getOrElse(Array(d)))
      .filterNot(_.getName.endsWith(".parquet"))
    assert(leftovers.isEmpty, leftovers.map(_.getName).mkString(", "))
  }

  test("a truncated in-progress file a crashed flush leaves is ignored by " +
      "GET, COUNT, the next FLUSH, compaction, archival and bookSizes") {
    val dir = Files.createTempDirectory("graft-crash").toString
    val e = new Engine(spark, dir)
    e.execute(CommandParser.parse("CREATE cr"))
    e.execute(CommandParser.parse("USE cr"))
    val onDisk = Seq(0L, 1000L, day, day + 2000L).map(base + _)
    onDisk.zipWithIndex.foreach { case (t, i) => addAt(e, t, i.toLong) }
    e.execute(CommandParser.parse("FLUSH"))
    val bookDir = new java.io.File(s"$dir/book=cr")

    // a crash mid-write: half of a later-day file under the in-progress
    // name, once next to whole files and once alone in a new day leaf
    val later = Files.createTempDirectory("graft-crash-src").toString
    val e2 = new Engine(spark, later)
    e2.execute(CommandParser.parse("CREATE cr"))
    e2.execute(CommandParser.parse("USE cr"))
    addAt(e2, base + 5 * day, 99L)
    e2.execute(CommandParser.parse("FLUSH"))
    val whole = Files.readAllBytes(
      parquetFiles(new java.io.File(later)).head.toPath)
    val partial = java.util.Arrays.copyOf(whole, whole.length / 2)
    for (d <- Seq(base + day, base + 5 * day).map(_ / day)) {
      val leaf = new java.io.File(bookDir, s"day=$d")
      leaf.mkdirs()
      Files.write(new java.io.File(leaf, FlushWriter.inProgressName(
        s"part-${java.util.UUID.randomUUID()}.snappy.parquet")).toPath,
        partial)
    }

    assert(replyTs(e)(e.execute(Command.Get(ReqCount.All, GetFormat.Dtf,
      None, Loc.Fs))) === onDisk)
    assert(replyTs(e)(e.execute(Command.Get(ReqCount.All, GetFormat.Dtf,
      Some((base + day, base + 6 * day)), Loc.Fs))) === onDisk.drop(2))
    assert(e.execute(CommandParser.parse("COUNT")) === e.Text("4"))

    // the stored max is still the last whole file's, not the leftover's
    val staged = Seq(day + 1000L, day + 3000L, 2 * day).map(base + _)
    staged.zipWithIndex.foreach { case (t, i) => addAt(e, t, 10L + i) }
    val dropped0 = e.flushStats.droppedRows
    e.execute(CommandParser.parse("FLUSH"))
    assert(e.flushStats.droppedRows - dropped0 === 1)
    assert(e.execute(CommandParser.parse("COUNT")) === e.Text("6"))

    val (before, after) = e.compactBook("cr")
    assert(before === 4 && after === 3, s"$before -> $after")
    assert(e.execute(CommandParser.parse("COUNT")) === e.Text("6"))

    val dest = Files.createTempDirectory("graft-crash-archive").toUri.toString
    val archived = e.newArchiver(dest, removeLocal = false).scanOnce(0L)
    assert(archived.size === 3 &&
      archived.forall(_.name.endsWith(".parquet")),
      archived.map(_.name).mkString(", "))

    assert(e.bookSizes().find(_._1 == "cr").map(_._2) ===
      Some(parquetFiles(bookDir).map(_.length).sum))

    // an engine started over the dir sweeps both leftovers away, and
    // the whole files it keeps still count every row
    def leftovers = bookDir.listFiles().toSeq
      .flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .filter(_.getName.endsWith(".inprogress"))
    assert(leftovers.size === 2, leftovers.mkString(", "))
    val restarted = new Engine(spark, dir)
    assert(leftovers.isEmpty, leftovers.mkString(", "))
    restarted.execute(CommandParser.parse("USE cr"))
    assert(restarted.execute(CommandParser.parse("COUNT")) ===
      restarted.Text("6"))
  }

  /** The GET reply the Spark formulation GET had before it moved to the
    * driver, as the wire drained it: the book (or its staged rows)
    * filtered by `between`, sorted by (ts, seq), limited, and rendered
    * with `concat_ws`/`concat` and a `rustRepr` UDF. */
  private def sparkGetBody(e: Engine, book: String, get: Command.Get)
      : Array[Byte] = {
    import org.apache.spark.sql.functions.{col, concat, concat_ws, lit, udf}
    import graft.functions.{tfBool, tsAsSecondsFloat}
    val base = if (get.loc == Loc.Mem) e.memDf(book) else e.bookDf(book)
    val ranged = get.range.fold(base) { case (lo, hi) =>
      base.where(col("ts").between(lo, hi))
    }.orderBy("ts", "seq")
    val limited = get.count match {
      case ReqCount.All => ranged
      case ReqCount.N(n) => ranged.limit(n)
    }
    val rr = udf(Engine.rustRepr _)
    def text(c: org.apache.spark.sql.Column, sep: String) =
      limited.select(c).collect().map(_.getString(0))
        .mkString("", sep, "\n").getBytes("UTF-8")
    get.format match {
      case GetFormat.Dtf => Wire.serializeBatches(limited
        .as(org.apache.spark.sql.Encoders.product[graft.model.Update])
        .collect().iterator)
      case GetFormat.Csv => text(concat_ws(",",
        rr(tsAsSecondsFloat(col("ts"))), col("seq").cast("string"),
        tfBool(col("is_trade")), tfBool(col("is_bid")),
        rr(col("price")), rr(col("size"))), "\n")
      case GetFormat.Json => text(concat(lit("{\"ts\":"),
        rr(tsAsSecondsFloat(col("ts"))),
        lit(",\"seq\":"), col("seq").cast("string"),
        lit(",\"is_trade\":"), col("is_trade").cast("string"),
        lit(",\"is_bid\":"), col("is_bid").cast("string"),
        lit(",\"price\":"), rr(col("price")),
        lit(",\"size\":"), rr(col("size")), lit("}")), ", ")
    }
  }

  /** A book with a legacy flat file (days 0-1), flushed `day=` leaves
    * (days 1, 3 and 4, and 2 after the next), a day-2 file another writer
    * wrote without statistics, and staged rows below, inside and above
    * the ranges of the returned GETs; prices and sizes that stress
    * `rustRepr`, and ts ending in 000 and 100. No two rows share a
    * (ts, seq). Returns the engine, its session on the book, and GETs of
    * every count, format and location over two ranges and none. */
  private def parityBook(book: String): (Engine, Seq[Command.Get]) = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.col
    val enc = org.apache.spark.sql.Encoders.product[graft.model.Update]
    val prices = Seq(12345678.9, 1e-7, 0.1 + 0.2, 1.5, 1e7, 0.30000000000000004)
    val sizes = Seq(2.0, 1e21, 0.001, 7.25e-9)
    def row(ts: Long, seq: Long) = graft.model.Update(book, ts, seq,
      is_trade = seq % 3 == 0, is_bid = seq % 2 == 0,
      prices((seq % prices.size).toInt), sizes((seq % sizes.size).toInt))
    def at(d: Long, ms: Long) = base + d * day + ms
    val dir = Files.createTempDirectory("graft-parity").toString
    val root = s"$dir/book=$book"
    spark.createDataset(Seq(at(0, 0), at(0, 100), at(0, 5000), at(1, 100),
        at(1, 100), at(1, 3000)).zipWithIndex.map { case (t, i) =>
        row(t, 100L + i) })(enc).toDF().write.parquet(root)
    val e = new Engine(spark, dir)
    e.execute(CommandParser.parse(s"CREATE $book"))
    e.execute(CommandParser.parse(s"USE $book"))
    def stage(ts: Seq[Long], seq0: Long): Unit =
      ts.zipWithIndex.foreach { case (t, i) =>
        e.execute(Command.Insert(Some(row(t, seq0 + i)), None))
      }
    stage(Seq(at(1, 5000), at(1, 5100), at(1, 9000)), 300L)
    e.execute(CommandParser.parse("FLUSH"))
    // an outside writer's day-2 leaf, without ts statistics
    spark.createDataset(Seq(at(2, 0), at(2, 100), at(2, 2000), at(2, 2100),
        at(2, 9000)).zipWithIndex.map { case (t, i) => row(t, 200L + i) })(
        enc).toDF().coalesce(1)
      .withColumn("day", graft.sources.TickStore.dayOf(col("ts")))
      .write.option("parquet.column.statistics.enabled", "false")
      .mode("append").partitionBy("day").parquet(root)
    stage(Seq(at(2, 10000), at(3, 0), at(3, 0), at(3, 100), at(3, 2000),
      at(4, 0), at(4, 100), at(4, 20000)), 400L)
    e.execute(CommandParser.parse("FLUSH"))
    assert(e.execute(CommandParser.parse("COUNT")) === e.Text("22"))
    // staged: below, inside and above the ranges, ts tied with file
    // rows; the next FLUSH keeps only the last two (S6), one of them in
    // an existing leaf
    stage(Seq(at(0, 50), at(1, 100), at(2, 2050), at(3, 100), at(1, 6000),
      at(5, 0), at(4, 30000)), 500L)
    val day2 = new java.io.File(s"$root/day=${at(2, 0) / day}")
      .listFiles().filter(_.getName.endsWith(".parquet")).toSeq
    assert(day2.size === 2 && day2.exists(f => footer(f).getBlocks.asScala
      .forall(_.getColumns.asScala.forall(!_.getStatistics.hasNonNullValue))),
      "no statistics-less fixture")
    val ranges = Seq(Some((at(1, 100), at(3, 100))), // ends inside files
      Some((at(2, 50), at(2, 2100))), // inside the statistics-less file
      None)
    val gets = for {
      range <- ranges
      loc <- Seq(Loc.Fs, Loc.Mem)
      count <- Seq(ReqCount.N(1), ReqCount.N(10), ReqCount.All)
      format <- Seq(GetFormat.Dtf, GetFormat.Json, GetFormat.Csv)
    } yield Command.Get(count, format, range, loc)
    (e, gets)
  }

  test("every GET form is served on the driver with no Spark job, " +
      "byte-equal to the Spark formulation it replaced") {
    val (e, gets) = parityBook("par")
    for (get <- gets) {
      val want = sparkGetBody(e, "par", get)
      val (body, jobs) = jobsDuring(e.execute(get) match {
        case f: e.Frame => f.body
        case other => fail(s"$get: $other")
      })
      assert(jobs.isEmpty, s"$get ran jobs: $jobs")
      assert(body.map(_.toSeq) === Some(want.toSeq),
        s"$get:\n${body.map(new String(_, "UTF-8"))}\nwant\n" +
          new String(want, "UTF-8"))
    }
    // the frame's df holds the same rows or lines
    val dtf = Command.Get(ReqCount.N(10), GetFormat.Dtf, None, Loc.Fs)
    e.execute(dtf) match {
      case e.Frame(df, _, _) => assert(Wire.serializeBatches(df
        .as(org.apache.spark.sql.Encoders.product[graft.model.Update])
        .collect().iterator).toSeq === sparkGetBody(e, "par", dtf).toSeq)
      case other => fail(s"unexpected: $other")
    }
    val csv = dtf.copy(format = GetFormat.Csv)
    e.execute(csv) match {
      case e.Frame(df, sep, trailer) =>
        assert(df.collect().map(_.getString(0)).mkString("", sep, trailer) ===
          new String(sparkGetBody(e, "par", csv), "UTF-8"))
      case other => fail(s"unexpected: $other")
    }
    // a staged row with a file row's (ts, seq) comes after it
    val tied = graft.model.Update("par", base + 100L, 101L, is_trade = false,
      is_bid = false, 9.5, 9.5)
    e.execute(Command.Insert(Some(tied), None))
    e.execute(Command.Get(ReqCount.All, GetFormat.Csv,
      Some((base + 100L, base + 100L)), Loc.Fs)) match {
      case f: e.Frame =>
        assert(new String(f.body.get, "UTF-8").split('\n').toSeq
          .map(_.split(',')(4)) === Seq("0.30000000000000004", "9.5"))
      case other => fail(s"unexpected: $other")
    }
  }

  test("a FLUSH between a GET's execute and its drain neither drops nor " +
      "duplicates a row") {
    val (e, gets) = parityBook("snap")
    val fsGets = gets.filter(g => g.loc == Loc.Fs && g.format == GetFormat.Csv)
    val wants = fsGets.map(g => new String(sparkGetBody(e, "snap", g), "UTF-8"))
    val frames = fsGets.map(e.execute(_).asInstanceOf[e.Frame])
    val before = e.execute(CommandParser.parse("COUNT"))
    e.execute(CommandParser.parse("FLUSH"))
    assert(e.execute(CommandParser.parse("COUNT IN MEM")) === e.Text("0"))
    assert(e.execute(CommandParser.parse("COUNT")) !== before,
      "the FLUSH wrote nothing")
    for ((get, (frame, want)) <- fsGets.zip(frames.zip(wants)))
      assert(frame.body.map(new String(_, "UTF-8")) === Some(want), get)
  }

  test("LOAD reads the book's files with no Spark job: the same rows as " +
      "a Spark read of a flat, a mixed and a day-only book") {
    val enc = org.apache.spark.sql.Encoders.product[graft.model.Update]
    val older = Seq(0L, 5000L, day + 1000L).map(base + _)
    val newer = Seq(day + 20000L, 2 * day, 2 * day + 500L).map(base + _)
    for ((book, flatTs, flushedTs) <- Seq(("flat", older, Seq.empty[Long]),
        ("mixed", older, newer), ("days", Seq.empty[Long], older ++ newer))) {
      val dir = Files.createTempDirectory("graft-load").toString
      if (flatTs.nonEmpty)
        spark.createDataset(updates(book, flatTs))(enc).toDF()
          .write.parquet(s"$dir/book=$book")
      val writer = new Engine(spark, dir)
      writer.execute(CommandParser.parse(s"CREATE $book"))
      writer.execute(CommandParser.parse(s"USE $book"))
      flushedTs.zipWithIndex.foreach { case (t, i) =>
        addAt(writer, t, 2000L + i)
      }
      writer.execute(CommandParser.parse("FLUSH"))

      val e = new Engine(spark, dir)
      val want = e.fsDf(book).get.as(enc).collect().toSeq
      val (reply, jobs) = jobsDuring(e.execute(Command.Load(book)))
      assert(reply === e.Text(s"Loaded orderbook `$book`."), book)
      assert(jobs.isEmpty, s"$book: LOAD ran jobs: $jobs")
      val loaded = e.memDf(book).as(enc).collect().toSeq
      assert(loaded.size === flatTs.size + flushedTs.size, book)
      assert(loaded.sortBy(u => (u.ts, u.seq)) ===
        want.sortBy(u => (u.ts, u.seq)), book)
      assert(infoCount(e, book) === loaded.size, book)
    }
    val e = engine()
    assert(e.execute(Command.Load("ghost")) === e.Err("No db named `ghost`"))
  }
}
