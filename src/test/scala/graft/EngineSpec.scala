package graft

import java.nio.file.Files

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

  test("a multi-day FLUSH into a book with rows on disk runs one Spark " +
      "job and writes one (ts, seq)-sorted file per day leaf") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
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

    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("flush-under-test", "one FLUSH")
      try e.execute(CommandParser.parse("FLUSH"))
      finally sc.clearJobGroup()
      // the listener bus is FIFO: once a later marker job is seen, every
      // job the FLUSH started has been seen too
      sc.setJobGroup("flush-marker", "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 10000L
      while (!groups.contains("flush-marker") &&
          System.currentTimeMillis() < deadline) Thread.sleep(20L)
      assert(groups.contains("flush-marker"), "marker job never observed")
      assert(groups.asScala.count(_ == "flush-under-test") === 1,
        groups.asScala.toList)
    } finally sc.removeSparkListener(listener)

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
    /** Stages `ts` (one row each), FLUSHes, and checks the flush kept
      * exactly the rows newer than `diskMax`. */
    def flushAgainst(e: Engine, book: String, diskMax: Long,
        ts: Seq[Long]): Unit = {
      val before = e.bookDf(book).count()
      val dropped0 = e.flushStats.droppedRows
      ts.zipWithIndex.foreach { case (t, i) => addAt(e, t, 500L + i) }
      e.execute(CommandParser.parse("FLUSH"))
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

    // a later day whose footer carries no ts statistics: the leaf falls
    // back to a Spark max
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
}
