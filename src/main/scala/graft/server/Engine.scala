package graft.server

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.model.Update
import graft.operators.Orderbook

/** Per-connection state — the reference tracks the current book per
  * connection (`Connection.book_entry`, `state.rs:177-188,510`), so USE /
  * CREATE / LOAD on one connection never redirects implicit-book commands
  * on another. Each TCP connection gets its own instance; embedded callers
  * that don't pass one share the engine's default session. */
final class Session {
  var book: String = "default"
}

/** Executes the command surface against Spark — the rebuild of the
  * reference's broker (`TectonicServer`, `tdb-server-core/src/state.rs`).
  *
  * State model (SURVEY §1.2): a book = in-memory staging rows (the
  * reference's `Vec<Update>`) + a parquet directory under `dtfFolder`
  * (the reference's `{book}.dtf` files). Queries union mem + fs exactly
  * like `TectonicServer::get` (`state.rs:604-671`); FLUSH appends staging
  * to parquet keeping only `ts > max` rows (append semantics S6,
  * `file_format.rs:783-819`).
  *
  * The driver-side mutable maps are metadata-only (book registry, staging
  * buffers, subscriber queues); all scans/aggregations stay distributed
  * DataFrame plans.
  */
final class Engine(spark: SparkSession, dtfFolder: String,
    autoflush: Boolean = false, flushInterval: Long = 1000L,
    autoCompact: Boolean = false, compactMaxLeafFiles: Int = 16,
    compactTargetBytes: Long = 128L << 20) {
  require(!autoflush || flushInterval > 0L,
    s"autoflush requires flushInterval > 0 (got $flushInterval)")
  require(!autoCompact || compactMaxLeafFiles > 0,
    s"autoCompact requires compactMaxLeafFiles > 0 (got $compactMaxLeafFiles)")
  /** Derived once: the implicit product encoder is re-derived by
    * reflection on every call, which roughly doubles the cost of a
    * `createDataset` over a staging buffer. */
  private val updateEncoder: Encoder[Update] = Encoders.product[Update]

  private val books = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Update]]
  /** Live wire subscribers (the reference's per-connection sender channels,
    * `state.rs:469-477`): each sink is a connection-owned callback that
    * frames the update onto its socket. Registered/removed under the
    * engine monitor; invoked on the inserting thread inside `execute`. */
  private val subSinks =
    mutable.Map.empty[String, mutable.ArrayBuffer[Update => Unit]]

  def subscribeSink(book: String, sink: Update => Unit): Unit =
    synchronized {
      subSinks.getOrElseUpdate(book, mutable.ArrayBuffer.empty) += sink
    }

  def unsubscribeSink(book: String, sink: Update => Unit): Unit =
    synchronized {
      subSinks.get(book).foreach { b =>
        val i = b.indexWhere(_ eq sink)
        if (i >= 0) b.remove(i)
      }
    }

  private val subscribers =
    mutable.Map.empty[String, mutable.ArrayBuffer[Update]]
  /** A11 — per-book (wall-ts, in-mem count) ring buffer
    * (`state.rs:193-203,338-360`), capacity = reference default
    * q_capacity 300. */
  private val history =
    mutable.Map.empty[String, mutable.ArrayDeque[(Long, Long)]]
  val historyCapacity = 300
  /** Lifetime ingested rows per book (the reference's `nominal_count`,
    * `state.rs:197-203` — survives CLEAR/FLUSH; INFO's `count`). */
  private val nominal = mutable.Map.empty[String, Long]
  /** Live TCP connections, maintained by [[TcpServer.handle]] (INFO's
    * `clis`). */
  val connections = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Reader/swapper gate (VERDICT r5 #7): wire connections hold the READ
    * side (shared) from command execution through row materialization;
    * directory swaps — compaction's rename sequence, archival's local
    * delete — hold the WRITE side. Readers therefore never block each
    * other or ingest on OTHER connections (those hold the engine monitor
    * only for their own O(µs) execute), while a swap still waits for
    * every in-flight read and excludes new ones for its O(files) renames.
    * Fair mode so a stream of readers cannot starve a waiting swap.
    * Ordering contract: the read lock is acquired BEFORE the engine
    * monitor and never the reverse; swappers take only the write lock —
    * a thread holding the read lock must NOT call [[compactBook]] /
    * archival sweeps (RRWL reads don't upgrade; it would self-deadlock).
    * The one read taken inside the monitor, flush's footer read, uses a
    * barging `tryLock` that never queues behind a swap ([[withSwapRead]]). */
  val swapGate =
    new java.util.concurrent.locks.ReentrantReadWriteLock(true)
  private val defaultSession = new Session
  books(defaultSession.book) = mutable.ArrayBuffer.empty
  new java.io.File(dtfFolder).mkdirs()

  private def fsPath(book: String) = s"$dtfFolder/book=$book"
  private def hasFs(book: String) = new java.io.File(fsPath(book)).exists()

  def memDf(book: String): DataFrame =
    spark.createDataset(books.getOrElse(book, mutable.ArrayBuffer.empty).toSeq)(
      updateEncoder).toDF()

  /** Root-level parquet files of a book dir — rows from LEGACY flat
    * flushes (pre-`day=` layout). Spark's partition discovery silently
    * ignores root-level files once any `day=` subdir exists, so a mixed
    * dir read naively would DROP every legacy row without an error;
    * [[fsDf]]/[[fsDfInRange]] union them explicitly instead.
    * [[compactBook]] migrates them into the `day=` tree for good. */
  private def legacyFlatFiles(book: String): Array[java.io.File] =
    parquetFilesIn(new java.io.File(fsPath(book)))

  private def parquetFilesIn(dir: java.io.File): Array[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  /** One book's on-disk side. Flushes write `day=<epochDay>` partition
    * dirs inside the book dir ([[graft.sources.TickStore]] layout at
    * book granularity); partition discovery re-adds the day column,
    * which is dropped here so the schema stays the 7-column Update
    * shape every consumer expects. Legacy flat dirs (no day subdirs)
    * read identically — drop of an absent column is a no-op. A MIXED
    * dir (root files + day= subdirs, i.e. a legacy book that has been
    * flushed post-upgrade) reads as the union of the partitioned tree
    * and the explicitly-listed root files — partition discovery alone
    * would silently ignore the latter (verified Spark behavior, not a
    * crash), which would be data loss on every pre-upgrade row. */
  def fsDf(book: String): Option[DataFrame] =
    if (!hasFs(book)) None
    else {
      val df = spark.read.parquet(fsPath(book))
      Some(withLegacyFlat(book, df,
        df.drop(graft.sources.TickStore.DayCol)))
    }

  /** The ONE place the mixed-layout union lives (see [[fsDf]]'s
    * contract): appends explicitly-listed root-level legacy files to
    * `dayHandled` when the dir is mixed — both read paths must apply
    * it identically or one of them silently drops pre-upgrade rows. */
  private def withLegacyFlat(book: String,
      discovered: DataFrame, dayHandled: DataFrame): DataFrame = {
    val flat = legacyFlatFiles(book)
    if (flat.isEmpty ||
        !discovered.columns.contains(graft.sources.TickStore.DayCol))
      dayHandled
    else dayHandled.unionByName(
      spark.read.parquet(flat.map(_.getPath).toIndexedSeq: _*))
  }

  /** The fs side of a RANGED read, with the ms range mapped onto the
    * `day=` partition dirs (plan-time pruning: only overlapping days
    * are listed — the reference's file-header skip, S4, at directory
    * granularity). The exact ts bounds stay with the caller; the day
    * interval is closed over the range's floor-days, so pruning can
    * never drop a row the ts predicate keeps. */
  private def fsDfInRange(book: String, loMs: Long,
      hiMs: Long): Option[DataFrame] =
    if (!hasFs(book)) None
    else {
      import graft.sources.TickStore
      val df = spark.read.parquet(fsPath(book))
      val pruned =
        if (df.columns.contains(TickStore.DayCol))
          df.where(col(TickStore.DayCol).between(
              TickStore.dayOfMs(loMs), TickStore.dayOfMs(hiMs)))
            .drop(TickStore.DayCol)
        else df
      // mixed-layout legacy rows ride along via the shared union (no
      // day pruning for root-level files — the caller's exact ts
      // predicate still filters them; compactBook migration restores
      // pruning)
      Some(withLegacyFlat(book, df, pruned))
    }

  /** mem ++ fs view of one book (J1, `state.rs:639-656`) — re-sorted by
    * (ts,seq), a documented deviation from the reference's raw concat. */
  def bookDf(book: String): DataFrame =
    fsDf(book).map(memDf(book).unionByName(_)).getOrElse(memDf(book))
      .orderBy("ts", "seq")

  sealed trait Reply
  case class Text(s: String) extends Reply
  /** A distributed result to materialize on the wire. For single-string-
    * column frames (AS JSON / AS CSV) the server joins rows with `sep` and
    * appends `trailer` — the reference joins JSON objects with `", "` and
    * CSV rows with newlines, then pushes one trailing `'\n'` on both
    * (`state.rs:31-52`, `update.rs:34-42`). */
  case class Frame(df: DataFrame, sep: String = "\n", trailer: String = "")
    extends Reply
  case class Err(s: String) extends Reply

  def execute(cmd: Command): Reply = execute(cmd, defaultSession)

  def execute(cmd: Command, session: Session): Reply = cmd match {
    case Command.Noop => Text("")
    case Command.Ping => Text("PONG")
    case Command.Help => Text(Engine.HelpText)
    case Command.Info => Text(info())
    case Command.Perf => Text(perf())
    case Command.Unknown => Err("Unknown command.")
    case Command.BadFormat => Err("Bad format.")

    // OPT-IN analytics passthrough (VERDICT r15 #5): the session's
    // current book materializes as the `updates` temp view — exactly
    // the view contract every GraftExtensions TVF reads — and the
    // query plans against it. Rows stream back as JSON lines (Spark
    // to_json; no reference parity constraint, this command is beyond
    // the reference grammar and only reachable when the front-end
    // enables it). Analysis errors reply ERR instead of hanging up.
    // The plan is fully ANALYZED inside the engine monitor (view
    // resolution happens here), so a concurrent connection replacing
    // the view cannot redirect this query's already-resolved scan.
    case Command.Sql(query) =>
      try {
        bookDf(session.book).createOrReplaceTempView("updates")
        Frame(spark.sql(query)
            .select(to_json(struct(col("*"))).as("json")),
          sep = "\n", trailer = "\n")
      } catch {
        case e: Exception =>
          Err("SQL: " + Option(e.getMessage).getOrElse(e.toString)
            .linesIterator.take(4).mkString(" "))
      }

    case Command.Create(book) =>
      if (books.contains(book)) Err(s"Unable to create orderbook `$book`.")
      else { books(book) = mutable.ArrayBuffer.empty; session.book = book
        Text(s"Created orderbook `$book`.") }

    case Command.Use(book) =>
      if (books.contains(book) || hasFs(book)) {
        books.getOrElseUpdate(book, mutable.ArrayBuffer.empty)
        session.book = book
        Text(s"SWITCHED TO orderbook `$book`.")
      } else Err(s"No db named `$book`")

    case Command.Exists(book) =>
      if (books.contains(book) || hasFs(book)) Text("1")
      else Err(s"No db named `$book`")

    case Command.Insert(Some(up), bookOpt) =>
      val book = bookOpt.getOrElse(session.book)
      books.get(book) match {
        case None => Err(s"DB $book not found.")
        case Some(buf) =>
          val tagged = up.copy(symbol = book)
          buf += tagged
          nominal(book) = nominal.getOrElse(book, 0L) + 1L
          subscribers.get(book).foreach(_ += tagged)
          // wire-push fan-out (`state.rs:469-477` send_subs): every insert
          // to a subscribed book pushes to each subscriber connection
          subSinks.get(book).foreach(_.foreach(f => f(tagged)))
          // T4 autoflush — the reference flushes a book whenever its
          // staging length hits a multiple of flush_interval
          // (Book::add, state.rs:130-140)
          if (autoflush && buf.nonEmpty &&
            buf.size % flushInterval == 0) flush(book)
          Text("")
      }
    case Command.Insert(None, _) => Err("Unable to parse line")

    case Command.Count(which, loc) =>
      val names = which match {
        case ReqCount.All => books.keys.toSeq
        case _ => Seq(session.book)
      }
      val n = names.map { b =>
        val mem = books.get(b).map(_.size.toLong).getOrElse(0L)
        loc match {
          case Loc.Mem => mem
          case Loc.Fs => mem + fsDf(b).map(_.count()).getOrElse(0L)
        }
      }.sum
      Text(s"$n")

    case Command.Clear(which) =>
      val names = which match {
        case ReqCount.All => books.keys.toSeq
        case _ => Seq(session.book)
      }
      names.foreach { b =>
        books.get(b).foreach(_.clear())
        // the reference's clear()/clearall() call load_size_from_file()
        // (state.rs:562-579, 112-118), resetting nominal_count to the
        // on-disk header size; books with no file keep their count
        if (hasFs(b)) nominal(b) = fsDf(b).map(_.count()).getOrElse(0L)
      }
      Text("1")

    case Command.Flush(which) =>
      val names = which match {
        case ReqCount.All => books.keys.toSeq
        case _ => Seq(session.book)
      }
      names.foreach(flush)
      Text("1")

    case Command.Load(book) =>
      if (hasFs(book)) {
        val loaded = fsDf(book).get.as(updateEncoder).collect()
        val buf = books.getOrElseUpdate(book, mutable.ArrayBuffer.empty)
        buf ++= loaded
        // the reference's load RESETS nominal_count to the stored header
        // size (state.rs:115-118); subsequent adds increment from there
        nominal(book) = loaded.length.toLong
        session.book = book
        Text(s"Loaded orderbook `$book`.")
      } else Err(s"No db named `$book`")

    case Command.Subscribe(book) =>
      subscribers(book) = mutable.ArrayBuffer.empty
      Text(s"Subscribed to $book")

    case Command.Orderbook(bookOpt) =>
      val book = bookOpt.getOrElse(session.book)
      if (!books.contains(book) && !hasFs(book))
        Err("Unable to get orderbook")
      else Text(orderbookJson(book))

    case Command.Get(count, format, range, loc) =>
      val book = session.book
      val base = loc match {
        case Loc.Mem => memDf(book)
        // ranged fs reads go through the day-pruned fs side (same
        // mem ++ fs ++ sort contract as bookDf; only the file listing
        // shrinks to the range's days)
        case Loc.Fs => range match {
          case Some((lo, hi)) =>
            fsDfInRange(book, lo, hi)
              .map(memDf(book).unionByName(_)).getOrElse(memDf(book))
              .orderBy("ts", "seq")
          case None => bookDf(book)
        }
      }
      val ranged = range match {
        // reference mem filter is exclusive (`state.rs:617-624`); we use
        // consistent inclusive bounds (documented deviation, SURVEY §7.4-4)
        case Some((lo, hi)) => base.where(col("ts").between(lo, hi))
        case None => base
      }
      val limited = count match {
        case ReqCount.All => ranged.orderBy("ts", "seq")
        case ReqCount.N(n) => ranged.orderBy("ts", "seq").limit(n)
      }
      // Floats render with Rust `{}` Display semantics (plain decimal,
      // shortest round-trip digits, no ".0") — Spark's native double→string
      // cast and to_json both emit scientific notation for |x| ≥ 1e7, which
      // would corrupt every ts-seconds field on the wire. The UDF is
      // sanctioned here: this is the response-size-bounded server
      // materialization path, not an analytics hot path.
      val rr = udf(Engine.rustRepr _)
      format match {
        case GetFormat.Csv => Frame(limited.select(
          concat_ws(",", rr(tsAsSecondsFloat(col("ts"))),
            col("seq").cast("string"),
            tfBool(col("is_trade")), tfBool(col("is_bid")),
            rr(col("price")), rr(col("size"))).as("csv")),
          sep = "\n", trailer = "\n")
        case GetFormat.Json => Frame(limited.select(
          concat(lit("{\"ts\":"), rr(tsAsSecondsFloat(col("ts"))),
            lit(",\"seq\":"), col("seq").cast("string"),
            lit(",\"is_trade\":"), col("is_trade").cast("string"),
            lit(",\"is_bid\":"), col("is_bid").cast("string"),
            lit(",\"price\":"), rr(col("price")),
            lit(",\"size\":"), rr(col("size")), lit("}")).as("json")),
          sep = ", ", trailer = "\n")
        case GetFormat.Dtf => Frame(limited)
      }
  }

  /** OB reply — serde-shaped orderbook JSON exactly like the reference's
    * `orderbook_as_json_str` (`state.rs:437-441` serializing `Orderbook`,
    * `postprocessing/orderbook.rs:15-23`): `{"price_decimals":N,
    * "bids":{"<level>":size,...},"asks":{...}}` with BTreeMap
    * ascending-level key order. The snapshot of one book is bounded by its
    * distinct price levels, so collecting it is fine. Default decimals is
    * the reference's hardcoded `PRICE_DECIMALS = 10` (`state.rs:23`,
    * `Book::new`) so level keys and level-merge granularity are
    * key-compatible with reference OB replies. */
  private def orderbookJson(book: String,
      decimals: Int = Engine.PriceDecimals): String = {
    val rows = Orderbook.snapshot(bookDf(book), decimals)
      .select(col("is_bid"), col("level"), col("size"))
      .orderBy("level").collect()
    def side(bid: Boolean): String = rows.iterator
      .filter(_.getBoolean(0) == bid)
      .map(r => s""""${r.getLong(1)}":${r.getDouble(2)}""")
      .mkString(",")
    s"""{"price_decimals":$decimals,"bids":{${side(true)}},"asks":{${side(false)}}}"""
  }

  /** Flush staging to parquet, keeping only rows newer than the stored
    * max_ts (append semantics S6). Synchronous: the rows are on disk
    * when this returns.
    *
    * The stored max comes from parquet footers ([[storedMaxTs]]), the
    * way the reference reads `max_ts` from its file header
    * (`file_format.rs:52-53,783-819`) — no Spark job, and a cost that
    * does not grow with the book. It is read fresh on every flush, never
    * memoized: Archiver's `removeLocal` deletes files, compaction
    * rewrites them and another writer may add some, and a memo would go
    * stale under each of them.
    *
    * The write is ONE single-task job: the staged rows already sit on the
    * driver, so a global `orderBy` would only add a range-sampling job
    * and a shuffle. Coalescing to one partition and sorting it by
    * (day, ts, seq) gives the partitioned writer its day order and
    * writes one file per day leaf with rows in (ts, seq) order, so each
    * file's ts range is disjoint from every other file this flush writes
    * — the contract [[graft.sources.Compaction]] keeps. */
  private def flush(book: String): Unit =
    books.get(book).filter(_.nonEmpty).foreach { buf =>
      import graft.sources.TickStore.{DayCol, dayOf, dayOfMs}
      val t0 = System.nanoTime()
      val maxTs = storedMaxTs(book)
      val fresh = buf.filter(_.ts > maxTs).toSeq
      if (fresh.nonEmpty)
        spark.createDataset(fresh)(updateEncoder).toDF()
          .withColumn(DayCol, dayOf(col("ts")))
          .coalesce(1)
          .sortWithinPartitions(DayCol, "ts", "seq")
          .write.mode("append")
          .partitionBy(DayCol)
          .parquet(fsPath(book))
      flushCount.incrementAndGet()
      flushDroppedRows.addAndGet((buf.size - fresh.size).toLong)
      flushNanos.addAndGet(System.nanoTime() - t0)
      buf.clear()
      if (autoCompact && fresh.nonEmpty)
        maybeScheduleCompaction(book, fresh.map(u => dayOfMs(u.ts)).distinct)
    }

  private val flushCount = new java.util.concurrent.atomic.AtomicLong
  private val flushNanos = new java.util.concurrent.atomic.AtomicLong
  private val flushDroppedRows = new java.util.concurrent.atomic.AtomicLong
  /** Lifetime flush counters: flushes that had staged rows, their wall
    * time, and the staged rows S6 dropped for not being newer than the
    * stored max. Kept out of INFO, whose bytes match the reference. */
  private[graft] def flushStats: Engine.FlushStats =
    Engine.FlushStats(flushCount.get(), flushNanos.get() / 1e9,
      flushDroppedRows.get())

  /** The max `ts` on disk for a book (Long.MinValue when it has none),
    * from parquet footer statistics. `day` is `floor(ts / 86400000)`, so
    * the max sits in the highest `day=` leaf holding rows — not always
    * the highest `day=` dir: Archiver's `removeLocal` can empty one.
    * Legacy root-level flat files can hold any ts and are always read.
    * A leaf whose footers lack `ts` statistics falls back to a Spark
    * `max` over that leaf alone. Runs under the
    * READ side of [[swapGate]], so a compaction or archival swap never
    * lands between the listing and the footer reads. */
  private def storedMaxTs(book: String): Long = withSwapRead {
    val prefix = s"${graft.sources.TickStore.DayCol}="
    val dayLeaves = Option(new java.io.File(fsPath(book)).listFiles())
      .getOrElse(Array.empty).toSeq
      .filter(d => d.isDirectory && d.getName.startsWith(prefix))
      .flatMap(d => d.getName.drop(prefix.length).toLongOption.map(_ -> d))
      .sortBy(-_._1)
    val newestDay = dayLeaves.iterator
      .map { case (_, d) => maxTsOf(parquetFilesIn(d).toSeq) }
      .find(_ > Long.MinValue).getOrElse(Long.MinValue)
    math.max(newestDay, maxTsOf(legacyFlatFiles(book).toSeq))
  }

  /** Max `ts` over a set of parquet files (Long.MinValue when they hold
    * no rows): footer statistics per row group, or one Spark `max` over
    * the set when any row group lacks them. */
  private def maxTsOf(files: Seq[java.io.File]): Long = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    // session Hadoop conf, as Tables' footer probe: spark.hadoop.*
    // settings reach the read
    val conf = spark.sparkContext.hadoopConfiguration
    val fromFooters: Seq[Option[Long]] = files.flatMap { f =>
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f.getPath), conf))
      try r.getFooter.getBlocks.asScala.toSeq.filter(_.getRowCount > 0)
        .map { rg =>
          rg.getColumns.asScala.find(_.getPath.toDotString == "ts")
            .map(_.getStatistics)
            .filter(s => s != null && s.hasNonNullValue)
            .map(_.genericGetMax)
            .collect { case l: java.lang.Long => l.longValue }
        }
      finally r.close()
    }
    if (fromFooters.forall(_.isDefined))
      fromFooters.flatten.foldLeft(Long.MinValue)(math.max)
    else {
      val m = spark.read.parquet(files.map(_.getPath): _*)
        .agg(max(col("ts"))).head()
      if (m.isNullAt(0)) Long.MinValue else m.getLong(0)
    }
  }

  /** Runs `body` holding the READ side of [[swapGate]]. The barging
    * `tryLock` never queues behind a waiting swap: a caller already
    * inside the engine monitor (every `execute`) must not wait on a swap
    * that itself waits on a reader blocked on that monitor. It only
    * spins while a swap actually holds the write side, and swaps take
    * no engine monitor. Reentrant for Wire threads, which already hold
    * the read side. */
  private def withSwapRead[T](body: => T): T = {
    val read = swapGate.readLock()
    while (!read.tryLock()) Thread.sleep(1L)
    try body finally read.unlock()
  }

  // ---- auto-compaction (the compaction consequence of autoflush's
  // one-file-per-day-per-flush discipline, VERDICT r10 gap #2): a
  // sustained ingest must not accumulate unbounded small files.
  // Compaction CANNOT run on the flushing thread — Wire holds the READ
  // side of swapGate across execute (FLUSH included), and compactBook
  // takes the WRITE side for its swaps; an RRWL read never upgrades, so
  // an inline call would self-deadlock. A single daemon worker runs the
  // rewrites instead: flush only checks the cheap per-leaf file counts
  // and enqueues; compactingBooks already makes overlapping rewrites of
  // one book a no-op, and queuedCompactions keeps a hot book from
  // stacking duplicate jobs behind the worker.

  private lazy val compactionWorker =
    java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-auto-compaction")
      t.setDaemon(true)
      t
    })
  private val queuedCompactions =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Whether any of the JUST-FLUSHED day leaves holds more parquet
    * files than the policy bound. Scoped to the flush's own days — a
    * flush can only have grown the leaves it wrote, so the check stays
    * O(flushed-days) instead of walking a book's whole multi-year
    * `day=` history on every flush. (compactBook itself still sweeps
    * every leaf once it runs.) */
  private def leafOverPolicy(book: String, days: Seq[Long]): Boolean =
    days.exists { day =>
      parquetFilesIn(new java.io.File(fsPath(book),
        s"${graft.sources.TickStore.DayCol}=$day")).length >
        compactMaxLeafFiles
    }

  /** Auto-compactions that threw, and the last failure — surfaced via
    * [[autoCompactionFailures]] so a persistently failing book (corrupt
    * leaf, IO errors) is VISIBLE instead of silently re-queueing on
    * every flush while small files pile up. */
  private val compactFailCount = new java.util.concurrent.atomic.AtomicLong
  @volatile private var compactLastError: String = ""
  private[graft] def autoCompactionFailures: (Long, String) =
    (compactFailCount.get(), compactLastError)

  private def maybeScheduleCompaction(book: String,
      days: Seq[Long]): Unit =
    if (leafOverPolicy(book, days) && queuedCompactions.add(book))
      compactionWorker.execute { () =>
        try compactBook(book, compactTargetBytes)
        catch {
          case e: Throwable =>
            compactFailCount.incrementAndGet()
            compactLastError = s"$book: ${e.getMessage}"
            System.err.println(
              s"[engine] auto-compaction failed for book=$book: $e")
        }
        finally queuedCompactions.remove(book)
      }

  /** Test/ops hook: wait until every auto-compaction enqueued so far has
    * finished (FIFO single worker — a marker task drains the queue). */
  private[graft] def awaitAutoCompaction(timeoutMs: Long = 120000L): Unit =
    compactionWorker.submit(new Runnable { def run(): Unit = () })
      .get(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)

  /** An [[Archiver]] for this engine's data folder, wired to THIS engine
    * as the swap lock (S17): local deletes exclude readers exactly like
    * the compaction swap. Not started — call `.start(intervalSecs)` for
    * the background sweep or `.scanOnce()`/`.exitHook()` directly. */
  def newArchiver(destUri: String, minFileSize: Long = 1L << 20,
      removeLocal: Boolean = false): Archiver =
    new Archiver(spark, dtfFolder, destUri, minFileSize, removeLocal,
      swapLock = swapGate.writeLock())

  /** Books with a compaction in flight — enforces the single-compactor-
    * per-book contract Compaction documents (two concurrent rewrites
    * would clobber each other's `.compact`/`.old` staging dirs). */
  private val compactingBooks =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Compact a book's parquet directory into ≈`targetBytes` files.
    * Runs the Spark rewrite unlocked and passes [[swapGate]]'s WRITE
    * lock for the rename swap — Wire holds the READ side from GET
    * execution through row materialization, so no reader's captured
    * file listing can straddle the swap (the round-4 ADVICE race), and
    * unlike the r5 monitor scheme the swap waits on readers instead of
    * readers serializing every other connection's commands behind the
    * engine monitor. A second concurrent call for the SAME book is a
    * no-op returning (0, 0) — the staging dirs are per-book, so two
    * rewrites must never overlap. Returns (files before, after). */
  def compactBook(book: String,
      targetBytes: Long = 128L << 20): (Int, Int) =
    if (!hasFs(book)) (0, 0)
    else if (!compactingBooks.add(book)) (0, 0)
    else
      try {
        // legacy flat files first: fold pre-`day=` rows into the
        // partition tree (fsDf reads a mixed dir correctly via explicit
        // union, but only migration restores plan-time day pruning and
        // removes the silent-ignore trap for external readers); the
        // per-leaf compaction right after restores the disjoint
        // per-file ts-range contract migration may dent
        graft.sources.Compaction.migrateFlatToPartitioned(spark,
          fsPath(book), swapLock = swapGate.writeLock())
        graft.sources.Compaction.compactPartitioned(spark, fsPath(book),
          targetBytes, swapLock = swapGate.writeLock())
      } finally compactingBooks.remove(book)

  /** A [[MetricsRecorder]] for this engine (T7 — the influx plugin's
    * history recorder). Not started — call `.start(intervalSecs)` for
    * the background sweep or `.pushOnce()` directly. */
  def newMetricsRecorder(destUri: String,
      db: String = "tectonic"): MetricsRecorder =
    new MetricsRecorder(spark, this, destUri, db)

  /** Per-book (disk bytes, in-mem row count) snapshot — the reference
    * broker's `FetchSizes` reply the influx plugin consumes
    * (`plugins/influx.rs:20-31`). Books seen on disk but not yet in the
    * mem map are included (size 0 mem). */
  def bookSizes(): Seq[(String, Long, Long)] = {
    // Snapshot the mem map under the monitor ONLY — the disk walk below
    // grows with book/file count, and holding the engine lock for its
    // duration would stall every command (inserts included) once per
    // metrics sweep. The walk then runs lock-free on the copy; a book
    // flushed mid-walk just lands in the next sweep's numbers, which is
    // the same monotone-snapshot semantics the reference's async
    // FetchSizes reply has.
    val memSizes: Map[String, Long] = synchronized {
      books.iterator.map { case (b, buf) => b -> buf.size.toLong }.toMap
    }
    def diskBytes(book: String): Long = {
      // recursive: flush writes day= partition subdirs inside the book
      def walk(f: java.io.File): Long =
        if (f.isFile)
          (if (f.getName.endsWith(".parquet")) f.length() else 0L)
        else Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      walk(new java.io.File(fsPath(book)))
    }
    // skip compaction/migration staging siblings ('book=X.stage_*',
    // '*.compact', '*.old', '*.migrate') — a sweep concurrent with a
    // rewrite must not report phantom books
    val fsBooks = Option(new java.io.File(dtfFolder).listFiles())
      .getOrElse(Array.empty).toSeq
      .filter(d => d.isDirectory && d.getName.startsWith("book=") &&
        !graft.sources.Compaction.isStagingName(d.getName))
      .map(_.getName.stripPrefix("book="))
    (memSizes.keys.toSeq ++ fsBooks).distinct.sorted.map { b =>
      (b, diskBytes(b), memSizes.getOrElse(b, 0L))
    }
  }

  def drainSubscription(book: String): Seq[Update] = {
    val out = subscribers.get(book).map(_.toSeq).getOrElse(Seq.empty)
    subscribers.get(book).foreach(_.clear())
    out
  }

  /** INFO — the reference's field set (`state.rs:377-435`): per-book
    * `in_memory` (staging rows) and `count` (lifetime nominal count), plus
    * a `meta` object (connection count, subscription count, wall seconds,
    * autoflush settings, folder, totals). */
  private def info(): String = {
    // byte-parity with `state.rs:379-435`, including the pretty-printed
    // whitespace and the reference's quirk of binding the per-book
    // `"in_memory"` key to the staging-row COUNT (vec.len()), not a bool
    val rows = books.map { case (name, buf) =>
      "{\n    \"name\": \"" + name + "\",\n    \"in_memory\": " + buf.size +
        ",\n    \"count\": " + nominal.getOrElse(name, 0L) + "\n  }"
    }.mkString(", ")
    val totalMem = books.valuesIterator.map(_.size.toLong).sum
    val totalCount = nominal.valuesIterator.sum
    val meta =
      "{\n    \"clis\": " + connections.get() +
        ",\n    \"subs\": " + subscribers.size +
        ",\n    \"ts\": " + (System.currentTimeMillis() / 1000) +
        ",\n    \"autoflush_enabled\": " + autoflush +
        ",\n    \"autoflush_interval\": " + flushInterval +
        ",\n    \"dtf_folder\": \"" + dtfFolder + "\"" +
        ",\n    \"total_in_memory_count\": " + totalMem +
        ",\n    \"total_count\": " + totalCount + "\n  }"
    "{\n  \"meta\": " + meta + ",\n  \"dbs\": [" + rows + "]\n}\n"
  }

  /** Timer tick (T8, `plugins/history.rs:6-16`): snapshot per-book in-mem
    * counts into the ring buffer. */
  def recordHistory(nowMs: Long): Unit =
    books.foreach { case (name, buf) =>
      val q = history.getOrElseUpdate(name, mutable.ArrayDeque.empty)
      q.append((nowMs, buf.size.toLong))
      while (q.size > historyCapacity) q.removeHead()
    }

  /** PERF — the reference's array-of-objects shape with SECOND-granular
    * keys: `[{"book": {"<ts_secs>":count, ...}}, ...]` (`state.rs:444-460`:
    * `as_secs`, objects joined with ", "). */
  private def perf(): String =
    history.map { case (n, q) =>
      val inner = q.map { case (ts, c) => s""""${ts / 1000}":$c""" }
        .mkString(", ")
      s"""{"$n": {$inner}}"""
    }.mkString("[", ", ", "]\n")
}

object Engine {
  /** Rust `{}` Display for doubles (`update.rs:145-168` renders ts/price/
    * size with `format!("{}")`): plain decimal notation with the shortest
    * round-trip digits and no trailing ".0" — never scientific. Java's
    * `Double.toString` supplies the shortest digits; BigDecimal re-expands
    * its scientific form to plain notation. */
  def rustRepr(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isPosInfinity) "inf"
    else if (d.isNegInfinity) "-inf"
    else {
      val s = new java.math.BigDecimal(java.lang.Double.toString(d))
        .toPlainString
      if (s.contains('.'))
        s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
      else s
    }

  /** Lifetime flush counters of one engine ([[Engine.flushStats]]). */
  final case class FlushStats(flushes: Long, wallSeconds: Double,
      droppedRows: Long)

  /** The reference's `PRICE_DECIMALS` (`state.rs:23`) — every book's
    * orderbook discretizes prices at 10 decimals. */
  val PriceDecimals = 10

  /** The reference's `HELP_STR` byte-for-byte (`handler.rs:13-15`). */
  val HelpText: String =
    "\n    PING, INFO, USE [db], CREATE [db],\n" +
      "    ADD [ts],[seq],[is_trade],[is_bid],[price],[size];\n" +
      "    FLUSH, FLUSH ALL, GET ALL, GET [count], CLEAR"
}
