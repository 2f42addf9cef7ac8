package perfbench

import java.util.SplittableRandom
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.model.Update
import graft.server.{Command, CommandParser, ReqCount, Session, Wire}

/** `wire`: the tick database over its wire protocol, in two phases on one
  * engine with autoflush and auto-compaction on.
  *
  *  1. Ingest ([[Ingest.phase]]): pipelined raw inserts, two whole
  *     autoflush cycles and a half, then FLUSH ALL. The rate is rows acked
  *     per second.
  *  1. Serve, for what the ingest phase left of `--seconds` (at least
  *     half of it): one reader connection runs a closed loop of a seeded
  *     mix, GET n FROM a TO b (DTF, JSON or CSV; widths from a minute to a
  *     day; n in 10/100/1000) over the preloaded ticks, with one OB among the
  *     first requests; one writer connection inserts newer ticks into
  *     random books at a fixed open-loop rate. The latency is the GET round
  *     trip. GET ranges end before the first tick inserted after set-up,
  *     so every GET's rows are known exactly.
  *
  * Set-up, three times on a fresh engine: preload `PreloadRows` ticks per
  * book (about three days) in-process and flush them, then warm the insert
  * path with two windows and the read path with one GET per format. */
object Serve {
  val PreloadRows = 5000
  val MeanGapMs = 50000
  val WriterRate = 200.0
  /** The one OB of a run is its `ObAt`-th request. OB reads a whole book,
    * about ten GETs' worth, and leaves a few tens of MB for Spark's cleaner,
    * so runs that did two would differ in both time and heap. */
  val ObAt = 8
  val Widths: Seq[Long] = Seq(60L, 600L, 3600L, 6 * 3600L, 86400L)
  val Limits: Seq[Int] = Seq(10, 100, 1000)
  val Formats: Seq[String] = Seq("", "", "", " AS JSON", " AS CSV")
  val OpTimeoutMs = 30000

  /** One reader request: the command and, for a GET, the expected
    * (row count, first (ts, seq), last (ts, seq)). */
  final case class Req(cmd: String, book: String,
      want: Option[(Int, (Long, Long), (Long, Long))])

  /** The seeded reader mix over the preloaded ticks. */
  final class Requests(preload: IndexedSeq[Array[Update]], seed: Long) {
    private val rnd = new SplittableRandom(seed)
    private var n = 0
    def next(): Req = {
      n += 1
      val b = rnd.nextInt(4)
      val rows = preload(b)
      if (n == ObAt) Req(s"OB ${Gen.Books(b)}", Gen.Books(b), None)
      else {
        val w = Widths(rnd.nextInt(Widths.size))
        val n = Limits(rnd.nextInt(Limits.size))
        val f = Formats(rnd.nextInt(Formats.size))
        val lo = rows.head.ts / 1000
        val a = lo + rnd.nextLong(rows.last.ts / 1000 - w - lo)
        val in = rows.filter(u => u.ts >= a * 1000 && u.ts <= (a + w) * 1000)
          .take(n)
        Req(s"GET $n FROM $a TO ${a + w}$f", Gen.Books(b),
          Some(summary(in.toSeq.map(u => (u.ts, u.seq)))))
      }
    }
  }

  /** A reader connection and the book its session is on. */
  final class Reader(port: Int) {
    var conn = new WireConn(port, OpTimeoutMs)
    var book = ""
    def use(b: String): Unit = if (b != book) {
      val (ok, r) = conn.cmd(s"USE $b")
      require(ok, s"USE $b failed: $r")
      book = b
    }
    def reconnect(): Unit = {
      conn.close(); conn = new WireConn(port, OpTimeoutMs); book = ""
    }
  }

  def run(spark: SparkSession, ctx: Ctx): Unit = {
    val streams = Gen.streams(ctx.seed, 2, Gen.T0, MeanGapMs)
    val preload = streams.map(_.take(PreloadRows))
    val rows = new Ingest.RoundRobin(streams)
    var live: Ingest.Live = null
    var reader: Reader = null

    val setups = (1 to 3).map { i =>
      if (live != null) { reader.conn.close(); live.close() }
      Stats.time {
        live = Ingest.start(spark, s"${ctx.dir}/wire-$i")
        val e = live.engine
        e.synchronized {
          preload.foreach(_.foreach(u =>
            e.execute(Command.Insert(Some(u), Some(u.symbol)))))
          require(e.execute(Command.Flush(ReqCount.All)) == e.Text("1"))
        }
        rows.sent = 0
        (1 to 2).foreach(_ => Ingest.window(ctx, live, rows, Ingest.Window))
        reader = new Reader(live.server.boundPort)
        reader.use(Gen.Books(0))
        Formats.distinct.foreach { f =>
          val c = s"GET 100 FROM ${preload(0)(100).ts / 1000} TO " +
            s"${preload(0)(2000).ts / 1000}$f"
          require(reader.conn.cmd(c)._1, c)
        }
      }._2
    }
    ctx.setSetup(setups)
    val warmRows = rows.sent

    ctx.beginMeasure()
    val ing = Ingest.phase(ctx, live, rows)
    val srv = servePhase(ctx, live, reader, streams,
      new Requests(preload, ctx.seed * 31L + 5L),
      math.max(ctx.seconds - ing.durableS, ctx.seconds / 2))
    ctx.endMeasure()
    val ingested = rows.sent - warmRows
    ctx.attempted += ingested + 1 + srv.requests + srv.written
    ctx.failed += ing.failed + (if (ing.flushOk) 0 else 1) + srv.failed

    // output checks (GETs were checked as they came back): after a final
    // FLUSH ALL the store holds exactly the preload and every acked insert
    val (fok, _) = reader.conn.cmd("FLUSH ALL")
    val (cok, cnt) = reader.conn.cmd("COUNT ALL")
    val stored = scala.util.Try(cnt.trim.toLong).getOrElse(-1L)
    val acked = 4L * PreloadRows + warmRows + ing.acked + srv.written - srv.writerFailed
    ctx.check(fok && cok, s"FLUSH ALL / COUNT ALL failed: $cnt")
    ctx.check(ing.failed + srv.writerFailed > 0 || stored == acked,
      s"COUNT ALL = $stored but $acked rows were acked")
    ctx.check(ing.flushOk, "FLUSH ALL after the ingest phase failed")
    val disk = StoreStats(Gen.Books.map(b => s"${live.dir}/book=$b"))

    val m = ctx.metrics
    m("rate_per_s") = ing.acked / ing.insertS
    m("latency_p50_ms") = Stats.median(srv.getMs)
    m("serve.get_p90_ms") = Stats.pct(srv.getMs, 0.9)
    m("bytes_per_event") = disk.bytes.toDouble / stored
    m("ingest.durable_rows_per_s") = (ingested - ing.failed) / ing.durableS
    m("ingest.window_p50_ms") = Stats.median(ing.windowMs)
    m("ingest.window_p99_ms") = Stats.pct(ing.windowMs, 0.99)
    m("server.flush_count") = (Ingest.Cycles * 4 + 4).toDouble
    m("server.mem_rows_at_get") = Stats.median(srv.stagedAtGet)
    m("serve.ob_p50_ms") = Stats.median(srv.obMs)
    m("serve.insert_p99_ms") = Stats.pct(srv.insertMs, 0.99)
    m("sources.disk_bytes") = disk.bytes.toDouble
    m("sources.files_per_day_leaf") = disk.filesPerLeaf
    ctx.note(f"wire ingest: $ingested rows in " +
      f"${ing.windowMs.size} windows, ${m("rate_per_s")}%.0f rows/s acked " +
      f"(paper anchor: 600000 inserts/thread/s), " +
      f"${m("ingest.durable_rows_per_s")}%.0f rows/s durable, " +
      f"${m("bytes_per_event")}%.2f B/event on disk (paper anchor: 12)")
    ctx.note(f"wire serve: ${srv.getMs.size} GETs (p50 " +
      f"${m("latency_p50_ms")}%.0f ms, p90 ${m("serve.get_p90_ms")}%.0f ms), " +
      f"${srv.obMs.size} OBs, ${srv.written} inserts (p99 " +
      f"${m("serve.insert_p99_ms")}%.0f ms; generator late by at most " +
      f"${srv.lateMs}%.0f ms), ${srv.getRows} GET rows")

    if (ctx.traced) {
      Ingest.probe(ctx, live, rows)
      probe(ctx, live, new Requests(preload, ctx.seed * 31L + 6L), reader)
    }
    reader.conn.close()
    live.close()
  }

  final case class ServeResult(getMs: Seq[Double], obMs: Seq[Double],
      insertMs: Seq[Double], stagedAtGet: Seq[Double], requests: Long,
      failed: Long, written: Long, writerFailed: Long, getRows: Long,
      lateMs: Double)

  def servePhase(ctx: Ctx, live: Ingest.Live, reader: Reader,
      streams: IndexedSeq[Gen.BookStream], reqs: Requests,
      seconds: Double): ServeResult = {
    // the open-loop writer: frame i is due at t0 + i / WriterRate; its
    // latency runs from that due time to its reply
    val wrnd = new SplittableRandom(ctx.seed * 37L + 11L)
    val writer = new WireConn(live.server.boundPort, OpTimeoutMs)
    val stop = new AtomicBoolean(false)
    val sent = new AtomicLong(0)
    val writerFailed = new AtomicLong(0)
    val lateNs = new AtomicLong(0)
    val insertMs = ArrayBuffer.empty[Double]
    // rows acked per book: all of them are still staged, since the ingest
    // phase ended with FLUSH ALL and no autoflush fires in this phase
    val bookOf = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
    val staged = new java.util.concurrent.atomic.AtomicLongArray(4)
    val t0 = System.nanoTime()
    def due(i: Long) = t0 + (i * 1e9 / WriterRate).toLong
    val sender = new Thread(() => {
      var i = 0L
      while (!stop.get()) {
        val wait = due(i) - System.nanoTime()
        if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
        else lateNs.set(math.max(lateNs.get, -wait))
        val b = wrnd.nextInt(4)
        val u = streams(b).next()
        bookOf.put(i, b)
        writer.send(Wire.encodeInsertInto(Some(u.symbol), u))
        writer.flush()
        i += 1
        sent.set(i)
      }
    }, "perfbench-writer")
    val receiver = new Thread(() => {
      var i = 0L
      try while (!(stop.get() && i >= sent.get())) {
        if (i < sent.get()) {
          val ok = writer.reply()._1
          insertMs += (System.nanoTime() - due(i)) / 1e6
          if (!ok) writerFailed.incrementAndGet()
          else staged.incrementAndGet(bookOf.remove(i))
          i += 1
        } else Thread.sleep(1)
      } catch {
        case e: java.io.IOException =>
          ctx.note(s"writer: $e")
          writerFailed.addAndGet(sent.get() - i)
      }
    }, "perfbench-writer-acks")
    Seq(sender, receiver).foreach { t => t.setDaemon(true); t.start() }

    val getMs, obMs, stagedAtGet = ArrayBuffer.empty[Double]
    var requests, failed, getRows = 0L
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val req = reqs.next()
      requests += 1
      try {
        reader.use(req.book)
        val stagedNow = staged.get(Gen.Books.indexOf(req.book)).toDouble
        val ((ok, body), dt) = Stats.time(Trace.span("server", "wire_request") {
          reader.conn.request(req.cmd.getBytes("UTF-8"))
        })
        if (!ok) failed += 1
        req.want match {
          case None =>
            obMs += dt * 1e3
            ctx.check(!ok || new String(body, "UTF-8")
              .startsWith("{\"price_decimals\":"), s"${req.cmd}: bad OB reply")
          case Some(want) =>
            getMs += dt * 1e3
            stagedAtGet += stagedNow
            if (ok) {
              val got = Trace.span("dtf", "client_decode")(decode(req.cmd, body))
              getRows += got.length
              ctx.check(summary(got) == want,
                s"${req.cmd} on ${req.book}: got ${summary(got)}, want $want")
            }
        }
      } catch {
        case e: java.io.IOException =>
          ctx.note(s"reader: ${req.cmd}: $e")
          failed += 1
          reader.reconnect()
      }
    }
    stop.set(true)
    sender.join(OpTimeoutMs); receiver.join(OpTimeoutMs)
    writer.close()
    ServeResult(getMs.toSeq, obMs.toSeq, insertMs.toSeq, stagedAtGet.toSeq,
      requests, failed + writerFailed.get, sent.get, writerFailed.get,
      getRows, lateNs.get / 1e6)
  }

  /** Decoded (ts, seq) pairs of a GET reply in its format. */
  def decode(cmd: String, body: Array[Byte]): Seq[(Long, Long)] =
    if (cmd.endsWith(" AS JSON"))
      JsonRow.findAllMatchIn(new String(body, "UTF-8"))
        .map(m => (ms(m.group(1)), m.group(2).toLong)).toSeq
    else if (cmd.endsWith(" AS CSV"))
      new String(body, "UTF-8").split('\n').filter(_.nonEmpty).map { l =>
        val f = l.split(',')
        (ms(f(0)), f(1).toLong)
      }.toSeq
    else Wire.parseStream(body).map(u => (u.ts, u.seq))

  private val JsonRow = "\"ts\":([0-9.]+),\"seq\":([0-9]+)".r
  private def ms(seconds: String): Long =
    new java.math.BigDecimal(seconds).movePointRight(3).longValueExact()

  def summary(rows: Seq[(Long, Long)]): (Int, (Long, Long), (Long, Long)) =
    (rows.length, rows.headOption.getOrElse((0L, 0L)),
      rows.lastOption.getOrElse((0L, 0L)))

  /** Traced runs only, after the measured phases: replays reader requests
    * in-process, timing parse, execute (up to the Frame), draining the
    * Frame and DTF encoding, and sends the same command over the wire; the
    * difference is the wire's share. */
  def probe(ctx: Ctx, live: Ingest.Live, reqs: Requests, reader: Reader): Unit = {
    import scala.jdk.CollectionConverters._
    val engine = live.engine
    val parseUs, planMs, execMs, encMs, obS, wireMs, bytesPerRow =
      ArrayBuffer.empty[Double]
    val session = new Session
    (1 to 24).foreach { _ =>
      val req = reqs.next()
      session.book = req.book
      val (cmd, pt) = Stats.time(Trace.span("server", "parse")(
        CommandParser.parse(req.cmd)))
      parseUs += pt * 1e6
      // the same command over the wire before and after the in-process
      // run, so neither side alone pays for cold caches
      def wire(): Double = {
        reader.use(req.book)
        Stats.time(reader.conn.request(req.cmd.getBytes("UTF-8")))._2
      }
      val wireBefore = wire()
      val gate = engine.swapGate.readLock()
      gate.lock()
      val inProcS = try {
        val (reply, et) = Stats.time(Trace.span("server", "execute") {
          engine.synchronized(engine.execute(cmd, session))
        })
        reply match {
          case engine.Text(_) => obS += et; pt + et
          case engine.Frame(df, _, _) =>
            planMs += et * 1e3
            val (_, xt) = Stats.time(Trace.span("server", "drain_frame") {
              if (df.schema.fields.length == 1)
                df.toLocalIterator().asScala.foreach(_.getString(0))
              else {
                // drained as the server drains it, then encoded apart
                import df.sparkSession.implicits._
                val rows = df.as[Update].toLocalIterator().asScala.toArray
                val (bytes, ct) = Stats.time(Trace.span("dtf", "encode") {
                  Wire.serializeBatches(rows.iterator)
                })
                encMs += ct * 1e3
                if (rows.nonEmpty) bytesPerRow += bytes.length.toDouble / rows.length
              }
            })
            execMs += xt * 1e3
            pt + et + xt
          case other => ctx.check(false, s"probe ${req.cmd}: $other"); 0.0
        }
      } finally gate.unlock()
      val wt = Stats.median(Seq(wireBefore, wire()))
      if (req.want.isDefined) wireMs += (wt - inProcS) * 1e3
    }
    session.book = Gen.Books(0)
    obS += Stats.time(Trace.span("server", "execute") {
      engine.synchronized(engine.execute(Command.Orderbook(None), session))
    })._2
    val m = ctx.metrics
    m("server.parse_us") = Stats.median(parseUs.toSeq)
    m("server.get_plan_ms") = Stats.median(planMs.toSeq)
    m("server.get_exec_ms") = Stats.median(execMs.toSeq)
    m("server.ob_s") = Stats.median(obS.toSeq)
    m("server.wire_overhead_ms") = Stats.median(wireMs.toSeq)
    m("dtf.encode_ms") = Stats.median(encMs.toSeq)
    m("dtf.bytes_per_row") = Stats.median(bytesPerRow.toSeq)
  }
}
