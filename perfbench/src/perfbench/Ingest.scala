package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.model.Update
import graft.server.{Command, Engine, TcpServer, Wire}

/** The ingest phase of `wire`: one connection pipelines raw-insert frames
  * (the `tdb -b` shape) in windows of `Window` frames, as a closed loop: the
  * next window is sent when every reply of the last one is in. Rows go
  * round-robin to the four books, so each book's autoflush fires once per
  * cycle of `4 * FlushInterval` rows. The phase is a fixed amount of work,
  * `Cycles` whole cycles, then half a cycle, then `FLUSH ALL`, so every run
  * does the same flushes. */
object Ingest {
  val FlushInterval = 10000
  val Window = 1024
  val OpTimeoutMs = 30000
  val CycleRows: Int = 4 * FlushInterval
  val Cycles = 2

  /** An engine with autoflush and auto-compaction on, its server, one
    * client connection, and the four books created over the wire. */
  final class Live(val dir: String, val engine: Engine, val server: TcpServer) {
    var conn = new WireConn(server.boundPort, OpTimeoutMs)
    Gen.Books.foreach { b =>
      val (ok, r) = conn.cmd(s"CREATE $b")
      require(ok, s"CREATE $b failed: $r")
    }
    def reconnect(): Unit = {
      conn.close(); conn = new WireConn(server.boundPort, OpTimeoutMs)
    }
    def close(): Unit = { conn.close(); server.stop() }
  }

  def start(spark: SparkSession, dir: String): Live = {
    val engine = new Engine(spark, dir, autoflush = true,
      flushInterval = FlushInterval.toLong, autoCompact = true)
    new Live(dir, engine, new TcpServer(engine, 0))
  }

  /** Round-robin rows over the four book streams. */
  final class RoundRobin(streams: IndexedSeq[Gen.BookStream]) {
    var sent = 0L
    def next(): Update = { val u = streams((sent % 4).toInt).next(); sent += 1; u }
  }

  final case class Result(acked: Long, failed: Long, windowMs: Seq[Double],
      insertS: Double, durableS: Double, flushOk: Boolean)

  /** Sends `n` rows as one window and waits for every reply. Returns
    * (acked, failed); a timeout reconnects and counts the window's
    * unanswered frames as failed. */
  def window(ctx: Ctx, live: Live, rows: RoundRobin, n: Int): (Int, Int) =
    Trace.span("server", "insert_window") {
      val frames = Array.fill(n) { val u = rows.next()
        Wire.encodeInsertInto(Some(u.symbol), u) }
      var got = 0
      var bad = 0
      try {
        frames.foreach(live.conn.send)
        live.conn.flush()
        while (got < n) {
          if (!live.conn.reply()._1) bad += 1
          got += 1
        }
      } catch {
        case e: java.io.IOException =>
          ctx.note(s"insert window: $e")
          live.reconnect()
      }
      (got - bad, n - got + bad)
    }

  def phase(ctx: Ctx, live: Live, rows: RoundRobin): Result = {
    val windowMs = ArrayBuffer.empty[Double]
    var acked = 0L
    var failed = 0L
    def send(total: Int): Unit = {
      var left = total
      while (left > 0) {
        val n = math.min(Window, left)
        val (r, dt) = Stats.time(window(ctx, live, rows, n))
        windowMs += dt * 1e3
        acked += r._1; failed += r._2
        left -= n
      }
    }
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    (1 to Cycles).foreach(_ => send(CycleRows))
    send(CycleRows / 2)
    val insertS = elapsed
    val flushOk = Trace.span("server", "flush_all")(live.conn.cmd("FLUSH ALL")._1)
    Result(acked, failed, windowMs.toSeq, insertS, elapsed, flushOk)
  }

  /** Traced runs only, after the measured phases: one cycle of inserts
    * made in-process, to split a row's cost into its server steps. Staging
    * is empty after a FLUSH ALL, so the last row of each book in the cycle
    * is the one whose insert runs that book's autoflush. */
  def probe(ctx: Ctx, live: Live, rows: RoundRobin): Unit = {
    val engine = live.engine
    val frames = Array.fill(CycleRows) { val u = rows.next()
      Wire.encodeInsertInto(Some(u.symbol), u) }
    val parseNs = ArrayBuffer.empty[Long]
    val cmds = frames.map { f =>
      val t0 = System.nanoTime()
      val c = Trace.span("server", "decode_insert")(Wire.decodeInsertInto(f))
      parseNs += System.nanoTime() - t0
      c.map { case (u, b) => Command.Insert(u, b) }.getOrElse(Command.BadFormat)
    }
    val perRow = ArrayBuffer.empty[Double]
    val flushS = ArrayBuffer.empty[Double]
    cmds.zipWithIndex.foreach { case (c, i) =>
      val t0 = System.nanoTime()
      Trace.span("server", "execute_insert") {
        engine.synchronized(engine.execute(c))
      }
      val dt = (System.nanoTime() - t0) / 1e9
      if (i >= cmds.length - 4) flushS += dt else perRow += dt
    }
    val m = ctx.metrics
    m("server.decode_insert_us") = parseNs.sum / 1e3 / parseNs.size
    m("server.insert_us_per_row") = perRow.sum * 1e6 / perRow.size
    m("server.flush_s") = Stats.median(flushS.toSeq)
  }
}

/** On-disk size of a store directory: parquet bytes and the mean number of
  * parquet files per leaf directory (a `day=` partition). */
final case class StoreStats(bytes: Long, filesPerLeaf: Double)

object StoreStats {
  /** Skips compaction's staging directories (their names carry a dot
    * suffix), whose files are copies in flight. */
  def apply(roots: Seq[String]): StoreStats = {
    var bytes = 0L
    val leaves = ArrayBuffer.empty[Int]
    def walk(d: java.io.File): Unit = {
      val kids = Option(d.listFiles()).getOrElse(Array.empty)
      val pq = kids.filter(f => f.isFile && f.getName.endsWith(".parquet"))
      bytes += pq.map(_.length).sum
      if (pq.nonEmpty) leaves += pq.length
      kids.filter(f => f.isDirectory && !f.getName.contains('.'))
        .foreach(walk)
    }
    roots.foreach(r => walk(new java.io.File(r)))
    StoreStats(bytes,
      if (leaves.isEmpty) 0.0 else leaves.sum.toDouble / leaves.size)
  }
}
