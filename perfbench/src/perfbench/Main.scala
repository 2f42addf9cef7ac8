package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One JVM runs one workload once:
  *
  * {{{
  * perfbench.Main --workload <wire|analytics> --seed <n>
  *   --seconds <s> --trace <0|1> --dir <scratch dir> --out <result.json>
  * }}}
  *
  * It writes its result (metrics, correctness, counts, and for analytics
  * the oracle SQL the outputs must match) to `--out`; `run.py` finishes
  * the checks and prints the result line. */
object Main {
  /** The program modules the benchmark times calls into. */
  val Layers: Seq[String] =
    Seq("server", "dtf", "sources", "operators", "streaming", "spark")

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val ctx = new Ctx(seed = opt("seed").toLong,
      seconds = opt("seconds").toDouble, traced = opt("trace") == "1",
      dir = opt("dir"))
    Trace.enabled = ctx.traced

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${ctx.dir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${ctx.dir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (ctx.traced) ctx.counters.register(spark)
    ctx.sessionStartS = (System.nanoTime() - t0) / 1e9

    try workload match {
      case "wire" => Serve.run(spark, ctx)
      case "analytics" => Analytics.run(spark, ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.check(false, s"workload aborted: $e")
    }
    if (ctx.traced) {
      val self = Trace.selfSeconds
      Layers.foreach(l => ctx.metrics(s"$l.self_s") = self.getOrElse(l, 0.0))
      ctx.metrics("trace.overhead_pct") = ctx.traceOverheadPct()
      Trace.write(s"${ctx.dir}/spans.jsonl")
    }
    ctx.phase("done")
    val w = new java.io.PrintWriter(opt("out"), "UTF-8")
    try w.println(ctx.result()) finally w.close()
    spark.stop()
  }
}

/** Per-run state shared by the workloads: options, failure accounting,
  * output checks, and the metric map that becomes the result. */
final class Ctx(val seed: Long, val seconds: Double, val traced: Boolean,
    val dir: String) {
  var sessionStartS = 0.0
  val counters = new SparkCounters
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.ArrayBuffer.empty[String]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** Extra JSON members for `run.py` (analytics: the oracle SQL). */
  val extra = mutable.LinkedHashMap.empty[String, String]

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) synchronized { errors += what }

  def note(s: String): Unit = synchronized {
    notes += s; System.err.println(s"[bench] $s")
  }

  private val born = System.nanoTime()
  /** Logs how far into the run a phase starts (to the JVM log only). */
  def phase(s: String): Unit =
    System.err.println(f"[bench] ${(System.nanoTime() - born) / 1e9}%7.2f s: $s")

  /** setup_s: session start plus the median of repeated set-ups. */
  def setSetup(repeats: Seq[Double]): Unit = {
    phase(s"set-up done: ${repeats.map(r => f"$r%.2f").mkString(" ")}")
    metrics("setup_s") = sessionStartS + Stats.median(repeats)
  }

  private var base: Map[String, Double] = Map.empty

  private var measureStart, measureEnd = 0L

  private var heapPeak = 0.0

  /** Start of the measured phase: counter baselines. */
  def beginMeasure(): Unit = {
    phase("measure")
    base = counters.snapshot
    measureStart = System.nanoTime()
  }

  /** A point between timed phases where the live heap is read; the full
    * collection this takes is outside every timed operation. */
  def heapCheckpoint(): Unit =
    heapPeak = math.max(heapPeak, Jvm.liveHeapMb())

  /** End of the measured phase: Spark/JVM counter deltas (traced runs,
    * where the listeners are registered), and the peak of the live heap
    * over the checkpoints, this one included. */
  def endMeasure(): Unit = {
    measureEnd = System.nanoTime()
    phase("measured")
    if (traced) counters.snapshot.foreach { case (k, v) =>
      metrics(k) = v - base.getOrElse(k, 0.0)
    }
    heapCheckpoint()
    metrics("heap_peak_mb") = heapPeak
  }

  /** Tracing overhead of the measured phase, as a share of its wall time:
    * the spans it recorded times the cost of one span, timed here. */
  def traceOverheadPct(): Double = {
    val n = Trace.all.count(s => s.startNs >= measureStart && s.endNs <= measureEnd)
    val k = 200000
    val t0 = System.nanoTime()
    (1 to k).foreach(_ => Trace.span("calibration", "span")(()))
    val perSpanNs = (System.nanoTime() - t0).toDouble / k
    Trace.drop("calibration")
    100.0 * n * perSpanNs / (measureEnd - measureStart)
  }

  def result(): String = {
    val ms = metrics.map { case (k, v) => s""""$k":${Json.num(v)}""" }
    val ex = extra.map { case (k, v) => s""","$k":$v""" }.mkString
    s"""{"correct":${errors.isEmpty},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{${ms.mkString(",")}},""" +
      s""""errors":${Json.strs(errors.toSeq)},""" +
      s""""notes":${Json.strs(notes.toSeq)}$ex}"""
  }
}

object Stats {
  /** Nearest-rank percentile, p in (0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p * s.size).toInt - 1))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def str(s: String): String = "\"" + esc(s) + "\""
  def strs(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}

/** Runs each operation under a time budget, so a hang costs that
  * operation alone: the caller counts it as failed and moves on. */
object Budget {
  private val pool = java.util.concurrent.Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "perfbench-op")
    t.setDaemon(true)
    t
  })

  /** Some(result) if `f` finished within `seconds`, None if it threw or
    * ran out of time (then `onTimeout` runs, e.g. to cancel Spark jobs). */
  def run[T](seconds: Double, onTimeout: () => Unit = () => ())(f: => T)
      : Either[String, T] = {
    val fut = pool.submit(() => f)
    try Right(fut.get((seconds * 1000).toLong,
      java.util.concurrent.TimeUnit.MILLISECONDS))
    catch {
      case _: java.util.concurrent.TimeoutException =>
        onTimeout(); fut.cancel(true); Left(s"timed out after ${seconds}s")
      case e: java.util.concurrent.ExecutionException =>
        Left(String.valueOf(e.getCause))
    }
  }
}
