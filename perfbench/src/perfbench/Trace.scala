package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call from the benchmark into a program module. Spans nest
  * per thread: `parent` is the span that was open on the same thread when
  * this one started (0 for a root). */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Off in untraced runs, where `span` is a plain
  * call; spans are written out once, when the run ends. */
object Trace {
  @volatile var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0)
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](layer: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val stack = open.get
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        spans.synchronized {
          spans += Span(id, stack.headOption.getOrElse(0L), layer, name,
            t0, t1)
        }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def drop(layer: String): Unit = spans.synchronized {
    spans.filterInPlace(_.layer != layer)
  }

  /** Per-layer self time in seconds: each span's duration minus the
    * durations of its direct children (children nest inside their parent
    * on one thread, so they never overlap each other). */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val childNs = ss.groupBy(_.parent).view.mapValues(_.map(_.durNs).sum)
    ss.groupBy(_.layer).view.mapValues(_.map { s =>
      (s.durNs - childNs.getOrElse(s.id, 0L)).toDouble / 1e9
    }.sum).toMap
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},""" +
        s""""layer":"${s.layer}","name":"${Json.esc(s.name)}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Spark-side counters from one SparkListener and one
  * QueryExecutionListener, read as deltas around the measured phase. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val executorRunMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val planNs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      executorRunMs.addAndGet(m.executorRunTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit =
    planNs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def snapshot: Map[String, Double] = Map(
    "spark.jobs" -> jobs.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.executor_run_s" -> executorRunMs.get / 1e3,
    "spark.plan_ms" -> planNs.get / 1e6,
    "spark.shuffle_write_mb" -> shuffleWriteBytes.get / 1048576.0,
    "spark.spill_mb" -> spillBytes.get / 1048576.0,
    "jvm.gc_s" -> Jvm.gcSeconds)

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
}

/** JVM heap and GC readings. */
object Jvm {
  /** Heap in use after a full collection, in MB: the live data. The
    * second collection also frees what Spark's cleaner released after
    * the first one cleared its weak references. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
}
