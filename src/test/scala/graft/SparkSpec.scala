package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Update

/** Shared local SparkSession for all suites (getOrCreate reuses one JVM-wide
  * session; sbt forks a single test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def updatesDf(rows: Seq[Update]): DataFrame = {
    import spark.implicits._
    spark.createDataset(rows).toDF()
  }

  /** The reference bar-test fixture (`tick_bars.rs:125-136` etc.):
    * 10 trades, ts=i, price=i, size=i. */
  def tenTrades(sym: String = "t"): Seq[Update] =
    (0 until 10).map(i =>
      Update(sym, i.toLong, 0L, is_trade = true, is_bid = true,
        i.toDouble, i.toDouble))

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** `body`'s result and the Spark jobs it launched, as their short call
    * sites in the order the listener bus saw them. `body` runs under a job group of
    * its own, so jobs other threads launch meanwhile are not counted
    * (Spark hands the group on to the threads a query starts for
    * itself). A marker job in a second group then drains the bus: it
    * delivers events in order, so once the marker is seen every job
    * `body` started has been seen too. */
  def jobsDuring[T](body: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val seen =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
        prop("spark.jobGroup.id").foreach { g =>
          seen.add(g -> prop("callSite.short")
            .orElse(js.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
            .getOrElse(""))
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobsDuring", interruptOnCancel = false)
      val result = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "jobsDuring marker", interruptOnCancel = false)
      try spark.range(1).count() finally sc.clearJobGroup()
      def markerSeen = seen.asScala.exists(_._1 == marker)
      val deadline = System.currentTimeMillis() + 10000L
      while (!markerSeen && System.currentTimeMillis() < deadline)
        Thread.sleep(20L)
      assert(markerSeen, "marker job never observed")
      (result, seen.asScala.collect { case (`group`, site) => site }.toList)
    } finally sc.removeSparkListener(listener)
  }
}
