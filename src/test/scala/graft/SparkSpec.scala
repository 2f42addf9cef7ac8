package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.dtf.DtfCodec
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

  /** The upstream tectonicdb test book (FIXTURES.md §2), written by the
    * reference itself. It lives in the tectonicdb checkout, not in this
    * repository, so only tests whose subject is the reference's own bytes
    * read it. */
  val ReferenceFixture = "/root/reference/test/test-data/bnc_zrx_btc.dtf"

  /** [[ReferenceFixture]], or cancel the calling test where it is absent. */
  def referenceFixture(): String = {
    assume(Files.isRegularFile(Paths.get(ReferenceFixture)),
      s"upstream fixture $ReferenceFixture is absent")
    ReferenceFixture
  }

  /** A deterministic `bnc_zrx_btc` book, DTF-encoded into a new temp dir;
    * returns its path. 123 rows sorted by `(ts, seq)`, seq `7000000 + i`,
    * one row every 4 s from a minute-aligned start; trades on every third
    * row, bids on even rows, prices and sizes exact in f32. Row 10 shares
    * its ts with row 9 and row 50 with row 51, so a clip from row 10's ts
    * to row 50's counts 43 rows, not the 41 of a clip by index. Rows from
    * minute 3 on move a minute later, so minute 3 is empty and the trades
    * span minutes 0-8. Seq steps of 1 roll a batch over at least every 15
    * rows. See FIXTURES.md §2. */
  def bookFixture(): String = {
    val base = 1700000040000L // 2023-11-14T22:14:00Z
    val rows = (0 until 123).map { i =>
      val slot = i - (if (i >= 10) 1 else 0) - (if (i >= 51) 1 else 0)
      val t = slot * 4000L
      val isTrade = i % 3 == 0
      val isBid = i % 2 == 0
      val price =
        if (isTrade) 100.5 + ((i / 3) % 8 - 4) * 0.125
        else if (isBid) 100.0 - (i % 5) * 0.25
        else 101.0 + (i % 5) * 0.25
      val size = if (isTrade) 0.25 + (i % 7) * 0.5 else (i % 4) * 0.5
      Update("bnc_zrx_btc", base + t + (if (t >= 180000L) 60000L else 0L),
        7000000L + i, isTrade, isBid, price, size)
    }
    val path = Files.createTempDirectory("graft-book")
      .resolve("bnc_zrx_btc.dtf").toString
    DtfCodec.encode(path, "bnc_zrx_btc", rows)
    path
  }

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
