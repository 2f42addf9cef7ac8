package graft

import graft.model.Update
import graft.operators.{EventsOps, Orderbook}

class OrderbookSpec extends SparkSpec {

  private def book(df: org.apache.spark.sql.DataFrame) =
    df.select("symbol", "is_bid", "level", "size").collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getLong(2),
        r.getDouble(3))).toSeq.sorted

  /** Handcrafted replay covering set / overwrite / delete / trade-subtract /
    * trade-on-missing-level (`orderbook.rs:46-63`), and trades summed
    * exactly before one subtraction: 3.0 − 0.1 − 0.2 is 2.7, not the
    * 2.6999999999999997 of two double subtractions. */
  test("snapshot semantics: set, delete, trade subtraction") {
    val ups = Seq(
      Update("s", 1, 1, false, true, 10.00, 5.0),  // set bid 1000 -> 5
      Update("s", 2, 2, false, false, 11.00, 3.0), // set ask 1100 -> 3
      Update("s", 3, 3, true, true, 10.00, 2.0),   // trade bid -> 3
      Update("s", 4, 4, false, true, 10.50, 4.0),  // set bid 1050 -> 4
      Update("s", 5, 5, false, true, 10.50, 0.0),  // delete bid 1050
      Update("s", 6, 6, true, false, 12.00, 9.0),  // trade on missing ask: no-op
      Update("s", 7, 7, false, true, 9.00, 7.0),   // set bid 900 -> 7
      Update("s", 8, 8, false, true, 9.00, 6.0),   // overwrite bid 900 -> 6
      Update("s", 9, 9, false, false, 11.50, 3.0), // set ask 1150 -> 3
      Update("s", 10, 10, true, false, 11.50, 0.1), // trade ask 1150
      Update("s", 11, 11, true, false, 11.50, 0.2)) // -> 3.0 - 0.3
    val expected = Seq(
      ("s", false, 1100L, 3.0),
      ("s", false, 1150L, 2.7),
      ("s", true, 900L, 6.0),
      ("s", true, 1000L, 3.0))
    assert(book(Orderbook.snapshot(updatesDf(ups))) === expected)
    assert(book(Orderbook.replayFold(updatesDf(ups))) === expected)
  }

  test("relational snapshot == sequential replay on sf0.001 updates") {
    val ups = Tables.updates(spark, sf())
    val a = book(Orderbook.snapshot(ups))
    val b = book(Orderbook.replayFold(ups))
    assert(a.nonEmpty)
    assert(a === b)
  }

  test("book top invariants on sf0.001") {
    val top = Orderbook.top(Orderbook.snapshot(Tables.updates(spark, sf())))
    top.collect().foreach { r =>
      val (bb, ba) = (r.getAs[Long]("bb_raw"), r.getAs[Long]("ba_raw"))
      val mid = r.getAs[Double]("mid")
      assert(mid === (bb / 100.0 + ba / 100.0) / 2.0)
    }
  }

  test("event classification semantics (event.rs:28-72)") {
    import org.apache.spark.sql.functions.col
    val ups = Seq(
      Update("s", 1, 1, false, true, 10.0, 5.0), // prev 0 -> create
      Update("s", 2, 2, false, true, 10.0, 5.0), // size == prev -> cancel
      Update("s", 3, 3, true, true, 10.0, 2.0),  // trade (sets prev=2)
      Update("s", 4, 4, false, true, 10.0, 3.0), // 3 > 2 -> create
      Update("s", 5, 5, false, true, 10.0, 0.0), // zero -> cancel
      Update("s", 6, 6, false, true, 99.0, 1.0)) // fresh price -> create
    val got = EventsOps.classify(updatesDf(ups)).orderBy("seq")
      .select(col("event_class")).collect().map(_.getString(0)).toSeq
    assert(got === Seq("create", "cancel", "trade", "create", "cancel",
      "create"))
  }
}
