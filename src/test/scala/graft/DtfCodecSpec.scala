package graft

import java.nio.file.Files

import graft.dtf.DtfCodec
import graft.operators.Orderbook

class DtfCodecSpec extends SparkSpec {

  test("decode reference fixture: header metadata and rows agree") {
    val fixture = referenceFixture()
    val meta = DtfCodec.metadata(fixture)
    val ups = DtfCodec.decode(fixture)
    assert(meta.symbol === "bnc_zrx_btc")
    assert(ups.size.toLong === meta.count)
    assert(ups.nonEmpty)
    assert(ups.map(_.ts).max === meta.maxTs)
    assert(ups.map(_.ts).min === meta.minTs)
    // sorted by (ts, seq) as the format requires
    assert(ups.map(u => (u.ts, u.seq)) === ups.map(u => (u.ts, u.seq))
      .sorted)
  }

  /** The reference's book-replay sanity check on the same fixture
    * (`orderbook.rs:317-326`): after replay, best bid < best ask. */
  test("book replay on fixture: best bid < best ask") {
    val fixture = referenceFixture()
    import spark.implicits._
    val ds = DtfCodec.toDataset(spark, fixture)
    // reference uses price_decimals=10 in that test
    val top = Orderbook.top(Orderbook.snapshot(ds.toDF(), 10), 10)
      .as[(String, Long, Long, Long, Double, Double, Double)].collect()
    assert(top.length === 1)
    val (_, bbRaw, baRaw, _, bb, ba, _) = top.head
    assert(bbRaw < baRaw)
    assert(bb < ba)
  }

  test("encode/decode roundtrip preserves rows (incl. batch rollover)") {
    val ups = DtfCodec.decode(bookFixture())
    val f = Files.createTempFile("graft", ".dtf").toString
    DtfCodec.encode(f, "bnc_zrx_btc", ups)
    val back = DtfCodec.decode(f)
    assert(back === ups)
    // rollover paths: widely-spaced timestamps and seq jumps
    val wild = (0 until 1000).map { i =>
      model.Update("w", 1000000000000L + i.toLong * 100000,
        i.toLong * 40, i % 2 == 0, i % 3 == 0, 1.5f + i, 2.25)
    }
    val f2 = Files.createTempFile("graft", ".dtf").toString
    DtfCodec.encode(f2, "w", wild)
    assert(DtfCodec.decode(f2) === wild)
  }
}
