package graft

import java.nio.file.Files

import graft.dtf.{DtfCodec, DtfTools}
import graft.model.Candle
import graft.operators.{CandlestickChart, TimeBars}

class ToolsSpec extends SparkSpec {

  test("dtfsplit + dtfconcat + dtfrepair roundtrip the fixture") {
    val book = bookFixture()
    val dir = Files.createTempDirectory("graft-tools").toString
    val ups = DtfCodec.decode(book)

    val parts = DtfTools.split(book, s"$dir/part", 20)
    assert(parts.size === math.ceil(ups.size / 20.0).toInt)
    val reread = parts.flatMap(DtfCodec.decode)
    assert(reread === ups)

    // concat the first two (overlap check: contiguous chunks don't overlap,
    // so re-encode overlapping slices first)
    val a = s"$dir/a.dtf"; val b = s"$dir/b.dtf"; val out = s"$dir/m.dtf"
    DtfCodec.encode(a, "bnc_zrx_btc", ups.take(60))
    DtfCodec.encode(b, "bnc_zrx_btc", ups.slice(40, 97))
    assert(DtfTools.concat(a, b, out).isRight)
    assert(DtfCodec.decode(out) === ups.take(97))

    val rep = s"$dir/r.dtf"
    assert(DtfTools.repair(book, rep) === ups.size)
    assert(DtfCodec.decode(rep) === ups)

    // the reference's within_range OR-bug is fixed (C4)
    assert(DtfTools.rangesOverlap(0, 10, 5, 20))
    assert(!DtfTools.rangesOverlap(0, 10, 11, 20))
  }

  test("the generated book has what the tool tests rely on") {
    val book = bookFixture()
    val ups = DtfCodec.decode(book)
    assert(DtfCodec.decode(bookFixture()) === ups) // deterministic
    assert(DtfCodec.metadata(book).symbol === "bnc_zrx_btc")
    assert(ups.size >= 97 && ups.size % 20 != 0)
    val keys = ups.map(u => (u.ts, u.seq))
    assert(keys === keys.sorted.distinct)
    assert(ups.map(u => (u.is_trade, u.is_bid)).toSet.size === 4)
    assert(ups(10).ts === ups(9).ts && ups(50).ts === ups(51).ts)
    // header (80 B) + 15 B per batch frame + 12 B per row
    val frames = (new java.io.File(book).length() - 80 - 12 * ups.size) / 15
    assert(frames >= 2)
    val minutes = ups.filter(_.is_trade).map(_.ts / 60000).distinct
    assert(minutes.max - minutes.min >= 7)
    assert(minutes.size <= minutes.max - minutes.min) // an empty minute
  }

  test("dtfcat clips ranges inclusively (F7)") {
    val book = bookFixture()
    val ups = DtfCodec.decode(book)
    val lo = ups(10).ts; val hi = ups(50).ts
    val got = DtfTools.cat(spark, book, Some((lo, hi))).count()
    assert(got === ups.count(u => u.ts >= lo && u.ts <= hi).toLong)
  }

  test("kaiko csv converter (S9, filetype.rs:43-96)") {
    val dir = Files.createTempDirectory("graft-kaiko").toString
    val csv = s"$dir/k.csv"
    Files.writeString(java.nio.file.Paths.get(csv),
      """id,exchange,symbol,date,price,amount,sell
        |109797481,be,dashbtc,1498694478000,0.07154,0.40495999,false
        |109797482,be,dashbtc,1498694479000,0.07155,1.5,true
        |""".stripMargin)
    val rows = DtfTools.fromKaikoCsv(spark, csv).orderBy("seq").collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[Long]("ts") === 1498694478000L)
    assert(rows(0).getAs[Boolean]("is_trade"))
    assert(rows(0).getAs[Boolean]("is_bid")) // !sell
    assert(!rows(1).getAs[Boolean]("is_bid"))
    assert(rows(0).getAs[Double]("price") === 0.07154f.toDouble)
  }

  test("dtfcat --timebars lifecycle (S12, SURVEY 3.3)") {
    val book = bookFixture()
    val out = DtfTools.catTimebars(spark, book, minutes = 1).collect()
    assert(out.nonEmpty)
    // continuation fill makes the minute grid contiguous
    val ts = out.map(_.getAs[Long]("T"))
    ts.sliding(2).foreach {
      case Array(a, b) => assert(b - a === 60L, s"gap in grid: $a -> $b")
      case _ =>
    }
    // OHLC invariants hold on every (real or synthetic) candle
    out.foreach { r =>
      val (o, h, l, c) = (r.getAs[Double]("O"), r.getAs[Double]("H"),
        r.getAs[Double]("L"), r.getAs[Double]("C"))
      assert(h >= math.max(o, c) && l <= math.min(o, c))
    }
    // rebin to 3-minute bars: positional groups of 3, partials dropped
    // (the reference's `res.len == v.len / k` contract)
    val r3 = DtfTools.catTimebars(spark, book, minutes = 3).collect()
    assert(r3.nonEmpty)
    assert(r3.length === ts.length / 3)
  }

  test("columnar per-field export (S11, dtfnumpy.rs:13-91)") {
    val book = bookFixture()
    val dir = Files.createTempDirectory("graft-npy").toString
    val ups = DtfCodec.decode(book)
    val paths = DtfTools.exportColumnar(spark, book, dir)
    assert(paths.keySet === Set("ts", "seq", "is_trade", "is_bid",
      "price", "size"))
    val ts = spark.read.parquet(paths("ts"))
    assert(ts.schema.fields.map(_.name).toSeq === Seq("ts"))
    assert(ts.count() === ups.size.toLong)
    // narrowing casts match the npz dtypes: price is f4
    val price = spark.read.parquet(paths("price"))
    assert(price.schema.fields.head.dataType ===
      org.apache.spark.sql.types.FloatType)
  }

  test(".npz export: numpy container byte-golden + roundtrip (S11)") {
    import java.nio.{ByteBuffer, ByteOrder}
    import java.util.zip.ZipFile
    val book = bookFixture()
    val dir = Files.createTempDirectory("graft-npz").toString
    val ups = DtfCodec.decode(book)
    val out = s"$dir/fixture.npz"
    DtfTools.exportNpz(book, out)
    val zf = new ZipFile(out)
    try {
      import scala.jdk.CollectionConverters._
      val names = zf.entries().asScala.map(_.getName).toSeq
      assert(names === Seq("ts", "seq", "price", "size", "is_bid",
        "is_trade")) // reference write order (dtfnumpy.rs:66-72)
      def member(name: String): Array[Byte] = {
        val e = zf.getEntry(name)
        val in = zf.getInputStream(e)
        try in.readAllBytes() finally in.close()
      }
      // byte-golden header per write_header (dtfnumpy.rs:78-91):
      // magic, v1.0, u16 LE len, unpadded literal dict
      val ts = member("ts")
      val expectHdr =
        s"{'descr':[('data','<i8')],'fortran_order':False,'shape':(${ups.size},)}"
      assert(ts.take(6).toSeq ===
        Seq(0x93, 0x4E, 0x55, 0x4D, 0x50, 0x59).map(_.toByte))
      assert(ts(6) === 1.toByte && ts(7) === 0.toByte)
      val hlen = ((ts(9) & 0xFF) << 8) | (ts(8) & 0xFF) // u16 LE
      assert(hlen === expectHdr.length)
      assert(new String(ts.slice(10, 10 + hlen), "US-ASCII") === expectHdr)
      // payload roundtrip: little-endian i8 array equals the decoded ts
      val body = ByteBuffer.wrap(ts, 10 + hlen, ups.size * 8)
        .order(ByteOrder.LITTLE_ENDIAN)
      val got = (0 until ups.size).map(_ => body.getLong())
      assert(got === ups.map(_.ts))
      // f4 member: values are the f32-narrowed prices
      val price = member("price")
      val phlen = ((price(9) & 0xFF) << 8) | (price(8) & 0xFF)
      val pbody = ByteBuffer.wrap(price, 10 + phlen, ups.size * 4)
        .order(ByteOrder.LITTLE_ENDIAN)
      val gotP = (0 until ups.size).map(_ => pbody.getFloat())
      assert(gotP === ups.map(_.price.toFloat))
      // bool member is one byte per row
      assert(member("is_bid").length === 10 +
        s"{'descr':[('data','?')],'fortran_order':False,'shape':(${ups.size},)}".length
        + ups.size)
    } finally zf.close()
    // deflated variant roundtrips too
    val outz = s"$dir/fixture-z.npz"
    DtfTools.exportNpz(book, outz, compressed = true)
    val zf2 = new ZipFile(outz)
    try {
      val e = zf2.getEntry("ts")
      assert(e.getMethod === java.util.zip.ZipEntry.DEFLATED)
      val in = zf2.getInputStream(e)
      val bytes = try in.readAllBytes() finally in.close()
      val hlen2 = ((bytes(9) & 0xFF) << 8) | (bytes(8) & 0xFF)
      val body2 = ByteBuffer.wrap(bytes, 10 + hlen2, ups.size * 8)
        .order(ByteOrder.LITTLE_ENDIAN)
      assert((0 until ups.size).map(_ => body2.getLong()) === ups.map(_.ts))
    } finally zf2.close()
  }

  test("ascii candlestick chart renders (B9)") {
    val candles = (0 until 20).map { i =>
      Candle("c", i * 60L, i * 60L, 10.0 + i % 5, 12.0 + i % 3,
        9.0 + (i % 2), 11.0, 1.0)
    }
    val chart = CandlestickChart.render(candles, height = 10)
    assert(chart.linesIterator.size === 12)
    assert(chart.contains("█"))
    assert(chart.contains("|"))
    assert(CandlestickChart.render(Nil) === "(no candles)")
  }

  test("epoch-sequence check (B10, time_bars.rs:236-247)") {
    import spark.implicits._
    val seqOk = (0 until 5).map(i =>
      Candle("s", i * 60L, i * 60L, 1, 1, 1, 1, 1))
    val gap = seqOk.filterNot(_.start == 120L)
    assert(TimeBars.epochGaps(spark.createDataset(seqOk).toDF()).count() === 0)
    assert(TimeBars.epochGaps(spark.createDataset(gap).toDF()).count() === 1)
  }
}
