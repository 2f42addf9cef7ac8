package graft

import java.nio.file.Files

import graft.dtf.DtfCodec
import graft.model.Update
import graft.sources.{DtfDataSource, DtfScan}

/** DataSource V2 for `.dtf` files: `spark.read.format("dtf")` — schema,
  * row parity with the codec, and header-stat file pruning (the Spark
  * rebuild of `scan_files_for_range`, `file_format.rs:822-874`). */
class DtfSourceSpec extends SparkSpec {

  test("format(\"dtf\") reads the reference fixture with the update schema") {
    val fixture = referenceFixture()
    val df = spark.read.format("dtf").load(fixture)
    assert(df.schema === DtfDataSource.Schema)
    val ups = DtfCodec.decode(fixture)
    assert(df.count() === ups.size.toLong)
    val first = df.orderBy("ts", "seq").head()
    val expect = ups.minBy(u => (u.ts, u.seq))
    assert(first.getAs[String]("symbol") === expect.symbol)
    assert(first.getAs[Long]("ts") === expect.ts)
    assert(first.getAs[Double]("price") === expect.price)
  }

  test("ts predicates prune whole files by header stats") {
    val dir = Files.createTempDirectory("graft-dtfsrc").toString
    def up(ts: Long, seq: Long) =
      Update("s", ts, seq, is_trade = true, is_bid = true, 1.0, 2.0)
    DtfCodec.encode(s"$dir/a.dtf", "s", (0 until 50).map(i => up(1000L + i, i.toLong)))
    DtfCodec.encode(s"$dir/b.dtf", "s", (0 until 50).map(i => up(9000L + i, i.toLong)))

    // partition planning prunes the file whose [min,max] misses the range
    assert(new DtfScan(dir, 0, 2000).planInputPartitions().length === 1)
    assert(new DtfScan(dir, 8000, 10000).planInputPartitions().length === 1)
    assert(new DtfScan(dir, 0, 10000).planInputPartitions().length === 2)
    assert(new DtfScan(dir, 3000, 8000).planInputPartitions().length === 0)

    // end-to-end: pushed filters prune AND rows still filter exactly
    val df = spark.read.format("dtf").load(dir)
      .where("ts >= 1010 and ts <= 1020")
    assert(df.count() === 11L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dtf") || plan.contains("BatchScan"), plan)

    // directory read with no predicate sees both files
    assert(spark.read.format("dtf").load(dir).count() === 100L)
  }

  test("decodeStream: batch-at-a-time reader == eager decode, with " +
      "bounded read-ahead (VERDICT r10 #4)") {
    val dir = Files.createTempDirectory("graft-dtfstream").toString
    val path = s"$dir/many_batches.dtf"
    // 100 batches of 10 rows each: seq jumps of 0xF at every 10th row
    // force the encoder's rollover (file_format.rs:169-211)
    val ups = (0 until 1000).map { i =>
      Update("mb", 1700000000000L + i, (i / 10) * 100L + i % 10,
        is_trade = i % 2 == 0, is_bid = i % 3 == 0, 1.0 + i, 2.0)
    }
    DtfCodec.encode(path, "mb", ups)
    // bit-identical to the eager decode (truncation semantics shared)
    val eager = DtfCodec.decode(path)
    val streamed = DtfCodec.decodeStream(path).toSeq
    assert(streamed === eager)
    assert(streamed.size === 1000)
    // bounded read-ahead: with a counting stream under the reader,
    // consuming ONE row must pull only the header + one batch frame
    // (15 B frame header + 10 rows x 12 B = 135 B), never the file
    val total = new java.io.File(path).length()
    var bytesRead = 0L
    val counting = new java.io.InputStream {
      private val in = new java.io.FileInputStream(path)
      override def read(): Int = {
        val b = in.read(); if (b >= 0) bytesRead += 1; b
      }
      override def read(buf: Array[Byte], off: Int, len: Int): Int = {
        val n = in.read(buf, off, len)
        if (n > 0) bytesRead += n
        n
      }
      override def close(): Unit = in.close()
    }
    val r = DtfCodec.decodeStream(counting)
    assert(r.next().ts === ups.head.ts)
    assert(bytesRead <= 80L + 2 * 135L,
      s"read-ahead not bounded: $bytesRead of $total bytes after 1 row")
    assert(total > 10L * 135L, s"fixture too small to prove anything")
    // consuming everything drains exactly the file and closes
    assert(r.size === 999) // remaining rows
    assert(bytesRead === total)
  }
}
