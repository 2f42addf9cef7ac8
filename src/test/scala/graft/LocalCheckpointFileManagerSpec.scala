package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.model.Update
import graft.streaming.{LocalCheckpointFileManager, Streaming}

class LocalCheckpointFileManagerSpec extends SparkSpec {

  private def withDir[T](body: NioPath => T): T = {
    val dir = Files.createTempDirectory("graft-lcfm")
    try body(dir) finally FileUtils.deleteDirectory(dir.toFile)
  }

  private def names(dir: NioPath): Set[String] =
    Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSet

  private def manager(dir: NioPath) =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def write(out: java.io.OutputStream, s: String): Unit =
    out.write(s.getBytes(UTF_8))

  test("createAtomic publishes on close; cancel leaves no file or temp") {
    withDir { dir =>
      val fm = manager(dir)
      val a = new Path(dir.toUri.toString, "a")
      val out = fm.createAtomic(a, overwriteIfPossible = false)
      write(out, "first")
      assert(names(dir).forall(_.startsWith(".a.")), "only the temp file")
      out.close()
      assert(names(dir) === Set("a"), "published without a .crc sidecar")
      assert(new String(Files.readAllBytes(dir.resolve("a")), UTF_8) ===
        "first")

      val b = fm.createAtomic(new Path(dir.toUri.toString, "b"),
        overwriteIfPossible = false)
      write(b, "dropped")
      b.cancel()
      assert(names(dir) === Set("a"))
    }
  }

  test("createAtomic without overwrite onto an existing file throws") {
    withDir { dir =>
      val fm = manager(dir)
      val a = new Path(dir.toUri.toString, "a")
      val first = fm.createAtomic(a, overwriteIfPossible = false)
      write(first, "first")
      first.close()
      val second = fm.createAtomic(a, overwriteIfPossible = false)
      write(second, "second")
      intercept[FileAlreadyExistsException](second.close())
      assert(names(dir) === Set("a"))
      assert(new String(Files.readAllBytes(dir.resolve("a")), UTF_8) ===
        "first")
    }
  }

  test("replacing a file written with a Hadoop .crc sidecar reads back " +
      "through LocalFileSystem") {
    withDir { dir =>
      val conf = new Configuration()
      val fs = FileSystem.getLocal(conf)
      val a = new Path(dir.toUri.toString, "a")
      val old = fs.create(a)
      write(old, "old bytes")
      old.close()
      assert(Files.exists(dir.resolve(".a.crc")))
      val out = manager(dir).createAtomic(a, overwriteIfPossible = true)
      write(out, "the new, longer bytes")
      out.close()
      val in = fs.open(a)
      val got = try new String(in.readAllBytes(), UTF_8) finally in.close()
      assert(got === "the new, longer bytes")
      assert(names(dir) === Set("a"))
    }
  }

  test("install keeps a checkpoint file manager the session already names") {
    val key = LocalCheckpointFileManager.ConfKey
    val preset = spark.newSession()
    val other = "org.apache.spark.sql.execution.streaming.checkpointing." +
      "FileSystemBasedCheckpointFileManager"
    preset.conf.set(key, other)
    LocalCheckpointFileManager.install(preset)
    assert(preset.conf.get(key) === other)

    val fresh = spark.newSession()
    fresh.conf.unset(key)
    LocalCheckpointFileManager.install(fresh)
    assert(fresh.conf.get(key) ===
      classOf[LocalCheckpointFileManager].getName)
  }

  test("dedup restarted from a local checkpoint keeps its (ts, seq) mark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withDir { dir =>
      val cp = dir.resolve("cp").toString
      val in = MemoryStream[Update]
      def up(ts: Long, seq: Long) =
        Update("d", ts, seq, is_trade = true, is_bid = true, 1.0, 2.0)
      def run(rows: Seq[Update]): Seq[(Long, Long)] = {
        val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
        val q = Streaming.streamingDedup(in.toDS()).writeStream
          .outputMode("append").option("checkpointLocation", cp)
          .foreachBatch { (df: Dataset[Update], _: Long) =>
            df.collect().foreach(u => got.add((u.ts, u.seq)))
          }.start()
        try { in.addData(rows: _*); q.processAllAvailable() }
        finally q.stop()
        got.asScala.toSeq.sorted
      }
      assert(run(Seq(up(10, 1), up(11, 2))) === Seq((10L, 1L), (11L, 2L)))
      assert(spark.conf.get(LocalCheckpointFileManager.ConfKey) ===
        classOf[LocalCheckpointFileManager].getName)
      // a replay at the mark and a row below it drop after the restart
      assert(run(Seq(up(11, 2), up(5, 9), up(12, 3))) === Seq((12L, 3L)))
      // Hadoop's `.<name>.crc` sidecars; Spark's own state-file checksums
      // are `<name>.crc`
      val sidecars = Files.walk(dir).iterator.asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith(".") && n.endsWith(".crc")).toList
      assert(sidecars.isEmpty)
    }
  }
}
