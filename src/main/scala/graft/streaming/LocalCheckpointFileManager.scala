package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption, Path => NioPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** Streaming checkpoint files (offsets and commits logs, state-store
  * deltas and snapshots, RocksDB changelogs and zips) without forked
  * processes on local paths. Without the native libhadoop, Hadoop's local
  * filesystem shells out to `chmod` for every file and directory it
  * creates and to `readlink` for every rename, several times per file a
  * trigger writes. On a `file:` path this manager creates
  * directories, writes the temp file (in the target's own directory,
  * where Spark names it) and publishes it with an atomic `rename(2)`
  * through java.nio; every other operation, and every other scheme, is
  * Spark's `FileContextBasedCheckpointFileManager`. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  private val local = isLocal

  private def nio(p: Path): NioPath = Paths.get(fc.makeQualified(p).toUri.getPath)

  override def mkdirs(p: Path): Unit =
    if (local) Files.createDirectories(nio(p)) else super.mkdirs(p)

  override def createTempFile(p: Path): FSDataOutputStream =
    if (local) new FSDataOutputStream(
      new BufferedOutputStream(Files.newOutputStream(nio(p))), null)
    else super.createTempFile(p)

  /** A target written earlier through Hadoop's `ChecksumFileSystem` has a
    * `.<name>.crc` sidecar; it is deleted before the target is replaced,
    * since it would fail checksummed reads of the new bytes. */
  override def renameTempFile(src: Path, dst: Path,
      overwriteIfPossible: Boolean): Unit =
    if (!local) super.renameTempFile(src, dst, overwriteIfPossible)
    else {
      val (from, to) = (nio(src), nio(dst))
      if (!overwriteIfPossible && Files.exists(to)) {
        Files.deleteIfExists(from)
        throw new FileAlreadyExistsException(s"$dst already exists")
      }
      Files.deleteIfExists(to.resolveSibling(s".${to.getFileName}.crc"))
      Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
    }
}

object LocalCheckpointFileManager {
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Makes this class `spark`'s checkpoint file manager unless the session
    * already names one. Spark reads the key when a query starts. */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)
}
