package graft.server

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration

import graft.model.Update
import graft.sources.TickStore

/** The rows of one GET, read on the driver the way the reference serves
  * GET (`state.rs:604-671`): the staged rows in range, plus the rows in
  * range of the book's parquet files, which [[BookFileReader]] reads
  * directly — no Spark job.
  *
  * '''Snapshot.''' The engine builds a reader inside `execute`, under its
  * monitor: `staged` is a copy of the book's staged rows in range, and
  * `flat` and `leaves` are the book's files as listed at that moment (the
  * legacy root-level files, never day-pruned, and the `day=` leaves of the
  * range's closed floor-day interval, by ascending day). A FLUSH after
  * that moves staged rows into a file that is not in the list, so it can
  * neither duplicate nor drop a row of this GET. The listed files must
  * stay in place until [[rows]] has read them: Wire holds the read side of
  * `Engine.swapGate` from `execute` through the drain, so no compaction
  * or archival swap moves them meanwhile.
  *
  * '''Order.''' Rows come in (ts, seq) order. On a tie, rows from files
  * come before staged rows; rows from files keep their read order (legacy
  * files, then leaves by ascending day, each leaf's files in listing
  * order), and staged rows their insertion order.
  *
  * '''Memory.''' With a `limit` of n, at most 2n rows read from files are
  * held at once: whenever that many are held they are sorted and cut back
  * to the first n. Leaves are read by ascending day, and reading stops
  * before a leaf once n held rows lie before the leaf's first ms, since no
  * row of that leaf or a later one can then be among the first n. An
  * unranged `GET 10` on a long book therefore reads only its first
  * leaves. Without a limit every row in range is held. */
private[graft] final class GetReader(staged: Array[Update],
    flat: Seq[File], leaves: Seq[(Long, Seq[File])],
    range: Option[(Long, Long)], limit: Option[Int], conf: Configuration) {

  /** The GET's rows, read on first use. */
  lazy val rows: collection.IndexedSeq[Update] =
    if (limit.contains(0)) IndexedSeq.empty
    else {
      val mem = staged.sorted(GetReader.TsSeq)
      val disk = new ArrayBuffer[Update]
      def read(f: File): Unit = BookFileReader.foreach(f, conf, range) { u =>
        disk += u
        limit.foreach(n => if (disk.length >= 2L * n) cut(disk, n))
      }
      /** Whether n rows already held lie before `ms`. */
      def filled(ms: Long): Boolean = limit.exists { n =>
        disk.count(_.ts < ms) + mem.count(_.ts < ms) >= n
      }
      flat.foreach(read)
      leaves.iterator
        .takeWhile { case (day, _) => !filled(day * TickStore.MsPerDay) }
        .foreach { case (_, files) => files.foreach(read) }
      disk.sortInPlace()(GetReader.TsSeq)
      GetReader.merge(disk, mem, limit.getOrElse(Int.MaxValue))
    }

  /** Keeps the first `n` of `disk` in (ts, seq) order; the sort is
    * stable, so ties keep their read order. */
  private def cut(disk: ArrayBuffer[Update], n: Int): Unit = {
    disk.sortInPlace()(GetReader.TsSeq)
    disk.dropRightInPlace(disk.length - n)
  }
}

private[graft] object GetReader {
  private val TsSeq = Engine.TsSeqOrder

  /** The first `n` rows of two (ts, seq)-sorted runs, `disk`'s first on a
    * tie. */
  private def merge(disk: collection.IndexedSeq[Update],
      mem: collection.IndexedSeq[Update], n: Int): ArrayBuffer[Update] = {
    val out = new ArrayBuffer[Update](
      math.min(n.toLong, disk.length.toLong + mem.length).toInt)
    var i = 0
    var j = 0
    while (out.length < n && (i < disk.length || j < mem.length)) {
      if (j == mem.length ||
          (i < disk.length && TsSeq.compare(disk(i), mem(j)) <= 0)) {
        out += disk(i); i += 1
      } else { out += mem(j); j += 1 }
    }
    out
  }
}
