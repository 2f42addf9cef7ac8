package graft.server

import graft.model.Update

/** The reference's command language — its entire "query surface"
  * (`tdb-server-core/src/handler.rs:58-194`, README.md:88-117). The
  * `Command` ADT is the logical-plan IR; [[CommandParser.parse]] is a
  * faithful port of `parse_to_command`. */
sealed trait ReqCount
object ReqCount {
  case object All extends ReqCount
  case class N(n: Int) extends ReqCount
}

sealed trait GetFormat
object GetFormat {
  case object Dtf extends GetFormat
  case object Json extends GetFormat
  case object Csv extends GetFormat
}

sealed trait Loc
object Loc { case object Mem extends Loc; case object Fs extends Loc }

sealed trait Command
object Command {
  case object Noop extends Command
  case object Ping extends Command
  case object Help extends Command
  case object Info extends Command
  case object Perf extends Command
  case class Orderbook(book: Option[String]) extends Command
  case class Get(count: ReqCount, format: GetFormat,
      range: Option[(Long, Long)], loc: Loc) extends Command
  case class Count(count: ReqCount, loc: Loc) extends Command
  case class Clear(count: ReqCount) extends Command
  case class Flush(count: ReqCount) extends Command
  case class Insert(up: Option[Update], book: Option[String]) extends Command
  case class Create(book: String) extends Command
  case class Subscribe(book: String) extends Command
  case class Load(book: String) extends Command
  case class Use(book: String) extends Command
  case class Exists(book: String) extends Command
  /** OPT-IN extension beyond the reference grammar (VERDICT r15 #5):
    * run a Spark SQL query — the whole TVF/scalar surface
    * [[graft.plans.GraftExtensions]] registers — over the session's
    * current book (exposed as the `updates` temp view). Parsed ONLY
    * when the front-end enables it, so the reference grammar's
    * byte-parity transcripts are untouched by default. */
  case class Sql(query: String) extends Command
  case object Unknown extends Command
  case object BadFormat extends Command
}

object CommandParser {
  import Command._

  /** `parse_line` (`tdb-server-core/src/parser.rs:12-76`): char-machine
    * parse of `"1505177459.658, 139010, t, f, 0.0703629, 7.65064249;"`.
    * The first field's decimal point is DROPPED (seconds.millis -> ms
    * digits) then `fill_digits`-normalized; `t`/`f` flags; returns None on
    * malformed numerics or missing price/size. */
  def parseLine(s: String): Option[Update] = {
    var ts = 0L; var seq = 0L
    var isTrade = false; var isBid = false
    var price = -0.1; var size = -0.1
    val buf = new StringBuilder
    var count = 0
    var lastBool = false
    for (ch <- s) {
      if (ch == '.' && count == 0) ()
      else if ((ch == '.' && count != 0) || ch.isDigit) buf.append(ch)
      else if (ch == 't' || ch == 'f') lastBool = ch == 't'
      else if (ch == ',' || ch == ';') {
        count match {
          case 0 =>
            ts = try fillDigits(buf.toString.toLong)
            catch { case _: Exception => return None }
          case 1 =>
            seq = try buf.toString.toLong
            catch { case _: Exception => return None }
          case 2 => isTrade = lastBool
          case 3 => isBid = lastBool
          case 4 =>
            price = try buf.toString.toFloat.toDouble
            catch { case _: Exception => return None }
          case 5 =>
            size = try buf.toString.toFloat.toDouble
            catch { case _: Exception => return None }
          case _ => return None
        }
        count += 1
        buf.clear()
      }
    }
    if (price < 0 || size < 0) None
    else Some(Update("", ts, seq, isTrade, isBid, price, size))
  }

  /** `fill_digits` (`tdb-core/src/utils.rs:11-22`). */
  def fillDigits(ts0: Long): Long = {
    if (ts0 == 0) return 0L
    var ts = ts0
    while (ts < 1000000000000L) ts *= 10
    ts
  }

  /** `parse_get_range` (`parser.rs:104-123`): seconds -> ms. */
  private def parseRange(line: String): Option[(Long, Long)] =
    if (line.contains(" FROM ")) {
      val from = line.substring(line.indexOf(" FROM ") + 6)
        .split(' ')(0).toLong * 1000
      val to = line.substring(line.indexOf(" TO ") + 4)
        .split(' ')(0).toLong * 1000
      Some((from, to))
    } else None

  /** `sqlEnabled = false` (the default) is the reference grammar,
    * byte-for-byte: `SQL ...` falls through to Unknown exactly as any
    * unrecognized line does, so WireSpec's reference transcripts hold
    * with the flag off. */
  def parse(line0: String, sqlEnabled: Boolean = false): Command = {
    val line = line0.stripSuffix("\n")
    line match {
      case l if sqlEnabled && l.startsWith("SQL ") =>
        Sql(l.substring(4))
      case "" => Noop
      case "PING" => Ping
      case "HELP" => Help
      case "INFO" => Info
      case "PERF" => Perf
      case "OB" => Orderbook(None)
      case "COUNT" => Count(ReqCount.N(1), Loc.Fs)
      case "COUNT IN MEM" => Count(ReqCount.N(1), Loc.Mem)
      case "COUNT ALL" => Count(ReqCount.All, Loc.Fs)
      case "COUNT ALL IN MEM" => Count(ReqCount.All, Loc.Mem)
      case "CLEAR" => Clear(ReqCount.N(1))
      case "CLEAR ALL" => Clear(ReqCount.All)
      case "GET ALL AS JSON" => Get(ReqCount.All, GetFormat.Json, None, Loc.Mem)
      case "GET ALL AS CSV" => Get(ReqCount.All, GetFormat.Csv, None, Loc.Mem)
      case "GET ALL" => Get(ReqCount.All, GetFormat.Dtf, None, Loc.Mem)
      case "FLUSH" => Flush(ReqCount.N(1))
      case "FLUSH ALL" => Flush(ReqCount.All)
      case l if l.startsWith("SUBSCRIBE ") => Subscribe(l.substring(10))
      case l if l.startsWith("CREATE ") => Create(l.substring(7))
      case l if l.startsWith("OB ") => Orderbook(Some(l.substring(3)))
      case l if l.startsWith("LOAD ") => Load(l.substring(5))
      case l if l.startsWith("USE ") => Use(l.substring(4))
      case l if l.startsWith("EXISTS ") => Exists(l.substring(7))
      case l if l.startsWith("ADD ") || l.startsWith("INSERT ") =>
        if (l.contains(" INTO ")) {
          val idx = l.indexOf(" INTO ")
          val book = l.substring(idx + 6)
          val data =
            if (l.startsWith("ADD ")) l.substring(4, idx)
            else l.substring(7, idx)
          parseLine(data) match {
            case Some(up) => Insert(Some(up), Some(book))
            case None => Insert(None, None)
          }
        } else Insert(parseLine(l.substring(3)), None)
      case l if l.startsWith("GET ") =>
        // a count that is not a non-negative Int (`GET x`, `GET -5`)
        // reads as 1
        val count =
          if (l.startsWith("GET ALL ")) ReqCount.All
          else ReqCount.N(l.substring(4).split(' ')(0).toIntOption
            .filter(_ >= 0).getOrElse(1))
        val format =
          if (l.contains(" AS JSON")) GetFormat.Json
          else if (l.contains(" AS CSV")) GetFormat.Csv
          else GetFormat.Dtf
        val loc = if (l.contains(" IN MEM")) Loc.Mem else Loc.Fs
        Get(count, format, parseRange(line), loc)
      case _ => Unknown
    }
  }
}
