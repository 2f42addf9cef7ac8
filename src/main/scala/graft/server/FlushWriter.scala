package graft.server

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.conf.{HadoopParquetConfiguration,
  ParquetConfiguration}
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetOutputFormat,
  ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport, WriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{InputFile, LocalInputFile, LocalOutputFile,
  OutputFile}
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter,
  PrimitiveConverter, RecordConsumer, RecordMaterializer}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY,
  BOOLEAN, DOUBLE, INT64}

import graft.model.Update
import graft.sources.TickStore

/** Writes a flush's rows into a book dir's `day=<epochDay>` leaves with a
  * plain parquet-hadoop writer on the driver, the way the reference writes
  * its `.dtf` file straight from the book's `Vec<Update>`
  * (`file_format.rs:783-819`).
  *
  * Each file is written under an in-progress name and then renamed into
  * place with `ATOMIC_MOVE`, so a reader only ever lists whole files. The
  * in-progress name starts with `.` (Spark's file listing skips it as
  * hidden) and does not end in `.parquet` (the engine's listings,
  * Compaction, Archiver and the metrics sweep take only `*.parquet`), so
  * a file a crash leaves half-written is never read, compacted, archived
  * or counted. */
private[graft] object FlushWriter {

  /** The parquet schema Spark writes an `Encoders.product[Update]`
    * Dataset with: the String field optional, the primitives required. */
  val Schema: MessageType = Types.buildMessage()
    .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("symbol")
    .required(INT64).named("ts")
    .required(INT64).named("seq")
    .required(BOOLEAN).named("is_trade")
    .required(BOOLEAN).named("is_bid")
    .required(DOUBLE).named("price")
    .required(DOUBLE).named("size")
    .named("spark_schema")

  /** The hidden name a file of `name` is written under until it is
    * complete. */
  def inProgressName(name: String): String = s".$name.inprogress"

  /** Deletes the in-progress files that crashed flushes left in the
    * `day=` leaves of the books under `dtfFolder`. Nothing else ever removes them: every reader skips
    * them, and compaction moves only whole `*.parquet` files. Call it
    * only where no flush into `dtfFolder` can be in flight, as
    * [[Engine]] does once at start-up. */
  def sweepInProgress(dtfFolder: File): Unit = {
    def dirs(d: File, prefix: String): Seq[File] =
      Option(d.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith(prefix))
    val leftovers = for {
      book <- dirs(dtfFolder, "book=")
      leaf <- dirs(book, s"${TickStore.DayCol}=")
      f <- Option(leaf.listFiles()).toSeq.flatten
      if f.isFile && f.getName.startsWith(".part-") &&
        f.getName.endsWith(".parquet.inprogress")
    } yield f
    leftovers.foreach(_.delete())
  }

  /** Writes `rows`, sorted by (ts, seq), as one file per day into
    * `bookDir/day=<epochDay>/`, in ascending day order, and returns the
    * days written. Ascending order keeps a failed flush retryable: the
    * days already renamed into place hold only rows at or below the new
    * stored max, so the retry's S6 filter drops exactly them. */
  def writeByDay(bookDir: File, rows: collection.IndexedSeq[Update],
      conf: Configuration, codec: CompressionCodecName): Seq[Long] = {
    val days = Seq.newBuilder[Long]
    var from = 0
    while (from < rows.length) {
      val day = TickStore.dayOfMs(rows(from).ts)
      var until = from + 1
      while (until < rows.length && TickStore.dayOfMs(rows(until).ts) == day)
        until += 1
      writeFile(new File(bookDir, s"${TickStore.DayCol}=$day"),
        rows.view.slice(from, until), conf, codec)
      days += day
      from = until
    }
    days.result()
  }

  /** Writes `rows` as one new file in `dir` and returns it.
    *
    * The writer owns the tick encoding, [[TickStore.FileEncoding]]: the
    * writer version (v2 pages) and the dictionary switch of `ts`, `seq`,
    * `price` and `size` are set here, after `conf`, so no `parquet.*`
    * key of `conf` changes them. The codec is `codec`. The other writer
    * properties (row group, page and dictionary page sizes, the default
    * dictionary switch, which `symbol` follows, statistics, page
    * checksums, validation) still come from `conf`'s `parquet.*` keys,
    * with parquet-hadoop's defaults, as they would for Spark's writer. */
  def writeFile(dir: File, rows: Iterable[Update], conf: Configuration,
      codec: CompressionCodecName): File = {
    import ParquetOutputFormat._
    dir.mkdirs()
    val name =
      s"part-${java.util.UUID.randomUUID()}${codec.getExtension}.parquet"
    val tmp = new File(dir, inProgressName(name))
    val out = new File(dir, name)
    try {
      val builder = new Builder(new LocalOutputFile(tmp.toPath))
        .withConf(conf)
        .withWriteMode(ParquetFileWriter.Mode.CREATE)
        .withCompressionCodec(codec)
        .withRowGroupSize(getLongBlockSize(conf))
        .withPageSize(getPageSize(conf))
        .withDictionaryPageSize(getDictionaryPageSize(conf))
        .withDictionaryEncoding(getEnableDictionary(conf))
        .withStatisticsEnabled(getStatisticsEnabled(conf))
        .withPageWriteChecksumEnabled(getPageWriteChecksumEnabled(conf))
        .withValidation(getValidation(conf))
        .withWriterVersion(TickStore.FileEncoding.Writer)
      val writer = TickStore.FileEncoding.Dictionary.foldLeft(builder) {
        case (b, (column, on)) => b.withDictionaryEncoding(column, on)
      }.build()
      try rows.foreach(writer.write) finally writer.close()
      Files.move(tmp.toPath, out.toPath, StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case e: Throwable => tmp.delete(); throw e
    }
    out
  }

  private final class Builder(file: OutputFile)
      extends ParquetWriter.Builder[Update, Builder](file) {
    override protected def self(): Builder = this
    override protected def getWriteSupport(
        conf: Configuration): WriteSupport[Update] = new UpdateWriteSupport
  }

  /** One [[Update]] per record, in [[Schema]]'s field order. */
  private final class UpdateWriteSupport extends WriteSupport[Update] {
    private var rc: RecordConsumer = _

    override def init(conf: Configuration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(Schema, java.util.Collections.emptyMap())
    override def prepareForWrite(consumer: RecordConsumer): Unit =
      rc = consumer

    override def write(u: Update): Unit = {
      rc.startMessage()
      if (u.symbol != null) {
        rc.startField("symbol", 0)
        rc.addBinary(Binary.fromString(u.symbol))
        rc.endField("symbol", 0)
      }
      long("ts", 1, u.ts)
      long("seq", 2, u.seq)
      bool("is_trade", 3, u.is_trade)
      bool("is_bid", 4, u.is_bid)
      double("price", 5, u.price)
      double("size", 6, u.size)
      rc.endMessage()
    }

    private def long(name: String, i: Int, v: Long): Unit = {
      rc.startField(name, i); rc.addLong(v); rc.endField(name, i)
    }
    private def bool(name: String, i: Int, v: Boolean): Unit = {
      rc.startField(name, i); rc.addBoolean(v); rc.endField(name, i)
    }
    private def double(name: String, i: Int, v: Double): Unit = {
      rc.startField(name, i); rc.addDouble(v); rc.endField(name, i)
    }
  }
}

/** Reads a book file's rows back on the driver with a plain parquet-hadoop
  * reader — the read half of [[FlushWriter]], and the reference's direct
  * read of the batches of a `.dtf` file (`file_format.rs:306-413`).
  * Columns are matched by name, so a file Spark wrote, a file
  * [[FlushWriter]] wrote and a file without a `symbol` column all read;
  * a missing `symbol` reads as null, as Spark reads it. */
private[graft] object BookFileReader {

  private val Ts = FilterApi.longColumn("ts")

  /** Calls `f` on every row of `file`, or on the rows whose `ts` lies in
    * the inclusive `range`. The range is pushed down as a parquet filter
    * predicate: row groups whose `ts` statistics lie outside it are
    * skipped unread, and the record-level filter keeps the result exact
    * on files that carry no statistics. `conf` supplies the read options,
    * as it does for Spark's reader; it is wrapped, not copied, so a read
    * never builds a Configuration of its own. */
  def foreach(file: File, conf: Configuration, range: Option[(Long, Long)])(
      f: Update => Unit): Unit = {
    val builder = new Builder(new LocalInputFile(file.toPath),
      new HadoopParquetConfiguration(conf))
    range.foreach { case (lo, hi) =>
      builder.withFilter(FilterCompat.get(FilterApi.and(
        FilterApi.gtEq(Ts, java.lang.Long.valueOf(lo)),
        FilterApi.ltEq(Ts, java.lang.Long.valueOf(hi)))))
        .useRecordFilter(true)
    }
    val reader = builder.build()
    try {
      var u = reader.read()
      while (u != null) { f(u); u = reader.read() }
    } finally reader.close()
  }

  private final class Builder(file: InputFile, conf: ParquetConfiguration)
      extends ParquetReader.Builder[Update](file, conf) {
    override protected def getReadSupport(): ReadSupport[Update] =
      new UpdateReadSupport
  }

  /** Requests the file's columns named in [[FlushWriter.Schema]] and
    * materializes each record as an [[Update]]. */
  private final class UpdateReadSupport extends ReadSupport[Update] {
    override def init(context: InitContext): ReadSupport.ReadContext = {
      val file = context.getFileSchema
      val names = FlushWriter.Schema.getFields.asScala.map(_.getName)
      val missing = names.filterNot(n => n == "symbol" || file.containsField(n))
      require(missing.isEmpty,
        s"not a book file: no ${missing.mkString(", ")} column in $file")
      new ReadSupport.ReadContext(new MessageType(file.getName,
        file.getFields.asScala.filter(f => names.contains(f.getName)).asJava))
    }

    override def prepareForRead(conf: Configuration,
        meta: java.util.Map[String, String], file: MessageType,
        context: ReadSupport.ReadContext): RecordMaterializer[Update] =
      new UpdateMaterializer(context.getRequestedSchema)

    // the reader calls this overload; the default copies `conf` into a
    // new Hadoop Configuration on every file only to ignore it here
    override def prepareForRead(conf: ParquetConfiguration,
        meta: java.util.Map[String, String], file: MessageType,
        context: ReadSupport.ReadContext): RecordMaterializer[Update] =
      new UpdateMaterializer(context.getRequestedSchema)
  }

  private final class UpdateMaterializer(schema: MessageType)
      extends RecordMaterializer[Update] {
    private var symbol: String = _
    private var ts, seq = 0L
    private var isTrade, isBid = false
    private var price, size = 0.0

    private def long(set: Long => Unit): Converter = new PrimitiveConverter {
      override def addLong(v: Long): Unit = set(v)
    }
    private def bool(set: Boolean => Unit): Converter = new PrimitiveConverter {
      override def addBoolean(v: Boolean): Unit = set(v)
    }
    private def double(set: Double => Unit): Converter =
      new PrimitiveConverter {
        override def addDouble(v: Double): Unit = set(v)
      }
    /** A book's rows share one symbol: decode it once per run of equal
      * values. */
    private val symbolConverter: Converter = new PrimitiveConverter {
      private var last: Binary = _
      private var lastString: String = _
      override def addBinary(v: Binary): Unit = {
        if (!v.equals(last)) {
          last = v.copy(); lastString = v.toStringUsingUTF8
        }
        symbol = lastString
      }
    }

    private val converters: Array[Converter] =
      schema.getFields.asScala.map(_.getName match {
        case "symbol" => symbolConverter
        case "ts" => long(ts = _)
        case "seq" => long(seq = _)
        case "is_trade" => bool(isTrade = _)
        case "is_bid" => bool(isBid = _)
        case "price" => double(price = _)
        case "size" => double(size = _)
      }).toArray

    private val root = new GroupConverter {
      override def getConverter(i: Int): Converter = converters(i)
      override def start(): Unit = symbol = null
      override def end(): Unit = ()
    }

    override def getRootConverter: GroupConverter = root
    override def getCurrentRecord: Update =
      Update(symbol, ts, seq, isTrade, isBid, price, size)
  }
}
