package org.apache.spark.sql.graft

import java.nio.charset.{Charset, StandardCharsets}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.Text
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{InternalRow, NoopFilters, OrderedFilters, StructFilters}
import org.apache.spark.sql.catalyst.csv.{CSVHeaderChecker, CSVOptions, UnivocityGenerator, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.{ExprUtils, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.datasources.{HadoopFileLinesReader, OutputWriter, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.{SerializableConfiguration, Utils}

/** Spark's CSV source with a byte-scan line tokenizer in front of its
  * univocity parser: `graft.sources.Readers.csv` reads through it.
  *
  * Everything but the per-line tokenizer is `CSVFileFormat`'s own: header
  * inference, splitting, column pruning, the per-file header rule and the
  * blank-line filter. A line in the simple grammar of
  * [[CsvLineScan.LineSplitter]] is copied field by field from the Hadoop
  * `Text` bytes into an `UnsafeRow`; every other line goes through Spark's
  * `UnivocityParser`, inside the same `FailureSafeParser`. A read the scan
  * cannot take whole (see [[CsvLineScan.qualifies]]) is `CSVFileFormat`'s
  * reader unchanged.
  *
  * Writes are the mirror image: a row in the grammar of [[CsvLineWriter]]
  * is formatted straight into bytes, and every other row goes to Spark's
  * `UnivocityGenerator` over the same file. A write with an option other
  * than `header` and `maxRecordsPerFile`, or a column type outside
  * [[LineWriter.columnKinds]], is `CSVFileFormat`'s writer unchanged.
  */
class CsvLineFormat extends CSVFileFormat {

  // CSVFileFormat's equality takes every subclass for itself, but hashes by class
  override def equals(other: Any): Boolean = other.isInstanceOf[CsvLineFormat]

  override def hashCode(): Int = getClass.hashCode()

  override def buildReader(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] =
    lineReader(sparkSession, dataSchema, requiredSchema, filters, options, hadoopConf)
      .getOrElse(super.buildReader(sparkSession, dataSchema, partitionSchema, requiredSchema,
        filters, options, hadoopConf))

  /** Without partition columns, a hit already is the `UnsafeRow` the scan
    * must emit: only the rows of Spark's parser take the copy into one that
    * `FileFormat` gives every row. */
  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] =
    (if (partitionSchema.isEmpty)
       lineReader(sparkSession, dataSchema, requiredSchema, filters, options, hadoopConf)
     else None) match {
      case Some(read) => (file: PartitionedFile) => {
        val toUnsafe = UnsafeProjection.create(requiredSchema)
        read(file).map {
          case u: UnsafeRow => u
          case r => toUnsafe(r)
        }
      }
      case None => super.buildReaderWithPartitionValues(sparkSession, dataSchema,
        partitionSchema, requiredSchema, filters, options, hadoopConf)
    }

  override def prepareWrite(
      sparkSession: SparkSession,
      job: Job,
      options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    val spark = super.prepareWrite(sparkSession, job, options, dataSchema)
    val conf = sparkSession.sessionState.conf
    val parsed = new CSVOptions(options, conf.csvColumnPruning, conf.sessionLocalTimeZone)
    val kinds = LineWriter.columnKinds(dataSchema)
    // the options Writers.csv sets
    val allowed = Set("path", "header", "maxrecordsperfile")
    if (kinds.isEmpty || !LineWriter.plainOptions(options, allowed) ||
        conf.getConf(SQLConf.LEGACY_NULL_VALUE_WRITTEN_AS_QUOTED_EMPTY_STRING_CSV)) spark
    else new OutputWriterFactory {
      override def getFileExtension(context: TaskAttemptContext): String =
        spark.getFileExtension(context)
      override def newInstance(path: String, dataSchema: StructType,
                               context: TaskAttemptContext): OutputWriter =
        new CsvLineWriter(path, dataSchema, kinds.get, context, parsed)
    }
  }

  /** The byte-scan reader, or None where [[CsvLineScan.qualifies]] says no. */
  private def lineReader(
      sparkSession: SparkSession,
      dataSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): Option[PartitionedFile => Iterator[InternalRow]] = {
    val conf = sparkSession.sessionState.conf
    val parsed = new CSVOptions(options, conf.csvColumnPruning,
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    if (!CsvLineScan.qualifies(parsed, dataSchema, requiredSchema)) return None

    // the rest mirrors CSVFileFormat.buildReader and TextInputCSVDataSource.readFile
    val broadcastConf =
      sparkSession.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    val corrupt = parsed.columnNameOfCorruptRecord
    ExprUtils.verifyColumnNameOfCorruptRecord(dataSchema, corrupt)
    val actualFilters = filters.filterNot(_.references.contains(corrupt))
    val pruning = parsed.isColumnPruningEnabled(requiredSchema)

    Some((file: PartitionedFile) => {
      val actualDataSchema = StructType(dataSchema.filterNot(_.name == corrupt))
      val actualRequiredSchema = StructType(requiredSchema.filterNot(_.name == corrupt))
      val parser = new UnivocityParser(actualDataSchema, actualRequiredSchema, parsed,
        actualFilters)
      val headerChecker = new CSVHeaderChecker(
        if (pruning) actualRequiredSchema else actualDataSchema, parsed,
        source = s"CSV file: ${file.urlEncodedPath}", file.start == 0)
      val lines = Utils.createResourceUninterruptiblyIfInTaskThread(
        new HadoopFileLinesReader(file, parsed.lineSeparatorInRead, broadcastConf.value.value))
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => lines.close()))
      val structFilters: StructFilters =
        if (SQLConf.get.csvFilterPushDown) new OrderedFilters(actualFilters, actualRequiredSchema)
        else new NoopFilters
      CsvLineScan.parseLines(lines, file.start == 0, parser, headerChecker, actualDataSchema,
        actualRequiredSchema, requiredSchema, structFilters)
    })
  }
}

/** A CSV part file whose rows are formatted straight into bytes where they
  * take the grammar below, and written by Spark's `UnivocityGenerator`
  * otherwise (the header always is). A row is formatted when not every field
  * is null and each non-null field is:
  *   - an empty string, written as the `emptyValue` (`""` by default);
  *   - a string that is valid UTF-8, has no space at either end and does
  *     not start with univocity's comment char `#`, and holds no quote,
  *     escape or control byte (CR and LF among them). It is copied, in
  *     quotes when it holds the delimiter;
  *   - a long, int, short or byte; a boolean; a float or double (as
  *     `Float`/`Double.toString`, `NaN` and `Infinity` included);
  *   - a date in years 1 to 9999, as `yyyy-MM-dd`.
  * A null field is empty. These are the bytes univocity writes for such a
  * row under the default write settings: it trims blanks at the ends, writes
  * `""` for an empty string, and quotes and escapes the rest.
  */
private[graft] final class CsvLineWriter(path: String, schema: StructType, kinds: Array[Int],
    context: TaskAttemptContext, params: CSVOptions) extends LineWriter(path, context) {
  import LineWriter._

  private val gen = new UnivocityGenerator(schema, text, params)
  if (params.headerFlag) {
    gen.writeHeaders()
    pending = true
  }
  private val settings = params.asWriterSettings.getFormat
  private val delim = params.delimiter.charAt(0).toByte
  private val quote = params.quote.toByte
  private val comment = settings.getComment.toByte
  private val lineSep = settings.getLineSeparatorString.getBytes(StandardCharsets.UTF_8)
  private val emptyValue = params.emptyValueInWrite.getBytes(StandardCharsets.UTF_8)
  private val byteKind = {
    val k = byteKinds(quote, params.escape.toByte)
    k(delim & 0xFF) = Quote
    k
  }
  // which strings of the row `accepts` last took hold the delimiter
  private val quoted = new Array[Boolean](kinds.length)

  override private[graft] def accepts(row: InternalRow): Boolean = {
    var any = false
    var i = 0
    while (i < kinds.length) {
      if (!row.isNullAt(i)) {
        any = true
        val ok = kinds(i) match {
          case Str => plainString(row.getUTF8String(i), i)
          case Day => plainDay(row.getInt(i))
          case _ => true
        }
        if (!ok) return false
      }
      i += 1
    }
    any
  }

  private def plainString(s: UTF8String, i: Int): Boolean = {
    val n = s.numBytes
    n == 0 || s.getByte(0) != ' ' && s.getByte(n - 1) != ' ' && s.getByte(0) != comment && {
      val kind = scan(s, byteKind)
      quoted(i) = kind == Quote
      kind != Stop
    }
  }

  override protected def format(row: InternalRow): Unit = {
    var i = 0
    while (i < kinds.length) {
      if (i > 0) buf.put(delim)
      if (!row.isNullAt(i)) kinds(i) match {
        case Str =>
          val s = row.getUTF8String(i)
          if (s.numBytes == 0) buf.put(emptyValue)
          else {
            if (quoted(i)) buf.put(quote)
            buf.utf8(s)
            if (quoted(i)) buf.put(quote)
          }
        case Day => buf.date(row.getInt(i))
        case k => buf.scalar(row, i, k)
      }
      i += 1
    }
    buf.put(lineSep)
  }

  override protected def generate(row: InternalRow): Unit = gen.write(row)
  override protected def flushGenerator(): Unit = gen.flush()
  override protected def closeGenerator(): Unit = gen.close()
}

/** The byte-scan tokenizer and the per-line hit/miss split. */
private[graft] object CsvLineScan {

  /** Whether a read can take the byte scan at all: a UTF-8 or US-ASCII
    * charset, one-byte ASCII delimiter, quote and escape, all distinct; no
    * multiLine, comment char, custom line separator, whitespace trimming,
    * null/empty value other than "", column width cap or single variant
    * column; and string-only required columns. Every other read is Spark's. */
  def qualifies(o: CSVOptions, dataSchema: StructType, requiredSchema: StructType): Boolean = {
    def ascii(c: Char) = c > 0 && c < 0x80
    val cs = Charset.forName(o.charset)
    (cs == StandardCharsets.UTF_8 || cs == StandardCharsets.US_ASCII) &&
      o.delimiter.length == 1 && ascii(o.delimiter.charAt(0)) && ascii(o.quote) &&
      ascii(o.escape) && Set(o.delimiter.charAt(0), o.quote, o.escape).size == 3 &&
      !o.multiLine && !o.isCommentSet && o.lineSeparatorInRead.isEmpty &&
      !o.ignoreLeadingWhiteSpaceInRead && !o.ignoreTrailingWhiteSpaceInRead &&
      o.nullValue.isEmpty && o.emptyValueInRead.isEmpty && o.maxCharsPerColumn < 0 &&
      o.singleVariantColumn.isEmpty && dataSchema.nonEmpty &&
      requiredSchema.forall(_.dataType == StringType)
  }

  /** `UnivocityParser.parseIterator` over Hadoop `Text` lines: the header
    * rule and the blank-line filter are Spark's, and each kept line is a hit
    * of [[LineSplitter]], written straight into an `UnsafeRow`, or goes to
    * Spark's own parser. Pushed filters skip hits as they skip Spark's rows. */
  def parseLines(lines: Iterator[Text], startOfFile: Boolean, parser: UnivocityParser,
                 headerChecker: CSVHeaderChecker, dataSchema: StructType,
                 actualRequired: StructType, required: StructType,
                 filters: StructFilters): Iterator[InternalRow] = {
    val o = parser.options
    def decode(t: Text) = new String(t.getBytes, 0, t.getLength, o.charset)
    if (o.headerFlag && startOfFile) { // CSVExprUtils.extractHeader: first non-blank line
      val header = lines.find(t => !blank(t.getBytes, t.getLength))
      header.foreach(t => headerChecker.checkHeaderColumnNames(decode(t)))
    }

    val splitter = new LineSplitter(o.delimiter.charAt(0).toByte, o.quote.toByte,
      o.escape.toByte, dataSchema.length,
      asciiOnly = Charset.forName(o.charset) == StandardCharsets.US_ASCII)
    val idx = actualRequired.map(f => dataSchema.indexOf(f)).toArray
    val writer = new UnsafeRowWriter(idx.length, 128)
    val oneRow = List(writer.getRow) // the row is reused, as UnivocityParser reuses its own
    def hit(b: Array[Byte]): Iterable[InternalRow] = {
      writer.reset()
      writer.zeroOutNullBytes()
      var i = 0
      var skip = false
      while (i < idx.length) {
        if (skip) writer.setNullAt(i)
        else {
          val s = splitter.starts(idx(i))
          val n = splitter.ends(idx(i)) - s
          if (n == 0) writer.setNullAt(i) else writer.write(i, b, s, n)
          skip = filters.skipRow(writer.getRow, i)
        }
        i += 1
      }
      writer.getRow // sets the row's size
      if (skip) Nil else oneRow
    }
    val safeParser = new FailureSafeParser[Text](
      t => if (splitter.split(t.getBytes, t.getLength)) hit(t.getBytes)
        else parser.parse(decode(t)).toList,
      o.parseMode, required, o.columnNameOfCorruptRecord)
    lines.filter(t => !blank(t.getBytes, t.getLength)).flatMap(safeParser.parse)
  }

  /** Spark's `line.trim.isEmpty` on the decoded line: for UTF-8 and ASCII a
    * char at or below U+0020 is exactly a byte at or below 0x20. */
  private def blank(b: Array[Byte], n: Int): Boolean = {
    var i = 0
    while (i < n) {
      if ((b(i) & 0xFF) > 0x20) return false
      i += 1
    }
    true
  }

  /** Splits one line's bytes into exactly `width` fields, or answers false
    * when the line is outside the simple grammar: valid UTF-8 (ASCII when
    * `asciiOnly`) without a leading BOM or a NUL byte; an unquoted field
    * holds no quote or escape byte; a quoted field holds none inside, and
    * its closing quote ends the line or meets the delimiter. Field `k` is
    * bytes `[starts(k), ends(k))`, quotes excluded. */
  final class LineSplitter(delim: Byte, quote: Byte, escape: Byte, width: Int,
                           asciiOnly: Boolean) {
    val starts = new Array[Int](width)
    val ends = new Array[Int](width)
    // the bytes a field scan must stop at: quote, escape, NUL and non-ASCII
    // bytes in both kinds of field, and the delimiter in unquoted ones
    private val stopQuoted = new Array[Boolean](256)
    Seq(quote & 0xFF, escape & 0xFF, 0).foreach(stopQuoted(_) = true)
    (0x80 until 256).foreach(stopQuoted(_) = true)
    private val stopUnquoted = stopQuoted.clone()
    stopUnquoted(delim & 0xFF) = true

    def split(b: Array[Byte], n: Int): Boolean = {
      if (n >= 3 && b(0) == 0xEF.toByte && b(1) == 0xBB.toByte && b(2) == 0xBF.toByte)
        return false
      var f = 0
      var i = 0
      while (f < width) {
        if (i < n && b(i) == quote) {
          i += 1
          starts(f) = i
          while (i < n && b(i) != quote) {
            if (!stopQuoted(b(i) & 0xFF)) i += 1
            else {
              i = if (asciiOnly) -1 else skipUtf8(b, i, n)
              if (i < 0) return false
            }
          }
          if (i == n) return false // no closing quote
          ends(f) = i
          i += 1
          if (i < n && b(i) != delim) return false
        } else {
          starts(f) = i
          while (i < n && b(i) != delim) {
            if (!stopUnquoted(b(i) & 0xFF)) i += 1
            else {
              i = if (asciiOnly) -1 else skipUtf8(b, i, n)
              if (i < 0) return false
            }
          }
          ends(f) = i
        }
        f += 1
        if (i == n) return f == width
        i += 1 // past the delimiter
      }
      false // more fields than the schema
    }
  }

  /** The index after the valid UTF-8 sequence at `i`, or -1 for an ASCII
    * byte or a malformed, overlong, surrogate or out-of-range sequence
    * (those decode to U+FFFD, which no byte copy matches). */
  def skipUtf8(b: Array[Byte], i: Int, n: Int): Int = {
    val c = b(i) & 0xFF
    def cont(k: Int, lo: Int = 0x80, hi: Int = 0xBF): Boolean =
      k < n && (b(k) & 0xFF) >= lo && (b(k) & 0xFF) <= hi
    if (c >= 0xC2 && c <= 0xDF) { if (cont(i + 1)) i + 2 else -1 }
    else if (c >= 0xE0 && c <= 0xEF) {
      val ok2 = if (c == 0xE0) cont(i + 1, 0xA0) else if (c == 0xED) cont(i + 1, hi = 0x9F)
        else cont(i + 1)
      if (ok2 && cont(i + 2)) i + 3 else -1
    } else if (c >= 0xF0 && c <= 0xF4) {
      val ok2 = if (c == 0xF0) cont(i + 1, 0x90) else if (c == 0xF4) cont(i + 1, hi = 0x8F)
        else cont(i + 1)
      if (ok2 && cont(i + 2) && cont(i + 3)) i + 4 else -1
    } else -1
  }
}
