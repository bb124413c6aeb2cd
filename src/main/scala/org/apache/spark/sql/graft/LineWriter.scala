package org.apache.spark.sql.graft

import java.io.{OutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDate
import java.util.Locale

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.TaskAttemptContext

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{CodecStreams, OutputWriter}
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One task's part file for the byte writers of `CsvLineFormat` and
  * `JsonLineFormat`. A row that `accepts` takes is formatted as bytes
  * straight into the file's buffer. Every other row goes to Spark's own
  * generator, which writes through `text` into the same buffer, so a miss is
  * Spark's bytes by construction. The generator is flushed into the buffer
  * before the next formatted row, which keeps the rows in order. `accepts`
  * reads the row without formatting it, so a miss costs only the check.
  *
  * The file is opened with Spark's `CodecStreams` when the writer is made,
  * as Spark's writers open it, so an empty task leaves the same file.
  */
private[graft] abstract class LineWriter(val path: String, context: TaskAttemptContext)
    extends OutputWriter {

  protected val buf = new LineBuffer(CodecStreams.createOutputStream(context, new Path(path)))

  /** The writer Spark's generator writes its text through. */
  protected val text = new OutputStreamWriter(buf, UTF_8)

  /** Whether `format` writes `row` as Spark's generator would. */
  private[graft] def accepts(row: InternalRow): Boolean

  /** Formats an accepted row at the end of `buf`. */
  protected def format(row: InternalRow): Unit

  /** Spark's generator: write one row, flush into `buf`, close. */
  protected def generate(row: InternalRow): Unit
  protected def flushGenerator(): Unit
  protected def closeGenerator(): Unit

  /** Whether the generator may hold bytes that are not in `buf` yet. */
  protected var pending = false

  final override def write(row: InternalRow): Unit =
    if (accepts(row)) {
      if (pending) {
        flushGenerator()
        pending = false
      }
      format(row)
      buf.endLine()
    } else {
      generate(row)
      pending = true
    }

  final override def close(): Unit = {
    closeGenerator()
    text.close()
    buf.close()
  }
}

private[graft] object LineWriter {
  // the column kinds the byte writers format
  final val Str = 0
  final val I64 = 1
  final val I32 = 2
  final val I16 = 3
  final val I8 = 4
  final val Bool = 5
  final val F64 = 6
  final val F32 = 7
  final val Day = 8

  /** Each column's kind, or None when a column's type is outside them. */
  def columnKinds(schema: StructType): Option[Array[Int]] = {
    val k = schema.map(_.dataType match {
      case StringType => Str
      case LongType => I64
      case IntegerType => I32
      case ShortType => I16
      case ByteType => I8
      case BooleanType => Bool
      case DoubleType => F64
      case FloatType => F32
      case DateType => Day
      case _ => -1
    }).toArray
    if (k.contains(-1)) None else Some(k)
  }

  /** Whether a write sets no option outside `allowed` (lower case) and
    * formats dates with the proleptic Gregorian formatter. */
  def plainOptions(options: Map[String, String], allowed: Set[String]): Boolean =
    options.keys.forall(k => allowed(k.toLowerCase(Locale.ROOT))) &&
      SQLConf.get.legacyTimeParserPolicy != LegacyBehaviorPolicy.LEGACY

  private val MinDay = LocalDate.of(1, 1, 1).toEpochDay
  private val MaxDay = LocalDate.of(9999, 12, 31).toEpochDay

  /** Whether a date is in years 1 to 9999: outside them Spark's formatter
    * writes an era or a sign, not `yyyy-MM-dd`. */
  def plainDay(days: Int): Boolean = days >= MinDay && days <= MaxDay

  // the kinds of byte for `scan`
  final val Plain: Byte = 0
  final val Stop: Byte = 1
  final val Multi: Byte = 2
  final val Quote: Byte = 3

  /** Every control byte (below 0x20, and 0x7F) a `Stop`, every byte from
    * 0x80 `Multi`, the rest `Plain`; then `stops` are `Stop`. */
  def byteKinds(stops: Byte*): Array[Byte] = {
    val k = Array.tabulate[Byte](256)(b =>
      if (b < 0x20 || b == 0x7F) Stop else if (b >= 0x80) Multi else Plain)
    stops.foreach(b => k(b & 0xFF) = Stop)
    k
  }

  /** `s` checked against `kinds`: `Stop` at the first `Stop` byte or
    * invalid UTF-8, else `Quote` if a `Quote` byte was seen, else `Plain`. */
  def scan(s: UTF8String, kinds: Array[Byte]): Byte = {
    var b: Array[Byte] = null
    var i = 0
    s.getBaseObject match {
      case a: Array[Byte] =>
        b = a
        i = (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt
      case _ => b = s.getBytes
    }
    val end = i + s.numBytes
    var result = Plain
    while (i < end) {
      val k = kinds(b(i) & 0xFF)
      if (k == Plain) i += 1
      else if (k == Quote) {
        result = Quote
        i += 1
      } else if (k == Multi) {
        i = CsvLineScan.skipUtf8(b, i, end)
        if (i < 0) return Stop
      } else return Stop
    }
    result
  }
}

/** A growable byte array in front of the part file's stream. Rows are
  * formatted into it in place; it drains once it holds `DrainAt` bytes,
  * only between rows. `flush` stops here: Spark's generators flush into the
  * buffer, not through it. */
private[graft] final class LineBuffer(out: OutputStream) extends OutputStream {
  private val DrainAt = 1 << 16
  private var bytes = new Array[Byte](DrainAt + 4096)
  private var pos = 0
  private var closed = false

  private def ensure(n: Int): Unit =
    if (pos + n > bytes.length)
      bytes = java.util.Arrays.copyOf(bytes, math.max(bytes.length * 2, pos + n))

  override def write(b: Int): Unit = put(b.toByte)

  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    ensure(len)
    System.arraycopy(b, off, bytes, pos, len)
    pos += len
    endLine() // only a generator writes arrays, never inside a formatted row
  }

  /** Marks the end of a whole row: drains a full buffer. */
  def endLine(): Unit = if (pos >= DrainAt) drain()

  private def drain(): Unit = {
    out.write(bytes, 0, pos)
    pos = 0
  }

  override def flush(): Unit = ()

  override def close(): Unit = if (!closed) {
    closed = true
    drain()
    out.close()
  }

  // the formatting primitives: none drains

  def put(b: Array[Byte]): Unit = {
    ensure(b.length)
    System.arraycopy(b, 0, bytes, pos, b.length)
    pos += b.length
  }

  def put(b: Byte): Unit = {
    ensure(1)
    bytes(pos) = b
    pos += 1
  }

  def ascii(s: String): Unit = {
    val n = s.length
    ensure(n)
    var i = 0
    while (i < n) {
      bytes(pos + i) = s.charAt(i).toByte
      i += 1
    }
    pos += n
  }

  def utf8(s: UTF8String): Unit = {
    val n = s.numBytes
    ensure(n)
    Platform.copyMemory(s.getBaseObject, s.getBaseOffset, bytes, Platform.BYTE_ARRAY_OFFSET + pos, n)
    pos += n
  }

  /** A field of a kind other than `Str` and `Day`, as Spark's generators
    * write it: integers and booleans as Jackson and `toString` write them,
    * floats and doubles as `Float`/`Double.toString`. */
  def scalar(row: InternalRow, i: Int, kind: Int): Unit = kind match {
    case LineWriter.I64 => long(row.getLong(i))
    case LineWriter.I32 => long(row.getInt(i))
    case LineWriter.I16 => long(row.getShort(i))
    case LineWriter.I8 => long(row.getByte(i))
    case LineWriter.Bool => ascii(if (row.getBoolean(i)) "true" else "false")
    case LineWriter.F64 => ascii(java.lang.Double.toString(row.getDouble(i)))
    case LineWriter.F32 => ascii(java.lang.Float.toString(row.getFloat(i)))
  }

  /** `v` as `Long.toString` writes it. */
  def long(v: Long): Unit =
    if (v == Long.MinValue) ascii(v.toString)
    else {
      ensure(20)
      if (v < 0) {
        bytes(pos) = '-'
        pos += 1
      }
      val x = math.abs(v)
      var n = 1
      var p = 10L
      while (n < 19 && x >= p) { n += 1; p *= 10 }
      digits(x, n)
    }

  /** A date in years 1 to 9999 ([[LineWriter.plainDay]]) as `yyyy-MM-dd`. */
  def date(days: Int): Unit = {
    val d = LocalDate.ofEpochDay(days)
    ensure(10)
    digits(d.getYear, 4)
    bytes(pos) = '-'
    pos += 1
    digits(d.getMonthValue, 2)
    bytes(pos) = '-'
    pos += 1
    digits(d.getDayOfMonth, 2)
  }

  /** The last `n` decimal digits of `v` (≥ 0), zero-padded. */
  private def digits(v: Long, n: Int): Unit = {
    var x = v
    var i = pos + n - 1
    while (i >= pos) {
      bytes(i) = ('0' + x % 10).toByte
      x /= 10
      i -= 1
    }
    pos += n
  }
}
