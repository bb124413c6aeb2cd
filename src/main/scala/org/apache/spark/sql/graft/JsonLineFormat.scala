package org.apache.spark.sql.graft

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.core.io.JsonStringEncoder
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.json.{JacksonGenerator, JSONOptions}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.types.{Metadata, StructType}

/** Spark's JSON source with a byte formatter in front of its Jackson
  * generator: `graft.sources.Writers.ndjson` writes through it.
  *
  * A row in the grammar of [[JsonLineWriter]] is formatted straight into
  * bytes, and every other row goes to Spark's `JacksonGenerator` over the
  * same file. File names, the commit protocol and `maxRecordsPerFile` stay
  * Spark's. A write with an option other than `maxRecordsPerFile`, a column
  * type outside [[LineWriter.columnKinds]], column metadata, or null fields
  * written out, is `JsonFileFormat`'s writer unchanged; so is every read.
  */
class JsonLineFormat extends JsonFileFormat {

  // JsonFileFormat's equality takes every subclass for itself, but hashes by class
  override def equals(other: Any): Boolean = other.isInstanceOf[JsonLineFormat]

  override def hashCode(): Int = getClass.hashCode()

  override def prepareWrite(
      sparkSession: SparkSession,
      job: Job,
      options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    val spark = super.prepareWrite(sparkSession, job, options, dataSchema)
    val conf = sparkSession.sessionState.conf
    val parsed = new JSONOptions(options, conf.sessionLocalTimeZone,
      conf.columnNameOfCorruptRecord)
    val kinds = LineWriter.columnKinds(dataSchema)
    if (kinds.isEmpty || !LineWriter.plainOptions(options, Set("path", "maxrecordsperfile")) ||
        !parsed.ignoreNullFields || dataSchema.exists(_.metadata != Metadata.empty)) spark
    else new OutputWriterFactory {
      override def getFileExtension(context: TaskAttemptContext): String =
        spark.getFileExtension(context)
      override def newInstance(path: String, dataSchema: StructType,
                               context: TaskAttemptContext): OutputWriter =
        new JsonLineWriter(path, dataSchema, kinds.get, context, parsed)
    }
  }
}

/** An NDJSON part file whose rows are formatted straight into bytes where
  * each non-null field is:
  *   - a string that is valid UTF-8 and holds no `"`, `\` or control byte,
  *     copied between quotes;
  *   - a long, int, short or byte; a boolean; a finite float or double (as
  *     `Float`/`Double.toString`, which Jackson writes);
  *   - a date in years 1 to 9999, as `"yyyy-MM-dd"`.
  * Null fields are left out, as Spark leaves them out, and names are
  * escaped once with Jackson's own encoder. Every other row is written by
  * Spark's `JacksonGenerator`.
  */
private[graft] final class JsonLineWriter(path: String, schema: StructType, kinds: Array[Int],
    context: TaskAttemptContext, params: JSONOptions) extends LineWriter(path, context) {
  import LineWriter._

  private val gen = new JacksonGenerator(schema, text, params)
  private val names = schema.fieldNames.map(n =>
    ("\"" + new String(JsonStringEncoder.getInstance.quoteAsString(n)) + "\":").getBytes(UTF_8))
  private val lineSep = params.lineSeparatorInWrite.getBytes(UTF_8)
  private val byteKind = byteKinds('"'.toByte, '\\'.toByte)

  override private[graft] def accepts(row: InternalRow): Boolean = {
    var i = 0
    while (i < kinds.length) {
      if (!row.isNullAt(i)) {
        val ok = kinds(i) match {
          case Str => scan(row.getUTF8String(i), byteKind) != Stop
          case F64 => java.lang.Double.isFinite(row.getDouble(i))
          case F32 => java.lang.Float.isFinite(row.getFloat(i))
          case Day => plainDay(row.getInt(i))
          case _ => true
        }
        if (!ok) return false
      }
      i += 1
    }
    true
  }

  override protected def format(row: InternalRow): Unit = {
    buf.put('{'.toByte)
    var first = true
    var i = 0
    while (i < kinds.length) {
      if (!row.isNullAt(i)) {
        if (!first) buf.put(','.toByte)
        first = false
        buf.put(names(i))
        kinds(i) match {
          case Str =>
            buf.put('"'.toByte)
            buf.utf8(row.getUTF8String(i))
            buf.put('"'.toByte)
          case Day =>
            buf.put('"'.toByte)
            buf.date(row.getInt(i))
            buf.put('"'.toByte)
          case k => buf.scalar(row, i, k)
        }
      }
      i += 1
    }
    buf.put('}'.toByte)
    buf.put(lineSep)
  }

  override protected def generate(row: InternalRow): Unit = {
    gen.write(row)
    gen.writeLineEnding()
  }
  override protected def flushGenerator(): Unit = gen.flush()
  override protected def closeGenerator(): Unit = gen.close()
}
