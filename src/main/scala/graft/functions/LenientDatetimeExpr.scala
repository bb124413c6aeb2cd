package graft.functions

import java.time.ZoneOffset

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the reference's lenient datetime casts
  * (meza/convert.py:316-510): multi-format parse, `dayfirst`, impossible-day
  * repair, `9999-12-31` sentinel. The one piece Spark's `to_timestamp`
  * cannot express (it is single-format and null-on-error).
  *
  * Each compiles through [[KernelCodegen.NonNull]]: the generated code calls
  * the expression's own Scala kernel, so the cast `Project` of
  * `DetectTypes.typeCast` fuses into the scan's whole-stage-codegen stage.
  * (An operator holding a `CodegenFallback` expression is left out of every
  * stage, and its child stage then copies each row into a fresh `UnsafeRow`.)
  * A null input gives the kernel's null default, never null. The kernels sit
  * on meza's ingest path (read → detect → cast → write), so their per-row
  * cost is the cast's cost: plain `yyyy-m-d` and `m/d/yyyy` strings take
  * `DateParser`'s regex-free fast path, and only the rest pay for the regex
  * parse.
  */
case class LenientTimestamp(child: Expression, dayFirst: Boolean = false)
    extends KernelCodegen.NonNull {
  override def dataType: DataType = TimestampType
  override def nullSafeEval(v: Any): Any = {
    val dt = DateParser.toDatetime(v.toString, dayFirst)
    DateTimeUtils.localDateTimeToMicros(dt)
  }
  override def nullInput: Any = DateTimeUtils.localDateTimeToMicros(DateParser.NullDateTime)
  override protected def withNewChildInternal(c: Expression): LenientTimestamp = copy(child = c)
  override def prettyName: String = "lenient_timestamp"
}

case class LenientDate(child: Expression, dayFirst: Boolean = false)
    extends KernelCodegen.NonNull {
  override def dataType: DataType = DateType
  override def nullSafeEval(v: Any): Any = {
    val d = DateParser.toDate(v.toString, dayFirst)
    DateTimeUtils.localDateToDays(d)
  }
  override def nullInput: Any = DateTimeUtils.localDateToDays(DateParser.NullDate)
  override protected def withNewChildInternal(c: Expression): LenientDate = copy(child = c)
  override def prettyName: String = "lenient_date"
}

/** Time-of-day as canonical "HH:mm:ss" string — Spark has no TimeType;
  * decision recorded in SURVEY §1.2 (matches the reference xls reader's
  * string rendering, meza/io.py:995).
  */
case class LenientTime(child: Expression) extends KernelCodegen.NonNull {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any = {
    val t = DateParser.toTime(v.toString)
    UTF8String.fromString("%02d:%02d:%02d".format(t.getHour, t.getMinute, t.getSecond))
  }
  override def nullInput: Any = UTF8String.fromString("00:00:00")
  override protected def withNewChildInternal(c: Expression): LenientTime = copy(child = c)
  override def prettyName: String = "lenient_time"
}

object LenientDatetimeExpr {
  /** Column-level entry points (mirror convert.to_datetime/to_date/to_time). */
  def lenientTimestamp(c: Column, dayFirst: Boolean = false): Column =
    column(LenientTimestamp(expression(c), dayFirst))
  def lenientDate(c: Column, dayFirst: Boolean = false): Column =
    column(LenientDate(expression(c), dayFirst))
  def lenientTime(c: Column): Column = column(LenientTime(expression(c)))
}
