package graft.functions

import java.time.ZoneOffset

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the reference's lenient datetime casts
  * (meza/convert.py:316-510): multi-format parse, `dayfirst`, impossible-day
  * repair, `9999-12-31` sentinel. The one piece Spark's `to_timestamp`
  * cannot express (it is single-format and null-on-error).
  *
  * CodegenFallback: the surrounding projection still whole-stage-codegens;
  * only this leaf falls back to eval. The leaf sits on meza's ingest path
  * (read → detect → cast → write), so its per-row cost is the cast's cost:
  * plain `yyyy-m-d` and `m/d/yyyy` strings take `DateParser`'s regex-free
  * fast path, and only the rest pay for the regex parse.
  */
case class LenientTimestamp(child: Expression, dayFirst: Boolean = false)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = false
  override def nullSafeEval(v: Any): Any = {
    val dt = DateParser.toDatetime(v.toString, dayFirst)
    DateTimeUtils.localDateTimeToMicros(dt)
  }
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) DateTimeUtils.localDateTimeToMicros(DateParser.NullDateTime)
    else nullSafeEval(v)
  }
  override protected def withNewChildInternal(c: Expression): LenientTimestamp = copy(child = c)
  override def prettyName: String = "lenient_timestamp"
}

case class LenientDate(child: Expression, dayFirst: Boolean = false)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DateType
  override def nullable: Boolean = false
  override def nullSafeEval(v: Any): Any = {
    val d = DateParser.toDate(v.toString, dayFirst)
    DateTimeUtils.localDateToDays(d)
  }
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) DateTimeUtils.localDateToDays(DateParser.NullDate)
    else nullSafeEval(v)
  }
  override protected def withNewChildInternal(c: Expression): LenientDate = copy(child = c)
  override def prettyName: String = "lenient_date"
}

/** Time-of-day as canonical "HH:mm:ss" string — Spark has no TimeType;
  * decision recorded in SURVEY §1.2 (matches the reference xls reader's
  * string rendering, meza/io.py:995).
  */
case class LenientTime(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def nullSafeEval(v: Any): Any = {
    val t = DateParser.toTime(v.toString)
    UTF8String.fromString("%02d:%02d:%02d".format(t.getHour, t.getMinute, t.getSecond))
  }
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) UTF8String.fromString("00:00:00") else nullSafeEval(v)
  }
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
