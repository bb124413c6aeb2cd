package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Lenient scalar casts with the reference's semantics (meza/convert.py,
  * meza/fntools.py): currency/thousand-separator stripping, word-list bools,
  * zero-default on unparseable input (or error when `warn`).
  *
  * Composed from built-in codegen'd functions — no UDFs — except `toInt` and
  * `toFloat`: they run every numeric cell of meza's ingest path, so they read
  * plain numbers in one byte scan (`LenientNumber`) and keep this chain of
  * built-ins only for the strings the scan does not recognise. The price is
  * paid on misses: a `toFloat` column of mostly unrecognised numbers (16+
  * digits, padded, exponents) casts slower than the chain alone
  * (`LenientNumber` says by how much).
  */
object Lenient {

  /** Currency symbols stripped before numeric parse (meza/__init__.py:31). */
  val Currencies = "$£€"

  val DefTrues: Seq[String] = Seq("yes", "y", "true", "t")   // fntools.py:47
  val DefFalses: Seq[String] = Seq("no", "n", "false", "f")  // fntools.py:48
  val DefNulls: Seq[String] = Seq("na", "n/a", "none", "null", ".") // fntools.py:558-586

  /** fntools.strip (fntools.py:426-451): drop currency symbols + thousand
    * separators, normalize the decimal separator to '.'. */
  def stripNum(c: Column, thousandSep: String = ",", decimalSep: String = "."): Column = {
    // a one-char separator goes in the same translate as the currencies
    val noThou =
      if (singleChar(thousandSep)) translate(c, Currencies + thousandSep, "")
      else regexp_replace(translate(c, Currencies, ""),
        java.util.regex.Pattern.quote(thousandSep), "")
    if (decimalSep == ".") noThou
    else regexp_replace(noThou, java.util.regex.Pattern.quote(decimalSep), ".")
  }

  /** One BMP char: a separator `translate` (and the scan kernel) can take. */
  private[functions] def singleChar(sep: String): Boolean =
    sep.length == 1 && !Character.isSurrogate(sep.charAt(0))

  /** fntools.is_numeric (fntools.py:454-496) incl. the leading-zero rule:
    * "0123" is not numeric (a zero-padded code, not a number), but "0",
    * "00", "0.1" are. */
  def isNumeric(c: Column, thousandSep: String = ",", decimalSep: String = "."): Column = {
    val stripped = stripNum(c, thousandSep, decimalSep)
    val f = stripped.try_cast(DoubleType)
    // leading-zero rule is a literal startswith("0"): "-0123" IS numeric
    f.isNotNull && (!stripped.rlike("^0[0-9]") || f === 0.0)
  }

  /** fntools.is_int: numeric AND integral value ("1.00" is int). */
  def isIntCol(c: Column, thousandSep: String = ",", decimalSep: String = "."): Column = {
    val f = stripNum(c, thousandSep, decimalSep).try_cast(DoubleType)
    isNumeric(c, thousandSep, decimalSep) && f === floor(f)
  }

  /** fntools.is_bool word lists (fntools.py:526-555). For string input only
    * the word lists count — the doctest pins is_bool('1') == False (numeric
    * 0/1 qualify only as real ints, which a string column never holds). */
  def isBoolCol(c: Column): Column =
    lower(c.cast(StringType)).isin((DefTrues ++ DefFalses): _*)

  /** fntools.is_null: the null word list; blanks optionally null. */
  def isNullCol(c: Column, blanksAsNulls: Boolean = false): Column = {
    val base = c.isNull || lower(c.cast(StringType)).isin(DefNulls: _*)
    if (blanksAsNulls) base || trim(c.cast(StringType)) === "" else base
  }

  /** convert.to_bool (convert.py:101-157): word lists; anything else False
    * (or error when warn). */
  def toBool(c: Column, warn: Boolean = false): Column = {
    val l = lower(c.cast(StringType))
    val parsed = when(l.isin(DefTrues: _*), lit(true))
      .when(l.isin(DefFalses: _*), lit(false))
    if (warn) coalesce(parsed, raise_error(concat(lit("Invalid bool value: `"), c, lit("`."))))
    else coalesce(parsed, lit(false))
  }

  /** convert.to_int (convert.py:160-208): int(float(strip(x))) — truncates
    * toward zero; 0 on failure ('spam' -> 0) unless warn. */
  def toInt(c: Column, thousandSep: String = ",", decimalSep: String = ".",
            warn: Boolean = false): Column =
    LenientNumber.column(c, toIntChain(c, thousandSep, decimalSep, warn),
      integral = true, warn, thousandSep, decimalSep)

  /** `toInt` as the chain of built-ins: the scan kernel's fallback. */
  private[functions] def toIntChain(c: Column, thousandSep: String, decimalSep: String,
                                    warn: Boolean): Column = {
    val f = stripNum(c, thousandSep, decimalSep).try_cast(DoubleType)
    // double->long truncates toward zero; beyond the BIGINT range it is null
    // under ANSI on or off, so non-warn mode gives its 0 and never raises
    val truncated = f.try_cast(LongType)
    if (warn) {
      // warn mode demands a *true int* (is_int), not a truncatable float
      when(isIntCol(c, thousandSep, decimalSep) && truncated.isNotNull, truncated)
        .otherwise(raise_error(concat(lit("Invalid int value: `"), c, lit("`."))))
    } else coalesce(truncated, lit(0L))
  }

  /** convert.to_float (convert.py:211-252). */
  def toFloat(c: Column, thousandSep: String = ",", decimalSep: String = ".",
              warn: Boolean = false): Column =
    LenientNumber.column(c, toFloatChain(c, thousandSep, decimalSep, warn),
      integral = false, warn, thousandSep, decimalSep)

  /** `toFloat` as the chain of built-ins: the scan kernel's fallback. */
  private[functions] def toFloatChain(c: Column, thousandSep: String, decimalSep: String,
                                      warn: Boolean): Column = {
    val f = stripNum(c, thousandSep, decimalSep).try_cast(DoubleType)
    val ok = isNumeric(c, thousandSep, decimalSep)
    if (warn) when(ok, f).otherwise(
      raise_error(concat(lit("Invalid float value: `"), c, lit("`."))))
    else when(ok, f).otherwise(lit(0.0))
  }

  /** convert.to_decimal (convert.py:255-313): quantize to `places`,
    * ROUND_HALF_UP (roundup=true, Spark's decimal cast default) or
    * ROUND_HALF_DOWN (exact ceil/floor arithmetic on decimals). */
  def toDecimal(c: Column, places: Int = 2, roundup: Boolean = true,
                thousandSep: String = ",", decimalSep: String = "."): Column = {
    val wide = DecimalType(38, 18)
    val target = DecimalType(38, places)
    val x = coalesce(
      when(isNumeric(c, thousandSep, decimalSep),
        stripNum(c, thousandSep, decimalSep).try_cast(wide)),
      lit(0).cast(wide))
    if (roundup) x.cast(target)
    else {
      // HALF_DOWN via exact decimal arithmetic: shift, half-down-round, unshift
      val scaled = x * pow(lit(10), places).cast(wide)
      val rounded = when(x >= 0, ceil(scaled - lit(0.5).cast(wide)))
        .otherwise(floor(scaled + lit(0.5).cast(wide)))
      (rounded.cast(wide) / pow(lit(10), places).cast(wide)).cast(target)
    }
  }
}
