package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.coalesce
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One-scan kernel behind `Lenient.toInt`/`toFloat`: the plain numbers of
  * meza's ingest path (`$12,345.67`, `-5`, `0.1`) are read in one pass over
  * the UTF-8 bytes instead of the `translate` → `try_cast` → leading-zero
  * `rlike` chain, each step of which copies the value through a Java String.
  *
  * A hit is `-?D+(.D*)?` once currency symbols and the thousands separator
  * are skipped (anywhere, as `stripNum` deletes them anywhere), with at most
  * 15 ASCII digits. Its value is mantissa ÷ 10^k with mantissa < 2^53 and
  * k ≤ 15, so both operands are exact doubles and the one correctly rounded
  * division equals `Double.parseDouble` of the stripped string bit for bit
  * (Clinger's fast path). A hit is never null. Everything else — blanks,
  * `+`, exponents, `NaN`, 16+ digits, `.5`, a second separator, and in
  * `warn` mode any value the chain would reject — is null, and
  * `LenientNumber.column` puts the unchanged chain behind it in a
  * `coalesce`, so a miss is exact by construction.
  *
  * The kernel compiles into the enclosing whole-stage-codegen stage
  * ([[KernelCodegen]]). A miss costs the scan plus the chain, and Spark's
  * common subexpression elimination does not reach into `coalesce`'s later
  * children, compiled or not, so the chain runs each of its `stripNum` uses
  * separately. `toFloat`'s chain uses it up to three times (the `isNumeric`
  * test and the value): a `toFloat` column of numeric-looking misses casts
  * slower than the chain alone. Compiled, on 500k cached cells to the `noop`
  * sink (`local[3]`, medians of 7, two rounds), 16+ digits cost +46–51%,
  * padded numbers +40–47% and exponents +33–35% over the chain, against
  * +57–74%, +40–55% and +38–43% interpreted; `n/a` costs −2 to +16%.
  * Outside `warn` mode `toInt`'s chain uses it once, so its misses cost
  * about the chain (0–7%). On meza's ingest path about 99% of cells are hits.
  */
private[functions] case class LenientNumber(child: Expression, integral: Boolean,
    warn: Boolean, thousandSep: Char, decimalSep: Char)
    extends KernelCodegen {
  import LenientNumber._

  override def dataType: DataType = if (integral) LongType else DoubleType
  override def nullable: Boolean = true

  private val thou = thousandSep.toString.getBytes(UTF_8)
  private val dec = decimalSep.toString.getBytes(UTF_8)

  /** The chain's result for a plain number, or null on a miss. */
  override protected def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String]
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    def at(seq: Array[Byte], i: Int): Boolean = {
      if (i + seq.length > n) return false
      var j = 0
      while (j < seq.length) {
        if (Platform.getByte(base, off + i + j) != seq(j)) return false
        j += 1
      }
      true
    }
    def currency(i: Int): Int = {
      var c = 0
      while (c < CurrencyBytes.length) {
        if (at(CurrencyBytes(c), i)) return CurrencyBytes(c).length
        c += 1
      }
      0
    }
    var i = 0
    var neg = false
    var mant = 0L
    var digits = 0
    var frac = -1          // digits after the decimal separator; -1 before it
    var kept = 0           // characters stripNum keeps ('-', digits, separator)
    var firstZero = false
    var zeroLed = false    // the kept string starts with "0" and a digit
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b >= '0' && b <= '9') {
        if (digits == MaxDigits) return null
        if (kept == 1 && firstZero) zeroLed = true
        if (kept == 0 && b == '0') firstZero = true
        mant = mant * 10 + (b - '0')
        digits += 1
        if (frac >= 0) frac += 1
        kept += 1
        i += 1
      } else if (b == '-') {
        if (kept > 0) return null
        neg = true
        kept = 1
        i += 1
      } else if (at(dec, i)) {
        if (digits == 0 || frac >= 0) return null
        frac = 0
        kept += 1
        i += dec.length
      } else if (at(thou, i)) i += thou.length
      else {
        val skip = currency(i)
        if (skip == 0) return null
        i += skip
      }
    }
    if (digits == 0) return null
    val mag = if (frac <= 0) mant.toDouble else mant.toDouble / Pow10(frac)
    val x = if (neg) -mag else mag
    // fntools.is_numeric's literal startswith("0") rule; "00" is still 0
    val numeric = !zeroLed || x == 0.0
    if (integral) {
      // warn demands is_int; otherwise int(float(x)) truncates toward zero
      if (!warn || (numeric && x == math.floor(x))) x.toLong else null
    } else if (numeric) x
    else if (warn) null
    else 0.0
  }

  override protected def withNewChildInternal(c: Expression): LenientNumber = copy(child = c)
  override def prettyName: String = "lenient_number"
}

private[functions] object LenientNumber {
  private val MaxDigits = 15
  private val Pow10 = Array.tabulate(MaxDigits + 1)(k => math.pow(10, k))
  private val CurrencyBytes = Lenient.Currencies.map(_.toString.getBytes(UTF_8)).toArray

  /** The scan kernel over `c`, null where it misses. */
  def scan(c: Column, integral: Boolean, warn: Boolean,
           thousandSep: String, decimalSep: String): Column =
    ColumnBridge.column(LenientNumber(ColumnBridge.expression(c.cast(StringType)),
      integral, warn, thousandSep.charAt(0), decimalSep.charAt(0)))

  /** `coalesce(scan, chain)`, or `chain` alone when a separator is one the
    * scan cannot take: not one BMP char, an ASCII digit, `-`, a currency
    * symbol, or both separators the same. */
  def column(c: Column, chain: Column, integral: Boolean, warn: Boolean,
             thousandSep: String, decimalSep: String): Column = {
    def plain(sep: String) = Lenient.singleChar(sep) && {
      val ch = sep.charAt(0)
      (ch < '0' || ch > '9') && ch != '-' && !Lenient.Currencies.contains(ch)
    }
    if (!plain(thousandSep) || !plain(decimalSep) || thousandSep == decimalSep) chain
    else coalesce(scan(c, integral, warn, thousandSep, decimalSep), chain)
  }
}
