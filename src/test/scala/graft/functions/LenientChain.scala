package graft.functions

import org.apache.spark.sql.Column

/** Spec-side handle on `Lenient`'s chain of built-ins and on the scan kernel
  * of `toInt`/`toFloat`, both `private[functions]`: `graft.LenientNumberSpec`
  * holds the kernel to the chain.
  */
object LenientChain {
  def toInt(c: Column, thousandSep: String, decimalSep: String, warn: Boolean): Column =
    Lenient.toIntChain(c, thousandSep, decimalSep, warn)

  def toFloat(c: Column, thousandSep: String, decimalSep: String, warn: Boolean): Column =
    Lenient.toFloatChain(c, thousandSep, decimalSep, warn)

  /** The scan kernel alone: null exactly where it misses. */
  def scan(c: Column, integral: Boolean, thousandSep: String, decimalSep: String,
           warn: Boolean): Column =
    LenientNumber.scan(c, integral, warn, thousandSep, decimalSep)
}
