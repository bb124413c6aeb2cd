package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar string/misc helpers from the reference's fntools/convert surface
  * (SURVEY §2.8 F8/F9/F12 + P12). All composed built-ins (codegen'd).
  */
object StringFns {

  /** fntools.xmlize (fntools.py:724-752): escape XML special chars. */
  def xmlize(c: Column): Column = {
    val amp = regexp_replace(c, "&", "&amp;")
    val lt = regexp_replace(amp, "<", "&lt;")
    val gt = regexp_replace(lt, ">", "&gt;")
    val quot = regexp_replace(gt, "\"", "&quot;")
    regexp_replace(quot, "'", "&apos;")
  }

  /** fntools.mreplace (fntools.py:347-363): apply (find, replace) pairs in
    * order (literal, not regex). */
  def mreplace(c: Column, replacements: Seq[(String, String)]): Column =
    replacements.foldLeft(c) { case (acc, (from, to)) =>
      regexp_replace(acc, java.util.regex.Pattern.quote(from),
        java.util.regex.Matcher.quoteReplacement(to))
    }

  /** fntools.add_ordinal (fntools.py:839-856): 1 -> "1st", 22 -> "22nd",
    * 11/12/13 -> "th". */
  def addOrdinal(c: Column): Column = {
    val n = c.cast("long")
    val suffix = when(pmod(n, lit(100)).isin(11L, 12L, 13L), "th")
      .when(pmod(n, lit(10)) === 1, "st")
      .when(pmod(n, lit(10)) === 2, "nd")
      .when(pmod(n, lit(10)) === 3, "rd")
      .otherwise("th")
    concat(n.cast("string"), suffix)
  }

  /** convert.ctype2ext (convert.py:47-78): MIME type -> file extension. */
  val ctype2ext: Map[String, String] = Map(
    "text/csv" -> "csv",
    "text/tab-separated-values" -> "tsv",
    "application/json" -> "json",
    "application/x-yaml" -> "yml",
    "text/html" -> "html",
    "application/xml" -> "xml",
    "text/xml" -> "xml",
    "application/vnd.ms-excel" -> "xls",
    "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet" -> "xlsx",
    "application/geo+json" -> "geojson",
    "application/octet-stream" -> "bin")
}
