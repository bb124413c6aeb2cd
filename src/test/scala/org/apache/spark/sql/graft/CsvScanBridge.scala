package org.apache.spark.sql.graft

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** Spec-side handle on `CsvLineScan` (`private[graft]`): `graft.CsvScanSpec`
  * pins which reads take the byte scan, which lines it takes and the fields
  * it gives.
  */
object CsvScanBridge {

  /** Whether a read with these CSV options takes the byte scan, for a schema
    * of `width` string columns, or of strings and one int when `intColumn`. */
  def qualifies(options: Map[String, String], width: Int, intColumn: Boolean = false): Boolean = {
    val schema = StructType((1 to width).map(i =>
      StructField(s"h$i", if (intColumn && i == 1) IntegerType else StringType)))
    CsvLineScan.qualifies(new CSVOptions(options, true, "UTC"), schema, schema)
  }

  /** The fields the byte scan gives `line` for a `width`-column schema, an
    * empty field as "", or None where the line goes to Spark's parser. */
  def split(line: Array[Byte], width: Int, delimiter: Char = ',', quote: Char = '"',
            escape: Char = '\\', asciiOnly: Boolean = false): Option[Seq[String]] = {
    val s = new CsvLineScan.LineSplitter(delimiter.toByte, quote.toByte, escape.toByte, width,
      asciiOnly)
    if (!s.split(line, line.length)) None
    else Some((0 until width).map(k =>
      new String(line, s.starts(k), s.ends(k) - s.starts(k), StandardCharsets.UTF_8)))
  }
}
