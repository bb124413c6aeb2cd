package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, trim}
import org.apache.spark.sql.graft.{CsvLineFormat, CsvScanBridge}

import graft.sources.Readers

/** Differential spec for `Readers.csv`'s byte-scan line reader: over files
  * generated from a fixed seed, its rows must equal, as exact multisets, the
  * rows of Spark's own CSV reader with the same options followed by the same
  * header and blank-row handling (the reader `Readers.csv` used before the
  * scan). The lines mix hits of the scan with every kind of miss: quoted
  * delimiters, `""` and `\"`, stray quotes, text after a closing quote,
  * ragged rows, blank lines, CRLF and CR, BOMs, non-ASCII and invalid UTF-8,
  * NUL and other control bytes, in four dialects, one file and several, and
  * with splits that start mid-file. Which reads take the scan, and which
  * lines, is pinned on fixed lists.
  */
class CsvScanSpec extends SparkSpec {

  private val width = 4

  private def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)

  // one field: what the scan takes, and what it must leave to Spark's parser
  private def field(r: Random, d: Char, q: Char): Array[Byte] = {
    val plain = Seq("a", "bb", "12.5", "$1,2", "x y", " lead", "trail ", " ", "Ādam",
      "Iñtërnâtiônàl", "😀", " nb", "tab\there", "\u0001ctl", "\u000bvt")
    r.nextInt(20) match {
      case 0 | 1 | 2 | 3 | 4 | 5 | 6 => bytes(plain(r.nextInt(plain.length)))
      case 7 | 8 => Array.emptyByteArray
      case 9 => bytes(s"$q${plain(r.nextInt(plain.length))}$d more$q") // quoted delimiter
      case 10 => bytes(s"$q$q") // quoted empty
      case 11 => bytes(s"${q}say $q${q}hi$q$q$q") // doubled quote
      case 12 => bytes(s"${q}say \\${q}hi\\$q$q") // escaped quote
      case 13 => bytes(s"ab${q}c") // stray quote mid-field
      case 14 => bytes(s"${q}ab${q}c") // text after a closing quote
      case 15 => bytes(s"${q}ab$q ") // blank after a closing quote
      case 16 => bytes("back\\slash")
      case 17 => Array[Byte]('o', 0xFF.toByte, 'k') ++ // invalid UTF-8 of several kinds
          Seq(Array(0xC3.toByte), Array(0xC0, 0xAF).map(_.toByte), Array(0xED, 0xA0, 0x80)
            .map(_.toByte), Array(0xF4, 0x90, 0x80, 0x80).map(_.toByte))(r.nextInt(4))
      case 18 => Array[Byte]('n', 0, 'l') // NUL
      case _ => bytes("\uFEFFbom-mid") // BOM bytes inside a line
    }
  }

  private def line(r: Random, d: Char, q: Char): Array[Byte] = r.nextInt(30) match {
    case 0 => Array.emptyByteArray
    case 1 => bytes(Seq(" ", "\t", "  \t ")(r.nextInt(3)))
    case n =>
      val k = if (n == 2) width - 1 - r.nextInt(2) else if (n == 3) width + 1 + r.nextInt(2)
        else width
      val out = new ByteArrayOutputStream
      (0 until k).foreach { i =>
        if (i > 0) out.write(d.toInt)
        out.write(field(r, d, q))
      }
      out.toByteArray
  }

  /** `lines` generated lines, each ended by LF, CRLF or CR; an optional BOM
    * and header first. */
  private def file(r: Random, lines: Int, d: Char, q: Char, header: Boolean,
                   bom: Boolean): Array[Byte] = {
    val out = new ByteArrayOutputStream
    if (bom) out.write(Array(0xEF, 0xBB, 0xBF).map(_.toByte))
    if (header) out.write(bytes((1 to width).map(i => s"h$i").mkString(d.toString) + "\n"))
    (0 until lines).foreach { _ =>
      out.write(line(r, d, q))
      out.write(bytes(Seq("\n", "\n", "\n", "\r\n", "\r")(r.nextInt(5))))
    }
    out.toByteArray
  }

  private def write(dir: Path, name: String, b: Array[Byte]): String =
    Files.write(dir.resolve(name), b).toString

  /** `format` read with the options `Readers.csv` passes for `o`. */
  private def raw(format: String, path: String, o: Readers.CsvOptions): DataFrame =
    spark.read.option("header", o.header).option("delimiter", o.delimiter)
      .option("quote", o.quote.toString).option("encoding", o.encoding.get)
      .option("mode", "PERMISSIVE").format(format).load(path)

  /** The reader `Readers.csv` used before the scan: Spark's CSV reader with
    * the same options, positional `_cN` header columns dropped, named as the
    * scan's result is named, blank rows dropped. */
  private def sparkPath(path: String, o: Readers.CsvOptions, names: Seq[String]): DataFrame = {
    val df0 = raw("csv", path, o)
    val df1 = if (o.header) df0.drop(df0.columns.zipWithIndex.collect {
      case (c, i) if c == s"_c$i" => c }.toSeq: _*) else df0
    val named = df1.toDF(names: _*)
    named.filter(names.map(c => col(c).isNotNull && trim(col(c)) =!= "").reduce(_ || _))
  }

  private def assertSameRows(path: String, o: Readers.CsvOptions, clue: String): Long = {
    val got = Readers.csv(spark, path, o)
    val want = sparkPath(path, o, got.columns.toSeq)
    val n = got.count()
    assert(n == want.count(), s"$clue: row count")
    assert(got.exceptAll(want).isEmpty, s"$clue: rows only in the scan's result")
    assert(want.exceptAll(got).isEmpty, s"$clue: rows only in Spark's result")
    // the two formats alone, reading two columns under a pushed-down filter
    def narrow(df: DataFrame) = df.filter(col(df.columns(0)) =!= "a").select(df.columns(1))
    val (g, w) = (narrow(raw(classOf[CsvLineFormat].getName, path, o)), narrow(raw("csv", path, o)))
    assert(g.exceptAll(w).isEmpty && w.exceptAll(g).isEmpty, s"$clue: pruned and filtered")
    n
  }

  private val dialects = Seq((',', '"'), (';', '"'), ('\t', '"'), (',', '\''))

  test("the scan's rows equal Spark's CSV reader's: four dialects, header and BOM variants") {
    val r = new Random(20261018L)
    val dir = Files.createTempDirectory("graft-csvscan")
    for ((d, q) <- dialects; header <- Seq(true, false); bom <- Seq(false, true)) {
      val p = write(dir, s"f_${d.toInt}_${q.toInt}_${header}_$bom.csv",
        file(r, 1500, d, q, header, bom))
      val o = Readers.CsvOptions(header = header, delimiter = d.toString, quote = q,
        encoding = Some("UTF-8"))
      val n = assertSameRows(p, o, s"delimiter ${d.toInt} quote $q header $header bom $bom")
      assert(n > 1300, s"too few rows survived: $n")
    }
  }

  test("the scan's rows equal Spark's under US-ASCII, where every non-ASCII byte misses") {
    val dir = Files.createTempDirectory("graft-csvscan-ascii")
    val p = write(dir, "a.csv", file(new Random(7L), 2000, ',', '"', header = true, bom = false))
    assertSameRows(p, Readers.CsvOptions(encoding = Some("US-ASCII")), "US-ASCII")
  }

  test("multi-file directories with a header per file, and splits that start mid-file") {
    val r = new Random(11L)
    val dir = Files.createTempDirectory("graft-csvscan-dir")
    (0 until 4).foreach(i => write(dir, s"part-$i.csv", file(r, 2500, ',', '"', header = true,
      bom = i == 2)))
    val o = Readers.CsvOptions(encoding = Some("UTF-8"))
    assertSameRows(dir.toString, o, "directory")
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "4096")
    try {
      assert(Readers.csv(spark, dir.toString, o).rdd.getNumPartitions > 8)
      assertSameRows(dir.toString, o, "small splits")
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("which reads take the scan: UTF-8/US-ASCII, one-byte dialects, string columns") {
    val base = Map("header" -> "true", "encoding" -> "UTF-8")
    for ((d, q) <- dialects)
      assert(CsvScanBridge.qualifies(base ++ Map("delimiter" -> d.toString, "quote" -> q.toString),
        width), s"delimiter ${d.toInt} quote $q")
    assert(CsvScanBridge.qualifies(base + ("encoding" -> "US-ASCII"), width))
    for (o <- Seq("encoding" -> "ISO-8859-1", "encoding" -> "UTF-16", "delimiter" -> "||",
        "multiLine" -> "true", "comment" -> "#", "quote" -> "\\", "nullValue" -> "NA"))
      assert(!CsvScanBridge.qualifies(base + o, width), o)
    assert(!CsvScanBridge.qualifies(base, width, intColumn = true))
  }

  test("which lines the scan takes: the hit list and its fields") {
    val hits = Seq(
      "a,b,c,d" -> Seq("a", "b", "c", "d"),
      ",,," -> Seq("", "", "", ""),
      "\"a,b\",\"\",c,\"d\"" -> Seq("a,b", "", "c", "d"),
      " a , b,c ,d" -> Seq(" a ", " b", "c ", "d"),
      "Ādam,😀, ,x\ty" -> Seq("Ādam", "😀", " ", "x\ty"),
      "\"\",\"x y\",'q',\"\uFEFF\"" -> Seq("", "x y", "'q'", "\uFEFF"))
    for ((l, fields) <- hits)
      assert(CsvScanBridge.split(bytes(l), width).contains(fields), l)
    assert(CsvScanBridge.split(bytes("a;'b;c';;d"), width, ';', '\'')
      .contains(Seq("a", "b;c", "", "d")))
  }

  test("which lines the scan takes: the miss list") {
    val misses: Seq[Array[Byte]] = Seq(
      "a,b,c", "a,b,c,d,e", "a", // ragged
      "a\"b,c,d,e", "\"a\"\"b\",c,d,e", "\"a\\\"b\",c,d,e", "a\\b,c,d,e", // quotes, escapes
      "\"ab\"c,d,e,f", "\"ab\" ,d,e,f", " \"ab\",d,e,f", "\"abc,d,e,f", // around quotes
      "\uFEFFa,b,c,d" // a leading BOM
    ).map(bytes) ++ Seq(
      Array[Byte]('a', ',', 'b', ',', 'c', ',', 0xFF.toByte), // invalid UTF-8
      Array[Byte]('a', ',', 'b', ',', 'c', ',', 0xC0.toByte, 0xAF.toByte), // overlong
      Array[Byte]('a', ',', 'b', ',', 'c', ',', 0xED.toByte, 0xA0.toByte, 0x80.toByte), // surrogate
      Array[Byte]('a', ',', 'b', ',', 'c', ',', 0xE2.toByte, 0x82.toByte), // truncated
      Array[Byte]('a', ',', 'b', ',', 'c', ',', 0)) // NUL
    for (l <- misses)
      assert(CsvScanBridge.split(l, width).isEmpty, new String(l, UTF_8))
    assert(CsvScanBridge.split(bytes("a,b,c,é"), width, asciiOnly = true).isEmpty)
    assert(CsvScanBridge.split(bytes("a,b,c,'d'"), width, quote = '\'').isDefined)
    assert(CsvScanBridge.split(bytes("a;b;c;d"), width).isEmpty) // one field, not four
  }
}
