package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.graft.{CsvLineFormat, JsonLineFormat, LineWriterBridge}
import org.apache.spark.sql.types._

import graft.sources.Writers

/** Differential spec for the byte writers behind `Writers.csv` and
  * `Writers.ndjson`: over rows generated from a fixed seed, every part file
  * must be byte for byte the one Spark's own CSV or JSON writer writes with
  * the same options. The values are adversarial: delimiters, quotes,
  * backslashes, CR/LF, leading and trailing blanks, `#`, empty strings
  * against nulls, all-null rows, control characters, non-ASCII text, U+2028
  * and invalid UTF-8, NaN, ±Infinity, −0.0 and extreme doubles and floats,
  * integer extremes, and dates before 1582, in year 1 and beyond 9999; with
  * and without a header, with `maxRecordsPerFile`, and for an empty frame.
  * Which writes take the byte writers, and which rows, is pinned too.
  */
class WriterBytesSpec extends SparkSpec {

  private val pieces = Seq("a", "plain text", "x,y", ",", "\"", "q\"q", "\\", "back\\slash",
    "\r", "\n", "cr\rlf\n", " lead", "trail ", " ", "\t", "tab\tin", "", "#hash", "a#b", "é",
    "日本語", " ", " ", "\u0000", "\u0001", "\u001f", "\u007f", "/", "😀",
    " nbsp", "nbsp ", "　", "{\"k\":1}", "'", "x" * 5000)

  // invalid UTF-8 of several kinds, and valid sequences next to them
  private val rawBytes = Seq(Array(0xFF), Array(0xC3), Array(0xC0, 0xAF), Array(0xED, 0xA0, 0x80),
    Array(0xF4, 0x90, 0x80, 0x80), Array(0xE2, 0x80, 0xA8), Array(0xC3, 0xA9), Array(0x61))
    .map(_.map(_.toByte))

  private val doubles = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0,
    0.0, Double.MinPositiveValue, Double.MaxValue, -Double.MaxValue, 1e-300, 1e21, 1e7, 1e-3,
    0.1 + 0.2, 123.45, -5.0)
  private val floats = Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity, -0.0f, 0.0f,
    Float.MinPositiveValue, Float.MaxValue, 1e7f, 1e-3f, 0.1f, 3.4028235e38f)
  private val longs = Seq(Long.MinValue, Long.MaxValue, 0L, -1L, 9L, 10L, 99L, 100L,
    999999999999999999L, 1000000000000000000L, -1000000000000000000L)
  // 0001-01-01, 1582-10-04, 1582-10-15, 9999-12-31, 10000-01-01, year 0, year -99
  private val days = Seq(-719162, -141428, -141427, 2932896, 2932897, -719163, -755322, 0, 19000)

  private val schema = StructType(Seq(
    StructField("s", StringType), StructField("we\"ird\\name é", StringType),
    StructField("raw", BinaryType), StructField("l", LongType), StructField("i", IntegerType),
    StructField("sh", ShortType), StructField("b", ByteType), StructField("bo", BooleanType),
    StructField("d", DoubleType), StructField("f", FloatType), StructField("day", IntegerType)))

  private def pick[T](r: Random, xs: Seq[T]): T = xs(r.nextInt(xs.length))

  private def adversarial(r: Random): Row = {
    def maybe[T](v: => T): Any = if (r.nextInt(8) == 0) null else v
    def str = Seq.fill(1 + r.nextInt(3))(pick(r, pieces)).mkString
    def raw = Seq.fill(1 + r.nextInt(3))(pick(r, rawBytes)).reduce(_ ++ _)
    if (r.nextInt(25) == 0) Row.fromSeq(Seq.fill(schema.length)(null))
    else Row(maybe(str), maybe(str), maybe(raw),
      maybe(if (r.nextBoolean()) pick(r, longs) else r.nextLong() >> r.nextInt(64)),
      maybe(r.nextInt() >> r.nextInt(32)), maybe(r.nextInt().toShort), maybe(r.nextInt().toByte),
      maybe(r.nextBoolean()),
      maybe(r.nextInt(3) match {
        case 0 => pick(r, doubles)
        case 1 => java.lang.Double.longBitsToDouble(r.nextLong())
        case _ => r.nextDouble() * math.pow(10, r.nextInt(40) - 20)
      }),
      maybe(if (r.nextBoolean()) pick(r, floats) else java.lang.Float.intBitsToFloat(r.nextInt())),
      maybe(if (r.nextBoolean()) pick(r, days) else r.nextInt(4000000) - 1000000))
  }

  /** Like the benchmark's ingest rows after the cast: every one a hit. */
  private def plain(r: Random): Row = Row(
    s"cat_${r.nextInt(20)}", s"${pick(r, Seq("Smith", "Lopez"))}, ${pick(r, Seq("Ann", "Jin"))}",
    Array[Byte]('n', 'o', 't', 'e'), r.nextLong(), r.nextInt(), r.nextInt().toShort,
    r.nextInt().toByte, r.nextBoolean(), r.nextInt(5000000) / 100.0, r.nextFloat(),
    16000 + r.nextInt(4000))

  private def frame(rows: Seq[Row], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
      .select(schema.fieldNames.map {
        case "raw" => col("raw").cast(StringType).as("raw")
        case "day" => expr("date_from_unix_date(day)").as("day")
        case n => col(s"`$n`")
      }: _*)

  private val seeded = new Random(20261019L)
  private val messy = frame(Seq.fill(3000)(adversarial(seeded)), 3)
  private val clean = frame(Seq.fill(500)(plain(seeded)), 2)

  /** Part files by name with the job's UUID taken out, and their bytes. */
  private def parts(dir: Path): Map[String, Seq[Byte]] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("part-")).map(n =>
        n.replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "U") ->
          Files.readAllBytes(dir.resolve(n)).toSeq).toMap

  private def same(label: String, ours: DataFrame => Path, spark: DataFrame => Path,
                   df: DataFrame): Unit = {
    val (a, b) = (parts(ours(df)), parts(spark(df)))
    assert(a.keySet == b.keySet, s"$label: part files ${a.keySet} vs Spark's ${b.keySet}")
    for ((name, bytes) <- a) {
      val other = b(name)
      val at = bytes.indices.find(k => k >= other.length || bytes(k) != other(k))
      assert(bytes.length == other.length && at.isEmpty, s"$label $name: first difference at " +
        s"byte ${at.getOrElse(other.length)}: ours " +
        s"${new String(bytes.slice(at.getOrElse(0) - 40 max 0, at.getOrElse(0) + 40).toArray)} | Spark's " +
        s"${new String(other.slice(at.getOrElse(0) - 40 max 0, at.getOrElse(0) + 40).toArray)}")
    }
  }

  private def tmp(): Path = Files.createTempDirectory("graft-writer-bytes")

  private def csvPair(header: Boolean, max: Option[Long]) = (
    (df: DataFrame) => { val d = tmp(); Writers.csv(df, d.toString, header, max); d },
    (df: DataFrame) => {
      val d = tmp()
      val w = df.write.mode("overwrite").option("header", header.toString)
      max.fold(w)(n => w.option("maxRecordsPerFile", n)).csv(d.toString)
      d
    })

  private def jsonPair(max: Option[Long]) = (
    (df: DataFrame) => {
      val d = tmp()
      if (max.isEmpty) Writers.ndjson(df, d.toString)
      else df.write.mode("overwrite").option("maxRecordsPerFile", max.get)
        .format(classOf[JsonLineFormat].getName).save(d.toString)
      d
    },
    (df: DataFrame) => {
      val d = tmp()
      val w = df.write.mode("overwrite")
      max.fold(w)(n => w.option("maxRecordsPerFile", n)).json(d.toString)
      d
    })

  test("CSV part files are Spark's bytes: adversarial rows, header or not, maxRecordsPerFile") {
    for (header <- Seq(true, false); max <- Seq(None, Some(7L))) {
      val (ours, theirs) = csvPair(header, max)
      same(s"csv header=$header max=$max", ours, theirs, messy)
      same(s"csv clean header=$header max=$max", ours, theirs, clean)
    }
  }

  test("NDJSON part files are Spark's bytes: adversarial rows, maxRecordsPerFile") {
    for (max <- Seq(None, Some(7L))) {
      val (ours, theirs) = jsonPair(max)
      same(s"ndjson max=$max", ours, theirs, messy)
      same(s"ndjson clean max=$max", ours, theirs, clean)
    }
  }

  test("empty frames, all-null rows and single columns write Spark's bytes") {
    val empty = messy.limit(0).repartition(1)
    val nulls = frame(Seq.fill(5)(Row.fromSeq(Seq.fill(schema.length)(null))), 2)
    val single = messy.select(col("s")).repartition(2)
    for (df <- Seq(empty, nulls, single)) {
      for (header <- Seq(true, false)) {
        val (ours, theirs) = csvPair(header, None)
        same(s"csv header=$header ${df.schema.simpleString}", ours, theirs, df)
      }
      val (ours, theirs) = jsonPair(None)
      same(s"ndjson ${df.schema.simpleString}", ours, theirs, df)
    }
  }

  test("the byte writers take the plain rows, leave the rest to Spark, and delegate other writes") {
    val csv = new CsvLineFormat
    val json = new JsonLineFormat
    val header = Map("header" -> "true")
    assert(LineWriterBridge.hits(csv, clean, header).contains(500))
    assert(LineWriterBridge.hits(json, clean, Map.empty).contains(500))
    // an empty string, as `typeCast` makes of a blank text cell, is a hit too
    val blank = clean.limit(3).withColumn("s", expr("''"))
    assert(LineWriterBridge.hits(csv, blank, header).contains(3))
    for ((format, options) <- Seq((csv, header), (json, Map.empty[String, String]))) {
      val hits = LineWriterBridge.hits(format, messy, options).get
      assert(hits > 100 && hits < 2900, s"$format: $hits of 3000 adversarial rows formatted")
    }
    // an option Writers does not set, or a type outside the writers' kinds
    assert(LineWriterBridge.hits(csv, clean, header + ("delimiter" -> ";")).isEmpty)
    assert(LineWriterBridge.hits(json, clean, Map("compression" -> "gzip")).isEmpty)
    val stamped = clean.withColumn("ts", expr("timestamp_seconds(l % 1000)"))
    assert(LineWriterBridge.hits(csv, stamped, header).isEmpty)
    assert(LineWriterBridge.hits(json, stamped, Map.empty).isEmpty)
  }
}
