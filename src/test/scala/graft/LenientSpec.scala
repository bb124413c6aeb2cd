package graft

import org.apache.spark.sql.functions._

import graft.functions.{DateParser, Lenient, LenientDatetimeExpr}
import graft.types.DetectTypes

/** Lenient scalar casts — goldens from the reference doctests
  * (meza/convert.py, meza/fntools.py) verified against the running reference.
  */
class LenientSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column, v: String): T =
    Seq(Option(v)).toDF("x").select(c.as("r")).collect().head.getAs[T]("r")

  private def x = col("x")

  test("to_bool word lists (convert.py:101-157)") {
    for (v <- Seq("true", "y", "yes", "T")) assert(one[Boolean](Lenient.toBool(x), v))
    for (v <- Seq("false", "n", "no", "F", "", "spam", "1", "0", null))
      assert(!one[Boolean](Lenient.toBool(x), v))
  }

  test("to_int currency/separator strip + truncation (convert.py:160-208)") {
    assert(one[Long](Lenient.toInt(x), "$123.45") == 123L)
    assert(one[Long](Lenient.toInt(x), "123€") == 123L)
    assert(one[Long](Lenient.toInt(x), "2,123.45") == 2123L)
    assert(one[Long](Lenient.toInt(x, ".", ","), "2.123,45") == 2123L)
    assert(one[Long](Lenient.toInt(x), "spam") == 0L)
    assert(one[Long](Lenient.toInt(x), "1,000,000") == 1000000L)
    assert(one[Long](Lenient.toInt(x), "-0123") == -123L)
    assert(one[Long](Lenient.toInt(x), null) == 0L)
  }

  test("to_float incl. leading-zero rule (convert.py:211-252, fntools.py:454-496)") {
    assert(one[Double](Lenient.toFloat(x), "$123.45") == 123.45)
    assert(one[Double](Lenient.toFloat(x), "123€") == 123.0)
    assert(one[Double](Lenient.toFloat(x), "2,123.45") == 2123.45)
    assert(one[Double](Lenient.toFloat(x), "spam") == 0.0)
    assert(one[Double](Lenient.toFloat(x), "0123") == 0.0) // zero-padded code, not a number
    assert(one[Double](Lenient.toFloat(x), "-0123") == -123.0) // literal startswith('0') rule
    assert(one[Double](Lenient.toFloat(x), "0.1") == 0.1)
    assert(one[Double](Lenient.toFloat(x), "00") == 0.0)
  }

  test("to_int/to_float boundaries: signs around currency, -0, leading zeros, 15/16 digits") {
    def int(v: String, warn: Boolean = false) = one[Long](Lenient.toInt(x, warn = warn), v)
    def float(v: String, warn: Boolean = false) = one[Double](Lenient.toFloat(x, warn = warn), v)
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    for (v <- Seq("-$5", "$-5")) { assert(int(v) == -5L); assert(float(v) == -5.0) }
    for (v <- Seq("-0", "-0.0")) {
      assert(int(v) == 0L)
      assert(bits(float(v)) == bits(-0.0), v) // float('-0') keeps its sign
    }
    assert(int("0123") == 123L)
    assert(bits(float("0123")) == bits(0.0))
    assert(int("00") == 0L && bits(float("00")) == bits(0.0))
    assert(int("£1,234.50") == 1234L && float("£1,234.50") == 1234.5)
    assert(int("123€") == 123L && float("123€") == 123.0)
    assert(int("123456789012345") == 123456789012345L)
    assert(float("123456789012345") == 1.23456789012345e14)
    assert(int("1234567890123456") == 1234567890123456L)
    assert(float("1234567890123456") == 1.234567890123456e15)
    assert(int("1.999999999999999") == 1L && float("1.999999999999999") == 1.999999999999999)
    assert(int("-0", warn = true) == 0L && int("1.00", warn = true) == 1L)
    assert(float("-$5", warn = true) == -5.0)
    intercept[Exception](float("0123", warn = true))
  }

  test("to_int beyond the BIGINT range: 0 without warn, ANSI on or off; warn raises Invalid int") {
    val big = Seq("-289614,38287194892475510", "99999999999999999999", "-1" + "0" * 30)
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.getOption(key)
    try for (ansi <- Seq("true", "false")) {
      spark.conf.set(key, ansi)
      for (v <- big) assert(one[Long](Lenient.toInt(x), v) == 0L, s"$v ansi=$ansi")
      assert(one[Long](Lenient.toInt(x), "9,000,000,000,000,000,000") == 9000000000000000000L)
      for (v <- big) {
        val e = intercept[Exception](
          Seq(v).toDF("x").select(Lenient.toInt(x, warn = true)).collect())
        assert(e.getMessage.contains(s"Invalid int value: `$v`"), s"$v ansi=$ansi: ${e.getMessage}")
      }
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("to_decimal HALF_UP / HALF_DOWN quantization (convert.py:255-313)") {
    def dec(v: String, roundup: Boolean = true): String =
      one[java.math.BigDecimal](Lenient.toDecimal(x, 2, roundup), v).toPlainString
    assert(dec("$123.45") == "123.45")
    assert(dec("123€") == "123.00")
    assert(dec("1.554") == "1.55")
    assert(dec("1.555") == "1.56")
    assert(dec("1.555", roundup = false) == "1.55")
    assert(dec("1.556", roundup = false) == "1.56")
    assert(dec("-1.555") == "-1.56")
    assert(dec("-1.555", roundup = false) == "-1.55")
    assert(dec("spam") == "0.00")
  }

  test("warn mode raises on unparseable (type_cast warn=True parity)") {
    intercept[Exception] {
      Seq("spam").toDF("x").select(Lenient.toInt(x, warn = true)).collect()
    }
    intercept[Exception] {
      // is_int('2,123.45') is False -> warn raises even though lenient mode returns 2123
      Seq("2,123.45").toDF("x").select(Lenient.toInt(x, warn = true)).collect()
    }
  }

  /** `values` as a one-partition string column `x` over an RDD, so the
    * optimizer cannot fold a projection of it into a local relation. */
  private def distributed(values: Seq[String], name: String = "x") =
    spark.createDataFrame(spark.sparkContext.parallelize(values.map(Tuple1(_)), 1)).toDF(name)

  test("lenient datetime expressions run distributed (convert.py:316-510)") {
    val df = distributed(Seq("5/4/82 2:00 pm", "2/32/82 12:15", "spam", null))
    val (compiled, interpreted) = compiledAndInterpreted(df.select(
      LenientDatetimeExpr.lenientTimestamp(x).cast("string").as("ts"),
      LenientDatetimeExpr.lenientDate(x).cast("string").as("d"),
      LenientDatetimeExpr.lenientTime(x).as("t")).collect().toSeq)
    assert(compiled == interpreted)
    val got = compiled
    assert(got(0).getString(0) == "1982-05-04 14:00:00")
    assert(got(1).getString(0) == "1982-02-28 12:15:00")
    assert(got(2).getString(0) == "9999-12-31 00:00:00")
    assert(got(0).getString(1) == "1982-05-04")
    assert(got(0).getString(2) == "14:00:00")
    assert(got(2).getString(2) == "00:00:00")
    // a null input takes the kernels' null defaults
    assert(got(3).toSeq == Seq("9999-12-31 00:00:00", "9999-12-31", "00:00:00"))
  }

  test("dayfirst threads through the expression") {
    val df = Seq("5/4/82").toDF("x")
    val got = df.select(
      LenientDatetimeExpr.lenientDate(x, dayFirst = true).cast("string")).head.getString(0)
    assert(got == "1982-04-05")
  }

  test("typeCast's lenient date column equals DateParser.toDate row by row") {
    // plain ISO and US dates (the fast path), padded and unpadded, next to
    // strings the fast path leaves to the regex path
    val in = Seq("2024-01-16", "2024-1-6", "01/16/2024", "1/6/2024", "05/04/2024",
      "13/05/2024", "2029-01-29", " 2024-01-16", "2024-01-16 ", "01-16-2024",
      "2024/01/16", "2024-001-16", "2023-02-29", "2030-02-30", "2024-13-01",
      "2024-00-10", "01/01/0001", "5/4/82", "2024-01-16 14:00", "spam", "", null)
    val df = distributed(in, "d")
    for (dayFirst <- Seq(false, true)) {
      val (compiled, interpreted) = compiledAndInterpreted(
        DetectTypes.typeCast(df, Seq(DetectTypes.FieldType("d", "date")), dayFirst = dayFirst)
          .select(col("d").cast("string")).collect().map(_.getString(0)).toSeq)
      val want = in.map(DateParser.toDate(_, dayFirst).toString)
      assert(compiled == want, s"dayFirst=$dayFirst compiled")
      assert(interpreted == want, s"dayFirst=$dayFirst interpreted")
    }
  }
}
