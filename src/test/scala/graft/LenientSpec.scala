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

  test("lenient datetime expressions run distributed (convert.py:316-510)") {
    val df = Seq("5/4/82 2:00 pm", "2/32/82 12:15", "spam").toDF("x")
    val got = df.select(
      LenientDatetimeExpr.lenientTimestamp(x).cast("string").as("ts"),
      LenientDatetimeExpr.lenientDate(x).cast("string").as("d"),
      LenientDatetimeExpr.lenientTime(x).as("t")).collect()
    assert(got(0).getString(0) == "1982-05-04 14:00:00")
    assert(got(1).getString(0) == "1982-02-28 12:15:00")
    assert(got(2).getString(0) == "9999-12-31 00:00:00")
    assert(got(0).getString(1) == "1982-05-04")
    assert(got(0).getString(2) == "14:00:00")
    assert(got(2).getString(2) == "00:00:00")
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
    val df = in.toDF("d")
    for (dayFirst <- Seq(false, true)) {
      val got = DetectTypes.typeCast(df, Seq(DetectTypes.FieldType("d", "date")),
        dayFirst = dayFirst).select(col("d").cast("string")).collect().map(_.getString(0))
      val want = in.map(DateParser.toDate(_, dayFirst).toString)
      assert(got.toSeq == want, s"dayFirst=$dayFirst")
    }
  }
}
