package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

import graft.functions.Lenient
import graft.operators.Ops

/** Direct ports of the reference's OWN unit-test cases — same inputs, same
  * expected outputs, asserted against graft's operators. Sources:
  * /root/reference/tests/test_process.py and test_fntools.py (stream order
  * becomes an explicit `ord` column where "first record" matters).
  */
class ReferenceParitySpec extends SparkSpec {
  import spark.implicits._

  test("test_cut (test_process.py:207-219): include/exclude field selection") {
    val df = Seq((1, "bill", "male"), (2, "bob", "male"), (3, "jane", "female"))
      .toDF("field_1", "field_2", "field_3")
    val ex = Ops.cut(df, Seq("field_2"), exclude = true)
    assert(ex.columns.toSeq == Seq("field_1", "field_3"))
    assert(ex.orderBy("field_1").head().toSeq == Seq(1, "male"))
    val in = Ops.cut(df, Seq("field_2"))
    assert(in.columns.toSeq == Seq("field_2"))
    assert(in.as[String].collect().toSet == Set("bill", "bob", "jane"))
  }

  test("test_grep (test_process.py:222-246): pred rules, field combination, inverse") {
    val recs = Seq((1, "bill", 1), (1, "rob", 2), (1, "jane", 3), (2, "rob", 4), (3, "jane", 5))
      .toDF("day", "name", "ord")
    def firstName(df: org.apache.spark.sql.DataFrame): String =
      df.orderBy("ord").head().getString(1)
    // rules = [{'fields': ['day'], 'pattern': partial(eq, 1)}] -> 'bill'
    assert(firstName(Ops.grep(recs,
      Seq(Ops.PredRule(_ === 1, Seq("day"))))) == "bill")
    // rules = [{'pattern': partial(contains, {1, 'rob'})}] (all fields,
    // any_match=False -> ALL fields must match) -> 'rob'
    val inSet: Column => Column = c => c.cast("string").isin("1", "rob")
    assert(firstName(Ops.grep(recs,
      Seq(Ops.PredRule(inSet, Seq("day", "name"))))) == "rob")
    // same rule, any_match=True (ANY field) -> 'bill'
    assert(firstName(Ops.grep(recs,
      Seq(Ops.PredRule(inSet, Seq("day", "name"))), anyMatch = true)) == "bill")
    // rules = [{'fields': ['name'], 'pattern': 'o'}], inverse -> 'bill'
    assert(firstName(Ops.grep(recs,
      Seq(Ops.Substr("o", Seq("name"))), inverse = true)) == "bill")
  }

  test("test_unique (test_process.py:190-205): dedupe on a derived key, stream order") {
    val recs = Seq(
      (1, "bill"), (1, "bob"), (1, "tom"), (2, "bill"), (2, "bob"),
      (2, "Iñtërnâtiônàližætiøn"), (3, "Iñtërnâtiônàližætiøn"), (3, "bob"), (3, "rob"))
      .zipWithIndex.map { case ((d, n), i) => (d, n, i) }
      .toDF("day", "name", "ord")
    // pred = first letter of name; 4th unique record (islice 3,4) is 'rob'.
    // Stream order = first-occurrence-wins over the explicit ord column.
    val keyed = recs.withColumn("k", substring(col("name"), 1, 1))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("ord")
    val uniq = keyed.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .orderBy("ord").select("name").as[String].collect()
    assert(uniq.toSeq == Seq("bill", "tom", "Iñtërnâtiônàližætiøn", "rob"))
    assert(uniq(3) == "rob")
  }

  test("test_merge (test_process.py:122-187): fold records with sum/first ops") {
    // pr.merge([{a:1,b:2}, {b:10,c:11}]) -> last-wins {a:1, b:10, c:11}
    val two = Seq((Some(1), Some(2), None: Option[Int], 1), (None, Some(10), Some(11), 2))
      .toDF("a", "b", "c", "ord")
    val lastWins = two.orderBy("ord")
      .agg(last(col("a"), ignoreNulls = true).as("a"),
        last(col("b"), ignoreNulls = true).as("b"),
        last(col("c"), ignoreNulls = true).as("c")).head()
    assert(lastWins.toSeq == Seq(1, 10, 11))
    // pred=bool, op=sum over [{a:1,b:2,c:3}, {b:4,c:5,d:6}]
    val recs = Seq((Some(1), Some(2), Some(3), None: Option[Int]), (None, Some(4), Some(5), Some(6)))
      .toDF("a", "b", "c", "d")
    val summed = Ops.mergeAgg(recs, Seq("a", "b", "c", "d"), "sum").head()
    assert(summed.toSeq == Seq(1, 6, 8, 6))
    // op=first non-null -> {a:1, b:2, c:3, d:6}
    val firsts = recs.agg(first(col("a"), ignoreNulls = true), first(col("b"), ignoreNulls = true),
      first(col("c"), ignoreNulls = true), first(col("d"), ignoreNulls = true)).head()
    assert(firsts.toSeq == Seq(1, 2, 3, 6))
    // 3-record sum -> {a:6, b:15, c:2, d:7}
    val recs3 = Seq((Some(1), Some(4), Some(0), None: Option[Int]),
      (Some(2), Some(5), Some(2), None), (Some(3), Some(6), None, Some(7)))
      .toDF("a", "b", "c", "d")
    assert(Ops.mergeAgg(recs3, Seq("a", "b", "c", "d"), "sum").head().toSeq ==
      Seq(6, 15, 2, 7))
  }

  test("test_fillempty (test_process.py:85-120): constant, front, back, limit, from-column") {
    // the reference treats '' and None both as empty; mirror by nulling ''
    val raw = Seq(("1", "27", ""), ("", "too short!", null), ("0", "mixed", "17"))
      .zipWithIndex.map { case ((a, b, c), i) => (a, b, c, i) }
      .toDF("a", "b", "c", "ord")
    val df = Seq("a", "b", "c").foldLeft(raw)((d, f) =>
      d.withColumn(f, when(col(f) === "", lit(null)).otherwise(col(f))))
    def rows(d: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      d.orderBy("ord").select("a", "b", "c").collect().toSeq.map(_.toSeq)

    // fillempty(records, 0, fields=['a']): only the empty a becomes 0
    assert(rows(Ops.fillConstant(df, "0", Seq("a"))) == Seq(
      Seq("1", "27", null), Seq("0", "too short!", null), Seq("0", "mixed", "17")))
    // method='front' (ffill): a[1] <- '1'
    assert(rows(Ops.fillDirectional(df, Seq("a", "b", "c"), Seq("ord"))) == Seq(
      Seq("1", "27", null), Seq("1", "too short!", null), Seq("0", "mixed", "17")))
    // method='back' (bfill): c[0], c[1] <- '17'; a[1] <- '0'
    assert(rows(Ops.fillDirectional(df, Seq("a", "b", "c"), Seq("ord"), back = true)) == Seq(
      Seq("1", "27", "17"), Seq("0", "too short!", "17"), Seq("0", "mixed", "17")))
    // method='back', limit=1: only one row ahead may donate
    assert(rows(Ops.fillDirectional(df, Seq("a", "b", "c"), Seq("ord"), back = true,
      limit = Some(1))) == Seq(
      Seq("1", "27", null), Seq("0", "too short!", "17"), Seq("0", "mixed", "17")))
    // method='b' (fill from column b), fields=['a']
    assert(rows(Ops.fillFromColumn(df, "a", "b")) == Seq(
      Seq("1", "27", null), Seq("too short!", "too short!", null), Seq("0", "mixed", "17")))
  }

  test("test_pivot (test_process.py:246-268): sum pivot with kept nulls") {
    val recs = Seq(
      ("foo", "one", "small", 1), ("foo", "one", "large", 2), ("foo", "one", "large", 2),
      ("foo", "two", "small", 3), ("foo", "two", "small", 3),
      ("bar", "one", "large", 4), ("bar", "one", "small", 5),
      ("bar", "two", "small", 6), ("bar", "two", "large", 7))
      .toDF("A", "B", "C", "D")
    val got = Ops.pivot(recs, Seq("A", "B"), "C", "D", "sum",
        values = Seq("large", "small"))
      .orderBy("A", "B").collect().toSeq.map(_.toSeq)
    assert(got == Seq(
      Seq("bar", "one", 4L, 5L), Seq("bar", "two", 7L, 6L),
      Seq("foo", "one", 4L, 1L), Seq("foo", "two", null, 6L)))
  }

  test("test_typecast bool branch (test_process.py:29-35): '1.5' as bool is False") {
    val df = Seq("1.5").toDF("v")
    assert(!df.select(Lenient.toBool(col("v"))).head().getBoolean(0))
    // warn=True raises
    intercept[Exception] {
      df.select(Lenient.toBool(col("v"), warn = true)).collect()
    }
  }

  test("test_strip / test_is_numeric / currency zeros (test_fntools.py:28-52)") {
    val df = Seq("x").toDF("x")
    def one(c: Column): Row = df.select(c).head()
    assert(one(Lenient.stripNum(lit("2,123.45"))).getString(0) == "2123.45")
    assert(one(Lenient.stripNum(lit("2.123,45"), thousandSep = ".", decimalSep = ","))
      .getString(0) == "2123.45")
    assert(one(Lenient.stripNum(lit("spam"))).getString(0) == "spam")

    def num(s: String, thousandSep: String = ",", decimalSep: String = "."): Boolean =
      one(Lenient.isNumeric(lit(s), thousandSep, decimalSep)).getBoolean(0)
    assert(num("2,123.45"))
    assert(num("2.123,45", thousandSep = ".", decimalSep = ","))
    assert(num("0.45"))
    assert(num("10e5"))
    assert(!num("spam"))
    assert(!num("02139")) // zero-padded code, not a number
    assert(!num(""))
    // issue #36 regression: zero with any currency symbol IS numeric
    Seq("$", "£", "€").foreach { sym =>
      assert(num(s"0$sym"), s"0$sym"); assert(num(s"${sym}0"), s"${sym}0")
    }
  }

  test("test_excel_html_export (test_io.py): Excel-exported .htm first row") {
    // The reference's own Excel export (Office markup); fixtures/test.htm is
    // a plain table, so there is no repo-held stand-in for this one.
    val fixture = "/root/reference/data/test/test.htm"
    assume(new java.io.File(fixture).exists(), s"$fixture is absent")
    val df = graft.sources.Readers.htmlTable(spark, fixture, sanitize = true)
    val first = df.head()
    val got = df.columns.zip(first.toSeq).toMap
    assert(got("sparse_data") == "Iñtërnâtiônàližætiøn")
    assert(got("some_date") == "05/04/82")
    assert(got("some_value") == "234")
    assert(got("unicode_test") == "Ādam")
  }

  test("test_geojson_with_crs (test_io.py): crs block in written collections") {
    // The subject is the crs block the writer emits; the collection only
    // supplies features. fixtures/points.geojson reproduces the reference
    // test.geojson Point shape (FIXTURES.md §8) when the corpus is absent.
    val reference = "/root/reference/data/test/test.geojson"
    val fixture =
      if (new java.io.File(reference).exists()) reference
      else "src/test/resources/fixtures/points.geojson"
    val df = graft.sources.GeoJson.read(spark, fixture)
    val json = graft.sources.GeoJson.collectionString(df, crs = Some("EPSG:4269"))
    assert(json.contains(""""crs": {"type": "name", "properties": {"name": "EPSG:4269"}}"""))
  }

  test("the crs name is escaped as a JSON string: quotes and backslashes parse back") {
    val df = graft.sources.GeoJson.read(spark, "src/test/resources/fixtures/points.geojson")
    val name = "urn:\"odd\"\\name\\ é"
    val doc = org.json4s.jackson.JsonMethods.parse(
      graft.sources.GeoJson.collectionString(df, crs = Some(name)))
    assert((doc \ "crs" \ "properties" \ "name") == org.json4s.JString(name))
  }

  test("test_is_int / test_is_bool / test_is_null (test_fntools.py:54-75)") {
    val df = Seq("x").toDF("x")
    def one(c: Column): Row = df.select(c).head()
    assert(!one(Lenient.isIntCol(lit("5/4/82"))).getBoolean(0))
    Seq("y", "false", "n").foreach(s =>
      assert(one(Lenient.isBoolCol(lit(s))).getBoolean(0), s))
    assert(!one(Lenient.isBoolCol(lit(""))).getBoolean(0))
    assert(!one(Lenient.isNullCol(lit(""))).getBoolean(0))
    assert(!one(Lenient.isNullCol(lit(" "))).getBoolean(0))
    assert(!one(Lenient.isNullCol(lit("0"))).getBoolean(0))
    assert(one(Lenient.isNullCol(lit(""), blanksAsNulls = true)).getBoolean(0))
    assert(one(Lenient.isNullCol(lit(" "), blanksAsNulls = true)).getBoolean(0))
  }
}
