package graft

import graft.types.DetectTypes

/** DBF reader against the reference's own fixture + golden conversion
  * (/root/reference/data/test/test.dbf -> data/converted/dbf.csv): raw read,
  * then detect+cast reproduces the reference pipeline's typed output.
  */
class DbfSpec extends SparkSpec {
  private val fixture = "/root/reference/data/test/test.dbf"

  test("read_dbf parses the reference fixture (io.py:677-722, dbf.py)") {
    assume(new java.io.File(fixture).exists(), s"$fixture is absent")
    val df = graft.sources.DbfReader.read(spark, fixture)
    assert(df.count() == 8)
    assert(df.columns.take(4).toSeq ==
      Seq("statefp10", "cd111fp", "geoid10", "namelsad10"))
    val r = df.filter(df("geoid10") === "2708").head()
    assert(r.getAs[String]("namelsad10") == "Congressional District 8")
    assert(r.getAs[String]("aland10") == "71546663636")
    assert(r.getAs[String]("intptlat10") == "+47.2400052")
  }

  test("dbf -> detect+cast matches the reference's golden conversion semantics") {
    assume(new java.io.File(fixture).exists(), s"$fixture is absent")
    val df = graft.sources.DbfReader.read(spark, fixture)
    val (typed, _) = DetectTypes.inferAndCast(df, minConf = 0.5)
    val r = typed.filter(typed("geoid10") === 2708).head()
    // golden dbf.csv row: 27,08,2708,...,False,71546663636,...,47.2400052,-92.9323194
    assert(r.getAs[Long]("statefp10") == 27L)
    assert(r.getAs[String]("cd111fp") == "08") // leading zero stays text
    assert(r.getAs[Boolean]("funcstat10") == false)
    assert(r.getAs[Long]("aland10") == 71546663636L)
    assert(math.abs(r.getAs[Double]("intptlat10") - 47.2400052) < 1e-9)
    assert(math.abs(r.getAs[Double]("intptlon10") - (-92.9323194)) < 1e-9)
  }
}
