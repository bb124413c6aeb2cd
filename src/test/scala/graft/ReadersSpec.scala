package graft

import org.apache.spark.sql.Row

import graft.sources.{Encoding, GeoJson, Headers, Readers, Writers}

/** Reader/writer parity against goldens generated by running the reference
  * readers (meza/io.py) on the same fixture shapes (FIXTURES.md).
  */
class ReadersSpec extends SparkSpec {

  private val fx = "src/test/resources/fixtures"

  test("headers: underscorify + dedupe + synthetic (fntools.py:267-344)") {
    assert(Headers.underscorify("Some Date") == "some_date")
    assert(Headers.underscorify("Unicode Test") == "unicode_test")
    assert(Headers.underscorify("Iñtërnâtiônàl!") == "international")
    assert(Headers.dedupe(Seq("a", "b", "a", "a")) == Seq("a", "b", "a_2", "a_3"))
    assert(Headers.synthetic(3) == Seq("column_1", "column_2", "column_3"))
  }

  test("read_csv: sanitized header, trailing empty column dropped, blank rows skipped (golden)") {
    val df = Readers.csv(spark, s"$fx/test.csv")
    assert(df.columns.toSeq == Seq("some_date", "sparse_data", "some_value", "unicode_test"))
    val rows = df.collect()
    assert(rows.length == 3)
    assert(rows(0).getString(0) == "05/04/82")
    assert(rows(0).getString(1) == "Iñtërnâtiônàližætiøn")
    assert(rows(0).getString(3) == "Ādam")
    assert(rows(2).getString(0) == "December 31, 1995")
    assert(rows(2).getString(2) == "0.44")
  }

  test("read_csv: first_row/first_col window (test_bad golden)") {
    val df = Readers.csv(spark, s"$fx/test_bad.csv",
      Readers.CsvOptions(firstRow = 1, firstCol = 1))
    assert(df.columns.toSeq == Seq("some_date", "sparse_data", "some_value", "unicode_test"))
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "05/04/82")
    assert(rows(1).getString(1) == "Données")
  }

  test("read_csv: headerless -> column_N (golden)") {
    val df = Readers.csv(spark, s"$fx/no_header_row.csv",
      Readers.CsvOptions(header = false))
    assert(df.columns.toSeq == Seq("column_1", "column_2", "column_3"))
    assert(df.collect().map(_.toSeq).toSeq ==
      Seq(Seq("1", "2", "3"), Seq("4", "5", "6")))
  }

  test("read_csv: negative last_row drops from end (iris golden: 150 -> 10)") {
    val df = Readers.csv(spark, s"$fx/iris.csv", Readers.CsvOptions(lastRow = -140))
    assert(df.count() == 10)
    assert(df.columns.toSeq ==
      Seq("sepal_length", "sepal_width", "petal_length", "petal_width", "species"))
  }

  test("encoding sniff: BOMs, UTF-16 patterns, latin1 fallback (io.py:1579-1614)") {
    assert(Encoding.detect(s"$fx/utf8_bom.csv") == "UTF-8")
    assert(Encoding.detect(s"$fx/utf16_big.csv") == "UTF-16BE")
    assert(Encoding.detect(s"$fx/utf16_little.csv") == "UTF-16LE")
    assert(Encoding.detect(s"$fx/latin1.csv") == "windows-1252")
    assert(Encoding.detect(s"$fx/test.csv") == "UTF-8")
  }

  test("read_csv handles non-UTF8 encodings end-to-end (tests/test_io.py:103-195)") {
    for (f <- Seq("latin1.csv", "utf16_little.csv", "utf16_big.csv", "utf8_bom.csv")) {
      val df = Readers.csv(spark, s"$fx/$f")
      assert(df.columns.toSeq == Seq("h1", "h2"), s"$f columns")
      val vals = df.collect().map(_.getString(0)).toSet
      assert(vals == Set("café", "naïve"), s"$f values: ${vals.mkString(",")}")
    }
  }

  test("read_csv reads a directory, a glob and a file: URI of non-UTF-8 files") {
    import java.nio.file.{Files, Paths}
    val direct = Readers.csv(spark, s"$fx/latin1.csv").collect().toSet
    assert(direct.size == 2)
    // the windows-1252 file plus a _SUCCESS marker, which the listing skips
    val dir = Files.createTempDirectory("graft-csv-enc")
    Files.copy(Paths.get(s"$fx/latin1.csv"), dir.resolve("part-00000.csv"))
    Files.write(dir.resolve("_SUCCESS"), Array[Byte]())
    for (p <- Seq(dir.toString, s"$dir/part-*", dir.toUri.toString)) {
      val back = Readers.csv(spark, p)
      assert(back.columns.toSeq == Seq("h1", "h2"), p)
      assert(back.collect().toSet == direct, p)
    }
  }

  test("read_fixed_fmt: offsets + header, raw names kept (golden)") {
    val df = Readers.fixedWidth(spark, s"$fx/fixed_w_header.txt",
      starts = Seq(0, 18, 29, 33, 38, 50), hasHeader = true)
    assert(df.columns.toSeq == Seq("News Paper", "Founded", "Int", "Bool", "Float", "Timestamp"))
    val rows = df.orderBy("Founded").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getString(0)).toSet ==
      Set("Chicago Reader", "Chicago Sun-Times", "Chicago Tribune"))
    assert(rows.exists(r => r.getString(0) == "Chicago Reader" && r.getString(2) == "40"))
  }

  test("read_json: array form, ragged NDJSON union (newline.json)") {
    val arr = Readers.json(spark, s"$fx/test.json")
    assert(arr.count() == 1)
    assert(arr.columns.contains("integer"))
    val nd = Readers.json(spark, s"$fx/newline.json", newline = true)
    assert(nd.columns.toSet == Set("a", "b", "d"))
    assert(nd.count() == 2)
    assert(nd.filter(nd("a").isNull).count() == 1)
  }

  test("read_yaml: list of maps (io.py:1254-1287)") {
    val df = Readers.yaml(spark, s"$fx/test.yml")
    assert(df.count() == 2)
    assert(df.columns.toSet == Set("text", "float", "integer"))
    assert(df.filter(df("text") === "hello world").count() == 1)
  }

  test("read_html: table extraction with th header (io.py:1333-1431)") {
    val df = Readers.htmlTable(spark, s"$fx/test.htm")
    assert(df.columns.toSeq == Seq("some_date", "sparse_data", "some_value"))
    assert(df.count() == 2)
    assert(df.filter(df("sparse_data") === "Iñtërnâtiônàližætiøn").count() == 1)
  }

  test("read_xml: repeated record elements (uplift)") {
    val df = Readers.xml(spark, s"$fx/test.xml", "record")
    assert(df.columns.toSet == Set("name", "value"))
    assert(df.collect().map(_.getString(0)).toSet == Set("alpha", "beta"))
  }

  test("read_xlsx: zip+xml workbook with shared strings (io.py:1033-1118)") {
    // build a minimal xlsx on the fly (deterministic)
    val path = "/tmp/graft_test.xlsx"
    buildXlsx(path)
    val df = Readers.xlsx(spark, path)
    assert(df.columns.toSeq == Seq("name", "qty"))
    assert(df.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("apple", "3"), ("pear", "5")))
  }

  test("geojson read: point/line/polygon flattening with ring pos (io.py:1160-1251)") {
    val pts = GeoJson.read(spark, s"$fx/points.geojson")
    assert(pts.count() == 2)
    val p1 = pts.filter(pts("id") === "p1").head()
    assert(p1.getAs[Double]("lon") == -70.06 && p1.getAs[Double]("lat") == 12.63)
    assert(p1.getAs[Map[String, String]]("props")("iso3") == "ABW")

    val shapes = GeoJson.read(spark, s"$fx/shapes.geojson")
    assert(shapes.filter(shapes("type") === "LineString").count() == 3) // one row per vertex
    val poly = shapes.filter(shapes("type") === "Polygon")
    assert(poly.count() == 8) // 4 outer + 4 hole vertices
    assert(poly.select("pos").distinct().collect().map(_.getInt(0)).toSet == Set(0, 1))
  }

  test("geojson read: lat_first swaps coordinates") {
    val pts = GeoJson.read(spark, s"$fx/points.geojson", latFirst = true)
    val p1 = pts.filter(pts("id") === "p1").head()
    assert(p1.getAs[Double]("lon") == 12.63 && p1.getAs[Double]("lat") == -70.06)
  }

  test("geojson round-trip with bbox (convert.py:998-1099, tests/test_io.py:483-557)") {
    val df = GeoJson.read(spark, s"$fx/shapes.geojson")
    val json = GeoJson.collectionString(df.drop("props"))
    assert(json.startsWith("""{"type": "FeatureCollection", "bbox": [0.0, 0.0, 4.0, 4.0]"""))
    // re-read what we wrote — through the streaming file writer (bbox agg +
    // toLocalIterator; no driver collect): same vertex multiset
    val out = "/tmp/graft_roundtrip.geojson"
    Writers.geojson(df.drop("props"), out)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(out)) == json,
      "streamed file writer must emit the same document as collectionString")
    val again = GeoJson.read(spark, out)
    assert(again.count() == df.count())
    def key(r: Row) = (r.getAs[String]("id"), r.getAs[Double]("lon"), r.getAs[Double]("lat"))
    assert(again.collect().map(key).toSet == df.collect().map(key).toSet)
  }

  test("read_csv reads back a Writers.csv directory, a part-* glob and a file: URI") {
    import spark.implicits._
    val df = Seq[(String, String, String)](("1", "plain", "Ādam"), ("2", "with, comma", null),
      ("3", "say \"hi\"", "x"), ("4", null, "tail"), ("5", "a\\b", "y"))
      .toDF("id", "text", "more").repartition(3)
    val dir = java.nio.file.Files.createTempDirectory("graft-csv-rt").resolve("out").toString
    Writers.csv(df, dir)
    val want = df.collect().toSet
    for (p <- Seq(dir, s"$dir/part-*", new java.io.File(dir).toURI.toString)) {
      val back = Readers.csv(spark, p)
      assert(back.columns.toSeq == Seq("id", "text", "more"), p)
      assert(back.count() == 5, p) // one header per part file, each dropped
      assert(back.collect().toSet == want, p)
    }
  }

  test("read facade dispatches by extension; join concats ragged files (io.py:1617-1722)") {
    val a = Readers.read(spark, s"$fx/no_header_row.csv").columns.length // header=true default eats row 1
    assert(a == 3)
    val joined = Readers.join(spark, Seq(s"$fx/test.csv", s"$fx/test.csv"))
    assert(joined.count() == 6)
  }

  test("orc round-trips through the read facade (warehouse-format symmetry)") {
    import spark.implicits._
    val df = Seq((1L, "a", Some(1.5)), (2L, "b", None))
      .toDF("id", "name", "score")
    val out = "/tmp/graft_roundtrip.orc"
    Writers.orc(df, out)
    val again = Readers.read(spark, out)
    // ORC reads everything back nullable; names+types must survive
    assert(again.schema.map(f => f.name -> f.dataType) ==
      df.schema.map(f => f.name -> f.dataType))
    assert(again.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("records2json array mode writes ONE parseable JSON array document (convert.py:852-892)") {
    import spark.implicits._
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c\nmultiline \"quoted\"", -0.25))
      .toDF("id", "name", "score")
    val out = "/tmp/graft_array.json"
    Writers.json(df, out, newline = false)
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get(out))
    assert(text.startsWith("[") && text.endsWith("]"))
    // the whole file is one JSON document: multiLine reader parses the array
    val again = spark.read.option("multiLine", true).json(out)
      .select("id", "name", "score")
    assert(again.count() == 3)
    assert(again.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    // empty frame → empty array, still one valid document
    Writers.json(df.limit(0), out, newline = false)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(out)) == "[]")
  }

  test("read_sqlite parses the reference fixture natively (io.py:725-760)") {
    val df = Readers.read(spark, "/root/reference/data/test/test.sqlite")
    assert(df.columns.toSeq ==
      Seq("some_date", "sparse_data", "some_value", "unicode_test"))
    val rows = df.collect()
    assert(rows.length == 3)
    // first record matches the reference doctest (io.py:744-749)
    assert(rows(0).toSeq == Seq("05/04/82", "Iñtërnâtiônàližætiøn", "234", "Ādam"))
    assert(rows(1).toSeq == Seq("01-Jan-15", null, "100", null))
    assert(rows(2).toSeq == Seq("December 31, 1995", null, "0.44", null))
  }

  test("read_sqlite walks interior pages, overflow chains, and the rowid alias") {
    val df = graft.sources.SqliteReader.read(spark, s"$fx/multi_page.sqlite")
    assert(df.columns.toSeq == Seq("id", "label", "score", "blob_col", "note"))
    assert(df.count() == 2500)
    val byId = df.collect().map(r => r.getString(0).toLong -> r).toMap
    // INTEGER PRIMARY KEY rowid alias materializes even though stored NULL
    assert(byId(1L).getString(1) == "label_00001" && byId(1L).getString(2) == "0.25")
    assert(byId(2499L).getString(1) == "label_02499")
    assert(byId(42L).getString(3) == "2a2b") // blob as hex
    // the 10 KB text rides an overflow-page chain
    val big = byId(9999L)
    assert(big.getString(1) == "x" * 10000 && big.getString(4) == "tail")
    assert(big.getString(2) == "-1.5")
  }

  test("read_mdb parses the Jet4 reference fixture natively (io.py:598-674)") {
    assert(graft.sources.MdbReader.tableNames("/root/reference/data/test/test.mdb") ==
      Seq("merchant_taylors"))
    val df = Readers.read(spark, "/root/reference/data/test/test.mdb")
    assert(df.count() == 20)
    // sanitize=true mirrors the reference doctest exactly (io.py:620-636)
    val san = graft.sources.MdbReader.read(spark,
      "/root/reference/data/test/test.mdb", sanitize = true)
    val first = san.head()
    val got = san.columns.zip(first.toSeq.map(_.asInstanceOf[String])).toMap
    val expected = Map(
      "surname" -> "Aaron", "forenames" -> "William",
      "freedom" -> "07/03/60 00:00:00", "notes" -> "Order of Court",
      "surname_master_or_father" -> "", "how_admitted" -> "Redn.",
      "id_no" -> "1", "forenames_master_or_father" -> "",
      "remarks" -> "", "livery" -> "",
      "date_of_order_of_court" -> "06/05/60 00:00:00", "source_ref" -> "MF 324")
    assert(got == expected)
  }

  test("read_sqlite: UTF-16 database, quoted/space column names, typed nulls") {
    val df = graft.sources.SqliteReader.read(spark, s"$fx/utf16.sqlite")
    assert(df.columns.toSeq == Seq("col one", "col-two", "col;three"))
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows(0).toSeq == Seq("Iñtërnâtiônàližætiøn", "7", "-2.5"))
    assert(rows(1).toSeq == Seq(null, "-1", "0.125"))
  }

  test("read_sqlite: WITHOUT ROWID tables rejected with a clear error") {
    val e = intercept[IllegalArgumentException] {
      graft.sources.SqliteReader.read(spark, s"$fx/worowid.sqlite").collect()
    }
    assert(e.getMessage.contains("WITHOUT ROWID"))
  }

  test("database readers reject malformed files with descriptive errors") {
    val junk = java.io.File.createTempFile("junk", ".sqlite")
    try {
      java.nio.file.Files.write(junk.toPath, Array.fill(600)(0x42.toByte))
      val e1 = intercept[IllegalArgumentException] {
        graft.sources.SqliteReader.read(spark, junk.getAbsolutePath)
      }
      assert(e1.getMessage.contains("not a SQLite file"))
      val e2 = intercept[IllegalArgumentException] {
        graft.sources.MdbReader.read(spark, junk.getAbsolutePath)
      }
      assert(e2.getMessage.contains("not an Access .mdb file"))
    } finally junk.delete()
  }

  test("Jet3 (Access 97) .mdb is rejected with an error naming the workaround (io.py:598-674 divergence)") {
    // minimal Jet3 header: "Standard Jet DB" magic at offset 4, version
    // byte 0x00 (Jet3) at 0x14 — the reference shells out to mdb-export and
    // would read this era; the native reader documents the divergence by
    // telling the user how to convert
    val jet3 = new java.io.File(java.io.File.createTempFile("jet3", ".mdb").getAbsolutePath)
    try {
      val b = new Array[Byte](4096)
      "Standard Jet DB".getBytes("ASCII").copyToArray(b, 4)
      b(0x14) = 0x00
      java.nio.file.Files.write(jet3.toPath, b)
      val e = intercept[IllegalArgumentException] {
        graft.sources.MdbReader.read(spark, jet3.getAbsolutePath)
      }
      assert(e.getMessage.contains("Jet3"), e.getMessage)
      assert(e.getMessage.contains("mdb-export") && e.getMessage.contains("Jet4"),
        s"error must name the conversion workaround: ${e.getMessage}")
    } finally jet3.delete()
  }

  test("hash_file digests bytes (io.py:1504-1551)") {
    val tmp = java.nio.file.Files.createTempFile("graft", ".txt")
    java.nio.file.Files.writeString(tmp, "hello world")
    assert(Writers.hashFile(tmp.toString, "SHA-1") ==
      "2aae6c35c94fcfb415dbe95f408b9ce91ee846ed")
  }

  private def buildXlsx(path: String): Unit = {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val zos = new ZipOutputStream(java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(path)))
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    entry("xl/sharedStrings.xml",
      """<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        "<si><t>name</t></si><si><t>qty</t></si><si><t>apple</t></si><si><t>pear</t></si></sst>")
    entry("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>""" +
        """<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>3</v></c></row>""" +
        """<row r="3"><c r="A3" t="s"><v>3</v></c><c r="B3"><v>5</v></c></row>""" +
        "</sheetData></worksheet>")
    zos.close()
  }
}
