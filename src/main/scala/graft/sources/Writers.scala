package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.{CsvLineFormat, JsonLineFormat}

/** Sinks (SURVEY §2.2). Thin facades over DataFrameWriter — chunked
  * streaming writes (reference io.write io.py:1434-1501) are what a
  * partitioned distributed write *is*; `maxRecordsPerFile` bounds file
  * sizes, `partitionBy` is the split-by-key writer (process.split O3).
  */
object Writers {

  /** Columnar sink symmetry for [[Readers.read]]'s "orc" branch: ORC ships
    * in spark-sql, so the warehouse formats a reference user would migrate
    * between (parquet/orc) both round-trip natively. */
  def orc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** K1 records2csv (convert.py:807-849), through `CsvLineFormat`: Spark's
    * CSV writer with a byte formatter in front of its univocity generator.
    *
    * Each task formats a row straight into its part file's bytes when not
    * every field is null and each non-null field is a string that is
    * non-empty, valid UTF-8, has no space at either end, does not start with
    * `#` and holds no quote, backslash or control byte (CR and LF among
    * them) — wrapped in quotes when it holds a comma —; a long, int, short,
    * byte, boolean, float or double (as `toString` writes it); or a date in
    * years 1 to 9999. Any other row goes to Spark's `UnivocityGenerator`
    * over the same file, so its bytes are Spark's; the header, file names,
    * commit protocol and `maxRecordsPerFile` are Spark's too. A column of
    * another type (timestamp, decimal, binary, nested) makes the whole
    * write Spark's. The part files are byte-identical to Spark's writer
    * (`WriterBytesSpec`). A row is checked before any of it is formatted,
    * so a miss costs the check and then Spark's generator. Measured on the
    * benchmark's 500k typed rows, cached, `local[3]` on 4 shared vCPUs
    * (medians of 7, two rounds, against Spark's writer in the same JVM):
    * plain rows 0.376/0.280 s against 0.530/0.481 s; a `"` in every note,
    * all misses, 0.554/0.503 s against 0.535/0.483 s (+4%); a leading blank
    * in every name, all misses, 0.466/0.433 s against 0.452/0.488 s. */
  def csv(df: DataFrame, path: String, header: Boolean = true,
          maxRecordsPerFile: Option[Long] = None): Unit = {
    var w = df.write.mode("overwrite").option("header", header.toString)
    maxRecordsPerFile.foreach(n => w = w.option("maxRecordsPerFile", n.toString))
    w.format(classOf[CsvLineFormat].getName).save(path)
  }

  /** K2 records2json as NDJSON (convert.py:852-892 with newline=True; dates
    * render ISO via Spark's JSON encoder, matching CustomEncoder
    * fntools.py:231-246). The distributed writer — use this shape at scale.
    *
    * It writes through `JsonLineFormat`, the NDJSON mirror of [[csv]]: a row
    * whose strings are valid UTF-8 without `"`, `\` or a control byte, and
    * whose doubles and floats are finite, is formatted straight into bytes
    * (`{"name":value,...}`, null fields left out as Spark leaves them out);
    * any other row goes to Spark's `JacksonGenerator` over the same file,
    * and a column type outside the same list makes the whole write Spark's.
    * Part files are byte-identical to Spark's writer (`WriterBytesSpec`).
    * Measured as for [[csv]]: plain rows 0.316/0.253 s against
    * 0.491/0.372 s; a `"` in every note, all misses, 0.477/0.474 s against
    * 0.418/0.462 s (+3–14%); a leading blank in every name is no JSON miss
    * (0.290/0.303 s against 0.363/0.414 s). */
  def ndjson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").format(classOf[JsonLineFormat].getName).save(path)

  /** K2 records2json, both shapes (convert.py:852-892): the reference's
    * DEFAULT is a single JSON array document (doctest convert.py:871-885);
    * `newline = true` is the NDJSON mode above. A one-document array is
    * inherently a single-writer output, so rows stream through the driver
    * one partition at a time (`toLocalIterator` — bounded memory, the
    * distributed analogue of the reference's generator-chunked dump); for
    * anything large prefer [[ndjson]], which stays fully parallel. */
  def json(df: DataFrame, path: String, newline: Boolean = false): Unit =
    if (newline) ndjson(df, path)
    else {
      // Hadoop FileSystem so both branches accept the same path universe
      // (local, hdfs://, s3a://, ...) — NIO would silently localize a URI
      val hPath = new org.apache.hadoop.fs.Path(path)
      val fs = hPath.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        fs.create(hPath, true), java.nio.charset.StandardCharsets.UTF_8))
      try {
        out.write("[")
        val it = df.toJSON.toLocalIterator()
        var first = true
        while (it.hasNext) {
          if (!first) out.write(",")
          out.write(it.next())
          first = false
        }
        out.write("]")
      } finally out.close()
    }

  /** K3 geojson: stream the FeatureCollection document straight to the
    * target filesystem (GeoJson.writeCollection — bbox via one aggregate,
    * features via toLocalIterator; the driver never buffers the document). */
  def geojson(df: DataFrame, path: String, crs: Option[String] = None): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      fs.create(hPath, true), java.nio.charset.StandardCharsets.UTF_8))
    try GeoJson.writeCollection(df, out, crs) finally out.close()
  }

  /** O3 process.split: partitioned / size-bounded parquet write. */
  def splitByKey(df: DataFrame, path: String, key: String,
                 maxRecordsPerFile: Option[Long] = None): Unit = {
    var w = df.write.mode("overwrite")
    maxRecordsPerFile.foreach(n => w = w.option("maxRecordsPerFile", n.toString))
    w.partitionBy(key).parquet(path)
  }

  /** K5 io.hash_file (io.py:1504-1551): driver util. */
  def hashFile(path: String, algo: String = "SHA-1"): String = {
    val md = java.security.MessageDigest.getInstance(algo)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    md.digest(bytes).map("%02x".format(_)).mkString
  }
}
