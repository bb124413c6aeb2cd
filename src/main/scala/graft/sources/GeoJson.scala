package graft.sources

import com.fasterxml.jackson.core.io.JsonStringEncoder
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** GeoJSON read/write with the reference's flattening semantics
  * (io.read_geojson io.py:1160-1251, convert.records2geojson
  * convert.py:895-1099): one row per Point / per LineString vertex / per
  * Polygon vertex (ring index in `pos`), columns `id, type, lon, lat` +
  * properties; write reassembles geometries per feature id and computes the
  * collection bbox.
  *
  * Coordinates are read as JSON strings and re-parsed per geometry type —
  * GeoJSON's heterogeneous nesting (Point [x,y] vs Polygon [[[x,y]]]) defeats
  * schema inference, so the dispatch is explicit. Everything after
  * `spark.read.json` is built-in explode/posexplode (Spark Generators) — no
  * custom UDTF needed (SURVEY §2.10), scalable to arbitrarily many features.
  */
object GeoJson {

  private val featureSchema = StructType(Seq(
    StructField("type", StringType),
    StructField("features", ArrayType(StructType(Seq(
      StructField("id", StringType),
      StructField("geometry", StructType(Seq(
        StructField("type", StringType),
        StructField("coordinates", StringType)))),
      StructField("properties", MapType(StringType, StringType))))))))

  /** S6: flatten a FeatureCollection into vertex records. */
  def read(spark: SparkSession, path: String, key: String = "id",
           latFirst: Boolean = false): DataFrame = {
    val raw = spark.read.option("multiLine", true).schema(featureSchema).json(path)
    val feats = raw.select(explode(col("features")).as("f"))
      .select(
        coalesce(col("f.id"), col("f.properties")(key)).as("id"),
        col("f.geometry.type").as("type"),
        col("f.geometry.coordinates").as("coords"),
        col("f.properties").as("props"))

    def pt(c: Column): (Column, Column) =
      if (latFirst) (c.getItem(1), c.getItem(0)) else (c.getItem(0), c.getItem(1))

    val point = {
      val c = from_json(col("coords"), ArrayType(DoubleType))
      val (lon, lat) = pt(c)
      feats.filter(col("type") === "Point")
        .select(col("id"), col("type"), lon.as("lon"), lat.as("lat"),
          lit(null).cast(IntegerType).as("pos"), col("props"))
    }
    val line = {
      val c = from_json(col("coords"), ArrayType(ArrayType(DoubleType)))
      feats.filter(col("type") === "LineString")
        .select(col("id"), col("type"), explode(c).as("v"), col("props"))
        .select(col("id"), col("type"), pt(col("v"))._1.as("lon"),
          pt(col("v"))._2.as("lat"), lit(null).cast(IntegerType).as("pos"), col("props"))
    }
    val poly = {
      val c = from_json(col("coords"), ArrayType(ArrayType(ArrayType(DoubleType))))
      feats.filter(col("type") === "Polygon")
        .select(col("id"), col("type"), posexplode(c).as(Seq("pos", "ring")), col("props"))
        .select(col("id"), col("type"), explode(col("ring")).as("v"), col("pos"), col("props"))
        .select(col("id"), col("type"), pt(col("v"))._1.as("lon"),
          pt(col("v"))._2.as("lat"), col("pos"), col("props"))
    }
    point.unionByName(line).unionByName(poly)
  }

  /** K3 records2geojson: per-feature JSON lines (scalable path). Rows carry
    * id/type/lon/lat (+pos for polygon rings); properties = remaining
    * columns. Vertex order within a feature follows `orderCol` —
    * `sort_array(collect_list(struct(ord, ...)))` keeps it deterministic
    * under shuffle (SURVEY §7 risk register). */
  def featureJson(df: DataFrame, idCol: String = "id", typeCol: String = "type",
                  lonCol: String = "lon", latCol: String = "lat",
                  posCol: String = "pos", orderCol: Option[String] = None): DataFrame = {
    val ord = orderCol.map(col).getOrElse(monotonically_increasing_id())
    val propCols = df.columns.filterNot(Set(idCol, typeCol, lonCol, latCol, posCol).contains)
    val props = map_from_arrays(
      array(propCols.map(lit(_)).toSeq: _*),
      array(propCols.map(c => col(c).cast(StringType)).toSeq: _*))

    val base = df.withColumn("__ord", ord).withColumn("__props", props)
    val hasPos = df.columns.contains(posCol)
    val posC = if (hasPos) coalesce(col(posCol), lit(0)) else lit(0)

    val grouped = base.groupBy(col(idCol).as("fid"), col(typeCol).as("ftype"))
      .agg(
        sort_array(collect_list(struct(posC.as("p"), col("__ord").as("o"),
          col(lonCol).cast(DoubleType).as("lon"), col(latCol).cast(DoubleType).as("lat")))).as("pts"),
        first(col("__props")).as("props"),
        min(col(lonCol).cast(DoubleType)).as("min_lon"), min(col(latCol).cast(DoubleType)).as("min_lat"),
        max(col(lonCol).cast(DoubleType)).as("max_lon"), max(col(latCol).cast(DoubleType)).as("max_lat"))

    val coordsJson =
      when(col("ftype") === "Point",
        to_json(array(col("pts").getItem(0).getField("lon"), col("pts").getItem(0).getField("lat"))))
      .when(col("ftype") === "LineString",
        to_json(transform(col("pts"), p => array(p.getField("lon"), p.getField("lat")))))
      .otherwise( // Polygon: regroup by ring index
        to_json(transform(
          array_distinct(transform(col("pts"), p => p.getField("p"))),
          ring => transform(
            filter(col("pts"), p => p.getField("p") === ring),
            p => array(p.getField("lon"), p.getField("lat"))))))

    def jsonStr(c: Column): Column = concat(lit("\""),
      regexp_replace(regexp_replace(c, "\\\\", "\\\\\\\\"), "\"", "\\\\\""), lit("\""))

    grouped.select(
      col("fid"), col("ftype"),
      concat(lit("""{"type": "Feature", "id": """),
        jsonStr(col("fid")),
        lit(""", "geometry": {"type": """"), col("ftype"),
        lit("""", "coordinates": """), coordsJson,
        lit("""}, "properties": """), to_json(col("props")), lit("}")).as("feature_json"),
      col("min_lon"), col("min_lat"), col("max_lon"), col("max_lat"))
  }

  /** K3: stream the single FeatureCollection document to `out` (a
    * FeatureCollection is one JSON value by definition; the reference
    * materializes it too, convert.py:998-1099). The collection bbox comes
    * from ONE global min/max aggregate; features then stream through the
    * driver one partition at a time in fid order (`toLocalIterator` —
    * bounded memory, mirroring Writers.json array mode), so the driver
    * never holds the document or the feature set. Use `featureJson` +
    * NDJSON writes when the output need not be a single document. */
  def writeCollection(df: DataFrame, out: java.io.Writer,
                      crs: Option[String] = None): Unit = {
    val feats = featureJson(df)
    val b = feats.agg(min(col("min_lon")), min(col("min_lat")),
      max(col("max_lon")), max(col("max_lat"))).head()
    val bbox = if (b.isNullAt(0)) Seq(0.0, 0.0, 0.0, 0.0)
      else Seq(b.getDouble(0), b.getDouble(1), b.getDouble(2), b.getDouble(3))
    val crsJson = crs.map { c =>
      val name = new String(JsonStringEncoder.getInstance.quoteAsString(c))
      s""", "crs": {"type": "name", "properties": {"name": "$name"}}"""
    }.getOrElse("")
    out.write(s"""{"type": "FeatureCollection", "bbox": [${bbox.mkString(", ")}]$crsJson, "features": [""")
    val it = feats.orderBy("fid").select(col("feature_json")).toLocalIterator()
    var first = true
    while (it.hasNext) {
      if (!first) out.write(", ")
      out.write(it.next().getString(0))
      first = false
    }
    out.write("]}")
  }

  /** [[writeCollection]] into a String — tests / small collections only
    * (anything large should stream straight to a filesystem via
    * Writers.geojson). */
  def collectionString(df: DataFrame, crs: Option[String] = None): String = {
    val sw = new java.io.StringWriter()
    writeCollection(df, sw, crs)
    sw.toString
  }
}
