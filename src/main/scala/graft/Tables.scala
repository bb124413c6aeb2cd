package graft

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Loaders for the synthetic star schema of the test data (see TESTDATA.md).
  *
  * Every named query receives `(spark, sfDir)`; this is the single place that
  * maps logical table names to parquet paths. At cluster scale these would
  * be partitioned tables behind a catalog, and this facade is the one seam
  * to swap in `spark.table(name)`.
  *
  * A table that is one parquet file is planned from its footer, read once
  * in the calling thread through `ParquetFileReader`, without starting a
  * Spark job ([[read]]):
  *  - the schema is declared, built by the same footer-to-schema code
  *    Spark's inference job runs per file, so no inference job runs;
  *  - a file of exactly ONE row group is read under `coalesce(1)`. Such a
  *    file has one non-empty split whatever the split size, so the scan
  *    loses no parallelism, and `Coalesce 1` reports `SinglePartition`,
  *    which satisfies every clustered distribution: `EnsureRequirements`
  *    plans no exchange under an aggregate, window or join over it.
  * The scan beneath the `Coalesce 1` is the plain parquet scan, so filter
  * pushdown and column pruning still reach it. Every other input — a
  * directory, a glob, or a file of several row groups — keeps its planned
  * splits, and only a non-file input pays the inference job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** [[read]] + one normalization: any TIMESTAMP_NTZ column (the
    * driver's regenerated testdata writes micros with isAdjustedToUTC=false)
    * is cast to µs TimestampType, so `unix_micros(col)` downstream sees the
    * identical integer DuckDB's `epoch_us(col)` computes on the same file.
    * The cast reinterprets the wall-clock value in the SESSION time zone —
    * only UTC makes that the identity, so this asserts rather than silently
    * shifting every timestamp by the host offset. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val raw = read(spark, s"$sfDir/$name.parquet")
    val ntz = raw.schema.fields.filter(_.dataType == TimestampNTZType)
    if (ntz.isEmpty) raw
    else {
      require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
        s"$name.parquet carries TIMESTAMP_NTZ: build the session with " +
          ".config(\"spark.sql.session.timeZone\", \"UTC\") so the " +
          "TimestampType cast is the identity")
      ntz.foldLeft(raw)((df, f) =>
        df.withColumn(f.name, col(f.name).cast(TimestampType)))
    }
  }

  /** `spark.read.parquet(path)`, planned from the footer when `path` is one
    * file (see the object doc): the declared schema, and `coalesce(1)` when
    * the file holds exactly one row group. */
  private[graft] def read(spark: SparkSession, path: String): DataFrame =
    footer(spark, path) match {
      case Some(f) =>
        val df = spark.read.schema(declaredSchema(spark, f)).parquet(path)
        if (f.getParquetMetadata.getBlocks.size == 1) df.coalesce(1) else df
      case None => spark.read.parquet(path)
    }

  /** The footer of `path` when it names one visible file — not a glob, a
    * directory or a missing path — read in the calling thread through the
    * session's Hadoop conf. */
  private[graft] def footer(spark: SparkSession, path: String): Option[Footer] = {
    val p = new Path(path)
    if (path.exists("{}[]*?\\".contains(_)) || p.getName.startsWith("_") ||
        p.getName.startsWith(".")) None
    else {
      val conf = spark.sessionState.newHadoopConf()
      val fs = p.getFileSystem(conf)
      val status = try Some(fs.getFileStatus(p)) catch { case _: FileNotFoundException => None }
      status.filter(_.isFile).map { st =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try new Footer(st.getPath, reader.getFooter) finally reader.close()
      }
    }
  }

  /** The schema Spark's inference job would give the file of `f`: its own
    * footer-to-schema code (Spark's row metadata when the file carries it,
    * else the converter) under the session's parquet settings. */
  private[graft] def declaredSchema(spark: SparkSession, f: Footer): StructType =
    ParquetFileFormat.readSchemaFromFooter(f, new ParquetToSparkSchemaConverter(spark.sessionState.conf))

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  /** events.ts has shipped in two physical layouts across driver testdata
    * generations: TIMESTAMP(NANOS) — which Spark 4 rejects outright
    * (PARQUET_TYPE_ILLEGAL) unless read as a raw long under
    * `spark.sql.legacy.parquet.nanosAsLong` (Bench/Verify/SparkSpec all set
    * it at session build) — and plain TIMESTAMP(MICROS, isAdjustedToUTC=
    * false), which Spark reads as TIMESTAMP_NTZ. Both normalize to the same
    * µs-precision TimestampType here, so every downstream `unix_micros(ts)`
    * sees the identical integer DuckDB's `epoch_us(ts)` computes on the
    * same file. The NTZ cast reinterprets the wall-clock value in the
    * SESSION time zone — only UTC makes that the identity, so this asserts
    * rather than silently shifting every timestamp by the host offset. */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEventTs(spark, load(spark, sfDir, "events"))

  private[graft] def normalizeEventTs(spark: SparkSession, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => // raw nanos (legacy mode): integral division, not a
        // double divide that would lose precision at 1.7e18 ns
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
          "events.parquet carries TIMESTAMP_NTZ micros: build the session " +
            "with .config(\"spark.sql.session.timeZone\", \"UTC\") so the " +
            "TimestampType cast is the identity")
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _: TimestampType => df
      case other => throw new IllegalArgumentException(
        s"unsupported events.ts physical type: $other")
    }
  }
  /** documents/embeddings fan out at the loader (r15 optimization,
    * guide §2.5 "one huge unsplittable file ... repartition immediately
    * after the read"): both ship as single-row-group files, so every scan
    * plans ONE task — and this tier's consumers (shingling, hashing,
    * vector math, per-token transforms) are exactly the heavy-map shapes
    * that serialize on it. The relations are small (5k docs / 2k
    * vectors at sf0.1), so the round-robin exchange costs milliseconds —
    * column pruning keeps it to the consumer's columns — while the map
    * work gains the whole machine (q113 3.5 -> 0.7 s, q114 1.8 -> 0.7 s).
    * The big fact tables (lineitem/orders/events) deliberately do NOT fan
    * out here: their first operation is usually a strongly-reducing
    * aggregate, where shipping raw rows violates "aggregate before you
    * shuffle" (guide §2.3; measured q01 0.9 -> 4.3 s) — heavy-map
    * operators over those opt in via Ops.fanoutScan. Scale-adaptive and
    * conf-gated exactly like fanoutScan (no-op on multi-split scans); the
    * one-row-group read is `Coalesce 1`, so the gate sees one partition
    * and the fan-out still happens at ≥ 4 cores. */
  def documents(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Ops.fanoutScan(load(spark, sfDir, "documents"))
  /** embeddings does NOT fan out: measured 1.7 -> 4.1 s on q47 (the LSH
    * path's per-partition expression setup and collapse barriers lose
    * more than the 2k-row map gains); vector operators that want the
    * machine opt in via Ops.fanoutScan. */
  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "embeddings")
}
