package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The footer path of [[Tables]]: the declared schema is the one Spark's
  * inference job gives, a one-row-group file reads the same rows under
  * `Coalesce 1` without a schema job, and every other input plans as
  * `spark.read.parquet` does. */
class TablesSpec extends SparkSpec {
  private val sf01 = s"${new java.io.File(sf001).getParent}/sf0.1"
  private val sparkRowMetadata = "org.apache.spark.sql.parquet.row.metadata"

  private def declared(path: String) =
    Tables.footer(spark, path).map(Tables.declaredSchema(spark, _))

  /** The relation read with the declared schema has the schema of the one
    * read with inference (both make every field nullable). */
  private def assertDeclaredIsInferred(path: String): Unit = {
    val inferred = spark.read.parquet(path).schema
    val d = declared(path)
    assert(d.nonEmpty, s"$path: no footer read")
    assert(spark.read.schema(d.get).parquet(path).schema == inferred,
      s"$path: declared ${d.get} vs inferred $inferred")
    assert(Tables.read(spark, path).schema == inferred, path)
  }

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.exceptAll(b).isEmpty, "rows missing from the plain read")
    assert(b.exceptAll(a).isEmpty, "rows missing from the footer read")
  }

  private def tmp(name: String): String =
    Files.createTempDirectory("graft-tables").resolve(name).toString

  /** One parquet file written by parquet-mr itself, so it carries no
    * Spark row metadata and its schema comes from the converter. */
  private def writeRaw(schema: String)(rows: SimpleGroupFactory => Seq[Group]): String = {
    val file = tmp("raw.parquet")
    val msg = MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(new Path(file)).withType(msg)
      .withConf(new Configuration()).build()
    try rows(new SimpleGroupFactory(msg)).foreach(w.write) finally w.close()
    file
  }

  for (dir <- Seq(sf0001, sf001, sf01))
    test(s"declared schema is the inferred schema for the ten tables at ${dir.split('/').last}") {
      Tables.names.foreach(t => assertDeclaredIsInferred(s"$dir/$t.parquet"))
    }

  test("declared schema of a Spark-written file, from Spark's row metadata") {
    val df = spark.range(5).select(col("id"), col("id").cast("string").as("s"),
      (col("id") / 3).cast("decimal(12,4)").as("d"), array(col("id"), lit(7L)).as("arr"),
      struct(col("id").as("a"), lit("x").as("b")).as("st"),
      map(lit("k"), col("id")).as("m"), current_date().as("dt"),
      lit("a").cast("char(3)").as("c3"))
    val file = tmp("spark.parquet")
    writeParquetFile(df, file, 10)
    val meta = Tables.footer(spark, file).get.getParquetMetadata.getFileMetaData
    assert(meta.getKeyValueMetaData.containsKey(sparkRowMetadata))
    assertDeclaredIsInferred(file)
  }

  test("declared schema of a TIMESTAMP_NTZ file") {
    val file = writeRaw("message m { optional int64 ts (TIMESTAMP(MICROS,false)); }") { f =>
      Seq(f.newGroup().append("ts", 1700000000000000L), f.newGroup())
    }
    assert(declared(file).get.head.dataType.typeName == "timestamp_ntz")
    assert(!Tables.footer(spark, file).get.getParquetMetadata.getFileMetaData.getKeyValueMetaData
      .containsKey(sparkRowMetadata))
    assertDeclaredIsInferred(file)
    assertSameRows(Tables.read(spark, file), spark.read.parquet(file))
  }

  test("declared schema of a TIMESTAMP(NANOS) file under nanosAsLong") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val file = writeRaw("message m { required int64 ts (TIMESTAMP(NANOS,true)); }") { f =>
      Seq(f.newGroup().append("ts", 1700000000123456789L))
    }
    assert(declared(file).get.head.dataType.typeName == "long")
    assertDeclaredIsInferred(file)
    assertSameRows(Tables.read(spark, file), spark.read.parquet(file))
  }

  test("declared schema of a file with nested and decimal columns") {
    val file = writeRaw("""message m {
        required int64 id;
        optional group s { optional int32 a; optional binary b (STRING); }
        optional group l (LIST) { repeated group list { optional int64 element; } }
        optional int32 d7 (DECIMAL(7,2));
        optional fixed_len_byte_array(9) d20 (DECIMAL(20,2));
      }""") { f =>
      val full = f.newGroup().append("id", 1L).append("d7", 12345)
        .append("d20", Binary.fromConstantByteArray(BigInt("123456789012").toByteArray.reverse
          .padTo(9, 0.toByte).reverse))
      full.addGroup("s").append("a", 3).append("b", "x")
      full.addGroup("l").addGroup("list").append("element", 9L)
      Seq(full, f.newGroup().append("id", 2L))
    }
    assertDeclaredIsInferred(file)
    assertSameRows(Tables.read(spark, file), spark.read.parquet(file))
  }

  test("a one-row-group table reads the same rows under Coalesce 1 and runs no schema job") {
    Tables.names.foreach { t =>
      val path = s"$sf001/$t.parquet"
      assert(Tables.footer(spark, path).get.getParquetMetadata.getBlocks.size == 1)
      val (jobs, _) = jobsAndStages(Tables.read(spark, path))
      assert(jobs == 0, s"$t: reading the table started $jobs jobs")
      val df = Tables.read(spark, path)
      assert(df.queryExecution.executedPlan.toString.contains("Coalesce 1"))
      assertSameRows(df, spark.read.parquet(path))
    }
  }

  /** Reads `path` through Tables and plainly, and checks the two plan the
    * same partitions and no Coalesce; returns the partition count. */
  private def readAsToday(path: String): Int = {
    val df = Tables.read(spark, path)
    assert(!df.queryExecution.executedPlan.toString.contains("Coalesce"), s"$path planned a Coalesce")
    val n = df.rdd.getNumPartitions
    assert(n == spark.read.parquet(path).rdd.getNumPartitions, path)
    assertSameRows(df, spark.read.parquet(path))
    n
  }

  test("a two-row-group file, a two-file directory and a glob read as spark.read.parquet does") {
    val lineitem = spark.read.parquet(s"$sf001/lineitem.parquet")
    val twoGroups = tmp("two.parquet")
    writeParquetFile(lineitem, twoGroups, (lineitem.count() + 1) / 2)
    assert(Tables.footer(spark, twoGroups).get.getParquetMetadata.getBlocks.size == 2)
    val old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "64k")
    try assert(readAsToday(twoGroups) > 1, "expected several splits under a 64k split size")
    finally spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    val dir = tmp("dir")
    lineitem.repartition(2).write.parquet(dir)
    assert(Tables.footer(spark, dir).isEmpty)
    assert(readAsToday(dir) >= 1)
    assert(Tables.footer(spark, s"$sf001/lineitem.parque?").isEmpty)
    assert(readAsToday(s"$sf001/lineitem.parque?") >= 1)
    assert(readAsToday(s"$dir/part-*") >= 1)
  }
}
