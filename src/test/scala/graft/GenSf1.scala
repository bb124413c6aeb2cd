package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1 testdata generator for SCALE evidence (not a CI test, not product
  * code): upscales the driver's read-only sf0.1 tables 10× by disjoint
  * key-shifted replication, so the heaviest registry queries can be
  * measured one decade above bench scale (bench_sf1_r14.json).
  *
  * Design — the copies must scale the WORKLOAD, not corrupt it:
  *   - every key column shifts by copy·10^8 (clears all sf0.1 key
  *     ranges), so joins stay consistent and the 10 copies are disjoint
  *     subgraphs — graph node/edge counts grow exactly 10×;
  *   - the events time spine is UNCHANGED (same 30 days, 10× density —
  *     the "same window, more traffic" scale model; calendar-bounded
  *     operators keep their calendar bounds, as they would in
  *     production);
  *   - document texts get a per-copy token suffix (copy 0 verbatim), so
  *     intra-copy near-dup structure is preserved exactly while no
  *     cross-copy verbatim/near-dup pairs appear — otherwise every doc
  *     would become a 10-way duplicate cluster and the dedup benches
  *     would measure pair expansion, not LSH;
  *   - embeddings rotate element-wise by the copy index (exact floats,
  *     norms preserved, cross-copy cosine decorrelated) for the same
  *     reason.
  *
  * Run: Test/runMain graft.GenSf1 [outDir] [sf01Dir]
  * (defaults: ./testdata_sf1, /root/testdata/sf0.1)
  */
object GenSf1 {
  private val Off = 100000000L
  private val Copies = 10

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("testdata_sf1")
    val spark = SparkEntry.localSession("32").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sf01 = args.lift(1).getOrElse("/root/testdata/sf0.1")

    def replicate(df: DataFrame)(copy: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until Copies).map(i => copy(df, i)).reduce(_ unionByName _)

    def shift(c: String, i: Int) = (col(c) + lit(i * Off)).as(c)

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"$name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    // dimensions shared by all copies: verbatim
    write("region", Tables.region(spark, sf01))
    write("nation", Tables.nation(spark, sf01))

    write("customer", replicate(Tables.customer(spark, sf01)) { (d, i) =>
      d.select(shift("c_custkey", i), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment")) })
    write("supplier", replicate(Tables.supplier(spark, sf01)) { (d, i) =>
      d.select(shift("s_suppkey", i), col("s_name"), col("s_nationkey"),
        col("s_acctbal")) })
    write("part", replicate(Tables.part(spark, sf01)) { (d, i) =>
      d.select(shift("p_partkey", i), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice")) })
    write("orders", replicate(Tables.orders(spark, sf01)) { (d, i) =>
      d.select(shift("o_orderkey", i), shift("o_custkey", i),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority")) })
    write("lineitem", replicate(Tables.lineitem(spark, sf01)) { (d, i) =>
      d.select(shift("l_orderkey", i), shift("l_partkey", i),
        shift("l_suppkey", i), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate")) })
    write("events", replicate(Tables.events(spark, sf01)) { (d, i) =>
      d.select(shift("event_id", i), col("ts"), shift("user_id", i),
        col("event_type"), col("value"), col("props")) })
    write("documents", replicate(Tables.documents(spark, sf01)) { (d, i) =>
      val text = if (i == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", s"$$1_c$i")
      d.select(shift("doc_id", i), text.as("text"), col("lang"),
        col("source"), length(text).cast("long").as("n_chars")) })
    write("embeddings", replicate(Tables.embeddings(spark, sf01)) { (d, i) =>
      val rot = if (i == 0) col("embedding")
        else concat(
          slice(col("embedding"), lit(i + 1), size(col("embedding")) - i),
          slice(col("embedding"), lit(1), lit(i)))
      d.select(shift("vec_id", i), rot.as("embedding"), col("label")) })

    spark.stop()
  }
}
