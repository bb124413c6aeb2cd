package graft
import org.apache.spark.sql.functions._

/** Phase-timing harness for the iterative graph tier (not a test).
  * Usage: Test/runMain graft.GraphProfile [sfDir]. */
object GraphProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkEntry.localSession("32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect() // warm
    def time(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[profile] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  (rows=$n)")
    }
    def pairs = Tables.orders(spark, sfDir)
      .join(Tables.lineitem(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("c"), col("o_custkey").cast("string")).as("src"),
        concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
    def edges = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
    time("edges raw count")(edges.count())
    time("edges distinct count")(edges.distinct().count())
    time("pageRank iters=1")(
      pipeline.Graph.pageRank(edges, "src", "dst", iters = 1).count())
    time("pageRank iters=3")(
      pipeline.Graph.pageRank(edges, "src", "dst", iters = 3).count())
    time("pageRank iters=3 again")(
      pipeline.Graph.pageRank(edges, "src", "dst", iters = 3).count())
    spark.stop()
  }
}
