package graft
import graft.queries.Registry

/** Dump .explain("formatted") for selected queries (plan artifacts).
  * Usage: Test/runMain graft.ExplainOne <substrings> <outFile> [sfDir]. */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val only = args(0).split(",").toSeq.filter(_.nonEmpty)
    val out = new java.io.PrintWriter(args(1))
    val sfDir = args.drop(2).headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkEntry.localSession("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for ((name, fn) <- Registry.queries.toSeq.sortBy(_._1)
         if only.exists(name.contains)) {
      out.println(s"===== $name =====")
      try out.println(fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => out.println("ERR: " + e.getMessage) }
    }
    out.close(); spark.stop()
  }
}
