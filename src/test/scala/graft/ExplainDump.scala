package graft
import graft.queries.Registry

/** Dump .explain("formatted") for every registered query (plan review
  * harness; not a test). Usage: Test/runMain graft.ExplainDump [outFile]. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val out = new java.io.PrintWriter(args.headOption.getOrElse("/tmp/explains.txt"))
    val spark = SparkEntry.localSession("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for ((name, fn) <- Registry.queries.toSeq.sortBy(_._1)) {
      out.println(s"===== $name =====")
      try out.println(fn(spark, "/root/testdata/sf0.001").queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => out.println("ERR: " + e.getMessage) }
    }
    out.close(); spark.stop()
  }
}
