package graft

/** Repeat-timing harness for optimization A/Bs on a noisy host (not a test).
  * Runs each selected query `reps` times in one session and reports the MIN
  * (noise floor) and median. Usage:
  *   Test/runMain graft.OptBench <substrings> [reps] [sfDir]
  * Env: SPARK_GRAFT_CPUS (cores), GRAFT_CONF ("k=v,k=v" extra session conf).
  */
object OptBench {
  def main(args: Array[String]): Unit = {
    val only = args.headOption.getOrElse(sys.error("pass query substrings"))
      .split(",").toSeq.filter(_.nonEmpty)
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val sfDir = args.drop(2).headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    var b = SparkEntry.localSession(cpus)
    for (kv <- sys.env.get("GRAFT_CONF").toSeq.flatMap(_.split(",")); if kv.contains("=")) {
      val Array(k, v) = kv.split("=", 2)
      b = b.config(k, v)
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    val sel = queries.Registry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.exists(n.contains) }
    var grand = 0.0
    for ((name, fn) <- sel) {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        sec
      }.sorted
      grand += times.head
      println(f"[optbench] $name%-34s min=${times.head}%7.2f med=${times(times.size / 2)}%7.2f all=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    println(f"[optbench] TOTAL-min=$grand%.2f over ${sel.size} queries")
    spark.stop()
  }
}
