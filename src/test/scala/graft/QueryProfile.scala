package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

import scala.collection.mutable

/** Per-stage timing harness for single registry queries (not a test).
  * Usage: Test/runMain graft.QueryProfile <name-substring>[,<substring>...] [sfDir]
  * Prints, per completed stage: task count, summed executor run time,
  * shuffle read/write bytes, and the stage's longest task — the local-mode
  * stand-in for the Spark UI's stage page (guide §7.1).
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val only = args.headOption.getOrElse(sys.error("pass query name substrings"))
      .split(",").toSeq.filter(_.nonEmpty)
    val sfDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.localSession(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    final case class St(name: String, tasks: Int, runMs: Long, cpuMs: Long,
                        gcMs: Long, maxTaskMs: Long, shRead: Long, shWrite: Long,
                        wallMs: Long)
    val stages = mutable.ArrayBuffer[St]()
    val taskMax = mutable.Map[Int, Long]().withDefaultValue(0L)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
        if (t.taskMetrics != null) {
          val id = t.stageId
          val ms = t.taskMetrics.executorRunTime
          if (ms > taskMax(id)) taskMax(id) = ms
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
        val i = s.stageInfo
        val m = i.taskMetrics
        stages += St(i.name.takeWhile(_ != '\n'), i.numTasks,
          m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
          taskMax(i.stageId),
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L))
      }
    }
    for ((name, fn) <- queries.Registry.queries.toSeq.sortBy(_._1)
         if only.exists(name.contains)) {
      stages.clear(); taskMax.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1000) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      println(f"===== $name  total=$sec%.2f s  rows=$n =====")
      println(f"${"wall_ms"}%8s ${"run_ms"}%9s ${"cpu_ms"}%9s ${"gc_ms"}%7s ${"maxTk"}%7s ${"tasks"}%5s ${"shR_MB"}%7s ${"shW_MB"}%7s  stage")
      for (s <- stages.sortBy(-_.runMs).take(25))
        println(f"${s.wallMs}%8d ${s.runMs}%9d ${s.cpuMs}%9d ${s.gcMs}%7d ${s.maxTaskMs}%7d ${s.tasks}%5d ${s.shRead / 1e6}%7.1f ${s.shWrite / 1e6}%7.1f  ${s.name.take(90)}")
      val tot = stages.map(_.runMs).sum
      println(f"sum run_ms=$tot  stages=${stages.size}")
    }
    spark.stop()
  }
}
