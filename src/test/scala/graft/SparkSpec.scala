package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (JVM-wide singleton). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** Runs `f` with a fresh checkpoint dir set, so every lineage cut inside
    * is a reliable checkpoint, then unsets it: the shared session goes
    * back to local cuts for the suites that follow. */
  def withCheckpointDir[T](f: java.nio.file.Path => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try f(dir) finally spark.sparkContext.setCheckpointDir(null)
  }

  /** Runs `f` and counts the Spark jobs it starts and the stages it runs
    * (skipped stages not counted), once the listener bus has delivered
    * every event. */
  def jobsAndStages[T](f: => T): (Int, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
    }
    // the bus is internal to Spark, hence reflection
    def drain(): Unit = {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    drain()
    spark.sparkContext.addSparkListener(listener)
    try { f; drain() } finally spark.sparkContext.removeSparkListener(listener)
    (jobs.get, stages.get)
  }

  /** Writes `df` as the ONE parquet file `file` with Spark's writer, in
    * row groups of at most `rowsPerGroup` rows. */
  def writeParquetFile(df: DataFrame, file: String, rowsPerGroup: Long): Unit = {
    val out = Files.createTempDirectory("graft-pq").resolve("out")
    df.coalesce(1).write.option("parquet.block.row.count.limit", rowsPerGroup).parquet(out.toString)
    val parts = Files.list(out).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("part-"))
    require(parts.length == 1, s"expected one part file, got ${parts.mkString(", ")}")
    Files.move(parts.head, Paths.get(file))
  }

  /** A copy of the ten tables of `sfDir`, each one file of at least two
    * row groups (every table has two rows or more), made once per JVM: it
    * plans the one split the original plans, but [[Tables]] leaves it as
    * read instead of planning it as one partition — the multi-split
    * posture the plan pins describe. */
  def multiRowGroupCopy(sfDir: String): String = SparkSpec.copies.synchronized {
    SparkSpec.copies.getOrElseUpdate(sfDir, {
      val dir = Files.createTempDirectory("graft-rowgroups").toString
      Tables.names.foreach { t =>
        val raw = spark.read.parquet(s"$sfDir/$t.parquet")
        writeParquetFile(raw, s"$dir/$t.parquet", math.max(1L, (raw.count() + 1) / 2))
      }
      dir
    })
  }

  /** `f` run compiled, then interpreted: first with whole-stage codegen and
    * codegen-only factories, where a compile error raises instead of falling
    * back to interpretation; then with neither, so every expression runs its
    * `eval`. The session's settings are restored after each run. */
  def compiledAndInterpreted[T](f: => T): (T, T) = {
    def under(confs: (String, String)*): T = {
      val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try f finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    (under("spark.sql.codegen.wholeStage" -> "true",
       "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false"),
     under("spark.sql.codegen.wholeStage" -> "false",
       "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
  }
}

object SparkSpec {
  private val copies = scala.collection.mutable.Map[String, String]()

  lazy val session: SparkSession = SparkEntry.localSession("4")
    .appName("graft-test")
    // bucketed-table specs (BucketingSpec) save to the session catalog;
    // keep the warehouse out of the repo tree
    .config("spark.sql.warehouse.dir", s"/tmp/graft-test-warehouse-${sys.props.getOrElse("user.name", "u")}")
    .getOrCreate()
}
