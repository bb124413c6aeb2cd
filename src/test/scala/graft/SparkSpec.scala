package graft

import org.apache.spark.sql.SparkSession
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
  lazy val session: SparkSession = SparkEntry.localSession("4")
    .appName("graft-test")
    // bucketed-table specs (BucketingSpec) save to the session catalog;
    // keep the warehouse out of the repo tree
    .config("spark.sql.warehouse.dir", s"/tmp/graft-test-warehouse-${sys.props.getOrElse("user.name", "u")}")
    .getOrCreate()
}
