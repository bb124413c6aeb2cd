package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Registry

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The real inventory lives in graft.queries.Registry; this object stays a
  * thin stable facade for the driver harness.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Registry.queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Registry.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a weaker rows-only check. */
  def oracleSql: Map[String, String] = Registry.oracles

  /** The local session conf every graft main and the test suite share:
    * `local[cores]` with as many shuffle partitions, AQE, UTC session time,
    * nanosecond parquet timestamps read as longs (events.parquet is
    * TIMESTAMP(NANOS); see Tables.events), and no UI. Callers add only
    * their own settings (app name, warehouse dir, extra conf). */
  private[graft] def localSession(cores: String): SparkSession.Builder =
    SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
