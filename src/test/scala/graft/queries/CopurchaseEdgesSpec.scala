package graft.queries

import graft.SparkSpec

/** The fan-out of `copurchaseEdges`' pair stage: its `ok` repartition above
  * the set aggregate is planned over a one-split lineitem, and dropped
  * over a multi-split one, where the set aggregate's own `ok` exchange
  * already satisfies it. No exchange goes below the set aggregate in
  * either posture. */
class CopurchaseEdgesSpec extends SparkSpec {

  private def exchanges(dir: String): Seq[String] =
    AppliedQueries.copurchaseEdges(spark, dir).queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("Exchange")).toSeq

  test("one-split lineitem: the ok repartition fans the pair stage out") {
    val ex = exchanges(sf0001)
    assert(ex.size == 2 && ex.exists(l => l.contains("hashpartitioning(ok") &&
        l.contains("REPARTITION_BY_COL")), ex.mkString("\n"))
  }

  test("multi-split lineitem: the set aggregate's exchange absorbs the ok repartition") {
    val ex = exchanges(multiRowGroupCopy(sf0001))
    assert(ex.size == 2 && !ex.exists(_.contains("REPARTITION_BY_COL")) &&
      ex.count(_.contains("hashpartitioning(ok")) == 1, ex.mkString("\n"))
  }
}
