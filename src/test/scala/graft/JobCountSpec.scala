package graft

import graft.queries.Registry

/** Pins how many Spark jobs and stages each `registry_short` query (and the
  * graph head q186) runs at sf0.01 — built and counted, the benchmark's op.
  * Per-query counts repeat exactly run to run, so a count that moves means
  * a plan that moved: an extra lineage cut, a lost broadcast, an exchange
  * that came back. A change that moves a count on purpose updates its pin
  * here and says why. The counts are of the one-split posture: every sf0.01
  * table is one file of one row group, read as `Coalesce 1` (see Tables).
  */
class JobCountSpec extends SparkSpec {

  /** query -> (jobs, stages); stages skipped because their shuffle output
    * was reused are not counted. */
  private val pins: Map[String, (Int, Int)] = Map(
    "q01_pricing_summary" -> (1, 1),
    "q67_top_per_group" -> (14, 14),
    "q100_assoc_rules" -> (4, 4),
    "q117_diversified_topk" -> (1, 1),
    "q152_item_cosine" -> (3, 3),
    "q248_ab_ztest" -> (1, 1),
    "q370_kish_deff" -> (1, 1),
    "q162_lift" -> (4, 4),
    "q56_contamination" -> (7, 7),
    "q488_kpss" -> (6, 6),
    "q186_sssp" -> (16, 16))

  test("each registry_short query and q186 runs its pinned jobs and stages at sf0.01") {
    val got = pins.keys.toSeq.sorted.map { q =>
      q -> jobsAndStages(Registry.queries(q)(spark, sf001).count())
    }.toMap
    val moved = pins.filter { case (q, c) => got(q) != c }
    assert(moved.isEmpty, moved.map { case (q, c) =>
      s"$q: pinned (jobs, stages) $c, ran ${got(q)}" }.mkString("\n", "\n", ""))
  }
}
