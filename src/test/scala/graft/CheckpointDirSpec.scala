package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.{Curation, Dedup, EventAnalytics, Graph, Stats}

/** The lineage cut in its reliable mode: with a checkpoint dir set, every
  * `Ops.materialize` writes a checkpoint there. The cut families must return
  * the rows their local-mode specs pin, and the iterates must delete each
  * superseded generation instead of leaving one directory per round. */
class CheckpointDirSpec extends SparkSpec {
  import spark.implicits._

  private def rddDirs(dir: Path): Long =
    Files.walk(dir).filter(p => Files.isDirectory(p) &&
      p.getFileName.toString.startsWith("rdd-")).count()

  test("with a checkpoint dir set, the cut families return the rows their specs pin") {
    withCheckpointDir { dir =>
      // topKPerGroup (PipelineSpec: a sentinel-looking group is its own group)
      val tricky = (Seq.tabulate(6)(i => (null: String, i.toLong)) ++
        Seq.tabulate(6)(i => (" <null>", (100 + i).toLong)) ++
        Seq.tabulate(6)(i => ("", (200 + i).toLong)))
        .toDF("g", "id").withColumn("score", col("id").cast("double"))
      val topped = Curation.topKPerGroup(tricky, "g", "score", "id", k = 4)
        .collect().map(r => Option(r.getString(0)))
      assert(topped.length == 12 && topped.count(_.isEmpty) == 4 &&
        topped.count(_.contains(" <null>")) == 4 && topped.count(_.contains("")) == 4,
        topped.mkString(","))

      // recommendTopK (MlPipelineSpec: u1{a,b} u2{a,b} u3{b,c})
      val basket = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"), (3L, "b"), (3L, "c"))
        .toDF("u", "i")
      val recs = EventAnalytics.recommendTopK(basket, "u", "i", k = 2, minUsers = 1L)
        .collect().map(r => (r.getLong(0), r.getString(1)) ->
          (r.getDouble(2), r.getInt(3))).toMap
      assert(recs((1L, "c")) == ((0.57735, 1)) && recs((3L, "a")) == ((0.816497, 1)))
      assert(!recs.contains((1L, "a")) && !recs.contains((1L, "b")))

      // equalCountTiles (StatsSpec: bit-for-bit ntile parity)
      val scores = (1 to 50).map(i => (i.toLong, (i % 4).toDouble / 3.0)).toDF("id", "s")
      val exp = scores.withColumn("t", ntile(10).over(
          Window.orderBy(col("s").desc_nulls_last, col("id").asc)).cast("long"))
        .select("id", "t").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val tiles = Stats.equalCountTiles(scores, "s", "id", 10, "t")
        .select("id", "t").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(tiles == exp)

      // lepageTest (StatsSpec: A = {1, 5}, B = {2, 3, 4})
      val rs = Seq(("a", 1.0), ("a", 5.0), ("b", 2.0), ("b", 3.0), ("b", 4.0))
        .toDF("g", "v")
      val lp = Stats.lepageTest(rs, col("g"), col("v"), "a", "b").collect()(0)
      assert(lp.getDouble(2) == 0.0 && lp.getDouble(3) == -1.745743 &&
        lp.getDouble(4) == 3.047619, s"lp: $lp")

      // minhashDedup (PipelineSpec: one near-dup pair)
      val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
      val docs = Seq((1L, base), (2L, base.replace("kappa", "kappa2")),
        (3L, "one two three four five six seven eight nine ten eleven " +
          "twelve thirteen fourteen fifteen sixteen")).toDF("doc_id", "text")
      val pairs = Dedup.minhashDedup(docs, "doc_id", "text",
        Dedup.MinHashConfig(numHashes = 64, bands = 16, shingleN = 3, threshold = 0.5))
        .collect()
      assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))

      assert(rddDirs(dir) > 0, "the cuts were reliable checkpoints")
    }
  }

  test("iterates release superseded reliable cuts: bfsHops and pageRank stay bounded") {
    // a 12-node chain with a chord: bfsHops needs all 5 rounds
    val edges = ((1L to 11L).map(i => (i, i + 1)) :+ ((3L, 7L))).toDF("s", "d")
    val seeds = Seq(1L).toDF("n")
    def bfs(): Seq[(Long, Int)] =
      Graph.bfsHops(edges, "s", "d", seeds, "n", maxHops = 5)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    def rank(): Seq[(Long, Long)] =
      Graph.pageRank(edges, "s", "d", iters = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val (bfsLocal, rankLocal) = (bfs(), rank())
    assert(bfsLocal.map(_._2).max == 5)
    // bfsHops keeps the canonical edges, the adjacency and the returned
    // visited set — not a frontier and a visited set per round
    withCheckpointDir { dir =>
      assert(bfs() == bfsLocal)
      assert(rddDirs(dir) <= 3, s"${rddDirs(dir)} checkpoint dirs after bfsHops")
    }
    // pageRank keeps the two edge relations and the latest rank cut — not
    // one rank cut per 5 rounds
    withCheckpointDir { dir =>
      assert(rank() == rankLocal)
      assert(rddDirs(dir) <= 3, s"${rddDirs(dir)} checkpoint dirs after pageRank")
    }
  }
}
