package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.Ops

/** Join-iterated graph analytics — the rank companion to
  * [[Dedup.connectedComponents]]' pointer jumping. Each PageRank iteration
  * is one co-keyed join + aggregate over the edge relation (the classic
  * distributed formulation: ranks and degrees shuffle, never adjacency
  * lists), so a 100 TB edge set runs iters × (join + agg) with AQE free to
  * re-plan each round.
  *
  * DETERMINISM: ranks live as INTEGER micro-units (10^-12) and every step
  * is integer arithmetic — contribution = R div deg (floor division),
  * damping = (17 · Σ) div 20, teleport = (3·10^12) div (20·N) — so the
  * fixed-point after k iterations is bit-identical in ANY engine (the
  * DuckDB oracle unrolls the same recurrence in SQL). Floor division leaks
  * ≤1 micro-unit per term per round — a documented, deterministic variant
  * of the 0.85-damped walk, not an approximation that drifts.
  *
  * SHARED SHAPES: each relational shape is written once, as a private
  * helper the operators call — `dampedWalk` (both PageRanks), `minPlus`
  * (the relaxation of SSSP and harmonic centrality), `bothWays` (the
  * two-direction adjacency (u,v) ∪ (v,u)), `withEndDegrees` (the
  * endpoint-degree join), `triangleTally` (per-node triangle counts),
  * `wedgeScores` (the capped common-neighbor wedges of link prediction)
  * and `degreeMoments` (the exact stub-moment degree r).
  */
object Graph {

  val Scale: Long = 1000000000000L // 10^12 micro-units = rank 1.0

  /** `iters` rounds of damped PageRank over a directed edge list
    * (`srcCol`, `dstCol`), starting uniform. Every node appearing as a
    * source or destination participates; dangling nodes (no out-edges)
    * simply keep their teleport share (their mass is dropped, the standard
    * sink-leak variant). Returns (node, rank_micro, rank) with rank = the
    * 6dp-rounded double image of the integer fixed point. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int): DataFrame =
    // every node restarts: the flag is a literal Catalyst folds away, so the
    // plan carries no seed join
    dampedWalk(edges, srcCol, dstCol, iters)(
      nodes => (nodes.withColumn("__isSeed", lit(true)), nodes))

  /** Personalized PageRank: the damped walk restarts into the SEED SET
    * instead of everywhere — rank becomes proximity TO the seeds (related
    * items for a user's history, neighborhood expansion around flagged
    * accounts, topic-conditioned centrality). Identical integer recurrence
    * to [[pageRank]] with one change: the teleport term
    * (3·10¹²) div (20·|S|) pays out only to seed nodes (non-seeds get 0 —
    * their mass arrives through edges). Seeds must be nodes of the graph
    * (off-graph seeds are ignored by construction: the node relation comes
    * from the edges). Starting rank is uniform over seeds, zero elsewhere
    * (the standard restart distribution, exact in integers).
    * Same checkpoint/shuffle-hash discipline; the seed relation is one
    * broadcast semi-join flag. Returns (node, rank_micro, rank). */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String,
                           iters: Int): DataFrame =
    dampedWalk(edges, srcCol, dstCol, iters) { nodes =>
      val seedNodes = nodes.join(
        broadcast(seeds.select(col(seedCol).as("node")).distinct()),
        Seq("node"), "semi")
      val flagged = nodes.join(
        broadcast(seedNodes.withColumn("__isSeed", lit(true))),
        Seq("node"), "left")
        .select(col("node"), coalesce(col("__isSeed"), lit(false)).as("__isSeed"))
      (flagged, seedNodes)
    }

  /** The integer damped walk behind both PageRanks. `restarts` maps the
    * node relation to the walk's spine — every node with its `__isSeed`
    * restart flag — and the restart set, whose size |S| sets the start
    * rank 10¹² div |S| and the teleport (3·10¹²) div (20·|S|) paid to
    * flagged nodes. Which caller runs is data, never a branch. */
  private def dampedWalk(edges: DataFrame, srcCol: String, dstCol: String, iters: Int)(
      restarts: DataFrame => (DataFrame, DataFrame)): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters out of range: $iters")
    // checkpoint discipline = connectedComponents': the edge relation
    // materializes ONCE (every round joins it), each round's rank cuts its
    // lineage — no ambiguous-self-join resolution, no replayed upstream
    val e0 = Ops.materialize(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct())
    val nodes = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node"))).distinct()
    val deg = e0.groupBy("src").agg(count(lit(1)).as("deg"))
    // hoist the static deg join out of the loop: each round joins ranks
    // against ONE pre-joined (src, dst, deg) relation. (r15 A/B note: a
    // repartition(src) before this cut measured SLOWER — the per-round
    // e-exchanges already collapse to one ReusedExchange, so pre-
    // partitioning only added an exchange: 5.5 -> 7.0 s on q136; dropping
    // e0's eager cut also measured slower — its four consumers re-ran the
    // distinct's post-exchange agg: 3.2 -> 7.3 s.)
    val e = Ops.materialize(e0.join(deg, Seq("src")))
    val (spine, restartSet) = restarts(nodes)
    // one scalar row: |S| and the teleport term (3*10^12) div (20*|S|)
    val n = restartSet.agg(count(lit(1)).as("__n"))
      .select(col("__n"), expr(s"(3 * ${Scale}L) div (20 * __n)").as("__tp"))
    val seed = col("__isSeed")
    var rank = spine.crossJoin(broadcast(n))
      .select(col("node"), when(seed, expr(s"${Scale}L div __n")).otherwise(lit(0L)).as("r"))
    var rankCut: Option[DataFrame] = None
    for (i <- 1 to iters) {
      // SHUFFLE_HASH on the rank side: ranks are |V| rows against |E|
      // edges — the default sort-merge would re-sort the edge relation
      // every iteration (the triangle-tier lesson)
      val contrib = rank.hint("shuffle_hash")
        .join(e, rank("node") === e("src"))
        .select(col("dst").as("node"), expr("r div deg").as("c"))
        .groupBy("node").agg(sum(col("c")).as("__in"))
      // spine = the STATIC node relation, not rank_prev (r15 optimization,
      // guide §7.2 "duplicated subtrees"): every round's rank covers
      // exactly the spine's node set (the left join keeps all spine rows),
      // but a rank_prev spine makes each round's plan reference rank_prev
      // TWICE (contrib + spine), duplicating the un-exchanged tail of
      // every earlier round's join 2^rounds times. A static spine keeps
      // rank_prev referenced once — the plan is linear in `iters`
      // (measured 5.5 -> 2.9 s on q136 at iters=3).
      rank = spine
        .join(contrib.hint("shuffle_hash"), Seq("node"), "left")
        .crossJoin(broadcast(n))
        .select(col("node"), (when(seed, col("__tp")).otherwise(lit(0L)) +
          expr("(17 * coalesce(__in, 0L)) div 20")).as("r"))
      // rank lineage only needs a cut every few rounds: within a window the
      // nested joins stay one job whose repeated e-exchanges collapse to
      // ReusedExchange and whose sizes AQE can see (an EAGER cut per round
      // serialized five jobs and erased the stats that let small rank
      // relations broadcast); each cut supersedes the previous one
      if (i % 5 == 0 && i < iters) {
        rank = Ops.materialize(rank, rankCut.toSeq: _*)
        rankCut = Some(rank)
      }
    }
    rank.select(col("node"), col("r").as("rank_micro"),
      round(col("r").cast("double") / lit(Scale.toDouble), 6).as("rank"))
  }

  /** Canonical undirected simple-edge relation: (a, b) with a < b, loops
    * and duplicates (either direction) dropped. CHECKPOINTED (the pageRank
    * lineage discipline): degrees, orientation, and both wedge-join sides
    * all read this relation — without the cut each reference would replay
    * the caller's full upstream (e.g. a fact-table self-join) once per use. */
  private def canonEdges(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    Ops.materialize(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct())

  private def degrees(und: DataFrame): DataFrame =
    und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** Both directions of an undirected (a, b) relation as (u, v) ∪ (v, u)
    * under the names `u` and `v`, `carry` columns riding along, so a
    * node's neighbors are one equi join away. */
  private def bothWays(und: DataFrame, u: String, v: String, carry: String*): DataFrame = {
    def side(from: String, to: String) =
      und.select(col(from).as(u) +: col(to).as(v) +: carry.map(col): _*)
    side("a", "b").union(side("b", "a"))
  }

  /** `rows` keyed (a, b) with both endpoints' degrees joined on co-keyed
    * as `da` and `db` — two hash joins, |rows| work, no degree² pairs. */
  private def withEndDegrees(rows: DataFrame, deg: DataFrame): DataFrame =
    rows.join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))

  /** Degree-oriented edge relation (u → v with (deg,id)(u) < (deg,id)(v)),
    * materialized once — it feeds both wedge-join sides AND the closing-
    * edge probe. */
  private def orientedOf(und: DataFrame, deg: DataFrame): DataFrame = {
    val aFirst = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    Ops.materialize(withEndDegrees(und, deg).select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"),
      when(aFirst, col("db")).otherwise(col("da")).as("dv")))
  }

  /** One row per triangle: (u, x, y), each enumerated exactly once at its
    * two lowest-(deg,id) corners. The wedge relation slims to three id
    * columns BEFORE the closing-edge shuffle — at Σ C(outdeg, 2) rows it
    * is the volume driver, and the degree columns only exist to order the
    * wedge. */
  private def triCorners(oriented: DataFrame): DataFrame = {
    // SHUFFLE_HASH hints on the EDGE side of both joins: the streamed side
    // is the wedge relation (Σ C(outdeg,2) rows — orders of magnitude
    // larger than |E|), and the default sort-merge strategy would sort it;
    // hashing the edge build side keeps the wedge side pipelined
    val wedges = oriented.select(col("u"), col("v").as("x"), col("dv").as("dx"))
      .join(oriented.select(col("u"), col("v").as("y"), col("dv").as("dy"))
        .hint("shuffle_hash"), Seq("u"))
      .filter(struct(col("dx"), col("x")) < struct(col("dy"), col("y")))
      .select("u", "x", "y")
    wedges.join(oriented.select(col("u").as("x"), col("v").as("y"))
      .hint("shuffle_hash"), Seq("x", "y"))
  }

  /** Per-node triangle count (node, n_tri): each triangle of
    * [[triCorners]] exploded to its three corners. */
  private def triangleTally(und: DataFrame, deg: DataFrame): DataFrame =
    triCorners(orientedOf(und, deg))
      .select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))

  /** Per-node triangle counts of the undirected graph given as an edge list
    * (either direction, duplicates fine). The classic degree-ordered
    * formulation (Cohen 2009; Suri & Vassilvitskii 2011): canonicalize each
    * edge, then ORIENT it from its lower (degree, id) endpoint to the
    * higher, so every wedge is enumerated at its lowest-degree corner —
    * out-degrees are bounded by O(sqrt(|E|)) regardless of how hot a hub
    * is, which is exactly the skew guard a web-scale graph needs (a naive
    * id-oriented wedge join puts a d² blowup on the highest-degree node).
    * Each triangle is found exactly once (its two lowest-(deg,id) corners
    * emit the wedge, the closing edge check is oriented), then exploded to
    * its three corners and counted per node.
    *
    * Three co-keyed joins + one aggregate — no window, no cartesian; the
    * count is orientation-invariant, so an oracle may enumerate a<b<c
    * instead and must agree exactly.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = canonEdges(edges, srcCol, dstCol)
    triangleTally(und, degrees(und))
  }

  /** Local clustering coefficient per node of degree ≥ 2:
    * c(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) — how close a node's
    * neighborhood is to a clique (community cores vs brokers). Reuses
    * [[triangleCounts]]' degree-ordered enumeration (same hub-safe scale
    * shape), left-joined so triangle-free nodes report 0. The numerator
    * and denominator are exact integers finished by ONE IEEE division,
    * rounded 6dp — engine-independent. Returns (node, deg, n_tri, coeff). */
  def clusteringCoefficients(edges: DataFrame, srcCol: String,
                             dstCol: String): DataFrame = {
    val und = canonEdges(edges, srcCol, dstCol)
    val deg = degrees(und)
    deg.filter(col("deg") >= 2)
      .join(triangleTally(und, deg), Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        round(lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
          (col("deg") * (col("deg") - lit(1L))).cast("double"), 6).as("coeff"))
  }

  // ------------------------------------------------------------------ k-core
  /** Bounded-round k-core peeling of the undirected graph: each round drops
    * every node whose CURRENT degree is < k, together with its edges, and
    * after `rounds` rounds the surviving nodes are returned with their
    * final-round degrees. The round count is part of the operator's
    * CONTRACT (the result is the deterministic `rounds`-step peel, converged
    * or not — an oracle unrolls the same rounds); peeling converges when a
    * round removes nothing, and callers size `rounds` to the depth they
    * need (RefinedWeb-style graph cleanups use small fixed depths).
    *
    * Per round: one degree aggregate + two semi joins of the edge relation
    * against the (broadcastable, monotonically shrinking) survivor set —
    * no windows, no per-node adjacency state, the same join-iterated shape
    * as [[pageRank]]. Edges checkpoint each round to cut the growing
    * lineage. Returns (node, deg) of the `rounds`-step core. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(rounds >= 1 && rounds <= 20, s"rounds out of range: $rounds")
    var und = canonEdges(edges, srcCol, dstCol)
    for (_ <- 1 to rounds) {
      val keep = degrees(und).filter(col("deg") >= k)
        .select(col("node"))
      und = Ops.materialize(und
        .join(keep.select(col("node").as("a")), Seq("a"), "semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "semi"), und)
    }
    // isolated survivors (deg dropped below k only in the FINAL degree
    // count) are by definition removed next round; report the final graph
    degrees(und).filter(col("deg") >= k)
  }

  // ---------------------------------------------------------------- BFS hops
  /** Minimum hop distance from a seed set, bounded at `maxHops` rounds of
    * frontier expansion over the undirected graph — the reachability /
    * neighborhood-size primitive (label spill, contamination blast radius).
    * Classic frontier BFS as joins: each round expands the CURRENT frontier
    * (nodes first reached last round) along the edge relation and anti-joins
    * the visited set, so a node's hop count is final the round it is first
    * seen. Frontier and visited relations are node-keyed and shrink/grow
    * monotonically; the edge relation materializes once. Unreached nodes are
    * absent from the result (not ∞ rows). Returns (node, hops ≤ maxHops). */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 20, s"maxHops out of range: $maxHops")
    val und = canonEdges(edges, srcCol, dstCol)
    // both directions once, so a frontier expands with ONE equi join
    val adj = Ops.materialize(bothWays(und, "u", "v"))
    var visited = seeds.select(col(seedCol).as("node")).distinct()
      .select(col("node"), lit(0).as("hops"))
    var frontier = visited.select("node")
    for (h <- 1 to maxHops) {
      val next = frontier.hint("shuffle_hash")
        .join(adj, frontier("node") === adj("u"))
        .select(col("v").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "anti")
      // each round supersedes the previous frontier and visited set
      // (round 1's are the lazy seed relations, not cuts)
      frontier = Ops.materialize(next, frontier)
      visited = Ops.materialize(visited.unionByName(
        frontier.select(col("node"), lit(h).as("hops"))), visited)
    }
    Ops.release(frontier) // the returned visited already holds it
    visited
  }

  // ------------------------------------------------------------ weighted SSSP
  /** Bounded-round single-source shortest paths over an undirected graph
    * with non-negative INTEGER edge weights — [[bfsHops]]' weighted sibling
    * (min-plus relaxation instead of frontier hops). Round r holds, for
    * every node, the exact min-weight over paths of ≤ r edges from the seed
    * set; like [[kCore]], the round count is part of the operator's contract
    * (an oracle unrolls the same rounds; converged iff a round changes
    * nothing). Distances are integer sums — min() over them is
    * engine-exact, no float accumulation anywhere.
    *
    * Per round: one node-keyed hash join of the (|V|-row) distance relation
    * against the edge relation + one min-aggregate — the [[pageRank]] shape;
    * the distance relation checkpoints per round to cut lineage. Nodes not
    * yet reached are absent (not ∞ rows). Returns (node, dist). */
  def ssspDistances(edges: DataFrame, srcCol: String, dstCol: String,
                    weightCol: String, seeds: DataFrame, seedCol: String,
                    rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 20, s"rounds out of range: $rounds")
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"),
        col(weightCol).cast("long").as("w"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .groupBy("a", "b").agg(min(col("w")).as("w"))
    val dist = seeds.select(col(seedCol).as("node")).distinct()
      .select(col("node"), lit(0L).as("dist"))
    minPlus(Ops.materialize(bothWays(e, "u", "v", "w")), dist, Nil, col("w"), rounds)
  }

  /** `rounds` rounds of min-plus relaxation from `dist` (keys..., node,
    * dist) over the two-way adjacency (u, v, ...): each round extends every
    * reached path by one edge at cost `step` and keeps the minimum per
    * (keys..., node) — exact integer sums, so min() is engine-exact.
    * Per round: one node-keyed hash join + one min-aggregate. */
  private def minPlus(adj: DataFrame, dist0: DataFrame, keys: Seq[String],
                      step: Column, rounds: Int): DataFrame = {
    var dist = dist0
    for (r <- 1 to rounds) {
      val relaxed = dist.hint("shuffle_hash")
        .join(adj, dist("node") === adj("u"))
        .select(keys.map(col) :+ col("v").as("node") :+ (col("dist") + step).as("dist"): _*)
      val next = dist.unionByName(relaxed)
        .groupBy((keys :+ "node").map(col): _*).agg(min(col("dist")).as("dist"))
      // the last round stays un-checkpointed: the caller's action
      // materializes it anyway, and its plan (join shape, aggregate) stays
      // inspectable; a cut supersedes the previous round's
      dist = if (r < rounds) Ops.materialize(next, dist) else next
    }
    dist
  }

  // ------------------------------------------- bounded harmonic centrality
  /** Per-seed harmonic centrality within `rounds` hops (Marchiori &
    * Latora 2000): H(s) = Σ_{v reached, v ≠ s} 1/d(s, v) over unweighted
    * shortest paths — the centrality that stays well-defined on
    * disconnected graphs (unreached nodes contribute 0, not ∞). The hop
    * bound is part of the CONTRACT (oracles unroll the same rounds — the
    * q156/q186 lesson), and it is also what makes the state bounded:
    * the iterate is a (seed, node, dist) relation keyed on node for the
    * frontier join, so cost scales with |seeds| × reach, never
    * all-pairs. Seeds must be a SAMPLE (the exact all-nodes version is
    * the quadratic no-go this bound exists to prevent).
    *
    * DETERMINISM: distances are exact integers off min-plus rounds; each
    * 1/d term is one exact-rational division rounded to DECIMAL(28,12)
    * before the per-seed sum (PSI discipline), 6dp finish. Returns
    * (seed, n_reached, harmonic). */
  def harmonicCentrality(edges: DataFrame, srcCol: String, dstCol: String,
                         seeds: DataFrame, seedCol: String,
                         rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 10, s"rounds out of range: $rounds")
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
    val dist = seeds.select(col(seedCol).as("seed")).distinct()
      .select(col("seed"), col("seed").as("node"), lit(0L).as("dist"))
    minPlus(Ops.materialize(bothWays(e, "u", "v")), dist, Seq("seed"), lit(1L), rounds)
      .filter(col("dist") > 0)
      .groupBy("seed")
      .agg(count(lit(1)).as("n_reached"),
        sum((lit(1.0) / col("dist").cast("double"))
          .cast(DecimalType(28, 12))).as("__h"))
      .select(col("seed"), col("n_reached"),
        round(col("__h").cast("double"), 6).as("harmonic"))
  }

  // --------------------------------------------------- label propagation
  /** Label-propagation community detection (Raghavan et al. 2007),
    * synchronous variant: every node starts labeled with itself; each round
    * it adopts the MODE of its in-neighbors' labels, ties broken
    * deterministically (highest count, then lexicographically smallest
    * label — a random-tie LPA is irreproducible and ungateable). Nodes with
    * no in-edges keep their own label.
    *
    * Same scale discipline as [[pageRank]]: the edge relation checkpoints
    * once, each round is one co-keyed join + one (node, label) aggregate +
    * a per-node election window (bounded by the node's distinct neighbor
    * LABELS, ≤ degree). Returns (node, label) after `iters` rounds —
    * callers aggregate to community sizes. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 10, s"iters out of range: $iters")
    val e0 = Ops.materialize(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct())
    val nodes = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node"))).distinct()
    var lab = nodes.withColumn("label", col("node"))
    var labCut: Option[DataFrame] = None
    for (i <- 1 to iters) {
      val msgs = lab.hint("shuffle_hash").join(e0, lab("node") === e0("src"))
        .select(col("dst").as("node"), col("label"))
        .groupBy("node", "label").agg(count(lit(1)).as("__c"))
      val w = Window.partitionBy(col("node"))
        .orderBy(col("__c").desc, col("label").asc)
      val elect = msgs.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).select(col("node"), col("label"))
      lab = nodes.join(elect.hint("shuffle_hash"), Seq("node"), "left")
        .select(col("node"), coalesce(col("label"), col("node")).as("label"))
      if (i % 3 == 0 && i < iters) {
        lab = Ops.materialize(lab, labCut.toSeq: _*)
        labCut = Some(lab)
      }
    }
    lab
  }

  // -------------------------------------------------------------------- HITS
  /** HITS hubs-and-authorities over a directed edge list, computed
    * UNNORMALIZED for `iters` rounds: starting from h ≡ 1, each round is
    * a(v) = Σ_{u→v} h(u) then h(u) = Σ_{u→v} a(v). Unnormalized HITS
    * values are integer PATH COUNTS ((AᵀA)^k row sums) — summed in
    * DECIMAL(38,0) they are bit-identical in any engine, and since
    * normalization rescales both sides uniformly, the per-side ranking is
    * EXACTLY the eigenvector ranking the normalized iteration converges
    * to at the same k. The one division per row (score/side max) happens
    * at the end, 6dp. Same join-iterated shape as [[pageRank]]: the edge
    * relation checkpoints once; each round is two co-keyed join+aggregate
    * passes. Returns (side 'authority'|'hub', node, score_raw, score)
    * with per-side (score DESC, node ASC) order decided by the caller. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 5, s"iters out of range: $iters")
    val e = Ops.materialize(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct())
    // round 1 from h≡1: authority = in-degree
    var auth = e.groupBy(col("dst"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("a"))
    var hub = e.join(auth.hint("shuffle_hash"), Seq("dst"))
      .groupBy(col("src")).agg(sum(col("a")).as("h"))
    for (_ <- 2 to iters) {
      auth = e.join(hub.hint("shuffle_hash"), Seq("src"))
        .groupBy(col("dst")).agg(sum(col("h")).as("a"))
      hub = e.join(auth.hint("shuffle_hash"), Seq("dst"))
        .groupBy(col("src")).agg(sum(col("a")).as("h"))
    }
    val u = auth.select(lit("authority").as("side"), col("dst").as("node"),
        col("a").as("__s"))
      .unionByName(hub.select(lit("hub").as("side"), col("src").as("node"),
        col("h").as("__s")))
    // per-side max as a 2-row broadcast, NOT a side-partitioned window —
    // a window here would sort each side into one partition
    val mx = u.groupBy("side").agg(max(col("__s")).as("__mx"))
    u.join(broadcast(mx), Seq("side"))
      .select(col("side"), col("node"), col("__s").cast("long").as("score_raw"),
        round(col("__s").cast("double") / col("__mx").cast("double"), 6)
          .as("score"))
  }

  // ----------------------------------------------------------- graph summary
  /** Whole-graph structure report over the undirected simple graph:
    * node/edge counts, wedge and triangle totals, global clustering
    * coefficient 3T/W, and degree assortativity (Pearson correlation of
    * endpoint degrees over the 2|E| ordered stubs — the Newman r). Every
    * sufficient statistic is an exact integer (DECIMAL sums of degree
    * products; triangles from the same degree-oriented enumeration as
    * [[triangleCounts]]); each output is one fixed-shape IEEE closed
    * form, 6dp. A graph without wedges has a null global_cc, and a regular
    * one (no degree variance) a null assortativity — [[assortativity]]'s
    * r. Returns one row: (n_nodes, n_edges, n_wedges, n_triangles,
    * global_cc, assortativity). */
  def graphSummary(edges: DataFrame, srcCol: String,
                   dstCol: String): DataFrame = {
    val und = canonEdges(edges, srcCol, dstCol)
    val deg = degrees(und)
    val tri = triCorners(orientedOf(und, deg))
      .agg(count(lit(1)).as("n_triangles"))
    val degStats = deg.agg(count(lit(1)).as("n_nodes"),
      sum((col("deg") * (col("deg") - 1)).cast(DecimalType(38, 0)))
        .as("__w2")) // 2W: deg·(deg−1) sums are even
    tri.crossJoin(degStats).crossJoin(degreeMoments(und, deg))
      .select(col("n_nodes"), col("n_edges"),
        (col("__w2") / 2).cast("long").as("n_wedges"),
        col("n_triangles"),
        round(when(col("__w2") =!= 0, lit(3.0) * col("n_triangles").cast("double") /
          (col("__w2").cast("double") / 2.0)), 6).as("global_cc"),
        col("r").as("assortativity"))
  }
  // ------------------------------------------------------------- modularity
  /** Newman modularity of a node→community partition over the undirected
    * simple graph: Q = Σ_c [ e_c/m − (d_c/(2m))² ] with m = |edges|, e_c =
    * intra-community edges, d_c = total degree mass of community c —
    * the standard "is this partition better than chance" score for
    * [[labelPropagation]] output (Newman & Girvan 2004).
    *
    * DETERMINISM: each community's contribution is the single rational
    * (4m·e_c − d_c²) / (4m²) — integer numerator and denominator in
    * DECIMAL(38,0) (d_c² can pass 2^63 on hub-heavy graphs), ONE IEEE
    * division, 6dp. Nodes absent from `labels` default to their own
    * singleton community (the LPA convention), so coverage gaps dilute Q
    * instead of silently dropping edges.
    *
    * 100 TB shape: the label relation joins the edge list twice co-keyed
    * on the node id (never collected), then everything aggregates to
    * community cardinality. Returns one row per community:
    * (community, n_nodes, e_in, deg_sum, contribution). Total modularity
    * is the caller's Σ contribution. */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 labels: DataFrame, nodeCol: String,
                 labelCol: String): DataFrame = {
    val und = canonEdges(edges, srcCol, dstCol)
    val lab = labels.select(col(nodeCol).as("__n"), col(labelCol).as("__l"))
    val tagged = und
      .join(lab.select(col("__n").as("a"), col("__l").as("__la")),
        Seq("a"), "left")
      .join(lab.select(col("__n").as("b"), col("__l").as("__lb")),
        Seq("b"), "left")
      .select(coalesce(col("__la"), col("a")).as("__la"),
        coalesce(col("__lb"), col("b")).as("__lb"))
    val m = tagged.agg(count(lit(1)).as("__m"))
    val eIn = tagged.filter(col("__la") === col("__lb"))
      .groupBy(col("__la").as("community"))
      .agg(count(lit(1)).as("e_in"))
    val nodeComm = lab.select(col("__n").as("node"), col("__l").as("community"))
      .unionByName(
        // nodes never labelled: their own singleton community
        degrees(und).select(col("node"))
          .join(lab.select(col("__n").as("node")), Seq("node"), "anti")
          .select(col("node"), col("node").as("community")))
    val degC = degrees(und)
      .join(nodeComm, Seq("node"))
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("deg")).cast(DecimalType(38, 0)).as("deg_sum"))
    degC.join(eIn, Seq("community"), "left").crossJoin(broadcast(m))
      .select(col("community"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"),
        col("deg_sum").cast("long").as("deg_sum"),
        round((lit(4).cast(DecimalType(38, 0)) * col("__m") *
          coalesce(col("e_in"), lit(0L)) -
          col("deg_sum") * col("deg_sum")).cast("double") /
          (lit(4.0) * col("__m").cast("double") *
            col("__m").cast("double")), 6).as("contribution"))
  }
  // ------------------------------------------------- link prediction (AA)
  /** Adamic-Adar link prediction over the undirected simple graph: for
    * each NON-edge pair (a, b), score = Σ_{z ∈ N(a)∩N(b)} 1/ln(deg z) —
    * common neighbors, discounted by how promiscuous they are (Adamic &
    * Adar 2003). The "which links are missing" primitive behind
    * recommend-a-connection and ER candidate generation.
    *
    * DETERMINISM: common-neighbor counts are exact; each 1/ln(deg) term
    * rounds to DECIMAL(28,12) before the sum (the PSI discipline), one
    * 6dp finish. deg(z) ≥ 2 for any z that completes a wedge, so ln > 0.
    *
    * 100 TB shape: the wedge relation is Σ C(deg(z), 2) rows — the
    * triangle-count volume driver — so candidates route only through
    * nodes with deg ≤ maxDegree (hubs carry ≈ 0 AA weight and quadratic
    * cost; the cap is part of the operator contract, mirrored by the
    * oracle). Existing edges leave via one co-keyed anti join. Returns
    * (a, b, common_neighbors, aa_score). */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
                 maxDegree: Int = 1000): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2: $maxDegree")
    val und = canonEdges(edges, srcCol, dstCol)
    wedgeScores(und, degrees(und), maxDegree, lit(1.0) / log(col("deg").cast("double")))
      .select(col("a"), col("b"), col("common_neighbors"),
        round(col("__w").cast("double"), 6).as("aa_score"))
  }

  /** The capped wedge enumeration of link prediction: every non-edge pair
    * (a < b) with a common neighbor z of 2 ≤ deg(z) ≤ maxDegree, as
    * (a, b, common_neighbors, __w) with __w = Σ_z weight, each term rounded
    * to DECIMAL(28,12) before the sum; `weight` reads the column `deg`
    * (= deg z). Existing edges leave via one co-keyed anti join. */
  private def wedgeScores(und: DataFrame, deg: DataFrame, maxDegree: Int,
                          weight: Column): DataFrame = {
    val okZ = deg.filter(col("deg") >= 2 && col("deg") <= maxDegree)
      .select(col("node").as("z"), col("deg"))
    val az = bothWays(und, "z", "x").join(okZ, Seq("z"))
    az.select(col("z"), col("x").as("a"), col("deg"))
      .join(az.select(col("z"), col("x").as("b")).hint("shuffle_hash"),
        Seq("z"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("common_neighbors"),
        sum(weight.cast(DecimalType(28, 12))).as("__w"))
      .join(und, Seq("a", "b"), "anti")
  }
  // ------------------------------------------------------------- k-truss
  /** Bounded-round k-truss peeling: each round counts every edge's
    * triangle SUPPORT (via the same degree-oriented enumeration as
    * [[triangleCounts]] — wedge volume stays Σ C(outdeg, 2)) and drops
    * edges supporting fewer than k−2 triangles; after `rounds` rounds the
    * surviving edges ship with their final-round support. Like [[kCore]],
    * the round count is part of the operator CONTRACT (the deterministic
    * `rounds`-step peel, converged or not — an oracle unrolls the same
    * rounds); the truss is the community-core filter one notch stronger
    * than k-core (edges, not nodes, must be embedded in triangles).
    * Edges checkpoint each round to cut the growing lineage. Returns
    * (a, b, support) of the `rounds`-step truss. */
  def kTruss(edges: DataFrame, srcCol: String, dstCol: String,
             k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k must be >= 3: $k")
    require(rounds >= 1 && rounds <= 10, s"rounds out of range: $rounds")
    var und = canonEdges(edges, srcCol, dstCol)
    var support: DataFrame = null
    var supportCuts = Seq.empty[DataFrame] // the cuts `support` reads
    for (_ <- 1 to rounds) {
      val oriented = orientedOf(und, degrees(und))
      val tri = triCorners(oriented)
      // every triangle supports its three canonical edges
      val edgeHits = tri.select(
          explode(array(
            struct(least(col("u"), col("x")).as("a"),
              greatest(col("u"), col("x")).as("b")),
            struct(least(col("u"), col("y")).as("a"),
              greatest(col("u"), col("y")).as("b")),
            struct(least(col("x"), col("y")).as("a"),
              greatest(col("x"), col("y")).as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("support"))
      support = und.join(edgeHits, Seq("a", "b"), "left")
        .select(col("a"), col("b"),
          coalesce(col("support"), lit(0L)).as("support"))
        .filter(col("support") >= k - 2)
      // the previous round's support is superseded, and with it the cuts
      // only it read; the returned support reads this round's
      val next = Ops.materialize(support.select("a", "b"), supportCuts: _*)
      supportCuts = Seq(und, oriented)
      und = next
    }
    Ops.release(und) // the last round's edges feed no returned plan
    support
  }

  // ------------------------------------------------- degree assortativity
  /** Degree assortativity coefficient (Newman 2002): the Pearson
    * correlation of endpoint degrees over the undirected edge list, both
    * orientations counted — positive in social graphs (hubs link hubs),
    * negative in web/biology (hubs link leaves); the one-number mixing
    * summary next to [[graphSummary]]'s degree histogram.
    *
    * DETERMINISM AND SCALE: degrees come from the canonical edge rollup;
    * the edge relation joins its two endpoint degrees CO-KEYED (two hash
    * joins, no window, no pairs blowup — work is |E|, not degree²).
    * Orientation symmetry is exploited instead of materialized: the stub
    * moments are sums over the single edges (see `degreeMoments`), one
    * DECIMAL(38,0)-exact aggregate finished by a fixed IEEE shape, 6dp.
    * Returns one row: (n_edges, r), r null on a regular graph. */
  def assortativity(edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame = {
    val und = canonEdges(edges, srcCol, dstCol)
    degreeMoments(und, degrees(und))
  }

  /** Newman's degree r from exact stub moments: with M = 2|E| ordered
    * stubs, Σx = Σ(da+db), Σx² = Σ(da²+db²), Σxy = Σ2·da·db, each a
    * DECIMAL(38,0) sum whose terms are cast before they multiply (a
    * 10-digit degree squares past 2^63 — the kruskal rule), finished by
    * r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²) in one fixed IEEE shape, 6dp;
    * null where the degrees have no variance (a regular graph). Returns
    * one row: (n_edges, r). */
  private def degreeMoments(und: DataFrame, deg: DataFrame): DataFrame = {
    val dt = DecimalType(38, 0)
    val m = withEndDegrees(und, deg).agg(count(lit(1)).as("n_edges"),
      sum((col("da") + col("db")).cast(dt)).as("__sx"),
      sum(col("da").cast(dt) * col("da") +
        col("db").cast(dt) * col("db")).as("__sxx"),
      sum(col("da").cast(dt) * col("db") * 2L).as("__sxy"))
    val mD = (col("n_edges") * 2L).cast("double")
    val sx = col("__sx").cast("double")
    val num = mD * col("__sxy").cast("double") - sx * sx
    val den = mD * col("__sxx").cast("double") - sx * sx
    m.select(col("n_edges"),
      round(when(den =!= 0.0, num / den), 6).as("r"))
  }

  // ------------------------------------------------- rich-club coefficient
  /** Rich-club coefficient φ(k) over a threshold grid (Zhou & Mondragón
    * 2004): among nodes of degree > k, φ(k) = 2·E_k / (n_k(n_k−1)) — do
    * the hubs preferentially wire to each other? The curve-form
    * complement to [[assortativity]]'s single correlation.
    *
    * DETERMINISM AND SCALE: degrees from the canonical undirected edge
    * relation; each edge reduces to min(deg_a, deg_b) by two co-keyed
    * joins; edges AND nodes then roll up per degree value (the degree
    * VOCABULARY — never node- or edge-grain again) and the small
    * threshold grid cross-joins those cells for conditional sums. Exact
    * integer counts; one IEEE division per grid row, 6dp. Returns one
    * row per threshold: (k, n_nodes, n_edges, phi). */
  def richClub(edges: DataFrame, srcCol: String, dstCol: String,
               ks: Seq[Int] = Seq(1, 2, 4, 8, 16)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 0) && ks == ks.sorted,
      s"thresholds must be ascending and nonnegative: $ks")
    val und = canonEdges(edges, srcCol, dstCol)
    val deg = degrees(und)
    val edgeCells = withEndDegrees(und, deg)
      .groupBy(least(col("da"), col("db")).as("__m"))
      .agg(count(lit(1)).as("__e"))
    val nodeCells = deg.groupBy(col("deg").as("__m"))
      .agg(count(lit(1)).as("__n"))
    val grid = und.sparkSession.createDataFrame(
      ks.map(k => Tuple1(k.toLong))).toDF("k")
    val eK = grid.crossJoin(broadcast(edgeCells))
      .groupBy("k")
      .agg(sum(when(col("__m") > col("k"), col("__e")).otherwise(0L))
        .as("n_edges"))
    val nK = grid.crossJoin(broadcast(nodeCells))
      .groupBy("k")
      .agg(sum(when(col("__m") > col("k"), col("__n")).otherwise(0L))
        .as("n_nodes"))
    val nD = col("n_nodes").cast("double")
    eK.join(nK, "k")
      .select(col("k"), col("n_nodes"), col("n_edges"),
        round(when(col("n_nodes") >= 2L,
          lit(2.0) * col("n_edges").cast("double") / (nD * (nD - 1.0))), 6)
          .as("phi"))
      .orderBy("k")
  }

  // ------------------------------------------- average neighbor degree
  /** Degree-dependent average neighbor degree knn(k) (Pastor-Satorras
    * et al. 2001) — [[assortativity]]'s full curve: for each degree
    * value k, the mean over degree-k nodes of their neighbors' mean
    * degree. A falling curve is disassortative (hubs touch leaves), a
    * rising one assortative.
    *
    * DETERMINISM AND SCALE: adjacency joins the degree relation co-keyed
    * (never a cartesian); each node's neighbor-degree mean is an exact
    * integer ratio cast DECIMAL(28,12) BEFORE the per-degree average
    * (the [[graft.pipeline.Stats.mantelHaenszel]] discipline), so the
    * rollup is order-independent. Returns one row per degree:
    * (deg, n_nodes, knn) 6dp. */
  def avgNeighborDegree(edges: DataFrame, srcCol: String,
                        dstCol: String): DataFrame = {
    val und = canonEdges(edges, srcCol, dstCol)
    val deg = degrees(und)
    val perNode = bothWays(und, "z", "x")
      .join(deg.select(col("node").as("x"), col("deg").as("__dx")), "x")
      .groupBy("z")
      .agg(count(lit(1)).as("__dz"), sum(col("__dx")).as("__sum"))
      .select(col("z"), col("__dz"),
        (col("__sum").cast("double") / col("__dz").cast("double"))
          .cast(DecimalType(28, 12)).as("__mnd"))
    perNode.groupBy(col("__dz").as("deg"))
      .agg(count(lit(1)).as("n_nodes"),
        round(sum(col("__mnd")).cast("double") /
          count(lit(1)).cast("double"), 6).as("knn"))
      .orderBy("deg")
  }

  // -------------------------------------------- link-prediction panel
  /** Common-neighbor link-prediction panel over NON-edge pairs: the
    * count itself, the neighborhood Jaccard cn/(deg a + deg b − cn)
    * (Liben-Nowell & Kleinberg 2003), and the resource-allocation index
    * Σ 1/deg z (Zhou et al. 2009 — [[adamicAdar]] with the harsher
    * 1/deg discount). Three rankings from one wedge pass, because no
    * single score wins on every graph.
    *
    * DETERMINISM AND SCALE: the [[adamicAdar]] wedge contract exactly —
    * candidates route only through nodes with deg ≤ maxDegree (the cn
    * count shares that cap; a hub-only common neighborhood reports what
    * the capped enumeration sees, documented), existing edges leave via
    * one anti join; the Jaccard is an exact integer rational on FULL
    * endpoint degrees; RA terms round to DECIMAL(28,12) before the sum.
    * Returns (a, b, common_neighbors, jaccard, ra_score). */
  def linkPredictionPanel(edges: DataFrame, srcCol: String, dstCol: String,
                          maxDegree: Int = 1000): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2: $maxDegree")
    val und = canonEdges(edges, srcCol, dstCol)
    val deg = degrees(und)
    withEndDegrees(wedgeScores(und, deg, maxDegree, lit(1.0) / col("deg").cast("double")), deg)
      .select(col("a"), col("b"), col("common_neighbors"),
        round(col("common_neighbors").cast("double") /
          (col("da") + col("db") - col("common_neighbors"))
            .cast("double"), 6).as("jaccard"),
        round(col("__w").cast("double"), 6).as("ra_score"))
  }

  // --------------------------------------------- weighted reciprocity
  /** Reciprocity of a DIRECTED weighted graph: the binary rate
    * (reciprocated edges / edges) and Squartini et al. 2013's weighted
    * version Σ min(w_uv, w_vu) / Σ w_uv — "how much of the flow comes
    * back". Self-loops are excluded (they are trivially reciprocal),
    * parallel edges must already be aggregated to (u, v, w).
    *
    * DETERMINISM AND SCALE: one self-join of the edge relation on the
    * reversed key (co-partitioned equi join, no window); integer weights
    * stay integer to the two final divisions. An empty graph returns no
    * row. Returns one row: (n_edges, n_recip, w_total, w_recip,
    * reciprocity, w_reciprocity) 6dp. */
  def weightedReciprocity(edges: DataFrame, srcCol: String,
                          dstCol: String, weightCol: Column): DataFrame = {
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"),
        weightCol.cast("long").as("w"))
      .filter(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v"))
    val rev = e.select(col("v").as("u"), col("u").as("v"),
      col("w").as("__wr"))
    e.join(rev, Seq("u", "v"), "left")
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("__wr").isNotNull, 1L).otherwise(0L)).as("n_recip"),
        sum(col("w")).as("w_total"),
        sum(least(col("w"), coalesce(col("__wr"), lit(0L)))).as("w_recip"))
      .select(col("n_edges"), col("n_recip"), col("w_total"),
        col("w_recip"),
        round(when(col("n_edges") > 0L, col("n_recip").cast("double") /
          col("n_edges").cast("double")), 6).as("reciprocity"),
        round(when(col("w_total") > 0L, col("w_recip").cast("double") /
          col("w_total").cast("double")), 6).as("w_reciprocity"))
  }

  // -------------------------------------- categorical attribute mixing
  /** Newman's categorical assortativity (Newman 2003): with each
    * undirected edge contributing both ordered stubs, e_ii the same-
    * attribute share and a_i the stub share of attribute i,
    * r = (Σe_ii − Σa_i²)/(1 − Σa_i²) — do like-labeled nodes link to
    * each other more than chance? The categorical sibling of the
    * degree [[assortativity]].
    *
    * DETERMINISM AND SCALE: attributes join onto the canonical edge
    * relation (a node missing from `nodeAttrs` RAISES — a silent inner
    * join would quietly shrink the graph); the whole r is ONE exact
    * integer rational, r = (D·S − Σc_i²)/(S² − Σc_i²) on stub counts
    * (S = 2·edges, D = diagonal stubs, c_i per-attribute stubs).
    * A single-attribute graph (denominator 0) nulls loudly. Returns one
    * row: (n_edges, n_stubs, diag_stubs, assort_r) 6dp. */
  def attributeMixing(edges: DataFrame, srcCol: String, dstCol: String,
                      nodeAttrs: DataFrame, nodeCol: String,
                      attrCol: String): DataFrame = {
    val dt0 = DecimalType(38, 0)
    val und = canonEdges(edges, srcCol, dstCol)
    val attrs = nodeAttrs.select(col(nodeCol).as("__node"),
      col(attrCol).as("__attr"))
    // the missing-attribute raise lives INSIDE the stub values so column
    // pruning can never drop it
    def checked(c: Column, other: Column): Column =
      when(c.isNull || other.isNull,
        raise_error(lit("attributeMixing: node without attribute")))
        .otherwise(c)
    val both = und
      .join(attrs.select(col("__node").as("a"), col("__attr").as("__a")),
        Seq("a"), "left")
      .join(attrs.select(col("__node").as("b"), col("__attr").as("__b")),
        Seq("b"), "left")
      .select(checked(col("__a"), col("__b")).as("__a"),
        checked(col("__b"), col("__a")).as("__b"))
    val stubs = both.select(col("__a").as("ai"), col("__b").as("aj"))
      .unionByName(both.select(col("__b").as("ai"), col("__a").as("aj")))
    val perAttr = stubs.groupBy("ai").agg(count(lit(1)).as("__c"))
    val c2 = perAttr.agg(sum(col("__c")).as("n_stubs"),
      sum(col("__c").cast(dt0) * col("__c")).as("__c2"))
    val d = stubs.agg(
      sum(when(col("ai") === col("aj"), 1L).otherwise(0L)).as("diag_stubs"))
    c2.crossJoin(d)
      .select(expr("n_stubs div 2").as("n_edges"), col("n_stubs"),
        col("diag_stubs"),
        round(when(col("n_stubs").cast(dt0) * col("n_stubs") =!=
            col("__c2"),
          (col("diag_stubs").cast(dt0) * col("n_stubs") - col("__c2"))
            .cast("double") /
          (col("n_stubs").cast(dt0) * col("n_stubs") - col("__c2"))
            .cast("double")), 6).as("assort_r"))
  }
}
