package graft

import org.apache.spark.sql.functions.col

import graft.pipeline.Graph

/** Unit checks for the join-iterated graph operators on hand-computable
  * graphs — the driver's q136/q139 oracle rows cover corpus scale. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("triangleCounts: K4 gives every node 3 triangles") {
    // all 6 edges of the complete graph on {1,2,3,4}, deliberately fed as a
    // mix of directions plus duplicates — canonicalization must absorb both
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (3L, 2L),
      (2L, 4L), (4L, 3L), (1L, 2L)).toDF("src", "dst")
    val got = Graph.triangleCounts(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts: two triangles sharing an edge, pendant node absent") {
    // triangles (1,2,3) and (2,3,4) share edge (2,3); node 5 is pendant
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (2L, 4L),
      (1L, 5L)).toDF("src", "dst")
    val got = Graph.triangleCounts(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
    assert(!got.contains(5L), "triangle-free nodes emit no row")
  }

  test("triangleCounts: self-loops and triangle-free graphs count nothing") {
    val edges = Seq((1L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(Graph.triangleCounts(edges, "src", "dst").count() == 0)
  }

  test("clusteringCoefficients: clique is 1.0, path center is 0, leaves excluded") {
    // K3 {1,2,3} plus a path tail 3-4-5: node 3 has deg 3 and 1 triangle
    // -> 2/(3*2) = 0.333333; 4 has deg 2, no triangle -> 0; 5 has deg 1
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val got = Graph.clusteringCoefficients(edges, "src", "dst")
      .select("node", "deg", "n_tri", "coeff")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L), "deg-1 node 5 must be excluded")
    assert(got(1L) == ((1L, 2L, 1L, 1.0)) && got(2L) == ((2L, 2L, 1L, 1.0)))
    assert(got(3L) == ((3L, 3L, 1L, 0.333333)))
    assert(got(4L) == ((4L, 2L, 0L, 0.0)), "triangle-free node reports 0")
  }

  test("triangleCounts: degree orientation agrees with naive a<b<c enumeration") {
    // pseudo-random graph (deterministic LCG), checked against an exact
    // naive count — the orientation-invariance claim the q139 oracle uses
    var seed = 12345L
    def next(): Long = { seed = (seed * 1103515245L + 12345L) % 2147483648L; seed }
    val es = (1 to 300).map(_ => ((next() % 30).toInt, (next() % 30).toInt))
    val edges = es.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")
    val canon = es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.distinct.toSet
    val nodes = canon.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    val naive = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      a <- nodes; b <- nodes if a < b && canon((a, b))
      c <- nodes if b < c && canon((b, c)) && canon((a, c))
    } Seq(a, b, c).foreach(n => naive(n.toLong) += 1L)
    val got = Graph.triangleCounts(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(got == naive.toMap)
  }

  test("personalizedPageRank: seed side of a symmetric barbell outranks " +
    "the far side; all-nodes seeding reduces to plain pageRank") {
    import spark.implicits._
    // two 3-cliques joined by a bridge: symmetric, so plain PageRank ties
    // — seeding on the left clique must break the tie toward it
    def clique(n: Seq[String]) =
      for (a <- n; b <- n if a != b) yield (a, b)
    val edges = (clique(Seq("l1", "l2", "l3")) ++
      clique(Seq("r1", "r2", "r3")) ++ Seq(("l1", "r1"), ("r1", "l1")))
      .toDF("src", "dst")
    val seeds = Seq("l1", "l2", "l3", "offgraph").toDF("node")
    val ppr = Graph.personalizedPageRank(edges, "src", "dst", seeds, "node", 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ppr("l2") > ppr("r2") && ppr("l3") > ppr("r3"),
      s"seed side must outrank the mirror: $ppr")
    assert(ppr("l1") > ppr("r1"))
    // seeding EVERY node = the uniform restart = plain pageRank, verbatim
    val allSeeds = edges.select(edges("src").as("node"))
      .union(edges.select(edges("dst").as("node"))).distinct()
    val pprAll = Graph.personalizedPageRank(
        edges, "src", "dst", allSeeds, "node", 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = Graph.pageRank(edges, "src", "dst", 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pprAll == plain, "uniform seeding must reduce to pageRank")
  }

  test("labelPropagation: disjoint cliques converge to per-clique labels") {
    import spark.implicits._
    // two 4-cliques (a1..a4, b1..b4), both directions
    def clique(p: String) = for {
      i <- 1 to 4; j <- 1 to 4 if i != j
    } yield (s"$p$i", s"$p$j")
    val edges = (clique("a") ++ clique("b")).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, "src", "dst", iters = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // within a clique everyone sees the same neighbor multiset each round;
    // the deterministic (count desc, label asc) election converges every
    // member onto the lexicographic minimum of the clique
    assert((1 to 4).forall(i => got(s"a$i") == "a1"), got.toString)
    assert((1 to 4).forall(i => got(s"b$i") == "b1"), got.toString)
  }

  test("labelPropagation: tie elections pick the smallest label") {
    import spark.implicits._
    // z has exactly one in-edge from each of x and y: counts tie at 1,
    // the election must pick the lexicographically smaller label
    val edges = Seq(("x", "z"), ("y", "z")).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, "src", "dst", iters = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("z") == "x")
    // x and y have no in-edges: they keep their own labels
    assert(got("x") == "x" && got("y") == "y")
  }

  test("hits: two-round integer path counts; per-side max normalization") {
    import spark.implicits._
    // c1→{p1,p2}, c2→p1 (plus a duplicate edge that must collapse):
    // a1 = (p1:2, p2:1); h1 = (c1:3, c2:2); a2 = (p1:5, p2:3);
    // h2 = (c1:8, c2:5)
    val edges = Seq(("c1", "p1"), ("c1", "p2"), ("c2", "p1"), ("c2", "p1"))
      .toDF("c", "p")
    val got = Graph.hits(edges, "c", "p", iters = 2).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got(("authority", "p1")) == ((5L, 1.0)))
    assert(got(("authority", "p2")) == ((3L, 0.6)))
    assert(got(("hub", "c1")) == ((8L, 1.0)))
    assert(got(("hub", "c2")) == ((5L, 0.625)))
  }

  test("graphSummary: triangle+pendant — wedges, cc, assortativity by hand") {
    import spark.implicits._
    // triangle 1-2-3 plus pendant 3-4 (one edge reversed+duplicated to
    // exercise canonicalization): degs (2,2,3,1), wedges 5, triangles 1,
    // cc = 3/5; stubs r = (8·38 − 18²)/(8·44 − 18²) = −20/28
    val edges = Seq((1L, 2L), (3L, 1L), (2L, 3L), (3L, 4L), (2L, 1L))
      .toDF("src", "dst")
    val r = Graph.graphSummary(edges, "src", "dst").collect()(0)
    assert(r.getLong(0) == 4L && r.getLong(1) == 4L)  // nodes, edges
    assert(r.getLong(2) == 5L && r.getLong(3) == 1L)  // wedges, triangles
    assert(r.getDouble(4) == 0.6)
    assert(r.getDouble(5) == math.round(-20.0 / 28.0 * 1e6) / 1e6)
    // degenerate graphs null the undefined ratio instead of raising
    // DIVIDE_BY_ZERO. 4-cycle: every degree 2 -> 4 wedges, no triangle,
    // no degree variance
    val cyc = Graph.graphSummary(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst"), "src", "dst")
      .collect()(0)
    assert(cyc.getLong(0) == 4L && cyc.getLong(1) == 4L)
    assert(cyc.getLong(2) == 4L && cyc.getLong(3) == 0L)
    assert(cyc.getDouble(4) == 0.0 && cyc.isNullAt(5), s"4-cycle: $cyc")
    // two disjoint edges: no wedge at all, every degree 1
    val pair = Graph.graphSummary(
      Seq((1L, 2L), (3L, 4L)).toDF("src", "dst"), "src", "dst").collect()(0)
    assert(pair.getLong(0) == 4L && pair.getLong(1) == 2L)
    assert(pair.getLong(2) == 0L && pair.getLong(3) == 0L)
    assert(pair.isNullAt(4) && pair.isNullAt(5), s"1-2, 3-4: $pair")
  }

  test("modularity: two triangles + bridge; unlabelled-node singleton fallback") {
    import spark.implicits._
    // triangles {1,2,3} and {4,5,6} bridged by 3-4: m=7, degs (2,2,3,3,2,2)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (3L, 4L), (2L, 1L)).toDF("src", "dst")
    val full = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L), (5L, 20L),
      (6L, 20L)).toDF("node", "lbl")
    val r = Graph.modularity(edges, "src", "dst", full, "node", "lbl")
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4))).toMap
    // per community: (4·7·3 − 7²)/(4·7²) = 35/196
    assert(r(10L) == ((3L, 3L, 7L, math.round(35.0 / 196 * 1e6) / 1e6)))
    assert(r(20L) == ((3L, 3L, 7L, math.round(35.0 / 196 * 1e6) / 1e6)))
    // drop node 6 from the labels: it becomes its own singleton community
    val part = full.filter(col("node") =!= 6L)
    val r2 = Graph.modularity(edges, "src", "dst", part, "node", "lbl")
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4))).toMap
    assert(r2(20L) == ((2L, 1L, 5L, math.round(3.0 / 196 * 1e6) / 1e6)))
    assert(r2(6L) == ((1L, 0L, 2L, math.round(-4.0 / 196 * 1e6) / 1e6)))
    assert(r2(10L)._4 == math.round(35.0 / 196 * 1e6) / 1e6)
  }
  test("adamicAdar: existing edges excluded; 1/ln(deg) terms; degree cap") {
    import spark.implicits._
    // star z-{a,b,c} plus edge a-b: pairs through z are (a,b),(a,c),(b,c);
    // (a,b) is an existing edge, the rest score 1/ln(3)
    val edges = Seq(("z", "a"), ("z", "b"), ("z", "c"), ("a", "b"))
      .toDF("s", "d")
    val r = Graph.adamicAdar(edges, "s", "d").collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(2), x.getDouble(3))).toMap
    val aa = math.round(1.0 / math.log(3) * 1e6) / 1e6
    assert(r == Map(("a", "c") -> ((1L, aa)), ("b", "c") -> ((1L, aa))))
    // cap z out (deg 3 > 2): no wedges survive
    assert(Graph.adamicAdar(edges, "s", "d", maxDegree = 2).isEmpty)
  }
  test("kTruss: pendant peels at k=3; shared edge alone survives round 1 of k=4") {
    import spark.implicits._
    // two triangles sharing edge 2-3, plus pendant 4-5
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L)).toDF("s", "d")
    val t3 = Graph.kTruss(edges, "s", "d", k = 3, rounds = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    assert(t3 == Map((1L, 2L) -> 1L, (1L, 3L) -> 1L, (2L, 3L) -> 2L,
      (2L, 4L) -> 1L, (3L, 4L) -> 1L))  // 4-5 peeled, supports exact
    // k=4: round 1 keeps only 2-3 (support 2); round 2 finds it
    // triangle-less and peels it -> empty truss
    assert(Graph.kTruss(edges, "s", "d", k = 4, rounds = 2).isEmpty)
  }

  test("assortativity: a star is perfectly disassortative; a 4-cycle is degenerate") {
    import spark.implicits._
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("s", "d")
    val r = Graph.assortativity(star, "s", "d").collect()(0)
    assert(r.getLong(0) == 3L)
    assert(r.getDouble(1) == -1.0, s"star r: $r")
    // 4-cycle: every endpoint degree 2 -> zero variance -> null r
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("s", "d")
    val c = Graph.assortativity(cyc, "s", "d").collect()(0)
    assert(c.isNullAt(1), s"constant degrees must null r: $c")
  }

  test("richClub: hub + triangle; singleton club nulls phi") {
    import spark.implicits._
    // h-l1,h-l2,h-l3,h-a,h-b,a-b: deg h=5, a=b=2, leaves=1.
    // k=1: club {h,a,b}, 3 internal edges -> phi=1; k=2: {h} -> null
    val e = Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 20L),
      (10L, 30L), (20L, 30L)).toDF("s", "d")
    val r = Graph.richClub(e, "s", "d", ks = Seq(1, 2)).collect()
    assert((r(0).getLong(0), r(0).getLong(1), r(0).getLong(2),
      r(0).getDouble(3)) == ((1L, 3L, 3L, 1.0)))
    assert((r(1).getLong(0), r(1).getLong(1), r(1).getLong(2)) ==
      ((2L, 1L, 0L)) && r(1).isNullAt(3), s"rc: ${r(1)}")
  }

  test("avgNeighborDegree: path graph knn curve") {
    import spark.implicits._
    // a-b-c: degree-1 nodes see a degree-2 neighbor; b sees two leaves
    val e = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val r = Graph.avgNeighborDegree(e, "s", "d").collect()
    assert((r(0).getLong(0), r(0).getLong(1), r(0).getDouble(2)) ==
      ((1L, 2L, 2.0)))
    assert((r(1).getLong(0), r(1).getLong(1), r(1).getDouble(2)) ==
      ((2L, 1L, 1.0)))
  }

  test("linkPredictionPanel: Jaccard and RA on the triangle+tail graph") {
    // edges 1-2,1-3,2-3,3-4: non-edges (1,4),(2,4) each share z=3
    // -> cn=1, jaccard = 1/(2+1-1) = .5, ra = 1/3
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val r = Graph.linkPredictionPanel(edges, "src", "dst")
      .orderBy("a", "b").collect()
    assert(r.length == 2)
    assert((r(0).getLong(0), r(0).getLong(1), r(0).getLong(2)) ==
      ((1L, 4L, 1L)))
    assert(r(0).getDouble(3) == 0.5 && r(0).getDouble(4) == 0.333333,
      s"lp: ${r(0)}")
    assert((r(1).getLong(0), r(1).getLong(1)) == ((2L, 4L)))
  }

  test("weightedReciprocity: binary and min-flow rates") {
    // a->b w3, b->a w1, a->c w2: recip 2/3, weighted 2/6
    val edges = Seq(("a", "b", 3L), ("b", "a", 1L), ("a", "c", 2L))
      .toDF("src", "dst", "w")
    val r = Graph.weightedReciprocity(edges, "src", "dst", col("w"))
      .collect()(0)
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L)
    assert(r.getLong(2) == 6L && r.getLong(3) == 2L)
    assert(r.getDouble(4) == 0.666667 && r.getDouble(5) == 0.333333,
      s"wr: $r")
  }

  test("attributeMixing: exact rational Newman r; missing attr raises") {
    // edges 1-2 (x,x), 3-4 (y,y), 1-3 (x,y): r = 1/3
    val edges = Seq((1L, 2L), (3L, 4L), (1L, 3L)).toDF("src", "dst")
    val attrs = Seq((1L, "x"), (2L, "x"), (3L, "y"), (4L, "y"))
      .toDF("node", "attr")
    val r = Graph.attributeMixing(edges, "src", "dst", attrs, "node",
      "attr").collect()(0)
    assert(r.getLong(0) == 3L && r.getLong(1) == 6L && r.getLong(2) == 4L)
    assert(r.getDouble(3) == 0.333333, s"am: $r")
    val missing = Seq((1L, 2L), (1L, 5L)).toDF("src", "dst")
    intercept[Exception] {
      Graph.attributeMixing(missing, "src", "dst", attrs, "node", "attr")
        .collect()
    }
  }
}
