package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Curation, Stats, TextAnalysis => TA}

/** Unit checks for the distribution-analytics operators (Stats, pmiBigrams,
  * budgetedMixtureSample) on small hand-computable inputs — the driver's
  * q92-q97 oracle rows cover the corpus-scale behavior. */
class StatsSpec extends SparkSpec {
  import spark.implicits._

  test("quantileBuckets: quartiles of 1..8 land two values per bucket") {
    val df = (1 to 8).map(_.toDouble).toDF("v")
    val got = Stats.quantileBuckets(df, "v", Seq(0.25, 0.5, 0.75))
      .orderBy("v").select("bucket").as[Int].collect.toSeq
    // quantile_cont boundaries of 1..8 at (.25,.5,.75) = (2.75, 4.5, 6.25)
    assert(got == Seq(1, 1, 2, 2, 3, 3, 4, 4))
  }

  test("quantileBuckets: null values get a null bucket, boundaries inclusive-left") {
    val df = Seq(Some(1.0), Some(2.0), Some(3.0), Some(4.0), None).toDF("v")
    val rows = Stats.quantileBuckets(df, "v", Seq(0.5))
      .select("v", "bucket").collect()
    val byV = rows.map(r => Option(r.get(0)) -> Option(r.get(1))).toMap
    assert(byV(None).isEmpty)
    // median of 1..4 = 2.5: values <= 2.5 bucket 1, above bucket 2
    assert(byV(Some(1.0)).contains(1) && byV(Some(2.0)).contains(1))
    assert(byV(Some(3.0)).contains(2) && byV(Some(4.0)).contains(2))
  }

  test("standardize: z matches the hand-computed population z-score") {
    // group a: values 2, 4, 6 -> mean 4, var_pop 8/3, sd = sqrt(8/3)
    val df = Seq(("a", 2.0), ("a", 4.0), ("a", 6.0), ("b", 5.0))
      .toDF("g", "v")
    val z = Stats.standardize(df, Seq("g"), "v").orderBy("g", "v")
      .select("z").as[Option[Double]].collect.toSeq
    val sd = math.sqrt(8.0 / 3.0)
    assert(math.abs(z(0).get - (-2.0 / sd)) < 1e-12)
    assert(z(1).get == 0.0)
    assert(math.abs(z(2).get - 2.0 / sd) < 1e-12)
    assert(z(3).isEmpty, "single-row group has sd 0 -> null z")
  }

  test("groupLowerMedian is the (n+1) div 2-th smallest, a data element") {
    val df = Seq(("a", 3.0), ("a", 1.0), ("a", 2.0), ("a", 10.0),
      ("b", 7.0)).toDF("g", "v")
    val med = Stats.groupLowerMedian(df, Seq("g"), "v", "med")
      .orderBy("g").select("med").as[Double].collect.toSeq
    assert(med == Seq(2.0, 7.0)) // even n=4 -> LOWER median
  }

  test("robustOutlierStats: Hampel flag on a planted outlier") {
    // group a: 1..9 plus 100 -> med 5 (lower, n=10), dev med: mad = 2
    // outliers: |v-5| > 6 -> only 100
    val df = ((1 to 9).map(v => ("a", v.toDouble)) :+ ("a", 100.0)).toDF("g", "v")
    val r = Stats.robustOutlierStats(df, Seq("g"), "v", k = 3.0).collect()(0)
    assert(r.getAs[Long]("n") == 10)
    assert(r.getAs[Double]("med") == 5.0)
    assert(r.getAs[Double]("mad") == 2.0)
    assert(r.getAs[Long]("n_outliers") == 1)
  }

  test("pmiBigrams: counts and score match the closed form") {
    val docs = Seq("x y x y", "x y z").toDF("text")
    // unigrams: x:3 y:3 z:1 (Nu=7); bigrams: (x,y):3 (y,x):1 (y,z):1 (Nb=5)
    val got = TA.pmiBigrams(docs, "text", minCount = 2L).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getAs[String]("w1") == "x" && r.getAs[String]("w2") == "y")
    assert(r.getAs[Long]("c_xy") == 3)
    val want = math.log(3.0) + 2.0 * math.log(7.0) - math.log(5.0) -
      math.log(3.0) - math.log(3.0)
    assert(math.abs(r.getAs[Double]("pmi") - want) < 1e-6)
  }

  test("rollingFingerprint: min xxhash64 over k-shingles of the normalized text") {
    val df = Seq("abcde", "  ABCDE ", "ab", "abXde").toDF("text")
    val got = df.select(TA.rollingFingerprint(col("text"), k = 3)).as[Long].collect()
    val want = spark.range(1).select(
      least(xxhash64(lit("abc")), xxhash64(lit("bcd")), xxhash64(lit("cde"))),
      xxhash64(lit("ab"))).as[(Long, Long)].head()
    assert(got(0) == want._1)
    assert(got(1) == got(0)) // case and surrounding blanks normalize away
    assert(got(2) == want._2) // shorter than k: the one shingle is the text
    assert(got(3) != got(0))
  }

  test("budgetedMixtureSample: under-budget groups keep everything, rates scale with share") {
    val df = (1 to 400).map(i => (i.toLong, if (i <= 200) "big" else "small", 10))
      .toDF("id", "src", "w")
    // big: W=2000, share .5 -> rate 1000/2000 = .5; small: W=2000, share 2 -> capped 1.0
    val kept = Curation.budgetedMixtureSample(df, col("id"), "s1", col("src"),
      col("w"), budget = 2000.0, shares = Seq("big" -> 0.5, "small" -> 2.0),
      defaultShare = 0.0)
    val bySrc = kept.groupBy("src").agg(count(lit(1)).as("n"),
      first(col("sample_rate")).as("r")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(bySrc("small") == (200L, 1.0), "capped group keeps all rows")
    val (nBig, rBig) = bySrc("big")
    assert(rBig == 0.5)
    assert(nBig > 50 && nBig < 150, s"md5 draw at rate .5 kept $nBig of 200")
    // determinism: the same salt re-deals identically
    val again = Curation.budgetedMixtureSample(df, col("id"), "s1", col("src"),
      col("w"), 2000.0, Seq("big" -> 0.5, "small" -> 2.0), 0.0)
      .agg(count(lit(1))).as[Long].collect()(0)
    assert(again == nBig + 200)
  }

  test("q92 cube covers all four grouping sets of the two keys") {
    val rows = queries.Registry.queries("q92_cube")(spark, sf0001).collect()
    val sets = rows.map(r => (r.getAs[Int]("g_rf"), r.getAs[Int]("g_ls")))
      .toSet
    assert(sets == Set((0, 0), (0, 1), (1, 0), (1, 1)))
    val grand = rows.filter(r => r.getAs[Int]("g_rf") == 1 &&
      r.getAs[Int]("g_ls") == 1)
    assert(grand.length == 1)
  }

  test("funnel: strict-order completion on a hand-built log") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    // u1 completes all stages in order; u2 clicks BEFORE viewing (click at
    // t=1 precedes view at t=2) and has no later click -> drops at stage 1;
    // u3 views only. Simultaneous view+click (u4, same micro) is NOT
    // strictly after -> u4 drops at stage 1.
    val df = Seq(
      (1L, "view", ts(10)), (1L, "click", ts(20)), (1L, "purchase", ts(30)),
      (2L, "click", ts(1)), (2L, "view", ts(2)),
      (3L, "view", ts(5)),
      (4L, "view", ts(7)), (4L, "click", ts(7))
    ).toDF("u", "ty", "ts")
    val got = pipeline.EventAnalytics.funnel(df, "u", "ty", "ts",
      Seq("view", "click", "purchase"))
      .orderBy("stage_idx").select("n_users").as[Long].collect.toSeq
    assert(got == Seq(4, 1, 1))
  }

  test("weekIndex is Monday-aligned pure integer arithmetic") {
    import java.sql.Timestamp
    // 2024-01-01 was a Monday; 1970-01-01 (day 0, Thursday) must share the
    // week of 1969-12-29 (day -3, Monday)
    val df = Seq(
      Timestamp.valueOf("2024-01-01 00:00:00"),  // Monday
      Timestamp.valueOf("2024-01-07 23:59:59"),  // Sunday same week
      Timestamp.valueOf("2024-01-08 00:00:00")   // next Monday
    ).toDF("ts")
    val wk = df.select(pipeline.EventAnalytics.weekIndex(col("ts")).as("w"))
      .as[Long].collect.toSeq
    assert(wk(0) == wk(1) && wk(2) == wk(0) + 1)
  }

  test("retentionCohorts: offset-0 equals cohort size; known offsets") {
    import java.sql.Timestamp
    def t(d: String) = Timestamp.valueOf(d + " 12:00:00")
    val df = Seq(
      (1L, t("2024-01-01")), (1L, t("2024-01-09")),  // wk0, wk1
      (2L, t("2024-01-02")),                          // wk0 only
      (3L, t("2024-01-10")), (3L, t("2024-01-22"))    // wk1, wk3 -> offset 2
    ).toDF("u", "ts")
    val got = pipeline.EventAnalytics.retentionCohorts(df, "u", "ts")
      .orderBy("cohort_week", "week_offset")
      .select("week_offset", "n_users").as[(Long, Long)].collect.toSeq
    // cohort wk0: {1,2} at offset 0, {1} at offset 1; cohort wk1: {3} at 0, {3} at 2
    assert(got.map(_._2) == Seq(2L, 1L, 1L, 1L))
    assert(got.map(_._1) == Seq(0L, 1L, 0L, 2L))
  }

  test("associationRules: counts and lift on a 3-user basket") {
    val df = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"), (3L, "a"))
      .toDF("u", "ty")
    val r = pipeline.EventAnalytics.associationRules(df, "u", "ty")
      .collect().map(x => (x.getString(0), x.getString(1),
        x.getLong(2), x.getDouble(4), x.getDouble(5))).toSet
    // a->b: both 2, conf 2/3, lift (2/3)/(2/3)=1; b->a: both 2, conf 1, lift 1/(3/3)... 
    // nu=3, na(a)=3, nb(b)=2: a->b conf=2/3 lift=(2/3)/(2/3)=1.0
    // b->a: na(b)=2 conf=1.0, lift=1.0/(3/3)=1.0
    assert(r == Set(("a", "b", 2L, 0.666667, 1.0), ("b", "a", 2L, 1.0, 1.0)))
    // the quadratic guard binds, and the USER-SALTED md5 draw keeps a
    // DIFFERENT 2-subset per basket (independently computed): u1 keeps
    // {B, D}, u2 keeps {C, D} — decorrelated truncation, so the rule set
    // is the union of per-user pairs, not one corpus-wide item subset
    val wide = (1L to 2L).flatMap(u => Seq("A", "B", "C", "D", "E").map((u, _)))
      .toDF("u", "ty")
    val capped = pipeline.EventAnalytics.associationRules(wide, "u", "ty",
        maxBasket = 2)
      .collect().map(x => (x.getString(0), x.getString(1))).toSet
    assert(capped == Set(("B", "D"), ("D", "B"), ("C", "D"), ("D", "C")),
      s"cap draw changed: $capped")
  }

  test("groupConcat: values join in ord order, per group") {
    val df = Seq(("g1", 2L, "b"), ("g1", 1L, "a"), ("g1", 3L, "c"),
      ("g2", 9L, "z")).toDF("g", "ord", "v")
    val got = operators.Ops.groupConcat(df, Seq("g"), "v", Seq("ord"), "|")
      .orderBy("g").select("concat").as[String].collect.toSeq
    assert(got == Seq("a|b|c", "z"))
  }

  test("heavyHitters: count-desc with key tiebreak at the boundary") {
    val df = (Seq.fill(3)("x") ++ Seq.fill(2)("b") ++ Seq.fill(2)("a") ++
      Seq("c")).toDF("k")
    val got = operators.Ops.heavyHitters(df, Seq("k"), 2)
      .select("k", "n").as[(String, Long)].collect.toSeq
    assert(got == Seq(("x", 3L), ("a", 2L))) // tie a/b at n=2 -> key asc
  }

  test("imputeGroupMean: nulls get the group mean, non-null untouched, all-null stays null") {
    val df = Seq(("a", Some(2.0)), ("a", Some(4.0)), ("a", None),
      ("b", None)).toDF("g", "v")
    val got = Stats.imputeGroupMean(df, Seq("g"), "v")
      .orderBy("g", "v").select("v").as[Option[Double]].collect.toSeq
    assert(got == Seq(Some(2.0), Some(3.0), Some(4.0), None))
  }

  test("rollingActiveUsers: wau is the trailing-7-day distinct union") {
    import java.sql.Timestamp
    def t(d: Int) = new Timestamp((86400L * d + 3600L) * 1000L)
    // u1 active day 0 and day 3; u2 active day 3 only
    val df = Seq((1L, t(0)), (1L, t(3)), (2L, t(3))).toDF("u", "ts")
    val got = pipeline.EventAnalytics.rollingActiveUsers(df, "u", "ts")
      .orderBy("day").select("day", "dau", "wau")
      .as[(Long, Long, Long)].collect.toSeq
    // days 0-2: only u1's day-0 activation in window; day 3-6: both users
    // (u1 counted once despite two activations); days 7-9: day-3 tail
    assert(got.filter(_._1 <= 2).forall { case (_, _, w) => w == 1 })
    assert(got.find(_._1 == 3).get == ((3L, 2L, 2L)))
    assert(got.filter(r => r._1 >= 4 && r._1 <= 6).forall(_._3 == 2))
    assert(got.filter(_._1 >= 7).forall { case (_, d, w) => d == 0 && w == 2 })
    assert(got.map(_._1).max == 9) // windows end 7 days past the last activity
  }

  test("winsorize: values clip to the rounded quantile band") {
    val df = ((1 to 100).map(_.toDouble)).toDF("v")
    val got = Stats.winsorize(df, "v", 0.05, 0.95)
      .agg(min("clipped"), max("clipped"), count(lit(1))).collect()(0)
    // quantile_cont of 1..100 at .05/.95 = 5.95 / 95.05
    assert(got.getDouble(0) == 5.95 && got.getDouble(1) == 95.05)
    assert(got.getLong(2) == 100)
  }

  test("ngramNovelty: planted overlap fraction") {
    val corpus = Seq((1L, "a b c d")).toDF("id", "text")   // 3-grams: abc, bcd
    val ref = Seq((2L, "a b c x y z")).toDF("id", "text")  // contains abc only
    val r = pipeline.Curation.ngramNovelty(corpus, ref, "id", "text", n = 3)
      .collect()(0)
    assert(r.getAs[Long]("n_grams") == 2 && r.getAs[Long]("n_novel") == 1)
    assert(r.getAs[Double]("novelty") == 0.5)
  }

  test("labelCentroidCosines: orthogonal and identical centroids") {
    val df = Seq(
      (0, Seq(1.0f, 0.0f)), (0, Seq(1.0f, 0.0f)),   // centroid (1, 0)
      (1, Seq(0.0f, 2.0f)),                           // centroid (0, 2)
      (2, Seq(3.0f, 0.0f))                            // centroid (3, 0)
    ).toDF("label", "vec")
    val got = pipeline.Similarity.labelCentroidCosines(df, "label", "vec")
      .orderBy("label_a", "label_b")
      .select("label_a", "label_b", "cos").as[(Int, Int, Double)].collect.toSeq
    assert(got == Seq((0, 1, 0.0), (0, 2, 1.0), (1, 2, 0.0)))
  }

  test("conversionWithin: strict-after window, per-day abandonment") {
    import java.sql.Timestamp
    def t(sec: Long) = new Timestamp(sec * 1000L)
    // u1 converts (purchase 30min after view); u2's purchase is 2h late;
    // u3's purchase is simultaneous (NOT strictly after); u4 converts on
    // a view the next day
    val df = Seq(
      (1L, "view", t(1000)), (1L, "purchase", t(1000 + 1800)),
      (2L, "view", t(2000)), (2L, "purchase", t(2000 + 7200)),
      (3L, "view", t(3000)), (3L, "purchase", t(3000)),
      (4L, "view", t(86400 + 100)), (4L, "purchase", t(86400 + 200))
    ).toDF("u", "ty", "ts")
    val got = pipeline.EventAnalytics.conversionWithin(df, "u", "ty", "ts",
      "view", "purchase", withinSec = 3600L)
      .orderBy("day").select("day", "n_from", "n_unconverted")
      .as[(Long, Long, Long)].collect.toSeq
    assert(got == Seq((0L, 3L, 2L), (1L, 1L, 0L)))
  }

  test("weekOverWeek: pct change vs previous present week") {
    import java.sql.Timestamp
    def t(day: Int, k: Int) = new Timestamp((86400L * day + k) * 1000L)
    // week A: 2 events; week B (next week): 3 events -> +0.5
    val df = (Seq(t(4, 1), t(5, 2)) ++ Seq(t(11, 1), t(12, 2), t(13, 3)))
      .toDF("ts")
    val got = pipeline.EventAnalytics.weekOverWeek(df, "ts")
      .orderBy("week").select("n", "pct_change")
      .as[(Long, Option[Double])].collect.toSeq
    assert(got == Seq((2L, None), (3L, Some(0.5))))
  }

  test("chiSquareIndependence: independent 2x2 gives chi2 0; dof right") {
    val df = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"))
      .toDF("p", "q")
    val r = Stats.chiSquareIndependence(df, "p", "q").collect()(0)
    assert(r.getAs[Long]("n") == 4 && r.getAs[Long]("dof") == 1)
    assert(r.getAs[Double]("chi2") == 0.0)
    // perfectly dependent 2x2: chi2 = n
    val dep = Seq(("a", "x"), ("a", "x"), ("b", "y"), ("b", "y"))
      .toDF("p", "q")
    val r2 = Stats.chiSquareIndependence(dep, "p", "q").collect()(0)
    assert(r2.getAs[Double]("chi2") == 4.0)
  }

  test("giniIndex: uniform weights -> 0; total concentration -> (n-1)/n") {
    val uni = Seq(("a", 10), ("b", 10), ("c", 10), ("d", 10)).toDF("g", "w")
    val g1 = Stats.giniIndex(uni, Seq("g"), col("w")).collect()(0)
    assert(g1.getAs[Double]("gini") == 0.0)
    val conc = Seq(("a", 0), ("b", 0), ("c", 0), ("d", 100)).toDF("g", "w")
    val g2 = Stats.giniIndex(conc, Seq("g"), col("w")).collect()(0)
    assert(g2.getAs[Double]("gini") == 0.75) // (n-1)/n at n=4
  }

  test("bytePairCounts: cross-word pairs dropped, tiebreak by pair text") {
    val df = Seq("ab ab", "ab").toDF("text")
    // chars: "ab ab" -> ab, "b ", " a", ab ; "ab" -> ab. Kept: ab x3
    val got = TA.bytePairCounts(df, "text", k = 10)
      .select("pair", "n").as[(String, Long)].collect.toSeq
    assert(got == Seq(("ab", 3L)))
  }

  test("skipGramPairs: window bounds and counts on a tiny doc") {
    val df = Seq("a b c").toDF("text")
    val got = TA.skipGramPairs(df, "text", window = 1, minCount = 1L)
      .orderBy("center", "context")
      .select("center", "context", "n").as[(String, String, Long)].collect.toSeq
    assert(got == Seq(("a", "b", 1L), ("b", "a", 1L), ("b", "c", 1L),
      ("c", "b", 1L)))
  }

  test("budgetedMixtureSample: null group keys survive the rate join") {
    val df = Seq((1L, Option("a"), 10), (2L, Option("a"), 10),
      (3L, Option.empty[String], 10), (4L, Option.empty[String], 10))
      .toDF("id", "src", "w")
    // both groups capped at rate 1.0 -> everything kept, including nulls
    val kept = Curation.budgetedMixtureSample(df, col("id"), "s2", col("src"),
      col("w"), budget = 1000.0, shares = Seq("a" -> 1.0), defaultShare = 1.0)
    assert(kept.count() == 4, "null-group rows must meet their totals row")
  }

  test("percentRank: ties share ranks, endpoints at 0 and 1") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 2.0), ("a", 5.0)).toDF("g", "v")
    val got = Stats.percentRank(df, Seq("g"), "v")
      .orderBy("v").select("pr").as[Double].collect.toSeq
    // ranks: 1, 2, 2, 4 -> pr = 0, 1/3, 1/3, 1
    assert(got == Seq(0.0, 0.333333, 0.333333, 1.0))
  }

  test("diversifiedTopK: per-group cap binds before the global cutoff") {
    val df = Seq(("c1", 1L, 100.0), ("c1", 2L, 99.0), ("c1", 3L, 98.0),
      ("c2", 4L, 97.0), ("c2", 5L, 1.0)).toDF("c", "id", "score")
    val got = operators.Ops.diversifiedTopK(df, "score", Seq("c"), "id",
      k = 3, perGroup = 2)
      .select("id").as[Long].collect.toSeq
    // c1's third-best (98) is capped out; global top-3 of survivors
    assert(got == Seq(1L, 2L, 4L))
  }

  test("vocabOverlap: hand-computed Jaccard") {
    val df = Seq(("s1", "a b c"), ("s2", "b c d e")).toDF("src", "text")
    val r = pipeline.TextAnalysis.vocabOverlap(df, "src", "text").collect()(0)
    // |A|=3, |B|=4, common {b,c}=2 -> 2/(3+4-2) = 0.4
    assert(r.getAs[Long]("n_common") == 2 && r.getAs[Double]("jaccard") == 0.4)
  }

  test("ksTwoSample: hand-computed D on small samples") {
    // A = {1,2,3}, B = {2,3,4,4}: |Fa-Fb| at v=1: |1/3-0|=1/3;
    // v=2: |2/3-1/4|=5/12; v=3: |1-2/4|=1/2; v=4: |1-1|=0 -> D = 1/2
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 2.0), ("b", 3.0), ("b", 4.0), ("b", 4.0)).toDF("g", "v")
    val r = Stats.ksTwoSample(df, "g", "v", "a", "b").collect()(0)
    assert(r.getAs[Long]("n_a") == 3 && r.getAs[Long]("n_b") == 4)
    assert(r.getAs[Double]("ks") == 0.5)
  }

  test("welchTTest: equal samples give t = 0; known shift is negative") {
    val same = Seq(("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 2.0))
      .toDF("g", "v")
    val r0 = Stats.welchTTest(same, "g", "v", "a", "b").collect()(0)
    assert(r0.getAs[Double]("t") == 0.0 && r0.getAs[Double]("dof") == 2.0)
    val shift = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 11.0), ("b", 12.0), ("b", 13.0)).toDF("g", "v")
    val r1 = Stats.welchTTest(shift, "g", "v", "a", "b").collect()(0)
    assert(r1.getAs[Double]("mean_a") == 2.0 && r1.getAs[Double]("mean_b") == 12.0)
    assert(r1.getAs[Double]("t") < -10.0, s"t = ${r1.getAs[Double]("t")}")
  }

  test("kendallTau: hand C/D counts, tau-b on a tie-free example") {
    // (1,1)(2,3)(3,2)(4,4): C=5, D=1, no ties -> tau = 4/6
    val df = Seq((1.0, 1L), (2.0, 3L), (3.0, 2L), (4.0, 4L)).toDF("x", "y")
    val r = Stats.kendallTau(df, col("x"), col("y")).collect()(0)
    assert(r.getLong(0) == 4L)
    assert(r.getDouble(1) == 5.0 && r.getDouble(2) == 1.0)
    assert(r.getDouble(3) == 0.666667, s"tau: $r")
  }

  test("kendallTau: ties shrink the denominator (tau-b correction)") {
    // x=(1,1,2,2), y=(1,2,1,2): C=2 ((1,1)-(2,2) and... pairs with both
    // axes moving: (1,1)-(2,2) C, (1,2)-(2,1) D; n1=n2=2 -> tau_b = 0
    val df = Seq((1.0, 1L), (1.0, 2L), (2.0, 1L), (2.0, 2L)).toDF("x", "y")
    val r = Stats.kendallTau(df, col("x"), col("y")).collect()(0)
    assert(r.getDouble(1) == 1.0 && r.getDouble(2) == 1.0)
    assert(r.getDouble(3) == 0.0, s"tau_b: $r")
  }

  test("jarqueBera: symmetric 1..5 -> zero skew, platykurtic, hand JB") {
    val df = (1 to 5).map(_.toDouble).toDF("v")
    val r = Stats.jarqueBera(df, col("v")).collect()(0)
    assert(r.getLong(0) == 5L && r.getDouble(1) == 3.0)
    assert(r.getDouble(2) == 0.0, s"skew: $r")
    assert(r.getDouble(3) == -1.3, s"kurt: $r")
    // JB = 5/6 * (0 + 1.69/4) = 0.3520833...
    assert(r.getDouble(4) == 0.352083, s"jb: $r")
  }

  test("cronbachAlpha: two parallel items give alpha 1; incomplete design raises") {
    val df = Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 3.0), (4L, "a", 4.0),
      (1L, "b", 2.0), (2L, "b", 3.0), (3L, "b", 4.0), (4L, "b", 5.0))
      .toDF("u", "i", "v")
    val r = Stats.cronbachAlpha(df, col("u"), col("i"), col("v")).collect()(0)
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 3.333333 && r.getDouble(3) == 6.666667)
    assert(r.getDouble(4) == 1.0, s"alpha: $r")
    val bad = df.filter(!(col("u") === 4L && col("i") === "b"))
    val ex = intercept[Exception] {
      Stats.cronbachAlpha(bad, col("u"), col("i"), col("v")).collect()
    }
    assert(ex.toString.contains("incomplete") ||
      Option(ex.getCause).exists(_.toString.contains("incomplete")),
      s"expected the incomplete-design raise, got: $ex")
  }

  test("icc: hand MSB/MSW/k0 on the two-group anova fixture") {
    // a: 1,2,3 | b: 4,5,6 -> MSB 13.5, MSW 1, k0 3 -> ICC 12.5/15.5
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 4.0), ("b", 5.0), ("b", 6.0)).toDF("g", "x")
    val r = Stats.icc(df, col("g"), col("x")).collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((2L, 6L)))
    assert(r.getDouble(2) == 13.5 && r.getDouble(3) == 1.0)
    assert(r.getDouble(4) == 3.0)
    assert(r.getDouble(5) == 0.806452, s"icc: $r")
  }

  test("harrellC: comparable orientation, concordance, and the half-credit tie") {
    val df = Seq((1L, true, 3.0), (2L, true, 3.0), (3L, false, 1.0))
      .toDF("t", "e", "s")
    val r = Stats.harrellC(df, col("t"), col("e"), col("s")).collect()(0)
    assert(r.getLong(0) == 3L)
    // pairs: (1,2) comparable-tied, (1,3) conc, (2,3) conc
    assert(r.getDouble(1) == 3.0 && r.getDouble(2) == 2.0 &&
      r.getDouble(3) == 1.0)
    assert(r.getDouble(4) == 0.833333, s"c: $r")
    // censored-first pairs are NOT comparable
    val cens = Seq((1L, false, 3.0), (2L, true, 1.0)).toDF("t", "e", "s")
    val c2 = Stats.harrellC(cens, col("t"), col("e"), col("s")).collect()(0)
    assert(c2.isNullAt(4), s"no comparable pairs must null the index: $c2")
  }

  test("burrowsDelta: two mirrored groups land at the symmetric z distance") {
    val docs = Seq(("A", "x x y"), ("B", "y y x")).toDF("g", "text")
    val r = TA.burrowsDelta(docs, col("g"), "text", topV = 2).collect()
    assert(r.length == 1)
    val (ga, gb, d) = (r(0).getString(0), r(0).getString(1), r(0).getDouble(2))
    assert(ga == "A" && gb == "B")
    // each token's two group freqs are mirror images around the mean, so
    // |z_A - z_B| = 2 for both tokens -> delta = 2 (up to 12dp rounding)
    assert(math.abs(d - 2.0) < 1e-6, s"delta: $d")
  }

  test("heapsLaw: exact prefix counts; log-log slope near the hand OLS") {
    val docs = Seq((0L, "a b"), (1L, "a c"), (2L, "a d"), (3L, "a e"))
      .toDF("doc_id", "text")
    val r = TA.heapsLaw(docs, "doc_id", "text", checkpoints = 4).collect()(0)
    assert(r.getLong(0) == 4L) // all four prefixes non-empty
    assert(r.getLong(1) == 8L && r.getLong(2) == 5L)
    // OLS of ln(2,3,4,5) on ln(2,4,6,8): slope ~ 0.6566
    assert(math.abs(r.getDouble(3) - 0.656657) < 1e-3, s"beta: $r")
  }

  test("effectSize: hand pooled SD, Cohen d, Hedges correction") {
    val df = (Seq((true, 1.0), (true, 2.0), (true, 3.0),
      (false, 4.0), (false, 5.0), (false, 6.0))).toDF("a", "v")
    val r = Stats.effectSize(df, col("a"), col("v")).collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((3L, 3L)))
    assert(r.getDouble(2) == 2.0 && r.getDouble(3) == 5.0)
    assert(r.getDouble(4) == 1.0)
    assert(r.getDouble(5) == -3.0)
    assert(r.getDouble(6) == -2.4, s"g: $r") // -3 * (1 - 3/15)
  }

  test("blandAltman: hand bias/limits and the outside count") {
    // diffs 0 x8 and 9: bias 1, sample sd 3, limits 1 +/- 5.88
    val df = ((1 to 8).map(i => (i.toLong, 0.0)) :+ (9L, -9.0))
      .toDF("id", "y").select(lit(0.0).as("x"), col("y"))
    val r = Stats.blandAltman(df, col("x"), col("y")).collect()(0)
    assert(r.getLong(0) == 9L)
    assert(r.getDouble(1) == 1.0 && r.getDouble(2) == 3.0)
    assert(r.getDouble(3) == -4.88 && r.getDouble(4) == 6.88)
    assert(r.getLong(5) == 1L, s"outside: $r")
  }

  test("gwetAC1: hand Pa/Pe on a two-item two-rater panel") {
    // item1: a,a (agree); item2: a,b -> Pa = 0.5; pi_a = 3/4 ->
    // Pe = 2*(3/16)/(2-1) = 0.375; AC1 = 0.125/0.625
    val df = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "b"))
      .toDF("item", "cat")
    val r = Stats.gwetAC1(df, col("item"), col("cat")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 2L, 2L)))
    assert(r.getDouble(3) == 0.5 && r.getDouble(4) == 0.375)
    assert(r.getDouble(5) == 0.2, s"ac1: $r")
  }

  test("yulesK: hand frequency-of-frequency constant") {
    // tokens a a a b b c: N=6, sum m^2 Vm = 14 -> K = 1e4*8/36
    val df = Seq(("g1", "a a a b b c")).toDF("src", "text")
    val r = TA.yulesK(df, Seq("src"), "text").collect()(0)
    assert(r.getLong(1) == 6L && r.getLong(2) == 3L)
    assert(r.getDouble(3) == 2222.222222, s"K: $r")
  }

  test("winRatio: survival layer first, secondary breaks the rest, ties surface") {
    // control (9,F,2): T(5,T,1) loses on survival; T(9,F,3) wins on
    // score; T(9,F,2) ties
    val df = Seq((true, 5L, true, 1.0), (true, 9L, false, 3.0),
      (true, 9L, false, 2.0), (false, 9L, false, 2.0))
      .toDF("tr", "t", "e", "s")
    val r = Stats.winRatio(df, col("tr"), col("t"), col("e"), col("s"))
      .collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((3L, 1L)))
    assert((r.getDouble(2), r.getDouble(3), r.getDouble(4)) ==
      ((1.0, 1.0, 1.0)))
    assert(r.getDouble(5) == 1.0, s"wr: $r")
  }

  test("cochranQ: hand Q on the 3x3 design; incomplete unit raises") {
    // rows (1,1,0),(1,0,0),(1,1,1): C=(3,2,1), R=(2,1,3) ->
    // Q = (k-1)(kΣC²−(ΣC)²)/(kΣR−ΣR²) = 2·(42−36)/(18−14) = 3
    val df = Seq((1L, "a", true), (1L, "b", true), (1L, "c", false),
      (2L, "a", true), (2L, "b", false), (2L, "c", false),
      (3L, "a", true), (3L, "b", true), (3L, "c", true))
      .toDF("u", "c", "x")
    val r = Stats.cochranQ(df, col("u"), col("c"), col("x")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(3)) == ((3L, 3L, 2L)))
    assert(r.getDouble(2) == 3.0, s"q: $r")
    val ex = intercept[Exception] {
      Stats.cochranQ(df.filter(!(col("u") === 3L && col("c") === "c")),
        col("u"), col("c"), col("x")).collect()
    }
    assert(ex.toString.contains("incomplete") ||
      Option(ex.getCause).exists(_.toString.contains("incomplete")))
    // one condition duplicated AND one missing keeps count(*) == k but
    // corrupts the totals — the distinct gate must still raise
    val dup = df.filter(!(col("u") === 3L && col("c") === "c"))
      .union(Seq((3L, "a", true)).toDF("u", "c", "x"))
    val ex2 = intercept[Exception] {
      Stats.cochranQ(dup, col("u"), col("c"), col("x")).collect()
    }
    assert(ex2.toString.contains("duplicated") ||
      Option(ex2.getCause).exists(_.toString.contains("duplicated")),
      s"duplicate-masked incomplete design must raise: $ex2")
  }

  test("friedman: hand Conover T on a 3x3 panel; all-constant rows null") {
    // unit ranks: (1,2,3),(1,2,3),(2,1,3) -> R=(4,5,9), sum(R-6)^2=14,
    // A1-C1 = 42-36 = 6 -> T = 2*14/6 = 14/3
    val df = Seq((1L, "a", 1.0), (1L, "b", 2.0), (1L, "c", 3.0),
      (2L, "a", 1.0), (2L, "b", 2.0), (2L, "c", 3.0),
      (3L, "a", 2.0), (3L, "b", 1.0), (3L, "c", 3.0))
      .toDF("u", "c", "v")
    val r = Stats.friedman(df, col("u"), col("c"), col("v")).collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((3L, 3L)))
    assert(r.getDouble(2) == 4.666667, s"chi2_f: $r")
    val const = Seq((1L, "a", 5.0), (1L, "b", 5.0), (2L, "a", 5.0),
      (2L, "b", 5.0)).toDF("u", "c", "v")
    assert(Stats.friedman(const, col("u"), col("c"), col("v"))
      .collect()(0).isNullAt(2))
    // incomplete unit RAISES (regression: a pruned gate never fired)
    val ex = intercept[Exception] {
      Stats.friedman(df.filter(!(col("u") === 3L && col("c") === "c")),
        col("u"), col("c"), col("v")).collect()
    }
    assert(ex.toString.contains("incomplete") ||
      Option(ex.getCause).exists(_.toString.contains("incomplete")), s"$ex")
  }

  test("mcc: hand confusion matrix; balanced accuracy") {
    val df = Seq((true, true), (true, true), (false, true),
      (true, false), (false, false), (false, false)).toDF("y", "p")
    val r = Stats.mcc(df, col("y"), col("p")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 1L, 1L, 2L)))
    assert(r.getDouble(4) == 0.333333 && r.getDouble(5) == 0.666667,
      s"mcc: $r")
  }

  test("rateRatio: hand log-rate z") {
    val df = Seq((true, 10L, 100.0), (false, 5L, 100.0))
      .toDF("a", "x", "e")
    val r = Stats.rateRatio(df, col("a"), col("x"), col("e")).collect()(0)
    assert((r.getLong(0), r.getLong(2)) == ((10L, 5L)))
    assert(r.getDouble(4) == 2.0)
    val z = math.log((10.0 / 100.0) / (5.0 / 100.0)) /
      math.sqrt(1.0 / 10.0 + 1.0 / 5.0)
    assert(r.getDouble(5) == math.round(z * 1e6) / 1e6, s"z: $r")
  }

  test("captureRecapture: hand Chapman estimate and SE") {
    // A = 1..10, B = 5..19: nA=10, nB=15, m=6 -> N = 176/7 - 1
    val df = (1L to 19L).map(i => (i, i <= 10, i >= 5)).toDF("id", "a", "b")
    val r = Stats.captureRecapture(df, col("a"), col("b")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((10L, 15L, 6L)))
    assert(r.getDouble(3) == 24.142857, s"nhat: $r")
    assert(r.getDouble(4) == 4.020356, s"se: $r")
  }

  test("pageTrend: perfect ascending trend -> hand L and z") {
    // 3 units, all ranked (1,2,3) along scores (1,2,3): L=42, E=36, V=6
    val df = (1L to 3L).flatMap(u => Seq((u, 1L, 1.0), (u, 2L, 2.0),
      (u, 3L, 3.0))).toDF("u", "sc", "v")
    val r = Stats.pageTrend(df, col("u"), col("sc"), col("v")).collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((3L, 3L)))
    assert(r.getDouble(2) == 42.0)
    assert(r.getDouble(3) == 2.449490, s"z: $r")
    // incomplete unit RAISES (regression: a pruned gate never fired)
    val ex = intercept[Exception] {
      Stats.pageTrend(df.filter(!(col("u") === 3L && col("sc") === 3L)),
        col("u"), col("sc"), col("v")).collect()
    }
    assert(ex.toString.contains("incomplete") ||
      Option(ex.getCause).exists(_.toString.contains("incomplete")), s"$ex")
  }

  test("clesRankBiserial: hand U with a half-credit tie") {
    // A {2,4} vs B {1,2}: 3 wins + 1 tie -> U 3.5, CLES 0.875, rb 0.75
    val df = Seq((2.0, true), (4.0, true), (1.0, false), (2.0, false))
      .toDF("v", "s")
    val r = Stats.clesRankBiserial(df, "v", col("s")).collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((2L, 2L)))
    assert(r.getDouble(2) == 3.5)
    assert(r.getDouble(3) == 0.875 && r.getDouble(4) == 0.75, s"cles: $r")
  }

  test("cramersV: a perfectly associated 2x2 lands at V = T = 1") {
    val df = (Seq.fill(5)(("a", "x")) ++ Seq.fill(5)(("b", "y")))
      .toDF("p", "q")
    val r = Stats.cramersV(df, "p", "q").collect()(0)
    assert(r.getLong(0) == 10L && r.getLong(1) == 1L)
    assert(r.getDouble(2) == 10.0)
    assert(r.getDouble(3) == 1.0 && r.getDouble(4) == 1.0, s"v: $r")
  }

  test("kmMedianSurvival: hand crossings of the curve and its bands") {
    import graft.pipeline.EventAnalytics
    // S = .75, .5, .25, .25; lower band crosses at t=1, upper never
    val df = Seq((1L, true), (2L, true), (3L, true), (4L, false))
      .toDF("t", "e")
    val r = EventAnalytics.kmMedianSurvival(df, col("t"), col("e"))
      .collect()(0)
    assert(r.getLong(0) == 4L)
    assert(r.getLong(1) == 2L, s"median: $r")
    assert(r.getLong(2) == 1L, s"lo: $r")
    assert(r.isNullAt(3), s"hi must be null (band never crosses): $r")
  }

  test("winsorizedCorr: identical clipped axes land at r = 1 with hand bounds") {
    val df = Seq((0.0, 0.0), (1.0, 1.0), (2.0, 2.0), (3.0, 3.0))
      .toDF("x", "y")
    val r = Stats.winsorizedCorr(df, col("x"), col("y"),
      pLo = 0.25, pHi = 0.75).collect()(0)
    assert(r.getLong(0) == 4L)
    assert(r.getDouble(1) == 0.75 && r.getDouble(2) == 2.25)
    assert(r.getDouble(3) == 0.75 && r.getDouble(4) == 2.25)
    assert(r.getDouble(5) == 1.0, s"r: $r")
  }

  test("spcRules: a 3-sigma spike fires rule 1 only; hand mu/sigma") {
    import java.sql.Timestamp
    def t(d: Int) = new Timestamp(86400000L * d)
    // counts 10 x9 + 100: mu 19, sigma 27 -> the spike is exactly band 3
    val rows = (0 until 9).flatMap(d => Seq.fill(10)(t(d + 10))) ++
      Seq.fill(100)(t(19))
    val r = pipeline.EventAnalytics.spcRules(rows.toDF("ts"), "ts")
      .orderBy("day").collect()
    assert(r.length == 10)
    assert(r.take(9).forall(x => x.getLong(2) == 0L && !x.getBoolean(3) &&
      !x.getBoolean(4)))
    val spike = r(9)
    assert(spike.getLong(1) == 100L && spike.getLong(2) == 3L)
    assert(spike.getBoolean(3) && !spike.getBoolean(4), s"spike: $spike")
  }

  test("cohensH: hand arcsine difference") {
    // p_a = 1/4, p_b = 3/4 -> h = 2 asin(.5) - 2 asin(sqrt(.75)) = -pi/3
    val df = Seq((true, true), (true, false), (true, false), (true, false),
      (false, true), (false, true), (false, true), (false, false))
      .toDF("g", "s")
    val r = Stats.cohensH(df, col("g"), col("s")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((4L, 1L, 4L, 3L)))
    assert(r.getDouble(4) == 0.25 && r.getDouble(5) == 0.75)
    assert(r.getDouble(6) == -1.047198, s"h: $r")
  }

  test("orWoolfCi: hand OR/CI; a zero cell takes the Haldane correction") {
    val df = (Seq.fill(10)((true, true)) ++ Seq.fill(5)((true, false)) ++
      Seq.fill(2)((false, true)) ++ Seq.fill(8)((false, false)))
      .toDF("e", "o")
    val r = Stats.orWoolfCi(df, col("e"), col("o")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((10L, 5L, 2L, 8L)))
    assert(!r.getBoolean(4))
    assert(r.getDouble(5) == 8.0)
    val se = math.sqrt(1.0 / 10 + 1.0 / 5 + 1.0 / 2 + 1.0 / 8)
    def r6(v: Double) = math.round(v * 1e6) / 1e6
    assert(r.getDouble(6) == r6(math.exp(math.log(8.0) - 1.96 * se)))
    assert(r.getDouble(7) == r6(math.exp(math.log(8.0) + 1.96 * se)))
    // zero cell: all four counts shift +1/2, flag surfaces
    val z = (Seq.fill(3)((true, true)) ++ Seq.fill(5)((true, false)) ++
      Seq.fill(4)((false, false))).toDF("e", "o")
    val rc = Stats.orWoolfCi(z, col("e"), col("o")).collect()(0)
    assert(rc.getBoolean(4))
    assert(rc.getDouble(5) == r6((3.5 * 4.5) / (5.5 * 0.5)), s"or: $rc")
  }

  test("autocorrDaily: constant-increment series correlates positively") {
    import java.sql.Timestamp
    def t(d: Int) = new Timestamp(86400000L * d)
    // counts by day: 1,2,3,4 -> lag-1 pairs (1,2),(2,3),(3,4) -> r = 1
    val rows = (10 to 13).flatMap(d => Seq.fill(d - 9)(t(d)))
    val r = pipeline.EventAnalytics.autocorrDaily(rows.toDF("ts"), "ts", 1)
      .collect()(0)
    assert(r.getAs[Long]("n_pairs") == 3 && r.getAs[Double]("r") == 1.0)
  }

  test("stratifiedSample: integer ceil target per stratum, deterministic") {
    val df = (1 to 25).map(i => ("s1", i.toLong)) ++
      (1 to 3).map(i => ("s2", i.toLong + 100))
    val got = pipeline.Curation.stratifiedSample(df.toDF("src", "id"),
      Seq("src"), "id", pct = 20)
    val bySrc = got.groupBy("src").count().as[(String, Long)].collect().toMap
    // ceil(25*0.2) = 5 exactly (integer arithmetic), ceil(3*0.2) = 1
    assert(bySrc == Map("s1" -> 5L, "s2" -> 1L))
    val again = pipeline.Curation.stratifiedSample(df.toDF("src", "id"),
      Seq("src"), "id", pct = 20)
    assert(got.orderBy("id").collect().toSeq ==
      again.orderBy("id").collect().toSeq)
  }

  test("sessionStats: gap breaks sessions, ties stay together") {
    import java.sql.Timestamp
    def t(min: Long) = new Timestamp(min * 60000L)
    val df = Seq((1L, 10L, t(0)), (1L, 11L, t(10)), (1L, 12L, t(10)),
      (1L, 13L, t(50)), (2L, 20L, t(0))).toDF("user_id", "event_id", "ts")
    val got = pipeline.EventAnalytics.sessionStats(df, "user_id", "event_id",
        "ts", gapMinutes = 30)
      .orderBy("user_id", "session")
      .select("user_id", "session", "n_events", "duration_us")
      .as[(Long, Long, Long, Long)].collect.toSeq
    // user 1: {0,10,10} then gap 40min -> {50}; user 2: one session
    assert(got == Seq((1L, 1L, 3L, 600000000L), (1L, 2L, 1L, 0L),
      (2L, 1L, 1L, 0L)))
  }

  test("transitionMatrix: counts and row-normalized probabilities") {
    import java.sql.Timestamp
    def t(min: Long) = new Timestamp(min * 60000L)
    val df = Seq((1L, 1L, t(0), "a"), (1L, 2L, t(1), "b"),
      (1L, 3L, t(2), "a"), (1L, 4L, t(3), "c"),
      (2L, 5L, t(0), "a"), (2L, 6L, t(1), "b"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val got = pipeline.EventAnalytics.transitionMatrix(df, "user_id",
        "event_id", "ts", "event_type")
      .orderBy("src", "dst")
      .select("src", "dst", "n", "p").as[(String, String, Long, Double)]
      .collect.toSeq
    // a->b twice, a->c once (p 2/3, 1/3); b->a once (p 1)
    assert(got == Seq(("a", "b", 2L, 0.666667), ("a", "c", 1L, 0.333333),
      ("b", "a", 1L, 1.0)))
  }

  test("linearFit: exact line recovered; constant x degenerates to null") {
    val df = Seq((0.0, 1.0), (1.0, 3.0), (2.0, 5.0)).toDF("x", "y")
    val r = Stats.linearFit(df, Seq.empty, col("x"), col("y")).collect()(0)
    assert(r.getAs[Long]("n") == 3 && r.getAs[Double]("slope") == 2.0 &&
      r.getAs[Double]("intercept") == 1.0 && r.getAs[Double]("r2") == 1.0)
    val flat = Seq((1.0, 1.0), (1.0, 2.0)).toDF("x", "y")
    val f = Stats.linearFit(flat, Seq.empty, col("x"), col("y")).collect()(0)
    assert(f.isNullAt(f.fieldIndex("slope")) && f.isNullAt(f.fieldIndex("r2")))
  }

  test("zipfFit: exact power law recovers slope -1") {
    // counts 60,30,20,15,12,10 = 60/rank for ranks 1..6 -> ln-ln slope -1
    val words = Seq("a" -> 60, "b" -> 30, "c" -> 20, "d" -> 15, "e" -> 12,
      "f" -> 10).flatMap { case (w, k) => Seq.fill(k)(w) }
    val df = Seq(words.mkString(" ")).toDF("text")
    val r = pipeline.TextAnalysis.zipfFit(df, "text", topV = 6).collect()(0)
    // the decimal(38,6) moment casts quantize the ln inputs at 6dp, so the
    // recovered slope sits within ~1e-5 of the ideal -1
    assert(r.getAs[Long]("n") == 6 &&
      math.abs(r.getAs[Double]("slope") + 1.0) < 1e-4 &&
      r.getAs[Double]("r2") > 0.999)
  }

  test("interArrivalMedian: lower-median gap per type, per-user lags") {
    import java.sql.Timestamp
    def t(min: Long) = new Timestamp(min * 60000L)
    // user 1 type a at 0,10,30 -> gaps 10,20 min; user 2 type a at 0,5 -> 5
    val df = Seq((1L, 1L, t(0), "a"), (1L, 2L, t(10), "a"), (1L, 3L, t(30), "a"),
      (2L, 4L, t(0), "a"), (2L, 5L, t(5), "a"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val r = pipeline.EventAnalytics.interArrivalMedian(df, "user_id",
      "event_id", "ts", "event_type").collect()(0)
    // gaps sorted: 5,10,20 -> lower median (rank (3+1)/2=2) = 10 min
    assert(r.getAs[Long]("n_gaps") == 3 && r.getAs[Long]("med_gap_us") == 600000000L)
  }

  test("weeklyChurn: users missing next week count as churned; last week drops") {
    import java.sql.Timestamp
    def wk(w: Long) = new Timestamp((w * 7 - 3) * 86400000L + 1000L)
    // weeks 1: {u1,u2}, 2: {u1}, 3: {u1,u3}
    val df = Seq((1L, wk(1)), (2L, wk(1)), (1L, wk(2)), (1L, wk(3)), (3L, wk(3)))
      .toDF("user_id", "ts")
    val got = pipeline.EventAnalytics.weeklyChurn(df, "user_id", "ts")
      .orderBy("week").select("week", "n_active", "n_churned", "churn_rate")
      .as[(Long, Long, Long, Double)].collect.toSeq
    assert(got == Seq((1L, 2L, 1L, 0.5), (2L, 1L, 0L, 0.0)))
  }

  test("eventTrigrams: windows stay within a user, ties break on text") {
    import java.sql.Timestamp
    def t(min: Long) = new Timestamp(min * 60000L)
    val df = Seq((1L, 1L, t(0), "a"), (1L, 2L, t(1), "b"), (1L, 3L, t(2), "c"),
      (1L, 4L, t(3), "a"), (2L, 5L, t(0), "x"), (2L, 6L, t(1), "y"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val got = pipeline.EventAnalytics.eventTrigrams(df, "user_id", "event_id",
        "ts", "event_type", k = 10)
      .select("t1", "t2", "t3", "n").as[(String, String, String, Long)]
      .collect.toSeq
    // user 1 has trigrams abc, bca; user 2 has none (only 2 events)
    assert(got.toSet == Set(("a", "b", "c", 1L), ("b", "c", "a", 1L)))
  }

  test("burstiness: constant series fano 0; zero-fill inflates variance") {
    import java.sql.Timestamp
    def t(d: Int, i: Int) = new Timestamp(86400000L * d + i * 1000L)
    // type a: 2/day on days 10,11,12 -> fano 0
    // type b: 2 on day 10, 0 on 11 (gap), 2 on 12 -> mean 4/3, var 8/9
    val rows = Seq(t(10, 1), t(10, 2), t(11, 1), t(11, 2), t(12, 1), t(12, 2))
      .map(("a", _)) ++ Seq(t(10, 1), t(10, 2), t(12, 1), t(12, 2)).map(("b", _))
    val got = rows.toDF("event_type", "ts")
    val r = pipeline.EventAnalytics.burstiness(got, "event_type", "ts")
      .orderBy("event_type")
      .select("event_type", "n_days", "mean_daily", "fano")
      .as[(String, Long, Double, Double)].collect.toSeq
    assert(r(0) == (("a", 3L, 2.0, 0.0)))
    assert(r(1)._2 == 3L && r(1)._3 == 1.333333 && r(1)._4 == 0.666667)
  }

  test("smoothedGroupMean: sparse groups shrink toward the global mean") {
    val df = (Seq.fill(98)(("big", 10.0)) ++ Seq(("small", 100.0), ("small", 100.0)))
      .toDF("g", "v")
    val r = Stats.smoothedGroupMean(df, Seq("g"), "v", m = 2.0)
      .orderBy("g").select("g", "n", "mean_raw", "mean_smoothed")
      .as[(String, Long, Double, Double)].collect.toSeq
    // global mean = (980 + 200) / 100 = 11.8
    assert(r(0)._3 == 10.0 && r(0)._4 == 10.036) // (980+23.6)/100
    assert(r(1)._3 == 100.0 && r(1)._4 == 55.9)  // (200+23.6)/4
  }

  test("pageRank: symmetric pair converges to equal ranks; star center dominates") {
    // two-node symmetric graph: ranks stay equal at every iteration
    val pair = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val rp = pipeline.Graph.pageRank(pair, "src", "dst", iters = 3)
      .select("node", "rank_micro").as[(String, Long)].collect.toMap
    assert(rp("a") == rp("b"))
    // star: center receives 3 full contributions, leaves 1/3 each
    val star = Seq(("hub", "l1"), ("hub", "l2"), ("hub", "l3"))
      .flatMap { case (h, l) => Seq((h, l), (l, h)) }.toDF("src", "dst")
    val rs = pipeline.Graph.pageRank(star, "src", "dst", iters = 3)
      .select("node", "rank_micro").as[(String, Long)].collect.toMap
    assert(rs("hub") > rs("l1") && rs("l1") == rs("l2") && rs("l2") == rs("l3"))
    // mass conservation up to the documented floor leak: sum <= 10^12,
    // within (17/20-damped) slack of a few micro-units per node per round
    assert(rs.values.sum <= pipeline.Graph.Scale &&
      rs.values.sum > pipeline.Graph.Scale - 100L)
  }

  test("fdViolations: a held dependency reports zero; a broken one counts") {
    val df = Seq((1L, "x"), (1L, "x"), (2L, "y"), (3L, "a"), (3L, "b"))
      .toDF("k", "v")
    val r = operators.Ops.fdViolations(df, Seq("k"), "v").collect()(0)
    assert(r.getAs[Long]("n_groups") == 3 && r.getAs[Long]("n_violating") == 1 &&
      r.getAs[Long]("max_rhs_variants") == 2 &&
      r.getAs[Double]("violation_rate") == 0.333333)
  }

  test("changePoint: a planted level shift is found at the shift day") {
    import java.sql.Timestamp
    def t(d: Int, i: Int) = new Timestamp(86400000L * d + i * 1000L)
    // 1/day on days 10-14, then 5/day on days 15-19: drift peaks at day 14
    val rows = (10 to 14).map(d => Seq(t(d, 0))) ++
      (15 to 19).map(d => (0 until 5).map(i => t(d, i)))
    val r = pipeline.EventAnalytics.changePoint(rows.flatten.toDF("ts"), "ts")
      .collect()(0)
    assert(r.getAs[Long]("change_day") == 14L && r.getAs[Long]("n_days") == 10L)
  }

  test("resampleDaily: gaps zero-fill between min and max day") {
    import java.sql.Timestamp
    def t(d: Int) = new Timestamp(86400000L * d + 1000L)
    val df = Seq(t(10), t(10), t(13)).toDF("ts")
    val got = pipeline.EventAnalytics.resampleDaily(df, "ts")
      .orderBy("day").select("day", "n").as[(Long, Long)].collect.toSeq
    assert(got == Seq((10L, 2L), (11L, 0L), (12L, 0L), (13L, 1L)))
  }

  test("rollingDailyAnomalies: integer gate flags the planted spike only") {
    import java.sql.Timestamp
    def t(d: Int) = new Timestamp(86400000L * d)
    // group a: days 0..6 carry 2 events, day 7 carries 9.
    // trailing-7 at day 7: ss=21, pp=105, dev=7*9-21=42, varN=7*105-441=294
    // gate: 42^2=1764 > 4*294=1176 -> anomaly; z = 42/sqrt(294)
    val rows = (0 to 6).flatMap(d => Seq.fill(2)(("a", t(d)))) ++
      Seq.fill(9)(("a", t(7)))
    val df = rows.toDF("g", "ts")
    val got = pipeline.EventAnalytics.rollingDailyAnomalies(df, "g", "ts",
      window = 7, sigmas = 2).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getAs[Long]("day") == 7L && r.getAs[Long]("n") == 9L)
    assert(r.getAs[Double]("mean_win") == 3.0)
    assert(math.abs(r.getAs[Double]("z") -
      math.round(42.0 / math.sqrt(294.0) * 1e6) / 1e6) < 1e-12)
  }

  test("rfmBuckets: quartile buckets track each dimension independently") {
    import java.sql.Timestamp
    def t(d: Int) = new Timestamp(86400000L * d)
    // customer i (1..8): i orders on day i, each of amount 10*i
    val rows = for (i <- 1 to 8; _ <- 1 to i) yield (i.toLong, t(i), 10.0 * i)
    val df = rows.toDF("k", "ts", "amt")
    val got = pipeline.EventAnalytics.rfmBuckets(df, "k", "ts", "amt")
      .orderBy("key")
      .select("key", "recency", "frequency", "monetary",
        "r_bucket", "f_bucket", "m_bucket").collect()
    // frequency 1..8 -> buckets (1,1,2,2,3,3,4,4); recency 7..0 inverts;
    // monetary 10i^2 is monotone in i -> same buckets as frequency
    val f = got.map(_.getAs[Int]("f_bucket")).toSeq
    val r = got.map(_.getAs[Int]("r_bucket")).toSeq
    val m = got.map(_.getAs[Int]("m_bucket")).toSeq
    assert(f == Seq(1, 1, 2, 2, 3, 3, 4, 4))
    assert(r == Seq(4, 4, 3, 3, 2, 2, 1, 1))
    assert(m == Seq(1, 1, 2, 2, 3, 3, 4, 4))
    assert(got.map(_.getAs[Long]("recency")).toSeq == (7 to 0 by -1).map(_.toLong))
    assert(got.map(_.getAs[Double]("monetary")).toSeq ==
      (1 to 8).map(i => 10.0 * i * i))
  }

  test("cooccurrenceCosine: closed form on a hand basket, event dups collapse") {
    // baskets: u1 {A,B}, u2 {A,B}, u3 {A} (A twice -> distinct collapses)
    // marginals: A=3, B=2; n_both(A,B)=2 -> cos = 2/sqrt(6)
    val df = Seq((1L, "A"), (1L, "B"), (2L, "A"), (2L, "B"),
      (3L, "A"), (3L, "A")).toDF("u", "ty")
    val got = pipeline.EventAnalytics.cooccurrenceCosine(df, "u", "ty").collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getAs[String]("item_a") == "A" && r.getAs[String]("item_b") == "B")
    assert(r.getAs[Long]("n_both") == 2L)
    assert(r.getAs[Double]("cosine") ==
      math.round(2.0 / math.sqrt(6.0) * 1e6) / 1e6)
  }

  test("cooccurrenceCosine: maxBasket caps each basket deterministically in user-salted md5 order") {
    // md5("cc|u|X") ordering (independently computed): u1 keeps {B, D},
    // u2 keeps {C, D} of {A..E} — the user salt makes the draw an
    // INDEPENDENT subsample per basket, so the two capped baskets differ
    // (an item-only hash would keep the same subset for every user).
    val df = (1L to 2L).flatMap(u => Seq("A", "B", "C", "D", "E").map((u, _)))
      .toDF("u", "ty")
    val got = pipeline.EventAnalytics
      .cooccurrenceCosine(df, "u", "ty", maxBasket = 2)
      .collect().map(r => (r.getAs[String]("item_a"),
        r.getAs[String]("item_b"), r.getAs[Long]("n_both"),
        r.getAs[Double]("cosine"))).toSet
    // capped marginals: B=1, C=1, D=2 -> both pairs cos = 1/sqrt(2)
    assert(got == Set(("B", "D", 1L, 0.707107), ("C", "D", 1L, 0.707107)),
      s"capped pair set: $got")
    // non-binding cap = exact: 5 items -> C(5,2) = 10 pairs
    val full = pipeline.EventAnalytics
      .cooccurrenceCosine(df, "u", "ty", maxBasket = 5).collect()
    assert(full.length == 10)
  }

  test("rfmBuckets: all-null amounts keep a NULL monetary bucket") {
    import java.sql.Timestamp
    def t(d: Int) = new Timestamp(86400000L * d)
    val df = Seq((1L, t(1), Some(10.0)), (2L, t(2), None: Option[Double]))
      .toDF("k", "ts", "amt")
    val got = pipeline.EventAnalytics.rfmBuckets(df, "k", "ts", "amt")
      .orderBy("key").collect()
    assert(got(0).getAs[Int]("m_bucket") >= 1)
    assert(got(1).isNullAt(got(1).fieldIndex("monetary")))
    assert(got(1).isNullAt(got(1).fieldIndex("m_bucket")),
      "null monetary must not silently land in bucket 1")
  }

  test("decayedActivityScore: null timestamps drop from counts AND units") {
    import java.sql.Timestamp
    val df = Seq((1L, Some(new Timestamp(86400000L * 10))),
      (1L, None: Option[Timestamp])).toDF("k", "ts")
    val got = pipeline.EventAnalytics.decayedActivityScore(df, "k", "ts")
      .collect()(0)
    assert(got.getAs[Long]("n_events") == 1L &&
      got.getAs[Long]("score_units") == (1L << 40))
  }

  test("entryExitPaths: gap rule splits sessions, singletons self-pair") {
    import java.sql.Timestamp
    def t(sec: Long) = new Timestamp(sec * 1000L)
    val df = Seq(
      (1L, 1L, t(0), "A"), (1L, 2L, t(10), "B"), (1L, 3L, t(5000), "C"),
      (2L, 4L, t(0), "D"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val got = pipeline.EventAnalytics.entryExitPaths(df, "user_id",
        "event_id", "ts", "event_type", gapMinutes = 30)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(("A", "B") -> 1L, ("C", "C") -> 1L, ("D", "D") -> 1L))
  }

  test("weekdayProfile: epoch day 0 is Thursday; shares and index sum out") {
    import java.sql.Timestamp
    def t(d: Int) = new Timestamp(86400000L * d)
    // days 0..6 cover one full week: day 0 -> dow 3 (Thu), day 4 -> 0 (Mon)
    val df = ((0 to 6).map(d => ("a", t(d))) :+ ("a", t(4))).toDF("g", "ts")
    val got = pipeline.EventAnalytics.weekdayProfile(df, "g", "ts")
      .orderBy("dow").select("dow", "n", "share", "idx")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(got.map(_._1) == (0L to 6L))
    assert(got.map(_._2) == Seq(2L, 1L, 1L, 1L, 1L, 1L, 1L), "day 4 = Monday doubles")
    assert(got(0)._3 == 0.25 && got(0)._4 == 1.75)
    assert(got(1)._3 == 0.125 && got(1)._4 == 0.875)
  }

  test("rrfFuse: hand-computed fusion, list-depth cutoff, missing-list nulls") {
    // group g: keys a..d with anti-correlated scores; depth 2 lists:
    //   s1 top-2: a(r1=1), b(r1=2); s2 top-2: d(r2=1), c(r2=2)
    // fused (k=60): every key has exactly one term; a: 1/61, b: 1/62,
    //   c: 1/62, d: 1/61 -> top-3 by (f desc, key): a, d, b
    val df = Seq(("g", "a", 4.0, 1.0), ("g", "b", 3.0, 2.0),
      ("g", "c", 2.0, 3.0), ("g", "d", 1.0, 4.0)).toDF("grp", "k", "s1", "s2")
    val got = Stats.rrfFuse(df, "grp", "k", col("s1"), col("s2"),
        depth = 2, kRrf = 60, topK = 3)
      .select("k", "r1", "r2", "fused").collect()
      .map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2)),
        r.getDouble(3))).sortBy(_._1).toSeq
    assert(got.map(_._1) == Seq("a", "b", "d"), s"wrong fused top-3: $got")
    val byK = got.map(r => r._1 -> r).toMap
    assert(byK("a") == (("a", Some(1), None, math.round(1e6 / 61.0) / 1e6)))
    assert(byK("d") == (("d", None, Some(1), math.round(1e6 / 61.0) / 1e6)))
    assert(byK("b") == (("b", Some(2), None, math.round(1e6 / 62.0) / 1e6)))
  }

  test("survivalCurve: reverse cumulative over the week spine") {
    import java.sql.Timestamp
    def t(w: Int) = new Timestamp(86400000L * 7 * w)
    // lifetimes: u1 0 weeks, u2 2 weeks, u3 2 weeks -> curve:
    // w=0: 3 (all), w=1: 2, w=2: 2
    val df = Seq((1L, t(10)), (2L, t(10)), (2L, t(12)),
      (3L, t(11)), (3L, t(13))).toDF("u", "ts")
    val got = pipeline.EventAnalytics.survivalCurve(df, "u", "ts")
      .orderBy("weeks").select("weeks", "n_surviving", "share")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((0L, 3L, 1.0), (1L, 2L, 0.666667), (2L, 2L, 0.666667)))
  }

  test("decayedActivityScore: exact power-of-two units, cap at maxSteps") {
    import java.sql.Timestamp
    def t(d: Int) = new Timestamp(86400000L * d)
    // max day 514: A at days 514/507/500 -> steps 0,1,2 -> 1 + .5 + .25;
    // B one event 500 weeks back -> capped at step 40 -> 1 unit (2^-40)
    val df = Seq(("a", t(514)), ("a", t(507)), ("a", t(500)),
      ("b", t(514 - 7 * 500))).toDF("k", "ts")
    val got = pipeline.EventAnalytics.decayedActivityScore(df, "k", "ts")
      .orderBy("key").collect()
    assert(got(0).getAs[Long]("score_units") ==
      (1L << 40) + (1L << 39) + (1L << 38))
    assert(got(0).getAs[Double]("score") == 1.75)
    assert(got(1).getAs[Long]("score_units") == 1L, "old event caps at 2^-40")
    assert(got(1).getAs[Double]("score") == 0.0)
  }

  test("benfordDigits: exact digit extraction, Benford shares on constants") {
    val df = (Seq(1.23, 2.5, 19.99, 123.45, 0.02, -5.0) ++ Seq.fill(2)(9.11))
      .toDF("v")
    // digits: 1.23->1, 2.5->2, 19.99->1, 123.45->1, 0.02->2, -5 dropped,
    // 9.11 twice -> 9; shares over n=7
    val got = Stats.benfordDigits(df, "v").orderBy("digit").collect()
    assert(got.map(r => (r.getAs[Int]("digit"), r.getAs[Long]("n"))).toSeq ==
      Seq((1, 3L), (2, 2L), (9, 2L)))
    val d1 = got(0)
    assert(d1.getAs[Double]("benford_p") == 0.30103)
    assert(d1.getAs[Double]("share") == math.round(3.0 / 7.0 * 1e6) / 1e6)
  }

  // ----------------------------------------------------------------- rocAuc
  test("rocAuc: hand-computed values, exact tie handling, degenerate null") {
    import spark.implicits._
    val df = Seq(
      // g1: pos {3, 1}, neg {2, 2, 0} -> U = 3 + 1 = 4, AUC = 4/6
      ("g1", 3.0, true), ("g1", 1.0, true),
      ("g1", 2.0, false), ("g1", 2.0, false), ("g1", 0.0, false),
      // g2: pos {2}, neg {2, 1} -> U = 0.5 + 1 = 1.5, AUC = 0.75
      ("g2", 2.0, true), ("g2", 2.0, false), ("g2", 1.0, false),
      // g3: no negatives -> null
      ("g3", 1.0, true), ("g3", 2.0, true)
    ).toDF("g", "score", "label")
    val out = graft.pipeline.Stats.rocAuc(df, "score", col("label"), Seq("g"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3))))).toMap
    assert(out("g1") == ((2L, 3L, Some(0.666667))))
    assert(out("g2") == ((1L, 2L, Some(0.75))))
    assert(out("g3") == ((2L, 0L, None)))
  }

  test("rocAuc: perfect and inverted separations hit 1.0 and 0.0") {
    import spark.implicits._
    val perfect = Seq(("g", 5.0, true), ("g", 4.0, true), ("g", 1.0, false))
      .toDF("g", "score", "label")
    val inv = Seq(("g", 1.0, true), ("g", 5.0, false)).toDF("g", "score", "label")
    assert(graft.pipeline.Stats.rocAuc(perfect, "score", col("label"), Seq("g"))
      .head().getDouble(3) == 1.0)
    assert(graft.pipeline.Stats.rocAuc(inv, "score", col("label"), Seq("g"))
      .head().getDouble(3) == 0.0)
  }

  test("averagePrecision: hand-computed AP; degenerate null") {
    import spark.implicits._
    // ranks by score desc: pos at k=1 (p=1), neg at k=2, pos at k=3 (p=2/3)
    // AP = (1 + 2/3) / 2 = 0.833333
    val df = Seq(("g", 1L, 9.0, true), ("g", 2L, 5.0, false), ("g", 3L, 1.0, true),
      ("h", 4L, 1.0, false)).toDF("g", "id", "score", "label")
    val out = graft.pipeline.Stats.averagePrecision(df, "score", col("label"),
        "id", Seq("g"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2))))).toMap
    assert(out("g") == ((2L, Some(0.833333))))
    assert(out("h") == ((0L, None)))
  }

  test("kmvDistinct: small groups exact; k-th-minimum formula verbatim; " +
    "partition-invariant") {
    import graft.pipeline.Stats
    // group a: 5 distinct keys (plus a duplicate draw), k=2 -> estimate
    // from the 2nd-smallest 60-bit md5 prefix; group b: 1 key -> exact
    val df = Seq("a" -> "u1", "a" -> "u2", "a" -> "u3", "a" -> "u4",
      "a" -> "u5", "a" -> "u3", "b" -> "u9").toDF("g", "k")
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.kmvDistinct(d, col("k"), Seq("g"), k = 2)
        .orderBy("g").collect().map(r =>
          (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val got = run(df)
    // 2nd smallest of md5("u1".."u5")[0:15] as int = 346962419214919948
    assert(got == Seq(("a", 5L, 3.3229), ("b", 1L, 1.0)))
    assert(run(df.repartition(7)) == got, "estimate must not depend on layout")
  }

  test("psi: identical distributions score exactly 0; shift and " +
    "out-of-range clamping both register") {
    import graft.pipeline.Stats
    val ref = Seq(1.0, 1.0, 5.0, 9.0).toDF("v")
    val same = Stats.psi(ref, ref, "v", 0.0, 10.0, nBins = 5)
      .collect()(0)
    assert(same.getAs[Double]("psi") == 0.0)
    // all mass moves bins AND a 100.0 clamps into the top edge bin: psi > 0
    val cur = Seq(9.0, 9.0, 9.0, 100.0).toDF("v")
    val drift = Stats.psi(ref, cur, "v", 0.0, 10.0, nBins = 5).collect()(0)
    assert(drift.getAs[Long]("n_ref") == 4 && drift.getAs[Long]("n_cur") == 4)
    assert(drift.getAs[Double]("psi") > 0.5)
  }

  test("psiByGroup: a ref-identical slice scores 0; a shifted slice doesn't") {
    import graft.pipeline.Stats
    val ref = Seq(1.0, 1.0, 5.0, 9.0).toDF("v")
    val cur = (Seq(1.0, 1.0, 5.0, 9.0).map("same" -> _) ++
      Seq(9.0, 9.0, 9.0, 9.0).map("shift" -> _)).toDF("g", "v")
    val got = Stats.psiByGroup(ref, cur, "g", "v", 0.0, 10.0, nBins = 5)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(got("same") == ((4L, 0.0)), "identical slice must score exactly 0")
    assert(got("shift")._1 == 4L && got("shift")._2 > 0.5)
  }

  test("cohenKappa: textbook 2x2 table gives kappa 0.4; perfect agreement 1") {
    import graft.pipeline.Stats
    // cells: yy=20, yn=5, ny=10, nn=15 -> po=0.7, pe=0.5, kappa=0.4
    val rows = Seq.fill(20)(("y", "y")) ++ Seq.fill(5)(("y", "n")) ++
      Seq.fill(10)(("n", "y")) ++ Seq.fill(15)(("n", "n"))
    val r = Stats.cohenKappa(rows.toDF("a", "b"), col("a"), col("b"))
      .collect()(0)
    assert(r.getAs[Long]("n") == 50 && r.getAs[Double]("po") == 0.7 &&
      r.getAs[Double]("pe") == 0.5 && r.getAs[Double]("kappa") == 0.4)
    val perfect = Stats.cohenKappa(Seq(("y", "y"), ("n", "n")).toDF("a", "b"),
      col("a"), col("b")).collect()(0)
    assert(perfect.getAs[Double]("kappa") == 1.0)
  }

  test("calibrationBins: edge p=1.0 clamps into the top bin; means and " +
    "positive fractions are per-bin") {
    import graft.pipeline.Stats
    val df = Seq((0.05, false), (0.15, true), (0.15, false), (1.0, true))
      .toDF("p", "y")
    val bins = Stats.calibrationBins(df, "p", col("y"), nBins = 10)
      .orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(bins.toSeq == Seq((0L, 1L, 0.05, 0.0), (1L, 2L, 0.15, 0.5),
      (9L, 1L, 1.0, 1.0)))
  }

  test("brierScore: hand-computed two-row case") {
    import graft.pipeline.Stats
    val df = Seq((0.8, true), (0.5, false)).toDF("p", "y")
    val r = Stats.brierScore(df, "p", col("y")).collect()(0)
    assert(r.getAs[Long]("n") == 2)
    assert(r.getAs[Double]("brier") == 0.145)
    assert(r.getAs[Double]("logloss") == 0.458145)
  }

  test("ndcgAtK: hand-computed graded case; zero-gain group nulls") {
    import graft.pipeline.Stats
    val df = Seq(("g", 1L, 9.0, 3), ("g", 2L, 5.0, 0), ("g", 3L, 1.0, 1),
      ("h", 4L, 2.0, 0)).toDF("g", "id", "score", "rel")
    val out = Stats.ndcgAtK(df, "score", "rel", "id", Seq("g"), k = 3)
      .collect().map(r => r.getString(0) -> r).toMap
    val gRow = out("g")
    // DCG = 7/log2(2) + 0 + 1/log2(4) = 7.5; IDCG = 7 + 1/log2(3)
    val idcg = 7.0 + 1.0 / (math.log(3.0) / math.log(2.0))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(gRow.getAs[Double]("dcg") == 7.5)
    assert(gRow.getAs[Double]("idcg") == r6(idcg))
    assert(gRow.getAs[Double]("ndcg") == r6(7.5 / idcg))
    assert(out("h").isNullAt(3), "all-zero relevance -> null ndcg")
  }

  test("reciprocalRank: first positive rank; no-positive groups keep nulls") {
    import graft.pipeline.Stats
    val df = Seq(("g", 1L, 9.0, false), ("g", 2L, 5.0, true),
      ("g", 3L, 1.0, true), ("h", 4L, 2.0, false)).toDF("g", "id", "s", "y")
    val out = Stats.reciprocalRank(df, "s", col("y"), "id", Seq("g"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("g").getAs[Int]("first_rank") == 2 &&
      out("g").getAs[Double]("rr") == 0.5)
    assert(out("h").isNullAt(1) && out("h").isNullAt(2))
  }

  test("twoProportionZ: hand-computed z; saturated pooled rate yields null z") {
    import graft.pipeline.Stats
    // A: 4 units 3 conv; B: 4 units 1 conv -> pp=0.5,
    // z = 0.5 / sqrt(0.25 * 0.5) = sqrt(2)
    val df = (Seq.fill(3)(("A", true)) ++ Seq(("A", false)) ++
      Seq(("B", true)) ++ Seq.fill(3)(("B", false))).toDF("v", "s")
    val r = Stats.twoProportionZ(df, col("v"), col("s"), "A", "B").collect()(0)
    assert(r.getAs[Long]("n_a") == 4 && r.getAs[Long]("n_b") == 4)
    assert(r.getAs[Double]("rate_a") == 0.75 && r.getAs[Double]("rate_b") == 0.25)
    assert(r.getAs[Double]("z") ==
      BigDecimal(math.sqrt(2.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    // everyone converts: zero pooled variance -> null z, not an error
    val sat = Seq(("A", true), ("B", true)).toDF("v", "s")
    assert(Stats.twoProportionZ(sat, col("v"), col("s"), "A", "B")
      .collect()(0).isNullAt(4))
  }

  test("kAnonymityAudit: sub-k groups and their rows count; nulls form a group") {
    import graft.pipeline.Stats
    // groups: (a,1)x5, (a,2)x2, (null,1)x1 -> k=3: two violators, 3 rows
    val df = (Seq.fill(5)((Some("a"), 1)) ++ Seq.fill(2)((Some("a"), 2)) :+
      ((None: Option[String], 1))).toDF("qa", "qb")
    val r = Stats.kAnonymityAudit(df, Seq("qa", "qb"), k = 3).collect()(0)
    assert(r.getAs[Long]("n_groups") == 3 && r.getAs[Long]("n_rows") == 8)
    assert(r.getAs[Long]("n_violating_groups") == 2)
    assert(r.getAs[Long]("n_rows_at_risk") == 3)
    assert(r.getAs[Long]("min_group_size") == 1)
  }

  test("topSessionPaths: gap splits a journey; path order follows (us, id)") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // user 1: view, click, then a 40-min gap, then purchase (own session);
    // user 2: the same view>click journey
    val df = Seq((1L, 1L, ts(0), "view"), (1L, 2L, ts(5), "click"),
      (1L, 3L, ts(50), "purchase"),
      (2L, 4L, ts(0), "view"), (2L, 5L, ts(3), "click"))
      .toDF("u", "id", "ts", "ty")
    val got = pipeline.EventAnalytics.topSessionPaths(
        df, "u", "id", "ts", "ty", gapMinutes = 30, k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got == Seq("view>click" -> 2L, "purchase" -> 1L))
  }

  test("contingencyResiduals: independent table -> zero residuals; " +
    "dependent cell signs") {
    import graft.pipeline.Stats
    // perfectly independent 2x2: every residual exactly 0
    val ind = (Seq.fill(4)(("x", "p")) ++ Seq.fill(4)(("x", "q")) ++
      Seq.fill(2)(("y", "p")) ++ Seq.fill(2)(("y", "q")))
      .toDF("a0", "b0")
    Stats.contingencyResiduals(ind, col("a0"), col("b0")).collect()
      .foreach(r => assert(r.getAs[Double]("std_residual") == 0.0))
    // diagonal concentration: on-diagonal positive, off negative
    val dep = (Seq.fill(8)(("x", "p")) ++ Seq.fill(8)(("y", "q")) ++
      Seq.fill(2)(("x", "q")) ++ Seq.fill(2)(("y", "p")))
      .toDF("a0", "b0")
    val res = Stats.contingencyResiduals(dep, col("a0"), col("b0"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Double]("std_residual")).toMap
    assert(res(("x", "p")) > 0 && res(("y", "q")) > 0)
    assert(res(("x", "q")) < 0 && res(("y", "p")) < 0)
    assert(res(("x", "p")) == res(("y", "q")), "symmetric table, equal cells")
  }

  test("cmsFrequency: est >= exact always; exact when the grid is sparse; " +
    "partition-invariant") {
    import graft.pipeline.Stats
    val df = (1 to 300).flatMap(k => Seq.fill(k % 7 + 1)(s"k$k")).toDF("k")
    val exact = df.groupBy(col("k").as("key")).count()
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.cmsFrequency(d, col("k"), depth = 4)
    val joined = run(df).join(exact, "key")
      .select(col("key"), col("cms_est"), col("count")).collect()
    assert(joined.length == 300)
    joined.foreach { r =>
      assert(r.getLong(1) >= r.getLong(2), s"CMS undercounted ${r.getString(0)}")
    }
    // 10 keys in a 4x256 grid: collisions are (deterministically) absent
    val sparse = (1 to 10).flatMap(k => Seq.fill(k)(s"s$k")).toDF("k")
    val sJoined = run(sparse)
      .join(sparse.groupBy(col("k").as("key")).count(), "key").collect()
    sJoined.foreach(r => assert(r.getLong(1) == r.getLong(2)))
    val a = run(df).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = run(df.repartition(13)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b, "sketch must not depend on layout")
  }

  test("ewmaDaily: dyadic weights, adaptive normalizer at the series head") {
    // three consecutive days with 4, 2, 8 events
    val ts = Seq.fill(4)("2024-01-01 10:00:00") ++
      Seq.fill(2)("2024-01-02 10:00:00") ++ Seq.fill(8)("2024-01-03 10:00:00")
    val df = ts.toDF("s").select(col("s").cast("timestamp").as("ts"))
    val got = pipeline.EventAnalytics.ewmaDaily(df, "ts", maxLag = 8)
      .orderBy("day").select("ewma").as[Double].collect.toSeq
    // head: 4/1; then (2*.5+4*.25)/.75 ; then (8*.5+2*.25+4*.125)/.875
    assert(got == Seq(4.0, 2.666667, 5.714286))
  }

  test("kmvSetOps: small sets report exact union/intersection/jaccard") {
    // A = 1..20, B = 11..30: union 30 <= k, inter 10, jaccard 1/3
    val a = (1 to 20).toDF("id")
    val b = (11 to 30).toDF("id")
    val r = Stats.kmvSetOps(a, col("id"), b, col("id"), k = 64).collect()(0)
    assert(r.getLong(0) == 20 && r.getLong(1) == 20 && r.getLong(2) == 30)
    assert(r.getDouble(3) == 30.0)      // union_est exact below k
    assert(math.abs(r.getDouble(4) - 10.0 / 30.0) < 1e-6)
    assert(r.getDouble(5) == 10.0)      // intersect_est exact below k
  }

  test("kmvSetOps: estimates track truth beyond k and ignore layout") {
    // A = 1..3000, B = 2001..5000: union 5000, inter 1000, J = 0.2
    val a = (1 to 3000).toDF("id")
    val b = (2001 to 5000).toDF("id")
    def run(x: org.apache.spark.sql.DataFrame) =
      Stats.kmvSetOps(x, col("id"), b, col("id"), k = 256).collect()(0)
    val r = run(a)
    assert(r.getLong(2) == 5000)
    assert(math.abs(r.getDouble(3) - 5000) / 5000 < 0.25, s"union ${r.getDouble(3)}")
    assert(math.abs(r.getDouble(4) - 0.2) < 0.12, s"jaccard ${r.getDouble(4)}")
    val r2 = run(a.repartition(17))
    assert(r.getDouble(3) == r2.getDouble(3) && r.getDouble(4) == r2.getDouble(4),
      "sketch must not depend on layout")
  }

  test("theilSenTrend: exact linear daily series recovers slope, tau = 1") {
    // counts 1,3,5,7 on four consecutive days: every pairwise slope = 2
    val ts = (0 until 4).flatMap(d =>
      Seq.fill(2 * d + 1)(s"2024-01-0${d + 1} 09:00:00"))
    val df = ts.toDF("s").select(col("s").cast("timestamp").as("ts"))
    val r = Stats.theilSenTrend(df, "ts").collect()(0)
    assert(r.getLong(0) == 4 && r.getLong(1) == 6)
    assert(r.getLong(2) == 6)                    // all 6 pairs increasing
    assert(r.getDouble(3) == 1.0)                // tau
    assert(r.getDouble(4) == 2.0)                // slope/day
  }

  test("theilSenTrend: one spiked day does not move the slope median") {
    // flat series of 5/day except one 500-spike: median pairwise slope 0
    val ts = (0 until 9).flatMap(d =>
      Seq.fill(if (d == 4) 500 else 5)(f"2024-01-0${d + 1}%d 09:00:00"))
    val df = ts.toDF("s").select(col("s").cast("timestamp").as("ts"))
    val r = Stats.theilSenTrend(df, "ts").collect()(0)
    assert(math.abs(r.getDouble(4)) < 1e-9, s"slope ${r.getDouble(4)}")
  }

  test("poissonBootstrapMean: exact mean, plausible se, deterministic") {
    val df = (1 to 400).map(i => (i.toLong, (i % 20).toDouble)).toDF("id", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.poissonBootstrapMean(d, col("id"), col("v"), reps = 100).collect()(0)
    val r = run(df)
    assert(r.getLong(0) == 400 && r.getLong(2) == 100)
    assert(math.abs(r.getDouble(1) - 9.5) < 1e-6)
    // sd of 0..19 uniform-ish ~5.766; se ~ sd/sqrt(400) ~ 0.29
    val se = r.getDouble(3)
    assert(se > 0.1 && se < 0.6, s"se $se")
    assert(r.getDouble(4) < 9.5 && r.getDouble(5) > 9.5)
    val r2 = run(df.repartition(13))
    assert(r2.getDouble(3) == se && r2.getDouble(4) == r.getDouble(4),
      "hash bootstrap must not depend on layout")
  }

  test("midRanks2 equals the textbook doubled average rank, rank_min + rank_max") {
    import org.apache.spark.sql.expressions.Window
    // ties, a null value cell (ascending order puts it first) and two units
    val rows = Seq(("u1", "a", Some(3.0)), ("u1", "b", Some(1.0)),
      ("u1", "a", Some(3.0)), ("u1", "b", None), ("u1", "a", Some(2.0)),
      ("u1", "b", Some(3.0)), ("u1", "a", None), ("u1", "b", Some(1.0)),
      ("u2", "a", Some(5.0)), ("u2", "b", Some(5.0)), ("u2", "a", Some(4.0)),
      ("u2", "b", None)).toDF("u", "g", "v")
    // rank() gives rank_min; rank_max is N + 1 − rank() in the reverse
    // order (descending, nulls last), N the rows in the partition
    def textbook(rs: org.apache.spark.sql.DataFrame, part: Seq[String],
                 out: String) = {
      val p = part.map(col)
      rs.select(p ++ Seq(col("v"), (rank().over(Window.partitionBy(p: _*)
        .orderBy(col("v").asc_nulls_first)) + count(lit(1))
        .over(Window.partitionBy(p: _*)) + 1L - rank().over(Window
          .partitionBy(p: _*).orderBy(col("v").desc_nulls_last))).as(out)): _*)
        .distinct()
    }
    def same(got: org.apache.spark.sql.DataFrame,
             want: org.apache.spark.sql.DataFrame): Unit = {
      val cols = want.columns.toSeq.map(col)
      val g = got.select(cols: _*)
      assert(g.count() == want.count())
      assert(g.exceptAll(want).isEmpty && want.exceptAll(g).isEmpty,
        g.orderBy(cols: _*).collect().mkString(","))
    }
    // keyless: one window over the whole value rollup (gated)
    same(Stats.midRanks2(rows.groupBy("v").agg(count(lit(1)).as("t")), Nil,
      "v", "midRanks2Spec", "r2" -> col("t")), textbook(rows, Nil, "r2"))
    // partitioned per unit
    same(Stats.midRanks2(rows.groupBy("u", "v").agg(count(lit(1)).as("t")),
      Seq("u"), "v", "midRanks2Spec", "r2" -> col("t")),
      textbook(rows, Seq("u"), "r2"))
    // several count columns in one call (the brunnerMunzel shape): the
    // pooled rank over ca + cb and each group's own rank over its count,
    // compared where the group has the value
    val cells = rows.groupBy("v").agg(
      sum(when(col("g") === "a", 1L).otherwise(0L)).as("ca"),
      sum(when(col("g") === "b", 1L).otherwise(0L)).as("cb"))
    val three = Stats.midRanks2(cells, Nil, "v", "midRanks2Spec",
      "r2" -> (col("ca") + col("cb")), "ra2" -> col("ca"),
      "rb2" -> col("cb"))
    same(three, textbook(rows, Nil, "r2"))
    same(three.filter(col("ca") > 0L),
      textbook(rows.filter(col("g") === "a"), Nil, "ra2"))
    same(three.filter(col("cb") > 0L),
      textbook(rows.filter(col("g") === "b"), Nil, "rb2"))
    // pin a few values by hand: u1's values sort null, null, 1, 1, 2, 3, 3, 3
    val u1 = Stats.midRanks2(rows.filter(col("u") === "u1").groupBy("v")
        .agg(count(lit(1)).as("t")), Nil, "v", "midRanks2Spec",
        "r2" -> col("t"))
      .select("v", "r2").as[(Option[Double], Long)].collect().toMap
    assert(u1 == Map(None -> 3L, Some(1.0) -> 7L, Some(2.0) -> 10L,
      Some(3.0) -> 14L))
  }

  test("spearman: monotone = 1, inverse = -1, tie case hand-computed") {
    def rho(pairs: Seq[(Double, Double)]): Double =
      Stats.spearman(pairs.toDF("a", "b"), col("a"), col("b"))
        .collect()(0).getDouble(1)
    assert(rho(Seq((1.0, 10.0), (2.0, 20.0), (3.0, 70.0))) == 1.0)
    assert(rho(Seq((1.0, 9.0), (2.0, 5.0), (3.0, 1.0))) == -1.0)
    // ties on a: values (1,1,2) -> avg ranks (1.5, 1.5, 3); b (1,2,3) ->
    // ranks (1,2,3). Pearson of ((1.5,1),(1.5,2),(3,3)) = sqrt(3)/2
    val t = rho(Seq((1.0, 1.0), (1.0, 2.0), (2.0, 3.0)))
    assert(math.abs(t - math.sqrt(3.0) / 2) < 1e-6, s"tie rho $t")
  }

  test("conformalIntervals: ~1-alpha coverage, q_hat is a data element") {
    val df = (1 to 4000).map(i => ("g", i.toLong, (i % 100).toDouble))
      .toDF("g", "id", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.conformalIntervals(d, "g", col("id"), col("v"), alpha = 0.1)
        .collect()(0)
    val r = run(df)
    assert(r.getLong(1) + r.getLong(2) == 4000)
    val cov = r.getDouble(4)
    assert(cov > 0.85 && cov < 0.95, s"coverage $cov")
    // q_hat must be an actual calibration residual (a data element)
    assert(r.getDouble(3) >= 0 && r.getDouble(3) <= 51)
    val r2 = run(df.repartition(13))
    assert(r2.getDouble(3) == r.getDouble(3) && r2.getDouble(4) == cov,
      "conformal must not depend on layout")
  }

  test("cupedReduction: exact covariate gives reduction 1; constant x nulls") {
    val lin = (1 to 200).map(i => (i.toDouble, 2.0 * i + 5)).toDF("x", "y")
    val r = Stats.cupedReduction(lin, col("x"), col("y")).collect()(0)
    assert(r.getLong(0) == 200)
    assert(r.getDouble(1) == 2.0)        // theta
    assert(r.getDouble(3) == 0.0)        // var_adj
    assert(r.getDouble(4) == 1.0)        // reduction = corr^2
    val flat = (1 to 50).map(i => (7.0, i.toDouble)).toDF("x", "y")
    val f = Stats.cupedReduction(flat, col("x"), col("y")).collect()(0)
    assert(f.isNullAt(1) && f.isNullAt(3) && f.isNullAt(4))
  }

  test("sampleSizeTwoProportions: textbook n for p1=0.1, +10% relative MDE") {
    // 1000 trials, 100 successes -> p1 = 0.1, p2 = 0.11: n = 14751
    val df = (1 to 1000).map(i => ("t", i <= 100)).toDF("k", "s")
    val r = Stats.sampleSizeTwoProportions(df, col("k") === "t", col("s"),
      relMde = 0.1).collect()(0)
    assert(r.getLong(0) == 1000 && r.getLong(1) == 100)
    assert(r.getDouble(2) == 0.1 && r.getDouble(3) == 0.11)
    assert(r.getLong(4) == 14751L, s"n_per_arm ${r.getLong(4)}")
  }

  test("diffInDiff: hand-computed cells; nulls excluded") {
    val df = Seq(
      // (treat, post, value): ctrl pre mean 1, ctrl post mean 2,
      // treat pre mean 3, treat post mean 7 -> did = (7-3)-(2-1) = 3
      (false, false, Some(0.0)), (false, false, Some(2.0)),
      (false, true, Some(2.0)),
      (true, false, Some(3.0)),
      (true, true, Some(6.0)), (true, true, Some(8.0)),
      (true, true, None)) // null value: dropped
      .toDF("t", "p", "v")
    val r = Stats.diffInDiff(df, col("t"), col("p"), col("v")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 1L, 1L, 2L)))
    assert((r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))
      == ((1.0, 2.0, 3.0, 7.0)))
    assert(r.getDouble(8) == 3.0)
  }

  test("ucb1: bonus formula; fewer pulls can win; rounded-tie breaks by arm") {
    // arm a: 4 pulls mean 1.0; arm b: 1 pull mean 1.5.
    // N=5: ucb_a = 1 + sqrt(2 ln 5 / 4), ucb_b = 1.5 + sqrt(2 ln 5)
    val df = Seq(("a", 1.0), ("a", 1.0), ("a", 1.0), ("a", 1.0), ("b", 1.5))
      .toDF("arm", "r")
    val r = Stats.ucb1(df, col("arm"), col("r")).orderBy("arm").collect()
    val exp_a = math.round((1.0 + math.sqrt(2 * math.log(5.0) / 4)) * 1e6) / 1e6
    val exp_b = math.round((1.5 + math.sqrt(2 * math.log(5.0))) * 1e6) / 1e6
    assert(r(0).getLong(1) == 4L && r(0).getDouble(3) == exp_a)
    assert(r(1).getLong(1) == 1L && r(1).getDouble(3) == exp_b)
    assert(!r(0).getBoolean(4) && r(1).getBoolean(4)) // b explores first
    // exact tie in the rounded score -> arm-name ascending wins
    val tie = Seq(("x", 2.0), ("y", 2.0)).toDF("arm", "r")
    val t = Stats.ucb1(tie, col("arm"), col("r")).orderBy("arm").collect()
    assert(t(0).getBoolean(4) && !t(1).getBoolean(4))
  }

  test("olsFit2: exact planar fit recovers coefficients with r2 = 1") {
    // y = 2 + 3*x1 - 4*x2 on a non-degenerate grid
    val rows = for (i <- 1 to 10; j <- 1 to 10)
      yield (i.toDouble, j.toDouble, 2.0 + 3.0 * i - 4.0 * j)
    val df = rows.toDF("x1", "x2", "y")
    val r = Stats.olsFit2(df, col("x1"), col("x2"), col("y")).collect()(0)
    assert(r.getLong(0) == 100L)
    assert(r.getDouble(1) == 2.0 && r.getDouble(2) == 3.0 &&
      r.getDouble(3) == -4.0)
    assert(r.getDouble(4) == 1.0)
    // constant y: sst = 0 -> r2 null, beta0 = the constant
    val const = rows.map { case (a, b, _) => (a, b, 5.0) }.toDF("x1", "x2", "y")
    val c = Stats.olsFit2(const, col("x1"), col("x2"), col("y")).collect()(0)
    assert(c.getDouble(1) == 5.0 && c.getDouble(2) == 0.0 && c.isNullAt(4))
  }

  test("trimmedStats: k=⌊n·10%⌋ cuts; winsor clamps to order statistics") {
    // g1: 1..9 plus outlier 1000 -> n=10, k=1, lo=2, hi=9,
    // trimmed = mean(2..9) = 5.5, winsor = (44 + 2 + 9)/10 = 5.5
    // g2: n=3 -> k=0: every mean is the plain mean, cuts are min/max
    val df = ((1L to 9L).map(v => ("g1", v)) ++ Seq(("g1", 1000L),
      ("g2", 1L), ("g2", 2L), ("g2", 6L))).toDF("g", "v")
    val r = Stats.trimmedStats(df, Seq("g"), col("v"), trimPct = 10)
      .orderBy("g").collect()
    val g1 = r(0)
    assert(g1.getLong(1) == 10L && g1.getDouble(2) == 104.5)
    assert(g1.getDouble(3) == 5.5 && g1.getDouble(4) == 5.5)
    assert(g1.getLong(5) == 2L && g1.getLong(6) == 9L)
    val g2 = r(1)
    assert(g2.getLong(1) == 3L && g2.getDouble(2) == 3.0)
    assert(g2.getDouble(3) == 3.0 && g2.getDouble(4) == 3.0)
    assert(g2.getLong(5) == 1L && g2.getLong(6) == 6L)
  }

  test("sprtTrace: cumulative llr crosses the Wald lower boundary") {
    // all failures at p0=0.19 vs p1=0.21: llr = N·ln(0.79/0.81) drifts
    // down ~0.025/trial; boundary ln(0.2/0.95) ≈ -1.558 crossed near N=63
    val mk = (d: Long, n: Int) => Seq.fill(n)(d)
    val df = (mk(0L, 20) ++ mk(1L, 30) ++ mk(2L, 50)).toDF("day")
      .select(expr("timestamp_micros(day * 86400000000)").as("ts"),
        lit("x").as("t"))
    val r = Stats.sprtTrace(df, "ts", col("t") === "never", 0.19, 0.21)
      .orderBy("day").collect()
    val l0 = math.log(0.79 / 0.81)
    def exp(n: Long) = math.round(n * l0 * 1e6) / 1e6
    assert(r.map(x => (x.getLong(1), x.getLong(2))).toSeq ==
      Seq((20L, 0L), (50L, 0L), (100L, 0L)))
    assert(r.map(_.getDouble(3)).toSeq == Seq(exp(20), exp(50), exp(100)))
    assert(r.map(_.getString(4)).toSeq ==
      Seq("continue", "continue", "accept_h0"))
    // all successes: llr = N·ln(21/19) climbs ~0.1/trial; hi ≈ 2.773
    val up = Stats.sprtTrace(df, "ts", col("t") === "x", 0.19, 0.21)
      .orderBy("day").collect()
    assert(up.map(_.getString(4)).toSeq ==
      Seq("continue", "accept_h1", "accept_h1"))
  }

  test("targetEncoding: out-of-fold means; single-fold category gets null") {
    val df = Seq(("A", 0L, 1.0), ("A", 0L, 2.0), ("A", 1L, 3.0),
      ("B", 0L, 9.0)).toDF("cat", "fold", "y")
    val r = Stats.targetEncoding(df, col("cat"), col("fold"), col("y"))
      .orderBy("category", "fold").collect()
    assert(r.map(x => (x.getString(0), x.getLong(1), x.getLong(2),
      x.getLong(3))).toSeq ==
      Seq(("A", 0L, 2L, 1L), ("A", 1L, 1L, 2L), ("B", 0L, 1L, 0L)))
    assert(r(0).getDouble(4) == 3.0)  // A fold 0 sees only fold 1's mean
    assert(r(1).getDouble(4) == 1.5)  // A fold 1 sees folds 0's mean
    assert(r(2).isNullAt(4))          // B has no out-of-fold rows
  }

  test("newsvendorLevels: ceil-index order statistic at the critical ratio") {
    val df = (1L to 5L).map(d => ("p1", d, d)) :+ (("p2", 1L, 7L))
    val dd = df.toDF("k", "p", "q")
    val r = Stats.newsvendorLevels(dd, "k", col("p"), col("q"),
      criticalPct = 80).orderBy("k").collect()
    // p1: demands {1..5}, rank ceil(0.8·5) = 4 -> level 4, max 5
    assert(r.map(x => (x.getString(0), x.getLong(1), x.getLong(2),
      x.getLong(3))).toSeq == Seq(("p1", 5L, 4L, 5L), ("p2", 1L, 7L, 7L)))
    val full = Stats.newsvendorLevels(dd, "k", col("p"), col("q"),
      criticalPct = 100).orderBy("k").collect()
    assert(full(0).getLong(2) == 5L) // 100% service level = max demand
  }

  test("qiniDeciles: two-bin hand example; deterministic ntile order") {
    val df = Seq((1L, 4L, true, true), (2L, 3L, false, false),
      (3L, 2L, true, false), (4L, 1L, false, true))
      .toDF("id", "s", "t", "c")
    val r = Stats.qiniDeciles(df, col("id"), col("s"), col("t"), col("c"),
      nBins = 2).orderBy("decile").collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
      x.getLong(3), x.getLong(4), x.getDouble(5))).toSeq ==
      Seq((1L, 1L, 1L, 1L, 0L, 1.0), (2L, 2L, 2L, 1L, 1L, 0.0)))
  }

  test("equalCountTiles: bit-for-bit ntile parity across fixtures, bin counts, and the subdivision path") {
    import org.apache.spark.sql.expressions.Window
    val fixtures: Seq[Seq[(Long, Option[Long])]] = Seq(
      (1 to 97).map(i => (i.toLong, Some((i % 7).toLong))),   // heavy ties
      (1 to 100).map(i => (i.toLong, Some(i.toLong * 37 % 101))), // near-unique
      (1 to 60).map(i => (i.toLong, Some(5L))),               // ONE tie value
      (1 to 4).map(i => (i.toLong, Some(i.toLong))),          // N < nBins
      (1 to 40).map(i => (i.toLong,
        if (i % 5 == 0) None else Some((i % 3).toLong))))     // null scores
    for (rows <- fixtures; nBins <- Seq(2, 3, 7, 10)) {
      val df = rows.toDF("id", "s")
      val exp = df.withColumn("t", ntile(nBins).over(
          Window.orderBy(col("s").desc_nulls_last, col("id").asc)).cast("long"))
        .select("id", "t").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // grid 8 + tieSubdivideMin 4 force both the straddling-segment
      // rescue AND the massive-tie id-subdivision path at toy scale
      val got = Stats.equalCountTiles(df, "s", "id", nBins, "t",
          grid = 8, tieSubdivideMin = 4)
        .select("id", "t").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == exp, s"ntile mismatch at nBins=$nBins for ${rows.take(5)}...")
    }
  }

  test("equalCountTiles: empty input yields zero rows; default grid matches too") {
    val empty = Seq.empty[(Long, Long)].toDF("id", "s")
    assert(Stats.equalCountTiles(empty, "s", "id", 4, "t").count() == 0)
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 50).map(i => (i.toLong, (i % 4).toDouble / 3.0)).toDF("id", "s")
    val exp = df.withColumn("t", ntile(10).over(
        Window.orderBy(col("s").desc_nulls_last, col("id").asc)).cast("long"))
      .select("id", "t").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Stats.equalCountTiles(df, "s", "id", 10, "t")
      .select("id", "t").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == exp)
  }

  test("distributedRank: rank + running-sum parity vs global windows across fixtures") {
    import org.apache.spark.sql.expressions.Window
    val fixtures: Seq[Seq[(Long, Option[Long], Long)]] = Seq(
      (1 to 97).map(i => (i.toLong, Some((i % 7).toLong), (i % 5 + 1).toLong)), // ties
      (1 to 100).map(i => (i.toLong, Some(i.toLong * 37 % 101), 1L)), // unique
      (1 to 60).map(i => (i.toLong, Some(5L), 2L)),                   // ONE value
      (1 to 40).map(i => (i.toLong,
        if (i % 5 == 0) None else Some((i % 3).toLong), 3L)))         // nulls
    for (rows <- fixtures; desc <- Seq(true, false)) {
      val df = rows.toDF("id", "s", "w")
      val ord = if (desc) Seq(col("s").desc_nulls_last, col("id").asc)
        else Seq(col("s").asc_nulls_first, col("id").asc)
      val wWin = Window.orderBy(ord: _*)
      val exp = df.withColumn("rn", row_number().over(wWin).cast("long"))
        .withColumn("cum", sum(col("w")).over(
          wWin.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("id", "rn", "cum").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      // grid 8 + tieSubdivideMin 4 force multi-cell classification AND
      // the massive-tie subdivision path at toy scale
      val got = Stats.distributedRank(df, Seq.empty, "s", desc, Seq("id"),
          Some("w"), "rn", Some("cum"), grid = 8, tieSubdivideMin = 4)
        .select("id", "rn", "cum").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == exp, s"rank mismatch desc=$desc for ${rows.take(5)}...")
    }
  }

  test("distributedRank: per-group ranks match per-group windows; null group survives") {
    import org.apache.spark.sql.expressions.Window
    val rows = (1 to 90).map { i =>
      val g = i % 3 match { case 0 => Some("a"); case 1 => Some("b"); case _ => None }
      (i.toLong, g, (i * 13 % 17).toLong)
    }
    val df = rows.toDF("id", "g", "s")
    val wWin = Window.partitionBy(col("g"))
      .orderBy(col("s").asc_nulls_first, col("id").asc)
    val exp = df.withColumn("rn", row_number().over(wWin).cast("long"))
      .select("id", "rn").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Stats.distributedRank(df, Seq("g"), "s", desc = false,
        Seq("id"), None, "rn", None, grid = 8, tieSubdivideMin = 4)
      .select("id", "rn").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == exp)
    // empty input: null rank columns, zero rows preserved
    val empty = Seq.empty[(Long, Long)].toDF("id", "s")
    assert(Stats.distributedRank(empty, Seq.empty, "s", desc = false,
      Seq("id"), None, "rn").count() == 0)
  }

  test("Ops.rankBy public face: null scores place as the window default; " +
    "a default-threshold massive tie subdivides and ranks exactly") {
    import org.apache.spark.sql.expressions.Window
    // null-score path, both directions, with the running weight sum
    val rows = (1 to 50).map(i =>
      (i.toLong, if (i % 4 == 0) None else Some((i % 6).toLong), 2L))
    val df = rows.toDF("id", "s", "w")
    for (desc <- Seq(false, true)) {
      val ord = if (desc) Seq(col("s").desc_nulls_last, col("id").asc)
        else Seq(col("s").asc_nulls_first, col("id").asc)
      val wWin = Window.orderBy(ord: _*)
      val exp = df.withColumn("rank", row_number().over(wWin).cast("long"))
        .withColumn("cw", sum(col("w")).over(
          wWin.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("id", "rank", "cw").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val got = graft.operators.Ops.rankBy(df, "s", desc = desc,
          tieCols = Seq("id"), weightCol = Some("w"), cumOut = Some("cw"))
        .select("id", "rank", "cw").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == exp, s"public-face parity desc=$desc")
    }
    // massive single-value tie ABOVE the default 2^18 subdivision
    // threshold: 300k rows, one score value — rank must be id+1 (ties
    // break on the numeric id grid), cum follows exactly
    val tied = spark.range(300000L)
      .select(col("id"), lit(7L).as("s"), lit(1L).as("w"))
    val ranked = graft.operators.Ops.rankBy(tied, "s",
      tieCols = Seq("id"), weightCol = Some("w"), cumOut = Some("cw"))
    val bad = ranked.filter(col("rank") =!= col("id") + 1L ||
      col("cw") =!= col("id") + 1L).count()
    assert(bad == 0L, s"$bad misranked rows in the massive tie")
    assert(ranked.agg(max(col("rank"))).head.getLong(0) == 300000L)
  }

  test("value-cell cardinality gate: hodgesLehmann/qnScale/" +
    "giniMeanDifference/rank-cell family raise loudly above 10^5 cells") {
    // 100001 distinct values -> every member of the pairwise value-cell
    // family must refuse BEFORE its |vocab|^2 stage, naming the remedy
    def deep(t: Throwable): String =
      if (t == null) "" else t.toString + "|" + deep(t.getCause)
    val wide = spark.range(100001L)
      .select(col("id").cast("double").as("v"))
    val wideG = spark.range(100001L).select(
      pmod(col("id"), lit(2L)).cast("string").as("g"),
      col("id").cast("double").as("v"))
    val cases: Seq[(String, () => Any)] = Seq(
      ("hodgesLehmann", () => Stats.hodgesLehmann(wide, col("v")).collect()),
      ("qnScale", () => Stats.qnScale(wide, col("v")).collect()),
      ("giniMeanDifference",
        () => Stats.giniMeanDifference(wide, col("v")).collect()),
      // the two-sample rank-cell scaffold, via a public consumer
      ("twoSampleRankCells",
        () => Stats.ansariBradley(wideG, col("g"), col("v"), "0", "1")
          .collect()),
      // round 14: the t-closeness sensitive vocabulary (its value rollup
      // both broadcasts and feeds a keyless cumulative window)
      ("tCloseness",
        () => Stats.tCloseness(wideG, Seq("g"), col("v")).collect()),
      // round 15 enforcement sweep: the linear-rank / ECDF family whose
      // keyless cumulative window over the distinct-value rollup was
      // scaladoc-only ("bucket continuous values first") until now
      ("ksTwoSample",
        () => Stats.ksTwoSample(wideG, "g", "v", "0", "1").collect()),
      ("cvmTwoSample",
        () => Stats.cvmTwoSample(wideG, "g", "v", "0", "1").collect()),
      ("brunnerMunzel",
        () => Stats.brunnerMunzel(wideG, "g", "v", "0", "1").collect()),
      ("spearman",
        () => Stats.spearman(wide, col("v"), col("v")).collect()),
      ("kruskalWallis",
        () => Stats.kruskalWallis(wideG, col("g"), col("v")).collect()),
      ("clesRankBiserial",
        () => Stats.clesRankBiserial(wideG, "v", col("g") === "0").collect()),
      ("cliffsDelta",
        () => Stats.cliffsDelta(wideG, "v", col("g") === "0").collect()),
      // +1 so the dropped zero diff doesn't land the count exactly AT 10^5
      ("wilcoxonSignedRank",
        () => Stats.wilcoxonSignedRank(wide, col("v") + 1.0).collect()),
      ("jonckheereTerpstra",
        () => Stats.jonckheereTerpstra(wideG, col("g"), col("v")).collect()),
      // its keyless midrank window over the value rollup was the one
      // rank-cell copy left ungated until midRanks2 took it over
      ("dunnPosthoc",
        () => Stats.dunnPosthoc(wideG, col("g"), col("v")).collect()),
      ("ksExponential",
        () => Stats.ksExponential(wide, col("v")).collect()),
      // the V²-broadcast pair-join class (the qnScale shape) and the
      // stump's keyless gain windows — caught in the round-15 sweep's
      // own follow-up audit, same gate
      ("kendallTau",
        () => Stats.kendallTau(wide, col("v"), col("v")).collect()),
      ("harrellC",
        () => Stats.harrellC(wide, col("v"), lit(true), col("v")).collect()),
      ("decisionStump",
        () => Stats.decisionStump(wide, col("v"),
          pmod(col("v").cast("long"), lit(2L)) === 0L).collect()))
    for ((op, run) <- cases) {
      val ex = intercept[Exception] { run() }
      val msg = deep(ex)
      assert(msg.contains("distinct value cells exceed") && msg.contains(op),
        s"$op: expected the cardinality raise, got: $msg")
    }
    // rocAuc/mannWhitney are GROUP-KEYED — partitioning bounds nothing
    // when one group's score is continuous, so their gate measures the
    // LARGEST single group's cell count (all 100001 cells in group "g")
    val wideOneG = spark.range(100001L).select(lit("g").as("grp"),
      col("id").cast("double").as("v"),
      (pmod(col("id"), lit(2L)) === 0L).as("lab"))
    val exAuc = intercept[Exception] {
      Stats.rocAuc(wideOneG, "v", col("lab"), Seq("grp")).collect()
    }
    assert(deep(exAuc).contains("largest group has") &&
      deep(exAuc).contains("rocAuc"), deep(exAuc))
    val exMw = intercept[Exception] {
      Stats.mannWhitney(wideOneG, "v", col("lab"), Seq("grp")).collect()
    }
    assert(deep(exMw).contains("largest group has") &&
      deep(exMw).contains("mannWhitney"), deep(exMw))
    // rocAuc's own documented remedy keeps it answering: scoreRound
    // collapses the continuous scores to a bounded grain
    assert(Stats.rocAuc(wideOneG, "v", col("lab"), Seq("grp"),
      scoreRound = Some(-3)).collect().length == 1)
    // quadeTest gates each unit's RANGE across conditions: 100001 units
    // with ranges 1..100001 (complete two-condition design)
    val qd = spark.range(100001L).select(col("id").as("u"))
      .crossJoin(Seq("c1", "c2").toDF("c"))
      .select(col("u"), col("c"),
        when(col("c") === "c1", lit(0.0))
          .otherwise((col("u") + 1L).cast("double")).as("v"))
    val exQ = intercept[Exception] {
      Stats.quadeTest(qd, col("u"), col("c"), col("v")).collect()
    }
    assert(deep(exQ).contains("distinct value cells exceed") &&
      deep(exQ).contains("quadeTest"), deep(exQ))
    // conoverSquaredRanks rides the gated twoSampleRankCells scaffold over
    // the |v − med| deviation cells; squares make the fold around the
    // median collision-sparse (i²+j² = 2m² has divisor-bounded solutions),
    // so ~119999 of the 120001 deviations stay distinct — above the gate
    val conv = spark.range(120001L).select(
      when(col("id") < 2L, lit("b")).otherwise(lit("a")).as("g"),
      (col("id") * col("id")).cast("double").as("v"))
    val exC = intercept[Exception] {
      Stats.conoverSquaredRanks(conv, "g", "v", "a", "b").collect()
    }
    assert(deep(exC).contains("distinct value cells exceed") &&
      deep(exC).contains("twoSampleRankCells"), deep(exC))
    // just UNDER the gate the operators still answer (identity guard)
    val ok = spark.range(11L).select(col("id").cast("double").as("v"))
    assert(Stats.hodgesLehmann(ok, col("v")).collect().head.getLong(0) == 11L)
  }

  test("wilcoxonSignedRank: hand W+ and z with and without ties; zeros drop") {
    // diffs {1,-2,3,-4,5}: no ties, W+ = 1+3+5 = 9, z = 1.5/sqrt(13.75)
    val a = Seq(1.0, -2.0, 3.0, -4.0, 5.0, 0.0).toDF("d")
    val r = Stats.wilcoxonSignedRank(a, col("d")).collect()(0)
    assert(r.getLong(0) == 5L && r.getDouble(1) == 9.0)
    assert(r.getDouble(2) == math.floor(1.5 / math.sqrt(13.75) * 1e6 + 0.5) / 1e6,
      s"z: $r")
    // diffs {1,-1,2}: |d| tie at 1 (avg rank 1.5), W+ = 1.5+3 = 4.5,
    // var = 3*4*7/24 - 6/48 = 3.375
    val b = Seq(1.0, -1.0, 2.0).toDF("d")
    val r2 = Stats.wilcoxonSignedRank(b, col("d")).collect()(0)
    assert(r2.getLong(0) == 3L && r2.getDouble(1) == 4.5)
    assert(r2.getDouble(2) ==
      math.floor(1.5 / math.sqrt(3.375) * 1e6 + 0.5) / 1e6, s"z: $r2")
  }

  test("kendallW: perfect agreement W=1; one reversed rater drops W to 1/9; incomplete raises") {
    val perfect = for (m <- 1 to 3; (i, v) <- Seq(("a", 1.0), ("b", 2.0), ("c", 3.0)))
      yield (m.toLong, i, v)
    val r = Stats.kendallW(perfect.toDF("m", "i", "v"),
      col("m"), col("i"), col("v")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) == ((3L, 3L, 1.0)))
    val mixed = perfect.filter(_._1 != 3L) ++
      Seq((3L, "a", 3.0), (3L, "b", 2.0), (3L, "c", 1.0))
    val r2 = Stats.kendallW(mixed.toDF("m", "i", "v"),
      col("m"), col("i"), col("v")).collect()(0)
    assert(r2.getDouble(2) == 0.111111, s"w: $r2") // 24/216
    val ex = intercept[Exception] {
      Stats.kendallW(mixed.toDF("m", "i", "v").filter(
        !(col("m") === 2L && col("i") === "c")),
        col("m"), col("i"), col("v")).collect()
    }
    assert(ex.toString.contains("incomplete") ||
      Option(ex.getCause).exists(_.toString.contains("incomplete")))
  }

  test("moodMedianTest: split groups around the global lower median -> chi2 = N") {
    // A = {1,2,3}, B = {4,5,6}: lower median 3; 2x2 = [0,3;3,0] -> chi2 6
    val df = Seq(("A", 1.0), ("A", 2.0), ("A", 3.0),
      ("B", 4.0), ("B", 5.0), ("B", 6.0)).toDF("g", "v")
    val r = Stats.moodMedianTest(df, col("g"), col("v")).collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((6L, 2L)))
    assert(r.getDouble(2) == 3.0 && r.getLong(3) == 3L)
    assert(r.getDouble(4) == 6.0 && r.getLong(5) == 1L, s"chi2: $r")
  }

  test("durbinWatson: hand DW on a 3-day series") {
    import java.sql.Timestamp
    // day counts {2,1,3}: num = 1+4 = 5, den = sum e^2 = 2 -> DW 2.5
    val day = 86400000L
    val ts = Seq(0L, 1L, day, 2 * day, 2 * day + 1, 2 * day + 2)
      .map(ms => Tuple1(new Timestamp(ms)))
    val r = Stats.durbinWatson(ts.toDF("ts"), "ts").collect()(0)
    assert(r.getLong(0) == 3L && r.getDouble(1) == 2.5, s"dw: $r")
  }

  test("inequalityIndices: hand Theil/Atkinson on {1,1,4}; non-positive keys drop") {
    val df = Seq(("a", 1L), ("b", 1L), ("c", 4L), ("d", 0L)).toDF("k", "x")
    val r = Stats.inequalityIndices(df, col("k"), col("x")).collect()(0)
    assert(r.getLong(0) == 3L && r.getLong(1) == 6L)
    // T = 4*ln4/6 - ln2; A = 1 - 4^(1/3)/2 (12dp-rounded ln terms)
    assert(r.getDouble(2) == 0.231049, s"theil: $r")
    assert(r.getDouble(3) == 0.206299, s"atkinson: $r")
  }

  test("cliffsDelta: hand delta on the mannWhitney fixture") {
    // s1 = {1,2}, s2 = {2,3,3}: wins 0, ties 1, losses 5 -> delta -5/6
    val df = Seq((1L, true), (2L, true), (2L, false), (3L, false),
      (3L, false)).toDF("v", "s")
    val r = Stats.cliffsDelta(df, "v", col("s")).collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((2L, 3L)))
    assert(r.getDouble(2) == 0.0 && r.getDouble(3) == 5.0)
    assert(r.getDouble(4) == -0.833333, s"delta: $r")
  }

  test("jonckheereTerpstra: hand J and z on three ordered groups") {
    // g1={1,2}, g2={2,3}, g3={4}: J = 3.5+2+2 = 7.5, E = 4,
    // var = (25*13 - 61)/72 = 11/3
    val df = Seq((1L, 1.0), (1L, 2.0), (2L, 2.0), (2L, 3.0), (3L, 4.0))
      .toDF("g", "v")
    val r = Stats.jonckheereTerpstra(df, col("g"), col("v")).collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((5L, 3L)))
    assert(r.getDouble(2) == 7.5)
    assert(r.getDouble(3) ==
      math.floor(3.5 / math.sqrt(11.0 / 3.0) * 1e6 + 0.5) / 1e6, s"z: $r")
  }

  test("cvmTwoSample: hand T on a 2x2 sample") {
    // a={1,2}, b={2,3}: sum c*(m*Fa - n*Fb)^2 = 12 -> T = 12/(2*2*16)
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 2.0), ("b", 3.0))
      .toDF("g", "v")
    val r = Stats.cvmTwoSample(df, "g", "v", "a", "b").collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((2L, 2L)))
    assert(r.getDouble(2) == 0.1875, s"t: $r")
  }

  test("pythagoreanMeans: AM/GM/HM on {1,2,4}; non-positives excluded") {
    val df = Seq(("g", Some(1.0)), ("g", Some(2.0)), ("g", Some(4.0)),
      ("g", Some(0.0)), ("g", None)).toDF("g", "v")
    val r = Stats.pythagoreanMeans(df, Seq("g"), col("v")).collect()(0)
    assert(r.getLong(1) == 3L && r.getLong(2) == 2L)
    assert(r.getDouble(3) == 2.333333) // 7/3
    assert(r.getDouble(4) == 2.0)      // cube root of 8
    assert(r.getDouble(5) == 1.714286) // 3 / 1.75
  }

  test("whaleShare: ceil cuts, deterministic ranking, exact shares") {
    // users 1..10 with values $1..$10: top-10% = {10} -> 10/55,
    // top-50% = {10..6} -> 40/55
    val df = (1L to 10L).map(u => (u, u.toDouble)).toDF("u", "v")
    val r = Stats.whaleShare(df, "u", col("v"), pcts = Seq(10, 50))
      .orderBy("pct").collect()
    assert((r(0).getInt(0), r(0).getLong(1), r(0).getLong(2)) ==
      ((10, 1L, 1000L)))
    assert(r(0).getDouble(3) == math.round(10.0 / 55.0 * 1e6) / 1e6)
    assert((r(1).getInt(0), r(1).getLong(1), r(1).getLong(2)) ==
      ((50, 5L, 600L)))
    assert(r(1).getDouble(3) == math.round(40.0 / 55.0 * 1e6) / 1e6)
  }
  test("mannWhitney: hand U with ties; all-tied group degenerates to null z") {
    import spark.implicits._
    // g: s1 = {1,2}, s2 = {2,3,3}: U1 = 0.5 (one tie pair), ties Σ(t³−t)=12,
    // σ² = 0.5·(6 − 12/20) = 2.7, z = (1−6)/(2√2.7)
    val df = Seq(("g", 1L, true), ("g", 2L, true), ("g", 2L, false),
      ("g", 3L, false), ("g", 3L, false),
      ("h", 7L, true), ("h", 7L, false), ("h", 7L, false))
      .toDF("grp", "v", "s")
    val r = Stats.mannWhitney(df, "v", col("s"), Seq("grp"))
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3),
          if (x.isNullAt(4)) null else x.getDouble(4))).toMap
    val zExp = math.round(-5.0 / (2.0 * math.sqrt(2.7)) * 1e6) / 1e6
    assert(r("g") == ((2L, 3L, 0.5, zExp)))
    assert(r("h") == ((1L, 2L, 1.0, null))) // all tied -> σ² = 0 -> null
  }

  test("bhFdr: step-up rescues a mid-rank failure; q stays rational") {
    import spark.implicits._
    // q = 3/10, m = 3: thresholds 0.1/0.2/0.3 — rank 2 (p=.25) fails its
    // own threshold but rank 3 passes, so the STEP-UP flags all three
    val df = Seq(("a", 0.02), ("b", 0.25), ("c", 0.26)).toDF("id", "p")
    val r = Stats.bhFdr(df, "id", col("p"), qNum = 3, qDen = 10)
      .collect().map(x => x.getString(0) ->
        (x.getInt(2), x.getDouble(3), x.getBoolean(4))).toMap
    assert(r("a") == ((1, 0.1, true)))
    assert(r("b") == ((2, 0.2, true)))   // rescued by rank 3
    assert(r("c") == ((3, 0.3, true)))
    // nothing passes -> zero discoveries, no null leakage
    val none = Stats.bhFdr(Seq(("a", 0.5), ("b", 0.75)).toDF("id", "p"),
      "id", col("p"), qNum = 1, qDen = 10).collect()
    assert(none.forall(!_.getBoolean(4)))
    // a NULL p raises loudly (the byFdr/storeyQ discipline)
    val withNull = Seq(("a", Some(0.01)), ("b", None: Option[Double]))
      .toDF("id", "p")
    val ex = intercept[Exception] {
      Stats.bhFdr(withNull, "id", col("p"), qNum = 1, qDen = 10).collect()
    }
    assert(ex.toString.contains("null p-value") ||
      Option(ex.getCause).exists(_.toString.contains("null p-value")),
      s"expected the null-p raise, got: $ex")
  }

  test("tCloseness: hand EMD on a 2-value vocabulary; k=1 degenerates") {
    import spark.implicits._
    // global {0:2, 1:2}: group A all-0 and B all-1 both sit EMD 0.5 away;
    // the balanced group scores 0
    val df = Seq(("A", 0L), ("A", 0L), ("B", 1L), ("B", 1L),
      ("C", 0L), ("C", 1L)).toDF("g", "v")
    // groups A,B over global {0:3,1:3}: A: v0 |2·6−3·2| = 6, v1 0 -> 6/(2·6·1)
    val r = Stats.tCloseness(df, Seq("g"), col("v"))
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), if (x.isNullAt(2)) null else x.getDouble(2))).toMap
    assert(r("A") == ((2L, 0.5)) && r("B") == ((2L, 0.5)))
    assert(r("C") == ((2L, 0.0)))
    val k1 = Stats.tCloseness(Seq(("A", 1L), ("B", 1L)).toDF("g", "v"),
      Seq("g"), col("v")).collect()
    assert(k1.forall(_.isNullAt(2)))
  }
  test("mutualInformation: independence -> 0, identity -> H with nmi 1") {
    import spark.implicits._
    val dep = Seq(("a", "x"), ("a", "x"), ("b", "y"), ("b", "y"))
      .toDF("u", "v")
    val r = Stats.mutualInformation(dep, col("u"), col("v")).collect()(0)
    val ln2 = math.round(math.log(2) * 1e6) / 1e6
    assert(r.getLong(0) == 4L && r.getDouble(1) == ln2)
    assert(r.getDouble(2) == ln2 && r.getDouble(3) == ln2)
    assert(r.getDouble(4) == 1.0)
    val ind = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"))
      .toDF("u", "v")
    val r2 = Stats.mutualInformation(ind, col("u"), col("v")).collect()(0)
    assert(r2.getDouble(1) == 0.0 && r2.getDouble(4) == 0.0)
    // constant column: zero marginal entropy -> nmi null
    val const = Seq(("a", "x"), ("b", "x")).toDF("u", "v")
    assert(Stats.mutualInformation(const, col("u"), col("v"))
      .collect()(0).isNullAt(4))
  }

  test("twoProportionTest: hand z with pooled variance; degenerate guards") {
    import spark.implicits._
    // g: 6/10 vs 4/10 -> pp = .5, se = sqrt(.05), z = .2/sqrt(.05)
    // h: both samples all-success -> pp = 1 -> z null, odds null, rr 1.0
    val rows = (1 to 10).flatMap { i =>
      Seq(("g", true, i <= 6), ("g", false, i <= 4),
        ("h", true, true), ("h", false, true))
    }
    val r = Stats.twoProportionTest(rows.toDF("grp", "s", "y"),
        col("s"), col("y"), Seq("grp"))
      .collect().map(x => x.getString(0) -> x).toMap
    val g = r("g")
    assert((g.getLong(1), g.getLong(2), g.getLong(3), g.getLong(4)) ==
      ((10L, 6L, 10L, 4L)))
    assert(g.getDouble(5) == 0.6 && g.getDouble(6) == 0.4)
    assert(g.getDouble(7) == math.round(0.2 / math.sqrt(0.05) * 1e6) / 1e6)
    assert(g.getDouble(8) == 1.5 && g.getDouble(9) == 2.25)
    val h = r("h")
    assert(h.isNullAt(7) && h.getDouble(8) == 1.0 && h.isNullAt(9))
  }
  test("woeIv: hand woe/iv; zero-bad bin nulls out and skips the total") {
    import spark.implicits._
    val rows = Seq((1L, true), (1L, true), (1L, false),
      (2L, true), (2L, false), (2L, false), (2L, false),
      (3L, true))
    val r = Stats.woeIv(rows.toDF("bin", "y"), col("bin"), col("y"))
      .collect().map(x => x.getLong(0) -> x).toMap
    val iv1 = java.math.BigDecimal.valueOf(0.25 * math.log(2.0))
      .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue()
    val iv2 = java.math.BigDecimal.valueOf(-0.5 * math.log(1.0 / 3.0))
      .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue()
    assert(r(1L).getDouble(3) == math.round(math.log(2.0) * 1e6) / 1e6)
    assert(r(2L).getDouble(3) == math.round(math.log(1.0 / 3.0) * 1e6) / 1e6)
    assert(r(3L).isNullAt(3) && r(3L).isNullAt(4))
    val total = math.round((iv1 + iv2) * 1e6) / 1e6
    assert(r(1L).getDouble(5) == total && r(3L).getDouble(5) == total)
  }
  test("empiricalBayesRates: MoM prior, posterior pull, degenerate fallback") {
    import spark.implicits._
    // prior fit on two n=10 keys with rates .2/.4: m=.3, v=.01 ->
    // scale 20, Beta(6, 14); the n=1 key shrinks hard toward the prior
    val rows = (1 to 10).flatMap(i => Seq(("A", i <= 2), ("B", i <= 4))) :+
      (("C", true))
    val r = Stats.empiricalBayesRates(rows.toDF("k", "y"), "k", col("y"))
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("A").getDouble(4) == 6.0 && r("A").getDouble(5) == 14.0)
    assert(r("A").getDouble(6) == math.round(8.0 / 30.0 * 1e6) / 1e6)
    assert(r("B").getDouble(6) == math.round(10.0 / 30.0 * 1e6) / 1e6)
    assert(r("C").getDouble(3) == 1.0 &&
      r("C").getDouble(6) == math.round(7.0 / 21.0 * 1e6) / 1e6)
    // all prior-eligible rates equal -> v = 0 -> no prior, shrunk = raw
    val flat = (1 to 10).flatMap(i => Seq(("A", i <= 3), ("B", i <= 3)))
    val f = Stats.empiricalBayesRates(flat.toDF("k", "y"), "k", col("y"))
      .collect().head
    assert(f.isNullAt(4) && f.getDouble(6) == f.getDouble(3))
  }

  test("propensityMatch: canonical tie control, backward preference, caliper") {
    import spark.implicits._
    val df = Seq(
      (1L, true, 10L, 100.0, 0), (5L, true, 100L, 1.0, 0),
      (2L, false, 8L, 50.0, 0), (3L, false, 12L, 70.0, 0),
      (4L, false, 12L, 99.0, 0),     // score tie: id 3 is canonical
      (6L, true, 7L, 9.0, 1))        // stratum 1 has no controls
      .toDF("id", "tr", "score", "y", "st")
    val r = Stats.propensityMatch(df, "id", col("tr"), col("score"),
        col("y"), col("st"), caliper = 5L)
      .collect().map(x => (x.getLong(1), x.getLong(4), x.getLong(5),
        x.getDouble(6)))
    // treated 1: dist 2 both sides -> backward (score 8) wins;
    // treated 5 out of caliper; treated 6 unmatched
    assert(r.toSeq == Seq((1L, 2L, 8L, 50.0)))
  }

  test("srmCheck: balanced passes, 90/10 flags") {
    import spark.implicits._
    val rows = (1 to 100).map(i => ("g", i <= 60)) ++
      (1 to 1000).map(i => ("h", i <= 900))
    val r = Stats.srmCheck(rows.toDF("grp", "a"), col("a"), Seq("grp"))
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getDouble(3), x.getDouble(4), x.getBoolean(5)))
      .toMap
    assert(r("g") == ((60L, 50.0, 4.0, false)))
    assert(r("h") == ((900L, 500.0, 640.0, true)))
  }
  test("rankingMetricsAtK: k cutoff, padded precision, truth-side zero rows") {
    import spark.implicits._
    val cand = Seq(("q1", "a", 1), ("q1", "x", 2), ("q1", "b", 3),
      ("q3", "z", 1)).toDF("q", "i", "r")
    val truth = Seq(("q1", "a"), ("q1", "b"), ("q2", "c")).toDF("q", "i")
    val r = Stats.rankingMetricsAtK(cand, "q", "i", col("r"),
        truth, "q", "i", k = 2)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3), x.getDouble(4),
          x.getBoolean(5))).toMap
    // q1: rank<=2 is {a, x} -> 1 hit; b at rank 3 is outside k
    assert(r("q1") == ((2L, 1L, 0.5, 0.5, true)))
    // q2 never got candidates: zero row, not a dropped query
    assert(r("q2") == ((1L, 0L, 0.0, 0.0, false)))
    // q3 has no truth: out of the eval universe
    assert(!r.contains("q3") && r.size == 2)
  }
  test("generalizationLadder: per-level risk accounting, first safe level") {
    import spark.implicits._
    val df = Seq(("n1", "a"), ("n1", "b"), ("n1", "b"), ("n2", "c"),
      ("n2", "c"), ("n2", "c")).toDF("c1", "c2")
    val r = Stats.generalizationLadder(df,
        Seq(Seq(col("c1"), col("c2")), Seq(col("c1")), Seq(lit("*"))), k = 3)
      .collect().map(x => x.getInt(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getBoolean(4))).toMap
    assert(r(0) == ((3L, 1L, 3L, false)))  // groups 1,2,3: two at risk
    assert(r(1) == ((2L, 3L, 0L, true)))
    assert(r(2) == ((1L, 6L, 0L, true)))
  }
  test("theilDecomposition: equal group -> 0; hand within; x <= 0 drops") {
    import spark.implicits._
    // A = {2,2}: within 0. B = {1,3}: 3ln3/4 + ln(1/2). Equal-mean groups
    // -> both between terms exactly ln(1) = 0. The 0-value row drops.
    val df = Seq(("A", 2.0), ("A", 2.0), ("B", 1.0), ("B", 3.0),
      ("B", 0.0)).toDF("g", "x")
    val r = Stats.theilDecomposition(df, "g", col("x"))
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getDouble(3), x.getDouble(4), x.getDouble(5)))
      .toMap
    val tb = math.round((3 * math.log(3) / 4 + math.log(0.5)) * 1e6) / 1e6
    assert(r("A") == ((2L, 0.5, 0.0, 0.0)))
    assert(r("B") == ((2L, 0.5, tb, 0.0)))
  }

  test("bartlettTest: hand T on two groups; zero-variance group -> null") {
    import spark.implicits._
    // g1={1,2,3,4} s2=5/3, g2={2,4,6} s2=4: s_p2=2.6,
    // T = (5 ln 2.6 - 3 ln(5/3) - 2 ln 4) / (1 + (1/3+1/2-1/5)/3)
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
      ("b", 2.0), ("b", 4.0), ("b", 6.0)).toDF("g", "v")
    val r = Stats.bartlettTest(df, col("g"), col("v")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 7L, 1L)))
    assert(r.getDouble(3) == 0.390131, s"t: $r")
    // a constant group has ln s2 undefined -> null statistic, groups kept
    val dg = Seq(("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 4.0))
      .toDF("g", "v")
    val r2 = Stats.bartlettTest(dg, col("g"), col("v")).collect()(0)
    assert(r2.getLong(0) == 2L && r2.isNullAt(3))
    // singleton groups drop before k counts them
    val ds = Seq(("a", 1.0), ("a", 2.0), ("a", 4.0), ("b", 9.0))
      .toDF("g", "v")
    assert(Stats.bartlettTest(ds, col("g"), col("v"))
      .collect()(0).getLong(0) == 1L)
  }

  test("grubbsTest: hand G on {1,2,3,10}; min value breaks a tied max gap") {
    import spark.implicits._
    val df = Seq(1.0, 2.0, 3.0, 10.0).toDF("v")
    val r = Stats.grubbsTest(df, col("v")).collect()(0)
    assert(r.getLong(0) == 4L)
    assert(r.getDouble(1) == 4.0 && r.getDouble(2) == 4.082483)
    assert(r.getDouble(3) == 1.469694, s"g: $r")
    assert(r.getDouble(4) == 10.0)
    // {0,4}: both gaps tie at 2 -> deterministic pick = the smaller value
    val dt = Seq(0.0, 4.0, 2.0).toDF("v")
    assert(Stats.grubbsTest(dt, col("v")).collect()(0).getDouble(4) == 0.0)
  }

  test("ordinalAssociation: 2x2 hand gamma/somers/tau-c") {
    import spark.implicits._
    // cells: (1,1)x3, (1,2)x1, (2,1)x1, (2,2)x3 -> C=9, D=1,
    // tyOnly=6, txOnly=6: gamma=.8, D_yx=D_xy=.5, tau_c=2*2*8/(64*1)=.5
    val rows = Seq.fill(3)((1, 1)) ++ Seq((1, 2), (2, 1)) ++
      Seq.fill(3)((2, 2))
    val r = Stats.ordinalAssociation(rows.toDF("x", "y"),
      col("x"), col("y")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((8L, 2L, 2L)))
    assert((r.getDouble(3), r.getDouble(4)) == ((9.0, 1.0)))
    assert(r.getDouble(5) == 0.8, s"gamma: $r")
    assert(r.getDouble(6) == 0.5 && r.getDouble(7) == 0.5)
    assert(r.getDouble(8) == 0.5, s"tau_c: $r")
  }

  test("uncertaintyCoefficient: perfect dependence scores 1 everywhere") {
    import spark.implicits._
    val df = Seq(("x", "x"), ("x", "x"), ("y", "y"), ("y", "y"))
      .toDF("a", "b")
    val r = Stats.uncertaintyCoefficient(df, col("a"), col("b"))
      .collect()(0)
    assert(r.getLong(0) == 4L)
    assert(r.getDouble(1) == math.round(math.log(2.0) * 1e6) / 1e6)
    assert(r.getDouble(2) == 1.0 && r.getDouble(3) == 1.0 &&
      r.getDouble(4) == 1.0, s"u: $r")
  }

  test("ksExponential: hand D with the F-hat jump at each value") {
    import spark.implicits._
    // {1,1,3}: lambda = .6; the lower step at v=1 dominates:
    // D = F(1) = 1 - e^-0.6
    val df = Seq(1.0, 1.0, 3.0).toDF("v")
    val r = Stats.ksExponential(df, col("v")).collect()(0)
    assert(r.getLong(0) == 3L && r.getDouble(1) == 0.6)
    assert(r.getDouble(2) == 0.451188, s"d: $r")
    // outside the exponential's support: raise, don't silently drop
    intercept[Exception] {
      Stats.ksExponential(Seq(1.0, -2.0).toDF("v"), col("v")).collect()
    }
    // all-zero sample: lambda undefined -> rate and d_stat null loudly
    val z = Stats.ksExponential(Seq(0.0, 0.0).toDF("v"), col("v"))
      .collect()(0)
    assert(z.getLong(0) == 2L && z.isNullAt(1) && z.isNullAt(2), s"z: $z")
  }

  test("meanExcess: hand excesses over an ascending grid") {
    import spark.implicits._
    val df = Seq(1.0, 2.0, 5.0, 10.0).toDF("v")
    val r = Stats.meanExcess(df, col("v"), Seq(0.0, 4.0, 20.0)).collect()
    assert((r(0).getLong(1), r(0).getDouble(2)) == ((4L, 4.5)))
    assert((r(1).getLong(1), r(1).getDouble(2)) == ((2L, 3.5)))
    assert(r(2).getLong(1) == 0L && r(2).isNullAt(2), s"u20: ${r(2)}")
  }

  test("ratioMetricCi: delta-method se on hand unit pairs") {
    import spark.implicits._
    // (x,y) = (1,1),(3,2),(2,1): R = 1.5, vx=1, vy=1/3, cxy=.5
    // -> se = sqrt(.25/(3*(4/3)^2)) = 0.216506
    val df = Seq((1.0, 1.0), (3.0, 2.0), (2.0, 1.0)).toDF("x", "y")
    val r = Stats.ratioMetricCi(df, col("x"), col("y")).collect()(0)
    assert(r.getLong(0) == 3L && r.getDouble(1) == 1.5)
    assert(r.getDouble(2) == 0.216506, s"se: $r")
    assert(r.getDouble(3) == 1.075648 && r.getDouble(4) == 1.924352)
  }

  test("spiegelhalterZ: hand symmetric pair; out-of-range p raises") {
    import spark.implicits._
    val df = Seq((0.8, true), (0.2, false)).toDF("p", "y")
    val r = Stats.spiegelhalterZ(df, col("p"), col("y")).collect()(0)
    assert(r.getLong(0) == 2L && r.getDouble(1) == -0.707107, s"z: $r")
    val bad = Seq((1.5, true)).toDF("p", "y")
    intercept[Exception] {
      Stats.spiegelhalterZ(bad, col("p"), col("y")).collect()
    }
  }

  test("brierDecomposition: Murphy identity exact at constant bin p") {
    import spark.implicits._
    // bins=2: (0.2,F),(0.2,T),(0.8,T),(0.8,T): BS=.19, REL=.065,
    // RES=.0625, UNC=.1875 -> REL-RES+UNC = BS exactly
    val df = Seq((0.2, false), (0.2, true), (0.8, true), (0.8, true))
      .toDF("p", "y")
    val r = Stats.brierDecomposition(df, col("p"), col("y"), bins = 2)
      .collect()(0)
    assert(r.getLong(0) == 4L)
    assert(r.getDouble(1) == 0.19 && r.getDouble(2) == 0.065)
    assert(r.getDouble(3) == 0.0625 && r.getDouble(4) == 0.1875, s"bd: $r")
    // the spiegelhalterZ guard: p outside [0,1] raises, never clamps
    intercept[Exception] {
      Stats.brierDecomposition(Seq((1.2, true)).toDF("p", "y"),
        col("p"), col("y")).collect()
    }
    intercept[Exception] {
      Stats.brierDecomposition(Seq((-0.1, false)).toDF("p", "y"),
        col("p"), col("y")).collect()
    }
  }

  test("taylorsLaw: exact power-2 scaling recovers slope 2, r = 1") {
    import spark.implicits._
    // groups (mean, var) = (2,2), (4,8), (8,32): ln var = ln 2 + 2 ln
    // (mean/2) -> slope 2, intercept -ln 2, r = 1
    val df = Seq(("a", 1.0), ("a", 3.0), ("b", 2.0), ("b", 6.0),
      ("c", 4.0), ("c", 12.0)).toDF("g", "v")
    val r = Stats.taylorsLaw(df, col("g"), col("v")).collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((3L, 0L)))
    assert(r.getDouble(2) == 2.0, s"slope: $r")
    assert(r.getDouble(3) == math.round(-math.log(2.0) * 1e6) / 1e6)
    assert(r.getDouble(4) == 1.0, s"r: $r")
    // a constant group is excluded and counted
    val dz = Seq(("a", 1.0), ("a", 3.0), ("z", 5.0), ("z", 5.0))
      .toDF("g", "v")
    val r2 = Stats.taylorsLaw(dz, col("g"), col("v")).collect()(0)
    assert((r2.getLong(0), r2.getLong(1)) == ((1L, 1L)))
  }

  test("dispersionIndex: Poisson-like vmr 1; zero-variance and zero-mean") {
    import spark.implicits._
    val df = Seq(("g", 1.0), ("g", 3.0), ("h", 2.0), ("h", 2.0),
      ("h", 2.0), ("z", 0.0), ("z", 0.0)).toDF("s", "v")
    val r = Stats.dispersionIndex(df, "s", col("v"))
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("g").getDouble(2) == 2.0 && r("g").getDouble(3) == 1.0 &&
      r("g").getDouble(4) == 1.0)
    assert(r("h").getDouble(3) == 0.0 && r("h").getDouble(4) == 0.0)
    assert(r("z").isNullAt(3) && r("z").isNullAt(4), s"z: ${r("z")}")
  }

  test("distributionDistance: mirrored 2-category split; hand TVD/H") {
    import spark.implicits._
    // a = 3x + 1y, b = 1x + 3y: TVD = .5, BC = 2 sqrt(.1875),
    // H = sqrt(1 - BC)
    val rows = Seq.fill(3)(("a", "x")) ++ Seq(("a", "y"), ("b", "x")) ++
      Seq.fill(3)(("b", "y"))
    val r = Stats.distributionDistance(rows.toDF("g", "c"), "g",
      col("c"), "a", "b").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 4L, 2L)))
    assert(r.getDouble(3) == 0.5, s"tvd: $r")
    assert(r.getDouble(4) == 0.866025, s"bc: $r")
    assert(r.getDouble(5) == 0.366025, s"h: $r")
  }

  test("qnScale: k-th pairwise gap with ties; hand pick") {
    import spark.implicits._
    // {1,3,6,10}: gaps 2,3,4,5,7,9; h=3, k=3 -> gap 4 -> qn = 2.2219*4
    val df = Seq(1.0, 3.0, 6.0, 10.0).toDF("v")
    val r = Stats.qnScale(df, col("v")).collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((4L, 3L)))
    assert(r.getDouble(2) == 4.0 && r.getDouble(3) == 8.8876, s"qn: $r")
    // massive tie: all gaps 0 -> qn = 0
    val t = Seq.fill(5)(7.0).toDF("v")
    assert(Stats.qnScale(t, col("v")).collect()(0).getDouble(3) == 0.0)
  }

  test("giniMeanDifference: hand pairwise gaps; relative form") {
    import spark.implicits._
    // {1,2,4}: gaps 1+3+2 = 6 -> gmd = 6/3 = 2; rel = gmd/mean = 6/7
    val df = Seq(1.0, 2.0, 4.0).toDF("v")
    val r = Stats.giniMeanDifference(df, col("v")).collect()(0)
    assert(r.getLong(0) == 3L)
    assert(r.getDouble(1) == 2.0, s"gmd: $r")
    assert(r.getDouble(2) == 0.857143, s"rel: $r")
  }

  test("neymanAllocation: sd-proportional rates; constant strata get 0") {
    import spark.implicits._
    // A={0,10} sd=sqrt50, B={5,5} sd=0: all weight to A ->
    // rate_A = 1*w/(w)/2 = .5, rate_B = 0 (and B samples nothing)
    val df = Seq(("A", 0.0, 1L), ("A", 10.0, 2L), ("B", 5.0, 3L),
      ("B", 5.0, 4L)).toDF("s", "v", "k")
    val r = Stats.neymanAllocation(df, "s", col("v"), col("k"),
      totalN = 1.0, salt = "ney-v1").orderBy("stratum").collect()
    assert(r(0).getString(0) == "A" && r(0).getDouble(3) == 0.5)
    assert(r(0).getLong(4) <= 2L)
    assert(r(1).getString(0) == "B" && r(1).getDouble(3) == 0.0 &&
      r(1).getLong(4) == 0L, s"b: ${r(1)}")
  }

  test("errAtK: cascade stop probabilities; hand ERR") {
    import spark.implicits._
    // grades 3,0,2 at ranks 1,2,3 (gmax=3): R = .875, 0, .375
    // ERR = .875 + 0 + .375/3*.125 = 0.890625
    val df = Seq(("q", 1, 3), ("q", 2, 0), ("q", 3, 2))
      .toDF("query", "rank", "grade")
    val r = Stats.errAtK(df, "query", col("rank"), col("grade"),
      k = 10, gmax = 3).collect()(0)
    assert(r.getLong(1) == 3L && r.getDouble(2) == 0.890625, s"err: $r")
    // grades outside [0, gmax] raise: no silent clamp, no negative R
    intercept[Exception] {
      Stats.errAtK(Seq(("q", 1, 4)).toDF("query", "rank", "grade"),
        "query", col("rank"), col("grade"), k = 10, gmax = 3).collect()
    }
    intercept[Exception] {
      Stats.errAtK(Seq(("q", 1, -1)).toDF("query", "rank", "grade"),
        "query", col("rank"), col("grade"), k = 10, gmax = 3).collect()
    }
  }

  test("mahalanobis2d: joint-ellipse census; hand d2") {
    import spark.implicits._
    // points (0,0),(1,1),(2,2),(0,2): d2 = 2.33, .33, 2.33, 3.0
    // -> exactly one above 2.5
    val df = Seq((0.0, 0.0), (1.0, 1.0), (2.0, 2.0), (0.0, 2.0))
      .toDF("x", "y")
    val r = Stats.mahalanobis2d(df, col("x"), col("y"), cutoff = 2.5)
      .collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((4L, 1L)))
    assert(r.getDouble(2) == 3.0, s"maha: $r")
  }

  test("dunnPosthoc: pooled midranks with ties; hand z") {
    import spark.implicits._
    // a={1,2}, b={2,3,3}: midranks 1, 2.5, 4.5; Rbar_a=1.75,
    // Rbar_b=23/6; ties 12 -> sigma2=1.875
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 2.0), ("b", 3.0),
      ("b", 3.0)).toDF("g", "v")
    val r = Stats.dunnPosthoc(df, col("g"), col("v")).collect()(0)
    assert((r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)) ==
      (("a", "b", 2L, 3L)))
    assert(r.getDouble(4) == 1.75 && r.getDouble(5) == 3.833333)
    assert(r.getDouble(6) == -1.521452, s"z: $r")
  }

  test("seasonalMannKendall: within-season pairs only; hand S and z") {
    import java.sql.Timestamp
    def t(d: Int) = new Timestamp(86400000L * d)
    // period 2: even days 1,2,3 and odd days 5,6,7 both trend up ->
    // S = 6, Var = 2 * 66/18, z = 5/sqrt(22/3)
    val counts = Seq(1, 5, 2, 6, 3, 7)
    val rows = counts.zipWithIndex.flatMap { case (c, d) =>
      Seq.fill(c)(t(d + 10)) }
    val r = Stats.seasonalMannKendall(rows.toDF("ts"), "ts", period = 2)
      .collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((6L, 6L)))
    assert(r.getDouble(2) == 7.333333 && r.getDouble(3) == 1.846372,
      s"smk: $r")
  }

  test("hodgesLehmann: lower median of the Walsh averages") {
    import spark.implicits._
    // {1,2,6}: Walsh = 1, 1.5, 2, 3.5, 4, 6 -> 3rd smallest = 2
    val df = Seq(1.0, 2.0, 6.0).toDF("v")
    val r = Stats.hodgesLehmann(df, col("v")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) ==
      ((3L, 6L, 6.0)))
    assert(r.getDouble(3) == 2.0, s"hl: $r")
    // even pair count keeps the lower element: {1,3} -> Walsh 1, 2, 3
    // -> median idx ceil(3/2)=2 -> 2.0
    val d2 = Seq(1.0, 3.0).toDF("v")
    assert(Stats.hodgesLehmann(d2, col("v")).collect()(0)
      .getDouble(3) == 2.0)
  }

  test("weightedKappa: linear vs quadratic on a 3-level confusion") {
    import spark.implicits._
    // cells (0,0)x2, (0,1), (1,2), (2,2)x2: kL = 1 - 12/36,
    // kQ = 1 - 12/62
    val rows = Seq.fill(2)((0, 0)) ++ Seq((0, 1), (1, 2)) ++
      Seq.fill(2)((2, 2))
    val r = Stats.weightedKappa(rows.toDF("a", "b"), col("a"), col("b"))
      .collect()(0)
    assert(r.getLong(0) == 6L)
    assert(r.getDouble(1) == 0.666667, s"kl: $r")
    assert(r.getDouble(2) == 0.806452, s"kq: $r")
  }

  test("gamesHowell: hand pairwise t/df/q on unequal variances") {
    import spark.implicits._
    // g1={1,2,3,4}, g2={2,4,6}: diff=1.5, se2=1.75 -> t=1.133893,
    // Welch df=3.234719, q=|diff|/sqrt(se2/2)=1.603567
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
      ("b", 2.0), ("b", 4.0), ("b", 6.0)).toDF("g", "v")
    val r = Stats.gamesHowell(df, col("g"), col("v")).collect()
    assert(r.length == 1)
    val p = r(0)
    assert((p.getString(0), p.getString(1), p.getLong(2), p.getLong(3)) ==
      (("a", "b", 4L, 3L)))
    assert(p.getDouble(4) == 1.5 && p.getDouble(5) == 1.133893)
    assert(p.getDouble(6) == 3.234719 && p.getDouble(7) == 1.603567,
      s"gh: $p")
  }

  test("mcnemarBowker: canonical off-diagonal pairs; hand chi2") {
    import spark.implicits._
    // cells (x,y)x3, (y,x)x1, (x,z)x2, (z,z)x4: pair xy term 4/4=1,
    // pair xz term 4/2=2 -> chi2=3, df=2, 6 off-diagonal units of 10
    val rows = Seq.fill(3)(("x", "y")) ++ Seq(("y", "x")) ++
      Seq.fill(2)(("x", "z")) ++ Seq.fill(4)(("z", "z"))
    val r = Stats.mcnemarBowker(rows.toDF("a", "b"), col("a"), col("b"))
      .collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((6L, 10L, 2L)))
    assert(r.getDouble(3) == 3.0, s"chi2: $r")
  }

  test("linCcc: hand concordance vs pearson on a shifted pair") {
    import spark.implicits._
    val df = Seq((1.0, 1.0), (2.0, 2.0), (3.0, 4.0)).toDF("x", "y")
    val r = Stats.linCcc(df, col("x"), col("y")).collect()(0)
    assert(r.getLong(0) == 3L)
    assert(r.getDouble(1) == 2.0 && r.getDouble(2) == 2.333333)
    assert(r.getDouble(3) == 0.981981, s"r: $r")
    assert(r.getDouble(4) == 0.857143, s"ccc: $r")
  }

  test("demingRegression: hand orthogonal slope; sxy=0 -> null") {
    import spark.implicits._
    val df = Seq((1.0, 1.0), (2.0, 2.0), (3.0, 4.0)).toDF("x", "y")
    val r = Stats.demingRegression(df, col("x"), col("y")).collect()(0)
    assert(r.getDouble(1) == 1.538762 && r.getDouble(2) == -0.744191,
      s"deming: $r")
    // flat y: sxy = 0 -> degenerate root -> null slope
    val flat = Seq((1.0, 5.0), (2.0, 5.0), (3.0, 5.0)).toDF("x", "y")
    assert(Stats.demingRegression(flat, col("x"), col("y"))
      .collect()(0).isNullAt(1))
  }

  test("rankBiasedOverlap: identical lists score 1; reversed pair at p=.5") {
    import spark.implicits._
    // identical: W(1)+W(2) = 1.25+0.25 -> (1-p)*1.5/(1-p^2) = 1
    val same = Seq((1, 1), (2, 2)).toDF("ra", "rb")
    val r1 = Stats.rankBiasedOverlap(same, Seq.empty, col("ra"), col("rb"),
      k = 2, p = 0.5).collect()(0)
    assert(r1.getLong(0) == 2L && r1.getDouble(1) == 1.0, s"rbo: $r1")
    // reversed: both items enter at depth 2 -> 2*W(2)=0.5 -> 1/3
    val rev = Seq((1, 2), (2, 1)).toDF("ra", "rb")
    val r2 = Stats.rankBiasedOverlap(rev, Seq.empty, col("ra"), col("rb"),
      k = 2, p = 0.5).collect()(0)
    assert(r2.getLong(0) == 2L && r2.getDouble(1) == 0.333333, s"rbo: $r2")
    // an item outside either top-k contributes nothing
    val part = Seq((1, 1), (2, 5)).toDF("ra", "rb")
    val r3 = Stats.rankBiasedOverlap(part, Seq.empty, col("ra"), col("rb"),
      k = 2, p = 0.5).collect()(0)
    assert(r3.getLong(0) == 1L, s"rbo: $r3")
    // an item with a rank in only ONE list (outer-join shape) is not
    // common: greatest/least skip NULLs, so the explicit guard matters
    val nul = Seq((Some(1), Some(1)), (Some(2), None))
      .toDF("ra", "rb")
    val r4 = Stats.rankBiasedOverlap(nul, Seq.empty, col("ra"), col("rb"),
      k = 2, p = 0.5).collect()(0)
    assert(r4.getLong(0) == 1L, s"rbo-null: $r4")
  }

  test("hillEstimator: exact 2ln2 xi on a geometric tail; <=0 raises") {
    import spark.implicits._
    // powers of 2, k=3: top-4 = 128,64,32,16; S = 6 ln 2 -> xi = 2 ln 2
    val df = Seq(1.0, 2.0, 4.0, 8.0, 16.0, 32.0, 64.0, 128.0).zipWithIndex
      .toDF("v", "tie")
    val r = Stats.hillEstimator(df, col("v"), col("tie"), k = 3)
      .collect()(0)
    assert(r.getLong(0) == 4L && r.getDouble(1) == 16.0)
    assert(r.getDouble(2) == 1.386294 && r.getDouble(3) == 0.721348,
      s"hill: $r")
    // fewer than k+1 rows: xi/alpha null loudly
    val small = Seq(1.0, 2.0).zipWithIndex.toDF("v", "tie")
    val r2 = Stats.hillEstimator(small, col("v"), col("tie"), k = 3)
      .collect()(0)
    assert(r2.isNullAt(2) && r2.isNullAt(3), s"hill-small: $r2")
    intercept[Exception] {
      Stats.hillEstimator(Seq(1.0, 0.0).zipWithIndex.toDF("v", "tie"),
        col("v"), col("tie"), k = 2).collect()
    }
  }

  test("pickandsEstimator: hand spacing ratio at k=1") {
    import spark.implicits._
    // desc top-4 = 17,9,5,3: xi = ln((17-9)/(9-3))/ln2 = .415037
    val df = Seq(1.0, 2.0, 3.0, 5.0, 9.0, 17.0).zipWithIndex
      .toDF("v", "tie")
    val r = Stats.pickandsEstimator(df, col("v"), col("tie"), k = 1)
      .collect()(0)
    assert(r.getDouble(0) == 17.0 && r.getDouble(1) == 9.0 &&
      r.getDouble(2) == 3.0)
    assert(r.getDouble(3) == 0.415037, s"pick: $r")
    // flat spacing (ties): xi null loudly
    val flat = Seq(5.0, 5.0, 5.0, 5.0).zipWithIndex.toDF("v", "tie")
    val r2 = Stats.pickandsEstimator(flat, col("v"), col("tie"), k = 1)
      .collect()(0)
    assert(r2.isNullAt(3), s"pick-flat: $r2")
  }

  test("weibullPlotFit: median-rank regression on 1..5; <=0 raises") {
    import spark.implicits._
    val df = Seq(1.0, 2.0, 3.0, 4.0, 5.0).zipWithIndex.toDF("v", "tie")
    val r = Stats.weibullPlotFit(df, col("v"), col("tie")).collect()(0)
    assert(r.getLong(0) == 5L)
    assert(r.getDouble(1) == 1.624158, s"shape: $r")
    assert(r.getDouble(2) == 3.524502, s"scale: $r")
    assert(r.getDouble(3) == 0.994876, s"r: $r")
    intercept[Exception] {
      Stats.weibullPlotFit(Seq(-1.0, 2.0).zipWithIndex.toDF("v", "tie"),
        col("v"), col("tie")).collect()
    }
  }

  test("sobelMediation: a/b paths and z from one moment pass") {
    import spark.implicits._
    // x->m->y hand fit: a=1.9, b=1.571429, z=4.058444
    val df = Seq((0.0, 1.0, 2.0), (1.0, 3.0, 5.0), (2.0, 4.0, 7.0),
      (3.0, 7.0, 12.0)).toDF("x", "m", "y")
    val r = Stats.sobelMediation(df, col("x"), col("m"), col("y"))
      .collect()(0)
    assert(r.getLong(0) == 4L)
    assert(r.getDouble(1) == 1.9 && r.getDouble(2) == 1.571429)
    assert(r.getDouble(3) == 2.985714 && r.getDouble(4) == 4.058444,
      s"sobel: $r")
  }

  test("eValueRR: RR 3 needs confounding strength 3 + sqrt(6)") {
    import spark.implicits._
    val rows = Seq.fill(30)((true, true)) ++ Seq.fill(70)((true, false)) ++
      Seq.fill(10)((false, true)) ++ Seq.fill(90)((false, false))
    val df = rows.toDF("e", "o")
    val r = Stats.eValueRR(df, col("e"), col("o")).collect()(0)
    assert(r.getDouble(1) == 0.3 && r.getDouble(2) == 0.1)
    assert(r.getDouble(3) == 3.0 && r.getDouble(4) == 5.44949, s"ev: $r")
  }

  test("smrIndirect: stratum-priced expectations, exact O") {
    import spark.implicits._
    // rates s1=.3 s2=.2: g1 E=4 O=5 -> 1.25; g2 E=6 O=5 -> .833333
    def mk(g: String, s0: String, n: Int, e: Int) =
      Seq.fill(e)((g, s0, true)) ++ Seq.fill(n - e)((g, s0, false))
    val df = (mk("g1", "s1", 10, 4) ++ mk("g2", "s1", 10, 2) ++
      mk("g1", "s2", 5, 1) ++ mk("g2", "s2", 15, 3)).toDF("g", "s", "ev")
    val r = Stats.smrIndirect(df, col("g"), col("s"), col("ev"))
      .orderBy("group").collect()
    assert(r(0).getLong(2) == 5L && r(0).getDouble(3) == 4.0 &&
      r(0).getDouble(4) == 1.25, s"g1: ${r(0)}")
    assert(r(1).getDouble(3) == 6.0 && r(1).getDouble(4) == 0.833333,
      s"g2: ${r(1)}")
  }

  test("attributableRisk: Levin PAF from the exact 2x2") {
    import spark.implicits._
    val rows = Seq.fill(30)((true, true)) ++ Seq.fill(70)((true, false)) ++
      Seq.fill(10)((false, true)) ++ Seq.fill(90)((false, false))
    val df = rows.toDF("e", "o")
    val r = Stats.attributableRisk(df, col("e"), col("o")).collect()(0)
    assert(r.getDouble(3) == 0.2 && r.getDouble(4) == 0.5, s"ar: $r")
  }

  test("horvitzThompson: md5 draw replayed, planted-truth totals") {
    import spark.implicits._
    // salt 'ht', rate .5: keys 1,2,4,6 keep -> HT 260 vs true 210
    val df = (1 to 6).map(k => (k.toLong, "x", k * 10.0))
      .toDF("k", "s", "v")
    val r = Stats.horvitzThompson(df, col("k"), "ht", col("s"),
      Seq("x" -> 0.5), defaultRate = 0.5, col("v")).collect()(0)
    assert(r.getLong(0) == 6L && r.getLong(1) == 4L)
    assert(r.getDouble(2) == 210.0 && r.getDouble(3) == 260.0,
      s"totals (2dp): $r")
    assert(r.getDouble(4) == 0.238095, s"ht: $r")
  }

  test("jackknifeRatio: delete-one pseudo-ratios on hand pairs") {
    import spark.implicits._
    // (1,1),(3,2),(2,1): thetas 5/3, 3/2, 4/3 -> se .19245
    val df = Seq((1.0, 1.0), (3.0, 2.0), (2.0, 1.0)).toDF("x", "y")
    val r = Stats.jackknifeRatio(df, col("x"), col("y")).collect()(0)
    assert(r.getLong(0) == 3L && r.getDouble(1) == 1.5)
    assert(r.getDouble(2) == 0.19245, s"jk: $r")
  }

  test("infoGainPanel: predictive vs constant feature in one pass") {
    import spark.implicits._
    // f1 perfectly predicts the label (MI = H = ln2, ratio 1);
    // f2 constant (MI 0, H 0 -> ratio null)
    val df = Seq(("u", "c", "p"), ("u", "c", "p"), ("v", "c", "q"),
      ("v", "c", "q")).toDF("f1", "f2", "label")
    val r = Stats.infoGainPanel(df, col("label"), Seq("f1", "f2"))
      .orderBy("feature").collect()
    assert(r(0).getDouble(2) == 0.693147 &&
      r(0).getDouble(3) == 0.693147 && r(0).getDouble(4) == 1.0,
      s"f1: ${r(0)}")
    assert(r(1).getDouble(2) == 0.0 && r(1).getDouble(3) == 0.0 &&
      r(1).isNullAt(4), s"f2: ${r(1)}")
  }

  test("negBinomFit: MoM r/p; underdispersed group nulls") {
    import spark.implicits._
    // counts 0,1,1,2,5: mean 1.8, var 3.7 -> r 1.705263, p .486486
    val df = Seq(("a", 0.0), ("a", 1.0), ("a", 1.0), ("a", 2.0),
      ("a", 5.0), ("b", 3.0), ("b", 3.0)).toDF("g", "v")
    val r = Stats.negBinomFit(df, col("g"), col("v")).orderBy("group")
      .collect()
    assert(r(0).getDouble(2) == 1.8 && r(0).getDouble(3) == 3.7)
    assert(r(0).getDouble(4) == 1.705263 && r(0).getDouble(5) == 0.486486,
      s"nb: ${r(0)}")
    // constant group: var 0 <= mean -> NB params null
    assert(r(1).isNullAt(4) && r(1).isNullAt(5), s"b: ${r(1)}")
  }

  test("poissonnessPlot: literal ln k! grid, tail counted not plotted") {
    import spark.implicits._
    // n0=4 n1=3 n2=2 and one y=5 beyond maxK=3: slope 0, lambda 1
    val df = (Seq.fill(4)(0L) ++ Seq.fill(3)(1L) ++ Seq.fill(2)(2L) ++
      Seq(5L)).toDF("y")
    val r = Stats.poissonnessPlot(df, col("y"), maxK = 3).collect()(0)
    assert(r.getLong(0) == 10L && r.getLong(1) == 1L &&
      r.getLong(2) == 3L)
    assert(r.getDouble(3) == 0.0 && r.getDouble(4) == 1.0)
    assert(r.getDouble(5) == -1.012185, s"pp: $r")
  }

  test("cameronTrivedi: overdispersion score on the NB hand sample") {
    import spark.implicits._
    val df = Seq(0.0, 1.0, 1.0, 2.0, 5.0).toDF("v")
    val r = Stats.cameronTrivedi(df, col("v")).collect()(0)
    assert(r.getLong(0) == 5L && r.getDouble(1) == 1.8)
    assert(r.getDouble(2) == 1.018956, s"ct: $r")
  }

  test("variancePanel: Cochran C, Hartley Fmax, max-group election") {
    import spark.implicits._
    // s2: a=2, b=4, c=.5 -> C = 4/6.5, Fmax = 8, max group b
    val df = Seq(("a", 1.0), ("a", 3.0), ("b", 2.0), ("b", 4.0),
      ("b", 6.0), ("c", 5.0), ("c", 6.0)).toDF("g", "v")
    val r = Stats.variancePanel(df, col("g"), col("v")).collect()(0)
    assert(r.getLong(0) == 3L && r.getLong(1) == 7L)
    assert(r.getString(2) == "b")
    assert(r.getDouble(3) == 0.615385 && r.getDouble(4) == 8.0, s"vp: $r")
  }

  test("leveneTest: ANOVA on mean-centered absolute deviations") {
    import spark.implicits._
    // devs a=[1,1], b=[2,0,2] -> F = .15
    val df = Seq(("a", 1.0), ("a", 3.0), ("b", 2.0), ("b", 4.0),
      ("b", 6.0)).toDF("g", "v")
    val r = Stats.leveneTest(df, col("g"), col("v")).collect()(0)
    assert(r.getLong(0) == 2L && r.getLong(1) == 5L)
    assert(r.getDouble(4) == 0.15, s"lv: $r")
  }

  test("stuartMaxwell3: exact rational chi2; stray category raises") {
    import spark.implicits._
    // margins d=(4,-2,-2), m12=4 m13=2 m23=2 -> chi2 = 56/20 = 2.8
    val pairs = Seq.fill(5)(("l", "l")) ++ Seq.fill(3)(("l", "m")) ++
      Seq.fill(2)(("l", "h")) ++ Seq.fill(1)(("m", "l")) ++
      Seq.fill(4)(("m", "m")) ++ Seq.fill(1)(("m", "h")) ++
      Seq.fill(1)(("h", "m")) ++ Seq.fill(2)(("h", "h"))
    val df = pairs.toDF("r", "c")
    val r = Stats.stuartMaxwell3(df, col("r"), col("c"),
      Seq("l", "m", "h")).collect()(0)
    assert(r.getLong(0) == 19L)
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((4L, -2L, -2L)))
    assert(r.getDouble(4) == 2.8 && r.getLong(5) == 2L, s"sm: $r")
    intercept[Exception] {
      Stats.stuartMaxwell3(Seq(("x", "l")).toDF("r", "c"), col("r"),
        col("c"), Seq("l", "m", "h")).collect()
    }
  }

  test("dagostinoK2: published transforms on a skewed hand sample") {
    import spark.implicits._
    // 1..19 plus 40 (n=20): python replay of the exact IEEE shapes
    val df = ((1 to 19).map(_.toDouble) :+ 40.0).toDF("v")
    val r = Stats.dagostinoK2(df, col("v")).collect()(0)
    assert(r.getLong(0) == 20L)
    assert(r.getDouble(1) == 1.705965 && r.getDouble(2) == 3.876772)
    assert(r.getDouble(3) == 3.163868 && r.getDouble(4) == 2.941306)
    assert(r.getDouble(5) == 18.661345, s"k2: $r")
    // n < 20: z's null loudly
    val small = (1 to 10).map(_.toDouble).toDF("v")
    val r2 = Stats.dagostinoK2(small, col("v")).collect()(0)
    assert(r2.isNullAt(3) && r2.isNullAt(4) && r2.isNullAt(5), s"sm: $r2")
  }

  test("chowTest: level+slope break priced by the pooled-vs-split F") {
    import spark.implicits._
    // y jumps and steepens at x=5: F = 360.545455
    val ys = Seq(0.0, 1.0, 2.0, 3.0, 4.0, 20.0, 24.0, 26.0, 30.0, 34.0)
    val df = ys.zipWithIndex.map { case (y, x) => (x.toDouble, y) }
      .toDF("x", "y")
    val r = Stats.chowTest(df, col("x"), col("y"), breakX = 5.0)
      .collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((10L, 5L, 5L)))
    assert(r.getDouble(3) == 360.545455, s"chow: $r")
  }

  test("cooksDistanceCensus: the slope-steering point wins the census") {
    import spark.implicits._
    // (10,20) has D = 32.33 >> 4/n; 1 influential point, top tie 4
    val df = Seq((1.0, 1.0, 1L), (2.0, 2.0, 2L), (3.0, 3.0, 3L),
      (10.0, 20.0, 4L)).toDF("x", "y", "tie")
    val r = Stats.cooksDistanceCensus(df, col("x"), col("y"), col("tie"))
      .collect()(0)
    assert(r.getLong(0) == 4L && r.getLong(1) == 1L)
    assert(r.getDouble(2) == 32.333333 && r.getLong(3) == 4L, s"cd: $r")
  }

  test("breuschPagan: n*R2 of squared residuals on x") {
    import spark.implicits._
    val df = Seq((1.0, 1.0), (2.0, 2.0), (3.0, 3.0), (4.0, 10.0))
      .toDF("x", "y")
    val r = Stats.breuschPagan(df, col("x"), col("y")).collect()(0)
    assert(r.getLong(0) == 4L && r.getDouble(1) == 2.8)
    assert(r.getDouble(2) == 1.395349, s"bp: $r")
  }

  test("byFdr: harmonic-factor step-up on a hand battery") {
    import spark.implicits._
    // m=4, c=25/12: thresholds .012k -> k_max = 2
    val df = Seq(("a", 0.01), ("b", 0.02), ("c", 0.2), ("d", 0.9))
      .toDF("id", "p")
    val r = Stats.byFdr(df, "id", col("p"), qNum = 1, qDen = 10)
      .orderBy("rank").collect()
    assert(r.map(_.getDouble(3)).toSeq ==
      Seq(0.012, 0.024, 0.036, 0.048))
    assert(r.map(_.getBoolean(4)).toSeq ==
      Seq(true, true, false, false), s"by: ${r.toSeq}")
    // a NULL p-value raises loudly (Spark ranks nulls first, DuckDB
    // last — a silently-admitted null would shift every threshold)
    val withNull = Seq(("a", Some(0.01)), ("b", None: Option[Double]))
      .toDF("id", "p")
    val ex = intercept[Exception] {
      Stats.byFdr(withNull, "id", col("p"), qNum = 1, qDen = 10).collect()
    }
    assert(ex.toString.contains("null p-value") ||
      Option(ex.getCause).exists(_.toString.contains("null p-value")),
      s"expected the null-p raise, got: $ex")
  }

  test("storeyQ: pi0 from the lambda tail, suffix-min q-values") {
    import spark.implicits._
    // #(p>.5)=1 -> pi0 = .5; raw = 2p/rank -> q = .02,.02,.133333,.45
    val df = Seq(("a", 0.01), ("b", 0.02), ("c", 0.2), ("d", 0.9))
      .toDF("id", "p")
    val r = Stats.storeyQ(df, "id", col("p")).orderBy("rank").collect()
    assert(r.forall(_.getDouble(3) == 0.5))
    assert(r.map(_.getDouble(4)).toSeq ==
      Seq(0.02, 0.02, 0.133333, 0.45), s"st: ${r.toSeq}")
    intercept[Exception] {
      Stats.storeyQ(Seq(("a", Option.empty[Double])).toDF("id", "p"),
        "id", col("p")).collect()
    }
  }

  // shared two-sample fixture for the rank-scale family:
  // A = {1, 5} (wide), B = {2, 3, 4} (narrow), no ties
  private def rsData = {
    import spark.implicits._
    Seq(("a", 1.0), ("a", 5.0), ("b", 2.0), ("b", 3.0), ("b", 4.0))
      .toDF("g", "v")
  }

  test("ansariBradley: tent scores on the hand fixture") {
    // A scores 1+1 = 2; z = (2-3.6)/sqrt(.84) = -1.745743
    val r = Stats.ansariBradley(rsData, col("g"), col("v"), "a", "b")
      .collect()(0)
    assert(r.getLong(0) == 2L && r.getLong(1) == 3L)
    assert(r.getDouble(2) == 2.0 && r.getDouble(3) == -1.745743, s"ab: $r")
  }

  test("moodScaleTest: centered-square scores on the hand fixture") {
    // A scores 4+4 = 8; z = 1.9518
    val r = Stats.moodScaleTest(rsData, col("g"), col("v"), "a", "b")
      .collect()(0)
    assert(r.getDouble(2) == 8.0 && r.getDouble(3) == 1.9518, s"mo: $r")
  }

  test("lepageTest: Wilcoxon + AB quadratic combine") {
    // centers match -> z_w = 0; L = z_ab^2 = 3.047619
    val r = Stats.lepageTest(rsData, col("g"), col("v"), "a", "b")
      .collect()(0)
    assert(r.getDouble(2) == 0.0 && r.getDouble(3) == -1.745743)
    assert(r.getDouble(4) == 3.047619, s"lp: $r")
  }

  test("cucconiTest: rank/antirank quadratic on the hand fixture") {
    val r = Stats.cucconiTest(rsData, col("g"), col("v"), "a", "b")
      .collect()(0)
    assert(r.getDouble(2) == 0.377627 && r.getDouble(3) == 0.377627)
    assert(r.getDouble(4) == -0.925134 && r.getDouble(5) == 1.904762,
      s"cu: $r")
  }

  test("ppccExponential: Blom plotting positions on a hand sample") {
    import spark.implicits._
    val df = Seq(1.0, 2.0, 4.0, 8.0).zipWithIndex.toDF("v", "tie")
    val r = Stats.ppccExponential(df, col("v"), col("tie")).collect()(0)
    assert(r.getLong(0) == 4L && r.getDouble(1) == 0.99902, s"ppcc: $r")
    // zero variance: null loudly
    val flat = Seq(3.0, 3.0, 3.0).zipWithIndex.toDF("v", "tie")
    val r2 = Stats.ppccExponential(flat, col("v"), col("tie")).collect()(0)
    assert(r2.isNullAt(1), s"ppcc-flat: $r2")
  }

  test("columnDriftReport: hand moments, null rates, standardized shift") {
    import spark.implicits._
    val ref = Seq((Some(1.0), 10.0), (Some(2.0), 10.0), (Some(3.0), 10.0),
      (None, 10.0)).toDF("v", "w")
    val cur = Seq((Some(4.0), 20.0), (Some(6.0), 20.0)).toDF("v", "w")
    val r = Stats.columnDriftReport(ref, cur, Seq("v", "w"))
      .collect().map(x => x.getString(0) -> x).toMap
    val v = r("v")
    assert((v.getLong(1), v.getLong(2)) == ((4L, 2L)))
    assert(v.getDouble(3) == 0.25 && v.getDouble(4) == 0.0)
    assert(v.getDouble(5) == 2.0 && v.getDouble(6) == 5.0)
    assert(v.getDouble(7) == 1.0 && v.getDouble(8) == 1.414214)
    assert(v.getDouble(9) == 3.0, s"shift: $v")
    // constant column: sd_ref = 0 -> null shift, means still report
    val w = r("w")
    assert(w.getDouble(5) == 10.0 && w.getDouble(6) == 20.0 &&
      w.isNullAt(9), s"w: $w")
  }

  test("welchAnova: hand F on unequal-variance groups; k=2 correction is 0") {
    import spark.implicits._
    // g1={1,2,3,4} (w=2.4), g2={2,4,6} (w=.75): xt=20/7, A=1.285714;
    // k=2 makes the denominator 1 -> F=A; df2 = 3/(3*lambda)
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
      ("b", 2.0), ("b", 4.0), ("b", 6.0)).toDF("g", "v")
    val r = Stats.welchAnova(df, col("g"), col("v")).collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((2L, 7L)))
    assert(r.getDouble(2) == 1.285714, s"f: $r")
    assert(r.getDouble(3) == 3.234719, s"df2: $r")
    // zero-variance group -> null statistic
    val dz = Seq(("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 4.0))
      .toDF("g", "v")
    assert(Stats.welchAnova(dz, col("g"), col("v")).collect()(0).isNullAt(2))
  }

  test("brunnerMunzel: published example (Brunner & Munzel 2000 data)") {
    import spark.implicits._
    // the reference R package example: T=3.137467, df=17.682842,
    // p_hat = P(A<B)+.5P(A=B) = 0.788961
    val xs = Seq(1, 2, 1, 1, 1, 1, 1, 1, 1, 1, 2, 4, 1, 1)
    val ys = Seq(3, 3, 4, 3, 1, 2, 3, 1, 1, 5, 4)
    val df = (xs.map(v => ("a", v.toDouble)) ++
      ys.map(v => ("b", v.toDouble))).toDF("g", "v")
    val r = Stats.brunnerMunzel(df, "g", "v", "a", "b").collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((14L, 11L)))
    assert(r.getDouble(2) == 0.788961, s"p: $r")
    assert(r.getDouble(3) == 3.137467, s"t: $r")
    assert(r.getDouble(4) == 17.682842, s"df: $r")
  }

  test("cmhTest: identical strata accumulate deviations; hand X2") {
    import spark.implicits._
    // two strata of a=10,b=5,c=5,d=10: E=7.5, V=50625/26100 each
    // -> sum_dev=5, X2 = 25/(2V) = 6.444444
    def stratum(s: Int) =
      Seq.fill(10)((s, true, true)) ++ Seq.fill(5)((s, true, false)) ++
        Seq.fill(5)((s, false, true)) ++ Seq.fill(10)((s, false, false))
    val df = (stratum(1) ++ stratum(2)).toDF("s", "e", "o")
    val r = Stats.cmhTest(df, col("s"), col("e"), col("o")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(4)) == ((2L, 60L, 1L)))
    assert(r.getDouble(2) == 5.0 && r.getDouble(3) == 6.444444, s"cmh: $r")
  }

  test("wilsonCi: symmetric at p=.5; z=1.96 hand interval") {
    import spark.implicits._
    val df = (Seq.fill(5)(("g", true)) ++ Seq.fill(5)(("g", false)))
      .toDF("g", "c")
    val r = Stats.wilsonCi(df, Seq("g"), col("c")).collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getDouble(3)) ==
      ((10L, 5L, 0.5)))
    assert(r.getDouble(4) == 0.23659 && r.getDouble(5) == 0.76341,
      s"ci: $r")
  }

  test("fisherExact: tea-tasting 2x2 two-sided mass sum") {
    import spark.implicits._
    // a=3,b=1,c=1,d=3: masses x=0..4 are {1,16,36,16,1}/70; obs mass
    // 16/70 -> two-sided p = (16+16+1+1)/70; OR = 9
    val rows = Seq.fill(3)((true, true)) ++ Seq((true, false)) ++
      Seq((false, true)) ++ Seq.fill(3)((false, false))
    val r = Stats.fisherExact(rows.toDF("x", "y"), col("x"), col("y"))
      .collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((8L, 4L, 4L, 3L)))
    assert(r.getDouble(4) == 9.0, s"or: $r")
    assert(r.getDouble(5) == math.round(34.0 / 70.0 * 1e6) / 1e6, s"p: $r")
  }

  test("krippendorffAlpha: hand coincidence; singleton units drop") {
    import spark.implicits._
    // u1=(a,a), u2=(a,b), u3=(b,b), u4=(b singleton, drops):
    // Do = 2/6, De = (36-18)/30 -> alpha = 1 - (1/3)/0.6
    val df = Seq(("u1", "a"), ("u1", "a"), ("u2", "a"), ("u2", "b"),
      ("u3", "b"), ("u3", "b"), ("u4", "b")).toDF("u", "c")
    val r = Stats.krippendorffAlpha(df, col("u"), col("c")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 6L, 2L)))
    assert(r.getDouble(3) == 0.333333 && r.getDouble(4) == 0.6)
    assert(r.getDouble(5) == 0.444444, s"alpha: $r")
  }

  test("breslowDay: identical strata -> X2 exactly 0 at the MH OR") {
    import spark.implicits._
    // two strata, each a=10,b=5,c=5,d=10: psi=4, expected a = 10 = observed
    def stratum(s: Int) =
      Seq.fill(10)((s, true, true)) ++ Seq.fill(5)((s, true, false)) ++
        Seq.fill(5)((s, false, true)) ++ Seq.fill(10)((s, false, false))
    val df = (stratum(1) ++ stratum(2)).toDF("s", "e", "o")
    val r = Stats.breslowDay(df, col("s"), col("e"), col("o")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(4)) == ((2L, 60L, 1L)))
    assert(r.getDouble(2) == 4.0 && r.getDouble(3) == 0.0, s"bd: $r")
  }

  test("quadeTest: hand range-weighted ranks, 3 units x 2 conditions") {
    import spark.implicits._
    // u1 A=1,B=5 (rng 4); u2 A=2,B=3 (rng 1); u3 A=6,B=4 (rng 2):
    // Q = 3,1,2 -> S_A=-1, S_B=1, A=7, B=2/3 -> F = 2*(2/3)/(19/3) = 4/19
    val df = Seq(("u1", "A", 1.0), ("u1", "B", 5.0), ("u2", "A", 2.0),
      ("u2", "B", 3.0), ("u3", "A", 6.0), ("u3", "B", 4.0))
      .toDF("u", "c", "v")
    val r = Stats.quadeTest(df, col("u"), col("c"), col("v")).collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((3L, 2L)))
    assert(r.getDouble(2) == math.round(4.0 / 19.0 * 1e6) / 1e6, s"f: $r")
  }

  test("quadeTest: incomplete design raises loudly") {
    import spark.implicits._
    val df = Seq(("u1", "A", 1.0), ("u1", "B", 2.0), ("u2", "A", 3.0))
      .toDF("u", "c", "v")
    val e = intercept[Exception] {
      Stats.quadeTest(df, col("u"), col("c"), col("v")).collect()
    }
    assert(e.getMessage != null)
  }

  test("conoverSquaredRanks: hand T and z with midrank ties") {
    import spark.implicits._
    // A={1,2,3} med 2 -> u {1,0,1}; B={0,4,8,12} med 4 -> u {4,0,4,8}
    // midranks: u=0 -> 1.5, u=1 -> 3.5, u=4 -> 5.5, u=8 -> 7
    // T = 1.5^2 + 2*3.5^2 = 26.75; S2=138.5, S4=4541.375 -> z
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 0.0),
      ("b", 4.0), ("b", 8.0), ("b", 12.0)).toDF("g", "v")
    val r = Stats.conoverSquaredRanks(df, "g", "v", "a", "b").collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((3L, 4L)))
    assert(r.getDouble(2) == 26.75, s"t: $r")
    assert(r.getDouble(3) == -1.437419, s"z: $r")
  }
}
