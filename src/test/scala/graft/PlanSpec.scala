package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Similarity}
import graft.queries.Registry
import graft.sources.Readers
import graft.types.DetectTypes

/** Plan-shape regression guard: the properties SCALE.md claims are asserted
  * against the actual optimized plans, so a future refactor cannot silently
  * lose a pushdown, broadcast, or blocking guard.
  *
  * The pins plan the at-scale posture: every table is read from a copy of
  * sf0.001 whose files hold two row groups or more, which [[Tables]] reads
  * as any multi-split input, so aggregates, windows and joins plan their
  * exchanges. The one-split posture (a one-row-group file read as
  * `Coalesce 1`) has its own pins, over the original sf0.001 files.
  */
class PlanSpec extends SparkSpec {

  private lazy val tables = multiRowGroupCopy(sf0001)

  private def executedOf(name: String, dir: String): String =
    Registry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  private def planOf(name: String): String = executedOf(name, tables)

  private def optimizedOf(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  test("q01: the shipdate filter reaches the parquet scan (PushedFilters)") {
    val p = planOf("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"missing pushed shipdate filter in:\n$p")
  }

  test("q02: column pruning reaches the scan (ReadSchema only has selected cols)") {
    val p = planOf("q02_cut")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("p_partkey") && readSchema.contains("p_name"),
      s"expected selected columns in $readSchema")
    assert(!readSchema.contains("p_comment") && !readSchema.contains("p_type"),
      s"pruned column still read: $readSchema")
  }

  test("one-split q84: the trailing window plans no exchange at all") {
    val p = executedOf("q84_trailing_window", sf0001)
    assert(!p.contains("Exchange"), s"expected no exchange over a one-row-group table:\n$p")
  }

  test("one-split q01: no exchange under the aggregate; filters pushed to the scan beneath Coalesce 1") {
    val p = executedOf("q01_pricing_summary", sf0001)
    val lines = p.linesIterator.toSeq
    val agg = lines.indexWhere(_.contains("HashAggregate"))
    assert(agg >= 0, s"expected an aggregate in:\n$p")
    assert(!lines.drop(agg).exists(_.contains("Exchange")),
      s"exchange planned under the aggregate:\n$p")
    val coalesce = lines.indexWhere(_.contains("Coalesce 1"))
    assert(coalesce >= 0, s"expected the one-row-group scan under Coalesce 1:\n$p")
    assert(lines.drop(coalesce).exists(l => l.contains("FileScan parquet") &&
        l.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate")),
      s"shipdate filter not pushed to the scan beneath Coalesce 1:\n$p")
  }

  test("one-split q02: column pruning still reaches the scan beneath Coalesce 1") {
    val p = executedOf("q02_cut", sf0001)
    assert(p.contains("Coalesce 1"), s"expected the one-row-group scan under Coalesce 1:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("p_partkey") && readSchema.contains("p_name"),
      s"expected selected columns in $readSchema")
    assert(!readSchema.contains("p_comment") && !readSchema.contains("p_type"),
      s"pruned column still read: $readSchema")
  }

  test("q13: dimension joins broadcast (no fact-table shuffle join)") {
    val p = planOf("q13_equi_join")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins in:\n$p")
  }

  test("pair operators never plan a cartesian product") {
    val emb = Tables.embeddings(spark, tables)
    val docs = Tables.documents(spark, tables)
    val plans = Seq(
      optimizedOf(Similarity.cosineNearDupPairs(emb, 0.5, blockCol = pmod(col("vec_id"), lit(7)))),
      optimizedOf(Similarity.embeddingNearDupPairs(emb, 0.9, dim = 64)),
      optimizedOf(Dedup.minhashDedup(docs, "doc_id", "text")),
      optimizedOf(Dedup.simhashDedup(docs, "doc_id", "text")),
      optimizedOf(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        blockCol = array_min(Dedup.wordShingles(col("text"), 3)))))
    plans.foreach { p =>
      assert(!p.contains("Cartesian") && !p.contains("cartesian"),
        s"cartesian product planned:\n$p")
      assert(p.contains("Join"), "expected an equi-join in the plan")
    }
  }

  test("q26: exact dedup shuffles the fingerprint, never the content") {
    // the aggregation key is the md5 fingerprint; the text column must not
    // survive past the projection into the aggregate
    val p = optimizedOf(Registry.queries("q26_dedup_exact")(spark, tables))
    val aggLine = p.linesIterator.find(_.contains("Aggregate")).getOrElse("")
    assert(aggLine.contains("fp"), s"aggregate not keyed on fingerprint: $aggLine")
    assert(!aggLine.contains("text#"), s"content column reaches the aggregate: $aggLine")
  }

  test("q52: sequence packing windows are shard-partitioned, never global") {
    // the running token sum must hash-partition on shard — a window with an
    // empty partition spec would funnel 100 TB through one task
    val p = planOf("q52_pack_sequences")
    val windowLine = p.linesIterator.find(_.contains("Window [")).getOrElse("")
    assert(windowLine.contains("shard"), s"window not partitioned by shard: $windowLine\nin:\n$p")
    assert(p.contains("hashpartitioning(shard"),
      s"expected a shard-keyed exchange in:\n$p")
  }

  test("q54: repetition stats are row-local — no exchange except the output sort") {
    // repeated-token ratio / dup-line fraction / top-gram fold must all be
    // per-row expressions; the only exchanges allowed are the final
    // orderBy's range partitioning (and AQE wrappers) plus the r15
    // starved-scan fanout's RoundRobin (row-local by construction — it
    // moves rows, never keys them; see Tables.documents)
    val p = planOf("q54_repetition")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(l => l.contains("rangepartitioning") ||
        l.contains("Reused") || l.contains("RoundRobinPartitioning")),
      s"unexpected non-sort exchange in repetition plan:\n${exchanges.mkString("\n")}")
  }

  test("q56: contamination broadcasts the benchmark grams — corpus never shuffles") {
    val p = planOf("q56_contamination")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark gram join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-side shuffle join planned for contamination:\n$p")
  }

  test("q72: the total-tokens denominator reuses the token-count exchange (one corpus scan)") {
    // the total aggregates the SAME count relation as the top-V path, so
    // AQE must reuse the token-keyed exchange instead of re-scanning the
    // corpus; assert on the executed plan (reuse materializes at runtime)
    val df = Registry.queries("q72_vocabulary")(spark, tables)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      s"expected the token-count exchange to be reused by the total:\n$p")
  }

  test("q73: the delta join carries fingerprints only — text never crosses the exchange") {
    val p = optimizedOf(Registry.queries("q73_corpus_delta")(spark, tables))
    val joinIdx = p.linesIterator.indexWhere(_.contains("Join FullOuter"))
    assert(joinIdx >= 0, s"expected the full-outer delta join in:\n$p")
    val below = p.linesIterator.drop(joinIdx).mkString("\n")
    assert(!below.split("\n").exists(l => l.contains("Join") && l.contains("text#")),
      s"text column reached the delta join:\n$p")
  }

  test("q58/q61 are row-local: only the oracle-determinism sort exchanges") {
    for (q <- Seq("q58_chunk", "q61_char_entropy", "q71_url_parts",
        "q74_gopher_quality")) {
      val p = planOf(q)
      val ex = p.linesIterator.filter(_.contains("Exchange")).toSeq
      assert(ex.forall(l => l.contains("rangepartitioning") ||
          l.contains("Reused") || l.contains("RoundRobinPartitioning")),
        s"unexpected non-sort exchange in $q:\n${ex.mkString("\n")}")
    }
  }

  test("q60: doc-frequency side broadcasts back; no term-keyed shuffle join") {
    val p = planOf("q60_tfidf")
    assert(p.contains("BroadcastHashJoin"),
      s"df relation must broadcast onto tf:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"term-keyed shuffle join planned for tfidf:\n$p")
  }

  test("tfidf at vocabulary scale: the term join degrades to a co-keyed shuffle join, never a window or BNLJ") {
    // q60's spec pins the BroadcastHashJoin the df relation gets at test
    // scale; this one pins the documented 100 TB shape — broadcast
    // disabled, the (doc,term,tf) ⋈ (term,df) join must become a sort-merge
    // join KEYED ON TERM (co-partitioned, safe at any vocab size), the
    // row_number window must stay doc-partitioned (a term-partitioned
    // window would funnel a stopword's billions of rows into one task),
    // and the only nested-loop join is the one-row n_docs scalar broadcast
    val prev = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = graft.pipeline.TextAnalysis.tfidfTopTerms(
        Tables.documents(spark, tables), "doc_id", "text", k = 5)
        .queryExecution.executedPlan.toString
      val smj = p.linesIterator.filter(_.contains("SortMergeJoin")).toSeq
      assert(smj.exists(_.contains("term#")),
        s"expected the df relation to meet tf in a term-keyed shuffle join:\n$p")
      assert(!p.contains("BroadcastHashJoin"),
        s"a broadcast survived the disabled threshold:\n$p")
      val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
      assert(windows.nonEmpty && windows.forall(l =>
        l.contains("doc_id#") && !l.contains("[term#")),
        s"window must partition on doc_id, never term:\n${windows.mkString("\n")}")
      val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
      assert(bnlj.size <= 1,
        s"only the one-row n_docs scalar may nest-loop:\n${bnlj.mkString("\n")}")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("q63: the small-set strip is join-free — a literal probe, no shuffle but the sort") {
    // below broadcastLimit the boiler hashes collect (bounded seam) and
    // ship as ONE plan literal: the strip plan has no join of any kind and
    // the only exchange is the oracle-determinism output sort
    val p = planOf("q63_line_dedup")
    assert(!p.contains("Join"), s"small-set strip must not join:\n$p")
    val ex = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(ex.forall(l => l.contains("rangepartitioning") ||
        l.contains("Reused") || l.contains("RoundRobinPartitioning")),
      s"unexpected non-sort exchange in the strip plan:\n${ex.mkString("\n")}")
  }

  test("dedupLines above broadcastLimit: left-anti strip join, no single-row broadcast state") {
    // force the web-scale path: the strip must be an anti join on the line
    // md5 feeding a (doc, pos)-sorted reassembly — never a collected array
    // probed linearly, never a nested-loop compare
    import graft.pipeline.Curation
    val docs = Tables.documents(spark, tables)
    val df = Curation.dedupLines(docs, "doc_id", "text",
      maxDocs = 3, broadcastLimit = -1L)
    val p = optimizedOf(df)
    assert(p.contains("LeftAnti"),
      s"expected the line-hash anti join in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("array_contains"),
      s"single-row broadcast state leaked into the anti-join path:\n$p")
    // the frequency aggregate's exchange must be KEYED on the md5 (lh /
    // pre-alias _groupingexpression) — never on raw segment or doc text;
    // the doc_id-keyed reassembly exchange legitimately carries text as
    // DATA, but no exchange may partition on it
    val ex = df.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(ex.nonEmpty && ex.forall(l =>
      !l.contains("hashpartitioning(seg#") && !l.contains("hashpartitioning(line#") &&
        !l.contains("hashpartitioning(text#")),
      s"an exchange partitions on raw text:\n${ex.mkString("\n")}")
  }

  test("q64/q66: bucketized range joins are equi joins, not nested-loop scans") {
    for (q <- Seq("q64_range_join", "q66_interval_join")) {
      val p = planOf(q)
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q degenerated to a nested-loop compare:\n$p")
      assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
        s"$q: expected a bucket-keyed equi join:\n$p")
    }
  }

  test("q84: trailing window = ONE exchange on the entity key, no join, no extra shuffle") {
    val p = planOf("q84_trailing_window")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected exactly one hash exchange (user_id), got $exchanges in:\n$p")
    assert(!p.contains("Join"), s"trailing window must not plan a join:\n$p")
  }

  test("q85: nearest as-of = one union-side exchange pair, two window sorts, no BNLJ") {
    val p = planOf("q85_asof_nearest")
    assert(!p.contains("BroadcastNestedLoop"),
      s"as-of must never degenerate to BNLJ:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // both direction frames ride windows, not joins: the only Join-free
    // plan shape that computes nearest in one pass
    assert(p.contains("Window"), s"expected window operators:\n$p")
    assert(!p.contains("SortMergeJoin"), s"nearest must not self-join:\n$p")
  }

  test("q82: keep-best election is an aggregation, never a per-cluster window sort") {
    // the election subtree must be agg+join (map-side combinable); a window
    // formulation would single-partition-sort a giant cluster
    val docs = Tables.documents(spark, tables)
    val edges = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      blockCol = array_min(Dedup.wordShingles(col("text"), 3)))
    val scores = docs.select(col("doc_id"), length(col("text")).as("score"))
    val p = optimizedOf(Dedup.keepBestPerCluster(edges, scores, "doc_id", "score"))
    assert(!p.contains("Window"), s"election must not use a window:\n$p")
    assert(p.contains("Aggregate"), s"expected the min(struct) election aggregate:\n$p")
  }

  test("q87: fuzzy join matches candidates on equi joins, never a cartesian") {
    val p = planOf("q87_fuzzy_join")
    // 18-char names ride the deletion-neighborhood regime: one equi join
    // on the exploded variant string (__v); the long-string branch keeps
    // its segment equi join (si, seg) in the plan. Neither may be a
    // cartesian / BNLJ, and exact levenshtein must verify candidates.
    assert(p.contains("Join") && p.contains("__v"),
      s"expected the deletion-variant equi join in:\n$p")
    assert(p.contains("si") && p.contains("seg"),
      s"expected the long-string segment branch in:\n$p")
    assert(p.contains("levenshtein"), s"expected the exact verify in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"fuzzy join must never be a cartesian:\n$p")
  }

  test("q88: blocklist match is equi joins at distinct-host grain — never a LIKE join") {
    val p = planOf("q88_domain_blocklist")
    assert(p.contains("LeftAnti"), s"expected the survivor anti join in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"a LIKE/regex join would plan a nested loop — must be equi joins:\n$p")
    // suffixes explode from DISTINCT hosts, so an aggregate must sit below
    // the blocklist join (content rows never fan out)
    assert(p.contains("HashAggregate"), s"expected the distinct-host collapse in:\n$p")
  }

  test("q89/q90: histogram is one aggregate; weighted sample is a top-k cutoff") {
    val h = planOf("q89_histogram")
    assert(h.contains("HashAggregate") && !h.contains("Window"),
      s"histogram must be a plain aggregate:\n$h")
    val w = planOf("q90_weighted_sample")
    assert(w.contains("TakeOrderedAndProject"),
      s"weighted sample must be a top-k cutoff, not a global sort:\n$w")
    assert(!w.contains("Window"), s"no window in the sample path:\n$w")
  }

  test("q53: curation filters run before the dedup shuffle") {
    // language/quality predicates must sit below the fingerprint aggregate:
    // discarded rows never reach the exchange
    val plan = Registry.queries("q53_curate")(spark, tables).queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
    val agg = plan.collectFirst { case a: Aggregate => a }
    assert(agg.isDefined, "expected the keep-list aggregate")
    val filterBelowAgg = agg.get.collectFirst { case f: Filter => f }
    assert(filterBelowAgg.isDefined, "quality/lang filter must be below the aggregate")
    assert(filterBelowAgg.get.condition.toString.contains("quality") ||
      filterBelowAgg.get.condition.toString.contains("0.5"),
      s"filter below the aggregate is not the curation predicate: ${filterBelowAgg.get.condition}")
  }

  test("q93/q96/q104: boundary/stat relations broadcast back; never a sort-merge join or window") {
    for (q <- Seq("q93_quantile_bucket", "q96_group_zscore", "q104_impute")) {
      val p = planOf(q)
      assert(!p.contains("SortMergeJoin"), s"$q: fact table must not shuffle for the stats join:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: no cartesian:\n$p")
      assert(p.contains("Broadcast"), s"$q: expected a broadcast of the per-group stats:\n$p")
    }
  }

  test("q95/q98/q100: pmi, funnel and association joins are hash joins, never cartesian") {
    for (q <- Seq("q95_pmi", "q98_funnel", "q100_assoc_rules")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q: no cartesian:\n$p")
      assert(!p.contains("Window"), s"$q: no window anywhere in this path:\n$p")
    }
  }

  test("q103: heavy hitters is a TakeOrdered cutoff, not a global sort") {
    val p = planOf("q103_heavy_hitters")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k cutoff:\n$p")
  }

  test("q115: dimension joins broadcast; only the fact keys shuffle") {
    val p = planOf("q115_revenue_rollup")
    assert(p.contains("BroadcastHashJoin"), s"dims must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no nested-loop anywhere in the six-table join:\n$p")
  }

  test("q117: diversified top-k is a per-group window + TakeOrdered cutoff — the global sort never materializes") {
    val p = planOf("q117_diversified_topk")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k cutoff:\n$p")
    assert(p.contains("Window"), s"expected the per-group rank window:\n$p")
  }

  test("q120/q121: KS window runs over the aggregated value relation; Welch is one aggregate pass, no join") {
    val ks = planOf("q120_ks_test")
    // the cumulative window must sit ABOVE a HashAggregate (distinct-value
    // relation), never directly on the fact scan
    val wIdx = ks.linesIterator.indexWhere(_.contains("Window"))
    val aggBelow = ks.linesIterator.drop(wIdx + 1).exists(_.contains("HashAggregate"))
    assert(wIdx >= 0 && aggBelow,
      s"KS window must consume the aggregated relation:\n$ks")
    val welch = planOf("q121_welch_ttest")
    assert(!welch.contains("Join"), s"Welch must be one conditional-moment pass:\n$welch")
    assert(!welch.contains("Window"), s"Welch needs no window:\n$welch")
  }

  test("q123: stratified sample broadcasts the per-stratum counts; rank windows partition per stratum") {
    val p = planOf("q123_stratified_sample")
    assert(p.contains("Broadcast"), s"counts must broadcast back:\n$p")
    assert(!p.contains("SortMergeJoin"), s"the fact side must not shuffle for the counts join:\n$p")
  }

  test("q124/q125: session and transition windows partition by user — no global window, no cartesian") {
    for (q <- Seq("q124_sessions", "q125_transitions")) {
      val p = planOf(q)
      assert(p.contains("Window"), s"$q: expected the per-user window:\n$p")
      val wLine = p.linesIterator.find(_.contains("Window")).getOrElse("")
      assert(wLine.contains("user_id"), s"$q: window must partition by user_id: $wLine")
      assert(!p.contains("CartesianProduct"), s"$q: no cartesian:\n$p")
    }
  }

  test("q126/q127: OLS fits are single aggregate passes over bounded inputs — no window on the fact path (q127's rank window is topV-bounded)") {
    val trend = planOf("q126_trend")
    assert(!trend.contains("Window"), s"per-group OLS needs no window:\n$trend")
    assert(!trend.contains("Join"), s"per-group OLS needs no join:\n$trend")
    val zipf = planOf("q127_zipf")
    assert(zipf.contains("TakeOrderedAndProject"),
      s"zipf's vocabulary cutoff must be a top-k, not a global sort:\n$zipf")
  }

  test("q139: triangle wedge/closing joins are hash equi joins — no cartesian, no BNLJ, top-k cutoff") {
    val p = planOf("q139_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"triangle joins must stay equi:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-20 must be a cutoff, not a global sort:\n$p")
    assert(!p.contains("Window ["), s"no window anywhere in triangle counting:\n$p")
  }

  test("q140: jaro-winkler runs inside codegen over a blocked equi self-join") {
    val p = planOf("q140_fuzzy_names")
    assert(p.contains("jaro_winkler"), s"native kernel missing from plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"name pairing must block on the join key:\n$p")
  }

  test("q141: RFM buckets are broadcast-boundary projections — no window, no ntile sort") {
    val p = planOf("q141_rfm")
    assert(!p.contains("Window ["), s"bucketing must never rank:\n$p")
    assert(p.contains("Broadcast"), s"quantile boundaries must broadcast back:\n$p")
  }

  test("q142/q144: entry-exit and anomaly windows partition by user/group — never global") {
    val ee = planOf("q142_entry_exit")
    val eeW = ee.linesIterator.filter(_.contains("Window [")).toSeq
    assert(eeW.nonEmpty && eeW.forall(_.contains("user_id")),
      s"entry/exit windows must partition by user_id:\n${eeW.mkString("\n")}")
    val ra = planOf("q144_rolling_anomaly")
    val raW = ra.linesIterator.filter(_.contains("Window [")).toSeq
    assert(raW.nonEmpty && raW.forall(_.contains("g#")),
      s"rolling windows must partition by the group key:\n${raW.mkString("\n")}")
  }

  test("q145: per-user OLS is one aggregate chain — no window; top-k is a cutoff") {
    val p = planOf("q145_user_trend")
    assert(!p.contains("Window ["), s"per-group OLS needs no window:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-25 must be a cutoff, not a global sort:\n$p")
  }

  test("q146/q147: clustering joins stay equi; weekday totals broadcast") {
    val cc = planOf("q146_clustering")
    assert(!cc.contains("CartesianProduct") && !cc.contains("BroadcastNestedLoopJoin"),
      s"clustering must stay equi-join:\n$cc")
    val wp = planOf("q147_weekday_profile")
    assert(wp.contains("BroadcastHashJoin"), s"totals must broadcast back:\n$wp")
    assert(!wp.contains("Window ["), s"profile needs no window:\n$wp")
  }

  test("q148: RRF windows all partition by the group — the prune leaves no global sort") {
    val p = planOf("q148_rrf")
    val ws = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(ws.nonEmpty && ws.forall(_.contains("__g")),
      s"every RRF window must partition by the group key:\n${ws.mkString("\n")}")
  }

  test("q149/q150: decay score is window-free with a broadcast max; durations windows stay per-user") {
    val ds = planOf("q149_decay_score")
    assert(!ds.contains("Window ["), s"decay score needs no window:\n$ds")
    assert(ds.contains("TakeOrderedAndProject"),
      s"top-25 must be a cutoff:\n$ds")
    val sd = planOf("q150_session_durations")
    val ws = sd.linesIterator.filter(_.contains("Window [")).toSeq
    assert(ws.nonEmpty && ws.forall(_.contains("user_id")),
      s"session windows must partition by user_id:\n${ws.mkString("\n")}")
  }

  test("q154/q155/q157: history/streak/TWAP windows all partition by their key") {
    for ((q, key) <- Seq("q154_scd2" -> "user_id", "q155_streaks" -> "user_id",
      "q157_twap" -> "o_custkey")) {
      val p = planOf(q)
      val ws = p.linesIterator.filter(_.contains("Window [")).toSeq
      assert(ws.nonEmpty && ws.forall(_.contains(key)),
        s"$q: every window must partition by $key:\n${ws.mkString("\n")}")
    }
  }

  test("q158: suffix routing is equi joins at distinct-host grain — never a LIKE join") {
    val p = planOf("q158_suffix_route")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"a LIKE/regex join would plan a nested loop — must be equi joins:\n$p")
    // suffixes explode from DISTINCT hosts (aggregate below the rule join),
    // and the per-host argmax is an aggregate, not a window
    assert(p.contains("HashAggregate"), s"expected the distinct-host collapse in:\n$p")
    assert(!p.contains("Window ["), s"the argmax must be max_by, not a window:\n$p")
  }

  test("q159: radius join is a cell-keyed equi join — no BETWEEN nested loop") {
    val p = planOf("q159_radius_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"the candidate join must be the grid equi join:\n$p")
    assert(p.contains("__cx") && p.contains("__cy"),
      s"expected the composite cell key in the join:\n$p")
  }

  test("q160: bloom pruning filters the probe BELOW the exact semi join") {
    val p = planOf("q160_bloom_prune")
    assert(p.contains("LeftSemi"), s"expected the exact rescue semi join in:\n$p")
    assert(p.contains("might_contain"),
      s"expected the bloom probe filter in the plan:\n$p")
    // the might_contain filter must sit on the scan side, under the join
    val joinLine = p.linesIterator.indexWhere(_.contains("LeftSemi"))
    val probeLine = p.linesIterator.indexWhere(_.contains("might_contain"))
    assert(probeLine > joinLine,
      s"bloom probe must prune below the semi join (join@$joinLine probe@$probeLine):\n$p")
  }

  test("q161/q162: normalization/lift stat relations never sort-merge the fact table") {
    val qn = planOf("q161_quantile_norm")
    val ws = qn.linesIterator.filter(_.contains("Window [")).toSeq
    assert(ws.nonEmpty && ws.forall(_.contains("source")),
      s"rank window must partition by the group:\n${ws.mkString("\n")}")
    val lt = planOf("q162_lift")
    assert(lt.contains("Broadcast"), s"boundaries must broadcast back:\n$lt")
    assert(!lt.contains("SortMergeJoin"),
      s"the fact table must never shuffle for the boundary join:\n$lt")
  }

  test("q164: inverted index is term-keyed aggregates — no window, no cartesian") {
    val p = planOf("q164_inverted_index")
    assert(!p.contains("Window [") && !p.contains("CartesianProduct"),
      s"posting assembly must be an aggregate:\n$p")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      s"expected term-keyed aggregates:\n$p")
  }

  test("q166: linkage candidates come from the block equi join; exact kernels verify") {
    val p = planOf("q166_linkage")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"blocked pairs must be an equi join:\n$p")
    assert(p.contains("jaro_winkler"), s"expected the codegen'd JW kernel in:\n$p")
  }

  test("q167/q169: attribution and PIT-feature windows partition by user — never an anchors join") {
    for (q <- Seq("q167_attribution", "q169_pit_features")) {
      val p = planOf(q)
      val ws = p.linesIterator.filter(_.contains("Window [")).toSeq
      assert(ws.nonEmpty && ws.forall(_.contains("user_id")),
        s"$q: every window must partition by user_id:\n${ws.mkString("\n")}")
      assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
        s"$q: the frame walk must replace any events-x-anchors join:\n$p")
    }
  }

  test("q171: the LTV cumulative window partitions by cohort") {
    val p = planOf("q171_cohort_ltv")
    val ws = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(ws.nonEmpty && ws.forall(_.contains("cohort_week")),
      s"the cumulative walk must partition by cohort:\n${ws.mkString("\n")}")
  }

  test("q172: nearest-neighbor candidates come from the cell equi join; argmin is an aggregate") {
    val p = planOf("q172_nearest")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"the candidate join must be the grid equi join:\n$p")
    assert(p.contains("__cx") && p.contains("__cy"),
      s"expected the composite cell key:\n$p")
    assert(!p.contains("Window ["), s"the argmin must be min_by, not a window:\n$p")
  }

  test("q173: every FK edge audits through an anti join") {
    val p = planOf("q173_fk_audit")
    assert(p.contains("LeftAnti"), s"expected anti joins in the audit:\n$p")
    assert(p.contains("Broadcast"), s"parent key sets should broadcast:\n$p")
  }

  test("q174: TPC-H Q3 broadcasts the segment dim; top-10 is a cutoff") {
    val p = planOf("q174_tpch_q3")
    assert(p.contains("BroadcastHashJoin"),
      s"the filtered customer dim must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 must be a cutoff, not a global sort:\n$p")
    assert(p.contains("PushedFilters"), s"date filters should reach the scans:\n$p")
  }

  test("q175: TPC-H Q6 pushes every predicate to the scan — no join, no exchange but the final agg") {
    val p = planOf("q175_tpch_q6")
    assert(!p.contains("Join"), s"Q6 must be join-free:\n$p")
    // the PushedFilters list elides in the plan string — match the prefix
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(l_shipda"),
      s"shipdate range should reach the scan:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_tax"),
      s"unused columns still read: $readSchema")
  }

  test("q176: TPC-H Q4's EXISTS plans as a semi join with both filters pushed") {
    val p = planOf("q176_tpch_q4")
    assert(p.contains("LeftSemi"), s"EXISTS must plan as a semi join:\n$p")
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"the returnflag filter should prune lineitem at its scan:\n$p")
  }

  test("q177/q178: nation-sliced dims broadcast; the fact join is never a nested loop") {
    Seq("q177_tpch_q7", "q178_tpch_q8").foreach { n =>
      val p = planOf(n)
      assert(p.contains("BroadcastHashJoin"), s"$n: dims must broadcast:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$n: nested-loop join in the fact path:\n$p")
    }
  }

  test("q180: TPC-H Q18's HAVING aggregate runs before any dim join; top-10 is a cutoff") {
    val p = planOf("q180_tpch_q18")
    // the lineitem quantity aggregate must sit BELOW the orders join
    val aggIdx = p.linesIterator.indexWhere(l =>
      l.contains("HashAggregate") && l.contains("sum_qty"))
    assert(aggIdx >= 0, s"expected the sum_qty aggregate:\n$p")
    val joinAbove = p.linesIterator.take(aggIdx).exists(_.contains("Join"))
    assert(joinAbove, s"the big-order aggregate should feed the joins, not follow them:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-10 must be a cutoff:\n$p")
  }

  test("q181: TPC-H Q2's per-part argmin is an aggregate, never a window") {
    val p = planOf("q181_tpch_q2")
    assert(!p.contains("Window"), s"argmin must not plan a rank window:\n$p")
    assert(p.contains("min(") || p.contains("min#"),
      s"expected the struct-min aggregate:\n$p")
  }

  test("q182: TPC-H Q22's inactivity test is an anti join; the scalar threshold broadcasts") {
    val p = planOf("q182_tpch_q22")
    assert(p.contains("LeftAnti"), s"NOT IN must plan as an anti join:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the one-row threshold should broadcast:\n$p")
  }

  test("q184: PQ encoding is a stateless projection — codebooks in codegen, no join, no aggregate") {
    val p = planOf("q184_pq_encode")
    assert(!p.contains("Join"), s"PQ encode must not join:\n$p")
    assert(!p.contains("HashAggregate"), s"PQ encode must not aggregate:\n$p")
    // the only exchange is the output sort's range partitioning
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"unexpected exchange in a per-row encode:\n$p")
  }

  test("q185: recommender windows partition by item (prune) and user (rank + basket cap) — never global; no cartesian") {
    val p = planOf("q185_recommend")
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty, s"expected rank windows:\n$p")
    assert(windows.forall(w => w.contains("__i") || w.contains("__u")),
      s"window missing its partition key:\n${windows.mkString("\n")}")
    // three distinct rank windows must survive: neighbor prune (__i),
    // per-user top-k (__u), and the maxBasket deterministic cap (__u,
    // ordered by the md5 draw) feeding the quadratic pair self-join —
    // if the cap window disappears, a power basket is unbounded again
    assert(windows.size >= 3, s"basket-cap window missing:\n${windows.mkString("\n")}")
    // the cap's rank alias (__br) must appear — its md5 order key is
    // pre-projected (_w0 in the window spec), so pin the alias, not "md5"
    assert(p.contains("__br"), s"the basket-cap rank window is gone:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cartesian in the recommender path:\n$p")
  }

  test("q186: SSSP relaxation joins are hash equi joins — no cartesian, no BNLJ") {
    val p = planOf("q186_sssp")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in the SSSP path:\n$p")
    assert(p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"),
      s"expected hash joins in the relaxation rounds:\n$p")
  }

  test("q188: RAKE is row-local segmentation + ONE word-keyed aggregate + a top-k cutoff") {
    val p = planOf("q188_keywords")
    assert(p.contains("TakeOrderedAndProject"), s"top-50 must be a cutoff:\n$p")
    assert(!p.contains("Join"), s"keyword scores must not join:\n$p")
    assert(!p.contains("Window"), s"keyword scores must not window:\n$p")
  }

  test("q191: the clamped-level windows partition by the inventory key") {
    val p = planOf("q191_inventory")
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("key")),
      s"window not key-partitioned:\n${windows.mkString("\n")}")
  }

  test("q192: survivorship elections are aggregates — no per-cluster window sort") {
    val p = planOf("q192_survivorship")
    assert(!p.contains("Window"), s"mode election must not plan a window:\n$p")
    assert(p.contains("min_by") || p.contains("minby") || p.contains("min("),
      s"expected the argmin aggregate:\n$p")
  }

  test("q193: SCD lookup is an equi join on the entity key — interval test is a residual, never a BNLJ") {
    val p = planOf("q193_scd2_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the interval test must not become a nested loop:\n$p")
    val joinLine = p.linesIterator.find(l =>
      l.contains("Join") && l.contains("f_user")).getOrElse("")
    assert(joinLine.contains("user_id"), s"expected the key equi join: $joinLine\nin:\n$p")
  }

  test("q194: PQ search probes codes with a broadcast LUT; ranks window per query") {
    val p = planOf("q194_pq_search")
    assert(p.contains("BroadcastHashJoin"), s"the LUT must broadcast:\n$p")
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.forall(_.contains("qid")),
      s"rank window must partition by qid:\n${windows.mkString("\n")}")
  }

  test("q195: the carry-forward fill window partitions by the key") {
    val p = planOf("q195_carry_forward")
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("key")),
      s"fill window not key-partitioned:\n${windows.mkString("\n")}")
  }

  test("q196: grouping sets run as ONE Expand + aggregate pass — no union of scans") {
    val p = planOf("q196_grouping_sets")
    assert(p.contains("Expand"), s"expected the Expand node:\n$p")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) <= 3,
      s"each table must scan once:\n$p")
  }

  test("q198/q199/q200: Q13's left join keeps zero-order customers; Q15's scalar max broadcasts; Q17's brand dim broadcasts") {
    val p13 = planOf("q198_tpch_q13")
    assert(p13.contains("LeftOuter"), s"Q13 must left-join:\n$p13")
    val p15 = planOf("q199_tpch_q15")
    assert(p15.contains("Broadcast"), s"Q15's one-row max must broadcast:\n$p15")
    val p17 = planOf("q200_tpch_q17")
    assert(p17.contains("BroadcastHashJoin"), s"Q17's brand slice must broadcast:\n$p17")
    assert(!p17.contains("CartesianProduct"), s"no cartesian in Q17:\n$p17")
  }

  test("q201/q202/q203: gap, backtest, and attribution windows all partition by the user key") {
    Seq("q201_gap_report", "q202_markov_backtest", "q203_linear_attribution")
      .foreach { n =>
        val p = planOf(n)
        val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
        assert(windows.nonEmpty && windows.forall(w =>
          w.contains("key") || w.contains("user_id")),
          s"$n window not user-partitioned:\n${windows.mkString("\n")}")
        assert(!p.contains("CartesianProduct"), s"$n plans a cartesian:\n$p")
      }
  }

  test("q205/q206/q207: partial merge is union+aggregate (no join); CDC elects per key; shares window over the aggregated child relation") {
    val p205 = planOf("q205_partial_merge")
    assert(!p205.contains("Join"), s"merge must not join:\n$p205")
    assert(p205.contains("Union"), s"expected the shard union:\n$p205")
    val p206 = planOf("q206_cdc_apply")
    val w206 = p206.linesIterator.filter(_.contains("Window [")).toSeq
    assert(w206.nonEmpty && w206.forall(_.contains("c_custkey")),
      s"CDC election window not key-partitioned:\n${w206.mkString("\n")}")
    val p207 = planOf("q207_share_of_parent")
    val wIdx = p207.linesIterator.indexWhere(_.contains("Window ["))
    assert(wIdx >= 0 && p207.linesIterator.drop(wIdx)
      .exists(_.contains("HashAggregate")),
      s"share windows must sit above the child aggregate, never the fact scan:\n$p207")
  }

  test("q208-q212: the Q19/Q9/Q16 dims broadcast; Q21 plans its EXISTS pair as semi+anti; Q11's scalar total broadcasts") {
    Seq("q208_tpch_q19", "q210_tpch_q9", "q211_tpch_q16").foreach { n =>
      val p = planOf(n)
      assert(p.contains("BroadcastHashJoin"), s"$n: dims must broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"$n: cartesian planned:\n$p")
    }
    val p21 = planOf("q209_tpch_q21")
    assert(p21.contains("LeftSemi") && p21.contains("LeftAnti"),
      s"Q21's EXISTS/NOT EXISTS must plan as semi+anti joins:\n$p21")
    assert(p21.contains("TakeOrderedAndProject"), s"Q21 top-20 must be a cutoff:\n$p21")
    val p11 = planOf("q212_tpch_q11")
    assert(p11.contains("Broadcast"), s"Q11's one-row total must broadcast:\n$p11")
  }

  test("q197: weighted-median windows partition by the group; values collapse before the sort") {
    val p = planOf("q197_weighted_median")
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("l_returnflag")),
      s"window not group-partitioned:\n${windows.mkString("\n")}")
    // the per-value collapse (groupBy value) must sit below the window
    val wIdx = p.linesIterator.indexWhere(_.contains("Window ["))
    assert(p.linesIterator.drop(wIdx).exists(_.contains("HashAggregate")),
      s"expected the per-value aggregate below the window:\n$p")
  }

  test("q213: Z-order bounds come from ONE broadcast scalar aggregate, never a window") {
    val p = planOf("q213_zorder")
    assert(!p.contains("Window"), s"zorder must not use a window:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"min/max bounds must broadcast back:\n$p")
  }

  test("q217: prefix set-sim join plans as equi joins - no cartesian, no BNLJ") {
    val p = planOf("q217_setsim_join")
    assert(!p.contains("CartesianProduct"), s"cartesian planned:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ planned:\n$p")
  }

  test("q218: the attribution join is keyed on user_id with the time bound as residual") {
    val p = planOf("q218_stream_attribution")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"attribution join must be an equi join on the user key:\n$p")
  }

  test("q539/q540: window aggregations plan as Expand/agg pipelines — " +
    "no window FUNCTION, partial aggregation below every shuffle") {
    // sliding windows must be the Expand (2 projections per row) + hash
    // aggregate shape, never a window function or a self-union; the
    // chained day tier re-aggregates the hourly CELLS, not raw rows
    val ps = planOf("q539_sliding_window")
    assert(!ps.contains("Window ["), s"sliding counts need no window fn:\n$ps")
    assert(ps.contains("Expand"), s"expected the window explode:\n$ps")
    assert(!ps.contains("Union"), s"explode must not be a self-union:\n$ps")
    val pc = planOf("q540_chained_window_peak")
    assert(!pc.contains("Window ["), s"chained agg needs no window fn:\n$pc")
    // tier 1 (counts) is a HashAggregate pair; tier 2's struct max_by
    // plans as a SortAggregate pair. Both tiers must be partial/final
    // pairs (>= 4 aggregate nodes) — map-side combine above each shuffle.
    val aggs = pc.linesIterator.count(l =>
      l.contains("HashAggregate") || l.contains("SortAggregate") ||
        l.contains("ObjectHashAggregate"))
    assert(aggs >= 4, s"expected two partial/final aggregate tiers:\n$pc")
  }

  test("q541: the outer attribution join stays keyed on user_id too") {
    val p = planOf("q541_outer_attribution")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"outer attribution join must be an equi join on the user key:\n$p")
  }

  test("q221: AUC never globally sorts raw rows - windows partition by cohort") {
    val p = planOf("q221_auc")
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("cohort")),
      s"window not cohort-partitioned:\n${windows.mkString("\n")}")
  }

  test("q231: Q20 joins are hash/broadcast equi joins - no BNLJ, no cartesian") {
    val p = planOf("q231_tpch_q20")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"bad join shape:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"part/nation must broadcast:\n$p")
    assert(p.contains("LeftSemi"), s"nested IN must plan as a semi join:\n$p")
  }

  test("q232/q245: KMV rank and session/path windows partition by their key" +
    " - never global") {
    val kmv = planOf("q232_kmv_distinct")
    val kw = kmv.linesIterator.filter(_.contains("Window [")).toSeq
    assert(kw.nonEmpty && kw.forall(_.contains("event_type")),
      s"KMV rank window not group-partitioned:\n${kw.mkString("\n")}")
    val paths = planOf("q245_session_paths")
    val pw = paths.linesIterator.filter(_.contains("Window [")).toSeq
    assert(pw.nonEmpty && pw.forall(_.contains("user_id")),
      s"session window not user-partitioned:\n${pw.mkString("\n")}")
    assert(paths.contains("TakeOrderedAndProject"),
      s"path top-k must be a cutoff:\n$paths")
  }

  test("q240: geohash encode is a pure projection - no window, no join; " +
    "top cells are a cutoff") {
    val p = planOf("q240_geohash_cells")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"geohash path must be projection + aggregate only:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k cutoff:\n$p")
  }

  test("q241: the CMS counter grid broadcasts back - the probe join is " +
    "never a shuffle join") {
    val p = planOf("q241_cms_frequency")
    assert(p.contains("BroadcastHashJoin"),
      s"counter grid must broadcast to the distinct-key relation:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"bad join shape:\n$p")
  }

  test("q243: power-iteration v relations broadcast; only scalar norms " +
    "cross-join") {
    val p = planOf("q243_pca_power")
    assert(p.contains("BroadcastHashJoin"),
      s"the d-row v relation must broadcast into the triples join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian planned:\n$p")
    // earlier rounds materialize via checkpoint (linear lineage — the CC
    // discipline), so the visible plan carries ONE BNLJ: the final round's
    // broadcast one-row norm scalar (the documented crossJoin convention)
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"unexpected BNLJ beyond the final-round norm scalar:\n$p")
  }

  test("q295/q307: rapid-repeat windows partition by the key; Shapley never windows") {
    val rr = planOf("q295_rapid_repeats")
    val rw = rr.linesIterator.filter(_.contains("Window [")).toSeq
    assert(rw.nonEmpty && rw.forall(l =>
      l.contains("user_id") && l.contains("event_type")),
      s"rapid-repeat window not key-partitioned:\n${rw.mkString("\n")}")
    val sh = planOf("q307_shapley_attribution")
    assert(!sh.contains("Window"),
      s"Shapley is pure aggregates+joins, no window:\n$sh")
    assert(!sh.contains("CartesianProduct"), s"cartesian planned:\n$sh")
  }

  test("q299: HITS rounds stay hash joins; top-k per side is a cutoff, not a side-window") {
    val p = planOf("q299_hits")
    assert(!p.contains("Window"),
      s"per-side max must be aggregate+broadcast, not a window:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 per side must be a sort cutoff:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian planned:\n$p")
  }

  test("q305: hotspot stats broadcast back; top cells are a cutoff") {
    val p = planOf("q305_hotspots")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k cutoff:\n$p")
    // the one BNLJ is the documented broadcast one-row stats crossJoin
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1 &&
      !p.contains("CartesianProduct"), s"bad join shape:\n$p")
  }
  test("q358: FS weights = one aggregate over co-keyed SNM pairs — no cartesian, block-keyed windows") {
    val p = planOf("q358_linkage_weights")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cartesian in the linkage path:\n$p")
    // the SNM rank windows partition on the block, never globally
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("block")),
      s"SNM window must partition on block:\n${windows.mkString("\n")}")
    // the per-field report rows explode out of ONE stats row: exactly one
    // Generate over the single pair aggregate — a per-field union would
    // show the count columns (__nm) in 2·|fields| extra aggregate nodes
    // (the SNM offset fan-out is a second, unrelated explode — match the
    // report's struct array specifically)
    assert(p.linesIterator.count(_.contains("Generate explode(array(struct(field")) == 1,
      s"FS report must explode from the single stats row:\n$p")
    val fsAggs = p.linesIterator.count(l =>
      l.contains("HashAggregate") && l.contains("__nm"))
    assert(fsAggs <= 2, // partial + final of the ONE stats aggregate
      s"pair aggregate computed more than once ($fsAggs nodes):\n$p")
  }

  test("q341: salted join really joins on (key, salt) with a build-side explode") {
    val p = planOf("q341_salted_join")
    // the build side must replicate via explode(sequence(...)) -> Generate
    assert(p.contains("Generate explode"), s"missing build replication in:\n$p")
    // and the join condition must include the salt, not just the key
    assert(p.contains("__salt"), s"salt column absent from the plan:\n$p")
  }
  test("q335: negative-sample candidates join co-keyed — no cartesian, one 1-row broadcast") {
    val p = planOf("q335_negative_sample")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1,
      s"more than the one-row universe-count broadcast:\n$p")
  }

  test("q344: propensity nearest election windows on the stratum key") {
    val p = planOf("q344_propensity_match")
    assert(p.contains("windowspecdefinition(stratum"),
      s"nearest election not stratum-keyed:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("q381: the stump's windows run on the bucketed-value rollup, never the rows") {
    // both the running left-counts and the full-frame totals must sit
    // ABOVE the (x)-grain HashAggregate: a window over raw events would
    // single-partition-sort the corpus
    val p = planOf("q381_decision_stump")
    assert(p.contains("windowspecdefinition(__x"),
      s"expected value-ordered windows:\n$p")
    // round 15: the only nested-loop joins allowed are the cardinality
    // gate's ONE-ROW count broadcasts (gateValueCells; lazy, so one per
    // consumer of the gated rollup) — never a data join
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 3,
      s"beyond the gate's scalar broadcasts:\n$p")
    assert(p.contains("decisionStump: ") &&
      p.contains("distinct value cells exceed"),
      s"value-cell gate missing from the plan:\n$p")
    val aggIdx = p.linesIterator.indexWhere(l =>
      l.contains("HashAggregate") && l.contains("__x"))
    val winIdx = p.linesIterator.indexWhere(_.contains("Window"))
    assert(aggIdx > winIdx && winIdx >= 0,
      s"rollup must feed the window (window above aggregate in the tree):\n$p")
  }

  test("q380: harmonic relaxation rounds stay hash equi joins on the frontier") {
    val p = planOf("q380_harmonic_centrality")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in the harmonic path:\n$p")
    assert(p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"),
      s"expected hash joins in the relaxation rounds:\n$p")
  }

  private val joinOp =
    "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|BroadcastNestedLoopJoin|CartesianProduct)".r

  private def joinsOf(plan: String): Seq[String] =
    plan.linesIterator.filter(l => joinOp.findFirstIn(l).isDefined).toSeq

  test("q136: plain PageRank runs the shared damped walk with its restart flag " +
    "folded away — no seed join, the joins of the three rounds only") {
    val joins = joinsOf(planOf("q136_pagerank"))
    // the start rank's 1-row cross join, then per round: the contribution
    // join, the spine's left join and the teleport's 1-row cross join
    assert(joins.size == 10, s"expected 10 joins:\n${joins.mkString("\n")}")
    assert(joins.count(_.contains("LeftOuter")) == 3 &&
      joins.count(_.contains("BroadcastNestedLoopJoin")) == 4,
      s"a restart flag join crept into plain PageRank:\n${joins.mkString("\n")}")
    assert(!joins.exists(j => j.contains("LeftSemi") || j.contains("LeftAnti")),
      s"a seed semi/anti join in plain PageRank:\n${joins.mkString("\n")}")
  }

  test("q270: spearman broadcasts its rank cells to the rows — both rank joins " +
    "build the rank side") {
    val joins = joinsOf(planOf("q270_spearman"))
      .filterNot(_.contains("BroadcastNestedLoopJoin")) // the rank cells' gates
    assert(joins.size == 2 && joins.forall(j =>
      j.contains("BroadcastHashJoin") && j.contains("BuildRight")),
      s"rank joins must broadcast the rank cells:\n${joins.mkString("\n")}")
  }

  test("q365: every raking join broadcasts (vocabulary-sized marginals), no shuffle join") {
    // the IPF iterate must stay cell-relation-local: 6 scalings x
    // (marginal rollup + 2 broadcast joins); a SortMerge/ShuffledHash
    // join here means a marginal relation stopped broadcasting and the
    // iterate would shuffle the full cell relation every round at scale
    val p = planOf("q365_raking")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"non-broadcast join in the IPF iterate:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
  }

  test("q321/q366/q382: equal-count tiling never plans a global ntile — rank rescues partition by segment; keyless windows run only on the tile rollup") {
    // the r09 verdict's last scale hazard: ntile(n) OVER (ORDER BY ...)
    // single-partition-sorts the whole unit relation. equalCountTiles
    // replaces it with broadcast-offset projection + segment-partitioned
    // rescue windows; the only keyless windows left must consume the
    // nBins-row tile rollup (decile/stratum grain), never unit rows
    for (q <- Seq("q321_qini_uplift", "q366_stratified_ate",
        "q382_hosmer_lemeshow")) {
      val p = planOf(q)
      assert(!p.contains("ntile("), s"$q: global ntile survived:\n$p")
      val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
      val (rescue, rollup) = windows.partition(_.contains("row_number"))
      // __sub is a literal -1 when no massive tie subdivides and Catalyst
      // prunes constant partition keys — __seg is the load-bearing one
      assert(rescue.forall(_.contains("__seg")),
        s"$q: rescue rank window not segment-partitioned:\n${rescue.mkString("\n")}")
      assert(rollup.forall(w => w.contains("decile#") || w.contains("stratum#")),
        s"$q: keyless window not on the tile rollup:\n${rollup.mkString("\n")}")
    }
  }

  test("q312/q112/q116/q161/q263/q293: key-grain ranks go through distributedRank — no keyless window over key-grain relations") {
    // the r10 verdict's rank-window family: whaleShare/gini/percentRank/
    // quantileNormalize (and the Theil–Sen slope median) ranked key-grain
    // rollups in ONE unpartitioned window. distributedRank replaces them
    // with pivot-cell classification + cell-PARTITIONED rank windows; a
    // row_number window without the __drseg cell key would mean the
    // single-task sort came back
    // q293 (ABC classification) joined the family in round 13: its
    // cumulative-revenue-at-rank rides distributedRank's cumOut
    // q260 (key-skew report) joined in round 14: ONE desc distributedRank
    // pass feeds both the top-10 share (r_d <= 10) and the Gini ascending
    // sum (r_a = K+1-r_d telescope) — the last keyless rank window over a
    // data-growing key relation is gone
    for (q <- Seq("q312_whale_share", "q112_gini", "q116_percent_rank",
        "q161_quantile_norm", "q263_theil_sen", "q293_abc_classification",
        "q260_key_skew")) {
      val p = planOf(q)
      assert(!p.contains("percent_rank("),
        s"$q: keyless percent_rank survived:\n$p")
      // Catalyst prunes unused window exprs (q116 keeps only the running
      // count), so the pin covers EVERY window in these plans: each must
      // carry the cell partition key
      val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
      assert(windows.nonEmpty,
        s"$q: expected distributedRank cell windows:\n$p")
      assert(windows.forall(_.contains("__drseg")),
        s"$q: window not cell-partitioned:\n${windows.mkString("\n")}")
    }
  }

  test("q397: concurrency points cumulate in a SUB-DAY-bucket window; carry-in never plans a global sort") {
    // the run window must partition on the sub-day bucket (__b) — a
    // day-partitioned (let alone global) window would funnel a hot day's
    // boundary points through one task
    val p = planOf("q397_peak_concurrency")
    val runWindows = p.linesIterator.filter(l =>
      l.contains("Window [") && l.contains("__run")).toSeq
    assert(runWindows.nonEmpty && runWindows.forall(_.contains("__b#")),
      s"point cumulation must partition by bucket:\n${runWindows.mkString("\n")}")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("q393: assortativity joins degrees co-keyed — no window, no cartesian, one aggregate") {
    val p = planOf("q393_assortativity")
    assert(!p.contains("Window ["), s"assortativity needs no window:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"degree joins must stay equi:\n$p")
  }

  test("q386/q392: concordance pair joins are the documented bounded BNLJ over CELLS — an aggregate sits below (never raw rows)") {
    for (q <- Seq("q386_kendall_tau", "q392_harrell_c")) {
      val p = planOf(q)
      val bnljIdx = p.linesIterator.indexWhere(_.contains("BroadcastNestedLoopJoin"))
      assert(bnljIdx >= 0, s"$q: expected the cell-pair inequality join:\n$p")
      // the vocabulary rollup must feed the pair join: a HashAggregate
      // below the BNLJ proves pairs form over cells, not rows
      assert(p.linesIterator.drop(bnljIdx).exists(_.contains("HashAggregate")),
        s"$q: pair join must consume the cell rollup:\n$p")
    }
  }

  test("q362: log-rank is one duration rollup — windows keyless over the grain, no cartesian beyond the 1-row total") {
    val p = planOf("q362_logrank")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    // every nested-loop join is a 1-row scalar broadcast: the fixture's
    // max-day anchor, the operator's per-group totals, and (round 15)
    // the gateDurationCells __nv count — which, being a LAZY gate (the
    // documented DomainGate trade), re-broadcasts once per consumer of
    // the gated rollup. Still never a data join: each build side is one
    // aggregate row.
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 8,
      s"beyond the scalar broadcasts:\n$p")
    // the duration-cardinality gate must be IN the plan (enforced, not
    // scaladoc): the raise names the operator
    assert(p.contains("logRank: ") && p.contains("distinct durations exceed"),
      s"duration gate missing from the plan:\n$p")
    assert(p.contains("windowspecdefinition(duration"),
      s"risk-set windows must run on the duration grain:\n$p")
  }

  test("q437-q440: every ticker-indicator window partitions by the key — " +
    "no global sort over the bar relation") {
    for (q <- Seq("q437_rsi", "q438_bollinger", "q439_hist_var",
        "q440_ulcer")) {
      val p = planOf(q)
      val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
      assert(windows.nonEmpty, s"$q: expected keyed indicator windows:\n$p")
      assert(windows.forall(_.contains("key#")),
        s"$q: window not key-partitioned:\n${windows.mkString("\n")}")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian in:\n$p")
    }
  }

  test("q435: R/S cumsum and moment windows partition by (size, block) — " +
    "never a spine-global sort") {
    val p = planOf("q435_hurst")
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty, s"expected block-keyed windows:\n$p")
    assert(windows.forall(_.contains("__b#")),
      s"window not block-partitioned:\n${windows.mkString("\n")}")
  }

  test("q434/q436: Cox-Stuart and the periodogram plan NO window — " +
    "one equi-join / one groupBy over the spine") {
    for (q <- Seq("q434_cox_stuart", "q436_periodogram")) {
      val p = planOf(q)
      assert(!p.contains("Window ["), s"$q: unexpected window:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian in:\n$p")
    }
  }

  test("q444: Quade within-ranks partition by the unit; keyless windows " +
    "consume only the range-value rollup") {
    val p = planOf("q444_quade")
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty, s"expected rank windows:\n$p")
    val (unit, keyless) = windows.partition(_.contains("__u#"))
    assert(unit.nonEmpty, s"missing unit-partitioned rank window:\n$p")
    // every keyless window midranks the DISTINCT range relation (the
    // subtree is planned twice — once per consumer): the __rng ordering
    // key proves it runs on the per-range-value rollup, never unit rows
    assert(keyless.forall(_.contains("__rng#")),
      s"keyless window off the range rollup:\n${keyless.mkString("\n")}")
  }

  test("q432/q446: squared-rank and Brunner-Munzel midrank windows consume " +
    "the value-cell rollup (HashAggregate below), never raw rows") {
    for (q <- Seq("q432_conover_ranks", "q446_brunner_munzel")) {
      val p = planOf(q)
      val wIdx = p.linesIterator.indexWhere(_.contains("Window ["))
      assert(wIdx >= 0, s"$q: expected the midrank window:\n$p")
      assert(p.linesIterator.drop(wIdx).exists(_.contains("HashAggregate")),
        s"$q: midrank window must consume the cell rollup:\n$p")
    }
  }

  test("q457/q466/q467: pairwise-family joins are the bounded cell BNLJ — " +
    "an aggregate sits below, never raw rows") {
    for (q <- Seq("q457_hodges_lehmann", "q466_qn_scale", "q467_gmd")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q: cartesian in:\n$p")
      val bnljIdx = p.linesIterator.indexWhere(
        _.contains("BroadcastNestedLoopJoin"))
      assert(bnljIdx >= 0, s"$q: expected the cell-pair join:\n$p")
      assert(p.linesIterator.drop(bnljIdx).exists(_.contains("HashAggregate")),
        s"$q: pair join must consume the cell rollup:\n$p")
    }
  }

  test("q460/q461: VaR backtest and Roll spread windows all partition by " +
    "the ticker key") {
    for (q <- Seq("q460_kupiec", "q461_roll_spread")) {
      val p = planOf(q)
      val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
      assert(windows.nonEmpty, s"$q: expected keyed windows:\n$p")
      assert(windows.forall(_.contains("key#")),
        s"$q: window not key-partitioned:\n${windows.mkString("\n")}")
    }
  }

  test("q451-q454, q468-q474 moment-aggregate family: no window at all; " +
    "cross joins are 1-row scalar broadcasts only") {
    for (q <- Seq("q451_games_howell", "q453_lin_ccc", "q454_deming",
        "q462_mahalanobis", "q468_neyman", "q469_taylors_law",
        "q471_dist_distance", "q472_ratio_ci", "q473_spiegelhalter",
        "q474_brier_decomp")) {
      val p = planOf(q)
      assert(!p.contains("Window ["), s"$q: unexpected window:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian in:\n$p")
    }
  }

  test("q456: seasonal MK pairs join HASH-keyed on the season — never a " +
    "nested loop over the spine") {
    val p = planOf("q456_seasonal_mk")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"season pair join must be an equi join:\n$p")
  }

  test("round-12 ticker family: every lag/run window partitions by the " +
    "ticker key") {
    for (q <- Seq("q480_corwin_schultz", "q481_amihud", "q482_omega",
        "q487_dickey_fuller", "q488_kpss", "q489_ar1_half_life",
        "q523_kyle_lambda", "q525_drawdown_duration")) {
      val p = planOf(q)
      val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
      assert(windows.nonEmpty, s"$q: expected keyed windows:\n$p")
      assert(windows.forall(_.contains("key#")),
        s"$q: window not key-partitioned:\n${windows.mkString("\n")}")
    }
  }

  test("round-12 moment family: no window at all; no cartesian beyond " +
    "1-row scalar broadcasts") {
    for (q <- Seq("q479_ohlc_vol", "q499_silhouette", "q501_xie_beni",
        "q502_cluster_balance", "q515_dagostino", "q516_chow",
        "q518_breusch_pagan", "q519_variance_panel", "q503_morans_i",
        "q504_gearys_c", "q506_general_g")) {
      val p = planOf(q)
      assert(!p.contains("Window ["), s"$q: unexpected window:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian in:\n$p")
    }
  }

  test("q483/q484: Hill and Pickands tails come from a distributed " +
    "TakeOrdered, never a global sort") {
    for (q <- Seq("q483_hill", "q484_pickands")) {
      val p = planOf(q)
      assert(p.contains("TakeOrderedAndProject"),
        s"$q: expected TakeOrderedAndProject:\n$p")
    }
  }

  test("q485/q486: plot-fit global ranks go through distributedRank " +
    "cell windows") {
    for (q <- Seq("q485_weibull_fit", "q486_ppcc_exp")) {
      val p = planOf(q)
      val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
        .filter(_.contains("row_number"))
      assert(windows.nonEmpty, s"$q: expected rank windows:\n$p")
      assert(windows.forall(w => w.contains("__drseg") ||
        w.contains("user_id#")),
        s"$q: rank window not cell-partitioned:\n${windows.mkString("\n")}")
    }
  }

  test("q495: link-prediction wedges route through the shuffle-hash " +
    "join, never a cartesian") {
    val p = planOf("q495_link_prediction")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      s"expected the keyed wedge join:\n$p")
  }

  test("q507-q510 rank-scale family: the midrank window consumes the " +
    "value-cell rollup (HashAggregate below)") {
    // q509 shares the exact same scaffold but cuts the cell relation with
    // Ops.materialize (two consumers), which takes the window out of the
    // executed plan — covered by the shared twoSampleRankCells path here
    for (q <- Seq("q507_ansari_bradley", "q508_mood_scale",
        "q510_cucconi")) {
      val p = planOf(q)
      val wIdx = p.linesIterator.indexWhere(_.contains("Window ["))
      assert(wIdx >= 0, s"$q: expected the midrank window:\n$p")
      assert(p.linesIterator.drop(wIdx).exists(_.contains("HashAggregate")),
        s"$q: midrank window must consume the cell rollup:\n$p")
    }
  }

  test("typeCast over Readers.csv: the lenient cast Project sits inside the scan's " +
    "whole-stage-codegen stage") {
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-cast")
    val csv = dir.resolve("in.csv")
    java.nio.file.Files.writeString(csv,
      "id,amount,day,at,clock,note\n7,\"$1,234.50\",2024-01-16,2024-01-16 10:00,10:00,\"a, b\"\n")
    val cast = DetectTypes.typeCast(Readers.csv(spark, csv.toString),
      Seq("id" -> "int", "amount" -> "float", "day" -> "date", "at" -> "datetime",
        "clock" -> "time", "note" -> "text").map { case (c, t) => DetectTypes.FieldType(c, t) })
    val plan = cast.queryExecution.executedPlan
    val lenient = Set("lenient_number", "lenient_date", "lenient_timestamp", "lenient_time")
    def casts(p: org.apache.spark.sql.execution.SparkPlan) = p.collect {
      case x: org.apache.spark.sql.execution.ProjectExec
        if x.projectList.exists(_.exists(e => lenient(e.prettyName))) => x
    }
    val compiled = plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => casts(w.child)
    }.flatten
    assert(casts(plan).size == 1 && compiled.size == 1,
      s"the cast Project is not in a codegen stage:\n$plan")
    assert(cast.collect().length == 1)
  }
}
