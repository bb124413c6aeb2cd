package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Ops
import graft.pipeline.{Curation, EventAnalytics, Finance, Graph, Spatial,
  Stats, TextAnalysis => TA}

/** Distribution-analytics drivers: cube aggregates, quantile bucketing,
  * budget-targeted mixture sampling, PMI collocations, per-group
  * standardization, and robust (median/MAD) outlier detection. Each entry
  * names the library operator it exercises; every one is oracle-checked.
  */
object StatsQueries {

  val qs: Seq[Q] = Seq(

    // ---- CUBE aggregate (all four grouping sets in one pass over the
    // Expand operator — free Catalyst uplift, the q42 rollup's big sibling).
    // GROUPING() flags disambiguate "NULL data value" from "rolled up",
    // cast to INT on both sides (Spark emits TINYINT, DuckDB BIGINT).
    Q("q92_cube",
      Some("SELECT l_returnflag, l_linestatus, " +
        "CAST(GROUPING(l_returnflag) AS INT) AS g_rf, " +
        "CAST(GROUPING(l_linestatus) AS INT) AS g_ls, COUNT(*) AS n, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty " +
        "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) " +
        "ORDER BY 1, 2, 3, 4"),
      (s, dir) => {
        // via spark.sql, like q42: the Dataset-API cube trips the
        // DetectAmbiguousSelfJoin false positive on Expand's duplicated
        // grouping attributes; the SQL path analyzes cleanly
        Tables.lineitem(s, dir).createOrReplaceTempView("g_lineitem")
        s.sql("SELECT l_returnflag, l_linestatus, " +
          "CAST(GROUPING(l_returnflag) AS INT) AS g_rf, " +
          "CAST(GROUPING(l_linestatus) AS INT) AS g_ls, COUNT(*) AS n, " +
          "CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty " +
          "FROM g_lineitem GROUP BY CUBE(l_returnflag, l_linestatus) " +
          "ORDER BY 1, 2, 3, 4")
      }),

    // ---- quantile bucketing: quartile boundaries from ONE exact-percentile
    // aggregate broadcast back as a projection — never a global ntile sort.
    // Boundaries round to 4dp before the comparison (the one interpolated —
    // and thus sub-ulp-sensitive — step); per-bucket min/max round at the
    // data's own 2dp.
    Q("q93_quantile_bucket",
      Some("WITH b AS (SELECT round(quantile_cont(o_totalprice, 0.25), 4) AS q0, " +
        "round(quantile_cont(o_totalprice, 0.5), 4) AS q1, " +
        "round(quantile_cont(o_totalprice, 0.75), 4) AS q2 FROM orders), " +
        "a AS (SELECT o_totalprice, 1 + CAST(o_totalprice > q0 AS INT) + " +
        "CAST(o_totalprice > q1 AS INT) + CAST(o_totalprice > q2 AS INT) AS bucket " +
        "FROM orders, b) " +
        "SELECT bucket, count(*) AS n, round(min(o_totalprice), 2) AS lo, " +
        "round(max(o_totalprice), 2) AS hi FROM a GROUP BY bucket ORDER BY bucket"),
      (s, dir) => Stats.quantileBuckets(
          Tables.orders(s, dir).select("o_totalprice"),
          "o_totalprice", Seq(0.25, 0.5, 0.75))
        .groupBy("bucket").agg(count(lit(1)).as("n"),
          round(min(col("o_totalprice")), 2).as("lo"),
          round(max(col("o_totalprice")), 2).as("hi"))
        .orderBy("bucket")),

    // ---- budget-targeted mixture sampling: rates DERIVED from measured
    // per-source token mass (20k-token budget; src0-4 get 10% shares, the
    // rest split 1/32 each), then the q57 deterministic md5 draw. Sources
    // under their allocation keep everything (rate caps at 1).
    Q("q94_token_budget", {
      val share = "CASE WHEN source IN ('src0','src1','src2','src3','src4') " +
        "THEN 0.1 ELSE 0.03125 END"
      Some("WITH w AS (SELECT doc_id, source, " +
        "len(regexp_split_to_array(trim(text), '\\s+')) AS ntok FROM documents), " +
        s"t AS (SELECT source, CAST(SUM(ntok) AS BIGINT) AS tw FROM w GROUP BY 1), " +
        s"r AS (SELECT source, least(1.0, 20000.0 * $share / CAST(tw AS DOUBLE)) AS rate FROM t), " +
        "k AS (SELECT w.*, rate FROM w JOIN r USING (source) WHERE rate >= 1.0 OR " +
        "substring(md5('budget-v1' || CAST(doc_id AS VARCHAR)), 1, 8) < " +
        "printf('%08x', CAST(least(floor(rate * 4294967296.0), 4294967295.0) AS BIGINT))) " +
        "SELECT source, count(*) AS n_kept, CAST(SUM(ntok) AS BIGINT) AS tokens_kept, " +
        "round(any_value(rate), 9) AS rate FROM k GROUP BY source ORDER BY source")
    },
      (s, dir) => Curation.budgetedMixtureSample(
          Tables.documents(s, dir)
            .withColumn("ntok", TA.tokenCount(col("text"))),
          col("doc_id"), "budget-v1", col("source"), col("ntok"),
          budget = 20000.0, shares = (0 to 4).map(i => s"src$i" -> 0.1),
          defaultShare = 0.03125)
        .groupBy("source").agg(count(lit(1)).as("n_kept"),
          sum(col("ntok")).as("tokens_kept"),
          round(first(col("sample_rate")), 9).as("rate"))
        .orderBy("source")),

    // ---- PMI bigram collocations: adjacent-pair counts vs unigram
    // expectation, the fixed ln-sum shape rounded at 6dp (q61 libm
    // discipline). Counts are exact integers on both engines.
    Q("q95_pmi",
      Some("WITH t AS (SELECT regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents), " +
        "u AS (SELECT unnest(toks) AS w FROM t), " +
        "uc AS (SELECT w, count(*) AS c FROM u GROUP BY 1), " +
        "nu AS (SELECT CAST(sum(c) AS BIGINT) AS nu FROM uc), " +
        "i AS (SELECT toks, unnest(range(1, len(toks))) AS i FROM t WHERE len(toks) >= 2), " +
        "p AS (SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM i), " +
        "bc AS (SELECT w1, w2, count(*) AS c_xy FROM p GROUP BY 1, 2), " +
        "nb AS (SELECT CAST(sum(c_xy) AS BIGINT) AS nb FROM bc) " +
        "SELECT w1, w2, c_xy, round(ln(c_xy) + 2.0 * ln(nu.nu) - ln(nb.nb) " +
        "- ln(x.c) - ln(y.c), 6) AS pmi " +
        "FROM bc JOIN uc x ON bc.w1 = x.w JOIN uc y ON bc.w2 = y.w, nu, nb " +
        "WHERE c_xy >= 5 ORDER BY w1, w2"),
      (s, dir) => TA.pmiBigrams(Tables.documents(s, dir), "text", minCount = 5L)
        .orderBy("w1", "w2")),

    // ---- per-group z-score anomalies: decimal-exact moment sums (q91
    // discipline; events.value carries 2dp, so v and v·v are exact at
    // DECIMAL(38,6)) -> one fixed-shape IEEE closed form -> 6dp round,
    // filtered ON THE ROUNDED score so the gate is engine-independent.
    Q("q96_group_zscore",
      Some("WITH s AS (SELECT event_type, COUNT(*) AS n, " +
        "CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sv, " +
        "CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS pv " +
        "FROM events WHERE value IS NOT NULL GROUP BY 1), " +
        "z AS (SELECT e.event_id, e.event_type, " +
        "round((e.value - sv / n) / sqrt((n * pv - sv * sv) / (CAST(n AS DOUBLE) * n)), 6) AS z " +
        "FROM events e JOIN s USING (event_type) WHERE e.value IS NOT NULL) " +
        "SELECT event_id, event_type, z FROM z WHERE abs(z) >= 2.5 " +
        "ORDER BY event_id"),
      (s, dir) => Stats.standardize(Tables.events(s, dir),
          Seq("event_type"), "value")
        .withColumn("z", round(col("z"), 6))
        .filter(abs(col("z")) >= 2.5)
        .select("event_id", "event_type", "z")
        .orderBy("event_id")),

    // ---- robust outliers (Hampel x̃/MAD rule): med and mad are LOWER
    // MEDIANS — order statistics, data elements, byte-identical across
    // engines with NO rounding step anywhere (the q43 lesson); the flag is
    // exactly-rounded IEEE (subtract, abs, one multiply) on identical
    // inputs.
    Q("q97_outlier_mad",
      Some("WITH r AS (SELECT event_type, value, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn, " +
        "count(*) OVER (PARTITION BY event_type) AS n FROM events WHERE value IS NOT NULL), " +
        "m AS (SELECT event_type, value AS med FROM r WHERE rn = (n + 1) // 2), " +
        "d AS (SELECT e.event_type, m.med, abs(e.value - m.med) AS dev " +
        "FROM events e JOIN m USING (event_type) WHERE e.value IS NOT NULL), " +
        "r2 AS (SELECT event_type, med, dev, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn, " +
        "count(*) OVER (PARTITION BY event_type) AS n FROM d), " +
        "m2 AS (SELECT event_type, dev AS mad FROM r2 WHERE rn = (n + 1) // 2) " +
        "SELECT d.event_type, count(*) AS n, any_value(d.med) AS med, " +
        "any_value(m2.mad) AS mad, " +
        "CAST(sum(CASE WHEN d.dev > 3.0 * m2.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers " +
        "FROM d JOIN m2 USING (event_type) GROUP BY 1 ORDER BY 1"),
      (s, dir) => Stats.robustOutlierStats(Tables.events(s, dir),
          Seq("event_type"), "value", k = 3.0)
        .select("event_type", "n", "med", "mad", "n_outliers")
        .orderBy("event_type")),

    // ---- ordered funnel (view -> click -> purchase, strictly after):
    // stage completions fold as co-keyed min-joins on the user — no
    // windows, no per-user sorting. All time comparisons on integer
    // MICROSECONDS (exact floor from the parquet nanos on both engines).
    Q("q98_funnel",
      Some("WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events), " +
        "s0 AS (SELECT user_id, min(t) AS t FROM e WHERE event_type = 'view' GROUP BY 1), " +
        "s1 AS (SELECT e.user_id, min(e.t) AS t FROM e JOIN s0 ON e.user_id = s0.user_id " +
        "AND e.t > s0.t WHERE e.event_type = 'click' GROUP BY 1), " +
        "s2 AS (SELECT e.user_id, min(e.t) AS t FROM e JOIN s1 ON e.user_id = s1.user_id " +
        "AND e.t > s1.t WHERE e.event_type = 'purchase' GROUP BY 1) " +
        "SELECT 0 AS stage_idx, 'view' AS stage, (SELECT count(*) FROM s0) AS n_users " +
        "UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s1) " +
        "UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2) ORDER BY stage_idx"),
      (s, dir) => EventAnalytics.funnel(Tables.events(s, dir),
          "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
        .orderBy("stage_idx")),

    // ---- weekly cohort retention triangle: cohort = first-activity week.
    // Weeks are INTEGER INDICES (days-since-epoch, Monday-aligned via the
    // +3 shift) — no calendar function on either engine.
    Q("q99_retention",
      Some("WITH a AS (SELECT DISTINCT user_id, " +
        "(epoch_us(ts) // 86400000000 + 3) // 7 AS wk FROM events), " +
        "c AS (SELECT user_id, min(wk) AS cohort_week FROM a GROUP BY 1) " +
        "SELECT cohort_week, wk - cohort_week AS week_offset, count(*) AS n_users " +
        "FROM a JOIN c USING (user_id) GROUP BY 1, 2 ORDER BY 1, 2"),
      (s, dir) => EventAnalytics.retentionCohorts(Tables.events(s, dir),
          "user_id", "ts")
        .orderBy("cohort_week", "week_offset")),

    // ---- event-type association rules over user baskets: exact integer
    // counts, fixed-shape IEEE division, 6dp round. The self-join runs on
    // the DISTINCT basket (bounded by the type vocabulary), never raw
    // events.
    Q("q100_assoc_rules",
      Some("WITH b AS (SELECT DISTINCT user_id, event_type FROM events), " +
        "nu AS (SELECT count(DISTINCT user_id) AS nu FROM b), " +
        "m AS (SELECT event_type, count(*) AS nb FROM b GROUP BY 1), " +
        "p AS (SELECT x.event_type AS antecedent, y.event_type AS consequent, " +
        "count(*) AS n_both FROM b x JOIN b y ON x.user_id = y.user_id " +
        "AND x.event_type <> y.event_type GROUP BY 1, 2) " +
        "SELECT antecedent, consequent, n_both, " +
        "round(n_both / CAST(nu.nu AS DOUBLE), 6) AS support, " +
        "round(n_both / CAST(ma.nb AS DOUBLE), 6) AS confidence, " +
        "round((n_both / CAST(ma.nb AS DOUBLE)) / (mc.nb / CAST(nu.nu AS DOUBLE)), 6) AS lift " +
        "FROM p JOIN m ma ON p.antecedent = ma.event_type " +
        "JOIN m mc ON p.consequent = mc.event_type, nu " +
        "ORDER BY antecedent, consequent"),
      // maxBasket opt-out: event_type baskets are vocabulary-bounded, cf.
      // the q152 note — keeps the plan window-free (PlanSpec pin)
      (s, dir) => EventAnalytics.associationRules(Tables.events(s, dir),
          "user_id", "event_type", maxBasket = Int.MaxValue)
        .orderBy("antecedent", "consequent")),

    // ---- ordered group concatenation (SQL string_agg ORDER BY): values
    // sort INSIDE each group's collected array by the unique order key, so
    // the joined string is deterministic on both engines.
    Q("q101_group_concat",
      Some("SELECT o_custkey, string_agg(o_orderpriority, '|' ORDER BY o_orderkey) " +
        "AS concat FROM orders GROUP BY 1 ORDER BY 1"),
      (s, dir) => graft.operators.Ops.groupConcat(Tables.orders(s, dir),
          Seq("o_custkey"), "o_orderpriority", Seq("o_orderkey"), "|")
        .orderBy("o_custkey")),

    // ---- per-group quantile bands in ONE aggregate (Spark exact
    // `percentile` ≡ DuckDB `quantile_cont`, both linear-interpolating —
    // the q43/q65 precedent), 6dp-rounded.
    Q("q102_group_quantiles",
      Some("SELECT event_type, round(quantile_cont(value, 0.25), 6) AS p25, " +
        "round(quantile_cont(value, 0.5), 6) AS p50, " +
        "round(quantile_cont(value, 0.75), 6) AS p75 " +
        "FROM events WHERE value IS NOT NULL GROUP BY 1 ORDER BY 1"),
      (s, dir) => Tables.events(s, dir)
        .groupBy("event_type")
        .agg(expr("percentile(value, array(0.25, 0.5, 0.75))").as("__q"))
        .select(col("event_type"),
          round(element_at(col("__q"), 1), 6).as("p25"),
          round(element_at(col("__q"), 2), 6).as("p50"),
          round(element_at(col("__q"), 3), 6).as("p75"))
        .orderBy("event_type")),

    // ---- heavy hitters: the k heaviest keys by count with a deterministic
    // key tiebreak — the skew diagnostic run before choosing a partitioning
    // strategy for a new key.
    Q("q103_heavy_hitters",
      Some("SELECT l_partkey, count(*) AS n FROM lineitem GROUP BY 1 " +
        "ORDER BY n DESC, l_partkey LIMIT 10"),
      (s, dir) => graft.operators.Ops.heavyHitters(
          Tables.lineitem(s, dir), Seq("l_partkey"), 10)),

    // ---- group-mean imputation on a deterministic null injection
    // (event_id % 13): the fill constant is the group's decimal-exact mean
    // rounded at 6dp; non-null values pass through byte-identical.
    Q("q104_impute",
      Some("WITH e AS (SELECT event_id, event_type, " +
        "CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS value FROM events), " +
        "s AS (SELECT event_type, COUNT(value) AS n, " +
        "CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sv FROM e GROUP BY 1) " +
        "SELECT event_id, e.event_type, " +
        "coalesce(e.value, round(sv / CAST(n AS DOUBLE), 6)) AS value, " +
        "event_id % 13 = 0 AS was_filled " +
        "FROM e JOIN s USING (event_type) ORDER BY event_id"),
      (s, dir) => {
        val e = Tables.events(s, dir).select(col("event_id"), col("event_type"),
          when(pmod(col("event_id"), lit(13)) === 0, lit(null))
            .otherwise(col("value")).as("value"))
        Stats.imputeGroupMean(e, Seq("event_type"), "value")
          .withColumn("was_filled", pmod(col("event_id"), lit(13)) === 0)
          .select("event_id", "event_type", "value", "was_filled")
          .orderBy("event_id")
      }),

    // ---- DAU/WAU engagement series: the windowed distinct count is an
    // EXPLODE of the day-deduped activation relation to its window ends
    // (bounded 7x fan-out), never a per-day sort or window function. Days
    // are the integer indices of q99.
    Q("q105_active_users",
      Some("WITH a AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d FROM events), " +
        "dau AS (SELECT d AS day, count(*) AS dau FROM a GROUP BY 1), " +
        "w AS (SELECT DISTINCT user_id, day FROM " +
        "(SELECT user_id, unnest(range(d, d + 7)) AS day FROM a)), " +
        "wau AS (SELECT day, count(*) AS wau FROM w GROUP BY 1) " +
        "SELECT wau.day, coalesce(dau.dau, 0) AS dau, wau.wau " +
        "FROM wau LEFT JOIN dau USING (day) ORDER BY day"),
      (s, dir) => EventAnalytics.rollingActiveUsers(Tables.events(s, dir),
          "user_id", "ts", windowDays = 7)
        .orderBy("day")),

    // ---- winsorization at [p01, p99]: bounds from ONE exact-percentile
    // aggregate, 4dp-rounded before use (q93 discipline); unclipped values
    // pass through byte-identical, verified by the decimal-exact sum.
    Q("q106_winsorize",
      Some("WITH b AS (SELECT round(quantile_cont(o_totalprice, 0.01), 4) AS lo, " +
        "round(quantile_cont(o_totalprice, 0.99), 4) AS hi FROM orders), " +
        "c AS (SELECT o_totalprice, least(greatest(o_totalprice, lo), hi) AS v " +
        "FROM orders, b) " +
        "SELECT count(*) AS n, CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) AS sum_clipped, " +
        "CAST(sum(CASE WHEN o_totalprice < v THEN 1 ELSE 0 END) AS BIGINT) AS n_lo, " +
        "CAST(sum(CASE WHEN o_totalprice > v THEN 1 ELSE 0 END) AS BIGINT) AS n_hi FROM c"),
      (s, dir) => Stats.winsorize(Tables.orders(s, dir).select("o_totalprice"),
          "o_totalprice", 0.01, 0.99)
        .agg(count(lit(1)).as("n"),
          sum(col("clipped").cast("decimal(38,6)")).cast("double").as("sum_clipped"),
          sum(when(col("o_totalprice") < col("clipped"), 1L).otherwise(0L)).as("n_lo"),
          sum(when(col("o_totalprice") > col("clipped"), 1L).otherwise(0L)).as("n_hi"))),

    // ---- pairwise cosine between per-label embedding centroids: the
    // oracle-checkable face of the similarity tier (LSH internals are
    // engine-specific; exact centroid geometry is not). DECIMAL(38,12)
    // sums make the centroids bit-identical on both engines.
    Q("q108_centroid_cosine",
      Some("WITH x AS (SELECT label, unnest(embedding) AS v, " +
        "unnest(range(1, len(embedding) + 1)) AS i FROM embeddings), " +
        "c AS (SELECT label, i, CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE) " +
        "/ CAST(count(*) AS DOUBLE) AS c FROM x GROUP BY 1, 2), " +
        "nm AS (SELECT label, CAST(SUM(CAST(c * c AS DECIMAL(38,12))) AS DOUBLE) AS nm FROM c GROUP BY 1), " +
        "d AS (SELECT a.label AS label_a, b.label AS label_b, " +
        "CAST(SUM(CAST(a.c * b.c AS DECIMAL(38,12))) AS DOUBLE) AS dot " +
        "FROM c a JOIN c b ON a.i = b.i AND a.label < b.label GROUP BY 1, 2) " +
        "SELECT label_a, label_b, round(dot / (sqrt(na.nm) * sqrt(nb.nm)), 6) AS cos " +
        "FROM d JOIN nm na ON d.label_a = na.label JOIN nm nb ON d.label_b = nb.label " +
        "ORDER BY label_a, label_b"),
      (s, dir) => graft.pipeline.Similarity.labelCentroidCosines(
          Tables.load(s, dir, "embeddings"), "label", "embedding")
        .orderBy("label_a", "label_b")),

    // ---- temporal conversion / abandonment: views with no purchase by the
    // same user within the next hour. ONE user-keyed hash join with the
    // time band as residual predicate, split semi/anti — never a window.
    Q("q109_conversion",
      Some("WITH v AS (SELECT user_id, epoch_us(ts) AS t FROM events WHERE event_type = 'view'), " +
        "p AS (SELECT user_id, epoch_us(ts) AS t FROM events WHERE event_type = 'purchase'), " +
        "l AS (SELECT v.user_id, v.t FROM v WHERE NOT EXISTS (SELECT 1 FROM p " +
        "WHERE p.user_id = v.user_id AND p.t > v.t AND p.t <= v.t + 3600000000)), " +
        "a AS (SELECT t // 86400000000 AS day, count(*) AS n_from FROM v GROUP BY 1), " +
        "u AS (SELECT t // 86400000000 AS day, count(*) AS n_unconverted FROM l GROUP BY 1) " +
        "SELECT a.day, a.n_from, coalesce(u.n_unconverted, 0) AS n_unconverted " +
        "FROM a LEFT JOIN u USING (day) ORDER BY day"),
      (s, dir) => EventAnalytics.conversionWithin(Tables.events(s, dir),
          "user_id", "event_type", "ts", "view", "purchase", withinSec = 3600L)
        .orderBy("day")),

    // ---- week-over-week change: the lag window runs over the AGGREGATED
    // week relation (calendar-bounded), never the event log.
    Q("q110_week_over_week",
      Some("WITH w AS (SELECT (epoch_us(ts) // 86400000000 + 3) // 7 AS week, " +
        "count(*) AS n FROM events GROUP BY 1) " +
        "SELECT week, n, round((n - lag(n) OVER (ORDER BY week)) / " +
        "CAST(lag(n) OVER (ORDER BY week) AS DOUBLE), 6) AS pct_change " +
        "FROM w ORDER BY week"),
      (s, dir) => EventAnalytics.weekOverWeek(Tables.events(s, dir), "ts")
        .orderBy("week")),

    // ---- chi-square independence of event_type x weekday, via the
    // zero-cell-free identity chi2 = sum o^2/e - N; cell terms decimal-
    // summed (order-independent), weekday = pure integer day arithmetic.
    Q("q111_chi_square",
      Some("WITH e AS (SELECT event_type, ((epoch_us(ts) // 86400000000) + 3) % 7 AS wd FROM events), " +
        "cells AS (SELECT event_type, wd, count(*) AS o FROM e GROUP BY 1, 2), " +
        "ra AS (SELECT event_type, count(*) AS ra FROM e GROUP BY 1), " +
        "cb AS (SELECT wd, count(*) AS cb FROM e GROUP BY 1), " +
        "nn AS (SELECT count(*) AS n FROM e), " +
        "t AS (SELECT CAST(SUM(CAST((CAST(o AS DOUBLE) * o) / " +
        "((CAST(ra AS DOUBLE) * cb) / CAST(nn.n AS DOUBLE)) AS DECIMAL(38,6))) AS DOUBLE) AS s, " +
        "any_value(nn.n) AS n FROM cells JOIN ra USING (event_type) JOIN cb USING (wd), nn), " +
        "d AS (SELECT (SELECT count(*) FROM ra) AS da, (SELECT count(*) FROM cb) AS db) " +
        "SELECT n, (da - 1) * (db - 1) AS dof, round(s - CAST(n AS DOUBLE), 6) AS chi2 FROM t, d"),
      (s, dir) => Stats.chiSquareIndependence(
          Tables.events(s, dir).select(col("event_type"),
            pmod(EventAnalytics.dayIndex(col("ts")) + lit(3), lit(7)).as("wd")),
          "event_type", "wd")),

    // ---- Gini concentration of token mass across sources: exact long
    // weights, rank window over the 20-row group relation only.
    Q("q112_gini",
      Some("WITH g AS (SELECT source, CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS w " +
        "FROM documents GROUP BY 1), " +
        "r AS (SELECT source, w, row_number() OVER (ORDER BY w ASC, source ASC) AS rk FROM g), " +
        "a AS (SELECT CAST(count(*) AS BIGINT) AS n_groups, CAST(sum(w) AS BIGINT) AS total_weight, " +
        "CAST(sum(rk * w) AS BIGINT) AS rw FROM r) " +
        "SELECT n_groups, total_weight, round(2.0 * rw / (CAST(n_groups AS DOUBLE) * total_weight) " +
        "- CAST(n_groups + 1 AS DOUBLE) / CAST(n_groups AS DOUBLE), 6) AS gini FROM a"),
      (s, dir) => Stats.giniIndex(
          Tables.documents(s, dir).withColumn("ntok", TA.tokenCount(col("text"))),
          Seq("source"), col("ntok"))),

    // ---- BPE merge candidates: adjacent char-pair counts (cross-word
    // pairs dropped), top-50 with pair tiebreak — tokenizer training's
    // first table. State bounds at the alphabet squared.
    Q("q113_bpe_pairs",
      Some("WITH s AS (SELECT lower(text) AS s FROM documents), " +
        "i AS (SELECT s, unnest(range(1, len(s))) AS i FROM s), " +
        "p AS (SELECT substring(s, i, 2) AS pair FROM i) " +
        "SELECT pair, count(*) AS n FROM p " +
        "WHERE NOT contains(pair, ' ') AND len(pair) = 2 " +
        "GROUP BY 1 ORDER BY n DESC, pair LIMIT 50"),
      (s, dir) => TA.bytePairCounts(Tables.documents(s, dir), "text", k = 50)),

    // ---- skip-gram training pairs (window ±2): the pair list materializes
    // ROW-LOCALLY, so only (center, context) structs explode — the token
    // array is never duplicated across the fan-out.
    Q("q114_skipgrams",
      Some("WITH t AS (SELECT regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents), " +
        "i AS (SELECT toks, unnest(range(1, len(toks) + 1)) AS i FROM t), " +
        "o AS (SELECT toks, i, unnest([x for x in [-2, -1, 1, 2] " +
        "if i + x >= 1 AND i + x <= len(toks)]) AS o FROM i), " +
        "p AS (SELECT toks[i] AS center, toks[i + o] AS context FROM o) " +
        "SELECT center, context, count(*) AS n FROM p GROUP BY 1, 2 " +
        "HAVING count(*) >= 10 ORDER BY 1, 2"),
      (s, dir) => TA.skipGramPairs(Tables.documents(s, dir), "text",
          window = 2, minCount = 10L)
        .orderBy("center", "context")),

    // ---- rank-based score calibration: percent_rank per event_type —
    // exact integer (rank-1)/(n-1) arithmetic, ties share ranks, 6dp.
    Q("q116_percent_rank",
      Some("SELECT event_id, event_type, " +
        "round(percent_rank() OVER (PARTITION BY event_type ORDER BY value), 6) AS pr " +
        "FROM events ORDER BY event_id"),
      (s, dir) => Stats.percentRank(Tables.events(s, dir),
          Seq("event_type"), "value")
        .select("event_id", "event_type", "pr")
        .orderBy("event_id")),

    // ---- diversified top-k: best 20 orders by price, at most 2 per
    // customer — per-group rank window (bounded partitions) + TakeOrdered.
    Q("q117_diversified_topk",
      Some("WITH r AS (SELECT o_orderkey, o_custkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn " +
        "FROM orders) SELECT o_orderkey, o_custkey, o_totalprice FROM r " +
        "WHERE rn <= 2 ORDER BY o_totalprice DESC, o_orderkey LIMIT 20"),
      (s, dir) => graft.operators.Ops.diversifiedTopK(
          Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_totalprice"),
          "o_totalprice", Seq("o_custkey"), "o_orderkey", k = 20, perGroup = 2)),

    // ---- pairwise vocabulary Jaccard between sources: the distinct
    // (source, token) relation self-joins co-keyed on the token; state
    // bounds at groups x vocab.
    Q("q118_vocab_overlap",
      Some("WITH b AS (SELECT DISTINCT source, w FROM " +
        "(SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w FROM documents)), " +
        "s AS (SELECT source, count(*) AS n FROM b GROUP BY 1), " +
        "p AS (SELECT x.source AS src_a, y.source AS src_b, count(*) AS n_common " +
        "FROM b x JOIN b y ON x.w = y.w AND x.source < y.source GROUP BY 1, 2) " +
        "SELECT src_a, src_b, n_common, " +
        "round(n_common / CAST(sa.n + sb.n - n_common AS DOUBLE), 6) AS jaccard " +
        "FROM p JOIN s sa ON src_a = sa.source JOIN s sb ON src_b = sb.source " +
        "ORDER BY 1, 2"),
      (s, dir) => TA.vocabOverlap(Tables.documents(s, dir), "source", "text")
        .orderBy("src_a", "src_b")),

    // ---- daily resample with zero-filled gaps: the day spine explodes
    // from one (min, max) aggregate — calendar-bounded, never log-bounded.
    Q("q119_resample",
      Some("WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n " +
        "FROM events GROUP BY 1), " +
        "r AS (SELECT unnest(range((SELECT min(day) FROM c), (SELECT max(day) FROM c) + 1)) AS day) " +
        "SELECT r.day, coalesce(c.n, 0) AS n FROM r LEFT JOIN c USING (day) ORDER BY day"),
      (s, dir) => EventAnalytics.resampleDaily(Tables.events(s, dir), "ts")
        .orderBy("day")),

    // ---- KS two-sample drift statistic: ECDFs on the aggregated
    // distinct-value relation, max on integer cross-multiplied counts,
    // one final IEEE division (6dp).
    Q("q120_ks_test",
      Some("WITH c AS (SELECT value AS v, " +
        "sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca, " +
        "sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb " +
        "FROM events WHERE event_type IN ('click', 'purchase') " +
        "AND value IS NOT NULL GROUP BY 1), " +
        "w AS (SELECT sum(ca) OVER (ORDER BY v) AS fa, " +
        "sum(cb) OVER (ORDER BY v) AS fb FROM c), " +
        "t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM c) " +
        // CAST to BIGINT: DuckDB sum() yields HUGEINT → pandas float64,
        // while Spark emits int64 — the driver hash is dtype-sensitive
        "SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b, " +
        "round(CAST(max(abs(CAST(fa AS DECIMAL(18,0)) * nb - " +
        "CAST(fb AS DECIMAL(18,0)) * na)) AS DOUBLE) / " +
        "(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS ks " +
        "FROM w, t GROUP BY na, nb"),
      (s, dir) => Stats.ksTwoSample(Tables.events(s, dir),
        "event_type", "value", "click", "purchase")),

    // ---- Welch's t-test: decimal-exact conditional moments in one pass,
    // one fixed IEEE closed form for t and the Welch–Satterthwaite dof.
    Q("q121_welch_ttest",
      Some("WITH g AS (SELECT " +
        // CAST: HUGEINT-vs-int64 dtype face, cf. q120 note
        "CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
        "CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE) AS sa, " +
        "CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value * value AS DECIMAL(38,6)) END) AS DOUBLE) AS pa, " +
        "CAST(sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE) AS sb, " +
        "CAST(sum(CASE WHEN event_type = 'error' THEN CAST(value * value AS DECIMAL(38,6)) END) AS DOUBLE) AS pb " +
        "FROM events WHERE value IS NOT NULL " +
        "AND event_type IN ('view', 'error')), " +
        "m AS (SELECT n_a, n_b, CAST(n_a AS DOUBLE) AS na, " +
        "CAST(n_b AS DOUBLE) AS nb, sa, sb, pa, pb FROM g), " +
        "v AS (SELECT *, sa / na AS ma, sb / nb AS mb, " +
        "((na * pa - sa * sa) / (na * (na - 1.0))) / na AS s2a, " +
        "((nb * pb - sb * sb) / (nb * (nb - 1.0))) / nb AS s2b FROM m) " +
        "SELECT n_a, n_b, round(ma, 6) AS mean_a, round(mb, 6) AS mean_b, " +
        "round((ma - mb) / sqrt(s2a + s2b), 6) AS t, " +
        "round((s2a + s2b) * (s2a + s2b) / " +
        "(s2a * s2a / (na - 1.0) + s2b * s2b / (nb - 1.0)), 6) AS dof FROM v"),
      (s, dir) => Stats.welchTTest(Tables.events(s, dir),
        "event_type", "value", "view", "error")),

    // ---- lag-1 autocorrelation of the zero-filled daily series: the q119
    // spine, one lead window (calendar-bounded), decimal-exact integer sums.
    Q("q122_autocorr",
      Some("WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n " +
        "FROM events GROUP BY 1), " +
        "r AS (SELECT unnest(range((SELECT min(day) FROM c), (SELECT max(day) FROM c) + 1)) AS day), " +
        "s AS (SELECT r.day, coalesce(c.n, 0) AS n FROM r LEFT JOIN c USING (day)), " +
        "p AS (SELECT n AS x, lead(n, 1) OVER (ORDER BY day) AS y FROM s), " +
        "q AS (SELECT count(*) AS n_pairs, " +
        "CAST(sum(CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS sx, " +
        "CAST(sum(CAST(y AS DECIMAL(18,0))) AS DOUBLE) AS sy, " +
        "CAST(sum(CAST(x AS DECIMAL(18,0)) * y) AS DOUBLE) AS sxy, " +
        "CAST(sum(CAST(x AS DECIMAL(18,0)) * x) AS DOUBLE) AS sxx, " +
        "CAST(sum(CAST(y AS DECIMAL(18,0)) * y) AS DOUBLE) AS syy " +
        "FROM p WHERE y IS NOT NULL) " +
        "SELECT n_pairs, round((CAST(n_pairs AS DOUBLE) * sxy - sx * sy) / " +
        "(sqrt(CAST(n_pairs AS DOUBLE) * sxx - sx * sx) * " +
        "sqrt(CAST(n_pairs AS DOUBLE) * syy - sy * sy)), 6) AS r FROM q"),
      (s, dir) => EventAnalytics.autocorrDaily(Tables.events(s, dir), "ts",
        lag = 1)),

    // ---- deterministic stratified sample: 20% per source in
    // md5('s|'||id) order, target = (n*20 + 99) div 100 — pure integer,
    // no FP-ceil hazard.
    Q("q123_stratified_sample",
      Some("WITH n AS (SELECT source, count(*) AS n FROM documents GROUP BY 1), " +
        "r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source " +
        "ORDER BY md5('s|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM documents) " +
        "SELECT doc_id, source FROM r JOIN n USING (source) " +
        "WHERE rn <= (n * 20 + 99) // 100 ORDER BY source, doc_id"),
      (s, dir) => Curation.stratifiedSample(
          Tables.documents(s, dir).select("doc_id", "source"),
          Seq("source"), "doc_id", pct = 20)
        .select("doc_id", "source")
        .orderBy("source", "doc_id")),

    // ---- batch gap sessionization (30 min): per-user windows on integer
    // micros with the (us, event_id) deterministic tie rule; tied
    // timestamps land in one session whichever sorts first.
    Q("q124_sessions",
      Some("WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events), " +
        "f AS (SELECT user_id, event_id, us, " +
        "CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000 " +
        "THEN 1 ELSE 0 END AS nf FROM e " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)), " +
        // CAST: HUGEINT-vs-int64 dtype face, cf. q120 note
        "s AS (SELECT user_id, us, CAST(sum(nf) OVER " +
        "(PARTITION BY user_id ORDER BY us, event_id) AS BIGINT) AS session FROM f) " +
        "SELECT user_id, session, count(*) AS n_events, min(us) AS start_us, " +
        "max(us) AS end_us, max(us) - min(us) AS duration_us FROM s " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
      (s, dir) => EventAnalytics.sessionStats(Tables.events(s, dir),
          "user_id", "event_id", "ts", gapMinutes = 30)
        .orderBy("user_id", "session")),

    // ---- first-order Markov transitions between event types: per-user
    // lead windows, type-vocabulary-bounded pair aggregate, row totals
    // broadcast back.
    Q("q125_transitions",
      Some("WITH p AS (SELECT event_type AS src, lead(event_type) OVER " +
        "(PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS dst FROM events), " +
        "c AS (SELECT src, dst, count(*) AS n FROM p WHERE dst IS NOT NULL GROUP BY 1, 2), " +
        "t AS (SELECT src, sum(n) AS t FROM c GROUP BY 1) " +
        "SELECT src, dst, n, round(CAST(n AS DOUBLE) / CAST(t AS DOUBLE), 6) AS p " +
        "FROM c JOIN t USING (src) ORDER BY 1, 2"),
      (s, dir) => EventAnalytics.transitionMatrix(Tables.events(s, dir),
          "user_id", "event_id", "ts", "event_type")
        .orderBy("src", "dst")),

    // ---- per-type OLS trend of value vs day index: five decimal-exact
    // moment sums in one pass, fixed IEEE closed forms (q91 discipline).
    // x shifts to the day-20000 origin so Σx² honors linearFit's ≈9e9
    // magnitude contract (raw day² sums broke DuckDB's int128→double cast).
    Q("q126_trend",
      Some("WITH b AS (SELECT event_type, " +
        "CAST(epoch_us(ts) // 86400000000 - 20000 AS DOUBLE) AS x, value AS y " +
        "FROM events WHERE value IS NOT NULL AND ts IS NOT NULL), " +
        "g AS (SELECT event_type, count(*) AS n, " +
        "CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx, " +
        "CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy, " +
        "CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx, " +
        "CAST(sum(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy, " +
        "CAST(sum(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy " +
        "FROM b GROUP BY 1), " +
        "v AS (SELECT event_type, n, CAST(n AS DOUBLE) AS nd, sx, sy, " +
        "CAST(n AS DOUBLE) * sxy - sx * sy AS covn, " +
        "CAST(n AS DOUBLE) * sxx - sx * sx AS varxn, " +
        "CAST(n AS DOUBLE) * syy - sy * sy AS varyn FROM g) " +
        "SELECT event_type, n, " +
        "round(CASE WHEN varxn <> 0 THEN covn / varxn END, 6) AS slope, " +
        "round((sy - (CASE WHEN varxn <> 0 THEN covn / varxn END) * sx) / nd, 6) AS intercept, " +
        "round(CASE WHEN varxn <> 0 AND varyn <> 0 " +
        "THEN covn * covn / (varxn * varyn) END, 6) AS r2 " +
        "FROM v ORDER BY event_type"),
      (s, dir) => Stats.linearFit(
          Tables.events(s, dir).filter(col("ts").isNotNull),
          Seq("event_type"),
          EventAnalytics.dayIndex(col("ts")) - lit(20000), col("value"))
        .orderBy("event_type")),

    // ---- Zipf fit over the top-100 vocabulary: ln(count) ~ ln(rank) OLS
    // on the topV-bounded rank relation (q72's vocabulary CTE verbatim);
    // ln is the q95 PMI precedent — sub-ulp libm noise dies in the round.
    Q("q127_zipf",
      Some("WITH tk AS (SELECT unnest(list_filter(" +
        "regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t != '')) AS token FROM documents), " +
        "c AS (SELECT token, count(*) AS cnt FROM tk GROUP BY 1), " +
        "top AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token ASC LIMIT 100), " +
        "r AS (SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) AS DOUBLE)) AS x, " +
        "ln(CAST(cnt AS DOUBLE)) AS y FROM top), " +
        "g AS (SELECT count(*) AS n, " +
        "CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx, " +
        "CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy, " +
        "CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx, " +
        "CAST(sum(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy, " +
        "CAST(sum(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy FROM r), " +
        "v AS (SELECT n, CAST(n AS DOUBLE) AS nd, sx, sy, " +
        "CAST(n AS DOUBLE) * sxy - sx * sy AS covn, " +
        "CAST(n AS DOUBLE) * sxx - sx * sx AS varxn, " +
        "CAST(n AS DOUBLE) * syy - sy * sy AS varyn FROM g) " +
        "SELECT n, " +
        "round(CASE WHEN varxn <> 0 THEN covn / varxn END, 6) AS slope, " +
        "round((sy - (CASE WHEN varxn <> 0 THEN covn / varxn END) * sx) / nd, 6) AS intercept, " +
        "round(CASE WHEN varxn <> 0 AND varyn <> 0 " +
        "THEN covn * covn / (varxn * varyn) END, 6) AS r2 FROM v"),
      (s, dir) => TA.zipfFit(Tables.documents(s, dir), "text", topV = 100)),

    // ---- median inter-arrival gap per type: per-(user,type) lag windows;
    // the median is a LOWER MEDIAN — an order statistic, arithmetic-free.
    Q("q128_interarrival",
      Some("WITH g AS (SELECT event_type, epoch_us(ts) - lag(epoch_us(ts)) OVER " +
        "(PARTITION BY user_id, event_type ORDER BY epoch_us(ts), event_id) AS gap FROM events), " +
        "f AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL), " +
        "r AS (SELECT event_type, gap, row_number() OVER " +
        "(PARTITION BY event_type ORDER BY gap) AS rn, " +
        "count(*) OVER (PARTITION BY event_type) AS n FROM f) " +
        "SELECT event_type, n AS n_gaps, gap AS med_gap_us FROM r " +
        "WHERE rn = (n + 1) // 2 ORDER BY event_type"),
      (s, dir) => EventAnalytics.interArrivalMedian(Tables.events(s, dir),
          "user_id", "event_id", "ts", "event_type")
        .orderBy("event_type")),

    // ---- weekly churn: the distinct (user, week) relation self-joins
    // co-keyed; the final week drops (no w+1 evidence); exact counts, one
    // IEEE division.
    Q("q129_churn",
      Some("WITH wk AS (SELECT DISTINCT user_id AS u, " +
        "(epoch_us(ts) // 86400000000 + 3) // 7 AS week FROM events), " +
        "ch AS (SELECT w.week, count(*) AS n_churned FROM wk w " +
        "LEFT JOIN wk x ON w.u = x.u AND x.week = w.week + 1 " +
        "WHERE x.u IS NULL GROUP BY 1), " +
        "ac AS (SELECT week, count(*) AS n_active FROM wk GROUP BY 1), " +
        "mx AS (SELECT max(week) AS mx FROM wk) " +
        "SELECT week, n_active, coalesce(n_churned, 0) AS n_churned, " +
        "round(CAST(coalesce(n_churned, 0) AS DOUBLE) / CAST(n_active AS DOUBLE), 6) AS churn_rate " +
        "FROM ac LEFT JOIN ch USING (week), mx WHERE week < mx ORDER BY week"),
      (s, dir) => EventAnalytics.weeklyChurn(Tables.events(s, dir),
          "user_id", "ts")
        .orderBy("week")),

    // ---- dominant behavioral paths: event-type trigrams from two leads
    // on one per-user window, TakeOrdered top-20, trigram-text tiebreak.
    Q("q130_trigrams",
      Some("WITH t AS (SELECT event_type AS t1, " +
        "lead(event_type, 1) OVER w AS t2, lead(event_type, 2) OVER w AS t3 " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)) " +
        "SELECT t1, t2, t3, count(*) AS n FROM t " +
        "WHERE t2 IS NOT NULL AND t3 IS NOT NULL " +
        "GROUP BY 1, 2, 3 ORDER BY n DESC, t1, t2, t3 LIMIT 20"),
      (s, dir) => EventAnalytics.eventTrigrams(Tables.events(s, dir),
        "user_id", "event_id", "ts", "event_type", k = 20)),

    // ---- burstiness (Fano factor) of each type's zero-filled daily
    // series: per-group calendar spine, decimal-exact count moments.
    Q("q133_burstiness",
      Some("WITH c AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day, " +
        "count(*) AS n FROM events GROUP BY 1, 2), " +
        "sp AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day FROM " +
        "(SELECT event_type, min(day) AS lo, max(day) AS hi FROM c GROUP BY 1)), " +
        "d AS (SELECT sp.event_type, sp.day, coalesce(c.n, 0) AS n FROM sp " +
        "LEFT JOIN c ON sp.event_type = c.event_type AND sp.day = c.day), " +
        "g AS (SELECT event_type, count(*) AS n_days, " +
        "CAST(sum(CAST(n AS DECIMAL(18,0))) AS DOUBLE) AS s, " +
        "CAST(sum(CAST(n AS DECIMAL(18,0)) * n) AS DOUBLE) AS p FROM d GROUP BY 1) " +
        "SELECT event_type, n_days, round(s / CAST(n_days AS DOUBLE), 6) AS mean_daily, " +
        "round((CAST(n_days AS DOUBLE) * p - s * s) / " +
        "(CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)) / (s / CAST(n_days AS DOUBLE)), 6) AS fano " +
        "FROM g ORDER BY event_type"),
      (s, dir) => EventAnalytics.burstiness(Tables.events(s, dir),
          "event_type", "ts")
        .orderBy("event_type")),

    // ---- m-estimate smoothed per-source mean doc length (m = 50):
    // sparse sources shrink toward the global mean; decimal-exact sums.
    Q("q134_smoothed_mean",
      Some("WITH g AS (SELECT source, count(*) AS n, " +
        "CAST(sum(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE) AS s " +
        "FROM documents WHERE n_chars IS NOT NULL GROUP BY 1), " +
        "t AS (SELECT count(*) AS gn, " +
        "CAST(sum(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE) AS gs " +
        "FROM documents WHERE n_chars IS NOT NULL) " +
        "SELECT source, n, round(s / CAST(n AS DOUBLE), 6) AS mean_raw, " +
        "round((s + 50.0 * (gs / CAST(gn AS DOUBLE))) / (CAST(n AS DOUBLE) + 50.0), 6) AS mean_smoothed " +
        "FROM g, t ORDER BY source"),
      (s, dir) => Stats.smoothedGroupMean(Tables.documents(s, dir),
          Seq("source"), "n_chars", m = 50.0)
        .orderBy("source")),

    // ---- integer-arithmetic PageRank (3 rounds) over the bidirected
    // customer↔supplier graph: ranks are 10^-12 micro-units, every step is
    // floor division — the fixed point is bit-identical in any engine, so
    // the oracle just unrolls the same recurrence. Top 25 by rank.
    Q("q136_pagerank",
      Some("WITH e0 AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src, " +
        "'s' || CAST(l_suppkey AS VARCHAR) AS dst " +
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey), " +
        "e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0), " +
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), " +
        "deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1), " +
        "nn AS (SELECT count(*) AS n, (3 * 1000000000000) // (20 * count(*)) AS tp FROM nodes), " +
        "r0 AS (SELECT node, 1000000000000 // n AS r FROM nodes, nn), " +
        "i1 AS (SELECT e.dst AS node, sum(r0.r // deg.deg) AS m FROM r0 " +
        "JOIN e ON r0.node = e.src JOIN deg ON e.src = deg.src GROUP BY 1), " +
        "r1 AS (SELECT nodes.node, nn.tp + (17 * coalesce(i1.m, 0)) // 20 AS r " +
        "FROM nodes LEFT JOIN i1 USING (node), nn), " +
        "i2 AS (SELECT e.dst AS node, sum(r1.r // deg.deg) AS m FROM r1 " +
        "JOIN e ON r1.node = e.src JOIN deg ON e.src = deg.src GROUP BY 1), " +
        "r2 AS (SELECT nodes.node, nn.tp + (17 * coalesce(i2.m, 0)) // 20 AS r " +
        "FROM nodes LEFT JOIN i2 USING (node), nn), " +
        "i3 AS (SELECT e.dst AS node, sum(r2.r // deg.deg) AS m FROM r2 " +
        "JOIN e ON r2.node = e.src JOIN deg ON e.src = deg.src GROUP BY 1), " +
        "r3 AS (SELECT nodes.node, nn.tp + (17 * coalesce(i3.m, 0)) // 20 AS r " +
        "FROM nodes LEFT JOIN i3 USING (node), nn) " +
        // CAST: HUGEINT-vs-int64 dtype face, cf. q120 note
        "SELECT node, CAST(r AS BIGINT) AS rank_micro, " +
        "round(CAST(r AS DOUBLE) / 1000000000000.0, 6) AS rank FROM r3 " +
        "ORDER BY rank_micro DESC, node LIMIT 25"),
      (s, dir) => {
        // r15 optimization: iterate on LONG node ids (customer -> 2k,
        // supplier -> 2k+1 — disjoint, bijective) and render the oracle's
        // "c<k>"/"s<k>" strings only on the final |V|-row output. Rank
        // values are representation-independent (same edges, degrees,
        // teleport), so results are bit-identical — the oracle SQL is
        // untouched — while every per-round join/aggregate hashes and
        // compares 8-byte longs instead of strings (guide §2.3, narrower
        // types; measured 5.5 -> 3.4 s).
        val pairs = Tables.orders(s, dir)
          .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
        val edges = pairs.union(
          pairs.select(col("dst").as("src"), col("src").as("dst")))
        graft.pipeline.Graph.pageRank(edges, "src", "dst", iters = 3)
          .select(concat(
              when(pmod(col("node"), lit(2)) === 0, lit("c")).otherwise(lit("s")),
              shiftright(col("node"), 1).cast("string")).as("node"),
            col("rank_micro"), col("rank"))
          .orderBy(col("rank_micro").desc, col("node").asc).limit(25)
      }),

    // ---- functional-dependency audit over three claimed dependencies:
    // one lhs-grain distinct-count aggregate each, bounded roll-ups.
    Q("q137_fd_check",
      Some("WITH a AS (SELECT count(*) AS n_groups, " +
        "CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating, max(d) AS max_rhs_variants " +
        "FROM (SELECT o_orderkey, count(DISTINCT o_custkey) AS d FROM orders " +
        "WHERE o_orderkey IS NOT NULL GROUP BY 1)), " +
        "b AS (SELECT count(*) AS n_groups, " +
        "CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating, max(d) AS max_rhs_variants " +
        "FROM (SELECT user_id, count(DISTINCT event_type) AS d FROM events " +
        "WHERE user_id IS NOT NULL GROUP BY 1)), " +
        "c AS (SELECT count(*) AS n_groups, " +
        "CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating, max(d) AS max_rhs_variants " +
        "FROM (SELECT l_orderkey, count(DISTINCT l_suppkey) AS d FROM lineitem " +
        "WHERE l_orderkey IS NOT NULL GROUP BY 1)) " +
        "SELECT 'events: user_id -> event_type' AS dependency, n_groups, n_violating, " +
        "max_rhs_variants, round(CAST(n_violating AS DOUBLE) / CAST(n_groups AS DOUBLE), 6) AS violation_rate FROM b " +
        "UNION ALL SELECT 'lineitem: l_orderkey -> l_suppkey', n_groups, n_violating, " +
        "max_rhs_variants, round(CAST(n_violating AS DOUBLE) / CAST(n_groups AS DOUBLE), 6) FROM c " +
        "UNION ALL SELECT 'orders: o_orderkey -> o_custkey', n_groups, n_violating, " +
        "max_rhs_variants, round(CAST(n_violating AS DOUBLE) / CAST(n_groups AS DOUBLE), 6) FROM a " +
        "ORDER BY dependency"),
      (s, dir) => {
        import graft.operators.Ops
        val checks = Seq(
          ("events: user_id -> event_type",
            Ops.fdViolations(Tables.events(s, dir), Seq("user_id"), "event_type")),
          ("lineitem: l_orderkey -> l_suppkey",
            Ops.fdViolations(Tables.lineitem(s, dir), Seq("l_orderkey"), "l_suppkey")),
          ("orders: o_orderkey -> o_custkey",
            Ops.fdViolations(Tables.orders(s, dir), Seq("o_orderkey"), "o_custkey")))
        checks.map { case (label, df) =>
          df.select(lit(label).as("dependency"), col("n_groups"),
            col("n_violating"), col("max_rhs_variants"), col("violation_rate"))
        }.reduce(_ union _).orderBy("dependency")
      }),

    // ---- CUSUM change point of the daily series: n·C_i − i·T is exact
    // integer drift over the q119 spine; TakeOrdered argmax, earliest-day
    // tiebreak.
    Q("q138_changepoint",
      Some("WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n " +
        "FROM events GROUP BY 1), " +
        "r AS (SELECT unnest(range((SELECT min(day) FROM c), (SELECT max(day) FROM c) + 1)) AS day), " +
        "s AS (SELECT r.day, coalesce(c.n, 0) AS n FROM r LEFT JOIN c USING (day)), " +
        "w AS (SELECT day, row_number() OVER (ORDER BY day) AS i, " +
        "sum(n) OVER (ORDER BY day) AS cum FROM s), " +
        "t AS (SELECT sum(n) AS t, count(*) AS nd FROM s) " +
        "SELECT day AS change_day, nd AS n_days, " +
        "round(CAST(abs(nd * cum - i * t) AS DOUBLE) / " +
        "(CAST(nd AS DOUBLE) * CAST(t AS DOUBLE)), 6) AS stat " +
        "FROM w, t ORDER BY abs(nd * cum - i * t) DESC, day LIMIT 1"),
      (s, dir) => EventAnalytics.changePoint(Tables.events(s, dir), "ts")),

    // ---- per-node triangle counts of the SPARSE (support >= 2) part
    // co-purchase graph: degree-ordered orientation bounds wedge fan-out
    // on hub parts; the oracle enumerates a<b<c — the count is
    // orientation-invariant, so agreement is exact. The support floor is
    // the q300 lesson: the raw co-occurrence relation is near-complete at
    // bench scale, which makes wedge volume a property of the synthetic
    // input, not of the operator.
    Q("q139_triangles",
      Some("WITH " + AppliedQueries.copurchaseEdgesSql + ", " +
        "t AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w FROM e0 e1 " +
        "JOIN e0 e2 ON e1.a = e2.a AND e1.b < e2.b " +
        "JOIN e0 e3 ON e3.a = e1.b AND e3.b = e2.b), " +
        "n AS (SELECT unnest([u, v, w]) AS node FROM t) " +
        "SELECT node, count(*) AS n_tri FROM n GROUP BY 1 " +
        "ORDER BY n_tri DESC, node LIMIT 20"),
      (s, dir) => graft.pipeline.Graph.triangleCounts(
          AppliedQueries.copurchaseEdges(s, dir), "src", "dst")
        .orderBy(col("n_tri").desc, col("node").asc).limit(20)),

    // ---- fuzzy part-name pairs: the native codegen'd Jaro-Winkler kernel
    // (bit-identical to DuckDB's jaro_winkler_similarity — the gate runs on
    // UNROUNDED doubles) over pairs blocked on the shared second token.
    Q("q140_fuzzy_names",
      Some("WITH n AS (SELECT DISTINCT p_name, split_part(p_name, ' ', 2) AS blk FROM part), " +
        "p AS (SELECT a.p_name AS name_a, b.p_name AS name_b, " +
        "jaro_winkler_similarity(a.p_name, b.p_name) AS jw " +
        "FROM n a JOIN n b ON a.blk = b.blk AND a.p_name < b.p_name) " +
        "SELECT name_a, name_b, round(jw, 6) AS jw FROM p WHERE jw >= 0.8 " +
        "ORDER BY name_a, name_b"),
      (s, dir) => {
        import graft.functions.FuzzyExprs
        val names = Tables.part(s, dir).select(col("p_name")).distinct()
          .select(col("p_name"),
            element_at(split(col("p_name"), " "), 2).as("__blk"))
        names.join(names.select(col("__blk"), col("p_name").as("p_name2")), Seq("__blk"))
          .filter(col("p_name") < col("p_name2"))
          .select(col("p_name").as("name_a"), col("p_name2").as("name_b"),
            FuzzyExprs.jaroWinkler(col("p_name"), col("p_name2")).as("__jw"))
          .filter(col("__jw") >= 0.8)
          .select(col("name_a"), col("name_b"), round(col("__jw"), 6).as("jw"))
          .orderBy("name_a", "name_b")
      }),

    // ---- RFM segmentation of the order log: quartile buckets from ONE
    // broadcast percentile aggregate (never a global ntile sort), rolled up
    // to the 4x4x4 customer-value grid; monetary re-sums as DECIMAL.
    Q("q141_rfm",
      Some("WITH k AS (SELECT o_custkey AS key, " +
        "max(epoch_us(o_orderdate) // 86400000000) AS last_day, count(*) AS frequency, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS monetary " +
        "FROM orders GROUP BY 1), " +
        "mx AS (SELECT max(last_day) AS mxd FROM k), " +
        "r AS (SELECT key, mxd - last_day AS recency, frequency, monetary FROM k, mx), " +
        "b AS (SELECT round(quantile_cont(recency, 0.25), 4) AS r0, " +
        "round(quantile_cont(recency, 0.5), 4) AS r1, " +
        "round(quantile_cont(recency, 0.75), 4) AS r2, " +
        "round(quantile_cont(frequency, 0.25), 4) AS f0, " +
        "round(quantile_cont(frequency, 0.5), 4) AS f1, " +
        "round(quantile_cont(frequency, 0.75), 4) AS f2, " +
        "round(quantile_cont(monetary, 0.25), 4) AS m0, " +
        "round(quantile_cont(monetary, 0.5), 4) AS m1, " +
        "round(quantile_cont(monetary, 0.75), 4) AS m2 FROM r), " +
        "s AS (SELECT monetary, " +
        "1 + CAST(recency > r0 AS INT) + CAST(recency > r1 AS INT) + CAST(recency > r2 AS INT) AS r_bucket, " +
        "1 + CAST(frequency > f0 AS INT) + CAST(frequency > f1 AS INT) + CAST(frequency > f2 AS INT) AS f_bucket, " +
        "1 + CAST(monetary > m0 AS INT) + CAST(monetary > m1 AS INT) + CAST(monetary > m2 AS INT) AS m_bucket " +
        "FROM r, b) " +
        "SELECT r_bucket, f_bucket, m_bucket, count(*) AS n_customers, " +
        "round(CAST(sum(CAST(monetary AS DECIMAL(38,6))) AS DOUBLE), 2) AS total_monetary " +
        "FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"),
      (s, dir) => EventAnalytics.rfmBuckets(Tables.orders(s, dir),
          "o_custkey", "o_orderdate", "o_totalprice")
        .groupBy("r_bucket", "f_bucket", "m_bucket")
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("monetary").cast("decimal(38,6)")).cast("double"), 2)
            .as("total_monetary"))
        .orderBy("r_bucket", "f_bucket", "m_bucket")),

    // ---- session entry/exit paths: q124's sessionizer, each session's
    // first/last event type, rolled up to the type-vocabulary square.
    Q("q142_entry_exit",
      Some("WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events), " +
        "g AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000 " +
        "THEN 1 ELSE 0 END AS brk FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)), " +
        "s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id) AS sess FROM g), " +
        "r AS (SELECT user_id, sess, event_type, " +
        "row_number() OVER (PARTITION BY user_id, sess ORDER BY us, event_id) AS rn, " +
        "count(*) OVER (PARTITION BY user_id, sess) AS cnt FROM s), " +
        "p AS (SELECT user_id, sess, max(CASE WHEN rn = 1 THEN event_type END) AS entry_type, " +
        "max(CASE WHEN rn = cnt THEN event_type END) AS exit_type FROM r GROUP BY 1, 2) " +
        "SELECT entry_type, exit_type, count(*) AS n_sessions FROM p " +
        "GROUP BY 1, 2 ORDER BY n_sessions DESC, entry_type, exit_type"),
      (s, dir) => EventAnalytics.entryExitPaths(Tables.events(s, dir),
          "user_id", "event_id", "ts", "event_type", gapMinutes = 30)
        .orderBy(col("n_sessions").desc, col("entry_type").asc,
          col("exit_type").asc)),

    // ---- Benford first-digit audit of order totals: the digit reads off
    // the exact cents-integer's string image (never floor(log10)).
    Q("q143_benford",
      Some("WITH d AS (SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT) " +
        "AS VARCHAR), 1, 1) AS INT) AS digit FROM orders " +
        "WHERE o_totalprice IS NOT NULL AND o_totalprice > 0), " +
        "c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1), " +
        "t AS (SELECT sum(n) AS t FROM c) " +
        "SELECT digit, n, round(CAST(n AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share, " +
        "round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS benford_p, " +
        "round(CAST(n AS DOUBLE) / CAST(t AS DOUBLE) - " +
        "log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS excess " +
        "FROM c, t ORDER BY digit"),
      (s, dir) => Stats.benfordDigits(Tables.orders(s, dir), "o_totalprice")
        .orderBy("digit")),

    // ---- trailing-window daily anomalies: the gate is pure INTEGER
    // arithmetic ((w·n − ss)² > 4·(w·pp − ss²)) over the per-type spine —
    // engine-independent with no rounding near the decision.
    Q("q144_rolling_anomaly",
      Some("WITH c AS (SELECT event_type AS g, epoch_us(ts) // 86400000000 AS day, " +
        "count(*) AS n FROM events GROUP BY 1, 2), " +
        "sp AS (SELECT g, unnest(range(lo, hi + 1)) AS day FROM " +
        "(SELECT g, min(day) AS lo, max(day) AS hi FROM c GROUP BY 1)), " +
        "d AS (SELECT sp.g, sp.day, coalesce(c.n, 0) AS n FROM sp " +
        "LEFT JOIN c ON sp.g = c.g AND sp.day = c.day), " +
        "w AS (SELECT g, day, n, count(*) OVER win AS w, sum(n) OVER win AS ss, " +
        "sum(n * n) OVER win AS pp FROM d " +
        "WINDOW win AS (PARTITION BY g ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) " +
        "SELECT g AS event_type, day, n, round(CAST(ss AS DOUBLE) / 7, 6) AS mean_win, " +
        "round(CAST(7 * n - ss AS DOUBLE) / sqrt(CAST(7 * pp - ss * ss AS DOUBLE)), 6) AS z " +
        "FROM w WHERE w = 7 AND (7 * n - ss) * (7 * n - ss) > 4 * (7 * pp - ss * ss) " +
        "ORDER BY event_type, day"),
      (s, dir) => EventAnalytics.rollingDailyAnomalies(Tables.events(s, dir),
          "event_type", "ts", window = 7, sigmas = 2)
        .orderBy("event_type", "day")),

    // ---- per-user activity trend: q126's decimal-exact OLS kernel fitted
    // PER GROUP over each user's active-day counts (x shifted to a small
    // origin per the magnitude contract), top 25 steepest risers.
    Q("q145_user_trend",
      Some("WITH d AS (SELECT user_id, epoch_us(ts) // 86400000000 - 20000 AS x, " +
        "count(*) AS y FROM events GROUP BY user_id, epoch_us(ts) // 86400000000), " +
        "g AS (SELECT user_id, count(*) AS n, " +
        "CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx, " +
        "CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy, " +
        "CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx, " +
        "CAST(sum(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy, " +
        "CAST(sum(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy " +
        "FROM d GROUP BY 1 HAVING count(*) >= 10) " +
        "SELECT user_id, n, round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope, " +
        "round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept, " +
        "round((n * sxy - sx * sy) * (n * sxy - sx * sy) / " +
        "((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2 " +
        "FROM g ORDER BY slope DESC, user_id LIMIT 25"),
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .select(col("user_id"), EventAnalytics.dayIndex(col("ts")).as("day"))
          .groupBy("user_id", "day").agg(count(lit(1)).as("n"))
        Stats.linearFit(daily, Seq("user_id"),
            col("day") - lit(20000L), col("n"))
          .filter(col("n") >= 10)
          .orderBy(col("slope").desc, col("user_id").asc).limit(25)
      }),

    // ---- local clustering coefficient over the same SPARSE co-purchase
    // graph (q139's support-2 relation): 2·tri/(deg·(deg−1)), integers
    // finished by one IEEE division.
    Q("q146_clustering",
      Some("WITH " + AppliedQueries.copurchaseEdgesSql + ", " +
        "d AS (SELECT node, count(*) AS deg FROM " +
        "(SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1), " +
        "t AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w FROM e0 e1 " +
        "JOIN e0 e2 ON e1.a = e2.a AND e1.b < e2.b " +
        "JOIN e0 e3 ON e3.a = e1.b AND e3.b = e2.b), " +
        "tc AS (SELECT node, count(*) AS n_tri FROM " +
        "(SELECT unnest([u, v, w]) AS node FROM t) GROUP BY 1) " +
        "SELECT d.node, deg, coalesce(n_tri, 0) AS n_tri, " +
        "round(2.0 * coalesce(n_tri, 0) / CAST(deg * (deg - 1) AS DOUBLE), 6) AS coeff " +
        "FROM d LEFT JOIN tc USING (node) WHERE deg >= 2 " +
        "ORDER BY coeff DESC, node LIMIT 20"),
      (s, dir) => graft.pipeline.Graph.clusteringCoefficients(
          AppliedQueries.copurchaseEdges(s, dir), "src", "dst")
        .orderBy(col("coeff").desc, col("node").asc).limit(20)),

    // ---- per-type weekday seasonality: dow from the INTEGER day index
    // ((day+3) mod 7, 0=Monday — never a locale calendar function), share
    // and the 7·n/total flatness index.
    Q("q147_weekday_profile",
      Some("WITH c AS (SELECT event_type, (epoch_us(ts) // 86400000000 + 3) % 7 AS dow, " +
        "count(*) AS n FROM events GROUP BY 1, 2), " +
        "t AS (SELECT event_type, sum(n) AS t FROM c GROUP BY 1) " +
        "SELECT c.event_type, dow, n, " +
        "round(CAST(n AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share, " +
        "round(7.0 * CAST(n AS DOUBLE) / CAST(t AS DOUBLE), 6) AS idx " +
        "FROM c JOIN t USING (event_type) ORDER BY event_type, dow"),
      (s, dir) => EventAnalytics.weekdayProfile(Tables.events(s, dir),
          "event_type", "ts")
        .orderBy("event_type", "dow")),

    // ---- reciprocal-rank fusion of two per-language document rankings
    // (by n_chars and by token count), retrieved-list depth 100, top 5 —
    // the prune never sorts a whole group; the oracle's plain windows
    // must agree exactly.
    Q("q148_rrf",
      Some("WITH w AS (SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS s1, " +
        "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS s2 FROM documents), " +
        "l1 AS (SELECT lang, doc_id, row_number() OVER " +
        "(PARTITION BY lang ORDER BY s1 DESC, doc_id) AS r1 FROM w QUALIFY r1 <= 100), " +
        "l2 AS (SELECT lang, doc_id, row_number() OVER " +
        "(PARTITION BY lang ORDER BY s2 DESC, doc_id) AS r2 FROM w QUALIFY r2 <= 100), " +
        "j AS (SELECT coalesce(l1.lang, l2.lang) AS lang, " +
        "coalesce(l1.doc_id, l2.doc_id) AS doc_id, r1, r2, " +
        "coalesce(1.0 / (60 + r1), 0.0) + coalesce(1.0 / (60 + r2), 0.0) AS f " +
        "FROM l1 FULL OUTER JOIN l2 ON l1.lang = l2.lang AND l1.doc_id = l2.doc_id), " +
        "t AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY f DESC, doc_id) AS rn FROM j) " +
        // CAST to INTEGER: DuckDB row_number() is BIGINT, Spark's is int
        "SELECT lang, doc_id, CAST(r1 AS INTEGER) AS r1, CAST(r2 AS INTEGER) AS r2, round(f, 6) AS fused FROM t WHERE rn <= 5 " +
        "ORDER BY lang, fused DESC, doc_id"),
      (s, dir) => Stats.rrfFuse(
          Tables.documents(s, dir).withColumn("ntok", TA.tokenCount(col("text"))),
          "lang", "doc_id", col("n_chars").cast("double"),
          col("ntok").cast("double"), depth = 100, kRrf = 60, topK = 5)
        .orderBy(col("lang").asc, col("fused").desc, col("doc_id").asc)),

    // ---- stepped-decay activity score: an event k half-lives (7 days)
    // old weighs 2^-k — carried as the INTEGER 2^(40-k), so per-user
    // scores are exact integer sums (a float Σ of pow() terms would be
    // partitioning-dependent); one exact 2^-40 scaling at the end. Top 25
    // ranked on the integer units.
    Q("q149_decay_score",
      Some("WITH d AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events), " +
        "mx AS (SELECT max(day) AS mx FROM d), " +
        "u AS (SELECT user_id, (CAST(1 AS BIGINT) << " +
        "CAST(40 - least((mx - day) // 7, 40) AS INT)) AS un FROM d, mx), " +
        // CAST: HUGEINT-vs-int64 dtype face, cf. q120 note
        "g AS (SELECT user_id, count(*) AS n_events, CAST(sum(un) AS BIGINT) AS score_units FROM u GROUP BY 1) " +
        "SELECT user_id, n_events, score_units, " +
        "round(CAST(score_units AS DOUBLE) / 1099511627776.0, 6) AS score " +
        "FROM g ORDER BY score_units DESC, user_id LIMIT 25"),
      (s, dir) => EventAnalytics.decayedActivityScore(Tables.events(s, dir),
          "user_id", "ts", halfLifeDays = 7, maxSteps = 40)
        .orderBy(col("score_units").desc, col("key").asc)
        .select(col("key").as("user_id"), col("n_events"),
          col("score_units"), col("score"))
        .limit(25)),

    // ---- session-duration histogram: q124's sessionizer rolled up to
    // minute buckets — duration div 60e6 µs, exact integers end to end.
    Q("q150_session_durations",
      Some("WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events), " +
        "f AS (SELECT user_id, event_id, us, " +
        "CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000 " +
        "THEN 1 ELSE 0 END AS nf FROM e " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)), " +
        "s AS (SELECT user_id, us, sum(nf) OVER " +
        "(PARTITION BY user_id ORDER BY us, event_id) AS session FROM f), " +
        "ses AS (SELECT user_id, session, count(*) AS n_events, " +
        "(max(us) - min(us)) // 60000000 AS mins FROM s GROUP BY 1, 2), " +
        "h AS (SELECT mins, count(*) AS n_sessions, " +
        "CAST(sum(n_events) AS BIGINT) AS n_events FROM ses GROUP BY 1), " +
        "t AS (SELECT sum(n_sessions) AS t FROM h) " +
        "SELECT mins, n_sessions, n_events, " +
        "round(CAST(n_sessions AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share " +
        "FROM h, t ORDER BY mins"),
      (s, dir) => {
        val ses = EventAnalytics.sessionStats(Tables.events(s, dir),
            "user_id", "event_id", "ts", gapMinutes = 30)
          .select(expr("duration_us div 60000000").as("mins"), col("n_events"))
        val h = ses.groupBy("mins").agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"))
        val t = h.agg(sum(col("n_sessions")).as("__t"))
        h.crossJoin(broadcast(t))
          .select(col("mins"), col("n_sessions"), col("n_events"),
            round(col("n_sessions").cast("double") / col("__t").cast("double"), 6)
              .as("share"))
          .orderBy("mins")
      }),

    // ---- user-lifetime survival curve: share of users active for >= w
    // weeks; reverse running sum over the calendar-bounded week spine.
    Q("q151_survival",
      Some("WITH wk AS (SELECT user_id, (epoch_us(ts) // 86400000000 + 3) // 7 AS week FROM events), " +
        "lt AS (SELECT user_id, max(week) - min(week) AS lifetime FROM wk GROUP BY 1), " +
        "c AS (SELECT lifetime, count(*) AS n FROM lt GROUP BY 1), " +
        "sp AS (SELECT unnest(range(0, (SELECT max(lifetime) FROM lt) + 1)) AS w), " +
        "j AS (SELECT w, coalesce(n, 0) AS n FROM sp LEFT JOIN c ON c.lifetime = sp.w), " +
        // CAST: HUGEINT-vs-int64 dtype face, cf. q120 note
        "r AS (SELECT w, CAST(sum(n) OVER (ORDER BY w DESC) AS BIGINT) AS n_surviving FROM j), " +
        "t AS (SELECT count(*) AS t FROM lt) " +
        "SELECT w AS weeks, n_surviving, " +
        "round(CAST(n_surviving AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share " +
        "FROM r, t ORDER BY weeks"),
      (s, dir) => EventAnalytics.survivalCurve(Tables.events(s, dir),
          "user_id", "ts")
        .orderBy("weeks")),

    // ---- item-item cosine over user baskets: n_both/sqrt(n_a*n_b) on the
    // implicit binary user-vectors — q100's symmetric sibling; exact
    // integers into one sqrt+divide.
    Q("q152_item_cosine",
      Some("WITH b AS (SELECT DISTINCT user_id AS u, event_type AS ty FROM events), " +
        "m AS (SELECT ty, count(*) AS n FROM b GROUP BY 1), " +
        "p AS (SELECT x.ty AS item_a, y.ty AS item_b, count(*) AS n_both " +
        "FROM b x JOIN b y ON x.u = y.u AND x.ty < y.ty GROUP BY 1, 2) " +
        "SELECT item_a, item_b, n_both, " +
        "round(CAST(n_both AS DOUBLE) / sqrt(CAST(ma.n * mb.n AS DOUBLE)), 6) AS cosine " +
        "FROM p JOIN m ma ON p.item_a = ma.ty JOIN m mb ON p.item_b = mb.ty " +
        "ORDER BY item_a, item_b"),
      // maxBasket opt-out: event_type is STRUCTURALLY vocabulary-bounded
      // (baskets can never exceed the type vocabulary), so the cap window
      // would be pure overhead — the plan stays window-free (PlanSpec)
      (s, dir) => EventAnalytics.cooccurrenceCosine(Tables.events(s, dir),
          "user_id", "event_type", maxBasket = Int.MaxValue)
        .orderBy("item_a", "item_b")),

    // ---- Lorenz curve by customer revenue decile: q93's broadcast-
    // quantile bucketing (never a global ntile sort) + a 10-row cumulative
    // rollup — q112 Gini's curve-shaped companion. Revenue decimal-exact.
    Q("q153_lorenz",
      Some("WITH c AS (SELECT o_custkey, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS rev FROM orders GROUP BY 1), " +
        "b AS (SELECT round(quantile_cont(rev, 0.1), 4) AS q0, round(quantile_cont(rev, 0.2), 4) AS q1, " +
        "round(quantile_cont(rev, 0.3), 4) AS q2, round(quantile_cont(rev, 0.4), 4) AS q3, " +
        "round(quantile_cont(rev, 0.5), 4) AS q4, round(quantile_cont(rev, 0.6), 4) AS q5, " +
        "round(quantile_cont(rev, 0.7), 4) AS q6, round(quantile_cont(rev, 0.8), 4) AS q7, " +
        "round(quantile_cont(rev, 0.9), 4) AS q8 FROM c), " +
        "a AS (SELECT rev, 1 + CAST(rev > q0 AS INT) + CAST(rev > q1 AS INT) + " +
        "CAST(rev > q2 AS INT) + CAST(rev > q3 AS INT) + CAST(rev > q4 AS INT) + " +
        "CAST(rev > q5 AS INT) + CAST(rev > q6 AS INT) + CAST(rev > q7 AS INT) + " +
        "CAST(rev > q8 AS INT) AS decile FROM c, b), " +
        "g AS (SELECT decile, count(*) AS n_customers, " +
        "CAST(sum(CAST(rev AS DECIMAL(38,6))) AS DOUBLE) AS revenue FROM a GROUP BY 1), " +
        "t AS (SELECT CAST(sum(CAST(rev AS DECIMAL(38,6))) AS DOUBLE) AS tot FROM c) " +
        "SELECT decile, n_customers, round(revenue, 2) AS revenue, " +
        "round(sum(revenue) OVER (ORDER BY decile) / tot, 6) AS cum_share " +
        "FROM g, t ORDER BY decile"),
      (s, dir) => {
        val c = Tables.orders(s, dir).groupBy("o_custkey")
          .agg(sum(col("o_totalprice").cast("decimal(38,6)")).cast("double")
            .as("rev"))
        val deciles = Stats.quantileBuckets(c, "rev",
          (1 to 9).map(_ / 10.0), bucketCol = "decile")
        val g = deciles.groupBy("decile")
          .agg(count(lit(1)).as("n_customers"),
            sum(col("rev").cast("decimal(38,6)")).cast("double").as("revenue"))
        val t = c.agg(sum(col("rev").cast("decimal(38,6)")).cast("double")
          .as("__tot"))
        // 10-row relation: the cumulative window is bounded by the decile
        // count, not the data (the q138 spine precedent)
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("decile"))
        g.crossJoin(broadcast(t))
          .select(col("decile"), col("n_customers"),
            round(col("revenue"), 2).as("revenue"),
            round(sum(col("revenue")).over(w) / col("__tot"), 6).as("cum_share"))
          .orderBy("decile")
      }),

    // ---- exact per-cohort ROC AUC (Mann-Whitney): does event value
    // separate purchases from the rest? Scores collapse to per-(cohort,
    // score) counts, one running sum gives the integer 2U, AUC is the one
    // final division - bit-identical cross-engine, ties handled by the
    // +n_neg/2 term exactly.
    Q("q221_auc",
      Some("WITH s AS (SELECT user_id % 8 AS cohort, value AS sc, " +
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos FROM events), " +
        "ps AS (SELECT cohort, sc, CAST(sum(pos) AS BIGINT) AS np, " +
        "CAST(sum(1 - pos) AS BIGINT) AS nn FROM s GROUP BY 1, 2), " +
        "r AS (SELECT cohort, np, nn, coalesce(sum(nn) OVER " +
        "(PARTITION BY cohort ORDER BY sc ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below FROM ps), " +
        "a AS (SELECT cohort, CAST(sum(np) AS BIGINT) AS n_pos, CAST(sum(nn) AS BIGINT) AS n_neg, " +
        "sum(np * (2 * below + nn)) AS u2 FROM r GROUP BY 1) " +
        "SELECT cohort, n_pos, n_neg, " +
        "CASE WHEN n_pos > 0 AND n_neg > 0 THEN round(CAST(u2 AS DOUBLE) / (2.0 * n_pos * n_neg), 6) END AS auc " +
        "FROM a ORDER BY cohort"),
      (s, dir) => Stats.rocAuc(
          Tables.events(s, dir).select(pmod(col("user_id"), lit(8L)).as("cohort"),
            col("value"), col("event_type")),
          "value", col("event_type") === "purchase", Seq("cohort"))
        .orderBy("cohort")),

    // ---- average precision (PR-curve area), q221's companion: per-cohort
    // ranking by (value DESC, event_id) - a total order, so AP is
    // well-defined under score ties; each precision@k casts DECIMAL(28,12)
    // at the source so the group sum is merge-order-exact.
    Q("q229_average_precision",
      Some("WITH s AS (SELECT user_id % 8 AS cohort, event_id, value AS sc, " +
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos FROM events), " +
        "r AS (SELECT cohort, pos, " +
        "row_number() OVER (PARTITION BY cohort ORDER BY sc DESC, event_id) AS k, " +
        "sum(pos) OVER (PARTITION BY cohort ORDER BY sc DESC, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM s), " +
        "t AS (SELECT cohort, pos, CASE WHEN pos = 1 THEN " +
        "CAST(CAST(cum AS DOUBLE) / k AS DECIMAL(28,12)) END AS term FROM r), " +
        "a AS (SELECT cohort, CAST(sum(pos) AS BIGINT) AS n_pos, sum(term) AS s FROM t GROUP BY 1) " +
        "SELECT cohort, n_pos, CASE WHEN n_pos > 0 THEN " +
        "round(CAST(s AS DOUBLE) / n_pos, 6) END AS ap FROM a ORDER BY cohort"),
      (s, dir) => Stats.averagePrecision(
          Tables.events(s, dir).select(pmod(col("user_id"), lit(8L)).as("cohort"),
            col("event_id"), col("value"), col("event_type")),
          "value", col("event_type") === "purchase", "event_id", Seq("cohort"))
        .orderBy("cohort")),

    // ---- row-level snapshot diff: planted updates (%7: acctbal+10),
    // deletes (%13) and inserts (%11 at key+1e6) against the customer
    // base; every key classifies added/removed/changed/unchanged with a
    // null-safe per-column change count. One full-outer key join.
    Q("q230_table_diff",
      Some("WITH a AS (SELECT c_custkey, c_name, c_nationkey, " +
        "CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10 ELSE c_acctbal END AS c_acctbal, " +
        "c_mktsegment FROM customer WHERE c_custkey % 13 <> 0 " +
        "UNION ALL SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal, " +
        "c_mktsegment FROM customer WHERE c_custkey % 11 = 0), " +
        "d AS (SELECT coalesce(b.c_custkey, a.c_custkey) AS c_custkey, " +
        "b.c_custkey IS NULL AS added, a.c_custkey IS NULL AS removed, " +
        "CASE WHEN b.c_custkey IS NOT NULL AND a.c_custkey IS NOT NULL THEN " +
        "(CASE WHEN b.c_name IS DISTINCT FROM a.c_name THEN 1 ELSE 0 END) + " +
        "(CASE WHEN b.c_nationkey IS DISTINCT FROM a.c_nationkey THEN 1 ELSE 0 END) + " +
        "(CASE WHEN b.c_acctbal IS DISTINCT FROM a.c_acctbal THEN 1 ELSE 0 END) + " +
        "(CASE WHEN b.c_mktsegment IS DISTINCT FROM a.c_mktsegment THEN 1 ELSE 0 END) END AS nc " +
        "FROM customer b FULL OUTER JOIN a ON b.c_custkey = a.c_custkey) " +
        "SELECT c_custkey, CASE WHEN added THEN 'added' WHEN removed THEN 'removed' " +
        "WHEN nc > 0 THEN 'changed' ELSE 'unchanged' END AS change_type, " +
        "CAST(nc AS BIGINT) AS n_cols_changed FROM d ORDER BY c_custkey"),
      (s, dir) => {
        val base = Tables.customer(s, dir)
        val after = base.filter(pmod(col("c_custkey"), lit(13L)) =!= 0)
          .withColumn("c_acctbal", when(pmod(col("c_custkey"), lit(7L)) === 0,
            col("c_acctbal") + 10).otherwise(col("c_acctbal")))
          .unionByName(base.filter(pmod(col("c_custkey"), lit(11L)) === 0)
            .withColumn("c_custkey", col("c_custkey") + 1000000L))
        Ops.tableDiff(base, after, "c_custkey")
          .orderBy("c_custkey")
      }),

    // ---- KMV distinct-count sketch: the DETERMINISTIC mergeable distinct
    // estimator (k smallest 60-bit md5 hashes) — unlike HLL (q187's
    // tolerance dance) the sketch itself is oracle-checkable: both engines
    // compute the identical k-th minimum and the identical estimate. Small
    // groups (n <= k) report exactly.
    Q("q232_kmv_distinct", {
      // 60-bit integer from the first 15 md5 nibbles, as pure SQL arithmetic
      val hexInt = (1 to 15).map(i =>
        s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1) * " +
          s"${BigInt(16).pow(15 - i)}").mkString("(", " + ", ")")
      Some("WITH d AS (SELECT DISTINCT event_type, " +
        "substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS hx FROM events " +
        "WHERE user_id IS NOT NULL), " +
        s"h AS (SELECT event_type, $hexInt AS h FROM d), " +
        "r AS (SELECT event_type, h, row_number() OVER " +
        "(PARTITION BY event_type ORDER BY h) AS rn FROM h), " +
        "c AS (SELECT event_type, count(*) AS n_distinct FROM h GROUP BY 1), " +
        "k AS (SELECT event_type, h AS hk FROM r WHERE rn = 64) " +
        "SELECT c.event_type, c.n_distinct, " +
        "CASE WHEN c.n_distinct <= 64 THEN CAST(c.n_distinct AS DOUBLE) " +
        "ELSE round(63.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE), 4) " +
        "END AS kmv_est FROM c LEFT JOIN k USING (event_type) " +
        "ORDER BY event_type")
    },
      (s, dir) => Stats.kmvDistinct(Tables.events(s, dir), col("user_id"),
        Seq("event_type"), k = 64).orderBy("event_type")),

    // ---- PSI drift score between the view and click value distributions:
    // 20 equal-width bins on [0, 400) with edge clamping, half-count
    // smoothing, DECIMAL(28,12) ln terms — the model-monitoring gate as an
    // exact cross-engine number.
    Q("q233_psi", {
      def p(cn: String, n: String) =
        s"(CAST($cn AS DOUBLE) + 0.5) / (CAST($n AS DOUBLE) + 10.0)"
      val (pr, qc) = (p("cr", "n_ref"), p("cc", "n_cur"))
      Some("WITH spine AS (SELECT unnest(range(20)) AS bin), " +
        "rv AS (SELECT CAST(least(greatest(floor((CAST(value AS DOUBLE) - 0.0) " +
        "/ 20.0), 0.0), 19.0) AS BIGINT) AS bin, count(*) AS r FROM events " +
        "WHERE event_type = 'view' AND value IS NOT NULL GROUP BY 1), " +
        "cv AS (SELECT CAST(least(greatest(floor((CAST(value AS DOUBLE) - 0.0) " +
        "/ 20.0), 0.0), 19.0) AS BIGINT) AS bin, count(*) AS c FROM events " +
        "WHERE event_type = 'click' AND value IS NOT NULL GROUP BY 1), " +
        "cells AS (SELECT s.bin, coalesce(r, 0) AS cr, coalesce(c, 0) AS cc " +
        "FROM spine s LEFT JOIN rv ON s.bin = rv.bin LEFT JOIN cv ON s.bin = cv.bin), " +
        // CAST: HUGEINT-vs-int64 dtype face, cf. q120 note
        "t AS (SELECT CAST(sum(cr) AS BIGINT) AS n_ref, CAST(sum(cc) AS BIGINT) AS n_cur FROM cells), " +
        s"terms AS (SELECT n_ref, n_cur, CAST(($pr - $qc) * ln($pr / $qc) " +
        "AS DECIMAL(28,12)) AS tm FROM cells, t) " +
        "SELECT n_ref, n_cur, round(CAST(sum(tm) AS DOUBLE), 6) AS psi " +
        "FROM terms GROUP BY 1, 2")
    },
      (s, dir) => {
        val ev = Tables.events(s, dir)
        Stats.psi(ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "click"),
          "value", lo = 0.0, hi = 400.0, nBins = 20)
      }),

    // ---- Cohen's kappa between two deterministic document "raters"
    // (length-by-chars vs length-by-tokens buckets): the annotation-
    // agreement score every labeling pipeline reports, exact from the
    // 3x3 cell relation.
    Q("q235_cohen_kappa", {
      val aCase = "CASE WHEN n_chars < 150 THEN 'short' " +
        "WHEN n_chars < 350 THEN 'medium' ELSE 'long' END"
      val bCase = "CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) < 30 " +
        "THEN 'short' WHEN len(regexp_split_to_array(trim(text), '\\s+')) < 65 " +
        "THEN 'medium' ELSE 'long' END"
      Some(s"WITH r AS (SELECT $aCase AS a, $bCase AS b FROM documents), " +
        "cells AS (SELECT a, b, count(*) AS n FROM r GROUP BY 1, 2), " +
        "t AS (SELECT sum(n) AS tot FROM cells), " +
        "d AS (SELECT coalesce(sum(n), 0) AS dg FROM cells WHERE a = b), " +
        "rm AS (SELECT a, sum(n) AS ra FROM cells GROUP BY 1), " +
        "cm AS (SELECT b, sum(n) AS cb FROM cells GROUP BY 1), " +
        "pe AS (SELECT coalesce(sum(ra * cb), 0) AS pe2 FROM rm JOIN cm ON rm.a = cm.b), " +
        "f AS (SELECT CAST(tot AS BIGINT) AS n, " +
        "CAST(dg AS DOUBLE) / CAST(tot AS DOUBLE) AS po, " +
        "CAST(pe2 AS DOUBLE) / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)) AS ped " +
        "FROM t, d, pe) " +
        "SELECT n, round(po, 6) AS po, round(ped, 6) AS pe, " +
        "round((po - ped) / (1.0 - ped), 6) AS kappa FROM f")
    },
      (s, dir) => {
        val ntok = size(TA.tokens(col("text")))
        Stats.cohenKappa(Tables.documents(s, dir),
          when(col("n_chars") < 150, "short")
            .when(col("n_chars") < 350, "medium").otherwise("long"),
          when(ntok < 30, "short").when(ntok < 65, "medium")
            .otherwise("long"))
      }),

    // ---- reliability-curve bins for a deterministic "probability" score
    // (p = n_chars/(n_chars+300), label = lang is English): the
    // calibration plot that decides whether a quality scorer's thresholds
    // mean what they say.
    Q("q236_calibration", {
      val pE = "(CAST(n_chars AS DOUBLE) / (CAST(n_chars AS DOUBLE) + 300.0))"
      Some(s"WITH s AS (SELECT $pE AS p, lang = 'en' AS y FROM documents) " +
        "SELECT CAST(least(floor(p * 10), 9.0) AS BIGINT) AS bin, " +
        "count(*) AS n, " +
        "round(CAST(sum(CAST(p AS DECIMAL(28,12))) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS mean_p, " +
        "round(CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS frac_pos " +
        "FROM s GROUP BY 1 ORDER BY bin")
    },
      (s, dir) => Stats.calibrationBins(
        Tables.documents(s, dir).withColumn("p",
          col("n_chars").cast("double") /
            (col("n_chars").cast("double") + 300.0)),
        "p", col("lang") === "en", nBins = 10).orderBy("bin")),

    // ---- Brier score + log loss of the same scorer, one combinable pass;
    // every per-row term casts DECIMAL(28,12) at the source.
    Q("q237_brier", {
      val pE = "(CAST(n_chars AS DOUBLE) / (CAST(n_chars AS DOUBLE) + 300.0))"
      Some(s"WITH s AS (SELECT $pE AS p, " +
        "CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y FROM documents) " +
        "SELECT count(*) AS n, " +
        "round(CAST(sum(CAST((p - y) * (p - y) AS DECIMAL(28,12))) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS brier, " +
        "round(CAST(sum(CAST(-(y * ln(p) + (1.0 - y) * ln(1.0 - p)) " +
        "AS DECIMAL(28,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS logloss " +
        "FROM s")
    },
      (s, dir) => Stats.brierScore(
        Tables.documents(s, dir).withColumn("p",
          col("n_chars").cast("double") /
            (col("n_chars").cast("double") + 300.0)),
        "p", col("lang") === "en")),

    // ---- EWMA-smoothed daily event counts (alpha = 1/2, 8-day memory):
    // every weight is a power of two, so the smoother is exact dyadic
    // arithmetic — bit-identical cross-engine — with one final division.
    Q("q238_ewma", {
      val num = (0 to 8).map { i =>
        val w = java.math.BigDecimal.valueOf(math.pow(2.0, -(i + 1))).toPlainString
        s"CASE WHEN lag(n, $i) OVER w IS NOT NULL THEN " +
          s"CAST(lag(n, $i) OVER w AS DOUBLE) * $w ELSE 0.0 END"
      }.mkString(" + ")
      val den = (0 to 8).map { i =>
        val w = java.math.BigDecimal.valueOf(math.pow(2.0, -(i + 1))).toPlainString
        s"CASE WHEN lag(n, $i) OVER w IS NOT NULL THEN $w ELSE 0.0 END"
      }.mkString(" + ")
      Some("WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n " +
        "FROM events GROUP BY 1), " +
        "r AS (SELECT unnest(range((SELECT min(day) FROM c), " +
        "(SELECT max(day) FROM c) + 1)) AS day), " +
        "s AS (SELECT r.day, coalesce(c.n, 0) AS n FROM r LEFT JOIN c USING (day)) " +
        s"SELECT day, n, round(($num) / ($den), 6) AS ewma FROM s " +
        "WINDOW w AS (ORDER BY day) ORDER BY day")
    },
      (s, dir) => EventAnalytics.ewmaDaily(Tables.events(s, dir), "ts",
        maxLag = 8).orderBy("day"))
  ,

    // ---- Count-Min frequency estimates for the busiest users: md5-draw
    // bucket rows make the whole sketch deterministic, so the ESTIMATES
    // hash-match the oracle (est >= exact is the CMS guarantee; the
    // overcount is the planted 256-bucket collision load).
    Q("q241_cms_frequency", {
      val dec2 = "((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 + " +
        "(strpos('0123456789abcdef', substr(h, 2, 1)) - 1))"
      Some("WITH j AS (SELECT unnest(range(4)) AS jj), " +
        "bh AS (SELECT user_id, jj, md5('cms' || CAST(jj AS VARCHAR) || ':' || " +
        "CAST(user_id AS VARCHAR)) AS h FROM events, j WHERE user_id IS NOT NULL), " +
        s"b AS (SELECT user_id, jj, $dec2 AS bucket FROM bh), " +
        "counters AS (SELECT jj, bucket, count(*) AS c FROM b GROUP BY 1, 2), " +
        "probes AS (SELECT DISTINCT user_id, jj, bucket FROM b), " +
        "est AS (SELECT user_id, min(c) AS cms_est FROM probes " +
        "JOIN counters USING (jj, bucket) GROUP BY 1), " +
        "exact AS (SELECT user_id, count(*) AS n_exact FROM events " +
        "WHERE user_id IS NOT NULL GROUP BY 1) " +
        "SELECT user_id, n_exact, cms_est FROM exact JOIN est USING (user_id) " +
        "ORDER BY n_exact DESC, user_id LIMIT 10")
    },
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val exact = ev.filter(col("user_id").isNotNull)
          .groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
        Stats.cmsFrequency(ev, col("user_id"), depth = 4)
          .join(exact, col("key") === col("user_id"))
          .select(col("user_id"), col("n_exact"), col("cms_est"))
          .orderBy(col("n_exact").desc, col("user_id").asc).limit(10)
      }),

    // ---- per-column entropy profile: near-constant vs key-like columns
    // in one melted pass; the telescoping Σ c·ln c form with decimal terms.
    Q("q242_column_entropy",
      Some("WITH m AS (SELECT 'event_type' AS col_name, event_type AS value " +
        "FROM events WHERE event_type IS NOT NULL " +
        "UNION ALL SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events " +
        "WHERE user_id IS NOT NULL), " +
        "c AS (SELECT col_name, value, count(*) AS c FROM m GROUP BY 1, 2) " +
        "SELECT col_name, CAST(sum(c) AS BIGINT) AS n_values, count(*) AS n_distinct, " +
        "round(ln(CAST(sum(c) AS DOUBLE)) - " +
        "CAST(sum(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) " +
        "AS DECIMAL(28,12))) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS entropy " +
        "FROM c GROUP BY 1 ORDER BY 1"),
      (s, dir) => Ops.columnEntropy(Tables.events(s, dir),
        Seq("event_type", "user_id")).orderBy("col_name"))
  ,

    // ---- k-anonymity release audit over (nation, segment, balance band):
    // groups below k = re-identifiable cohorts; one QI groupBy + one
    // scalar roll-up.
    Q("q244_k_anonymity",
      Some("WITH g AS (SELECT c_nationkey, c_mktsegment, " +
        "CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band, " +
        "count(*) AS n FROM customer GROUP BY 1, 2, 3) " +
        "SELECT count(*) AS n_groups, CAST(sum(n) AS BIGINT) AS n_rows, " +
        "CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups, " +
        "CAST(coalesce(sum(CASE WHEN n < 5 THEN n END), 0) AS BIGINT) AS n_rows_at_risk, " +
        "min(n) AS min_group_size FROM g"),
      (s, dir) => Stats.kAnonymityAudit(
        Tables.customer(s, dir).withColumn("bal_band",
          floor(col("c_acctbal") / 1000).cast("long")),
        Seq("c_nationkey", "c_mktsegment", "bal_band"), k = 5)),

    // ---- top-15 session journeys: q124's exact session boundaries, each
    // session folded to its ordered event-type path, one path count +
    // top-k cutoff.
    Q("q245_session_paths",
      Some("WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us " +
        "FROM events), " +
        "f AS (SELECT user_id, event_id, event_type, us, " +
        "CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000 " +
        "THEN 1 ELSE 0 END AS nf FROM e " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)), " +
        "s AS (SELECT user_id, event_type, us, event_id, sum(nf) OVER " +
        "(PARTITION BY user_id ORDER BY us, event_id) AS session FROM f), " +
        "p AS (SELECT user_id, session, " +
        "string_agg(event_type, '>' ORDER BY us, event_id) AS path " +
        "FROM s GROUP BY 1, 2) " +
        "SELECT path, count(*) AS n_sessions FROM p GROUP BY 1 " +
        "ORDER BY n_sessions DESC, path LIMIT 15"),
      (s, dir) => EventAnalytics.topSessionPaths(Tables.events(s, dir),
        "user_id", "event_id", "ts", "event_type", gapMinutes = 30, k = 15)),

    // ---- contingency cells with expected counts and Pearson residuals:
    // q111's per-cell face — which (event_type, cohort) cells drive the
    // dependence.
    Q("q246_contingency_residuals", {
      val e = "CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)"
      Some("WITH cells AS (SELECT event_type AS a, user_id % 4 AS b, " +
        "count(*) AS observed FROM events " +
        "WHERE event_type IS NOT NULL AND user_id IS NOT NULL GROUP BY 1, 2), " +
        "rm AS (SELECT a, sum(observed) AS ra FROM cells GROUP BY 1), " +
        "cm AS (SELECT b, sum(observed) AS cb FROM cells GROUP BY 1), " +
        "t AS (SELECT sum(observed) AS n FROM cells) " +
        s"SELECT a, b, observed, round($e, 6) AS expected, " +
        s"round((CAST(observed AS DOUBLE) - $e) / sqrt($e), 6) AS std_residual " +
        "FROM cells JOIN rm USING (a) JOIN cm USING (b) CROSS JOIN t " +
        "ORDER BY a, b")
    },
      (s, dir) => Stats.contingencyResiduals(Tables.events(s, dir),
        col("event_type"), pmod(col("user_id"), lit(4L)))
        .orderBy("a", "b"))
  ,

    // ---- A/B two-proportion z-test at USER grain (one row per
    // randomization unit, the double-counting guard): variant = user
    // parity, success = any purchase.
    Q("q248_ab_ztest", {
      val (pa, pb) = ("CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)",
        "CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE)")
      val pp = "CAST(sa + sb AS DOUBLE) / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))"
      Some("WITH u AS (SELECT user_id, CASE WHEN user_id % 2 = 0 THEN 'A' " +
        "ELSE 'B' END AS variant, " +
        "max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv " +
        "FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2), " +
        "g AS (SELECT " +
        "sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS n_a, " +
        "sum(CASE WHEN variant = 'A' AND conv = 1 THEN 1 ELSE 0 END) AS sa, " +
        "sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS n_b, " +
        "sum(CASE WHEN variant = 'B' AND conv = 1 THEN 1 ELSE 0 END) AS sb FROM u) " +
        s"SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b, " +
        s"round(CASE WHEN n_a > 0 THEN $pa END, 6) AS rate_a, " +
        s"round(CASE WHEN n_b > 0 THEN $pb END, 6) AS rate_b, " +
        s"round(CASE WHEN n_a > 0 AND n_b > 0 AND $pp > 0.0 AND $pp < 1.0 " +
        s"THEN ($pa - $pb) / sqrt($pp * (1.0 - $pp) * " +
        "(1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) END, 6) AS z FROM g")
    },
      (s, dir) => {
        val units = Tables.events(s, dir).filter(col("user_id").isNotNull)
          .groupBy(col("user_id"),
            when(pmod(col("user_id"), lit(2L)) === 0, "A").otherwise("B")
              .as("variant"))
          .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("conv"))
        Stats.twoProportionZ(units, col("variant"), col("conv") === 1L,
          "A", "B")
      }),

    // ---- multi-column numeric profile: count / decimal-exact mean /
    // min / exact quartiles / max per column in one melted pass
    // (bounded-cardinality percentile contract documented).
    Q("q250_numeric_profile", {
      def side(c: String) = s"SELECT '$c' AS col_name, CAST($c AS DOUBLE) AS v " +
        s"FROM lineitem WHERE $c IS NOT NULL"
      Some(s"WITH m AS (${side("l_quantity")} UNION ALL ${side("l_discount")} " +
        s"UNION ALL ${side("l_tax")}) " +
        "SELECT col_name, count(*) AS n, " +
        "round(CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) AS mean, " +
        "min(v) AS min, round(quantile_cont(v, 0.25), 6) AS p25, " +
        "round(quantile_cont(v, 0.5), 6) AS p50, " +
        "round(quantile_cont(v, 0.75), 6) AS p75, max(v) AS max " +
        "FROM m GROUP BY 1 ORDER BY 1")
    },
      (s, dir) => Ops.numericProfile(Tables.lineitem(s, dir),
        Seq("l_quantity", "l_discount", "l_tax")).orderBy("col_name"))
  ,

    // ---- NDCG@20 with graded relevance (purchase=3, signup=2, click=1):
    // the positional ranking metric completing the eval tier; gains are
    // exact powers of two, discounts one fixed ln shape, terms
    // DECIMAL(28,12) at the source.
    Q("q251_ndcg", {
      val rel = "CASE WHEN event_type = 'purchase' THEN 3 " +
        "WHEN event_type = 'signup' THEN 2 " +
        "WHEN event_type = 'click' THEN 1 ELSE 0 END"
      def term(r: String) = s"CASE WHEN $r <= 20 THEN " +
        s"CAST((pow(2.0, rel) - 1.0) / (ln(CAST($r AS DOUBLE) + 1.0) / ln(2.0)) " +
        "AS DECIMAL(28,12)) END"
      Some(s"WITH s AS (SELECT user_id % 8 AS cohort, event_id, value AS sc, " +
        s"$rel AS rel FROM events), " +
        "r AS (SELECT cohort, rel, " +
        "row_number() OVER (PARTITION BY cohort ORDER BY sc DESC, event_id) AS rd, " +
        "row_number() OVER (PARTITION BY cohort ORDER BY rel DESC, event_id) AS ri FROM s), " +
        s"t AS (SELECT cohort, ${term("rd")} AS td, ${term("ri")} AS ti FROM r), " +
        "a AS (SELECT cohort, CAST(sum(td) AS DOUBLE) AS dcg, " +
        "CAST(sum(ti) AS DOUBLE) AS idcg FROM t GROUP BY 1) " +
        "SELECT cohort, round(dcg, 6) AS dcg, round(idcg, 6) AS idcg, " +
        "round(CASE WHEN idcg > 0.0 THEN dcg / idcg END, 6) AS ndcg " +
        "FROM a ORDER BY cohort")
    },
      (s, dir) => Stats.ndcgAtK(
        Tables.events(s, dir).select(pmod(col("user_id"), lit(8L)).as("cohort"),
          col("event_id"), col("value"),
          when(col("event_type") === "purchase", 3)
            .when(col("event_type") === "signup", 2)
            .when(col("event_type") === "click", 1).otherwise(0).as("rel")),
        "value", "rel", "event_id", Seq("cohort"), k = 20)
        .orderBy("cohort")),

    // ---- reciprocal rank of the first purchase per cohort (MRR's
    // per-group face); cohorts with no positive report nulls.
    Q("q252_mrr",
      Some("WITH s AS (SELECT user_id % 8 AS cohort, event_id, value AS sc, " +
        "event_type = 'purchase' AS pos FROM events), " +
        "r AS (SELECT cohort, pos, row_number() OVER " +
        "(PARTITION BY cohort ORDER BY sc DESC, event_id) AS k FROM s), " +
        "f AS (SELECT cohort, CAST(min(CASE WHEN pos THEN k END) AS INT) " +
        "AS first_rank FROM r GROUP BY 1) " +
        "SELECT cohort, first_rank, " +
        "round(1.0 / CAST(first_rank AS DOUBLE), 6) AS rr " +
        "FROM f ORDER BY cohort"),
      (s, dir) => Stats.reciprocalRank(
        Tables.events(s, dir).select(pmod(col("user_id"), lit(8L)).as("cohort"),
          col("event_id"), col("value"), col("event_type")),
        "value", col("event_type") === "purchase", "event_id", Seq("cohort"))
        .orderBy("cohort"))
  ,

    // ---- personalized PageRank: q136's integer recurrence with the
    // teleport paid only to NATION_3 customers — rank becomes graph
    // proximity to the seed cohort (the related-items/neighborhood
    // expansion primitive). Top 25.
    Q("q258_personalized_pagerank", {
      val rounds = (1 to 3).map { i =>
        s"i$i AS (SELECT e.dst AS node, sum(r${i - 1}.r // deg.deg) AS m " +
          s"FROM r${i - 1} JOIN e ON r${i - 1}.node = e.src " +
          "JOIN deg ON e.src = deg.src GROUP BY 1), " +
          s"r$i AS (SELECT nodes.node, " +
          "CASE WHEN nodes.node IN (SELECT node FROM sn) THEN nn.tp ELSE 0 END " +
          s"+ (17 * coalesce(i$i.m, 0)) // 20 AS r " +
          s"FROM nodes LEFT JOIN i$i USING (node), nn)"
      }.mkString(", ")
      Some("WITH e0 AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src, " +
        "'s' || CAST(l_suppkey AS VARCHAR) AS dst " +
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey), " +
        "e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0), " +
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), " +
        "deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1), " +
        "seeds AS (SELECT DISTINCT 'c' || CAST(c_custkey AS VARCHAR) AS node " +
        "FROM customer WHERE c_nationkey = 3), " +
        "sn AS (SELECT node FROM nodes WHERE node IN (SELECT node FROM seeds)), " +
        "nn AS (SELECT count(*) AS ns, " +
        "(3 * 1000000000000) // (20 * count(*)) AS tp FROM sn), " +
        "r0 AS (SELECT nodes.node, CASE WHEN nodes.node IN " +
        "(SELECT node FROM sn) THEN 1000000000000 // nn.ns ELSE 0 END AS r " +
        "FROM nodes, nn), " +
        rounds + " " +
        // CAST: HUGEINT-vs-int64 dtype face, cf. q120 note
        "SELECT node, CAST(r AS BIGINT) AS rank_micro, " +
        "round(CAST(r AS DOUBLE) / 1000000000000.0, 6) AS rank FROM r3 " +
        "ORDER BY rank_micro DESC, node LIMIT 25")
    },
      (s, dir) => {
        // r15 optimization: LONG node ids through the iterate, oracle's
        // "c<k>"/"s<k>" strings rendered on the final |V|-row output —
        // the q136 encoding (rank values are representation-independent;
        // oracle SQL untouched, hash-verified)
        val pairs = Tables.orders(s, dir)
          .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
        val edges = pairs.union(
          pairs.select(col("dst").as("src"), col("src").as("dst")))
        val seeds = Tables.customer(s, dir)
          .filter(col("c_nationkey") === 3)
          .select((col("c_custkey") * 2).as("node"))
        graft.pipeline.Graph.personalizedPageRank(
            edges, "src", "dst", seeds, "node", iters = 3)
          .select(concat(
              when(pmod(col("node"), lit(2)) === 0, lit("c")).otherwise(lit("s")),
              shiftright(col("node"), 1).cast("string")).as("node"),
            col("rank_micro"), col("rank"))
          .orderBy(col("rank_micro").desc, col("node").asc).limit(25)
      }),

    // ---- PSI drift series: every day's value distribution scores against
    // the whole-corpus reference histogram — q233 per slice, the
    // drift-over-time monitoring board.
    Q("q259_drift_series", {
      def bin(src: String) = "CAST(least(greatest(floor((CAST(value AS DOUBLE) " +
        "- 0.0) / 20.0), 0.0), 19.0) AS BIGINT)"
      def p(cn: String, n: String) =
        s"(CAST(coalesce($cn, 0) AS DOUBLE) + 0.5) / (CAST($n AS DOUBLE) + 10.0)"
      val (pr, qc) = (p("cr", "nr"), p("cc", "n_cur"))
      Some(s"WITH rb AS (SELECT ${bin("r")} AS bin, count(*) AS cr FROM events " +
        "WHERE value IS NOT NULL GROUP BY 1), " +
        "rt AS (SELECT count(*) AS nr FROM events WHERE value IS NOT NULL), " +
        s"cb AS (SELECT epoch_us(ts) // 86400000000 AS g, ${bin("c")} AS bin, " +
        "count(*) AS cc FROM events WHERE value IS NOT NULL GROUP BY 1, 2), " +
        "ct AS (SELECT g, sum(cc) AS n_cur FROM cb GROUP BY 1), " +
        "spine AS (SELECT g, n_cur, unnest(range(20)) AS bin FROM ct), " +
        s"terms AS (SELECT spine.g, spine.n_cur, CAST(($pr - $qc) * ln($pr / $qc) " +
        "AS DECIMAL(28,12)) AS t FROM spine " +
        "LEFT JOIN rb USING (bin) " +
        "LEFT JOIN cb ON spine.g = cb.g AND spine.bin = cb.bin, rt) " +
        "SELECT g AS day, CAST(n_cur AS BIGINT) AS n_cur, " +
        "round(CAST(sum(t) AS DOUBLE), 6) AS psi FROM terms GROUP BY 1, 2 " +
        "ORDER BY day")
    },
      (s, dir) => {
        val ev = Tables.events(s, dir)
        Stats.psiByGroup(ev,
          ev.withColumn("day", EventAnalytics.dayIndex(col("ts"))),
          "day", "value", lo = 0.0, hi = 400.0, nBins = 20)
          .orderBy("day")
      }),

    // ---- key-skew report for a candidate shuffle key: max/top-10 shares
    // and the count Gini from ONE distributedRank pass over the key
    // relation (round 14: no keyless window; the oracle's ra/rd windows
    // replay the same integer rank sums — Σ ra·n telescopes from rd on
    // the Spark side) — the decision input for salting/AQE skew hints.
    Q("q260_key_skew",
      Some("WITH c AS (SELECT l_partkey AS k, count(*) AS n FROM lineitem " +
        "GROUP BY 1), " +
        "r AS (SELECT k, n, " +
        "row_number() OVER (ORDER BY n DESC, k ASC NULLS FIRST) AS rd, " +
        "row_number() OVER (ORDER BY n ASC, k DESC NULLS LAST) AS ra FROM c), " +
        "a AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows, count(*) AS n_keys, " +
        "max(n) AS max_count, " +
        "CAST(sum(CASE WHEN rd <= 10 THEN n ELSE 0 END) AS BIGINT) AS top10, " +
        "sum(CAST(ra AS DECIMAL(38,0)) * n) AS rs FROM r) " +
        "SELECT n_rows, n_keys, max_count, " +
        "round(CAST(max_count AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS max_share, " +
        "round(CAST(top10 AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS top10_share, " +
        "round(2.0 * CAST(rs AS DOUBLE) / (CAST(n_keys AS DOUBLE) * " +
        "CAST(n_rows AS DOUBLE)) - (CAST(n_keys AS DOUBLE) + 1.0) / " +
        "CAST(n_keys AS DOUBLE), 6) AS gini FROM a"),
      (s, dir) => Ops.keySkewReport(Tables.lineitem(s, dir), "l_partkey")),

    // ---- KMV set algebra between the view-user and click-user sets:
    // union/intersection/Jaccard estimates from ONE deterministic k-min
    // sketch over the tagged hash relation — exact spine columns ride the
    // same aggregate, so the oracle checks estimator AND truth together.
    Q("q262_kmv_setops", {
      def hexInt(n: Int) = (1 to n).map(i =>
        s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1) * " +
          s"${BigInt(16).pow(n - i)}").mkString("(", " + ", ")")
      Some("WITH da AS (SELECT DISTINCT 'a' AS side, " +
        "substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS hx FROM events " +
        "WHERE event_type = 'view' AND user_id IS NOT NULL), " +
        "db AS (SELECT DISTINCT 'b' AS side, " +
        "substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS hx FROM events " +
        "WHERE event_type = 'click' AND user_id IS NOT NULL), " +
        s"h AS (SELECT side, ${hexInt(15)} AS h FROM (SELECT * FROM da " +
        "UNION ALL SELECT * FROM db)), " +
        "m AS (SELECT h, max(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS ia, " +
        "max(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS ib FROM h GROUP BY 1), " +
        "t AS (SELECT CAST(sum(ia) AS BIGINT) AS n_a, " +
        "CAST(sum(ib) AS BIGINT) AS n_b, count(*) AS n_union, " +
        "CAST(sum(ia * ib) AS BIGINT) AS n_inter FROM m), " +
        "r AS (SELECT h, ia, ib, row_number() OVER (ORDER BY h) AS rn FROM m), " +
        "s AS (SELECT count(*) AS m_k, max(h) AS hk, " +
        "CAST(sum(ia * ib) AS BIGINT) AS nboth FROM r WHERE rn <= 64) " +
        "SELECT n_a, n_b, n_union, " +
        "CASE WHEN n_union <= 64 THEN CAST(n_union AS DOUBLE) " +
        "ELSE round(63.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE), 4) " +
        "END AS union_est, " +
        "round(CAST(nboth AS DOUBLE) / CAST(m_k AS DOUBLE), 6) AS jaccard_est, " +
        "CASE WHEN n_union <= 64 THEN CAST(n_inter AS DOUBLE) " +
        "ELSE round(CAST(nboth AS DOUBLE) / CAST(m_k AS DOUBLE) * " +
        "(63.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE)), 4) " +
        "END AS intersect_est FROM t, s")
    },
      (s, dir) => {
        val ev = Tables.events(s, dir)
        Stats.kmvSetOps(
          ev.filter(col("event_type") === "view"), col("user_id"),
          ev.filter(col("event_type") === "click"), col("user_id"), k = 64)
      }),

    // ---- Theil–Sen robust daily trend + Mann–Kendall: pairwise slopes
    // over the calendar-bounded zero-filled series; the slope median and
    // tau-a are outlier-proof where the OLS trend (q126) is not.
    Q("q263_theil_sen",
      Some("WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day, " +
        "count(*) AS n FROM events GROUP BY 1), " +
        "sp AS (SELECT unnest(range((SELECT min(day) FROM c), " +
        "(SELECT max(day) FROM c) + 1)) AS day), " +
        "d AS (SELECT sp.day, coalesce(c.n, 0) AS n FROM sp " +
        "LEFT JOIN c USING (day)), " +
        "p AS (SELECT CAST(b.n - a.n AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) " +
        "AS slope, CASE WHEN b.n > a.n THEN 1 WHEN b.n < a.n THEN -1 ELSE 0 " +
        "END AS sgn FROM d a JOIN d b ON a.day < b.day), " +
        "g AS (SELECT count(*) AS n_pairs, CAST(sum(sgn) AS BIGINT) AS s_stat " +
        "FROM p), " +
        "r AS (SELECT slope, row_number() OVER (ORDER BY slope) AS rn FROM p), " +
        "md AS (SELECT round(avg(slope), 6) AS slope_per_day FROM r, g " +
        "WHERE rn = (n_pairs + 1) // 2 OR rn = (n_pairs + 2) // 2), " +
        "nd AS (SELECT count(*) AS n_days FROM d) " +
        "SELECT n_days, n_pairs, s_stat, " +
        "round(CAST(s_stat AS DOUBLE) / CAST(n_pairs AS DOUBLE), 6) AS tau, " +
        "slope_per_day FROM nd, g, md"),
      (s, dir) => Stats.theilSenTrend(Tables.events(s, dir), "ts")),

    // ---- hash-Poisson bootstrap CI for mean(value): R = 100 deterministic
    // replicates in one linear pass (weights are a projection, partial agg
    // collapses the explode map-side) — reproducible and oracle-replayable
    // where rand()-based bootstrap is neither.
    Q("q264_poisson_bootstrap", {
      def hexInt(n: Int) = (1 to n).map(i =>
        s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1) * " +
          s"${BigInt(16).pow(n - i)}").mkString("(", " + ", ")")
      val caseW = Stats.poissonCum.zipWithIndex
        .map { case (c, j) => s"WHEN u < $c THEN $j" }
        .mkString("CASE ", " ", " ELSE 8 END")
      Some("WITH rep AS (SELECT CAST(event_id AS VARCHAR) AS id, " +
        "CAST(value AS DECIMAL(18,6)) AS v, unnest(range(100)) AS r " +
        "FROM events WHERE value IS NOT NULL), " +
        "hx0 AS (SELECT v, substr(md5(id || '|' || CAST(r AS VARCHAR)), 1, 13) " +
        "AS hx, r FROM rep), " +
        s"uu AS (SELECT v, r, ${hexInt(13)} / 4503599627370496.0 AS u FROM hx0), " +
        s"w AS (SELECT v, r, $caseW AS w FROM uu), " +
        "per AS (SELECT r, sum(v * w) AS s, CAST(sum(w) AS BIGINT) AS n " +
        "FROM w GROUP BY 1), " +
        "mm AS (SELECT CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m FROM per), " +
        "b AS (SELECT count(*) AS n_reps, " +
        "CAST(sum(CAST(m AS DECIMAL(28,12))) AS DOUBLE) AS sm, " +
        "CAST(sum(CAST(m * m AS DECIMAL(28,12))) AS DOUBLE) AS sm2 FROM mm), " +
        "t AS (SELECT count(*) AS n_rows, " +
        "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mean " +
        "FROM events WHERE value IS NOT NULL) " +
        "SELECT n_rows, round(mean, 6) AS mean, n_reps, " +
        "round(sqrt((sm2 - sm * sm / CAST(n_reps AS DOUBLE)) / " +
        "(CAST(n_reps AS DOUBLE) - 1.0)), 6) AS boot_se, " +
        "round(mean - 1.96 * sqrt((sm2 - sm * sm / CAST(n_reps AS DOUBLE)) / " +
        "(CAST(n_reps AS DOUBLE) - 1.0)), 6) AS ci_lo, " +
        "round(mean + 1.96 * sqrt((sm2 - sm * sm / CAST(n_reps AS DOUBLE)) / " +
        "(CAST(n_reps AS DOUBLE) - 1.0)), 6) AS ci_hi FROM t, b")
    },
      (s, dir) => Stats.poissonBootstrapMean(Tables.events(s, dir),
        col("event_id"), col("value"), reps = 100)),

    // ---- multiclass eval report: per-class tp/fp/fn/P/R/F1 over a
    // deterministic hash-derived prediction column — two key aggregates
    // full-outer-joined on the class spine, output class-bounded.
    Q("q267_class_report", {
      def hexInt(n: Int) = (1 to n).map(i =>
        s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1) * " +
          s"${BigInt(16).pow(n - i)}").mkString("(", " + ", ")")
      Some("WITH hx0 AS (SELECT label, " +
        "substr(md5('p|' || CAST(vec_id AS VARCHAR)), 1, 13) AS hx " +
        "FROM embeddings), " +
        s"b AS (SELECT CAST(label AS BIGINT) AS y, ${hexInt(13)} % 10 AS p " +
        "FROM hx0), " +
        "yl AS (SELECT y AS clazz, " +
        "CAST(sum(CASE WHEN y = p THEN 1 ELSE 0 END) AS BIGINT) AS tp, " +
        "count(*) AS nt FROM b GROUP BY 1), " +
        "pl AS (SELECT p AS clazz, count(*) AS np FROM b GROUP BY 1), " +
        "c AS (SELECT coalesce(yl.clazz, pl.clazz) AS clazz, " +
        "coalesce(tp, 0) AS tp, coalesce(np, 0) - coalesce(tp, 0) AS fp, " +
        "coalesce(nt, 0) - coalesce(tp, 0) AS fn, coalesce(nt, 0) AS nt, " +
        "coalesce(np, 0) AS np FROM yl FULL JOIN pl ON yl.clazz = pl.clazz), " +
        "pr AS (SELECT clazz, tp, fp, fn, " +
        "CASE WHEN np > 0 THEN CAST(tp AS DOUBLE) / CAST(np AS DOUBLE) END AS p, " +
        "CASE WHEN nt > 0 THEN CAST(tp AS DOUBLE) / CAST(nt AS DOUBLE) END AS r " +
        "FROM c) " +
        "SELECT clazz, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp, " +
        "CAST(fn AS BIGINT) AS fn, round(p, 6) AS \"precision\", " +
        "round(r, 6) AS recall, " +
        "round(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r) END, 6) AS f1 " +
        "FROM pr ORDER BY clazz")
    },
      (s, dir) => {
        val pred = pmod(conv(substring(md5(concat(lit("p|"),
          col("vec_id").cast("string"))), 1, 13), 16, 10).cast("long"),
          lit(10))
        Stats.classificationReport(Tables.embeddings(s, dir),
          col("label"), pred).orderBy("clazz")
      }),

    // ---- DP-noisy released counts: per-source count + hash-deterministic
    // Laplace(1/ε) noise, standard post-processing (round, clamp ≥ 0);
    // noise depends only on the group key, so it is one codegen'd
    // projection after the aggregate.
    Q("q269_dp_counts", {
      def hexInt(n: Int) = (1 to n).map(i =>
        s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1) * " +
          s"${BigInt(16).pow(n - i)}").mkString("(", " + ", ")")
      Some("WITH c AS (SELECT source, count(*) AS n_true FROM documents " +
        "GROUP BY 1), " +
        "hx0 AS (SELECT source, n_true, substr(md5('dp|' || source), 1, 13) " +
        "AS hx FROM c), " +
        s"uu AS (SELECT source, n_true, ${hexInt(13)} / 4503599627370496.0 " +
        "AS u FROM hx0), " +
        "nz AS (SELECT source, n_true, " +
        "-(CASE WHEN u - 0.5 > 0 THEN 1.0 WHEN u - 0.5 < 0 THEN -1.0 " +
        "ELSE 0.0 END) * ln(1.0 - 2.0 * abs(u - 0.5)) AS noise FROM uu) " +
        "SELECT source, n_true, round(noise, 6) AS noise, " +
        "greatest(CAST(0 AS BIGINT), " +
        "CAST(round(n_true + noise, 0) AS BIGINT)) AS released " +
        "FROM nz ORDER BY source")
    },
      (s, dir) => Stats.dpNoisyCounts(Tables.documents(s, dir), "source",
        epsilon = 1.0).orderBy("source")),

    // ---- Spearman rank correlation between per-user activity and mean
    // spend: doubled average ranks are INTEGERS (2·r̄ = 2·cum − cnt + 1),
    // Pearson is affine-invariant, so the whole statistic is decimal-exact
    // until one closed form. Rank windows run over value DOMAINS.
    Q("q270_spearman",
      Some("WITH base AS (SELECT user_id, count(*) AS a, " +
        "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS b " +
        "FROM events WHERE value IS NOT NULL GROUP BY 1), " +
        "ga AS (SELECT a, count(*) AS cnt FROM base GROUP BY 1), " +
        "ra AS (SELECT a, 2 * sum(cnt) OVER (ORDER BY a " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt + 1 AS x " +
        "FROM ga), " +
        "gb AS (SELECT b, count(*) AS cnt FROM base GROUP BY 1), " +
        "rb AS (SELECT b, 2 * sum(cnt) OVER (ORDER BY b " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt + 1 AS y " +
        "FROM gb), " +
        "j AS (SELECT x, y FROM base JOIN ra USING (a) JOIN rb USING (b)), " +
        "s AS (SELECT count(*) AS n, " +
        "CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx, " +
        "CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy, " +
        "CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DOUBLE) AS sxy, " +
        "CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS sxx, " +
        "CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE) AS syy FROM j) " +
        "SELECT n, round((CAST(n AS DOUBLE) * sxy - sx * sy) / " +
        "(sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) * " +
        "sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS rho FROM s"),
      (s, dir) => {
        val perUser = Tables.events(s, dir)
          .filter(col("value").isNotNull)
          .groupBy("user_id")
          .agg(count(lit(1)).as("a"),
            (sum(col("value").cast("decimal(18,6)")).cast("double") /
              count(lit(1)).cast("double")).as("b"))
        Stats.spearman(perUser, col("a"), col("b"))
      }),

    // ---- MASE forecast-skill summary: seasonal-naive vs random-walk MAE
    // over the q190 backtest tail — integer error sums, two divisions,
    // Hyndman's scale-free score as one exact row.
    Q("q271_mase",
      Some("WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day, " +
        "count(*) AS n FROM events GROUP BY 1), " +
        "sp AS (SELECT unnest(range((SELECT min(day) FROM c), " +
        "(SELECT max(day) FROM c) + 1)) AS day), " +
        "f AS (SELECT sp.day, coalesce(n, 0) AS n FROM sp " +
        "LEFT JOIN c USING (day)), " +
        "l AS (SELECT day, n, lag(n, 7) OVER (ORDER BY day) AS ps, " +
        "lag(n, 1) OVER (ORDER BY day) AS p1 FROM f), " +
        "t AS (SELECT * FROM l WHERE day > (SELECT max(day) FROM f) - 28 " +
        "AND ps IS NOT NULL AND p1 IS NOT NULL), " +
        "a AS (SELECT count(*) AS n_days, " +
        "CAST(sum(abs(n - ps)) AS BIGINT) AS sm, " +
        "CAST(sum(abs(n - p1)) AS BIGINT) AS sn FROM t) " +
        "SELECT n_days, " +
        "round(CAST(sm AS DOUBLE) / CAST(n_days AS DOUBLE), 6) AS mae_model, " +
        "round(CAST(sn AS DOUBLE) / CAST(n_days AS DOUBLE), 6) AS mae_naive, " +
        "round(CASE WHEN sn > 0 THEN CAST(sm AS DOUBLE) / CAST(sn AS DOUBLE) " +
        "END, 6) AS mase FROM a"),
      (s, dir) => EventAnalytics.forecastAccuracy(Tables.events(s, dir),
        "ts", season = 7, horizon = 28)),

    // ---- time-boxed funnel: q98's greedy-min fold with every later stage
    // bound to 1 h of the user's earliest stage-0 event (the deterministic
    // anchored reading of windowFunnel) — same k−1 co-keyed joins, one
    // extra bound, no windows.
    Q("q272_window_funnel",
      Some("WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events), " +
        "s0 AS (SELECT user_id, min(t) AS t, min(t) AS a FROM e " +
        "WHERE event_type = 'view' GROUP BY 1), " +
        "s1 AS (SELECT e.user_id, min(e.t) AS t, min(s0.a) AS a FROM e " +
        "JOIN s0 ON e.user_id = s0.user_id AND e.t > s0.t " +
        "AND e.t <= s0.a + 3600000000 WHERE e.event_type = 'click' GROUP BY 1), " +
        "s2 AS (SELECT e.user_id, min(e.t) AS t, min(s1.a) AS a FROM e " +
        "JOIN s1 ON e.user_id = s1.user_id AND e.t > s1.t " +
        "AND e.t <= s1.a + 3600000000 WHERE e.event_type = 'purchase' GROUP BY 1) " +
        "SELECT 0 AS stage_idx, 'view' AS stage, " +
        "(SELECT count(*) FROM s0) AS n_users " +
        "UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s1) " +
        "UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2) " +
        "ORDER BY stage_idx"),
      (s, dir) => EventAnalytics.windowFunnel(Tables.events(s, dir),
          "user_id", "event_type", "ts", Seq("view", "click", "purchase"),
          windowUs = 3600000000L)
        .orderBy("stage_idx"))
  )
}

/** Second stats wave (split keeps per-file JVM method size in check). */
object StatsQueries2 {

  val qs: Seq[Q] = Seq(

    // ---- user-growth series: first-activity day per user, prefix sum
    // over the calendar spine — running distinct WITHOUT a windowed
    // distinct (the scale trap this operator exists to avoid).
    Q("q273_cumulative_users",
      Some("WITH fd AS (SELECT user_id, " +
        "min(epoch_us(ts) // 86400000000) AS day FROM events GROUP BY 1), " +
        "np AS (SELECT day, count(*) AS new_users FROM fd GROUP BY 1), " +
        "b AS (SELECT min(epoch_us(ts) // 86400000000) AS lo, " +
        "max(epoch_us(ts) // 86400000000) AS hi FROM events), " +
        "sp AS (SELECT unnest(range(lo, hi + 1)) AS day FROM b) " +
        "SELECT sp.day, CAST(coalesce(new_users, 0) AS BIGINT) AS new_users, " +
        "CAST(sum(coalesce(new_users, 0)) OVER (ORDER BY sp.day " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) " +
        "AS cum_users FROM sp LEFT JOIN np ON sp.day = np.day ORDER BY sp.day"),
      (s, dir) => EventAnalytics.cumulativeUsers(Tables.events(s, dir),
        "user_id", "ts").orderBy("day")),

    // ---- experiment design from observed data: per-arm sample size for
    // a +10% relative lift on the view→purchase rate, the standard
    // two-proportion closed form from decimal-exact counts (q248's
    // design-time companion).
    Q("q274_power_analysis",
      Some("WITH a AS (SELECT " +
        "CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_trials, " +
        "CAST(sum(CASE WHEN event_type = 'view' AND value > 200 THEN 1 " +
        "ELSE 0 END) AS BIGINT) AS n_successes FROM events), " +
        "p AS (SELECT n_trials, n_successes, " +
        "CAST(n_successes AS DOUBLE) / CAST(n_trials AS DOUBLE) AS p1 FROM a), " +
        "q AS (SELECT n_trials, n_successes, p1, p1 * 1.1 AS p2, " +
        "(p1 + p1 * 1.1) / 2.0 AS pbar FROM p) " +
        "SELECT n_trials, n_successes, round(p1, 6) AS p1, round(p2, 6) AS p2, " +
        s"CAST(ceil((${Stats.ZAlpha025} * sqrt(2.0 * pbar * (1.0 - pbar)) + " +
        s"${Stats.ZPower80} * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2))) * " +
        s"(${Stats.ZAlpha025} * sqrt(2.0 * pbar * (1.0 - pbar)) + " +
        s"${Stats.ZPower80} * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2))) / " +
        "((p2 - p1) * (p2 - p1))) AS BIGINT) AS n_per_arm FROM q"),
      (s, dir) => Stats.sampleSizeTwoProportions(Tables.events(s, dir),
        col("event_type") === "view",
        col("value").isNotNull && col("value") > 200, relMde = 0.1)),

    // ---- split-conformal intervals per event type: calibration half fits
    // the mean, q-hat is an EXACT order statistic (data element), held-out
    // coverage must straddle 1−α — distribution-free guarantees as one
    // oracle-checked row per group.
    Q("q275_conformal",
      Some("WITH t AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v, " +
        "CASE WHEN substr(md5('conf' || CAST(event_id AS VARCHAR)), 1, 8) " +
        "< '80000000' THEN 'cal' ELSE 'test' END AS sp FROM events " +
        "WHERE value IS NOT NULL), " +
        "mu AS (SELECT g, CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / " +
        "count(*) AS mu FROM t WHERE sp = 'cal' GROUP BY 1), " +
        "r AS (SELECT t.g, sp, abs(v - mu) AS r FROM t JOIN mu USING (g)), " +
        "c AS (SELECT g, r, row_number() OVER (PARTITION BY g ORDER BY r) " +
        "AS rn, count(*) OVER (PARTITION BY g) AS n FROM r WHERE sp = 'cal'), " +
        "q AS (SELECT g, n AS n_cal, r AS q_hat FROM c " +
        "WHERE rn = CAST(ceil(0.9 * (n + 1)) AS BIGINT)), " +
        "te AS (SELECT r.g, min(q.n_cal) AS n_cal, count(*) AS n_test, " +
        "min(q.q_hat) AS q_hat, " +
        "CAST(sum(CASE WHEN r.r <= q.q_hat THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS cov FROM r JOIN q ON r.g = q.g WHERE sp = 'test' GROUP BY 1) " +
        "SELECT g AS event_type, n_cal, n_test, q_hat, " +
        "round(CAST(cov AS DOUBLE) / CAST(n_test AS DOUBLE), 6) AS coverage " +
        "FROM te ORDER BY event_type"),
      (s, dir) => Stats.conformalIntervals(Tables.events(s, dir),
        "event_type", col("event_id"), col("value"), alpha = 0.1)
        .orderBy("event_type")),

    // ---- CUPED variance reduction: pre-period per-user spend as the
    // covariate for post-period spend; reduction = corr² via the
    // var(y_adj) = var(y) − cov²/var(x) identity — six decimal-exact sums,
    // one closed form, no second pass.
    Q("q276_cuped",
      Some("WITH d AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day, " +
        "CAST(value AS DECIMAL(18,6)) AS v FROM events " +
        "WHERE value IS NOT NULL), " +
        "b AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM d), " +
        "u AS (SELECT user_id, " +
        "CAST(coalesce(sum(CASE WHEN day < mid THEN v END), 0) AS DOUBLE) AS x, " +
        "CAST(coalesce(sum(CASE WHEN day >= mid THEN v END), 0) AS DOUBLE) AS y " +
        "FROM d, b GROUP BY 1), " +
        "s AS (SELECT count(*) AS n_units, " +
        "CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx, " +
        "CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy, " +
        "CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx, " +
        "CAST(sum(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy, " +
        "CAST(sum(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy FROM u), " +
        "m AS (SELECT n_units, CAST(n_units AS DOUBLE) AS nd, sx, sy, sxx, " +
        "syy, sxy FROM s), " +
        "vv AS (SELECT n_units, (nd * sxx - sx * sx) / (nd * nd) AS vx, " +
        "(nd * syy - sy * sy) / (nd * nd) AS vy, " +
        "(nd * sxy - sx * sy) / (nd * nd) AS cv FROM m) " +
        "SELECT n_units, " +
        "round(CASE WHEN vx > 0 THEN cv / vx END, 6) AS theta, " +
        "round(vy, 6) AS var_y, " +
        "round(CASE WHEN vx > 0 THEN vy - cv * cv / vx END, 6) AS var_adj, " +
        "round(CASE WHEN vx > 0 AND vy > 0 THEN cv * cv / (vx * vy) END, 6) " +
        "AS reduction FROM vv"),
      (s, dir) => {
        val ev = Tables.events(s, dir).filter(col("value").isNotNull)
          .select(col("user_id"),
            EventAnalytics.dayIndex(col("ts")).as("day"),
            col("value").cast("decimal(18,6)").as("v"))
        val mid = ev.agg(
          floor((min(col("day")) + max(col("day")) + 1) / lit(2))
            .cast("long").as("mid"))
        val perUser = ev.crossJoin(broadcast(mid))
          .groupBy("user_id")
          .agg(coalesce(sum(when(col("day") < col("mid"), col("v"))),
              lit(0).cast("decimal(18,6)")).cast("double").as("x"),
            coalesce(sum(when(col("day") >= col("mid"), col("v"))),
              lit(0).cast("decimal(18,6)")).cast("double").as("y"))
        Stats.cupedReduction(perUser, col("x"), col("y"))
      }),

    // ---- label-propagation communities over the (10%-part slice of the)
    // customer-supplier graph: 3 synchronous rounds, deterministic mode
    // election (count desc, label asc) — random-tie LPA is ungateable; the
    // oracle unrolls the identical rounds.
    Q("q277_label_propagation", {
      val rounds = (1 to 3).map { i =>
        s"m$i AS (SELECT e.dst AS node, l${i - 1}.label, count(*) AS c " +
          s"FROM e JOIN l${i - 1} ON e.src = l${i - 1}.node GROUP BY 1, 2), " +
          s"e$i AS (SELECT node, label FROM (SELECT node, label, " +
          "row_number() OVER (PARTITION BY node ORDER BY c DESC, label) " +
          s"AS rn FROM m$i) WHERE rn = 1), " +
          s"l$i AS (SELECT n.node, coalesce(e$i.label, n.node) AS label " +
          s"FROM nodes n LEFT JOIN e$i USING (node))"
      }.mkString(", ")
      Some("WITH p AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src, " +
        "'s' || CAST(l_suppkey AS VARCHAR) AS dst FROM orders " +
        "JOIN lineitem ON l_orderkey = o_orderkey WHERE l_partkey % 10 = 0), " +
        "e AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p), " +
        "nodes AS (SELECT DISTINCT src AS node FROM e), " +
        "l0 AS (SELECT node, node AS label FROM nodes), " +
        rounds + " " +
        "SELECT label AS community, count(*) AS n_nodes FROM l3 GROUP BY 1 " +
        "ORDER BY n_nodes DESC, community LIMIT 25")
    },
      (s, dir) => {
        val pairs = Tables.orders(s, dir)
          .join(Tables.lineitem(s, dir)
            .filter(pmod(col("l_partkey"), lit(10)) === 0),
            col("l_orderkey") === col("o_orderkey"))
          .select(concat(lit("c"), col("o_custkey").cast("string")).as("src"),
            concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
        val edges = pairs.union(
          pairs.select(col("dst").as("src"), col("src").as("dst")))
        graft.pipeline.Graph.labelPropagation(edges, "src", "dst", iters = 3)
          .groupBy(col("label").as("community"))
          .agg(count(lit(1)).as("n_nodes"))
          .orderBy(col("n_nodes").desc, col("community").asc).limit(25)
      }),

    // ---- U-shaped attribution: 40/20/40 position credits per conversion
    // (q203's assignment fold + one per-conversion position window);
    // credits re-enter DECIMAL after the 6dp round so type totals are
    // shuffle-order-exact.
    Q("q278_position_attribution",
      Some("WITH e AS (SELECT user_id, event_id, event_type, value, " +
        "epoch_us(ts) AS us FROM events), " +
        "t AS (SELECT *, min(CASE WHEN event_type = 'purchase' THEN event_id END) " +
        "OVER (PARTITION BY user_id ORDER BY us, event_id " +
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS conv_id FROM e), " +
        "tou AS (SELECT * FROM t WHERE event_type <> 'purchase' " +
        "AND conv_id IS NOT NULL), " +
        "pc AS (SELECT conv_id, count(*) AS n FROM tou GROUP BY 1), " +
        "cv AS (SELECT event_id AS conv_id, value AS v FROM e " +
        "WHERE event_type = 'purchase'), " +
        "pos AS (SELECT *, row_number() OVER (PARTITION BY conv_id " +
        "ORDER BY us, event_id) AS pos FROM tou), " +
        "cr AS (SELECT pos.event_type AS touch_type, " +
        "CAST(round(CASE WHEN pc.n = 1 THEN cv.v " +
        "WHEN pc.n = 2 THEN cv.v * CAST(0.5 AS DOUBLE) " +
        "WHEN pos.pos = 1 OR pos.pos = pc.n THEN cv.v * CAST(0.4 AS DOUBLE) " +
        "ELSE cv.v * CAST(0.2 AS DOUBLE) / (pc.n - 2) END, 6) " +
        "AS DECIMAL(18,6)) AS credit " +
        "FROM pos JOIN pc USING (conv_id) JOIN cv USING (conv_id)) " +
        "SELECT touch_type, count(*) AS n_touches, " +
        "CAST(sum(credit) AS DOUBLE) AS total_credit FROM cr " +
        "GROUP BY 1 ORDER BY 1"),
      (s, dir) => EventAnalytics.positionAttribution(Tables.events(s, dir),
          "user_id", "event_id", "ts", "event_type", "purchase", "value")
        .orderBy("touch_type")),

    // ---- l-diversity audit (q244's companion): k-anonymous groups whose
    // sensitive values don't vary are still leaks — distinct-sensitive
    // counts per QI group, one summary row.
    Q("q279_l_diversity",
      Some("WITH p AS (SELECT DISTINCT c_nationkey, c_mktsegment, " +
        "CAST(floor(c_acctbal / 1000) AS BIGINT) AS sv FROM customer), " +
        "ld AS (SELECT c_nationkey, c_mktsegment, count(*) AS l FROM p " +
        "GROUP BY 1, 2), " +
        "sz AS (SELECT c_nationkey, c_mktsegment, count(*) AS n " +
        "FROM customer GROUP BY 1, 2) " +
        "SELECT count(*) AS n_groups, CAST(sum(n) AS BIGINT) AS n_rows, " +
        "CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_violating_groups, " +
        "CAST(coalesce(sum(CASE WHEN l < 3 THEN n END), 0) AS BIGINT) " +
        "AS n_rows_at_risk, min(l) AS min_l " +
        "FROM sz JOIN ld USING (c_nationkey, c_mktsegment)"),
      (s, dir) => Stats.lDiversityAudit(Tables.customer(s, dir),
        Seq("c_nationkey", "c_mktsegment"),
        floor(col("c_acctbal") / lit(1000)).cast("long"), l = 3)),

    // ---- freshness dashboard: per-type latest event, integer lag minutes
    // behind the corpus max, staleness flag — one aggregate + one
    // broadcast scalar, pure µs arithmetic.
    Q("q280_freshness",
      Some("WITH per AS (SELECT event_type, count(*) AS n_events, " +
        "max(epoch_us(ts)) AS last_us FROM events GROUP BY 1), " +
        "g AS (SELECT max(last_us) AS gmax FROM per) " +
        "SELECT event_type, n_events, last_us, " +
        "(gmax - last_us) // 60000000 AS lag_minutes, " +
        "(gmax - last_us) // 60000000 >= 60 AS stale FROM per, g " +
        "ORDER BY event_type"),
      (s, dir) => EventAnalytics.freshnessReport(Tables.events(s, dir),
        "event_type", "ts", staleMinutes = 60).orderBy("event_type")),

    // ---- FIFO lot matching as interval overlaps on the cumulative-
    // quantity axis: the sequential walk-the-lots loop becomes one
    // key-equi range join; COGS terms re-enter DECIMAL(28,12).
    Q("q281_fifo_matching",
      Some("WITH f AS (SELECT l_partkey AS k, " +
        "CAST(l_quantity AS BIGINT) AS q, l_returnflag = 'R' AS s, " +
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS cc, " +
        "l_shipdate, l_orderkey, l_linenumber FROM lineitem " +
        // the POST-CAST qty guard mirrors fifoMatch exactly (it filters on
        // the long image, so a fractional 0.5 lot drops in BOTH engines —
        // a pre-cast `l_quantity > 0` would keep it here and diverge);
        // a no-op on TPC-H's integral 1..50 quantities
        "WHERE l_partkey % 25 = 0 AND CAST(l_quantity AS BIGINT) > 0), " +
        "w AS (SELECT *, sum(q) OVER (PARTITION BY k, s " +
        "ORDER BY l_shipdate, l_orderkey, l_linenumber " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi FROM f), " +
        "b AS (SELECT k, hi - q AS lo, hi, (cc * 10000) // q AS pu " +
        "FROM w WHERE NOT s), " +
        "sl AS (SELECT k, hi - q AS lo, hi FROM w WHERE s), " +
        "st AS (SELECT k, CAST(sum(q) AS BIGINT) AS sell_qty FROM f " +
        "WHERE s GROUP BY 1), " +
        "m AS (SELECT b.k, count(*) AS n_matches, " +
        "CAST(sum(least(b.hi, sl.hi) - greatest(b.lo, sl.lo)) AS BIGINT) " +
        "AS matched_qty, " +
        "CAST(sum((least(b.hi, sl.hi) - greatest(b.lo, sl.lo)) * b.pu) " +
        "AS BIGINT) AS cogs_micro " +
        "FROM b JOIN sl ON b.k = sl.k AND b.lo < sl.hi AND sl.lo < b.hi " +
        "GROUP BY 1) " +
        "SELECT st.k AS l_partkey, coalesce(n_matches, 0) AS n_matches, " +
        "coalesce(matched_qty, 0) AS matched_qty, sell_qty, " +
        "round(CAST(coalesce(cogs_micro, 0) AS DOUBLE) / 1000000.0, 6) " +
        "AS cogs " +
        "FROM st LEFT JOIN m ON st.k = m.k ORDER BY l_partkey"),
      (s, dir) => Ops.fifoMatch(
          Tables.lineitem(s, dir)
            .filter(pmod(col("l_partkey"), lit(25)) === 0),
          "l_partkey", Seq("l_shipdate", "l_orderkey", "l_linenumber"),
          col("l_quantity"), col("l_returnflag") === "R",
          round(col("l_extendedprice") * 100))
        .orderBy("l_partkey")),

    // ---- optimizer-style join-size estimate vs truth: the uniform-key
    // n_a·n_b/max(d_a,d_b) formula every CBO starts from, with the ratio
    // as the skew signal (AQE/salting decision input).
    Q("q282_join_size_estimate",
      Some("WITH a AS (SELECT l_orderkey AS k FROM lineitem " +
        "WHERE l_orderkey IS NOT NULL), " +
        "b AS (SELECT o_orderkey AS k FROM orders " +
        "WHERE o_orderkey IS NOT NULL), " +
        "st AS (SELECT (SELECT count(*) FROM a) AS n_a, " +
        "(SELECT count(DISTINCT k) FROM a) AS d_a, " +
        "(SELECT count(*) FROM b) AS n_b, " +
        "(SELECT count(DISTINCT k) FROM b) AS d_b), " +
        "ac AS (SELECT count(*) AS actual_rows FROM a JOIN b USING (k)), " +
        "e AS (SELECT n_a, n_b, d_a, d_b, actual_rows, " +
        "round(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / " +
        "CAST(greatest(d_a, d_b) AS DOUBLE), 1) AS est_rows FROM st, ac) " +
        "SELECT n_a, n_b, d_a, d_b, est_rows, actual_rows, " +
        "round(est_rows / CAST(actual_rows AS DOUBLE), 6) AS ratio FROM e"),
      (s, dir) => Ops.joinSizeEstimate(
        Tables.lineitem(s, dir), col("l_orderkey"),
        Tables.orders(s, dir), col("o_orderkey"))),

    // ---- weekday-seasonality strength: R² of the 7-level weekday-mean
    // model over the zero-filled daily series; residual moments re-enter
    // DECIMAL(28,12), one closed form.
    Q("q283_seasonality",
      Some("WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day, " +
        "count(*) AS n FROM events GROUP BY 1), " +
        "sp AS (SELECT unnest(range((SELECT min(day) FROM c), " +
        "(SELECT max(day) FROM c) + 1)) AS day), " +
        "f AS (SELECT sp.day, coalesce(n, 0) AS n FROM sp " +
        "LEFT JOIN c USING (day)), " +
        "wd AS (SELECT day, n, (day + 3) % 7 AS w FROM f), " +
        "pm AS (SELECT w, CAST(sum(CAST(n AS DECIMAL(18,0))) AS DOUBLE) / " +
        "count(*) AS m FROM wd GROUP BY 1), " +
        "r AS (SELECT n, CAST(n AS DOUBLE) - m AS r FROM wd " +
        "JOIN pm USING (w)), " +
        "s AS (SELECT count(*) AS n_days, " +
        "CAST(sum(CAST(n AS DECIMAL(18,0))) AS DOUBLE) AS sn, " +
        "CAST(sum(CAST(n AS DECIMAL(18,0)) * n) AS DOUBLE) AS snn, " +
        "CAST(sum(CAST(r AS DECIMAL(28,12))) AS DOUBLE) AS sr, " +
        "CAST(sum(CAST(r * r AS DECIMAL(28,12))) AS DOUBLE) AS srr FROM r), " +
        "v AS (SELECT n_days, CAST(n_days AS DOUBLE) AS nd, sn, snn, sr, " +
        "srr FROM s) " +
        "SELECT n_days, " +
        "round((nd * snn - sn * sn) / (nd * nd), 6) AS var_daily, " +
        "round((nd * srr - sr * sr) / (nd * nd), 6) AS var_resid, " +
        "round(CASE WHEN (nd * snn - sn * sn) / (nd * nd) > 0 THEN " +
        "1.0 - ((nd * srr - sr * sr) / (nd * nd)) / " +
        "((nd * snn - sn * sn) / (nd * nd)) END, 6) AS strength FROM v"),
      (s, dir) => EventAnalytics.seasonalityStrength(
        Tables.events(s, dir), "ts")),

    // ---- zero-filled heatmap cells: (value-bin × hour-of-day) counts
    // over the full bins×24 grid (the q233 binning, pure integer hours).
    Q("q284_histogram2d",
      Some("WITH cells AS (SELECT CAST(least(greatest(floor(" +
        "(CAST(value AS DOUBLE) - 0.0) / 20.0), 0.0), 19.0) AS BIGINT) " +
        "AS bin, (epoch_us(ts) // 3600000000) % 24 AS hour, count(*) AS n " +
        "FROM events WHERE value IS NOT NULL GROUP BY 1, 2), " +
        "sp AS (SELECT b.bin, h.hour FROM " +
        "(SELECT unnest(range(20)) AS bin) b, " +
        "(SELECT unnest(range(24)) AS hour) h) " +
        "SELECT sp.bin, sp.hour, CAST(coalesce(n, 0) AS BIGINT) AS n " +
        "FROM sp LEFT JOIN cells ON sp.bin = cells.bin " +
        "AND sp.hour = cells.hour ORDER BY sp.bin, sp.hour"),
      (s, dir) => EventAnalytics.histogram2d(Tables.events(s, dir),
        "value", "ts", lo = 0.0, hi = 400.0, nBins = 20)
        .orderBy("bin", "hour")),

    // ---- difference-in-differences: hash-deterministic treatment split,
    // data-anchored pre/post midpoint, four DECIMAL cell sums, the classic
    // (Δtreat − Δctrl) closed form over unrounded means.
    Q("q296_diff_in_diff", {
      // CAST: HUGEINT-vs-int64 dtype face, cf. q120 note
      def cell(t: String, p: String, tag: String) = Seq(
        s"CAST(sum(CASE WHEN $t AND $p THEN 1 ELSE 0 END) AS BIGINT) AS n_$tag",
        s"CAST(sum(CASE WHEN $t AND $p THEN " +
          s"CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS s_$tag")
      val cells = cell("NOT t", "NOT p", "ctrl_pre") ++
        cell("NOT t", "p", "ctrl_post") ++
        cell("t", "NOT p", "treat_pre") ++ cell("t", "p", "treat_post")
      def m(tag: String) = s"(s_$tag / CAST(n_$tag AS DOUBLE))"
      Some("WITH e AS (SELECT user_id, value, " +
        "epoch_us(ts) // 86400000000 AS day FROM events " +
        "WHERE value IS NOT NULL), " +
        "mm AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM e), " +
        "c AS (SELECT user_id % 2 = 0 AS t, day >= mid AS p, value " +
        "FROM e, mm), " +
        s"g AS (SELECT ${cells.mkString(", ")} FROM c) " +
        "SELECT n_ctrl_pre, n_ctrl_post, n_treat_pre, n_treat_post, " +
        s"round(${m("ctrl_pre")}, 6) AS mean_ctrl_pre, " +
        s"round(${m("ctrl_post")}, 6) AS mean_ctrl_post, " +
        s"round(${m("treat_pre")}, 6) AS mean_treat_pre, " +
        s"round(${m("treat_post")}, 6) AS mean_treat_post, " +
        s"round((${m("treat_post")} - ${m("treat_pre")}) - " +
        s"(${m("ctrl_post")} - ${m("ctrl_pre")}), 6) AS did FROM g")
    },
      (s, dir) => {
        val e = Tables.events(s, dir).filter(col("value").isNotNull)
          .withColumn("day", EventAnalytics.dayIndex(col("ts")))
        val mid = e.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
        Stats.diffInDiff(e.crossJoin(broadcast(mid)),
          pmod(col("user_id"), lit(2L)) === 0, col("day") >= col("mid"),
          col("value"))
      }),

    // ---- UCB1 bandit allocation from the logged event "pulls": mean
    // reward + sqrt(2 ln N / n) bonus per arm; the next-pull election
    // compares ROUNDED scores (arm-name tiebreak) so it cannot flip on a
    // libm ulp.
    Q("q297_ucb1",
      Some("WITH a AS (SELECT event_type AS arm, count(*) AS n_pulls, " +
        "CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS s " +
        "FROM events WHERE value IS NOT NULL GROUP BY 1), " +
        "t AS (SELECT sum(n_pulls) AS tot FROM a), " +
        "u AS (SELECT arm, n_pulls, " +
        "round(s / CAST(n_pulls AS DOUBLE), 6) AS mean_reward, " +
        "round(s / CAST(n_pulls AS DOUBLE) + " +
        "sqrt(2.0 * ln(CAST(tot AS DOUBLE)) / CAST(n_pulls AS DOUBLE)), 6) " +
        "AS ucb FROM a, t) " +
        "SELECT arm, n_pulls, mean_reward, ucb, " +
        "row_number() OVER (ORDER BY ucb DESC, arm) = 1 AS chosen " +
        "FROM u ORDER BY arm"),
      (s, dir) => Stats.ucb1(Tables.events(s, dir), col("event_type"),
          col("value"))
        .orderBy("arm")),

    // ---- two-regressor OLS in closed form (Cramer over the 3×3 normal
    // equations): DECIMAL(38,6) sufficient statistics, one fixed-shape
    // double determinant expression per coefficient, R² via the sse
    // identity.
    Q("q298_ols2",
      Some("WITH g AS (SELECT count(*) AS n, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s1, " +
        "CAST(sum(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) AS s2, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy, " +
        "CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) " +
        "AS DOUBLE) AS s11, " +
        "CAST(sum(CAST(l_discount * l_discount AS DECIMAL(38,6))) " +
        "AS DOUBLE) AS s22, " +
        "CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(38,6))) " +
        "AS DOUBLE) AS s12, " +
        "CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) " +
        "AS DOUBLE) AS s1y, " +
        "CAST(sum(CAST(l_discount * l_extendedprice AS DECIMAL(38,6))) " +
        "AS DOUBLE) AS s2y, " +
        "CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6)))" +
        " AS DOUBLE) AS syy FROM lineitem), " +
        "v AS (SELECT n, CAST(n AS DOUBLE) AS nd, s1, s2, sy, s11, s22, " +
        "s12, s1y, s2y, syy FROM g), " +
        "w AS (SELECT *, nd * (s11 * s22 - s12 * s12) - " +
        "s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2) AS det " +
        "FROM v), " +
        "b AS (SELECT *, " +
        "(sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) + " +
        "s2 * (s1y * s12 - s11 * s2y)) / det AS b0, " +
        "(nd * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) + " +
        "s2 * (s1 * s2y - s1y * s2)) / det AS b1, " +
        "(nd * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) + " +
        "sy * (s1 * s12 - s11 * s2)) / det AS b2 FROM w), " +
        "f AS (SELECT *, syy - b0 * sy - b1 * s1y - b2 * s2y AS sse, " +
        "syy - sy * sy / nd AS sst FROM b) " +
        "SELECT n, round(b0, 6) AS beta0, round(b1, 6) AS beta1, " +
        "round(b2, 6) AS beta2, " +
        "round(CASE WHEN sst <> 0 THEN 1.0 - sse / sst END, 6) AS r2 " +
        "FROM f"),
      (s, dir) => Stats.olsFit2(Tables.lineitem(s, dir), col("l_quantity"),
        col("l_discount"), col("l_extendedprice"))),

    // ---- HITS hubs/authorities over the customer→part bipartite graph:
    // two unnormalized integer rounds ((AᵀA)^k path counts — exact in any
    // engine), per-side max normalization at the end, top 20 per side via
    // TakeOrderedAndProject (never a side-partitioned window).
    Q("q299_hits",
      Some("WITH e AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
        "a1 AS (SELECT p, CAST(count(*) AS HUGEINT) AS a FROM e GROUP BY 1), " +
        "h1 AS (SELECT c, CAST(sum(a) AS HUGEINT) AS h FROM e " +
        "JOIN a1 USING (p) GROUP BY 1), " +
        "a2 AS (SELECT p, CAST(sum(h) AS HUGEINT) AS a FROM e " +
        "JOIN h1 USING (c) GROUP BY 1), " +
        "h2 AS (SELECT c, CAST(sum(a) AS HUGEINT) AS h FROM e " +
        "JOIN a2 USING (p) GROUP BY 1), " +
        "u AS (SELECT 'authority' AS side, p AS node, a AS s FROM a2 " +
        "UNION ALL SELECT 'hub', c, h FROM h2), " +
        "m AS (SELECT side, max(s) AS mx FROM u GROUP BY 1), " +
        "r AS (SELECT side, node, s, mx, row_number() OVER " +
        "(PARTITION BY side ORDER BY s DESC, node) AS rn " +
        "FROM u JOIN m USING (side)) " +
        "SELECT side, node, CAST(s AS BIGINT) AS score_raw, " +
        "round(CAST(s AS DOUBLE) / CAST(mx AS DOUBLE), 6) AS score " +
        "FROM r WHERE rn <= 20 ORDER BY side, score_raw DESC, node"),
      (s, dir) => {
        val e = Tables.orders(s, dir)
          .select(col("o_orderkey").as("ok"), col("o_custkey").as("c"))
          .join(Tables.lineitem(s, dir)
            .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")),
            Seq("ok"))
          .select(col("c"), col("p"))
        val h = Graph.hits(e, "c", "p", iters = 2)
        def top(side: String) = h.filter(col("side") === side)
          .orderBy(col("score_raw").desc, col("node").asc).limit(20)
        top("authority").unionByName(top("hub"))
      }),

    // ---- whole-graph structure report on the SPARSE co-purchase graph
    // (q156's support-≥2 relation — the raw co-occurrence graph is
    // near-complete at bench scale and its triangle pass already runs as
    // q139; re-enumerating it here would double that cost for no new
    // signal): exact integer wedge/triangle/degree moments, global
    // clustering 3T/W and Newman degree assortativity as one-shot closed
    // forms.
    Q("q300_graph_summary",
      Some("WITH " + graft.queries.AppliedQueries.copurchaseEdgesSql + ", " +
        "d0 AS (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0), " +
        "d AS (SELECT node, CAST(count(*) AS BIGINT) AS deg " +
        "FROM d0 GROUP BY 1), " +
        "t AS (SELECT count(*) AS n_triangles FROM (SELECT 1 FROM e0 e1 " +
        "JOIN e0 e2 ON e1.a = e2.a AND e1.b < e2.b " +
        "JOIN e0 e3 ON e3.a = e1.b AND e3.b = e2.b)), " +
        "ds AS (SELECT count(*) AS n_nodes, " +
        "CAST(sum(CAST(deg * (deg - 1) AS HUGEINT)) AS HUGEINT) AS w2 " +
        "FROM d), " +
        "st AS (SELECT count(*) AS n_edges, " +
        "CAST(sum(CAST(da + db AS HUGEINT)) AS HUGEINT) AS sx, " +
        "CAST(sum(CAST(da * da + db * db AS HUGEINT)) AS HUGEINT) AS sxx, " +
        "CAST(sum(CAST(da * db AS HUGEINT)) AS HUGEINT) AS sab FROM " +
        "(SELECT dx.deg AS da, dy.deg AS db FROM e0 " +
        "JOIN d dx ON e0.a = dx.node JOIN d dy ON e0.b = dy.node)) " +
        "SELECT n_nodes, n_edges, CAST(w2 // 2 AS BIGINT) AS n_wedges, " +
        "n_triangles, " +
        "round(3.0 * CAST(n_triangles AS DOUBLE) / " +
        "(CAST(w2 AS DOUBLE) / 2.0), 6) AS global_cc, " +
        "round((2.0 * CAST(n_edges AS DOUBLE) * " +
        "(2.0 * CAST(sab AS DOUBLE)) - " +
        "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / " +
        "(2.0 * CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
        "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS assortativity " +
        "FROM ds, st, t"),
      (s, dir) => Graph.graphSummary(
        graft.queries.AppliedQueries.copurchaseEdges(s, dir), "src", "dst")),

    // ---- per-language trimmed/winsorized n_chars means: k = ⌊n·10%⌋,
    // cut values are order statistics (data elements), DECIMAL sums, tie
    // order provably irrelevant to every output.
    Q("q301_trimmed_stats",
      Some("WITH b AS (SELECT lang, n_chars AS v FROM documents " +
        "WHERE n_chars IS NOT NULL), " +
        "r AS (SELECT lang, v, row_number() OVER " +
        "(PARTITION BY lang ORDER BY v) AS rn, " +
        "count(*) OVER (PARTITION BY lang) AS n FROM b), " +
        "k AS (SELECT lang, v, rn, n, (n * 10) // 100 AS k FROM r), " +
        "g AS (SELECT lang, max(n) AS n, max(k) AS kk, " +
        "CAST(sum(CAST(v AS DECIMAL(38,6))) AS DOUBLE) AS s_all, " +
        "CAST(sum(CASE WHEN rn > k AND rn <= n - k THEN " +
        "CAST(v AS DECIMAL(38,6)) END) AS DOUBLE) AS s_mid, " +
        "max(CASE WHEN rn = k + 1 THEN v END) AS lo_cut, " +
        "max(CASE WHEN rn = n - k THEN v END) AS hi_cut " +
        "FROM k GROUP BY 1) " +
        "SELECT lang, n, round(s_all / CAST(n AS DOUBLE), 6) AS mean, " +
        "round(s_mid / CAST(n - 2 * kk AS DOUBLE), 6) AS trimmed_mean, " +
        "round((s_mid + CAST(kk * lo_cut AS DOUBLE) + " +
        "CAST(kk * hi_cut AS DOUBLE)) / CAST(n AS DOUBLE), 6) " +
        "AS winsor_mean, lo_cut, hi_cut FROM g ORDER BY lang"),
      (s, dir) => Stats.trimmedStats(Tables.documents(s, dir), Seq("lang"),
          col("n_chars"), trimPct = 10)
        .orderBy("lang")),

    // ---- trailing 14-day volume↔revenue Pearson: daily rollup first
    // (exact counts + cents), window moments in DECIMAL(38,0), one closed
    // form per full window.
    Q("q303_rolling_corr",
      Some("WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day, " +
        "count(*) AS x, CAST(sum(CAST(round(value * 100) AS BIGINT)) " +
        "AS BIGINT) AS y FROM events WHERE value IS NOT NULL GROUP BY 1), " +
        "w AS (SELECT day, x, count(*) OVER fr AS cnt, " +
        "CAST(sum(CAST(x AS HUGEINT)) OVER fr AS DOUBLE) AS sx, " +
        "CAST(sum(CAST(y AS HUGEINT)) OVER fr AS DOUBLE) AS sy, " +
        "CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) OVER fr " +
        "AS DOUBLE) AS sxx, " +
        "CAST(sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) OVER fr " +
        "AS DOUBLE) AS syy, " +
        "CAST(sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) OVER fr " +
        "AS DOUBLE) AS sxy FROM d " +
        "WINDOW fr AS (ORDER BY day ROWS BETWEEN 13 PRECEDING " +
        "AND CURRENT ROW)), " +
        "c AS (SELECT day, x, cnt, " +
        "(14.0 * sxx - sx * sx) * (14.0 * syy - sy * sy) AS den, " +
        "14.0 * sxy - sx * sy AS num FROM w) " +
        "SELECT day, x AS n_events, " +
        "CASE WHEN den > 0.0 THEN round(num / sqrt(den), 6) END AS corr " +
        "FROM c WHERE cnt = 14 ORDER BY day"),
      (s, dir) => EventAnalytics.rollingDailyCorr(Tables.events(s, dir),
          "ts", col("value"), windowDays = 14)
        .orderBy("day")),

    // ---- Newman modularity of the nation partition over the (10%-part
    // slice of the) customer-supplier purchase graph: per-community
    // contribution (4m·e_c − d_c²)/(4m²) — exact HUGEINT/DECIMAL(38,0)
    // numerator, one IEEE division, 6dp. Σ contribution ≈ 0 would say
    // nation does not explain purchase structure.
    Q("q325_modularity",
      Some("WITH p AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) " +
        "AS a, 's' || CAST(l_suppkey AS VARCHAR) AS b FROM orders " +
        "JOIN lineitem ON l_orderkey = o_orderkey WHERE l_partkey % 10 = 0), " +
        "lab AS (SELECT 'c' || CAST(c_custkey AS VARCHAR) AS node, " +
        "'n' || CAST(c_nationkey AS VARCHAR) AS l FROM customer " +
        "UNION ALL SELECT 's' || CAST(s_suppkey AS VARCHAR), " +
        "'n' || CAST(s_nationkey AS VARCHAR) FROM supplier), " +
        "m AS (SELECT count(*) AS m FROM p), " +
        "t AS (SELECT la.l AS cla, lb.l AS clb FROM p " +
        "JOIN lab la ON p.a = la.node JOIN lab lb ON p.b = lb.node), " +
        "ein AS (SELECT cla AS community, count(*) AS e_in FROM t " +
        "WHERE cla = clb GROUP BY 1), " +
        "deg AS (SELECT node, count(*) AS deg FROM " +
        "(SELECT a AS node FROM p UNION ALL SELECT b FROM p) GROUP BY 1), " +
        "dc AS (SELECT l AS community, count(*) AS n_nodes, " +
        "CAST(sum(deg) AS HUGEINT) AS deg_sum FROM deg " +
        "JOIN lab ON deg.node = lab.node GROUP BY 1) " +
        "SELECT dc.community, n_nodes, coalesce(e_in, 0) AS e_in, " +
        "CAST(deg_sum AS BIGINT) AS deg_sum, " +
        "round(CAST(4 * CAST(m AS HUGEINT) * coalesce(e_in, 0) - " +
        "deg_sum * deg_sum AS DOUBLE) / " +
        "(4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)), 6) AS contribution " +
        "FROM dc LEFT JOIN ein USING (community), m ORDER BY community"),
      (s, dir) => {
        val pairs = Tables.orders(s, dir)
          .join(Tables.lineitem(s, dir)
            .filter(pmod(col("l_partkey"), lit(10)) === 0),
            col("l_orderkey") === col("o_orderkey"))
          .select(concat(lit("c"), col("o_custkey").cast("string")).as("src"),
            concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
        val labels = Tables.customer(s, dir)
          .select(concat(lit("c"), col("c_custkey").cast("string")).as("node"),
            concat(lit("n"), col("c_nationkey").cast("string")).as("lbl"))
          .unionByName(Tables.supplier(s, dir)
            .select(concat(lit("s"), col("s_suppkey").cast("string"))
              .as("node"),
              concat(lit("n"), col("s_nationkey").cast("string")).as("lbl")))
        graft.pipeline.Graph.modularity(pairs, "src", "dst",
            labels, "node", "lbl")
          .orderBy("community")
      }),

    // ---- HHI supplier concentration per nation market: 10000·Σ(rᵢ/R)²
    // as the exact rational 10000·Σrᵢ²/R² (HUGEINT/DECIMAL(38,0)
    // numerator, one IEEE division) plus the DOJ band.
    Q("q326_hhi",
      Some("WITH f AS (SELECT s_nationkey AS market, l_suppkey AS firm, " +
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) " +
        "AS r FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "GROUP BY 1, 2 HAVING sum(CAST(round(l_extendedprice * 100) " +
        "AS BIGINT)) > 0) " +
        "SELECT market, CAST(count(*) AS BIGINT) AS n_firms, " +
        "round(CAST(sum(r) AS BIGINT) / 100.0, 2) AS total_rev, " +
        "round(10000.0 * CAST(sum(CAST(r AS HUGEINT) * r) AS DOUBLE) / " +
        "(CAST(sum(r) AS DOUBLE) * CAST(sum(r) AS DOUBLE)), 6) AS hhi, " +
        "CASE WHEN round(10000.0 * CAST(sum(CAST(r AS HUGEINT) * r) " +
        "AS DOUBLE) / (CAST(sum(r) AS DOUBLE) * CAST(sum(r) AS DOUBLE)), 6) " +
        "< 1500 THEN 'unconcentrated' WHEN round(10000.0 * " +
        "CAST(sum(CAST(r AS HUGEINT) * r) AS DOUBLE) / " +
        "(CAST(sum(r) AS DOUBLE) * CAST(sum(r) AS DOUBLE)), 6) <= 2500 " +
        "THEN 'moderate' ELSE 'high' END AS band " +
        "FROM f GROUP BY 1 ORDER BY market"),
      (s, dir) => Finance.hhiConcentration(
          Tables.lineitem(s, dir).join(Tables.supplier(s, dir),
            col("l_suppkey") === col("s_suppkey")),
          "s_nationkey", "l_suppkey", col("l_extendedprice"))
        .orderBy("market")),

    // ---- Mann-Whitney U per linestatus: did returned lineitems ship in
    // different quantities? U and the tie term Σ(t³−t) are exact
    // HUGEINT/DECIMAL(38,0) integers; only z is IEEE, in one mirrored
    // shape, 6dp. No continuity correction (contract).
    Q("q329_mann_whitney",
      Some("WITH pv AS (SELECT l_linestatus, CAST(l_quantity AS BIGINT) " +
        "AS v, CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n1, CAST(sum(CASE WHEN l_returnflag = 'R' THEN 0 " +
        "ELSE 1 END) AS BIGINT) AS n2 FROM lineitem GROUP BY 1, 2), " +
        "w AS (SELECT l_linestatus, n1, n2, coalesce(CAST(sum(n2) OVER " +
        "(PARTITION BY l_linestatus ORDER BY v ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS b2 FROM pv), " +
        "a AS (SELECT l_linestatus, CAST(sum(n1) AS BIGINT) AS n1, " +
        "CAST(sum(n2) AS BIGINT) AS n2, " +
        "sum(CAST(n1 * (2 * b2 + n2) AS HUGEINT)) AS u2, " +
        "sum(CAST((n1 + n2) * (n1 + n2) * (n1 + n2) - (n1 + n2) " +
        "AS HUGEINT)) AS ties FROM w GROUP BY 1), " +
        "f AS (SELECT l_linestatus, n1, n2, CAST(u2 AS DOUBLE) AS u2d, " +
        "CAST(ties AS DOUBLE) AS tiesd, CAST(n1 AS DOUBLE) AS n1d, " +
        "CAST(n2 AS DOUBLE) AS n2d, CAST(n1 + n2 AS DOUBLE) AS ntot " +
        "FROM a) " +
        "SELECT l_linestatus, n1, n2, u2d / 2.0 AS u1, " +
        "CASE WHEN n1 > 0 AND n2 > 0 AND " +
        "n1d * n2d / 12.0 * ((ntot + 1.0) - tiesd / (ntot * (ntot - 1.0))) " +
        "> 0 THEN round((u2d - n1d * n2d) / (2.0 * sqrt(n1d * n2d / 12.0 " +
        "* ((ntot + 1.0) - tiesd / (ntot * (ntot - 1.0))))), 6) END AS z " +
        "FROM f ORDER BY l_linestatus"),
      (s, dir) => Stats.mannWhitney(
          Tables.lineitem(s, dir).select(col("l_linestatus"),
            col("l_returnflag"), col("l_quantity").cast("long").as("qty")),
          "qty", col("l_returnflag") === "R", Seq("l_linestatus"))
        .orderBy("l_linestatus")),

    // ---- Benjamini-Hochberg step-up over a 20-test battery with
    // deterministic rational p-values: the boundary compare stays
    // p·m·qDen <= qNum·rank (q = 3/10 rational), never a rounded
    // threshold; oracle runs the identical step-up.
    Q("q330_bh_fdr",
      Some("WITH d AS (SELECT source AS id, CAST(substr(source, 4) " +
        "AS BIGINT) AS x FROM documents GROUP BY 1), " +
        "p AS (SELECT id, CAST((x * 2654435761) % 1000003 AS DOUBLE) " +
        "/ 1000003.0 AS pv FROM d), " +
        "m AS (SELECT count(*) AS m FROM p), " +
        "r AS (SELECT id, pv, row_number() OVER (ORDER BY pv, id) " +
        "AS rank FROM p), " +
        "f AS (SELECT id, pv, rank, pv * CAST(m AS DOUBLE) * 10 <= " +
        "CAST(3 AS DOUBLE) * CAST(rank AS DOUBLE) AS ok FROM r, m), " +
        "k AS (SELECT max(CASE WHEN ok THEN rank END) AS k FROM f) " +
        "SELECT id, pv AS p_value, CAST(rank AS INTEGER) AS rank, " +
        "round(CAST(3 AS DOUBLE) * CAST(rank AS DOUBLE) / " +
        "(CAST(10 AS DOUBLE) * CAST(m AS DOUBLE)), 6) AS threshold, " +
        "coalesce(rank <= k, false) AS discovery " +
        "FROM f, m, k ORDER BY id"),
      (s, dir) => {
        val tests = Tables.documents(s, dir)
          .groupBy(col("source").as("id"))
          .agg(count(lit(1)).as("__n"))
          .withColumn("x", expr("CAST(substring(id, 4) AS BIGINT)"))
          .withColumn("pv",
            ((col("x") * lit(2654435761L)) % lit(1000003L)).cast("double") /
              lit(1000003.0))
        Stats.bhFdr(tests, "id", col("pv"), qNum = 3, qDen = 10)
          .orderBy("id")
      }),

    // ---- t-closeness over (nation-bucket, segment) QI groups vs the
    // global acctbal-bucket distribution: ordered EMD via
    // cross-multiplied integer cumulatives, one IEEE division, 6dp.
    Q("q331_t_closeness",
      Some("WITH b AS (SELECT c_nationkey % 5 AS nk, c_mktsegment AS seg, " +
        "CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS v FROM customer), " +
        "gv AS (SELECT v, CAST(count(*) AS BIGINT) AS cg FROM b GROUP BY 1), " +
        "gvc AS (SELECT v, CAST(sum(cg) OVER (ORDER BY v ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumg FROM gv), " +
        "t AS (SELECT CAST(sum(cg) AS BIGINT) AS n, count(*) AS k FROM gv), " +
        "g AS (SELECT nk, seg, CAST(count(*) AS BIGINT) AS n_rows FROM b " +
        "GROUP BY 1, 2), " +
        "c AS (SELECT nk, seg, v, CAST(count(*) AS BIGINT) AS c FROM b " +
        "GROUP BY 1, 2, 3), " +
        "cells AS (SELECT g.nk, g.seg, g.n_rows, gvc.v, gvc.cumg, " +
        "coalesce(c.c, 0) AS c FROM g CROSS JOIN gvc LEFT JOIN c " +
        "ON c.nk = g.nk AND c.seg = g.seg AND c.v = gvc.v), " +
        "cum AS (SELECT nk, seg, n_rows, cumg, CAST(sum(c) OVER " +
        "(PARTITION BY nk, seg ORDER BY v ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND CURRENT ROW) AS BIGINT) AS cumc FROM cells) " +
        "SELECT nk, seg, n_rows, " +
        "round(CAST(sum(abs(CAST(cumc * n - cumg * n_rows AS HUGEINT))) " +
        "AS DOUBLE) / (CAST(n_rows AS DOUBLE) * CAST(n AS DOUBLE) * " +
        "CAST(k - 1 AS DOUBLE)), 6) AS emd " +
        "FROM cum, t GROUP BY nk, seg, n_rows, n, k ORDER BY nk, seg"),
      (s, dir) => Stats.tCloseness(
          Tables.customer(s, dir).select(
            pmod(col("c_nationkey"), lit(5)).as("nk"),
            col("c_mktsegment").as("seg"),
            floor(col("c_acctbal") / 2000.0).cast("long").as("bal")),
          Seq("nk", "seg"), col("bal"))
        .orderBy("nk", "seg")),

    // ---- Kaplan-Meier over user lifetimes with right-censoring (active
    // in the final week = censored): product-limit as exp of a
    // DECIMAL(28,12) running ln sum; an everyone-dies duration is an
    // absorbing zero via an explicit flag, never a −∞ ln term.
    Q("q332_kaplan_meier",
      Some("WITH u AS (SELECT user_id, " +
        "min(epoch_us(ts) // 86400000000) AS f, " +
        "max(epoch_us(ts) // 86400000000) AS l FROM events GROUP BY 1), " +
        "mx AS (SELECT max(l) AS mx FROM u), " +
        "d AS (SELECT l - f AS duration, l < mx - 7 AS ev FROM u, mx), " +
        "pt AS (SELECT duration, CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_events, CAST(sum(CASE WHEN ev THEN 0 ELSE 1 END) " +
        "AS BIGINT) AS n_censored FROM d GROUP BY 1), " +
        "t AS (SELECT CAST(sum(n_events + n_censored) AS BIGINT) AS n " +
        "FROM pt), " +
        "r AS (SELECT duration, n_events, n_censored, n - " +
        "coalesce(CAST(sum(n_events + n_censored) OVER (ORDER BY duration " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) " +
        "AS n_at_risk FROM pt, t), " +
        "sv AS (SELECT duration, n_at_risk, n_events, n_censored, " +
        "CASE WHEN n_events > 0 AND n_events < n_at_risk THEN " +
        "CAST(ln(1.0 - CAST(n_events AS DOUBLE) / CAST(n_at_risk " +
        "AS DOUBLE)) AS DECIMAL(28,12)) ELSE CAST(0.0 AS DECIMAL(28,12)) " +
        "END AS term, CASE WHEN n_events = n_at_risk THEN 1 ELSE 0 END " +
        "AS dd FROM r) " +
        "SELECT duration, n_at_risk, n_events, n_censored, " +
        "round(CASE WHEN max(dd) OVER w = 1 THEN 0.0 ELSE " +
        "exp(CAST(sum(term) OVER w AS DOUBLE)) END, 6) AS survival " +
        "FROM sv WINDOW w AS (ORDER BY duration ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND CURRENT ROW) ORDER BY duration"),
      (s, dir) => {
        val u = Tables.events(s, dir)
          .select(col("user_id"), EventAnalytics.dayIndex(col("ts")).as("d"))
          .groupBy("user_id")
          .agg(min(col("d")).as("f"), max(col("d")).as("l"))
        val mx = u.agg(max(col("l")).as("mx"))
        EventAnalytics.kaplanMeier(u.crossJoin(broadcast(mx)),
            col("l") - col("f"), col("l") < col("mx") - 7)
          .orderBy("duration")
      }),

    // ---- mutual information between order priority and status: exact
    // integer cell/marginal counts, DECIMAL(28,12) ln terms (the PSI
    // discipline), min-normalized NMI.
    Q("q333_mutual_information",
      Some("WITH cells AS (SELECT o_orderpriority AS a, o_orderstatus " +
        "AS b, CAST(count(*) AS BIGINT) AS c FROM orders " +
        "WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL " +
        "GROUP BY 1, 2), " +
        "ma AS (SELECT a, CAST(sum(c) AS BIGINT) AS ca FROM cells " +
        "GROUP BY 1), " +
        "mb AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM cells " +
        "GROUP BY 1), " +
        "t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells), " +
        "mi AS (SELECT CAST(sum(CAST(CAST(c AS DOUBLE) / CAST(n AS DOUBLE) " +
        "* ln(CAST(n AS DOUBLE) * CAST(c AS DOUBLE) / (CAST(ca AS DOUBLE) " +
        "* CAST(cb AS DOUBLE))) AS DECIMAL(28,12))) AS DOUBLE) AS mi_raw " +
        "FROM cells JOIN ma USING (a) JOIN mb USING (b), t), " +
        "ha AS (SELECT CAST(sum(CAST(-(CAST(ca AS DOUBLE) / CAST(n AS " +
        "DOUBLE)) * ln(CAST(ca AS DOUBLE) / CAST(n AS DOUBLE)) AS " +
        "DECIMAL(28,12))) AS DOUBLE) AS ha FROM ma, t), " +
        "hb AS (SELECT CAST(sum(CAST(-(CAST(cb AS DOUBLE) / CAST(n AS " +
        "DOUBLE)) * ln(CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)) AS " +
        "DECIMAL(28,12))) AS DOUBLE) AS hb FROM mb, t) " +
        "SELECT n, round(mi_raw, 6) AS mi, round(ha, 6) AS h_a, " +
        "round(hb, 6) AS h_b, CASE WHEN least(ha, hb) > 0 THEN " +
        "round(mi_raw / least(ha, hb), 6) END AS nmi FROM mi, ha, hb, t"),
      (s, dir) => Stats.mutualInformation(Tables.orders(s, dir),
        col("o_orderpriority"), col("o_orderstatus"))),

    // ---- two-proportion z-test per linestatus: do returned lineitems
    // carry deep discounts (> 0.05) at a different rate? Pooled-variance
    // z, risk ratio, odds ratio — exact counts, mirrored IEEE shapes.
    Q("q334_two_proportion",
      Some("WITH a AS (SELECT l_linestatus, " +
        "CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n1, " +
        "CAST(sum(CASE WHEN l_returnflag = 'R' AND l_discount > 0.05 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS x1, " +
        "CAST(sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) " +
        "AS BIGINT) AS n2, " +
        "CAST(sum(CASE WHEN l_returnflag <> 'R' AND l_discount > 0.05 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS x2 FROM lineitem GROUP BY 1), " +
        "f AS (SELECT l_linestatus, n1, x1, n2, x2, " +
        "CAST(n1 AS DOUBLE) AS n1d, CAST(x1 AS DOUBLE) AS x1d, " +
        "CAST(n2 AS DOUBLE) AS n2d, CAST(x2 AS DOUBLE) AS x2d, " +
        "(CAST(x1 AS DOUBLE) + CAST(x2 AS DOUBLE)) / " +
        "(CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) AS pp FROM a) " +
        "SELECT l_linestatus, n1, x1, n2, x2, " +
        "CASE WHEN n1 > 0 THEN round(x1d / n1d, 6) END AS p1, " +
        "CASE WHEN n2 > 0 THEN round(x2d / n2d, 6) END AS p2, " +
        "CASE WHEN n1 > 0 AND n2 > 0 AND pp > 0 AND pp < 1 THEN " +
        "round((x1d / n1d - x2d / n2d) / sqrt(pp * (1.0 - pp) * " +
        "(1.0 / n1d + 1.0 / n2d)), 6) END AS z, " +
        "CASE WHEN n1 > 0 AND x2 > 0 THEN " +
        "round((x1d / n1d) / (x2d / n2d), 6) END AS risk_ratio, " +
        "CASE WHEN x1 > 0 AND x2 > 0 AND x1 < n1 AND x2 < n2 THEN " +
        "round(x1d * (n2d - x2d) / ((n1d - x1d) * x2d), 6) END " +
        "AS odds_ratio FROM f ORDER BY l_linestatus"),
      (s, dir) => Stats.twoProportionTest(Tables.lineitem(s, dir),
          col("l_returnflag") === "R", col("l_discount") > 0.05,
          Seq("l_linestatus"))
        .orderBy("l_linestatus"))
 ,

    // ---- Adamic-Adar link prediction over the sparse co-purchase graph:
    // non-edge pairs scored Σ 1/ln(deg z) through degree-capped common
    // neighbors (DECIMAL(28,12) terms); existing edges anti-joined out.
    Q("q336_adamic_adar",
      Some("WITH " + AppliedQueries.copurchaseEdgesSql + ", " +
        "deg AS (SELECT node, count(*) AS deg FROM (SELECT a AS node " +
        "FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1), " +
        "adj AS (SELECT a AS z, b AS x FROM e0 " +
        "UNION ALL SELECT b, a FROM e0), " +
        "az AS (SELECT adj.z, adj.x, deg FROM adj JOIN deg " +
        "ON adj.z = deg.node WHERE deg >= 2 AND deg <= 1000), " +
        "p AS (SELECT l.x AS a, r.x AS b, l.deg FROM az l JOIN az r " +
        "ON l.z = r.z AND l.x < r.x), " +
        "sc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS common_neighbors, " +
        "CAST(sum(CAST(1.0 / ln(CAST(deg AS DOUBLE)) AS DECIMAL(28,12))) " +
        "AS DOUBLE) AS aa FROM p GROUP BY 1, 2), " +
        "f AS (SELECT sc.* FROM sc WHERE NOT EXISTS (SELECT 1 FROM e0 " +
        "WHERE e0.a = sc.a AND e0.b = sc.b)) " +
        "SELECT a, b, common_neighbors, round(aa, 6) AS aa_score FROM f " +
        "ORDER BY aa_score DESC, a, b LIMIT 20"),
      (s, dir) => Graph.adamicAdar(AppliedQueries.copurchaseEdges(s, dir),
          "src", "dst", maxDegree = 1000)
        .orderBy(col("aa_score").desc, col("a").asc, col("b").asc)
        .limit(20)),

    // ---- WOE/IV over quantity-decade bins vs the returned flag: woe is
    // one ln of an exact integer ratio, IV terms are DECIMAL(28,12)
    // (PSI's sibling); zero-good/zero-bad bins report null and are
    // excluded from IV by contract.
    Q("q337_woe_iv",
      Some("WITH b AS (SELECT CAST(l_quantity AS BIGINT) // 10 AS bin, " +
        "CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_good, " +
        "CAST(sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) " +
        "AS BIGINT) AS n_bad FROM lineitem GROUP BY 1), " +
        "t AS (SELECT CAST(sum(n_good) AS BIGINT) AS g, " +
        "CAST(sum(n_bad) AS BIGINT) AS bb FROM b), " +
        "f AS (SELECT bin, n_good, n_bad, " +
        "CASE WHEN n_good > 0 AND n_bad > 0 THEN " +
        "ln(CAST(n_good AS DOUBLE) * CAST(bb AS DOUBLE) / " +
        "(CAST(n_bad AS DOUBLE) * CAST(g AS DOUBLE))) END AS lnr, " +
        "CASE WHEN n_good > 0 AND n_bad > 0 THEN " +
        "CAST((CAST(n_good AS DOUBLE) / CAST(g AS DOUBLE) - " +
        "CAST(n_bad AS DOUBLE) / CAST(bb AS DOUBLE)) * " +
        "ln(CAST(n_good AS DOUBLE) * CAST(bb AS DOUBLE) / " +
        "(CAST(n_bad AS DOUBLE) * CAST(g AS DOUBLE))) AS DECIMAL(28,12)) " +
        "END AS iv FROM b, t) " +
        "SELECT bin, n_good, n_bad, round(lnr, 6) AS woe, " +
        "round(CAST(iv AS DOUBLE), 6) AS iv_term, " +
        "round(CAST(sum(iv) OVER () AS DOUBLE), 6) AS iv_total " +
        "FROM f ORDER BY bin"),
      (s, dir) => Stats.woeIv(Tables.lineitem(s, dir),
          expr("CAST(l_quantity AS BIGINT) div 10"),
          col("l_returnflag") === "R")
        .orderBy("bin"))
 ,

    // ---- skew-safe salted join (q44's join-side sibling): build side
    // replicated 8x, probe salted by a row hash — the result is EXACTLY
    // the plain join, which is what the oracle runs; the salt only
    // re-routes rows.
    Q("q341_salted_join",
      Some("SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(24,6))) AS DOUBLE) " +
        "AS revenue FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "GROUP BY 1 ORDER BY 1"),
      (s, dir) => Ops.saltedJoin(
          Tables.lineitem(s, dir).withColumnRenamed("l_suppkey", "s_suppkey"),
          Tables.supplier(s, dir), Seq("s_suppkey"),
          xxhash64(col("l_orderkey"), col("l_linenumber")), saltBuckets = 8)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(24,6)")).cast("double")
            .as("revenue"))
        .orderBy("s_nationkey")),

    // ---- exact weighted quantiles (quantity-weighted price deciles per
    // returnflag): the crossing test is cross-multiplied integers
    // (w·den >= num·W), never a float threshold; values pre-rounded to
    // whole dollars to bound the per-group window (the rocAuc contract).
    Q("q342_weighted_quantiles",
      Some("WITH pv AS (SELECT l_returnflag, " +
        "CAST(round(l_extendedprice) AS BIGINT) AS v, " +
        "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w " +
        "FROM lineitem WHERE l_quantity > 0 GROUP BY 1, 2), " +
        "c AS (SELECT l_returnflag, v, CAST(sum(w) OVER (PARTITION BY " +
        "l_returnflag ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        "CURRENT ROW) AS BIGINT) AS cum, CAST(sum(w) OVER (PARTITION BY " +
        "l_returnflag) AS BIGINT) AS total_weight FROM pv), " +
        "q AS (SELECT * FROM (VALUES (1, 2), (9, 10)) t(q_num, q_den)) " +
        "SELECT l_returnflag, q_num, q_den, min(v) AS value, total_weight " +
        "FROM c, q WHERE cum * q_den >= q_num * total_weight " +
        "GROUP BY l_returnflag, q_num, q_den, total_weight " +
        "ORDER BY l_returnflag, q_num, q_den"),
      (s, dir) => Ops.weightedQuantiles(
          Tables.lineitem(s, dir)
            .select(col("l_returnflag"),
              round(col("l_extendedprice")).cast("long").as("price"),
              col("l_quantity")),
          Seq("l_returnflag"), "price", col("l_quantity"),
          qs = Seq(1 -> 2, 9 -> 10))
        .orderBy("l_returnflag", "q_num", "q_den"))
 ,

    // ---- beta-binomial empirical-Bayes shrinkage of per-supplier return
    // rates: MoM prior from DECIMAL(28,12) moment sums, posterior mean
    // (x+α)/(n+α+β) in one mirrored IEEE shape.
    Q("q343_empirical_bayes",
      Some("WITH pk AS (SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) " +
        "AS n, CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS x FROM lineitem GROUP BY 1), " +
        "pr AS (SELECT key, n, x, CAST(x AS DOUBLE) / CAST(n AS DOUBLE) " +
        "AS rr FROM pk), " +
        "mom AS (SELECT count(*) AS k, " +
        "CAST(sum(CAST(rr AS DECIMAL(28,12))) AS DOUBLE) AS s1, " +
        "CAST(sum(CAST(rr * rr AS DECIMAL(28,12))) AS DOUBLE) AS s2 " +
        "FROM pr WHERE n >= 10), " +
        "mv AS (SELECT k, s1 / CAST(k AS DOUBLE) AS m, " +
        "s2 / CAST(k AS DOUBLE) - (s1 / CAST(k AS DOUBLE)) * " +
        "(s1 / CAST(k AS DOUBLE)) AS v FROM mom), " +
        "sc AS (SELECT k, m, v, m * (1.0 - m) / v - 1.0 AS s, " +
        "k >= 2 AND v > 0 AND v < m * (1.0 - m) AS ok FROM mv) " +
        "SELECT key, n, x, round(rr, 6) AS raw_rate, " +
        "CASE WHEN ok THEN round(m * s, 6) END AS alpha, " +
        "CASE WHEN ok THEN round((1.0 - m) * s, 6) END AS beta, " +
        "CASE WHEN ok THEN round((CAST(x AS DOUBLE) + m * s) / " +
        "(CAST(n AS DOUBLE) + m * s + (1.0 - m) * s), 6) " +
        "ELSE round(rr, 6) END AS shrunk_rate " +
        "FROM pr, sc ORDER BY key"),
      (s, dir) => Stats.empiricalBayesRates(Tables.lineitem(s, dir),
          "l_suppkey", col("l_returnflag") === "R", minTrials = 10L)
        .orderBy("key")),

    // ---- stratified nearest-control propensity matching (with
    // replacement): canonical control per (stratum, score) kills tie
    // leakage, the as-of nearest election breaks distance ties backward,
    // caliper 5 score buckets; the oracle replays the same election.
    Q("q344_propensity_match",
      Some("WITH o AS (SELECT o_custkey, CAST(sum(CAST(round(" +
        "o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents FROM orders " +
        "GROUP BY 1), " +
        "b AS (SELECT c_nationkey % 5 AS stratum, c_custkey AS id, " +
        "c_mktsegment = 'BUILDING' AS tr, " +
        "CAST(floor(c_acctbal / 100.0) AS BIGINT) AS score, " +
        "CAST(coalesce(cents, 0) AS DOUBLE) AS outcome FROM customer " +
        "LEFT JOIN o ON o_custkey = c_custkey), " +
        "ctl AS (SELECT stratum, score AS ctl_score, min(id) AS ctl_id " +
        "FROM b WHERE NOT tr GROUP BY 1, 2), " +
        "ctlo AS (SELECT ctl.stratum, ctl.ctl_score, ctl.ctl_id, " +
        "b.outcome AS ctl_outcome FROM ctl JOIN b ON b.stratum = " +
        "ctl.stratum AND b.id = ctl.ctl_id), " +
        "tr AS (SELECT stratum, id, score, outcome FROM b WHERE tr), " +
        "cand AS (SELECT tr.stratum, tr.id, tr.score, tr.outcome, " +
        "c.ctl_id, c.ctl_score, c.ctl_outcome, row_number() OVER " +
        "(PARTITION BY tr.stratum, tr.id ORDER BY " +
        "abs(tr.score - c.ctl_score), CASE WHEN c.ctl_score <= tr.score " +
        "THEN 0 ELSE 1 END) AS rn FROM tr JOIN ctlo c " +
        "ON c.stratum = tr.stratum) " +
        "SELECT stratum, id, score, outcome, ctl_id, ctl_score, " +
        "ctl_outcome FROM cand WHERE rn = 1 AND " +
        "abs(score - ctl_score) <= 5 ORDER BY stratum, id"),
      (s, dir) => {
        val spend = Tables.orders(s, dir)
          .groupBy("o_custkey")
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .as("cents"))
        val cust = Tables.customer(s, dir)
          .join(spend, col("o_custkey") === col("c_custkey"), "left")
          .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"),
            col("c_acctbal"),
            coalesce(col("cents"), lit(0L)).cast("double").as("outcome"))
        Stats.propensityMatch(cust, "c_custkey",
            col("c_mktsegment") === "BUILDING",
            floor(col("c_acctbal") / 100.0).cast("long"), col("outcome"),
            pmod(col("c_nationkey"), lit(5)), caliper = 5L)
          .orderBy("stratum", "id")
      }),

    // ---- sample-ratio-mismatch gate per event type on the user_id % 2
    // split: exact counts, one-df chi-square vs the designed 1/2,
    // flagged at the standard 10.828 threshold.
    Q("q345_srm_check",
      Some("WITH a AS (SELECT event_type, " +
        "CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n1, CAST(sum(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END) " +
        "AS BIGINT) AS n2 FROM events GROUP BY 1), " +
        "f AS (SELECT event_type, n1, n2, " +
        "CAST(n1 + n2 AS DOUBLE) AS tot, CAST(n1 AS DOUBLE) AS n1d, " +
        "CAST(n2 AS DOUBLE) AS n2d FROM a) " +
        "SELECT event_type, n1, n2, round(tot * 1 / 2, 6) AS expected1, " +
        "CASE WHEN tot > 0 THEN round((n1d - tot * 1 / 2) * " +
        "(n1d - tot * 1 / 2) / (tot * 1 / 2) + " +
        "(n2d - (tot - tot * 1 / 2)) * (n2d - (tot - tot * 1 / 2)) / " +
        "(tot - tot * 1 / 2), 6) END AS chi2, " +
        "CASE WHEN tot > 0 THEN (n1d - tot * 1 / 2) * (n1d - tot * 1 / 2) " +
        "/ (tot * 1 / 2) + (n2d - (tot - tot * 1 / 2)) * " +
        "(n2d - (tot - tot * 1 / 2)) / (tot - tot * 1 / 2) > 10.828 END " +
        "AS srm FROM f ORDER BY event_type"),
      (s, dir) => Stats.srmCheck(Tables.events(s, dir),
          pmod(col("user_id"), lit(2L)) === 0, Seq("event_type"))
        .orderBy("event_type"))
 ,

    // ---- 2-round 3-truss of the sparse co-purchase graph: per-edge
    // triangle support via the degree-oriented enumeration, edges below
    // support 2 peel each round; the oracle unrolls the same rounds
    // (MATERIALIZED, the q156 lesson).
    Q("q347_ktruss",
      Some("WITH " + AppliedQueries.copurchaseEdgesSql + ", " +
        "r1t AS MATERIALIZED (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e0 e1 JOIN e0 e2 ON e1.a = e2.a AND e1.b < e2.b JOIN e0 e3 ON e3.a = e1.b AND e3.b = e2.b), r1s AS MATERIALIZED (SELECT a, b, CAST(count(*) AS BIGINT) AS support FROM (SELECT x AS a, y AS b FROM r1t UNION ALL SELECT x, z FROM r1t UNION ALL SELECT y, z FROM r1t) GROUP BY 1, 2), e1x AS MATERIALIZED (SELECT e.a, e.b, coalesce(s.support, 0) AS support FROM e0 e LEFT JOIN r1s s ON e.a = s.a AND e.b = s.b WHERE coalesce(s.support, 0) >= 1), r2t AS MATERIALIZED (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e1x e1 JOIN e1x e2 ON e1.a = e2.a AND e1.b < e2.b JOIN e1x e3 ON e3.a = e1.b AND e3.b = e2.b), r2s AS MATERIALIZED (SELECT a, b, CAST(count(*) AS BIGINT) AS support FROM (SELECT x AS a, y AS b FROM r2t UNION ALL SELECT x, z FROM r2t UNION ALL SELECT y, z FROM r2t) GROUP BY 1, 2), e2x AS MATERIALIZED (SELECT e.a, e.b, coalesce(s.support, 0) AS support FROM e1x e LEFT JOIN r2s s ON e.a = s.a AND e.b = s.b WHERE coalesce(s.support, 0) >= 1) " +
        "SELECT a, b, support FROM e2x ORDER BY a, b"),
      (s, dir) => Graph.kTruss(AppliedQueries.copurchaseEdges(s, dir),
          "src", "dst", k = 3, rounds = 2)
        .orderBy("a", "b")),

    // ---- temporal-split recommender eval: train-period spend ranking
    // scored against last-quarter purchases — per-customer precision@5 /
    // recall@5 / hit@5 with truth-side zero rows (no survivorship bias).
    Q("q348_ranking_at_k",
      Some("WITH li AS (SELECT o_custkey AS u, l_partkey AS i, " +
        "epoch_us(l_shipdate) // 86400000000 AS day, " +
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS cents " +
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey), " +
        "mm AS (SELECT min(day) AS mn, max(day) AS mx FROM li), " +
        "sp AS (SELECT mn + ((mx - mn) * 3) // 4 AS cut FROM mm), " +
        "tr AS (SELECT u, i, CAST(sum(cents) AS BIGINT) AS spend " +
        "FROM li, sp WHERE day < cut GROUP BY 1, 2), " +
        "rk AS (SELECT u, i, row_number() OVER (PARTITION BY u " +
        "ORDER BY spend DESC, i) AS rank FROM tr), " +
        "tt AS (SELECT DISTINCT u, i FROM li, sp WHERE day >= cut), " +
        "nt AS (SELECT u AS query, CAST(count(*) AS BIGINT) AS n_truth " +
        "FROM tt GROUP BY 1), " +
        "h AS (SELECT rk.u AS query, CAST(count(*) AS BIGINT) AS hits " +
        "FROM rk JOIN tt ON rk.u = tt.u AND rk.i = tt.i WHERE rank <= 5 " +
        "GROUP BY 1) " +
        "SELECT query, n_truth, coalesce(hits, 0) AS hits, " +
        "round(CAST(coalesce(hits, 0) AS DOUBLE) / 5, 6) " +
        "AS precision_at_k, round(CAST(coalesce(hits, 0) AS DOUBLE) / " +
        "CAST(n_truth AS DOUBLE), 6) AS recall_at_k, " +
        "coalesce(hits, 0) > 0 AS hit " +
        "FROM nt LEFT JOIN h USING (query) ORDER BY query"),
      (s, dir) => {
        val li = Tables.orders(s, dir)
          .join(Tables.lineitem(s, dir),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("u"), col("l_partkey").as("i"),
            EventAnalytics.dayIndex(col("l_shipdate")).as("day"),
            round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
        val cut = li.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
          .select(expr("mn + ((mx - mn) * 3) div 4").as("cut"))
        val withCut = li.crossJoin(broadcast(cut))
        val ranked = withCut.filter(col("day") < col("cut"))
          .groupBy("u", "i").agg(sum(col("cents")).as("spend"))
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
              .orderBy(col("spend").desc, col("i").asc)))
        val truth = withCut.filter(col("day") >= col("cut"))
          .select(col("u"), col("i")).distinct()
        Stats.rankingMetricsAtK(ranked, "u", "i", col("rank"),
            truth, "u", "i", k = 5)
          .orderBy("query")
      })
 ,

    // ---- k-anonymity generalization ladder over customer QI levels
    // (fine -> coarse): the audit table a privacy review reads to pick
    // the minimal sufficient coarsening; exact counts per level.
    Q("q349_generalization_ladder",
      Some("WITH l0 AS (SELECT count(*) AS n FROM customer GROUP BY " +
        "c_nationkey, c_mktsegment, floor(c_acctbal / 1000.0)), " +
        "l1 AS (SELECT count(*) AS n FROM customer GROUP BY c_nationkey, " +
        "c_mktsegment), " +
        "l2 AS (SELECT count(*) AS n FROM customer GROUP BY c_mktsegment), " +
        "a0 AS (SELECT 0 AS level, count(*) AS n_groups, " +
        "CAST(min(n) AS BIGINT) AS min_group, CAST(coalesce(sum(CASE WHEN " +
        "n < 25 THEN n END), 0) AS BIGINT) AS rows_at_risk FROM l0), " +
        "a1 AS (SELECT 1, count(*), CAST(min(n) AS BIGINT), " +
        "CAST(coalesce(sum(CASE WHEN n < 25 THEN n END), 0) AS BIGINT) " +
        "FROM l1), " +
        "a2 AS (SELECT 2, count(*), CAST(min(n) AS BIGINT), " +
        "CAST(coalesce(sum(CASE WHEN n < 25 THEN n END), 0) AS BIGINT) " +
        "FROM l2) " +
        "SELECT level, n_groups, min_group, rows_at_risk, " +
        "min_group >= 25 AS satisfies_k FROM " +
        "(SELECT * FROM a0 UNION ALL SELECT * FROM a1 " +
        "UNION ALL SELECT * FROM a2) ORDER BY level"),
      (s, dir) => Stats.generalizationLadder(Tables.customer(s, dir),
          Seq(Seq(col("c_nationkey"), col("c_mktsegment"),
              floor(col("c_acctbal") / 1000.0)),
            Seq(col("c_nationkey"), col("c_mktsegment")),
            Seq(col("c_mktsegment"))), k = 25)
        .orderBy("level")),

    // ---- restricted mean survival time at τ=20 days over the q332
    // lifetimes: the KM step-function integral with DECIMAL(28,12)
    // rectangle terms; the oracle extends q332's unrolled curve.
    Q("q350_rmst",
      Some("WITH u AS (SELECT user_id, min(epoch_us(ts) // 86400000000) AS f, ma" +
        "x(epoch_us(ts) // 86400000000) AS l FROM events GROUP BY 1), mx AS (" +
        "SELECT max(l) AS mx FROM u), d AS (SELECT l - f AS duration, l < mx " +
        "- 7 AS ev FROM u, mx), pt AS (SELECT duration, CAST(sum(CASE WHEN ev" +
        " THEN 1 ELSE 0 END) AS BIGINT) AS n_events, CAST(sum(CASE WHEN ev TH" +
        "EN 0 ELSE 1 END) AS BIGINT) AS n_censored FROM d GROUP BY 1), t AS (" +
        "SELECT CAST(sum(n_events + n_censored) AS BIGINT) AS n FROM pt), r A" +
        "S (SELECT duration, n_events, n_censored, n - coalesce(CAST(sum(n_ev" +
        "ents + n_censored) OVER (ORDER BY duration ROWS BETWEEN UNBOUNDED PR" +
        "ECEDING AND 1 PRECEDING) AS BIGINT), 0) AS n_at_risk FROM pt, t), sv" +
        " AS (SELECT duration, n_at_risk, n_events, n_censored, CASE WHEN n_e" +
        "vents > 0 AND n_events < n_at_risk THEN CAST(ln(1.0 - CAST(n_events " +
        "AS DOUBLE) / CAST(n_at_risk AS DOUBLE)) AS DECIMAL(28,12)) ELSE CAST" +
        "(0.0 AS DECIMAL(28,12)) END AS term, CASE WHEN n_events = n_at_risk " +
        "THEN 1 ELSE 0 END AS dd FROM r), km AS (SELECT duration, n_at_risk, " +
        "n_events, n_censored, round(CASE WHEN max(dd) OVER w = 1 THEN 0.0 EL" +
        "SE exp(CAST(sum(term) OVER w AS DOUBLE)) END, 6) AS survival FROM sv" +
        " WINDOW w AS (ORDER BY duration ROWS BETWEEN UNBOUNDED PRECEDING AND" +
        " CURRENT ROW)), seg AS (SELECT duration, survival, coalesce(lag(dura" +
        "tion) OVER (ORDER BY duration), 0) AS ptd, coalesce(lag(survival) OV" +
        "ER (ORDER BY duration), 1.0) AS ps FROM km), body AS (SELECT sum(CAS" +
        "T(ps * CAST(greatest(least(duration, 20) - least(ptd, 20), 0) AS DOU" +
        "BLE) AS DECIMAL(28,12))) AS b FROM seg), tl AS (SELECT CAST(CAST(20 " +
        "- least(duration, 20) AS DOUBLE) * survival AS DECIMAL(28,12)) AS tt" +
        " FROM km ORDER BY duration DESC LIMIT 1), ns AS (SELECT CAST(sum(n_e" +
        "vents + n_censored) AS BIGINT) AS nsub FROM km) SELECT CAST(20 AS BI" +
        "GINT) AS tau, nsub AS n_subjects, round(CAST(b + tt AS DOUBLE), 6) A" +
        "S rmst FROM body, tl, ns"),
      (s, dir) => {
        val u = Tables.events(s, dir)
          .select(col("user_id"), EventAnalytics.dayIndex(col("ts")).as("d"))
          .groupBy("user_id")
          .agg(min(col("d")).as("f"), max(col("d")).as("l"))
        val mx = u.agg(max(col("l")).as("mx"))
        EventAnalytics.restrictedMeanSurvival(u.crossJoin(broadcast(mx)),
          col("l") - col("f"), col("l") < col("mx") - 7, tau = 20L)
      })
 ,

    // ---- frequent contiguous 3-event sequences by distinct-user support
    // (the one-window PrefixSpan restriction, documented): lead() runs
    // per user, support counts users not occurrences.
    Q("q351_frequent_sequences",
      Some("WITH e AS (SELECT user_id AS u, event_type AS t, " +
        "lead(event_type, 1) OVER w AS t1, lead(event_type, 2) OVER w " +
        "AS t2 FROM events WINDOW w AS (PARTITION BY user_id " +
        "ORDER BY epoch_us(ts), event_id)), " +
        "sq AS (SELECT DISTINCT u, t || '>' || t1 || '>' || t2 AS sequence " +
        "FROM e WHERE t1 IS NOT NULL AND t2 IS NOT NULL) " +
        "SELECT sequence, CAST(count(*) AS BIGINT) AS support FROM sq " +
        "GROUP BY 1 HAVING count(*) >= 5 " +
        "ORDER BY support DESC, sequence LIMIT 25"),
      (s, dir) => EventAnalytics.frequentSequences(Tables.events(s, dir),
          "user_id", "ts", "event_id", "event_type", n = 3, minSupport = 5L)
        .orderBy(col("support").desc, col("sequence").asc).limit(25)),

    // ---- shoelace polygon areas over a deterministic vertex relation:
    // doubled area is an exact BIGINT (integer coords), /2 is the only
    // float step, orientation is an integer sign test.
    Q("q352_polygon_area",
      Some("WITH v AS (SELECT s_suppkey % 20 AS poly, s_suppkey AS seq, " +
        "CAST(s_suppkey % 97 AS BIGINT) AS x, " +
        "CAST((s_suppkey * 7) % 89 AS BIGINT) AS y FROM supplier), " +
        "n AS (SELECT poly, seq, x, y, " +
        "coalesce(lead(x) OVER w, first_value(x) OVER w2) AS xn, " +
        "coalesce(lead(y) OVER w, first_value(y) OVER w2) AS yn FROM v " +
        "WINDOW w AS (PARTITION BY poly ORDER BY seq), " +
        "w2 AS (PARTITION BY poly ORDER BY seq ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND UNBOUNDED FOLLOWING)) " +
        "SELECT poly AS polygon, CAST(count(*) AS BIGINT) AS n_vertices, " +
        "CAST(abs(sum(x * yn - xn * y)) AS BIGINT) AS area2, " +
        "CAST(CAST(abs(sum(x * yn - xn * y)) AS BIGINT) AS DOUBLE) / 2.0 " +
        "AS area, sum(x * yn - xn * y) > 0 AS ccw " +
        "FROM n GROUP BY 1 ORDER BY polygon"),
      (s, dir) => {
        val v = Tables.supplier(s, dir).select(
          pmod(col("s_suppkey"), lit(20L)).as("poly"),
          col("s_suppkey").as("seq"),
          pmod(col("s_suppkey"), lit(97L)).as("x"),
          pmod(col("s_suppkey") * 7, lit(89L)).as("y"))
        Spatial.polygonArea(v, "poly", col("seq"), col("x"), col("y"))
          .orderBy("polygon")
      })
 ,

    // ---- OHLC + VWAP daily bars per synthetic ticker: open/close elect
    // by (ts, tie) — l_shipdate is a pure DATE, so within a (key, day)
    // bucket the timestamp is constant and the oracle's arg_min/arg_max
    // on the unique tie alone is the identical election; VWAP is the
    // exact rational Σ(cents·qty)/Σqty.
    Q("q355_daily_bars",
      Some("WITH t AS (SELECT l_suppkey % 25 AS key, " +
        "epoch_us(l_shipdate) // 86400000000 AS day, " +
        "l_orderkey * 10000000 + l_linenumber * 1000000 + l_suppkey AS tie, " +
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS c, " +
        "CAST(l_quantity AS BIGINT) AS q FROM lineitem), " +
        "b AS (SELECT key, day, arg_min(c, tie) AS o, max(c) AS h, " +
        "min(c) AS l, arg_max(c, tie) AS cl, CAST(sum(q) AS BIGINT) " +
        "AS volume, sum(CAST(c AS HUGEINT) * q) AS notional " +
        "FROM t GROUP BY 1, 2) " +
        "SELECT key, day, round(o / 100.0, 2) AS open, " +
        "round(h / 100.0, 2) AS high, round(l / 100.0, 2) AS low, " +
        "round(cl / 100.0, 2) AS close, volume, " +
        "CAST((2 * notional * 10000 + volume) // (2 * volume) AS DOUBLE) " +
        "/ 1000000.0 AS vwap FROM b WHERE key = 7 ORDER BY key, day"),
      (s, dir) => Finance.dailyBars(
          Tables.lineitem(s, dir)
            .withColumn("ticker", pmod(col("l_suppkey"), lit(25L))),
          "ticker", "l_shipdate",
          col("l_orderkey") * 10000000 + col("l_linenumber") * 1000000 +
            col("l_suppkey"),
          col("l_extendedprice"), col("l_quantity"))
        .filter(col("key") === 7)
        .orderBy("key", "day")),

    // ---- own-price demand elasticity per brand: the log-log OLS slope
    // of ln(qty) on ln(unit price) via linearFit's decimal-moment
    // discipline (magnitudes tiny, contract trivially honored).
    Q("q356_price_elasticity",
      Some("WITH b AS (SELECT p_brand, " +
        "ln(l_extendedprice / l_quantity) AS x, ln(l_quantity) AS y " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE l_quantity > 0), " +
        "g AS (SELECT p_brand, count(*) AS n, " +
        "CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx, " +
        "CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy, " +
        "CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx, " +
        "CAST(sum(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy, " +
        "CAST(sum(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy " +
        "FROM b GROUP BY 1), " +
        "v AS (SELECT p_brand, n, CAST(n AS DOUBLE) AS nd, sx, sy, " +
        "CAST(n AS DOUBLE) * sxy - sx * sy AS covn, " +
        "CAST(n AS DOUBLE) * sxx - sx * sx AS varxn, " +
        "CAST(n AS DOUBLE) * syy - sy * sy AS varyn FROM g) " +
        "SELECT p_brand, n, " +
        "round(CASE WHEN varxn <> 0 THEN covn / varxn END, 6) AS slope, " +
        "round((sy - (CASE WHEN varxn <> 0 THEN covn / varxn END) * sx) " +
        "/ nd, 6) AS intercept, " +
        "round(CASE WHEN varxn <> 0 AND varyn <> 0 " +
        "THEN covn * covn / (varxn * varyn) END, 6) AS r2 " +
        "FROM v ORDER BY p_brand"),
      (s, dir) => Stats.linearFit(
          Tables.lineitem(s, dir)
            .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
            .filter(col("l_quantity") > 0),
          Seq("p_brand"),
          log(col("l_extendedprice") / col("l_quantity")),
          log(col("l_quantity")))
        .orderBy("p_brand"))
 ,

    // ---- Theil-T supplier-revenue inequality by nation with the exact
    // between/within decomposition: x·ln x terms in DECIMAL(28,12),
    // group and global sums exact, mirrored IEEE finishing shapes.
    Q("q357_theil_decomposition",
      Some("WITH sup AS (SELECT l_suppkey AS sk, CAST(sum(CAST(round(" +
        "l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        "FROM lineitem GROUP BY 1), " +
        "b AS (SELECT s_nationkey AS grp, CAST(cents AS DOUBLE) / 100.0 " +
        "AS x FROM sup JOIN supplier ON sk = s_suppkey " +
        "WHERE CAST(cents AS DOUBLE) / 100.0 > 0), " +
        "g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n, " +
        "sum(CAST(x AS DECIMAL(28,12))) AS sg, " +
        "sum(CAST(x * ln(x) AS DECIMAL(28,12))) AS sxl FROM b GROUP BY 1), " +
        "t AS (SELECT CAST(sum(n) AS BIGINT) AS nn, sum(sg) AS xx FROM g) " +
        "SELECT grp AS \"group\", n, round(CAST(sg AS DOUBLE), 6) " +
        "AS total, round(CAST(sg AS DOUBLE) / CAST(xx AS DOUBLE), 6) " +
        "AS share, round(CAST(sxl AS DOUBLE) / CAST(sg AS DOUBLE) + " +
        "ln(CAST(n AS DOUBLE) / CAST(sg AS DOUBLE)), 6) AS theil_within, " +
        "round(CAST(sg AS DOUBLE) / CAST(xx AS DOUBLE) * " +
        "ln(CAST(sg AS DOUBLE) / CAST(xx AS DOUBLE) * CAST(nn AS DOUBLE) " +
        "/ CAST(n AS DOUBLE)), 6) AS between_term " +
        "FROM g, t ORDER BY 1"),
      (s, dir) => {
        val sup = Tables.lineitem(s, dir)
          .groupBy(col("l_suppkey"))
          .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
            .as("cents"))
          .join(Tables.supplier(s, dir),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("s_nationkey"),
            (col("cents").cast("double") / 100.0).as("rev"))
        Stats.theilDecomposition(sup, "s_nationkey", col("rev"))
          .withColumnRenamed("group", "group")
          .orderBy("group")
      }),

    // ---- Nelson-Aalen cumulative hazard over the q332 lifetime fixture:
    // KM's additive sibling — per-duration d/n and d/n² terms round to
    // DECIMAL(28,12) before the running sums (order-independent), 6dp.
    Q("q361_nelson_aalen",
      Some("WITH u AS (SELECT user_id, " +
        "min(epoch_us(ts) // 86400000000) AS f, " +
        "max(epoch_us(ts) // 86400000000) AS l FROM events GROUP BY 1), " +
        "mx AS (SELECT max(l) AS mx FROM u), " +
        "d AS (SELECT l - f AS duration, l < mx - 7 AS ev FROM u, mx), " +
        "pt AS (SELECT duration, CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_events, CAST(sum(CASE WHEN ev THEN 0 ELSE 1 END) " +
        "AS BIGINT) AS n_censored FROM d GROUP BY 1), " +
        "t AS (SELECT CAST(sum(n_events + n_censored) AS BIGINT) AS n " +
        "FROM pt), " +
        "r AS (SELECT duration, n_events, n_censored, n - " +
        "coalesce(CAST(sum(n_events + n_censored) OVER (ORDER BY duration " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) " +
        "AS n_at_risk FROM pt, t), " +
        "s AS (SELECT duration, n_at_risk, n_events, n_censored, " +
        "CAST(CAST(n_events AS DOUBLE) / CAST(n_at_risk AS DOUBLE) " +
        "AS DECIMAL(28,12)) AS term, " +
        "CAST(CAST(n_events AS DOUBLE) / CAST(n_at_risk * n_at_risk " +
        "AS DOUBLE) AS DECIMAL(28,12)) AS vterm FROM r) " +
        "SELECT duration, n_at_risk, n_events, n_censored, " +
        "round(CAST(sum(term) OVER w AS DOUBLE), 6) AS cum_hazard, " +
        "round(CAST(sum(vterm) OVER w AS DOUBLE), 6) AS var_hazard " +
        "FROM s WINDOW w AS (ORDER BY duration ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND CURRENT ROW) ORDER BY duration"),
      (s, dir) => {
        val u = Tables.events(s, dir)
          .select(col("user_id"), EventAnalytics.dayIndex(col("ts")).as("d"))
          .groupBy("user_id")
          .agg(min(col("d")).as("f"), max(col("d")).as("l"))
        val mx = u.agg(max(col("l")).as("mx"))
        EventAnalytics.nelsonAalen(u.crossJoin(broadcast(mx)),
            col("l") - col("f"), col("l") < col("mx") - 7)
          .orderBy("duration")
      }),

    // ---- two-group log-rank (Mantel-Cox) between even/odd users over the
    // same censored lifetimes: exact integer risk sets off ONE duration
    // rollup, E/V terms in DECIMAL(28,12), one fixed-shape χ².
    Q("q362_logrank",
      Some("WITH u AS (SELECT user_id, " +
        "min(epoch_us(ts) // 86400000000) AS f, " +
        "max(epoch_us(ts) // 86400000000) AS l FROM events GROUP BY 1), " +
        "mx AS (SELECT max(l) AS mx FROM u), " +
        "d AS (SELECT l - f AS duration, l < mx - 7 AS ev, " +
        "user_id % 2 = 0 AS a FROM u, mx), " +
        "pt AS (SELECT duration, " +
        "CAST(sum(CASE WHEN a AND ev THEN 1 ELSE 0 END) AS BIGINT) AS da, " +
        "CAST(sum(CASE WHEN NOT a AND ev THEN 1 ELSE 0 END) AS BIGINT) AS db, " +
        "CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ta, " +
        "CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS tb " +
        "FROM d GROUP BY 1), " +
        "tt AS (SELECT CAST(sum(ta) AS BIGINT) AS na0, " +
        "CAST(sum(tb) AS BIGINT) AS nb0 FROM pt), " +
        "r AS (SELECT *, na0 - coalesce(CAST(sum(ta) OVER wp AS BIGINT), 0) " +
        "AS na, nb0 - coalesce(CAST(sum(tb) OVER wp AS BIGINT), 0) AS nb " +
        "FROM pt, tt WINDOW wp AS (ORDER BY duration ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND 1 PRECEDING)), " +
        "k AS (SELECT na0, nb0, da, db, na, nb, na + nb AS nt, " +
        "da + db AS dt FROM r), " +
        "terms AS (SELECT na0, nb0, da, db, " +
        "CAST(CAST(dt AS DOUBLE) * CAST(na AS DOUBLE) / CAST(nt AS DOUBLE) " +
        "AS DECIMAL(28,12)) AS et, " +
        "CAST(CAST(dt AS DOUBLE) AS DECIMAL(28,12)) AS dtd, " +
        "CASE WHEN nt > 1 THEN CAST(CAST(dt AS DOUBLE) * " +
        "(CAST(na AS DOUBLE) / CAST(nt AS DOUBLE)) * " +
        "(CAST(nb AS DOUBLE) / CAST(nt AS DOUBLE)) * " +
        "(CAST(nt - dt AS DOUBLE) / CAST(nt - 1 AS DOUBLE)) " +
        "AS DECIMAL(28,12)) ELSE CAST(0.0 AS DECIMAL(28,12)) END AS vt " +
        "FROM k), " +
        "agg AS (SELECT max(na0) AS n_a, max(nb0) AS n_b, " +
        "CAST(sum(da) AS BIGINT) AS o_a, sum(et) AS ea, " +
        "CAST(sum(db) AS BIGINT) AS o_b, sum(dtd - et) AS eb, " +
        "sum(vt) AS v FROM terms) " +
        "SELECT n_a, n_b, o_a, round(CAST(ea AS DOUBLE), 6) AS e_a, " +
        "o_b, round(CAST(eb AS DOUBLE), 6) AS e_b, " +
        "round(CASE WHEN v > 0 THEN power(CAST(o_a AS DOUBLE) - " +
        "CAST(ea AS DOUBLE), 2) / CAST(v AS DOUBLE) ELSE 0.0 END, 6) " +
        "AS chi2 FROM agg"),
      (s, dir) => {
        val u = Tables.events(s, dir)
          .select(col("user_id"), EventAnalytics.dayIndex(col("ts")).as("d"))
          .groupBy("user_id")
          .agg(min(col("d")).as("f"), max(col("d")).as("l"))
        val mx = u.agg(max(col("l")).as("mx"))
        EventAnalytics.logRank(u.crossJoin(broadcast(mx)),
          col("l") - col("f"), col("l") < col("mx") - 7,
          pmod(col("user_id"), lit(2L)) === 0)
      }),

    // ---- multiple-testing report over the per-event-type Welch family
    // (even vs odd users): the Chebyshev bound p = min(1, 1/t²) keeps the
    // p-values free of any erf/CDF libm divergence — every correction is
    // then a pure comparison against exact-integer thresholds.
    Q("q363_multiple_testing",
      Some("WITH g AS (SELECT event_type, " +
        "CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(sum(CASE WHEN NOT (user_id % 2 = 0) THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
        "CAST(sum(CASE WHEN user_id % 2 = 0 THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE) AS sa, " +
        "CAST(sum(CASE WHEN user_id % 2 = 0 THEN CAST(value * value AS DECIMAL(38,6)) END) AS DOUBLE) AS pa, " +
        "CAST(sum(CASE WHEN NOT (user_id % 2 = 0) THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE) AS sb, " +
        "CAST(sum(CASE WHEN NOT (user_id % 2 = 0) THEN CAST(value * value AS DECIMAL(38,6)) END) AS DOUBLE) AS pb " +
        "FROM events WHERE value IS NOT NULL GROUP BY 1), " +
        "m AS (SELECT event_type, CAST(n_a AS DOUBLE) AS na, " +
        "CAST(n_b AS DOUBLE) AS nb, sa, sb, pa, pb FROM g " +
        "WHERE n_a > 1 AND n_b > 1), " +
        "v AS (SELECT event_type, sa / na AS ma, sb / nb AS mb, " +
        "((na * pa - sa * sa) / (na * (na - 1.0))) / na AS s2a, " +
        "((nb * pb - sb * sb) / (nb * (nb - 1.0))) / nb AS s2b FROM m), " +
        "tst AS (SELECT event_type, round(power((ma - mb) / " +
        "sqrt(s2a + s2b), 2), 6) AS t2 FROM v), " +
        "p AS (SELECT event_type, round(least(1.0, CASE WHEN t2 > 0 " +
        "THEN 1.0 / t2 ELSE 1.0 END), 6) AS p FROM tst), " +
        "fam AS (SELECT CAST(count(*) AS BIGINT) AS m FROM p), " +
        "rk AS (SELECT event_type, p, CAST(row_number() OVER " +
        "(ORDER BY p, event_type) AS BIGINT) AS rank, m FROM p, fam) " +
        "SELECT event_type, round(p, 6) AS p, rank, " +
        "round(least(1.0, p * CAST(m AS DOUBLE)), 6) AS p_bonf, " +
        "max(CASE WHEN p > 0.1 / CAST(m - rank + 1 AS DOUBLE) THEN 1 " +
        "ELSE 0 END) OVER (ORDER BY p, event_type ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND CURRENT ROW) = 0 AS holm_reject, " +
        "max(CASE WHEN p <= CAST(rank AS DOUBLE) * 0.1 / " +
        "CAST(m AS DOUBLE) THEN 1 ELSE 0 END) OVER (ORDER BY p, " +
        "event_type ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) = 1 " +
        "AS bh_reject FROM rk ORDER BY rank"),
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val a = pmod(col("user_id"), lit(2L)) === 0
        val g = Tables.events(s, dir).filter(col("value").isNotNull)
          .groupBy("event_type")
          .agg(sum(when(a, 1L).otherwise(0L)).as("n_a"),
            sum(when(!a, 1L).otherwise(0L)).as("n_b"),
            sum(when(a, col("value").cast(DecimalType(38, 6)))).as("__sa"),
            sum(when(a, (col("value") * col("value"))
              .cast(DecimalType(38, 6)))).as("__pa"),
            sum(when(!a, col("value").cast(DecimalType(38, 6)))).as("__sb"),
            sum(when(!a, (col("value") * col("value"))
              .cast(DecimalType(38, 6)))).as("__pb"))
          .filter(col("n_a") > 1 && col("n_b") > 1)
        val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
        val sa = col("__sa").cast("double"); val sb = col("__sb").cast("double")
        val pa = col("__pa").cast("double"); val pb = col("__pb").cast("double")
        val s2a = ((na * pa - sa * sa) / (na * (na - 1.0))) / na
        val s2b = ((nb * pb - sb * sb) / (nb * (nb - 1.0))) / nb
        val t2 = round(pow((sa / na - sb / nb) / sqrt(s2a + s2b), 2), 6)
        val pv = g.withColumn("__t2", t2)
          .withColumn("p", round(least(lit(1.0),
            when(col("__t2") > 0, lit(1.0) / col("__t2"))
              .otherwise(lit(1.0))), 6))
        Stats.multipleTesting(pv, "event_type", col("p"), alpha = 0.1)
          .orderBy("rank")
      }),

    // ---- raking (IPF, 3 rounds) of the priority × status contingency to
    // uniform marginals: the survey-calibration iterate on the
    // vocabulary-bounded cell relation, weights re-rounded to
    // DECIMAL(28,12) after every scaling; the oracle unrolls the rounds.
    Q("q365_raking", {
      def scaleRow(w0: String, out: String) =
        s"$out AS (SELECT p, st, n, CAST(CAST(w AS DOUBLE) * rt / " +
          s"CAST(sa AS DOUBLE) AS DECIMAL(28,12)) AS w FROM " +
          s"(SELECT p, st, n, w, sum(w) OVER (PARTITION BY p) AS sa, rt " +
          s"FROM $w0, dims))"
      def scaleCol(w0: String, out: String) =
        s"$out AS (SELECT p, st, n, CAST(CAST(w AS DOUBLE) * ct / " +
          s"CAST(sb AS DOUBLE) AS DECIMAL(28,12)) AS w FROM " +
          s"(SELECT p, st, n, w, sum(w) OVER (PARTITION BY st) AS sb, ct " +
          s"FROM $w0, dims))"
      Some("WITH cells AS (SELECT o_orderpriority AS p, o_orderstatus " +
        "AS st, CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY 1, 2), " +
        "dims AS (SELECT CAST(sum(n) AS DOUBLE) / " +
        "CAST(count(DISTINCT p) AS DOUBLE) AS rt, " +
        "CAST(sum(n) AS DOUBLE) / CAST(count(DISTINCT st) AS DOUBLE) AS ct " +
        "FROM cells), " +
        "w0 AS (SELECT p, st, n, CAST(CAST(n AS DOUBLE) " +
        "AS DECIMAL(28,12)) AS w FROM cells), " +
        scaleRow("w0", "r1") + ", " + scaleCol("r1", "c1") + ", " +
        scaleRow("c1", "r2") + ", " + scaleCol("r2", "c2") + ", " +
        scaleRow("c2", "r3") + ", " + scaleCol("r3", "c3") + " " +
        "SELECT p AS o_orderpriority, st AS o_orderstatus, n, " +
        "round(CAST(w AS DOUBLE), 6) AS weight FROM c3 ORDER BY 1, 2")
    },
      (s, dir) => {
        // the 15-cell contingency feeds FOUR consumers (dims, both target
        // relations, and the rake input) through broadcast-only lineage —
        // materialize the orders rollup once instead of once per broadcast
        // build (the rake duplicated-subtree fix, guide §7.2)
        val cells = Ops.materialize(Tables.orders(s, dir)
          .groupBy("o_orderpriority", "o_orderstatus")
          .agg(count(lit(1)).as("n"))
          .repartition(1))
        val dims = cells.agg(
          (sum(col("n")).cast("double") /
            countDistinct(col("o_orderpriority")).cast("double")).as("rt"),
          (sum(col("n")).cast("double") /
            countDistinct(col("o_orderstatus")).cast("double")).as("ct"))
        val rt = cells.select("o_orderpriority").distinct()
          .crossJoin(broadcast(dims)).select(col("o_orderpriority"),
            col("rt").as("target"))
        val ct = cells.select("o_orderstatus").distinct()
          .crossJoin(broadcast(dims)).select(col("o_orderstatus"),
            col("ct").as("target"))
        Stats.rake(cells, "o_orderpriority", "o_orderstatus", "n",
            rt, ct, rounds = 3)
          .orderBy("o_orderpriority", "o_orderstatus")
      }),

    // ---- propensity-subclassification ATE: users ranked into 5 activity
    // strata (deterministic total order), treated = even user_id, outcome
    // = exact integer value cents — within-stratum means from DECIMAL
    // sums, one IEEE diff each, 6dp.
    Q("q366_stratified_ate",
      Some("WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS score, " +
        "coalesce(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT), " +
        "0) AS cents FROM events GROUP BY 1), " +
        "r AS (SELECT user_id % 2 = 0 AS t, cents, " +
        "CAST(ntile(5) OVER (ORDER BY score DESC, user_id) AS BIGINT) " +
        "AS stratum FROM u), " +
        "g AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_treat, " +
        "CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl, " +
        "sum(CASE WHEN t THEN CAST(CAST(cents AS DOUBLE) " +
        "AS DECIMAL(28,12)) END) AS st, " +
        "sum(CASE WHEN NOT t THEN CAST(CAST(cents AS DOUBLE) " +
        "AS DECIMAL(28,12)) END) AS sc FROM r GROUP BY 1) " +
        "SELECT stratum, n, n_treat, n_ctrl, " +
        "round(CASE WHEN n_treat > 0 THEN CAST(st AS DOUBLE) / " +
        "CAST(n_treat AS DOUBLE) END, 6) AS mean_treat, " +
        "round(CASE WHEN n_ctrl > 0 THEN CAST(sc AS DOUBLE) / " +
        "CAST(n_ctrl AS DOUBLE) END, 6) AS mean_ctrl, " +
        "round(CASE WHEN n_treat > 0 AND n_ctrl > 0 THEN " +
        "CAST(st AS DOUBLE) / CAST(n_treat AS DOUBLE) - " +
        "CAST(sc AS DOUBLE) / CAST(n_ctrl AS DOUBLE) END, 6) AS diff " +
        "FROM g ORDER BY stratum"),
      (s, dir) => {
        val u = Tables.events(s, dir).groupBy("user_id")
          .agg(count(lit(1)).as("score"),
            coalesce(sum(round(col("value") * 100, 0).cast("long")),
              lit(0L)).as("cents"))
        Stats.stratifiedAte(u, col("user_id"), col("score"),
            pmod(col("user_id"), lit(2L)) === 0, col("cents"), nStrata = 5)
          .orderBy("stratum")
      }),

    // ---- Oaxaca-Blinder decomposition of the even/odd-user spend gap
    // with activity as the single regressor: per-group OLS closed forms
    // off one decimal-moment aggregate; reference group = odd users.
    Q("q367_oaxaca",
      Some("WITH u AS (SELECT user_id % 2 = 0 AS a, " +
        "CAST(CAST(count(*) AS BIGINT) AS DOUBLE) AS x, " +
        "CAST(coalesce(CAST(sum(CAST(round(value * 100) AS BIGINT)) " +
        "AS BIGINT), 0) AS DOUBLE) AS y FROM events GROUP BY user_id), " +
        "m AS (SELECT " +
        "CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "sum(CASE WHEN a THEN CAST(x AS DECIMAL(28,12)) END) AS sxa, " +
        "sum(CASE WHEN a THEN CAST(y AS DECIMAL(28,12)) END) AS sya, " +
        "sum(CASE WHEN a THEN CAST(x * x AS DECIMAL(28,12)) END) AS sxxa, " +
        "sum(CASE WHEN a THEN CAST(x * y AS DECIMAL(28,12)) END) AS sxya, " +
        "CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
        "sum(CASE WHEN NOT a THEN CAST(x AS DECIMAL(28,12)) END) AS sxb, " +
        "sum(CASE WHEN NOT a THEN CAST(y AS DECIMAL(28,12)) END) AS syb, " +
        "sum(CASE WHEN NOT a THEN CAST(x * x AS DECIMAL(28,12)) END) AS sxxb, " +
        "sum(CASE WHEN NOT a THEN CAST(x * y AS DECIMAL(28,12)) END) AS sxyb " +
        "FROM u), " +
        "d AS (SELECT n_a, n_b, CAST(n_a AS DOUBLE) AS nad, " +
        "CAST(sxa AS DOUBLE) AS sxad, CAST(sya AS DOUBLE) AS syad, " +
        "CAST(sxxa AS DOUBLE) AS sxxad, CAST(sxya AS DOUBLE) AS sxyad, " +
        "CAST(n_b AS DOUBLE) AS nbd, CAST(sxb AS DOUBLE) AS sxbd, " +
        "CAST(syb AS DOUBLE) AS sybd, CAST(sxxb AS DOUBLE) AS sxxbd, " +
        "CAST(sxyb AS DOUBLE) AS sxybd FROM m), " +
        "f AS (SELECT n_a, n_b, " +
        "CASE WHEN nad * sxxad - sxad * sxad <> 0 THEN " +
        "(nad * sxyad - sxad * syad) / (nad * sxxad - sxad * sxad) END AS ba, " +
        "CASE WHEN nbd * sxxbd - sxbd * sxbd <> 0 THEN " +
        "(nbd * sxybd - sxbd * sybd) / (nbd * sxxbd - sxbd * sxbd) END AS bb, " +
        "sxad / nad AS xa, syad / nad AS ya, " +
        "sxbd / nbd AS xb, sybd / nbd AS yb FROM d) " +
        "SELECT n_a, n_b, round(ya - yb, 6) AS gap, " +
        "round(bb * (xa - xb), 6) AS explained, " +
        "round(((ya - ba * xa) - (yb - bb * xb)) + xa * (ba - bb), 6) " +
        "AS unexplained FROM f"),
      (s, dir) => {
        val u = Tables.events(s, dir).groupBy("user_id")
          .agg(count(lit(1)).as("score"),
            coalesce(sum(round(col("value") * 100, 0).cast("long")),
              lit(0L)).as("cents"))
        Stats.oaxacaBlinder(u, pmod(col("user_id"), lit(2L)) === 0,
          col("score"), col("cents"))
      }),

    // ---- Cochran-Armitage linear-trend-in-proportions across the five
    // ordered order priorities (score = the priority's leading digit),
    // success = finished status: exact integer sums, one fixed-shape Z².
    Q("q368_cochran_armitage",
      Some("WITH r AS (SELECT CAST(substr(o_orderpriority, 1, 1) " +
        "AS BIGINT) AS s, CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END " +
        "AS x FROM orders), " +
        "g AS (SELECT s, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(x) AS BIGINT) AS sx FROM r GROUP BY 1), " +
        "a AS (SELECT CAST(count(*) AS BIGINT) AS n_groups, " +
        "CAST(sum(n) AS BIGINT) AS n, CAST(sum(sx) AS BIGINT) AS x, " +
        "CAST(sum(s * sx) AS BIGINT) AS ssx, " +
        "CAST(sum(s * n) AS BIGINT) AS ssn, " +
        "CAST(sum(s * s * n) AS BIGINT) AS sssn FROM g), " +
        "f AS (SELECT n_groups, n, x, " +
        "CAST(ssx AS DOUBLE) - CAST(x AS DOUBLE) / CAST(n AS DOUBLE) * " +
        "CAST(ssn AS DOUBLE) AS t, " +
        "CAST(x AS DOUBLE) / CAST(n AS DOUBLE) * " +
        "(1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) * " +
        "(CAST(sssn AS DOUBLE) - CAST(ssn AS DOUBLE) * " +
        "CAST(ssn AS DOUBLE) / CAST(n AS DOUBLE)) AS v FROM a) " +
        "SELECT n_groups, n, x, round(t, 6) AS t_stat, " +
        "round(v, 6) AS var_t, " +
        "round(CASE WHEN v > 0 THEN t * t / v END, 6) AS z2 FROM f"),
      (s, dir) => Stats.cochranArmitage(Tables.orders(s, dir),
        substring(col("o_orderpriority"), 1, 1).cast("long"),
        col("o_orderstatus") === "F")),

    // ---- Fleiss' kappa across THREE deterministic document raters
    // (char-length, token-length, sentence-count buckets — q235's pair
    // plus a third): every item has exactly 3 ratings, so the equal-n
    // contract holds by construction.
    Q("q369_fleiss_kappa", {
      val aCase = "CASE WHEN n_chars < 150 THEN 'short' " +
        "WHEN n_chars < 350 THEN 'medium' ELSE 'long' END"
      val bCase = "CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) < 30 " +
        "THEN 'short' WHEN len(regexp_split_to_array(trim(text), '\\s+')) < 65 " +
        "THEN 'medium' ELSE 'long' END"
      val cCase = "CASE WHEN greatest(len(regexp_extract_all(text, " +
        "'[.!?]+')), 1) < 3 THEN 'short' WHEN greatest(len(" +
        "regexp_extract_all(text, '[.!?]+')), 1) < 6 THEN 'medium' " +
        "ELSE 'long' END"
      Some(s"WITH r AS (SELECT doc_id, $aCase AS cat FROM documents " +
        s"UNION ALL SELECT doc_id, $bCase FROM documents " +
        s"UNION ALL SELECT doc_id, $cCase FROM documents), " +
        "cells AS (SELECT doc_id, cat, CAST(count(*) AS BIGINT) AS n " +
        "FROM r GROUP BY 1, 2), " +
        "items AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS ni, " +
        "CAST(sum(n * n) AS BIGINT) AS sq FROM cells GROUP BY 1), " +
        "ia AS (SELECT CAST(count(*) AS BIGINT) AS n_items, " +
        "CAST(min(ni) AS BIGINT) AS nmin, CAST(max(ni) AS BIGINT) AS nmax, " +
        "sum(CAST(CAST(sq - ni AS DOUBLE) / CAST(ni * (ni - 1) AS DOUBLE) " +
        "AS DECIMAL(28,12))) AS pisum, CAST(sum(ni) AS BIGINT) AS ntot " +
        "FROM items), " +
        "ca AS (SELECT sum(CAST(nj * nj AS DECIMAL(38,0))) AS sqj FROM " +
        "(SELECT cat, CAST(sum(n) AS BIGINT) AS nj FROM cells GROUP BY 1)) " +
        "SELECT n_items, nmax AS n_raters, " +
        "round(CAST(pisum AS DOUBLE) / CAST(n_items AS DOUBLE), 6) AS p_bar, " +
        "round(CAST(sqj AS DOUBLE) / CAST(ntot * ntot AS DOUBLE), 6) AS p_e, " +
        "round(CASE WHEN nmin = nmax AND CAST(sqj AS DOUBLE) / " +
        "CAST(ntot * ntot AS DOUBLE) < 1.0 THEN " +
        "(CAST(pisum AS DOUBLE) / CAST(n_items AS DOUBLE) - " +
        "CAST(sqj AS DOUBLE) / CAST(ntot * ntot AS DOUBLE)) / " +
        "(1.0 - CAST(sqj AS DOUBLE) / CAST(ntot * ntot AS DOUBLE)) END, 6) " +
        "AS kappa FROM ia, ca")
    },
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val ntok = size(TA.tokens(col("text")))
        val nsent = greatest(
          size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))),
          lit(1))
        val r = d.select(col("doc_id"),
            when(col("n_chars") < 150, "short")
              .when(col("n_chars") < 350, "medium").otherwise("long")
              .as("cat"))
          .unionByName(d.select(col("doc_id"),
            when(ntok < 30, "short").when(ntok < 65, "medium")
              .otherwise("long").as("cat")))
          .unionByName(d.select(col("doc_id"),
            when(nsent < 3, "short").when(nsent < 6, "medium")
              .otherwise("long").as("cat")))
        Stats.fleissKappa(r, col("doc_id"), col("cat"))
      }),

    // ---- Kish design effect of account-balance weights per market
    // segment: ESS and deff from decimal w/w² sums; non-positive
    // balances are invalid weights — excluded and counted.
    Q("q370_kish_deff",
      Some("SELECT c_mktsegment, " +
        "CAST(sum(CASE WHEN c_acctbal IS NOT NULL AND c_acctbal > 0 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n, " +
        "CAST(sum(CASE WHEN c_acctbal IS NULL OR NOT (c_acctbal > 0) " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_excluded, " +
        "round(CAST(sum(CASE WHEN c_acctbal > 0 THEN " +
        "CAST(c_acctbal AS DECIMAL(28,12)) END) AS DOUBLE), 6) AS sum_w, " +
        "round(CASE WHEN sum(CASE WHEN c_acctbal IS NOT NULL AND " +
        "c_acctbal > 0 THEN 1 ELSE 0 END) > 0 THEN " +
        "CAST(sum(CASE WHEN c_acctbal > 0 THEN CAST(c_acctbal " +
        "AS DECIMAL(28,12)) END) AS DOUBLE) * CAST(sum(CASE WHEN " +
        "c_acctbal > 0 THEN CAST(c_acctbal AS DECIMAL(28,12)) END) " +
        "AS DOUBLE) / CAST(sum(CASE WHEN c_acctbal > 0 THEN " +
        "CAST(c_acctbal * c_acctbal AS DECIMAL(28,12)) END) AS DOUBLE) " +
        "END, 6) AS ess, " +
        "round(CASE WHEN sum(CASE WHEN c_acctbal IS NOT NULL AND " +
        "c_acctbal > 0 THEN 1 ELSE 0 END) > 0 THEN " +
        "CAST(sum(CASE WHEN c_acctbal IS NOT NULL AND c_acctbal > 0 " +
        "THEN 1 ELSE 0 END) AS DOUBLE) * CAST(sum(CASE WHEN c_acctbal > 0 " +
        "THEN CAST(c_acctbal * c_acctbal AS DECIMAL(28,12)) END) " +
        "AS DOUBLE) / (CAST(sum(CASE WHEN c_acctbal > 0 THEN " +
        "CAST(c_acctbal AS DECIMAL(28,12)) END) AS DOUBLE) * " +
        "CAST(sum(CASE WHEN c_acctbal > 0 THEN CAST(c_acctbal " +
        "AS DECIMAL(28,12)) END) AS DOUBLE)) END, 6) AS deff " +
        "FROM customer GROUP BY 1 ORDER BY 1"),
      (s, dir) => Stats.kishDesignEffect(Tables.customer(s, dir),
        Seq("c_mktsegment"), col("c_acctbal"))
        .orderBy("c_mktsegment"))
    ,

    // ---- one-way ANOVA F of event value across event types: per-group
    // decimal moments, s²/n terms re-rounded to DECIMAL(28,12) before the
    // cross-group sums, one fixed-shape F.
    Q("q373_anova",
      Some("WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS ng, " +
        "sum(CAST(value AS DECIMAL(28,12))) AS s, " +
        "sum(CAST(value * value AS DECIMAL(28,12))) AS ss FROM events " +
        "WHERE value IS NOT NULL GROUP BY 1), " +
        "a AS (SELECT CAST(count(*) AS BIGINT) AS n_groups, " +
        "CAST(sum(ng) AS BIGINT) AS n, sum(s) AS st, sum(ss) AS sst, " +
        "sum(CAST(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / " +
        "CAST(ng AS DOUBLE) AS DECIMAL(28,12))) AS sg FROM g), " +
        "f AS (SELECT n_groups, n, " +
        "CAST(sg AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / " +
        "CAST(n AS DOUBLE) AS ssb, " +
        "CAST(sst AS DOUBLE) - CAST(sg AS DOUBLE) AS ssw FROM a) " +
        "SELECT n_groups, n, round(ssb, 6) AS ss_between, " +
        "round(ssw, 6) AS ss_within, " +
        "round(CASE WHEN n_groups > 1 AND n > n_groups AND ssw > 0 THEN " +
        "(ssb / (CAST(n_groups AS DOUBLE) - 1.0)) / " +
        "(ssw / (CAST(n AS DOUBLE) - CAST(n_groups AS DOUBLE))) END, 6) " +
        "AS f_stat FROM f"),
      (s, dir) => Stats.oneWayAnova(Tables.events(s, dir),
        col("event_type"), col("value"))),

    // ---- Kruskal-Wallis across return flags on the 1..50 quantity
    // vocabulary: ranks live on the value rollup (the mannWhitney
    // discipline), average ranks are exact dyadic rationals, rank sums
    // DECIMAL-exact, tie correction from exact t³−t.
    Q("q374_kruskal_wallis",
      Some("WITH cells AS (SELECT CAST(l_quantity AS DOUBLE) AS v, " +
        "l_returnflag AS g, CAST(count(*) AS BIGINT) AS c FROM lineitem " +
        "WHERE l_quantity IS NOT NULL GROUP BY 1, 2), " +
        "vals AS (SELECT v, CAST(sum(c) AS BIGINT) AS t FROM cells " +
        "GROUP BY 1), " +
        "rk AS (SELECT v, t, coalesce(CAST(sum(t) OVER (ORDER BY v ROWS " +
        "BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) " +
        "AS cum FROM vals), " +
        "ar AS (SELECT v, t, CAST(cum AS DOUBLE) + " +
        "CAST(t + 1 AS DOUBLE) / 2.0 AS ar FROM rk), " +
        "j AS (SELECT cells.g, cells.c, ar.ar FROM cells " +
        "JOIN ar USING (v)), " +
        "bg AS (SELECT g, CAST(sum(c) AS BIGINT) AS ng, " +
        "sum(CAST(ar * CAST(c AS DOUBLE) AS DECIMAL(28,12))) AS rg " +
        "FROM j GROUP BY 1), " +
        // t³−t as HUGEINT: BIGINT t³ overflows 2^63 above t ≈ 2.1M, where
        // DuckDB errors loudly but non-ANSI Spark would wrap silently —
        // the engine accumulates the same term as DECIMAL(38,0)
        "tt AS (SELECT sum(CAST(t AS HUGEINT) * t * t - t) AS ts, " +
        "CAST(sum(t) AS BIGINT) AS nn FROM vals), " +
        "a AS (SELECT CAST(count(*) AS BIGINT) AS n_groups, " +
        "CAST(max(nn) AS BIGINT) AS n, max(ts) AS ts, " +
        "sum(CAST((CAST(rg AS DOUBLE) / CAST(ng AS DOUBLE) - " +
        "(CAST(nn AS DOUBLE) + 1.0) / 2.0) * " +
        "(CAST(rg AS DOUBLE) / CAST(ng AS DOUBLE) - " +
        "(CAST(nn AS DOUBLE) + 1.0) / 2.0) * CAST(ng AS DOUBLE) " +
        "AS DECIMAL(28,12))) AS hsum FROM bg, tt), " +
        "hh AS (SELECT n_groups, n, ts, 12.0 / (CAST(n AS DOUBLE) * " +
        "(CAST(n AS DOUBLE) + 1.0)) * CAST(hsum AS DOUBLE) AS h, " +
        "1.0 - CAST(ts AS DOUBLE) / (CAST(n AS DOUBLE) * " +
        "CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) AS cc " +
        "FROM a) " +
        "SELECT n_groups, n, " +
        "round(CASE WHEN n_groups > 1 THEN h END, 6) AS h_stat, " +
        "round(CASE WHEN n_groups > 1 AND cc > 0 THEN h / cc END, 6) " +
        "AS h_adj FROM hh"),
      (s, dir) => Stats.kruskalWallis(Tables.lineitem(s, dir),
        col("l_returnflag"), col("l_quantity"))),

    // ---- Brown-Forsythe variance-homogeneity F of order totals across
    // statuses: |x − group LOWER-MEDIAN data element| (order statistic,
    // never interpolated), then the q373 ANOVA shape on the deviations.
    // WHOLE-DOLLAR integer inputs with DECIMAL(38,0) accumulators
    // (scale 0): DuckDB's double→decimal cast goes through a float
    // multiply and is off-by-one from ~4e15 up (measured), and its
    // decimal→double read double-rounds above 2^63 — so both the per-row
    // casts AND the final sum-to-double conversions must stay inside
    // ~4e15 / 2^63. Dollar quantization keeps SST ≈ 4.5e15 at sf0.1 with
    // 100x headroom; cents pushed the sums to 3e19 and diverged (the
    // failure that discovered the bound). ss_* are in dollar² units.
    Q("q375_brown_forsythe",
      Some("WITH b AS (SELECT o_orderstatus AS g, " +
        "CAST(CAST(round(o_totalprice) AS BIGINT) AS DOUBLE) AS x " +
        "FROM orders WHERE o_totalprice IS NOT NULL), " +
        "m AS (SELECT g, x AS med FROM (SELECT g, x, row_number() OVER " +
        "(PARTITION BY g ORDER BY x) AS rn, count(*) OVER " +
        "(PARTITION BY g) AS nw FROM b) WHERE rn = (nw + 1) // 2), " +
        "z AS (SELECT b.g, abs(b.x - m.med) AS x FROM b " +
        "JOIN m ON b.g = m.g), " +
        "g AS (SELECT g AS grp, CAST(count(*) AS BIGINT) AS ng, " +
        "sum(CAST(x AS DECIMAL(38,0))) AS s, " +
        "sum(CAST(x * x AS DECIMAL(38,0))) AS ss FROM z GROUP BY 1), " +
        "a AS (SELECT CAST(count(*) AS BIGINT) AS n_groups, " +
        "CAST(sum(ng) AS BIGINT) AS n, sum(s) AS st, sum(ss) AS sst, " +
        "sum(CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / " +
        "CAST(ng AS DOUBLE)) AS DECIMAL(38,0))) AS sg FROM g), " +
        "f AS (SELECT n_groups, n, " +
        "CAST(sg AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / " +
        "CAST(n AS DOUBLE) AS ssb, " +
        "CAST(sst AS DOUBLE) - CAST(sg AS DOUBLE) AS ssw FROM a) " +
        "SELECT n_groups, n, round(ssb, 6) AS ss_between, " +
        "round(ssw, 6) AS ss_within, " +
        "round(CASE WHEN n_groups > 1 AND n > n_groups AND ssw > 0 THEN " +
        "(ssb / (CAST(n_groups AS DOUBLE) - 1.0)) / " +
        "(ssw / (CAST(n AS DOUBLE) - CAST(n_groups AS DOUBLE))) END, 6) " +
        "AS f_stat FROM f"),
      (s, dir) => Stats.brownForsythe(Tables.orders(s, dir),
        col("o_orderstatus"),
        round(col("o_totalprice"), 0).cast("long"), scale = 0)),

    // ---- McNemar paired purchase conversion between the ship-date-style
    // halves of the event range: per-user (H1 purchased, H2 purchased)
    // booleans; only the discordant cells carry the test.
    Q("q376_mcnemar",
      Some("WITH e AS (SELECT user_id, " +
        "epoch_us(ts) // 86400000000 AS d, event_type FROM events " +
        "WHERE user_id IS NOT NULL), " +
        "mm AS (SELECT (min(d) + max(d) + 1) // 2 AS mid FROM e), " +
        "u AS (SELECT user_id, " +
        "max(CASE WHEN event_type = 'purchase' AND d < mid THEN 1 " +
        "ELSE 0 END) = 1 AS bef, " +
        "max(CASE WHEN event_type = 'purchase' AND d >= mid THEN 1 " +
        "ELSE 0 END) = 1 AS aft FROM e, mm GROUP BY 1), " +
        "a AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CASE WHEN NOT bef AND aft THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_01, " +
        "CAST(sum(CASE WHEN bef AND NOT aft THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_10 FROM u) " +
        "SELECT n, n_01, n_10, " +
        "round(CASE WHEN n_01 + n_10 > 0 THEN " +
        "(CAST(n_01 AS DOUBLE) - CAST(n_10 AS DOUBLE)) * " +
        "(CAST(n_01 AS DOUBLE) - CAST(n_10 AS DOUBLE)) / " +
        "(CAST(n_01 AS DOUBLE) + CAST(n_10 AS DOUBLE)) END, 6) AS chi2, " +
        "round(CASE WHEN n_01 + n_10 > 0 THEN " +
        "(abs(CAST(n_01 AS DOUBLE) - CAST(n_10 AS DOUBLE)) - 1.0) * " +
        "(abs(CAST(n_01 AS DOUBLE) - CAST(n_10 AS DOUBLE)) - 1.0) / " +
        "(CAST(n_01 AS DOUBLE) + CAST(n_10 AS DOUBLE)) END, 6) " +
        "AS chi2_corrected FROM a"),
      (s, dir) => {
        val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
          .select(col("user_id"), col("event_type"),
            EventAnalytics.dayIndex(col("ts")).as("d"))
        val mm = e.agg(((min(col("d")) + max(col("d")) + lit(1L)) /
          lit(2L)).cast("long").as("mid"))
        val u = e.crossJoin(broadcast(mm)).groupBy("user_id")
          .agg((max(when(col("event_type") === "purchase" &&
            col("d") < col("mid"), 1L).otherwise(0L)) === 1L).as("bef"),
            (max(when(col("event_type") === "purchase" &&
              col("d") >= col("mid"), 1L).otherwise(0L)) === 1L).as("aft"))
        Stats.mcnemar(u, col("bef"), col("aft"))
      }),

    // ---- Mantel-Haenszel pooled odds ratio: exposure = even user,
    // outcome = high-value event, stratified by event type — the
    // confounder-adjusted OR next to q334's crude one.
    Q("q377_mantel_haenszel",
      Some("WITH e AS (SELECT event_type AS s, user_id % 2 = 0 AS x, " +
        "value > 200 AS y FROM events WHERE user_id IS NOT NULL " +
        "AND value IS NOT NULL), " +
        "g AS (SELECT s, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CASE WHEN x AND y THEN 1 ELSE 0 END) AS BIGINT) AS a, " +
        "CAST(sum(CASE WHEN x AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS b, " +
        "CAST(sum(CASE WHEN NOT x AND y THEN 1 ELSE 0 END) AS BIGINT) AS c, " +
        "CAST(sum(CASE WHEN NOT x AND NOT y THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS d FROM e GROUP BY 1), " +
        "t AS (SELECT CAST(count(*) AS BIGINT) AS n_strata, " +
        "CAST(sum(n) AS BIGINT) AS n, " +
        "sum(CAST(CAST(a * d AS DOUBLE) / CAST(n AS DOUBLE) " +
        "AS DECIMAL(28,12))) AS ad, " +
        "sum(CAST(CAST(b * c AS DOUBLE) / CAST(n AS DOUBLE) " +
        "AS DECIMAL(28,12))) AS bc FROM g) " +
        "SELECT n_strata, n, round(CAST(ad AS DOUBLE), 6) AS sum_ad, " +
        "round(CAST(bc AS DOUBLE), 6) AS sum_bc, " +
        "round(CASE WHEN bc > 0 THEN CAST(ad AS DOUBLE) / " +
        "CAST(bc AS DOUBLE) END, 6) AS or_mh FROM t"),
      (s, dir) => Stats.mantelHaenszel(
        Tables.events(s, dir).filter(col("user_id").isNotNull &&
          col("value").isNotNull),
        col("event_type"), pmod(col("user_id"), lit(2L)) === 0,
        col("value") > 200)),

    // ---- best Gini decision stump: which whole-dollar value threshold
    // best separates purchases — CART's inner loop as one pass over the
    // bucketed-value rollup; Gini keeps every impurity a pure rational
    // (no ln), gain rounds 6dp BEFORE the argmax election.
    Q("q381_decision_stump", {
      def g(pos: String, n: String) = {
        val p = s"CAST($pos AS DOUBLE) / CAST($n AS DOUBLE)"
        s"(1.0 - ($p) * ($p) - (1.0 - $p) * (1.0 - $p))"
      }
      Some("WITH r AS (SELECT floor(CAST(value AS DOUBLE)) AS x, " +
        "event_type = 'purchase' AS y FROM events " +
        "WHERE value IS NOT NULL), " +
        "cells AS (SELECT x, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p " +
        "FROM r GROUP BY 1), " +
        "t AS (SELECT CAST(sum(n) AS BIGINT) AS nn, " +
        "CAST(sum(p) AS BIGINT) AS pp FROM cells), " +
        "c AS (SELECT x, CAST(sum(n) OVER w AS BIGINT) AS lft, " +
        "CAST(sum(p) OVER w AS BIGINT) AS lp, nn, pp FROM cells, t " +
        "WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        "CURRENT ROW)), " +
        "s AS (SELECT nn AS n, pp AS n_pos, x AS threshold, " +
        s"round(${g("pp", "nn")} - (CAST(lft AS DOUBLE) / " +
        s"CAST(nn AS DOUBLE) * ${g("lp", "lft")} + " +
        "CAST(nn - lft AS DOUBLE) / CAST(nn AS DOUBLE) * " +
        s"${g("(pp - lp)", "(nn - lft)")}), 6) AS gain, " +
        "lft AS left_n, lp AS left_pos, nn - lft AS right_n, " +
        "pp - lp AS right_pos FROM c WHERE lft < nn) " +
        "SELECT n, n_pos, threshold, gain, left_n, left_pos, right_n, " +
        "right_pos FROM (SELECT *, row_number() OVER (ORDER BY gain DESC, " +
        "threshold) AS rr FROM s) WHERE rr = 1")
    },
      (s, dir) => Stats.decisionStump(
        Tables.events(s, dir).filter(col("value").isNotNull),
        floor(col("value")), col("event_type") === "purchase")),

    // ---- Hosmer-Lemeshow calibration test on q236's deterministic
    // probability score (p = n_chars/(n_chars+300), label = lang is
    // English): per-decile (O−E)² terms in DECIMAL(28,12), the family
    // total replicated per row — the calibration TEST next to the q236
    // plot and the q289 ECE.
    Q("q382_hosmer_lemeshow",
      Some("WITH s AS (SELECT doc_id, CAST(n_chars AS DOUBLE) / " +
        "(CAST(n_chars AS DOUBLE) + 300.0) AS p, lang = 'en' AS y " +
        "FROM documents), " +
        "r AS (SELECT *, CAST(ntile(10) OVER (ORDER BY p DESC, doc_id) " +
        "AS BIGINT) AS decile FROM s), " +
        "g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS obs_pos, " +
        "sum(CAST(p AS DECIMAL(28,12))) AS e1 FROM r GROUP BY 1), " +
        "f AS (SELECT decile, n, obs_pos, CAST(e1 AS DOUBLE) AS e1d, " +
        "CAST(n AS DOUBLE) - CAST(e1 AS DOUBLE) AS e0d, " +
        "CAST(obs_pos AS DOUBLE) AS o1, " +
        "CAST(n - obs_pos AS DOUBLE) AS o0 FROM g), " +
        "t AS (SELECT decile, n, obs_pos, e1d, " +
        "CASE WHEN e1d > 0 AND e0d > 0 THEN " +
        "CAST((o1 - e1d) * (o1 - e1d) / e1d + " +
        "(o0 - e0d) * (o0 - e0d) / e0d AS DECIMAL(28,12)) END AS trm " +
        "FROM f) " +
        "SELECT decile, n, obs_pos, round(e1d, 6) AS exp_pos, " +
        "round(CAST(trm AS DOUBLE), 6) AS term, " +
        "round(CAST(sum(trm) OVER () AS DOUBLE), 6) AS hl_stat " +
        "FROM t ORDER BY decile"),
      (s, dir) => Stats.hosmerLemeshow(
          Tables.documents(s, dir),
          col("doc_id"),
          col("n_chars").cast("double") /
            (col("n_chars").cast("double") + 300.0),
          col("lang") === "en", nBins = 10)
        .orderBy("decile")),

    // ---- Yuen's 20%-trimmed t between even/odd users' event values:
    // winsorizing bounds are data elements at ranks k+1 / n−k off one
    // per-group rank window; trimmed/winsorized moments DECIMAL(38,6);
    // the robust answer to q121's Welch on heavy-tailed values.
    Q("q383_yuen_trimmed_t",
      Some("WITH b AS (SELECT user_id % 2 = 0 AS a, " +
        "CAST(value AS DOUBLE) AS x FROM events " +
        "WHERE value IS NOT NULL AND user_id IS NOT NULL), " +
        "r AS (SELECT a, x, CAST(row_number() OVER " +
        "(PARTITION BY a ORDER BY x) AS BIGINT) AS rn, " +
        "CAST(count(*) OVER (PARTITION BY a) AS BIGINT) AS n FROM b), " +
        "k AS (SELECT *, CAST(floor(CAST(n AS DOUBLE) * 0.2) AS BIGINT) " +
        "AS kk FROM r), " +
        "w AS (SELECT *, n - 2 * kk AS h, " +
        "max(CASE WHEN rn = kk + 1 THEN x END) OVER (PARTITION BY a) AS lo, " +
        "max(CASE WHEN rn = n - kk THEN x END) OVER (PARTITION BY a) AS hi " +
        "FROM k), " +
        "z AS (SELECT *, greatest(lo, least(hi, x)) AS xw FROM w), " +
        "m AS (SELECT " +
        "max(CASE WHEN a THEN n END) AS n_a, " +
        "max(CASE WHEN a THEN h END) AS h_a, " +
        "sum(CASE WHEN a AND rn > kk AND rn <= n - kk THEN " +
        "CAST(x AS DECIMAL(38,6)) END) AS st_a, " +
        "sum(CASE WHEN a THEN CAST(xw AS DECIMAL(38,6)) END) AS sw_a, " +
        "sum(CASE WHEN a THEN CAST(xw * xw AS DECIMAL(38,6)) END) AS sww_a, " +
        "max(CASE WHEN NOT a THEN n END) AS n_b, " +
        "max(CASE WHEN NOT a THEN h END) AS h_b, " +
        "sum(CASE WHEN NOT a AND rn > kk AND rn <= n - kk THEN " +
        "CAST(x AS DECIMAL(38,6)) END) AS st_b, " +
        "sum(CASE WHEN NOT a THEN CAST(xw AS DECIMAL(38,6)) END) AS sw_b, " +
        "sum(CASE WHEN NOT a THEN CAST(xw * xw AS DECIMAL(38,6)) END) " +
        "AS sww_b FROM z), " +
        "d AS (SELECT n_a, n_b, h_a, h_b, " +
        "CAST(st_a AS DOUBLE) / CAST(h_a AS DOUBLE) AS mta, " +
        "CAST(st_b AS DOUBLE) / CAST(h_b AS DOUBLE) AS mtb, " +
        "(CAST(n_a AS DOUBLE) - 1.0) * ((CAST(n_a AS DOUBLE) * " +
        "CAST(sww_a AS DOUBLE) - CAST(sw_a AS DOUBLE) * " +
        "CAST(sw_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) * " +
        "(CAST(n_a AS DOUBLE) - 1.0))) / (CAST(h_a AS DOUBLE) * " +
        "(CAST(h_a AS DOUBLE) - 1.0)) AS da, " +
        "(CAST(n_b AS DOUBLE) - 1.0) * ((CAST(n_b AS DOUBLE) * " +
        "CAST(sww_b AS DOUBLE) - CAST(sw_b AS DOUBLE) * " +
        "CAST(sw_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) * " +
        "(CAST(n_b AS DOUBLE) - 1.0))) / (CAST(h_b AS DOUBLE) * " +
        "(CAST(h_b AS DOUBLE) - 1.0)) AS db FROM m) " +
        "SELECT n_a, n_b, h_a, h_b, round(mta, 6) AS mean_trim_a, " +
        "round(mtb, 6) AS mean_trim_b, " +
        "round(CASE WHEN h_a > 1 AND h_b > 1 THEN " +
        "(mta - mtb) / sqrt(da + db) END, 6) AS t, " +
        "round(CASE WHEN h_a > 1 AND h_b > 1 THEN " +
        "(da + db) * (da + db) / (da * da / (CAST(h_a AS DOUBLE) - 1.0) " +
        "+ db * db / (CAST(h_b AS DOUBLE) - 1.0)) END, 6) AS dof FROM d"),
      (s, dir) => Stats.yuenTTest(
        Tables.events(s, dir).filter(col("value").isNotNull &&
          col("user_id").isNotNull),
        pmod(col("user_id"), lit(2L)) === 0, col("value"), trim = 0.2)),

    // ---- one-sided CUSUM control chart on the zero-filled daily count
    // spine: the reset-at-zero recursion S = max(0, S + (x − k)) as ONE
    // running sum + ONE running min (the reflection identity) — q138
    // answers "where did the level shift?", this is the online monitor.
    // k = the integer ceiling mean, h = 3k; everything exact integers.
    Q("q384_cusum_alarms",
      Some("WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day, " +
        "count(*) AS n FROM events GROUP BY 1), " +
        "r AS (SELECT unnest(range((SELECT min(day) FROM c), " +
        "(SELECT max(day) FROM c) + 1)) AS day), " +
        "s AS (SELECT r.day, CAST(coalesce(c.n, 0) AS BIGINT) AS n " +
        "FROM r LEFT JOIN c USING (day)), " +
        "t AS (SELECT CAST(sum(n) AS BIGINT) AS tt, " +
        "CAST(count(*) AS BIGINT) AS nd FROM s), " +
        "k AS (SELECT s.day, s.n, (tt + nd - 1) // nd AS kk FROM s, t), " +
        "w AS (SELECT day, n, kk, CAST(sum(n - kk) OVER " +
        "(ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS BIGINT) AS p FROM k), " +
        "m AS (SELECT day, n, kk, p, least(CAST(0 AS BIGINT), " +
        "CAST(min(p) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND CURRENT ROW) AS BIGINT)) AS mm FROM w) " +
        "SELECT day AS ord, n AS value, p - mm AS cusum, " +
        "p - mm > 3 * kk AS alarm FROM m ORDER BY ord"),
      (s, dir) => {
        val daily = EventAnalytics.resampleDaily(Tables.events(s, dir), "ts")
        val tot = daily.agg(sum(col("n")).as("__tt"),
          count(lit(1)).as("__nd"))
        val withK = daily.crossJoin(broadcast(tot))
          .withColumn("__kk",
            ((col("__tt") + col("__nd") - lit(1L)) / col("__nd"))
              .cast("long"))
        EventAnalytics.cusumAlarms(withK, col("day"), col("n"),
            col("__kk"), col("__kk") * 3)
          .orderBy("ord")
      }),

    // ---- first-order partial correlation of quantity ↔ price holding
    // discount fixed: the closed form runs on corrMatrix's already-
    // rounded r's, so the composition is engine-exact by construction.
    Q("q385_partial_corr", {
      val cs = Seq("l_quantity", "l_extendedprice", "l_discount")
      val sums = cs.map(c =>
        s"CAST(SUM(CAST(CAST($c AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE) AS s_$c")
      val prods = for (i <- cs.indices; j <- i until cs.size) yield
        s"CAST(SUM(CAST(CAST(${cs(i)} AS DOUBLE) * CAST(${cs(j)} AS DOUBLE) " +
          s"AS DECIMAL(38,6))) AS DOUBLE) AS p_${i}_$j"
      val notNull = cs.map(c => s"$c IS NOT NULL").mkString(" AND ")
      def corr(i: Int, j: Int) = {
        val num = s"(CAST(n AS DOUBLE) * p_${i}_$j - s_${cs(i)} * s_${cs(j)})"
        def v(k: Int) =
          s"(CAST(n AS DOUBLE) * p_${k}_$k - s_${cs(k)} * s_${cs(k)})"
        s"CASE WHEN (sqrt(${v(i)}) * sqrt(${v(j)})) = 0 THEN NULL " +
          s"ELSE round($num / (sqrt(${v(i)}) * sqrt(${v(j)})), 6) END"
      }
      Some(s"WITH a AS (SELECT count(*) AS n, " +
        s"${(sums ++ prods).mkString(", ")} FROM lineitem WHERE $notNull), " +
        s"r AS (SELECT ${corr(0, 1)} AS r_xy, ${corr(0, 2)} AS r_xz, " +
        s"${corr(1, 2)} AS r_yz FROM a) " +
        "SELECT r_xy, r_xz, r_yz, " +
        "round(CASE WHEN sqrt((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz)) " +
        "> 0 THEN (r_xy - r_xz * r_yz) / " +
        "sqrt((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz)) END, 6) " +
        "AS partial_corr FROM r")
    },
      (s, dir) => Stats.partialCorr(Tables.lineitem(s, dir),
        "l_quantity", "l_extendedprice", "l_discount")),

    // ---- Kendall tau-b between quantity and line number on the 50x7
    // cell rollup: concordant/discordant masses from the bounded cell-
    // pair join (O(V^2), N-independent), tie masses doubled in HUGEINT,
    // one IEEE finish — q270 spearman's concordance sibling.
    Q("q386_kendall_tau",
      Some("WITH cells AS (SELECT CAST(l_quantity AS DOUBLE) AS x, " +
        "CAST(l_linenumber AS DOUBLE) AS y, CAST(count(*) AS BIGINT) AS c " +
        "FROM lineitem WHERE l_quantity IS NOT NULL " +
        "AND l_linenumber IS NOT NULL GROUP BY 1, 2), " +
        "p AS (SELECT a.x AS xa, a.y AS ya, a.c AS ca, b.x AS xb, " +
        "b.y AS yb, b.c AS cb FROM cells a JOIN cells b " +
        "ON (a.x < b.x OR (a.x = b.x AND a.y < b.y))), " +
        "cd AS (SELECT sum(CASE WHEN (xb - xa) * (yb - ya) > 0 " +
        "THEN CAST(ca AS HUGEINT) * cb ELSE 0 END) AS conc, " +
        "sum(CASE WHEN (xb - xa) * (yb - ya) < 0 " +
        "THEN CAST(ca AS HUGEINT) * cb ELSE 0 END) AS disc FROM p), " +
        "tx AS (SELECT sum(CAST(t AS HUGEINT) * (t - 1)) AS n1x2, " +
        "CAST(sum(t) AS BIGINT) AS n FROM (SELECT CAST(sum(c) AS BIGINT) " +
        "AS t FROM cells GROUP BY x)), " +
        "ty AS (SELECT sum(CAST(t AS HUGEINT) * (t - 1)) AS n2x2 " +
        "FROM (SELECT CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY y)), " +
        "f AS (SELECT n, CAST(conc AS DOUBLE) AS concd, " +
        "CAST(disc AS DOUBLE) AS discd, " +
        "CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE) / 2.0 AS n0, " +
        "CAST(n1x2 AS DOUBLE) / 2.0 AS n1, " +
        "CAST(n2x2 AS DOUBLE) / 2.0 AS n2 FROM cd, tx, ty) " +
        "SELECT n, concd AS concordant, discd AS discordant, " +
        "round(CASE WHEN sqrt((n0 - n1) * (n0 - n2)) > 0 THEN " +
        "(concd - discd) / sqrt((n0 - n1) * (n0 - n2)) END, 6) AS tau_b " +
        "FROM f"),
      (s, dir) => Stats.kendallTau(Tables.lineitem(s, dir),
        col("l_quantity"), col("l_linenumber"))),

    // ---- Jarque-Bera normality of event values: decimal-exact mean
    // (rounded, broadcast), floor-quantized central moments in
    // DECIMAL(38,0)/HUGEINT (the conversion-bound discipline), skew /
    // excess kurtosis / JB as fixed IEEE shapes.
    Q("q387_jarque_bera",
      Some("WITH b AS (SELECT CAST(value AS DOUBLE) AS v FROM events " +
        "WHERE value IS NOT NULL), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "round(CAST(sum(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS mu FROM b), " +
        "c AS (SELECT n, mu, " +
        "sum(CAST(floor((v - mu) * (v - mu) * 1e6) AS HUGEINT)) AS m2, " +
        "sum(CAST(floor((v - mu) * (v - mu) * (v - mu) * 1e3) AS HUGEINT)) " +
        "AS m3, " +
        "sum(CAST(floor((v - mu) * (v - mu) * (v - mu) * (v - mu)) " +
        "AS HUGEINT)) AS m4 FROM b, m GROUP BY 1, 2), " +
        "d AS (SELECT n, mu, CAST(n AS DOUBLE) AS nd, " +
        "CAST(m2 AS DOUBLE) / 1e6 / CAST(n AS DOUBLE) AS mm2, " +
        "CAST(m3 AS DOUBLE) / 1e3 / CAST(n AS DOUBLE) AS mm3, " +
        "CAST(m4 AS DOUBLE) / CAST(n AS DOUBLE) AS mm4 FROM c), " +
        "g AS (SELECT n, mu, nd, mm2, mm3 / power(mm2, 1.5) AS g1, " +
        "mm4 / (mm2 * mm2) - 3.0 AS g2 FROM d) " +
        "SELECT n, mu AS mean, " +
        "round(CASE WHEN mm2 > 0 THEN g1 END, 6) AS skewness, " +
        "round(CASE WHEN mm2 > 0 THEN g2 END, 6) AS kurtosis_excess, " +
        "round(CASE WHEN mm2 > 0 THEN nd / 6.0 * (g1 * g1 + g2 * g2 / 4.0) " +
        "END, 6) AS jb FROM g"),
      (s, dir) => Stats.jarqueBera(Tables.events(s, dir), col("value"))),

    // ---- Mann-Kendall monotone trend of the zero-filled daily count
    // series: S over the calendar-bounded day-pair join, tie-corrected
    // variance in HUGEINT, the continuity-corrected z.
    Q("q388_mann_kendall",
      Some("WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day, " +
        "count(*) AS n FROM events GROUP BY 1), " +
        "r AS (SELECT unnest(range((SELECT min(day) FROM c), " +
        "(SELECT max(day) FROM c) + 1)) AS day), " +
        "s AS (SELECT r.day, CAST(coalesce(c.n, 0) AS BIGINT) AS n " +
        "FROM r LEFT JOIN c USING (day)), " +
        "ss AS (SELECT CAST(sum(CASE WHEN b.n > a.n THEN 1 " +
        "WHEN b.n < a.n THEN -1 ELSE 0 END) AS BIGINT) AS st " +
        "FROM s a JOIN s b ON a.day < b.day), " +
        "t AS (SELECT CAST(sum(t) AS BIGINT) AS nd, " +
        "sum(CAST(t AS HUGEINT) * (t - 1) * (t * 2 + 5)) AS tsum " +
        "FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM s GROUP BY n)), " +
        "v AS (SELECT st, nd, (CAST(nd AS DOUBLE) * " +
        "(CAST(nd AS DOUBLE) - 1.0) * (2.0 * CAST(nd AS DOUBLE) + 5.0) - " +
        "CAST(tsum AS DOUBLE)) / 18.0 AS vs FROM ss, t) " +
        "SELECT nd AS n_days, st AS s_stat, round(vs, 6) AS var_s, " +
        "round(CASE WHEN vs > 0 THEN CASE WHEN st > 0 THEN " +
        "(CAST(st AS DOUBLE) - 1.0) / sqrt(vs) WHEN st < 0 THEN " +
        "(CAST(st AS DOUBLE) + 1.0) / sqrt(vs) ELSE 0.0 END END, 6) AS z " +
        "FROM v"),
      (s, dir) => EventAnalytics.mannKendallDaily(Tables.events(s, dir),
        "ts")),

    // ---- Wald-Wolfowitz runs test of daily counts against their lower
    // MEDIAN (order statistic, never an interpolated mean): run breaks
    // from one lag window over the spine, z from the exact closed form.
    Q("q389_runs_test",
      Some("WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day, " +
        "count(*) AS n FROM events GROUP BY 1), " +
        "r AS (SELECT unnest(range((SELECT min(day) FROM c), " +
        "(SELECT max(day) FROM c) + 1)) AS day), " +
        "s AS (SELECT r.day, CAST(coalesce(c.n, 0) AS BIGINT) AS n " +
        "FROM r LEFT JOIN c USING (day)), " +
        "med AS (SELECT n AS m FROM (SELECT n, " +
        "row_number() OVER (ORDER BY n, day) AS rn, " +
        "count(*) OVER () AS nd FROM s) WHERE rn = (nd + 1) // 2), " +
        "f AS (SELECT day, n > (SELECT m FROM med) AS b FROM s), " +
        "g AS (SELECT b, lag(b) OVER (ORDER BY day) AS lb FROM f), " +
        "rr AS (SELECT CAST(count(*) AS BIGINT) AS n_days, " +
        "CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_above, " +
        "CAST(sum(CASE WHEN NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n_below, " +
        "CAST(sum(CASE WHEN lb IS NULL OR lb <> b THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS runs FROM g), " +
        "k AS (SELECT *, CAST(n_above AS DOUBLE) AS n1, " +
        "CAST(n_below AS DOUBLE) AS n2, CAST(n_days AS DOUBLE) AS nd " +
        "FROM rr) " +
        "SELECT n_days, n_above, n_below, runs, " +
        "round(CASE WHEN n_above > 0 AND n_below > 0 AND n_days > 1 AND " +
        "2.0 * n1 * n2 * (2.0 * n1 * n2 - nd) / (nd * nd * (nd - 1.0)) > 0 " +
        "THEN (CAST(runs AS DOUBLE) - (1.0 + 2.0 * n1 * n2 / nd)) / " +
        "sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - nd) / " +
        "(nd * nd * (nd - 1.0))) END, 6) AS z FROM k"),
      (s, dir) => EventAnalytics.runsTestDaily(Tables.events(s, dir), "ts")),

    // ---- Cronbach's alpha of the five per-user event-type counts (a
    // complete design by construction — zero-filled conditional sums):
    // per-item and total variances from decimal-exact moments.
    Q("q390_cronbach_alpha",
      Some("WITH u AS (SELECT user_id, " +
        "sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c_view, " +
        "sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c_click, " +
        "sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) " +
        "AS c_purchase, " +
        "sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS c_signup, " +
        "sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS c_error " +
        "FROM events GROUP BY 1), " +
        "l AS (SELECT user_id, 'view' AS item, CAST(c_view AS DOUBLE) AS v " +
        "FROM u UNION ALL SELECT user_id, 'click', CAST(c_click AS DOUBLE) " +
        "FROM u UNION ALL SELECT user_id, 'purchase', " +
        "CAST(c_purchase AS DOUBLE) FROM u UNION ALL SELECT user_id, " +
        "'signup', CAST(c_signup AS DOUBLE) FROM u UNION ALL " +
        "SELECT user_id, 'error', CAST(c_error AS DOUBLE) FROM u), " +
        "it AS (SELECT item, CAST(count(*) AS BIGINT) AS ni, " +
        "sum(CAST(v AS DECIMAL(38,6))) AS si, " +
        "sum(CAST(v * v AS DECIMAL(38,6))) AS ssi FROM l GROUP BY 1), " +
        "iv AS (SELECT CAST(count(*) AS BIGINT) AS n_items, " +
        "sum(CAST((CAST(ssi AS DOUBLE) - CAST(si AS DOUBLE) * " +
        "CAST(si AS DOUBLE) / CAST(ni AS DOUBLE)) / " +
        "CAST(ni - 1 AS DOUBLE) AS DECIMAL(28,12))) AS siv FROM it), " +
        "ut AS (SELECT user_id, sum(CAST(v AS DECIMAL(38,6))) AS tot " +
        "FROM l GROUP BY 1), " +
        "tt AS (SELECT CAST(count(*) AS BIGINT) AS n_units, " +
        "sum(tot) AS st, sum(CAST(CAST(tot AS DOUBLE) * " +
        "CAST(tot AS DOUBLE) AS DECIMAL(38,6))) AS sst FROM ut), " +
        "fv AS (SELECT n_units, n_items, siv, " +
        "(CAST(sst AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / " +
        "CAST(n_units AS DOUBLE)) / (CAST(n_units AS DOUBLE) - 1.0) AS tv " +
        "FROM tt, iv) " +
        "SELECT n_units, n_items, round(CAST(siv AS DOUBLE), 6) " +
        "AS sum_item_var, round(tv, 6) AS total_var, " +
        "round(CASE WHEN n_items >= 2 AND n_units >= 2 AND tv > 0 THEN " +
        "CAST(n_items AS DOUBLE) / (CAST(n_items AS DOUBLE) - 1.0) * " +
        "(1.0 - CAST(siv AS DOUBLE) / tv) END, 6) AS alpha FROM fv"),
      (s, dir) => {
        val u = Tables.events(s, dir).groupBy("user_id").agg(
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("c_view"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c_click"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c_purchase"),
          sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("c_signup"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("c_error"))
        val long = u.selectExpr("user_id",
          "stack(5, 'view', CAST(c_view AS DOUBLE), " +
            "'click', CAST(c_click AS DOUBLE), " +
            "'purchase', CAST(c_purchase AS DOUBLE), " +
            "'signup', CAST(c_signup AS DOUBLE), " +
            "'error', CAST(c_error AS DOUBLE)) AS (item, v)")
        Stats.cronbachAlpha(long, col("user_id"), col("item"), col("v"))
      }),

    // ---- ICC(1,1) of event values across event types: the q373 ANOVA
    // moments plus the unbalanced k0, answering "how much variance is
    // BETWEEN types" where the F only asks whether it is nonzero.
    Q("q391_icc",
      Some("WITH b AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v " +
        "FROM events WHERE value IS NOT NULL), " +
        "gr AS (SELECT g, CAST(count(*) AS BIGINT) AS ng, " +
        "sum(CAST(v AS DECIMAL(38,6))) AS sg, " +
        "sum(CAST(v * v AS DECIMAL(38,6))) AS ssg FROM b GROUP BY 1), " +
        "a AS (SELECT CAST(count(*) AS BIGINT) AS n_groups, " +
        "CAST(sum(ng) AS BIGINT) AS n, " +
        "sum(CAST(ng AS HUGEINT) * ng) AS sn2, " +
        "sum(sg) AS st, sum(ssg) AS sst, " +
        "sum(CAST((CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)) / " +
        "CAST(ng AS DOUBLE) AS DECIMAL(28,12))) AS sg2 FROM gr), " +
        "f AS (SELECT n_groups, n, CAST(n AS DOUBLE) AS nd, " +
        "CAST(n_groups AS DOUBLE) AS ad, " +
        "CAST(sg2 AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / " +
        "CAST(n AS DOUBLE) AS ssb, " +
        "CAST(sst AS DOUBLE) - CAST(sg2 AS DOUBLE) AS ssw, " +
        "(CAST(n AS DOUBLE) - CAST(sn2 AS DOUBLE) / CAST(n AS DOUBLE)) / " +
        "(CAST(n_groups AS DOUBLE) - 1.0) AS k0 FROM a), " +
        "h AS (SELECT n_groups, n, ssb / (ad - 1.0) AS msb, " +
        "ssw / (nd - ad) AS msw, k0, " +
        "n_groups > 1 AND n > n_groups AS ok FROM f) " +
        "SELECT n_groups, n, " +
        "round(CASE WHEN ok THEN msb END, 6) AS ms_between, " +
        "round(CASE WHEN ok THEN msw END, 6) AS ms_within, " +
        "round(CASE WHEN ok THEN k0 END, 6) AS k0, " +
        "round(CASE WHEN ok AND msb + (k0 - 1.0) * msw <> 0 THEN " +
        "(msb - msw) / (msb + (k0 - 1.0) * msw) END, 6) AS icc FROM h"),
      (s, dir) => Stats.icc(Tables.events(s, dir), col("event_type"),
        col("value"))),

    // ---- Harrell's C on the q362 churn fixture (duration = active span,
    // event = churned, risk score = capped activity): concordance from
    // the bounded (t, e, s) cell-pair join, exact HUGEINT masses.
    Q("q392_harrell_c",
      Some("WITH u AS (SELECT user_id, " +
        "min(epoch_us(ts) // 86400000000) AS f, " +
        "max(epoch_us(ts) // 86400000000) AS l, " +
        "CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1), " +
        "mx AS (SELECT max(l) AS mx FROM u), " +
        "d AS (SELECT CAST(l - f AS BIGINT) AS t, l < mx - 7 AS e, " +
        "CAST(least(cnt, 20) AS DOUBLE) AS sc FROM u, mx), " +
        "cells AS (SELECT t, e, sc, CAST(count(*) AS BIGINT) AS c " +
        "FROM d GROUP BY 1, 2, 3), " +
        "nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells), " +
        "p AS (SELECT a.sc AS sa, a.c AS ca, b.sc AS sb, b.c AS cb " +
        "FROM cells a JOIN cells b ON ((a.t < b.t AND a.e) OR " +
        "(a.t = b.t AND a.e AND NOT b.e))), " +
        "m AS (SELECT sum(CAST(ca AS HUGEINT) * cb) AS cmp, " +
        "sum(CASE WHEN sa > sb THEN CAST(ca AS HUGEINT) * cb ELSE 0 END) " +
        "AS conc, " +
        "sum(CASE WHEN sa = sb THEN CAST(ca AS HUGEINT) * cb ELSE 0 END) " +
        "AS tied FROM p) " +
        "SELECT n, CAST(cmp AS DOUBLE) AS comparable, " +
        "CAST(conc AS DOUBLE) AS concordant, CAST(tied AS DOUBLE) AS tied, " +
        "round(CASE WHEN cmp > 0 THEN (CAST(conc AS DOUBLE) + " +
        "CAST(tied AS DOUBLE) / 2.0) / CAST(cmp AS DOUBLE) END, 6) " +
        "AS c_index FROM m, nn"),
      (s, dir) => {
        val u = Tables.events(s, dir).groupBy("user_id").agg(
          min(EventAnalytics.dayIndex(col("ts"))).as("f"),
          max(EventAnalytics.dayIndex(col("ts"))).as("l"),
          count(lit(1)).as("cnt"))
        val mx = u.agg(max(col("l")).as("mx"))
        val d = u.crossJoin(broadcast(mx)).select(
          (col("l") - col("f")).as("dur"),
          (col("l") < col("mx") - 7).as("ev"),
          least(col("cnt"), lit(20L)).cast("double").as("sc"))
        Stats.harrellC(d, col("dur"), col("ev"), col("sc"))
      }),

    // ---- degree assortativity of the co-purchase graph: endpoint
    // degrees meet the edge list in two co-keyed hash joins; orientation
    // symmetry folds into ONE HUGEINT-exact aggregate.
    Q("q393_assortativity",
      Some("WITH " + AppliedQueries.copurchaseEdgesSql + ", " +
        "deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg " +
        "FROM (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0) " +
        "GROUP BY 1), " +
        "j AS (SELECT da.deg AS dda, db.deg AS ddb FROM e0 " +
        "JOIN deg da ON e0.a = da.node JOIN deg db ON e0.b = db.node), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS n_edges, " +
        "sum(CAST(dda + ddb AS HUGEINT)) AS sx, " +
        "sum(CAST(dda AS HUGEINT) * dda + CAST(ddb AS HUGEINT) * ddb) " +
        "AS sxx, sum(CAST(dda AS HUGEINT) * ddb * 2) AS sxy FROM j), " +
        "f AS (SELECT n_edges, " +
        "CAST(n_edges * 2 AS DOUBLE) * CAST(sxy AS DOUBLE) - " +
        "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS num, " +
        "CAST(n_edges * 2 AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
        "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den FROM m) " +
        "SELECT n_edges, round(CASE WHEN den <> 0 THEN num / den END, 6) " +
        "AS r FROM f"),
      (s, dir) => Graph.assortativity(AppliedQueries.copurchaseEdges(s, dir),
        "src", "dst")),

    // ---- Burrows' Delta between documentation sources over the top-50
    // corpus tokens: 12dp frequencies, across-group z (sigma=0 tokens
    // carry 0), per-pair mean |dz| — fightin-words' pairwise summary.
    Q("q394_burrows_delta",
      Some("WITH tok AS (SELECT source AS g, " +
        "unnest(list_filter(regexp_split_to_array(trim(lower(text)), " +
        "'\\s+'), t -> t <> '')) AS t FROM documents), " +
        "gt AS (SELECT g, t, CAST(count(*) AS BIGINT) AS c FROM tok " +
        "GROUP BY 1, 2), " +
        "top AS (SELECT t FROM (SELECT t, sum(c) AS tot FROM gt GROUP BY 1) " +
        "ORDER BY tot DESC, t LIMIT 50), " +
        "totals AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM gt " +
        "GROUP BY 1), " +
        "grid AS (SELECT totals.g, top.t, " +
        "round(CAST(coalesce(gt.c, 0) AS DOUBLE) / CAST(totals.n AS DOUBLE), " +
        "12) AS f FROM totals CROSS JOIN top LEFT JOIN gt " +
        "ON gt.g = totals.g AND gt.t = top.t), " +
        "st AS (SELECT t, CAST(count(*) AS BIGINT) AS ng, " +
        "sum(CAST(f AS DECIMAL(28,12))) AS sf, " +
        "sum(CAST(f * f AS DECIMAL(28,12))) AS sff FROM grid GROUP BY 1), " +
        "sd AS (SELECT t, CAST(sf AS DOUBLE) / CAST(ng AS DOUBLE) AS mean, " +
        "sqrt((CAST(ng AS DOUBLE) * CAST(sff AS DOUBLE) - " +
        "CAST(sf AS DOUBLE) * CAST(sf AS DOUBLE)) / " +
        "(CAST(ng AS DOUBLE) * CAST(ng AS DOUBLE))) AS sd FROM st), " +
        "z AS (SELECT g, grid.t, round(CASE WHEN sd > 0 THEN " +
        "(f - mean) / sd ELSE 0.0 END, 6) AS z FROM grid JOIN sd " +
        "ON grid.t = sd.t) " +
        "SELECT l.g AS group_a, r.g AS group_b, " +
        "round(CAST(sum(CAST(abs(l.z - r.z) AS DECIMAL(28,12))) AS DOUBLE) " +
        "/ CAST(count(*) AS DOUBLE), 6) AS delta FROM z l JOIN z r " +
        "ON l.t = r.t AND l.g < r.g GROUP BY 1, 2 ORDER BY 1, 2"),
      (s, dir) => TA.burrowsDelta(Tables.documents(s, dir), col("source"),
          "text", topV = 50)
        .orderBy("group_a", "group_b")),

    // ---- Heaps'-law vocabulary growth over 16 doc-id-order prefixes:
    // first occurrence = min(doc_id) per token (one rollup, never a
    // prefix-distinct), integer checkpoint buckets, log-log OLS.
    Q("q395_heaps_law",
      Some("WITH dt AS (SELECT doc_id AS id, " +
        "unnest(list_filter(regexp_split_to_array(trim(lower(text)), " +
        "'\\s+'), t -> t <> '')) AS t FROM documents), " +
        "mx AS (SELECT max(id) AS mx FROM dt), " +
        "bt AS (SELECT ((id + 1) * 16 + mx) // (mx + 1) AS b, " +
        "count(*) AS nt FROM dt, mx GROUP BY 1), " +
        "bv AS (SELECT ((fid + 1) * 16 + mx) // (mx + 1) AS b, " +
        "count(*) AS nv FROM (SELECT min(id) AS fid FROM dt GROUP BY t), " +
        "mx GROUP BY 1), " +
        "sp AS (SELECT unnest(range(1, 17)) AS b), " +
        "pts AS (SELECT b, " +
        "sum(coalesce(nt, 0)) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND CURRENT ROW) AS nn, " +
        "sum(coalesce(nv, 0)) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND CURRENT ROW) AS vv FROM sp " +
        "LEFT JOIN bt USING (b) LEFT JOIN bv USING (b)), " +
        "lp AS (SELECT round(ln(CAST(nn AS DOUBLE)), 12) AS x, " +
        "round(ln(CAST(vv AS DOUBLE)), 12) AS y, nn, vv FROM pts " +
        "WHERE nn > 0 AND vv > 0), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS n_checkpoints, " +
        "CAST(max(nn) AS BIGINT) AS total_tokens, " +
        "CAST(max(vv) AS BIGINT) AS vocabulary, " +
        "sum(CAST(x AS DECIMAL(28,12))) AS sx, " +
        "sum(CAST(y AS DECIMAL(28,12))) AS sy, " +
        "sum(CAST(x * y AS DECIMAL(28,12))) AS sxy, " +
        "sum(CAST(x * x AS DECIMAL(28,12))) AS sxx FROM lp), " +
        "f AS (SELECT n_checkpoints, total_tokens, vocabulary, " +
        "CAST(n_checkpoints AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd, " +
        "CAST(sy AS DOUBLE) AS syd, " +
        "CAST(n_checkpoints AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
        "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varx, " +
        "CAST(n_checkpoints AS DOUBLE) * CAST(sxy AS DOUBLE) - " +
        "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov FROM m) " +
        "SELECT n_checkpoints, total_tokens, vocabulary, " +
        "round(CASE WHEN varx <> 0 THEN cov / varx END, 6) AS beta, " +
        "round(CASE WHEN varx <> 0 THEN exp(syd / nd - " +
        "(cov / varx) * sxd / nd) END, 6) AS k_coef FROM f"),
      (s, dir) => TA.heapsLaw(Tables.documents(s, dir), "doc_id", "text",
        checkpoints = 16)),

    // ---- Lo-MacKinlay variance ratio (k=5) of daily counts: integer
    // diff series off the calendar spine, HUGEINT-exact population
    // variances, one ratio.
    Q("q396_variance_ratio",
      Some("WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day, " +
        "count(*) AS n FROM events GROUP BY 1), " +
        "r AS (SELECT unnest(range((SELECT min(day) FROM c), " +
        "(SELECT max(day) FROM c) + 1)) AS day), " +
        "s AS (SELECT r.day, CAST(coalesce(c.n, 0) AS BIGINT) AS n " +
        "FROM r LEFT JOIN c USING (day)), " +
        "d AS (SELECT n - lag(n, 1) OVER (ORDER BY day) AS d1, " +
        "n - lag(n, 5) OVER (ORDER BY day) AS dk FROM s), " +
        "m AS (SELECT " +
        "CAST(sum(CASE WHEN d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n1, sum(CAST(d1 AS HUGEINT)) AS s1, " +
        "sum(CAST(d1 AS HUGEINT) * d1) AS ss1, " +
        "CAST(sum(CASE WHEN dk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS nk, sum(CAST(dk AS HUGEINT)) AS sk, " +
        "sum(CAST(dk AS HUGEINT) * dk) AS ssk FROM d), " +
        "f AS (SELECT n1, nk, " +
        "(CAST(n1 AS DOUBLE) * CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * " +
        "CAST(s1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)) " +
        "AS v1, " +
        "(CAST(nk AS DOUBLE) * CAST(ssk AS DOUBLE) - CAST(sk AS DOUBLE) * " +
        "CAST(sk AS DOUBLE)) / (CAST(nk AS DOUBLE) * CAST(nk AS DOUBLE)) " +
        "AS vk FROM m) " +
        "SELECT n1, nk, round(v1, 6) AS var_1, round(vk, 6) AS var_k, " +
        "round(CASE WHEN n1 > 0 AND nk > 0 AND v1 > 0 THEN " +
        "vk / (5.0 * v1) END, 6) AS vr FROM f"),
      (s, dir) => EventAnalytics.varianceRatioDaily(Tables.events(s, dir),
        "ts", k = 5)),

    // ---- per-day peak concurrency of 30-minute-gap sessions: carry-in
    // by projection off the day-exploded intervals, within-day +1/-1
    // cumulation in a DAY-partitioned window (ends before starts at
    // ties — [s,e) semantics), never a global timeline sort.
    Q("q397_peak_concurrency",
      Some("WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us " +
        "FROM events), " +
        "f AS (SELECT user_id, us, CASE WHEN lag(us) OVER w IS NULL OR " +
        "us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS nf FROM e " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)), " +
        "y AS (SELECT user_id, us, sum(nf) OVER " +
        "(PARTITION BY user_id ORDER BY us) AS sid FROM f), " +
        "iv AS (SELECT min(us) AS st, max(us) AS en FROM y " +
        "GROUP BY user_id, sid), " +
        "touched AS (SELECT st, en, unnest(range(st // 86400000000, " +
        "greatest(en - 1, st) // 86400000000 + 1)) AS day FROM iv), " +
        "car AS (SELECT day, CAST(sum(CASE WHEN st // 86400000000 < day " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS carried_in FROM touched " +
        "GROUP BY 1), " +
        "pts AS (SELECT st AS ts, 1 AS dd FROM iv WHERE en > st " +
        "UNION ALL SELECT en, -1 FROM iv WHERE en > st " +
        "AND en % 86400000000 <> 0), " +
        "run AS (SELECT ts // 86400000000 AS day, " +
        "sum(dd) OVER (PARTITION BY ts // 86400000000 ORDER BY ts, dd " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rr " +
        "FROM pts), " +
        "pk AS (SELECT day, greatest(max(rr), 0) AS p FROM run GROUP BY 1) " +
        "SELECT car.day, carried_in, " +
        "CAST(carried_in + coalesce(p, 0) AS BIGINT) AS peak " +
        "FROM car LEFT JOIN pk USING (day) ORDER BY day"),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables.events(s, dir).select(col("user_id"), col("event_id"),
          EventAnalytics.micros(col("ts")).as("us"))
        val w = Window.partitionBy("user_id")
          .orderBy(col("us").asc, col("event_id").asc)
        val sess = e
          .withColumn("__nf", when(lag(col("us"), 1).over(w).isNull ||
            col("us") - lag(col("us"), 1).over(w) > 1800000000L, 1L)
            .otherwise(0L))
          .withColumn("__sid", sum(col("__nf")).over(
            Window.partitionBy("user_id").orderBy(col("us").asc)))
          .groupBy("user_id", "__sid")
          .agg(min(col("us")).as("s_us"), max(col("us")).as("e_us"))
        EventAnalytics.peakConcurrency(sess, col("s_us"), col("e_us"))
          .orderBy("day")
      }),

    // ---- daily Sharpe/Sortino of the cent-quantized value flow:
    // integer day-over-day diffs off the spine, HUGEINT moments,
    // unannualized ratios (annualization is a caller constant).
    Q("q398_risk_ratios",
      Some("WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s " +
        "FROM events GROUP BY 1), " +
        "r AS (SELECT unnest(range((SELECT min(day) FROM c), " +
        "(SELECT max(day) FROM c) + 1)) AS day), " +
        "sp AS (SELECT r.day, coalesce(c.s, 0) AS s FROM r " +
        "LEFT JOIN c USING (day)), " +
        "d AS (SELECT s - lag(s, 1) OVER (ORDER BY day) AS d FROM sp), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS n_days, " +
        "sum(CAST(d AS HUGEINT)) AS sd, " +
        "sum(CAST(d AS HUGEINT) * d) AS sdd, " +
        "sum(CASE WHEN d < 0 THEN CAST(d AS HUGEINT) * d ELSE 0 END) " +
        "AS sdn FROM d WHERE d IS NOT NULL), " +
        "f AS (SELECT n_days, CAST(sd AS DOUBLE) / CAST(n_days AS DOUBLE) " +
        "AS mean, sqrt((CAST(n_days AS DOUBLE) * CAST(sdd AS DOUBLE) - " +
        "CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)) / " +
        "(CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE))) AS sdv, " +
        "sqrt(CAST(sdn AS DOUBLE) / CAST(n_days AS DOUBLE)) AS dsd FROM m) " +
        "SELECT n_days, round(mean, 6) AS mean_diff, " +
        "round(sdv, 6) AS sd_diff, round(dsd, 6) AS downside_sd, " +
        "round(CASE WHEN sdv > 0 THEN mean / sdv END, 6) AS sharpe, " +
        "round(CASE WHEN dsd > 0 THEN mean / dsd END, 6) AS sortino FROM f"),
      (s, dir) => Finance.dailyRiskRatios(Tables.events(s, dir), "ts",
        col("value"))),

    // ---- entropy rate of the event-type transition chain: exact counts
    // off the per-user window, -ln p rounded 12dp then integer-weighted
    // (PSI discipline), perplexity = e^H.
    Q("q399_transition_entropy",
      Some("WITH p AS (SELECT event_type AS src, lead(event_type) OVER " +
        "(PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS dst " +
        "FROM events), " +
        "c AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n FROM p " +
        "WHERE dst IS NOT NULL GROUP BY 1, 2), " +
        "r AS (SELECT src, CAST(sum(n) AS BIGINT) AS rt FROM c GROUP BY 1), " +
        "t AS (SELECT CAST(-ln(CAST(n AS DOUBLE) / CAST(rt AS DOUBLE)) " +
        "AS DECIMAL(18,12)) AS term, n, src FROM c JOIN r USING (src)), " +
        "m AS (SELECT CAST(count(DISTINCT src) AS BIGINT) AS n_states, " +
        "CAST(sum(n) AS BIGINT) AS n_transitions, " +
        "sum(term * CAST(n AS DECIMAL(19,0))) AS ht FROM t) " +
        "SELECT n_states, n_transitions, " +
        "round(CAST(ht AS DOUBLE) / CAST(n_transitions AS DOUBLE), 6) " +
        "AS entropy_rate, " +
        "round(exp(CAST(ht AS DOUBLE) / CAST(n_transitions AS DOUBLE)), 6) " +
        "AS perplexity FROM m"),
      (s, dir) => EventAnalytics.transitionEntropy(Tables.events(s, dir),
        "user_id", "event_id", "ts", "event_type")),

    // ---- Kaplan-Meier with the Greenwood SE on the q332 churn fixture:
    // the d/(n(n-d)) terms ride the same DECIMAL(28,12) running-window
    // discipline as the ln terms; n(n-d) multiplies in HUGEINT.
    Q("q400_km_greenwood",
      Some("WITH u AS (SELECT user_id, " +
        "min(epoch_us(ts) // 86400000000) AS f, " +
        "max(epoch_us(ts) // 86400000000) AS l FROM events GROUP BY 1), " +
        "mx AS (SELECT max(l) AS mx FROM u), " +
        "d AS (SELECT l - f AS duration, l < mx - 7 AS ev FROM u, mx), " +
        "pt AS (SELECT duration, CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_events, CAST(sum(CASE WHEN ev THEN 0 ELSE 1 END) " +
        "AS BIGINT) AS n_censored FROM d GROUP BY 1), " +
        "t AS (SELECT CAST(sum(n_events + n_censored) AS BIGINT) AS n " +
        "FROM pt), " +
        "r AS (SELECT duration, n_events, n_censored, n - " +
        "coalesce(CAST(sum(n_events + n_censored) OVER (ORDER BY duration " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) " +
        "AS n_at_risk FROM pt, t), " +
        "sv AS (SELECT duration, n_at_risk, n_events, n_censored, " +
        "CASE WHEN n_events > 0 AND n_events < n_at_risk THEN " +
        "CAST(ln(1.0 - CAST(n_events AS DOUBLE) / CAST(n_at_risk " +
        "AS DOUBLE)) AS DECIMAL(28,12)) ELSE CAST(0.0 AS DECIMAL(28,12)) " +
        "END AS term, " +
        "CASE WHEN n_events > 0 AND n_events < n_at_risk THEN " +
        "CAST(CAST(n_events AS DOUBLE) / CAST(CAST(n_at_risk AS HUGEINT) * " +
        "(n_at_risk - n_events) AS DOUBLE) AS DECIMAL(28,12)) " +
        "ELSE CAST(0.0 AS DECIMAL(28,12)) END AS gt, " +
        "CASE WHEN n_events = n_at_risk THEN 1 ELSE 0 END AS dd FROM r) " +
        "SELECT duration, n_at_risk, n_events, n_censored, " +
        "round(CASE WHEN max(dd) OVER w = 1 THEN 0.0 ELSE " +
        "exp(CAST(sum(term) OVER w AS DOUBLE)) END, 6) AS survival, " +
        "round(CASE WHEN max(dd) OVER w = 1 THEN NULL ELSE " +
        "exp(CAST(sum(term) OVER w AS DOUBLE)) * " +
        "sqrt(CAST(sum(gt) OVER w AS DOUBLE)) END, 6) AS greenwood_se " +
        "FROM sv WINDOW w AS (ORDER BY duration ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND CURRENT ROW) ORDER BY duration"),
      (s, dir) => {
        val u = Tables.events(s, dir)
          .select(col("user_id"), EventAnalytics.dayIndex(col("ts")).as("d"))
          .groupBy("user_id")
          .agg(min(col("d")).as("f"), max(col("d")).as("l"))
        val mx = u.agg(max(col("l")).as("mx"))
        val d = u.crossJoin(broadcast(mx))
          .select((col("l") - col("f")).as("dur"),
            (col("l") < col("mx") - 7).as("ev"))
        EventAnalytics.kmGreenwood(d, col("dur"), col("ev"))
          .orderBy("duration")
      }),

    // ---- Aalen-Johansen cumulative incidence with two competing churn
    // causes (user-parity split): CIF increments S(u-)*d_k/n ride the
    // decimal running window PARTITIONED BY CAUSE; naive 1-KM per cause
    // would overstate both.
    Q("q401_cumulative_incidence",
      Some("WITH u AS (SELECT user_id, " +
        "min(epoch_us(ts) // 86400000000) AS f, " +
        "max(epoch_us(ts) // 86400000000) AS l FROM events GROUP BY 1), " +
        "mx AS (SELECT max(l) AS mx FROM u), " +
        // span-based failure (short-span users churned from cause 1 or 2
        // by parity; >= 29-day spans censored): both classes populated at
        // every SF where a last-week-activity rule censors ~everyone
        "dd AS (SELECT CAST(l - f AS BIGINT) AS duration, " +
        "CASE WHEN l - f >= 29 THEN 0 ELSE 1 + user_id % 2 END AS k " +
        "FROM u, mx), " +
        "pt AS (SELECT duration, CAST(count(*) AS BIGINT) AS c, " +
        "CAST(sum(CASE WHEN k > 0 THEN 1 ELSE 0 END) AS BIGINT) AS d " +
        "FROM dd GROUP BY 1), " +
        "t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM pt), " +
        "r AS (SELECT duration, c, d, n - coalesce(CAST(sum(c) OVER wp " +
        "AS BIGINT), 0) AS n_at_risk FROM pt, t WINDOW wp AS " +
        "(ORDER BY duration ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        "1 PRECEDING)), " +
        "sv AS (SELECT duration, n_at_risk, " +
        "CASE WHEN d > 0 AND d < n_at_risk THEN CAST(ln(1.0 - " +
        "CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE)) " +
        "AS DECIMAL(28,12)) ELSE CAST(0.0 AS DECIMAL(28,12)) END AS term, " +
        "CASE WHEN d = n_at_risk THEN 1 ELSE 0 END AS ddf FROM r), " +
        "sp AS (SELECT duration, n_at_risk, " +
        "CASE WHEN coalesce(max(ddf) OVER wp, 0) = 1 THEN 0.0 ELSE " +
        "exp(coalesce(CAST(sum(term) OVER wp AS DOUBLE), 0.0)) END " +
        "AS sprev FROM sv WINDOW wp AS (ORDER BY duration ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND 1 PRECEDING)), " +
        "ptc AS (SELECT duration, CAST(k AS BIGINT) AS cause, " +
        "CAST(count(*) AS BIGINT) AS n_events FROM dd WHERE k > 0 " +
        "GROUP BY 1, 2), " +
        "j AS (SELECT ptc.duration, cause, n_at_risk, n_events, " +
        "CAST(sprev * CAST(n_events AS DOUBLE) / CAST(n_at_risk AS DOUBLE) " +
        "AS DECIMAL(28,12)) AS inc FROM ptc JOIN sp " +
        "ON ptc.duration = sp.duration) " +
        "SELECT duration, cause, n_at_risk, n_events, " +
        "round(CAST(sum(inc) OVER (PARTITION BY cause ORDER BY duration " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6) " +
        "AS cif FROM j ORDER BY cause, duration"),
      (s, dir) => {
        val u = Tables.events(s, dir)
          .select(col("user_id"), EventAnalytics.dayIndex(col("ts")).as("d"))
          .groupBy("user_id")
          .agg(min(col("d")).as("f"), max(col("d")).as("l"))
        val mx = u.agg(max(col("l")).as("mx"))
        val d = u.crossJoin(broadcast(mx))
          .select((col("l") - col("f")).as("dur"),
            when(col("l") - col("f") >= 29, 0L)
              .otherwise(lit(1L) + pmod(col("user_id"), lit(2L))).as("k"))
        EventAnalytics.cumulativeIncidence(d, col("dur"), col("k"))
          .orderBy("cause", "duration")
      }),

    // ---- Cohen's d / Hedges' g for purchase vs non-purchase event
    // values: one conditional-moment pass, pooled sample SD, the
    // 3/(4N-9) small-sample correction.
    Q("q402_effect_size",
      Some("WITH b AS (SELECT event_type = 'purchase' AS a, " +
        "CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL), " +
        "m AS (SELECT " +
        "CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "sum(CASE WHEN a THEN CAST(v AS DECIMAL(38,6)) END) AS sa, " +
        "sum(CASE WHEN a THEN CAST(v * v AS DECIMAL(38,6)) END) AS ssa, " +
        "CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
        "sum(CASE WHEN NOT a THEN CAST(v AS DECIMAL(38,6)) END) AS sb, " +
        "sum(CASE WHEN NOT a THEN CAST(v * v AS DECIMAL(38,6)) END) AS ssb " +
        "FROM b), " +
        "f AS (SELECT n_a, n_b, " +
        "CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma, " +
        "CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb, " +
        "CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / " +
        "CAST(n_a AS DOUBLE) AS da, " +
        "CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / " +
        "CAST(n_b AS DOUBLE) AS db, " +
        "CAST(n_a + n_b AS DOUBLE) AS nt FROM m), " +
        "g AS (SELECT n_a, n_b, ma, mb, nt, " +
        "sqrt((da + db) / (nt - 2.0)) AS sp FROM f) " +
        "SELECT n_a, n_b, round(ma, 6) AS mean_a, round(mb, 6) AS mean_b, " +
        "round(CASE WHEN n_a > 1 AND n_b > 1 THEN sp END, 6) AS pooled_sd, " +
        "round(CASE WHEN n_a > 1 AND n_b > 1 AND sp > 0 THEN " +
        "(ma - mb) / sp END, 6) AS cohen_d, " +
        "round(CASE WHEN n_a > 1 AND n_b > 1 AND sp > 0 THEN " +
        "(ma - mb) / sp * (1.0 - 3.0 / (4.0 * nt - 9.0)) END, 6) " +
        "AS hedges_g FROM g"),
      (s, dir) => Stats.effectSize(Tables.events(s, dir),
        col("event_type") === "purchase", col("value"))),

    // ---- Bland-Altman agreement between per-user view and click counts:
    // bias / limits from one decimal-moment pass, the outside count
    // gated on the ROUNDED broadcast limits (two-pass, engine-identical).
    Q("q403_bland_altman",
      Some("WITH u AS (SELECT user_id, " +
        "CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS x, " +
        "CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS y FROM events GROUP BY 1), " +
        "b AS (SELECT CAST(x AS DOUBLE) - CAST(y AS DOUBLE) AS d FROM u), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "sum(CAST(d AS DECIMAL(38,6))) AS s, " +
        "sum(CAST(d * d AS DECIMAL(38,6))) AS ss FROM b), " +
        "st AS (SELECT n, " +
        "round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS bias, " +
        "round(CASE WHEN n > 1 THEN sqrt((CAST(ss AS DOUBLE) - " +
        "CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / " +
        "(CAST(n AS DOUBLE) - 1.0)) END, 6) AS sd_diff, " +
        "round(CASE WHEN n > 1 THEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE) " +
        "- 1.96 * sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * " +
        "CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - " +
        "1.0)) END, 6) AS loa_lo, " +
        "round(CASE WHEN n > 1 THEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE) " +
        "+ 1.96 * sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * " +
        "CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - " +
        "1.0)) END, 6) AS loa_hi FROM m) " +
        "SELECT n, bias, sd_diff, loa_lo, loa_hi, " +
        "CAST(sum(CASE WHEN loa_lo IS NOT NULL AND (d < loa_lo OR " +
        "d > loa_hi) THEN 1 ELSE 0 END) AS BIGINT) AS n_outside " +
        "FROM b, st GROUP BY 1, 2, 3, 4, 5"),
      (s, dir) => {
        val u = Tables.events(s, dir).groupBy("user_id").agg(
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("y"))
        Stats.blandAltman(u, col("x"), col("y"))
      }),

    // ---- Gwet's AC1 on the q369 three-rater length panel: same observed
    // agreement, paradox-resistant chance term sum pi(1-pi)/(K-1).
    Q("q404_gwet_ac1", {
      val aCase = "CASE WHEN n_chars < 150 THEN 'short' " +
        "WHEN n_chars < 350 THEN 'medium' ELSE 'long' END"
      val bCase = "CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) < 30 " +
        "THEN 'short' WHEN len(regexp_split_to_array(trim(text), '\\s+')) < 65 " +
        "THEN 'medium' ELSE 'long' END"
      val cCase = "CASE WHEN greatest(len(regexp_extract_all(text, " +
        "'[.!?]+')), 1) < 3 THEN 'short' WHEN greatest(len(" +
        "regexp_extract_all(text, '[.!?]+')), 1) < 6 THEN 'medium' " +
        "ELSE 'long' END"
      Some(s"WITH r AS (SELECT doc_id, $aCase AS cat FROM documents " +
        s"UNION ALL SELECT doc_id, $bCase FROM documents " +
        s"UNION ALL SELECT doc_id, $cCase FROM documents), " +
        "cells AS (SELECT doc_id, cat, CAST(count(*) AS BIGINT) AS n " +
        "FROM r GROUP BY 1, 2), " +
        "items AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS ni, " +
        "CAST(sum(n * n) AS BIGINT) AS sq FROM cells GROUP BY 1), " +
        "ia AS (SELECT CAST(count(*) AS BIGINT) AS n_items, " +
        "CAST(min(ni) AS BIGINT) AS nmin, CAST(max(ni) AS BIGINT) AS nmax, " +
        "sum(CAST(CAST(sq - ni AS DOUBLE) / CAST(ni * (ni - 1) AS DOUBLE) " +
        "AS DECIMAL(28,12))) AS pisum FROM items), " +
        "tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM cells), " +
        "ca AS (SELECT CAST(count(*) AS BIGINT) AS n_categories, " +
        "sum(CAST((CAST(nj AS DOUBLE) / CAST(tot AS DOUBLE)) * (1.0 - " +
        "CAST(nj AS DOUBLE) / CAST(tot AS DOUBLE)) AS DECIMAL(28,12))) " +
        "AS pisum2 FROM (SELECT cat, CAST(sum(n) AS BIGINT) AS nj " +
        "FROM cells GROUP BY 1), tot), " +
        "f AS (SELECT n_items, nmax, nmin, n_categories, " +
        "CAST(pisum AS DOUBLE) / CAST(n_items AS DOUBLE) AS pa, " +
        "CAST(pisum2 AS DOUBLE) / CAST(n_categories - 1 AS DOUBLE) AS pe " +
        "FROM ia, ca) " +
        "SELECT n_items, nmax AS n_raters, n_categories, " +
        "round(pa, 6) AS p_a, " +
        "round(CASE WHEN n_categories > 1 THEN pe END, 6) AS p_e_ac1, " +
        "round(CASE WHEN nmin = nmax AND n_categories > 1 AND pe < 1.0 " +
        "THEN (pa - pe) / (1.0 - pe) END, 6) AS ac1 FROM f")
    },
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val ntok = size(TA.tokens(col("text")))
        val nsent = greatest(
          size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))),
          lit(1))
        val r = d.select(col("doc_id"),
            when(col("n_chars") < 150, "short")
              .when(col("n_chars") < 350, "medium").otherwise("long")
              .as("cat"))
          .unionByName(d.select(col("doc_id"),
            when(ntok < 30, "short").when(ntok < 65, "medium")
              .otherwise("long").as("cat")))
          .unionByName(d.select(col("doc_id"),
            when(nsent < 3, "short").when(nsent < 6, "medium")
              .otherwise("long").as("cat")))
        Stats.gwetAC1(r, col("doc_id"), col("cat"))
      }),

    // ---- Ljung-Box portmanteau over 7 lags of daily counts: exact
    // micro-unit deviations (long), HUGEINT autocovariances off ONE
    // day+k equi join, decimal-summed rho^2/(n-k) terms.
    Q("q405_ljung_box",
      Some("WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day, " +
        "count(*) AS n FROM events GROUP BY 1), " +
        "r AS (SELECT unnest(range((SELECT min(day) FROM c), " +
        "(SELECT max(day) FROM c) + 1)) AS day), " +
        "s AS (SELECT r.day, CAST(coalesce(c.n, 0) AS BIGINT) AS n " +
        "FROM r LEFT JOIN c USING (day)), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS nd, " +
        "CAST(round(round(CAST(sum(CAST(n AS DECIMAL(38,6))) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) * 1e6) AS BIGINT) AS mm FROM s), " +
        "dev AS (SELECT day, n * 1000000 - mm AS x, nd FROM s, m), " +
        "den AS (SELECT sum(CAST(x AS HUGEINT) * x) AS den, " +
        "CAST(max(nd) AS BIGINT) AS n_days FROM dev), " +
        "lg AS (SELECT a.x AS xa, b.x AS xb, a.k FROM " +
        "(SELECT day, x, unnest(range(1, 8)) AS k FROM dev) a " +
        "JOIN dev b ON b.day = a.day + a.k), " +
        "num AS (SELECT k, sum(CAST(xa AS HUGEINT) * xb) AS num FROM lg " +
        "GROUP BY 1), " +
        "t AS (SELECT CAST((CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) * " +
        "(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) / " +
        "CAST(n_days - k AS DOUBLE) AS DECIMAL(28,12)) AS t, n_days " +
        "FROM num, den) " +
        "SELECT CAST(max(n_days) AS BIGINT) AS n_days, " +
        "CAST(count(*) AS BIGINT) AS n_lags, " +
        "round(CAST(max(n_days) AS DOUBLE) * " +
        "CAST(max(n_days) + 2 AS DOUBLE) * CAST(sum(t) AS DOUBLE), 6) " +
        "AS q_stat FROM t"),
      (s, dir) => EventAnalytics.ljungBox(Tables.events(s, dir), "ts",
        maxLag = 7)),

    // ---- Yule's K per documentation source: the frequency-of-frequency
    // rollup, HUGEINT m^2*Vm, one closed form — the repeat-heaviness
    // constant next to q364's Chao1.
    Q("q406_yules_k",
      Some("WITH tok AS (SELECT source, " +
        "unnest(list_filter(regexp_split_to_array(trim(lower(text)), " +
        "'\\s+'), t -> t <> '')) AS t FROM documents), " +
        "fr AS (SELECT source, t, CAST(count(*) AS BIGINT) AS m FROM tok " +
        "GROUP BY 1, 2), " +
        "ff AS (SELECT source, m, CAST(count(*) AS BIGINT) AS vm FROM fr " +
        "GROUP BY 1, 2), " +
        "g AS (SELECT source, sum(CAST(m AS HUGEINT) * vm) AS n, " +
        "CAST(sum(vm) AS BIGINT) AS n_types, " +
        "sum(CAST(m AS HUGEINT) * m * vm) AS m2v FROM ff GROUP BY 1) " +
        "SELECT source, CAST(n AS BIGINT) AS n_tokens, n_types, " +
        "round(1e4 * (CAST(m2v AS DOUBLE) - CAST(n AS DOUBLE)) / " +
        "(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS yules_k " +
        "FROM g ORDER BY source"),
      (s, dir) => TA.yulesK(Tables.documents(s, dir), Seq("source"), "text")
        .orderBy("source"))
  )
}

/** Round-15 third wave: within-subject designs, composite endpoints, and
  * population estimation. Same discipline as StatsQueries2. */
object StatsQueries3 {

  val qs: Seq[Q] = Seq(

    // ---- Pocock win ratio on the span-churn fixture (treat = even
    // users, secondary = capped activity): hierarchical T x C cell-pair
    // comparison, survival layer first, HUGEINT masses.
    Q("q407_win_ratio",
      Some("WITH u AS (SELECT user_id, " +
        "min(epoch_us(ts) // 86400000000) AS f, " +
        "max(epoch_us(ts) // 86400000000) AS l, " +
        "CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1), " +
        "d AS (SELECT user_id % 2 = 0 AS tr, CAST(l - f AS BIGINT) AS t, " +
        "l - f < 29 AS e, CAST(least(cnt, 20) AS DOUBLE) AS s FROM u), " +
        "ta AS (SELECT t AS ta, e AS ea, s AS sa, " +
        "CAST(count(*) AS BIGINT) AS ca FROM d WHERE tr GROUP BY 1, 2, 3), " +
        "cb AS (SELECT t AS tb, e AS eb, s AS sb, " +
        "CAST(count(*) AS BIGINT) AS cc FROM d WHERE NOT tr " +
        "GROUP BY 1, 2, 3), " +
        "ns AS (SELECT CAST(sum(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_treat, CAST(sum(CASE WHEN NOT tr THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_ctrl FROM d), " +
        "p AS (SELECT ta, ea, sa, ca, tb, eb, sb, cc, " +
        "(tb < ta AND eb) OR (tb = ta AND eb AND NOT ea) AS twin, " +
        "(ta < tb AND ea) OR (ta = tb AND ea AND NOT eb) AS tloss " +
        "FROM ta CROSS JOIN cb), " +
        "m AS (SELECT " +
        "sum(CASE WHEN twin OR (NOT tloss AND sa > sb) THEN " +
        "CAST(ca AS HUGEINT) * cc ELSE 0 END) AS w, " +
        "sum(CASE WHEN tloss OR (NOT twin AND NOT tloss AND sa < sb) THEN " +
        "CAST(ca AS HUGEINT) * cc ELSE 0 END) AS l, " +
        "sum(CASE WHEN NOT twin AND NOT tloss AND sa = sb THEN " +
        "CAST(ca AS HUGEINT) * cc ELSE 0 END) AS ti FROM p) " +
        "SELECT n_treat, n_ctrl, CAST(w AS DOUBLE) AS wins, " +
        "CAST(l AS DOUBLE) AS losses, CAST(ti AS DOUBLE) AS ties, " +
        "round(CASE WHEN l > 0 THEN CAST(w AS DOUBLE) / CAST(l AS DOUBLE) " +
        "END, 6) AS win_ratio FROM m, ns"),
      (s, dir) => {
        val u = Tables.events(s, dir).groupBy("user_id").agg(
          min(EventAnalytics.dayIndex(col("ts"))).as("f"),
          max(EventAnalytics.dayIndex(col("ts"))).as("l"),
          count(lit(1)).as("cnt"))
        val d = u.select((pmod(col("user_id"), lit(2L)) === 0).as("tr"),
          (col("l") - col("f")).as("dur"),
          (col("l") - col("f") < 29).as("ev"),
          least(col("cnt"), lit(20L)).cast("double").as("sc"))
        Stats.winRatio(d, col("tr"), col("dur"), col("ev"), col("sc"))
      }),

    // ---- Cochran's Q over three per-user binary conditions (did the
    // user view / click / purchase at all): exact integer row/column
    // terms, loud incomplete raise (complete by construction).
    Q("q408_cochran_q",
      Some("WITH u AS (SELECT user_id, " +
        "max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS s_view, " +
        "max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS s_click, " +
        "max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) " +
        "AS s_purchase FROM events GROUP BY 1), " +
        "l AS (SELECT user_id, 'view' AS c, s_view AS x FROM u UNION ALL " +
        "SELECT user_id, 'click', s_click FROM u UNION ALL " +
        "SELECT user_id, 'purchase', s_purchase FROM u), " +
        "rw AS (SELECT CAST(count(*) AS BIGINT) AS n_units, " +
        "CAST(sum(r) AS BIGINT) AS sr, sum(CAST(r AS HUGEINT) * r) AS srr " +
        "FROM (SELECT user_id, CAST(sum(x) AS BIGINT) AS r FROM l " +
        "GROUP BY 1)), " +
        "cl AS (SELECT CAST(count(*) AS BIGINT) AS k, " +
        "CAST(sum(cj) AS BIGINT) AS sc, sum(CAST(cj AS HUGEINT) * cj) " +
        "AS scc FROM (SELECT c, CAST(sum(x) AS BIGINT) AS cj FROM l " +
        "GROUP BY 1)), " +
        "f AS (SELECT n_units, k, CAST(k AS DOUBLE) AS kd, " +
        "(CAST(k AS DOUBLE) - 1.0) * " +
        "(CAST(k AS DOUBLE) * CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * " +
        "CAST(sc AS DOUBLE)) AS num, " +
        "CAST(k AS DOUBLE) * CAST(sr AS DOUBLE) - CAST(srr AS DOUBLE) " +
        "AS den FROM rw, cl) " +
        "SELECT n_units, k AS n_conditions, " +
        "round(CASE WHEN den > 0 THEN num / den END, 6) AS q_stat, " +
        "CAST(k - 1 AS BIGINT) AS dof FROM f"),
      (s, dir) => {
        val u = Tables.events(s, dir).groupBy("user_id").agg(
          max(when(col("event_type") === "view", 1L).otherwise(0L)).as("s_view"),
          max(when(col("event_type") === "click", 1L).otherwise(0L)).as("s_click"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("s_purchase"))
        val long = u.selectExpr("user_id",
          "stack(3, 'view', s_view, 'click', s_click, " +
            "'purchase', s_purchase) AS (c, x)")
        Stats.cochranQ(long, col("user_id"), col("c"), col("x") === 1L)
      }),

    // ---- Friedman test over three per-user event-type counts: doubled
    // dyadic average ranks (Conover tie-safe integer form), per-unit
    // rank windows over <= 3 rows, ONE IEEE division.
    Q("q409_friedman",
      Some("WITH u AS (SELECT user_id, " +
        "sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c_view, " +
        "sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c_click, " +
        "sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) " +
        "AS c_purchase FROM events GROUP BY 1), " +
        "l AS (SELECT user_id, 'view' AS c, CAST(c_view AS DOUBLE) AS v " +
        "FROM u UNION ALL SELECT user_id, 'click', " +
        "CAST(c_click AS DOUBLE) FROM u UNION ALL SELECT user_id, " +
        "'purchase', CAST(c_purchase AS DOUBLE) FROM u), " +
        "vals AS (SELECT user_id, v, CAST(count(*) AS BIGINT) AS t FROM l " +
        "GROUP BY 1, 2), " +
        "rk AS (SELECT user_id, v, 2 * CAST(sum(t) OVER (PARTITION BY " +
        "user_id ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT " +
        "ROW) AS BIGINT) - t + 1 AS r2 FROM vals), " +
        "j AS (SELECT l.c, rk.r2 FROM l JOIN rk ON l.user_id = rk.user_id " +
        "AND l.v = rk.v), " +
        "bc AS (SELECT c, sum(CAST(r2 AS HUGEINT)) AS sr2, " +
        "CAST(count(*) AS BIGINT) AS n FROM j GROUP BY 1), " +
        "a1 AS (SELECT sum(CAST(r2 AS HUGEINT) * r2) AS a1x4 FROM j), " +
        "nk AS (SELECT CAST(count(*) AS BIGINT) AS kk, " +
        "CAST(max(n) AS BIGINT) AS nn FROM bc), " +
        "nm AS (SELECT sum((sr2 - CAST(nn * (kk + 1) AS HUGEINT)) * " +
        "(sr2 - CAST(nn * (kk + 1) AS HUGEINT))) AS num, max(kk) AS k, " +
        "max(nn) AS n FROM bc, nk), " +
        "f AS (SELECT n, k, CAST(num AS DOUBLE) AS numd, " +
        "CAST(a1x4 AS DOUBLE) - CAST(n * k * (k + 1) * (k + 1) AS DOUBLE) " +
        "AS den FROM nm, a1) " +
        "SELECT n AS n_units, k AS n_conditions, " +
        "round(CASE WHEN den > 0 THEN CAST(k - 1 AS DOUBLE) * numd / den " +
        "END, 6) AS chi2_f FROM f"),
      (s, dir) => {
        val u = Tables.events(s, dir).groupBy("user_id").agg(
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("c_view"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c_click"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c_purchase"))
        val long = u.selectExpr("user_id",
          "stack(3, 'view', CAST(c_view AS DOUBLE), " +
            "'click', CAST(c_click AS DOUBLE), " +
            "'purchase', CAST(c_purchase AS DOUBLE)) AS (c, v)")
        Stats.friedman(long, col("user_id"), col("c"), col("v"))
      }),

    // ---- Matthews correlation + balanced accuracy of the length-based
    // English detector (pred: n_chars >= 300): prevalence-robust where
    // q267's F1 ignores true negatives; HUGEINT confusion products.
    Q("q410_mcc",
      Some("WITH m AS (SELECT " +
        "CAST(sum(CASE WHEN lang = 'en' AND n_chars >= 300 THEN 1 ELSE 0 " +
        "END) AS BIGINT) AS tp, " +
        "CAST(sum(CASE WHEN lang <> 'en' AND n_chars >= 300 THEN 1 ELSE 0 " +
        "END) AS BIGINT) AS fp, " +
        "CAST(sum(CASE WHEN lang = 'en' AND n_chars < 300 THEN 1 ELSE 0 " +
        "END) AS BIGINT) AS fn, " +
        "CAST(sum(CASE WHEN lang <> 'en' AND n_chars < 300 THEN 1 ELSE 0 " +
        "END) AS BIGINT) AS tn FROM documents), " +
        "f AS (SELECT tp, fp, fn, tn, " +
        "CAST(CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn " +
        "AS DOUBLE) AS num, " +
        "sqrt(CAST(CAST(tp + fp AS HUGEINT) AS DOUBLE) * " +
        "CAST(tp + fn AS DOUBLE) * CAST(tn + fp AS DOUBLE) * " +
        "CAST(tn + fn AS DOUBLE)) AS den FROM m) " +
        "SELECT tp, fp, fn, tn, " +
        "round(CASE WHEN den > 0 THEN num / den END, 6) AS mcc, " +
        "round(CASE WHEN tp + fn > 0 AND tn + fp > 0 THEN " +
        "(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) + " +
        "CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE)) / 2.0 END, 6) " +
        "AS balanced_accuracy FROM f"),
      (s, dir) => Stats.mcc(Tables.documents(s, dir),
        col("lang") === "en", col("n_chars") >= 300)),

    // ---- Poisson rate ratio of purchases per active-day between even
    // and odd users: log-rate z on exact counts and decimal exposures.
    Q("q411_rate_ratio",
      Some("WITH u AS (SELECT user_id, " +
        "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS x, " +
        "CAST(max(epoch_us(ts) // 86400000000) - " +
        "min(epoch_us(ts) // 86400000000) + 1 AS BIGINT) AS expo " +
        "FROM events GROUP BY 1), " +
        "m AS (SELECT " +
        "CAST(sum(CASE WHEN user_id % 2 = 0 THEN x ELSE 0 END) AS BIGINT) " +
        "AS x_a, " +
        "sum(CASE WHEN user_id % 2 = 0 THEN " +
        "CAST(CAST(expo AS DOUBLE) AS DECIMAL(38,6)) END) AS ea, " +
        "CAST(sum(CASE WHEN user_id % 2 <> 0 THEN x ELSE 0 END) " +
        "AS BIGINT) AS x_b, " +
        "sum(CASE WHEN user_id % 2 <> 0 THEN " +
        "CAST(CAST(expo AS DOUBLE) AS DECIMAL(38,6)) END) AS eb FROM u), " +
        "f AS (SELECT x_a, x_b, CAST(ea AS DOUBLE) AS ead, " +
        "CAST(eb AS DOUBLE) AS ebd, " +
        "(CAST(x_a AS DOUBLE) / CAST(ea AS DOUBLE)) / " +
        "(CAST(x_b AS DOUBLE) / CAST(eb AS DOUBLE)) AS rr, " +
        "x_a > 0 AND x_b > 0 AND CAST(ea AS DOUBLE) > 0 AND " +
        "CAST(eb AS DOUBLE) > 0 AS ok FROM m) " +
        "SELECT x_a, round(ead, 6) AS exposure_a, x_b, " +
        "round(ebd, 6) AS exposure_b, " +
        "round(CASE WHEN ok THEN rr END, 6) AS rate_ratio, " +
        "round(CASE WHEN ok THEN ln(rr) / sqrt(1.0 / CAST(x_a AS DOUBLE) " +
        "+ 1.0 / CAST(x_b AS DOUBLE)) END, 6) AS z FROM f"),
      (s, dir) => {
        val u = Tables.events(s, dir).groupBy("user_id").agg(
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("x"),
          (max(EventAnalytics.dayIndex(col("ts"))) -
            min(EventAnalytics.dayIndex(col("ts"))) + 1L).as("expo"))
        Stats.rateRatio(u, pmod(col("user_id"), lit(2L)) === 0,
          col("x"), col("expo"))
      }),

    // ---- Chapman capture-recapture estimate of the user population
    // from two overlapping observation windows (first 10 days vs day 5
    // onward): exact HUGEINT list products; the exact-count sibling of
    // q262's KMV set-op estimates.
    Q("q412_capture_recapture",
      Some("WITH lo AS (SELECT min(epoch_us(ts) // 86400000000) AS lo " +
        "FROM events), " +
        "u AS (SELECT user_id, " +
        "max(CASE WHEN epoch_us(ts) // 86400000000 < lo + 10 THEN 1 " +
        "ELSE 0 END) AS ma, " +
        "max(CASE WHEN epoch_us(ts) // 86400000000 >= lo + 5 THEN 1 " +
        "ELSE 0 END) AS mb FROM events, lo GROUP BY user_id), " +
        "m AS (SELECT CAST(sum(ma) AS BIGINT) AS n_a, " +
        "CAST(sum(mb) AS BIGINT) AS n_b, " +
        "CAST(sum(CASE WHEN ma = 1 AND mb = 1 THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_both FROM u), " +
        "f AS (SELECT n_a, n_b, n_both, " +
        "CAST(CAST(n_a + 1 AS HUGEINT) * (n_b + 1) AS DOUBLE) AS prod, " +
        "CAST(n_both + 1 AS DOUBLE) AS m1 FROM m) " +
        "SELECT n_a, n_b, n_both, " +
        "round(prod / m1 - 1.0, 6) AS n_hat, " +
        "round(sqrt(prod * CAST(CAST(n_a - n_both AS HUGEINT) * " +
        "(n_b - n_both) AS DOUBLE) / (m1 * m1 * " +
        "CAST(n_both + 2 AS DOUBLE))), 6) AS se FROM f"),
      (s, dir) => {
        val lo = Tables.events(s, dir)
          .agg(min(EventAnalytics.dayIndex(col("ts"))).as("lo"))
        val u = Tables.events(s, dir).crossJoin(broadcast(lo))
          .groupBy("user_id").agg(
            max(when(EventAnalytics.dayIndex(col("ts")) < col("lo") + 10, 1)
              .otherwise(0)).as("ma"),
            max(when(EventAnalytics.dayIndex(col("ts")) >= col("lo") + 5, 1)
              .otherwise(0)).as("mb"))
        Stats.captureRecapture(u, col("ma") === 1, col("mb") === 1)
      }),

    // ---- Page's L trend across the ordered view<click<purchase funnel
    // counts per user: the directional sibling of q409's Friedman, same
    // doubled-rank machinery, L = sum(score * R_j).
    Q("q413_page_trend",
      Some("WITH u AS (SELECT user_id, " +
        "sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c_view, " +
        "sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c_click, " +
        "sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) " +
        "AS c_purchase FROM events GROUP BY 1), " +
        "l AS (SELECT user_id, 1 AS sc, CAST(c_view AS DOUBLE) AS v " +
        "FROM u UNION ALL SELECT user_id, 2, CAST(c_click AS DOUBLE) " +
        "FROM u UNION ALL SELECT user_id, 3, CAST(c_purchase AS DOUBLE) " +
        "FROM u), " +
        "vals AS (SELECT user_id, v, CAST(count(*) AS BIGINT) AS t FROM l " +
        "GROUP BY 1, 2), " +
        "rk AS (SELECT user_id, v, 2 * CAST(sum(t) OVER (PARTITION BY " +
        "user_id ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT " +
        "ROW) AS BIGINT) - t + 1 AS r2 FROM vals), " +
        "j AS (SELECT l.sc, rk.r2 FROM l JOIN rk ON l.user_id = " +
        "rk.user_id AND l.v = rk.v), " +
        "m AS (SELECT sum(CAST(sc AS HUGEINT) * r2) AS l2, " +
        "CAST(count(DISTINCT sc) AS BIGINT) AS k, " +
        "CAST(count(*) // count(DISTINCT sc) AS BIGINT) AS n FROM j), " +
        "f AS (SELECT n, k, CAST(l2 AS DOUBLE) / 2.0 AS l, " +
        "CAST(n AS DOUBLE) * CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0) " +
        "* (CAST(k AS DOUBLE) + 1.0) / 4.0 AS e, " +
        "CAST(n AS DOUBLE) * CAST(k AS DOUBLE) * CAST(k AS DOUBLE) * " +
        "(CAST(k AS DOUBLE) + 1.0) * (CAST(k AS DOUBLE) + 1.0) * " +
        "(CAST(k AS DOUBLE) - 1.0) / 144.0 AS vv FROM m) " +
        "SELECT n AS n_units, k AS n_conditions, round(l, 6) AS l_stat, " +
        "round(CASE WHEN vv > 0 THEN (l - e) / sqrt(vv) END, 6) AS z " +
        "FROM f"),
      (s, dir) => {
        val u = Tables.events(s, dir).groupBy("user_id").agg(
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("c_view"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c_click"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c_purchase"))
        val long = u.selectExpr("user_id",
          "stack(3, 1L, CAST(c_view AS DOUBLE), 2L, CAST(c_click AS DOUBLE), " +
            "3L, CAST(c_purchase AS DOUBLE)) AS (sc, v)")
        Stats.pageTrend(long, col("user_id"), col("sc"), col("v"))
      }),

    // ---- CLES and rank-biserial for purchase vs non-purchase values on
    // the floor(value) vocabulary: the EFFECT SIZE behind q329's z, same
    // doubled-U rollup discipline.
    Q("q414_cles",
      Some("WITH b AS (SELECT floor(value) AS v, " +
        "event_type = 'purchase' AS s FROM events WHERE value IS NOT NULL), " +
        "pv AS (SELECT v, CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n1, CAST(sum(CASE WHEN s THEN 0 ELSE 1 END) " +
        "AS BIGINT) AS n2 FROM b GROUP BY 1), " +
        "w AS (SELECT n1, n2, coalesce(CAST(sum(n2) OVER (ORDER BY v " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) " +
        "AS below2 FROM pv), " +
        "a AS (SELECT CAST(sum(n1) AS BIGINT) AS n1, " +
        "CAST(sum(n2) AS BIGINT) AS n2, " +
        "sum(CAST(n1 * (2 * below2 + n2) AS HUGEINT)) AS u2 FROM w), " +
        "f AS (SELECT n1, n2, CAST(u2 AS DOUBLE) / 2.0 AS u, " +
        "CAST(u2 AS DOUBLE) / 2.0 / (CAST(n1 AS DOUBLE) * " +
        "CAST(n2 AS DOUBLE)) AS cles FROM a) " +
        "SELECT n1, n2, u, " +
        "round(CASE WHEN n1 > 0 AND n2 > 0 THEN cles END, 6) AS cles, " +
        "round(CASE WHEN n1 > 0 AND n2 > 0 THEN 2.0 * cles - 1.0 END, 6) " +
        "AS rank_biserial FROM f"),
      (s, dir) => Stats.clesRankBiserial(
        Tables.events(s, dir).filter(col("value").isNotNull)
          .select(floor(col("value")).as("v"),
            (col("event_type") === "purchase").as("s")),
        "v", col("s"))),

    // ---- Cramér's V / Tschuprow's T for the q111 event-type x weekday
    // table: the association MAGNITUDE the chi2 only tests.
    Q("q415_cramers_v",
      Some("WITH e AS (SELECT event_type, " +
        "((epoch_us(ts) // 86400000000) + 3) % 7 AS wd FROM events), " +
        "cells AS (SELECT event_type, wd, count(*) AS o FROM e " +
        "GROUP BY 1, 2), " +
        "ra AS (SELECT event_type, count(*) AS ra FROM e GROUP BY 1), " +
        "cb AS (SELECT wd, count(*) AS cb FROM e GROUP BY 1), " +
        "nn AS (SELECT count(*) AS n FROM e), " +
        "t AS (SELECT CAST(SUM(CAST((CAST(o AS DOUBLE) * o) / " +
        "((CAST(ra AS DOUBLE) * cb) / CAST(nn.n AS DOUBLE)) " +
        "AS DECIMAL(38,6))) AS DOUBLE) AS s, " +
        "any_value(nn.n) AS n FROM cells JOIN ra USING (event_type) " +
        "JOIN cb USING (wd), nn), " +
        "d AS (SELECT (SELECT count(*) FROM ra) AS da, " +
        "(SELECT count(*) FROM cb) AS db), " +
        "f AS (SELECT n, da, db, s - CAST(n AS DOUBLE) AS chi2 FROM t, d) " +
        "SELECT n, (da - 1) * (db - 1) AS dof, round(chi2, 6) AS chi2, " +
        "round(CASE WHEN da > 1 AND db > 1 AND chi2 >= 0 THEN " +
        "sqrt(chi2 / (CAST(n AS DOUBLE) * " +
        "CAST(least(da, db) - 1 AS DOUBLE))) END, 6) AS cramers_v, " +
        "round(CASE WHEN da > 1 AND db > 1 AND chi2 >= 0 THEN " +
        "sqrt(chi2 / (CAST(n AS DOUBLE) * " +
        "sqrt(CAST((da - 1) * (db - 1) AS DOUBLE)))) END, 6) " +
        "AS tschuprow_t FROM f"),
      (s, dir) => Stats.cramersV(
        Tables.events(s, dir).select(col("event_type"),
          pmod(EventAnalytics.dayIndex(col("ts")) + lit(3), lit(7)).as("wd")),
        "event_type", "wd")),

    // ---- median survival with the Greenwood-band bracket on the q332
    // churn curve: data-element crossings of the 6dp-rounded bands.
    Q("q416_km_median",
      Some("WITH u AS (SELECT user_id, " +
        "min(epoch_us(ts) // 86400000000) AS f, " +
        "max(epoch_us(ts) // 86400000000) AS l FROM events GROUP BY 1), " +
        "mx AS (SELECT max(l) AS mx FROM u), " +
        "d AS (SELECT l - f AS duration, l < mx - 7 AS ev FROM u, mx), " +
        "pt AS (SELECT duration, CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_events, CAST(sum(CASE WHEN ev THEN 0 ELSE 1 END) " +
        "AS BIGINT) AS n_censored FROM d GROUP BY 1), " +
        "t AS (SELECT CAST(sum(n_events + n_censored) AS BIGINT) AS n " +
        "FROM pt), " +
        "r AS (SELECT duration, n_events, n_censored, n - " +
        "coalesce(CAST(sum(n_events + n_censored) OVER (ORDER BY duration " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) " +
        "AS n_at_risk FROM pt, t), " +
        "sv AS (SELECT duration, n_at_risk, n_events, n_censored, " +
        "CASE WHEN n_events > 0 AND n_events < n_at_risk THEN " +
        "CAST(ln(1.0 - CAST(n_events AS DOUBLE) / CAST(n_at_risk " +
        "AS DOUBLE)) AS DECIMAL(28,12)) ELSE CAST(0.0 AS DECIMAL(28,12)) " +
        "END AS term, " +
        "CASE WHEN n_events > 0 AND n_events < n_at_risk THEN " +
        "CAST(CAST(n_events AS DOUBLE) / CAST(CAST(n_at_risk AS HUGEINT) * " +
        "(n_at_risk - n_events) AS DOUBLE) AS DECIMAL(28,12)) " +
        "ELSE CAST(0.0 AS DECIMAL(28,12)) END AS gt, " +
        "CASE WHEN n_events = n_at_risk THEN 1 ELSE 0 END AS dd FROM r), " +
        "kk AS (SELECT duration, n_events, n_censored, " +
        "round(CASE WHEN max(dd) OVER w = 1 THEN 0.0 ELSE " +
        "exp(CAST(sum(term) OVER w AS DOUBLE)) END, 6) AS survival, " +
        "round(CASE WHEN max(dd) OVER w = 1 THEN NULL ELSE " +
        "exp(CAST(sum(term) OVER w AS DOUBLE)) * " +
        "sqrt(CAST(sum(gt) OVER w AS DOUBLE)) END, 6) AS greenwood_se " +
        "FROM sv WINDOW w AS (ORDER BY duration ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND CURRENT ROW)) " +
        "SELECT CAST(sum(n_events + n_censored) AS BIGINT) AS n, " +
        "min(CASE WHEN survival <= 0.5 THEN duration END) AS median_t, " +
        "min(CASE WHEN (greenwood_se IS NOT NULL AND survival - 1.96 * " +
        "greenwood_se <= 0.5) OR survival = 0.0 THEN duration END) " +
        "AS ci_lo_t, " +
        "min(CASE WHEN (greenwood_se IS NOT NULL AND survival + 1.96 * " +
        "greenwood_se <= 0.5) OR survival = 0.0 THEN duration END) " +
        "AS ci_hi_t FROM kk"),
      (s, dir) => {
        val u = Tables.events(s, dir)
          .select(col("user_id"), EventAnalytics.dayIndex(col("ts")).as("d"))
          .groupBy("user_id")
          .agg(min(col("d")).as("f"), max(col("d")).as("l"))
        val mx = u.agg(max(col("l")).as("mx"))
        val d = u.crossJoin(broadcast(mx))
          .select((col("l") - col("f")).as("dur"),
            (col("l") < col("mx") - 7).as("ev"))
        EventAnalytics.kmMedianSurvival(d, col("dur"), col("ev"))
      }),

    // ---- winsorized correlation of per-user activity vs dollar spend:
    // 4dp-rounded p05/p95 bounds per axis from ONE percentile aggregate,
    // decimal moments of the clipped pair — the robust r that one whale
    // user would otherwise own.
    Q("q417_winsorized_corr",
      Some("WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x0, " +
        "coalesce(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT), " +
        "0) AS cents FROM events GROUP BY 1), " +
        "b AS (SELECT CAST(x0 AS DOUBLE) AS x, " +
        "CAST(cents AS DOUBLE) / 100.0 AS y FROM u), " +
        "q AS (SELECT round(quantile_cont(x, 0.05), 4) AS lo_x, " +
        "round(quantile_cont(x, 0.95), 4) AS hi_x, " +
        "round(quantile_cont(y, 0.05), 4) AS lo_y, " +
        "round(quantile_cont(y, 0.95), 4) AS hi_y FROM b), " +
        "c AS (SELECT lo_x, hi_x, lo_y, hi_y, " +
        "least(greatest(x, lo_x), hi_x) AS cx, " +
        "least(greatest(y, lo_y), hi_y) AS cy FROM b, q), " +
        "m AS (SELECT lo_x, hi_x, lo_y, hi_y, " +
        "CAST(count(*) AS BIGINT) AS n, " +
        "sum(CAST(cx AS DECIMAL(38,6))) AS sx, " +
        "sum(CAST(cy AS DECIMAL(38,6))) AS sy, " +
        "sum(CAST(cx * cy AS DECIMAL(38,6))) AS sxy, " +
        "sum(CAST(cx * cx AS DECIMAL(38,6))) AS sxx, " +
        "sum(CAST(cy * cy AS DECIMAL(38,6))) AS syy FROM c " +
        "GROUP BY 1, 2, 3, 4), " +
        "f AS (SELECT n, lo_x, hi_x, lo_y, hi_y, " +
        "sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
        "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * " +
        "sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - " +
        "CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS den, " +
        "CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - " +
        "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num FROM m) " +
        "SELECT n, lo_x, hi_x, lo_y, hi_y, " +
        "round(CASE WHEN den > 0 THEN num / den END, 6) AS r FROM f"),
      (s, dir) => {
        val u = Tables.events(s, dir).groupBy("user_id").agg(
          count(lit(1)).as("x0"),
          coalesce(sum(round(col("value") * 100, 0).cast("long")), lit(0L))
            .as("cents"))
        Stats.winsorizedCorr(u, col("x0"),
          col("cents").cast("double") / 100.0, pLo = 0.05, pHi = 0.95)
      }),

    // ---- Western Electric control flags over daily counts: rounded
    // mu/sigma broadcast, signed sigma-band index, rule 1 (|z| >= 3)
    // and rule 2 (2-of-3 beyond 2 sigma same side) off one lag window.
    Q("q418_spc_rules",
      Some("WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day, " +
        "count(*) AS n FROM events GROUP BY 1), " +
        "r AS (SELECT unnest(range((SELECT min(day) FROM c), " +
        "(SELECT max(day) FROM c) + 1)) AS day), " +
        "s AS (SELECT r.day, CAST(coalesce(c.n, 0) AS BIGINT) AS n " +
        "FROM r LEFT JOIN c USING (day)), " +
        "m AS (SELECT round(CAST(sum(CAST(n AS HUGEINT)) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS mu, " +
        "round(sqrt((CAST(count(*) AS DOUBLE) * " +
        "CAST(sum(CAST(n AS HUGEINT) * n) AS DOUBLE) - " +
        "CAST(sum(CAST(n AS HUGEINT)) AS DOUBLE) * " +
        "CAST(sum(CAST(n AS HUGEINT)) AS DOUBLE)) / " +
        "(CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE))), 6) " +
        "AS sigma FROM s), " +
        "f AS (SELECT day, n, CAST(CASE WHEN sigma > 0 THEN " +
        "sign(CAST(n AS DOUBLE) - mu) * " +
        "least(floor(abs(CAST(n AS DOUBLE) - mu) / sigma), 3.0) " +
        "ELSE 0.0 END AS BIGINT) AS z_band FROM s, m), " +
        "g AS (SELECT day, n, z_band, " +
        "CASE WHEN z_band >= 2 THEN 1 WHEN z_band <= -2 THEN -1 ELSE 0 " +
        "END AS b0, " +
        "coalesce(lag(CASE WHEN z_band >= 2 THEN 1 WHEN z_band <= -2 " +
        "THEN -1 ELSE 0 END, 1) OVER (ORDER BY day), 0) AS b1, " +
        "coalesce(lag(CASE WHEN z_band >= 2 THEN 1 WHEN z_band <= -2 " +
        "THEN -1 ELSE 0 END, 2) OVER (ORDER BY day), 0) AS b2 FROM f) " +
        "SELECT day, n, z_band, abs(z_band) >= 3 AS rule1, " +
        "((CASE WHEN b0 = 1 THEN 1 ELSE 0 END + CASE WHEN b1 = 1 THEN 1 " +
        "ELSE 0 END + CASE WHEN b2 = 1 THEN 1 ELSE 0 END) >= 2) OR " +
        "((CASE WHEN b0 = -1 THEN 1 ELSE 0 END + CASE WHEN b1 = -1 THEN 1 " +
        "ELSE 0 END + CASE WHEN b2 = -1 THEN 1 ELSE 0 END) >= 2) AS rule2 " +
        "FROM g ORDER BY day"),
      (s, dir) => EventAnalytics.spcRules(Tables.events(s, dir), "ts")
        .orderBy("day")),

    // ---- Cohen's h between weekend and weekday purchase shares: the
    // arcsine-stabilized proportion effect size next to q334's z.
    Q("q419_cohens_h",
      Some("WITH b AS (SELECT ((epoch_us(ts) // 86400000000) + 3) % 7 >= 5 " +
        "AS g, event_type = 'purchase' AS s FROM events), " +
        "m AS (SELECT " +
        "CAST(sum(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(sum(CASE WHEN g AND s THEN 1 ELSE 0 END) AS BIGINT) AS x_a, " +
        "CAST(sum(CASE WHEN NOT g THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
        "CAST(sum(CASE WHEN NOT g AND s THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS x_b FROM b), " +
        "f AS (SELECT n_a, x_a, n_b, x_b, " +
        "CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa, " +
        "CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb FROM m) " +
        "SELECT n_a, x_a, n_b, x_b, " +
        "round(CASE WHEN n_a > 0 THEN pa END, 6) AS p_a, " +
        "round(CASE WHEN n_b > 0 THEN pb END, 6) AS p_b, " +
        "round(CASE WHEN n_a > 0 AND n_b > 0 THEN " +
        "2.0 * asin(sqrt(pa)) - 2.0 * asin(sqrt(pb)) END, 6) AS h FROM f"),
      (s, dir) => Stats.cohensH(
        Tables.events(s, dir).select(
          (pmod(EventAnalytics.dayIndex(col("ts")) + lit(3), lit(7)) >= 5)
            .as("g"),
          (col("event_type") === "purchase").as("s")),
        col("g"), col("s"))),

    // ---- odds ratio with the Woolf logit CI for long-doc vs English:
    // the interval q410's point MCC and q334's point OR lack;
    // Haldane +1/2 on zero cells, surfaced via the corrected flag.
    Q("q420_or_ci",
      Some("WITH m AS (SELECT " +
        "CAST(sum(CASE WHEN n_chars >= 300 AND lang = 'en' THEN 1 ELSE 0 " +
        "END) AS BIGINT) AS a, " +
        "CAST(sum(CASE WHEN n_chars >= 300 AND lang <> 'en' THEN 1 ELSE 0 " +
        "END) AS BIGINT) AS b, " +
        "CAST(sum(CASE WHEN n_chars < 300 AND lang = 'en' THEN 1 ELSE 0 " +
        "END) AS BIGINT) AS c, " +
        "CAST(sum(CASE WHEN n_chars < 300 AND lang <> 'en' THEN 1 ELSE 0 " +
        "END) AS BIGINT) AS d FROM documents), " +
        "f AS (SELECT a, b, c, d, " +
        "a = 0 OR b = 0 OR c = 0 OR d = 0 AS corrected FROM m), " +
        "g AS (SELECT a, b, c, d, corrected, " +
        "CASE WHEN corrected THEN CAST(a AS DOUBLE) + 0.5 ELSE " +
        "CAST(a AS DOUBLE) END AS ad, " +
        "CASE WHEN corrected THEN CAST(b AS DOUBLE) + 0.5 ELSE " +
        "CAST(b AS DOUBLE) END AS bd, " +
        "CASE WHEN corrected THEN CAST(c AS DOUBLE) + 0.5 ELSE " +
        "CAST(c AS DOUBLE) END AS cd, " +
        "CASE WHEN corrected THEN CAST(d AS DOUBLE) + 0.5 ELSE " +
        "CAST(d AS DOUBLE) END AS dd FROM f), " +
        "h AS (SELECT a, b, c, d, corrected, " +
        "(ad * dd) / (bd * cd) AS orr, " +
        "sqrt(1.0 / ad + 1.0 / bd + 1.0 / cd + 1.0 / dd) AS se FROM g) " +
        "SELECT a, b, c, d, corrected, round(orr, 6) AS odds_ratio, " +
        "round(exp(ln(orr) - 1.96 * se), 6) AS ci_lo, " +
        "round(exp(ln(orr) + 1.96 * se), 6) AS ci_hi FROM h"),
      (s, dir) => Stats.orWoolfCi(Tables.documents(s, dir),
        col("n_chars") >= 300, col("lang") === "en")),

    // ---- Wilcoxon signed-rank on paired per-user even-day vs odd-day
    // activity: doubled dyadic ranks off the |d| rollup, exact integer
    // z numerator 2W2 - n(n+1), tie term in HUGEINT/DECIMAL.
    Q("q421_wilcoxon_signed",
      Some("WITH u AS (SELECT user_id, " +
        "CAST(sum(CASE WHEN (epoch_us(ts) // 86400000000) % 2 = 0 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS e, " +
        "CAST(sum(CASE WHEN (epoch_us(ts) // 86400000000) % 2 = 1 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS o FROM events GROUP BY 1), " +
        "d AS (SELECT CAST(e - o AS DOUBLE) AS d FROM u WHERE e <> o), " +
        "vals AS (SELECT abs(d) AS a, CAST(count(*) AS BIGINT) AS t, " +
        "CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS p " +
        "FROM d GROUP BY 1), " +
        "r AS (SELECT t, p, 2 * CAST(sum(t) OVER (ORDER BY a " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) " +
        "- t + 1 AS r2 FROM vals), " +
        "m AS (SELECT CAST(sum(t) AS BIGINT) AS n, " +
        "sum(CAST(p AS HUGEINT) * r2) AS w2, " +
        "sum(CAST(t AS HUGEINT) * t * t - t) AS tt FROM r) " +
        "SELECT n AS n_nonzero, CAST(w2 AS DOUBLE) / 2.0 AS w_plus, " +
        "round(CASE WHEN n > 0 AND " +
        "2 * CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1) - tt > 0 THEN " +
        "CAST(2 * w2 - CAST(n AS HUGEINT) * (n + 1) AS DOUBLE) / " +
        "sqrt(CAST(2 * CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1) - tt " +
        "AS DOUBLE) / 3.0) END, 6) AS z FROM m"),
      (s, dir) => {
        val day = EventAnalytics.dayIndex(col("ts"))
        val u = Tables.events(s, dir).groupBy("user_id").agg(
          sum(when(pmod(day, lit(2L)) === 0, 1L).otherwise(0L)).as("e"),
          sum(when(pmod(day, lit(2L)) === 1, 1L).otherwise(0L)).as("o"))
        Stats.wilcoxonSignedRank(u, col("e") - col("o"))
      }),

    // ---- Kendall's W: do the event types agree on the weekday ranking?
    // Zero-filled (type x weekday) grid so the design is complete by
    // construction; doubled dyadic ranks, one IEEE division.
    Q("q422_kendall_w",
      Some("WITH e AS (SELECT event_type AS r, " +
        "(epoch_us(ts) // 86400000000 + 3) % 7 AS wd FROM events), " +
        "c AS (SELECT r, wd, CAST(count(*) AS BIGINT) AS cnt FROM e " +
        "GROUP BY 1, 2), " +
        "grid AS (SELECT r, wd FROM (SELECT DISTINCT r FROM e), " +
        "(SELECT unnest(range(0, 7)) AS wd)), " +
        "fl AS (SELECT grid.r, grid.wd, " +
        "CAST(coalesce(cnt, 0) AS DOUBLE) AS v FROM grid " +
        "LEFT JOIN c ON grid.r = c.r AND grid.wd = c.wd), " +
        "vals AS (SELECT r, v, CAST(count(*) AS BIGINT) AS t FROM fl " +
        "GROUP BY 1, 2), " +
        "rk AS (SELECT r, v, 2 * CAST(sum(t) OVER (PARTITION BY r " +
        "ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS BIGINT) - t + 1 AS r2 FROM vals), " +
        "j AS (SELECT fl.wd, rk.r2 FROM fl JOIN rk ON fl.r = rk.r " +
        "AND fl.v = rk.v), " +
        "rs AS (SELECT wd, sum(CAST(r2 AS HUGEINT)) AS sr2 FROM j " +
        "GROUP BY 1), " +
        "tt AS (SELECT coalesce(sum(CAST(t AS HUGEINT) * t * t - t), 0) " +
        "AS tt FROM vals), " +
        "nm AS (SELECT CAST(count(DISTINCT r) AS BIGINT) AS m, " +
        "CAST(count(DISTINCT wd) AS BIGINT) AS n FROM fl), " +
        "q AS (SELECT sum(sr2 * sr2) AS sq FROM rs) " +
        "SELECT m AS n_raters, n AS n_items, " +
        "round(CASE WHEN CAST(CAST(m AS HUGEINT) * m * n * (n * n - 1) " +
        "- m * tt AS DOUBLE) > 0 THEN " +
        "CAST(3 * sq - 3 * CAST(m AS HUGEINT) * m * n * (n + 1) * (n + 1) " +
        "AS DOUBLE) / CAST(CAST(m AS HUGEINT) * m * n * (n * n - 1) " +
        "- m * tt AS DOUBLE) END, 6) AS w FROM nm, q, tt"),
      (s, dir) => {
        val e = Tables.events(s, dir).select(col("event_type").as("r"),
          pmod(EventAnalytics.dayIndex(col("ts")) + 3, lit(7L)).as("wd"))
        val c = e.groupBy("r", "wd").agg(count(lit(1)).as("cnt"))
        val grid = e.select("r").distinct()
          .crossJoin(s.range(7).select(col("id").as("wd")))
        val full = grid.join(c, Seq("r", "wd"), "left")
          .select(col("r"), col("wd"),
            coalesce(col("cnt"), lit(0L)).as("cnt"))
        Stats.kendallW(full, col("r"), col("wd"), col("cnt"))
      }),

    // ---- Mood's median test across event types: the global lower median
    // comes from distributedRank's running count over the value rollup
    // (never a keyless window), then one 2xk chi-square.
    Q("q423_mood_median",
      Some("WITH b AS (SELECT event_type AS g, value AS v FROM events " +
        "WHERE value IS NOT NULL), " +
        "cells AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM b " +
        "GROUP BY 1), " +
        "cum AS (SELECT v, CAST(sum(c) OVER (ORDER BY v ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cc FROM cells), " +
        "nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells), " +
        "med AS (SELECT min(v) AS med FROM cum, nn " +
        "WHERE cc >= (n + 1) // 2), " +
        "pg AS (SELECT g, " +
        "CAST(sum(CASE WHEN v > med THEN 1 ELSE 0 END) AS BIGINT) AS ab, " +
        "CAST(sum(CASE WHEN v <= med THEN 1 ELSE 0 END) AS BIGINT) AS le " +
        "FROM b, med GROUP BY 1), " +
        "tot AS (SELECT CAST(count(*) AS BIGINT) AS k, " +
        "CAST(sum(ab) AS BIGINT) AS ta, CAST(sum(le) AS BIGINT) AS tl " +
        "FROM pg), " +
        "chi AS (SELECT CAST(sum(CAST(" +
        "CAST(ab AS DOUBLE) * ab / (CAST(ab + le AS DOUBLE) * ta / " +
        "CAST(ta + tl AS DOUBLE)) + " +
        "CAST(le AS DOUBLE) * le / (CAST(ab + le AS DOUBLE) * tl / " +
        "CAST(ta + tl AS DOUBLE)) AS DECIMAL(38,6))) AS DOUBLE) AS s " +
        "FROM pg, tot) " +
        "SELECT ta + tl AS n, k AS n_groups, med AS median, " +
        "ta AS n_above, " +
        "round(CASE WHEN ta > 0 AND tl > 0 THEN " +
        "s - CAST(ta + tl AS DOUBLE) END, 6) AS chi2, " +
        "CAST(k - 1 AS BIGINT) AS dof FROM chi, tot, med"),
      (s, dir) => Stats.moodMedianTest(Tables.events(s, dir),
        col("event_type"), col("value"))),

    // ---- Durbin-Watson over the zero-filled daily count spine: the mean
    // cancels in consecutive differences, so numerator and scaled
    // denominator are exact integer sums; ONE division.
    Q("q424_durbin_watson",
      Some("WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day, " +
        "CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1), " +
        "r AS (SELECT unnest(range((SELECT min(day) FROM c), " +
        "(SELECT max(day) FROM c) + 1)) AS day), " +
        "sp AS (SELECT r.day, coalesce(c.x, 0) AS x FROM r " +
        "LEFT JOIN c USING (day)), " +
        "d AS (SELECT x, x - lag(x) OVER (ORDER BY day) AS dd FROM sp), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "sum(CAST(x AS HUGEINT)) AS s, sum(CAST(x AS HUGEINT) * x) AS ss, " +
        "sum(CASE WHEN dd IS NULL THEN 0 ELSE CAST(dd AS HUGEINT) * dd " +
        "END) AS num FROM d) " +
        "SELECT n AS n_days, round(CASE WHEN n * ss - s * s > 0 THEN " +
        "CAST(n * num AS DOUBLE) / CAST(n * ss - s * s AS DOUBLE) END, 6) " +
        "AS dw FROM m"),
      (s, dir) => Stats.durbinWatson(Tables.events(s, dir), "ts")),

    // ---- Theil T + Atkinson(eps=1) of the per-user cent mass: the
    // entropy-family inequality pair next to q112's rank-form Gini;
    // 12dp-rounded ln terms (PSI discipline) keep both engines identical.
    Q("q425_inequality",
      Some("WITH u AS (SELECT user_id, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x " +
        "FROM events WHERE value IS NOT NULL GROUP BY 1), " +
        "p AS (SELECT x, CAST(ln(CAST(x AS DOUBLE)) AS DECIMAL(18,12)) " +
        "AS lx FROM u WHERE x > 0), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(x) AS BIGINT) AS total, " +
        "sum(CAST(x AS DECIMAL(19,0)) * lx) AS xlnx, sum(lx) AS slnx " +
        "FROM p) " +
        "SELECT n, total, " +
        "round(CASE WHEN n > 0 THEN CAST(xlnx AS DOUBLE) / total - " +
        "ln(CAST(total AS DOUBLE) / n) END, 6) AS theil, " +
        "round(CASE WHEN n > 0 THEN 1.0 - " +
        "exp(CAST(slnx AS DOUBLE) / n) / (CAST(total AS DOUBLE) / n) " +
        "END, 6) AS atkinson FROM m"),
      (s, dir) => Stats.inequalityIndices(
        Tables.events(s, dir).filter(col("value").isNotNull),
        col("user_id"), round(col("value") * 100, 0))),

    // ---- Cliff's delta between even- and odd-user activity levels: the
    // bounded ordinal effect size over the per-user count distribution
    // (mannWhitney's value-rollup shape, exact pair masses).
    Q("q426_cliffs_delta",
      Some("WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt " +
        "FROM events GROUP BY 1), " +
        "pv AS (SELECT cnt AS v, " +
        "CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n1, " +
        "CAST(sum(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) " +
        "AS n2 FROM u GROUP BY 1), " +
        "r AS (SELECT n1, n2, coalesce(sum(n2) OVER (ORDER BY v " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b2 " +
        "FROM pv), " +
        "m AS (SELECT CAST(sum(n1) AS BIGINT) AS n1, " +
        "CAST(sum(n2) AS BIGINT) AS n2, " +
        "sum(CAST(n1 AS HUGEINT) * b2) AS w, " +
        "sum(CAST(n1 AS HUGEINT) * n2) AS ties FROM r) " +
        "SELECT n1, n2, CAST(w AS DOUBLE) AS wins, " +
        "CAST(CAST(n1 AS HUGEINT) * n2 - w - ties AS DOUBLE) AS losses, " +
        "round(CASE WHEN n1 > 0 AND n2 > 0 THEN " +
        "CAST(w - (CAST(n1 AS HUGEINT) * n2 - w - ties) AS DOUBLE) / " +
        "CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE) END, 6) AS delta FROM m"),
      (s, dir) => {
        val u = Tables.events(s, dir).groupBy("user_id")
          .agg(count(lit(1)).as("cnt"))
        Stats.cliffsDelta(
          u.select(col("cnt"), (pmod(col("user_id"), lit(2L)) === 0)
            .as("s1")),
          "cnt", col("s1"))
      }),

    // ---- Jonckheere-Terpstra: does quantity trend with line number?
    // Ordered groups 1..7 pivot to columns, so ONE cumulative window over
    // the 50-value quantity vocabulary yields every ordered-pair count.
    Q("q427_jonckheere", {
      val ns = (1 to 7).map(g =>
        s"CAST(sum(CASE WHEN g = $g THEN 1 ELSE 0 END) AS BIGINT) AS n$g")
        .mkString(", ")
      val bs = (1 to 7).map(g =>
        s"coalesce(sum(n$g) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED " +
          s"PRECEDING AND 1 PRECEDING), 0) AS b$g").mkString(", ")
      val contrib = (2 to 7).map { j =>
        val lowB = (1 until j).map(i => s"b$i").mkString(" + ")
        val lowT = (1 until j).map(i => s"n$i").mkString(" + ")
        s"CAST(n$j AS HUGEINT) * (2 * ($lowB) + ($lowT))"
      }.mkString(" + ")
      val ss = (1 to 7).map(g => s"CAST(sum(n$g) AS BIGINT) AS s$g")
        .mkString(", ")
      val nTot = (1 to 7).map(g => s"s$g").mkString(" + ")
      val sumSq = (1 to 7).map(g => s"CAST(s$g AS HUGEINT) * s$g")
        .mkString(" + ")
      val sumVar = (1 to 7).map(g =>
        s"CAST(s$g AS HUGEINT) * s$g * (2 * s$g + 3)").mkString(" + ")
      Some("WITH b AS (SELECT CAST(l_linenumber AS BIGINT) AS g, " +
        "CAST(l_quantity AS DOUBLE) AS v FROM lineitem), " +
        s"cells AS (SELECT v, $ns FROM b GROUP BY 1), " +
        s"wb AS (SELECT *, $bs FROM cells), " +
        s"jj AS (SELECT sum($contrib) AS j2 FROM wb), " +
        s"sz AS (SELECT $ss FROM cells), " +
        s"f AS (SELECT j2, ($nTot) AS n, ($sumSq) AS sq, ($sumVar) AS sv " +
        "FROM jj, sz) " +
        "SELECT n, CAST(7 AS BIGINT) AS n_groups, " +
        "CAST(j2 AS DOUBLE) / 2.0 AS j_stat, " +
        "round(CASE WHEN CAST(CAST(n AS HUGEINT) * n * (2 * n + 3) - sv " +
        "AS DOUBLE) / 72.0 > 0 THEN " +
        "(CAST(j2 AS DOUBLE) - CAST(CAST(n AS HUGEINT) * n - sq " +
        "AS DOUBLE) / 2.0) / (2.0 * sqrt(CAST(CAST(n AS HUGEINT) * n * " +
        "(2 * n + 3) - sv AS DOUBLE) / 72.0)) END, 6) AS z FROM f")
    },
      (s, dir) => Stats.jonckheereTerpstra(Tables.lineitem(s, dir),
        col("l_linenumber"), col("l_quantity"))),

    // ---- Cramér-von Mises two-sample between click and purchase value
    // distributions: every pooled quantile weighs in where q120's KS
    // takes the single worst gap; integer cross-multiplied ECDFs.
    Q("q428_cvm",
      Some("WITH c AS (SELECT value AS v, " +
        "CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS ca, " +
        "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS cb FROM events " +
        "WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL " +
        "GROUP BY 1), " +
        "w AS (SELECT ca, cb, CAST(sum(ca) OVER (ORDER BY v ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fa, " +
        "CAST(sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND CURRENT ROW) AS BIGINT) AS fb FROM c), " +
        "t AS (SELECT CAST(sum(ca) AS BIGINT) AS na, " +
        "CAST(sum(cb) AS BIGINT) AS nb FROM c), " +
        "m AS (SELECT na, nb, sum(CAST(ca + cb AS HUGEINT) * " +
        "(CAST(fa AS HUGEINT) * nb - CAST(fb AS HUGEINT) * na) * " +
        "(CAST(fa AS HUGEINT) * nb - CAST(fb AS HUGEINT) * na)) AS tsum " +
        "FROM w, t GROUP BY na, nb) " +
        "SELECT na AS n_a, nb AS n_b, " +
        "round(CASE WHEN na > 0 AND nb > 0 THEN CAST(tsum AS DOUBLE) / " +
        "(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) * " +
        "CAST(na + nb AS DOUBLE) * CAST(na + nb AS DOUBLE)) END, 6) " +
        "AS t_stat FROM m"),
      (s, dir) => Stats.cvmTwoSample(Tables.events(s, dir),
        "event_type", "value", "click", "purchase"))
  )
}
