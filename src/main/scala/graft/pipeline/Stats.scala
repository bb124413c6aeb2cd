package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Ops

/** Distribution analytics over large tables: quantile bucketing, per-group
  * standardization, and robust (median/MAD) outlier detection — the
  * data-quality companions to [[graft.operators.Ops.profile]] /
  * `Ops.histogram` / `Ops.corrMatrix`.
  *
  * Determinism discipline (the property every oracle-checked operator here
  * shares):
  *   - order statistics are DATA ELEMENTS (lower median = the
  *     `(n+1) div 2`-th smallest value) — arithmetic-free, byte-identical
  *     in any engine at any scale;
  *   - moments are summed as DECIMALs (order-independent exact addition),
  *     then finished with one fixed-shape IEEE closed form;
  *   - interpolated quantiles are rounded before they gate anything.
  */
object Stats {

  // ------------------------------------------------------ quantile buckets
  /** Assign each row the 1-based quantile bucket of `valueCol`: bucket b
    * holds values in (q_{b-1}, q_b], with q_0 = -inf and q_{probs.size+1} =
    * +inf. Boundaries come from ONE exact-percentile aggregate (Spark's
    * `percentile` ≡ DuckDB `quantile_cont`, both linear-interpolating) and
    * are broadcast back — no global sort, no single-partition window, so
    * the assignment is a pure projection at any scale (a global `ntile`
    * would collapse to one partition; this never ranks).
    *
    * Boundaries are rounded to `roundScale` decimals BEFORE the comparison:
    * interpolation is the one sub-ulp-sensitive step, and comparing against
    * the rounded boundary makes bucket assignment reproducible across
    * engines (both compare against the same number).
    */
  def quantileBuckets(df: DataFrame, valueCol: String, probs: Seq[Double],
                      roundScale: Int = 4,
                      bucketCol: String = "bucket"): DataFrame = {
    require(probs.nonEmpty && probs == probs.sorted &&
      probs.forall(p => p > 0.0 && p < 1.0), s"bad probs: $probs")
    val qNames = probs.indices.map(i => s"__q$i")
    val bounds = df.agg(
      expr(s"percentile($valueCol, array(${probs.mkString(", ")}))").as("__qs"))
      .select(qNames.zipWithIndex.map { case (n, i) =>
        round(element_at(col("__qs"), i + 1), roundScale).as(n)
      }: _*)
    val bucket = qNames.map(q => when(col(valueCol) > col(q), 1).otherwise(0))
      .reduce(_ + _) + lit(1)
    df.crossJoin(broadcast(bounds))
      .withColumn(bucketCol, when(col(valueCol).isNull, lit(null)).otherwise(bucket))
      .drop(qNames: _*)
  }

  // -------------------------------------------------------- standardization
  /** Per-group z-score of `valueCol`: (v - mean) / stddev_pop, appended as
    * `zCol` (null when the group variance is 0 or v is null). Group moments
    * are decimal-exact sums (sum v, sum v², order-independent — the q91
    * discipline) finished with one fixed-shape IEEE closed form, computed in
    * a small per-group aggregate and BROADCAST-joined back: two scans, zero
    * wide shuffles of the fact table, no window — so a hot group costs the
    * same as a cold one at 100 TB.
    *
    * `broadcastStats` (default true) asserts the BOUNDED-GROUP-VOCABULARY
    * contract — per-group stats fit the driver. For unbounded keys (per-user
    * stats over billions of users) pass false: the join degrades to a
    * co-keyed shuffle, still never a window.
    *
    * Exactness contract: inputs with ≤3 fractional decimal digits make
    * v·v exact at DECIMAL(38,6); wider inputs are rounded per-value at the
    * cast (deterministic in IEEE: exact decimal ties are not representable
    * in binary, so round-to-nearest never tiebreaks).
    */
  def standardize(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  zCol: String = "z",
                  broadcastStats: Boolean = true): DataFrame = {
    require(groupCols.nonEmpty, "standardize needs at least one group column")
    val v = col(valueCol).cast("double")
    val stats = df.filter(v.isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__n"),
        sum(v.cast("decimal(38,6)")).cast("double").as("__s"),
        sum((v * v).cast("decimal(38,6)")).cast("double").as("__p"))
    val n = col("__n").cast("double")
    val mean = col("__s") / n
    val varPop = (n * col("__p") - col("__s") * col("__s")) / (n * n)
    val sd = sqrt(varPop)
    df.join(if (broadcastStats) broadcast(stats) else stats, groupCols, "left")
      .withColumn(zCol, when(v.isNotNull && sd > 0.0, (v - mean) / sd))
      .drop("__n", "__s", "__p")
  }

  // ------------------------------------------------------- winsorization
  /** Clip `valueCol` into the [pLo, pHi] quantile band — the outlier
    * mitigation that precedes scale-sensitive statistics. Bounds come from
    * the same ONE exact-percentile aggregate as [[quantileBuckets]], round
    * to `roundScale` before use (the interpolation is the one
    * sub-ulp-sensitive step), and broadcast back; unclipped values pass
    * through byte-identical. Adds `clippedCol` (the clipped value) and
    * leaves `valueCol` untouched.
    */
  def winsorize(df: DataFrame, valueCol: String, pLo: Double, pHi: Double,
                roundScale: Int = 4,
                clippedCol: String = "clipped"): DataFrame = {
    require(0.0 < pLo && pLo < pHi && pHi < 1.0)
    val bounds = df.agg(
      expr(s"percentile($valueCol, array($pLo, $pHi))").as("__qs"))
      .select(round(element_at(col("__qs"), 1), roundScale).as("__lo"),
        round(element_at(col("__qs"), 2), roundScale).as("__hi"))
    df.crossJoin(broadcast(bounds))
      .withColumn(clippedCol,
        least(greatest(col(valueCol), col("__lo")), col("__hi")))
      .drop("__lo", "__hi")
  }

  // ------------------------------------------------- group-mean imputation
  /** Fill null `valueCol` with the GROUP's mean — fillempty's statistical
    * sibling for numeric gaps. The mean is a decimal-exact sum over the
    * non-null rows (order-independent) divided once in IEEE, rounded to
    * `roundScale` so the imputed constant is engine-independent; non-null
    * values pass through untouched (byte-identical). Groups that are all
    * null stay null. Same two-scan broadcast shape as [[standardize]] —
    * no window, no shuffle of the fact table.
    */
  def imputeGroupMean(df: DataFrame, groupCols: Seq[String], valueCol: String,
                      roundScale: Int = 6,
                      broadcastStats: Boolean = true): DataFrame = {
    val v = col(valueCol).cast("double")
    val stats = df.filter(v.isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__n"),
        sum(v.cast("decimal(38,6)")).cast("double").as("__s"))
    val mean = round(col("__s") / col("__n").cast("double"), roundScale)
    df.join(if (broadcastStats) broadcast(stats) else stats, groupCols, "left")
      .withColumn(valueCol, coalesce(col(valueCol), mean))
      .drop("__n", "__s")
  }

  // ------------------------------------------------------ percent rank
  /** Per-group percent_rank of `valueCol` (0 at the group min, 1 at the
    * max; ties share a rank) — rank-based score calibration across
    * heterogeneous sources, rounded at 6dp. (rank − 1)/(n − 1) is exact
    * integer arithmetic finished by one IEEE division, so ties and the
    * round are engine-independent. No per-row window: per-(group, value)
    * counts rank through [[distributedRank]] (the calibration group is
    * the whole scored population — it must never sort on one task) and
    * the per-value pr joins back co-keyed on (group, value).
    */
  def percentRank(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  out: String = "pr"): DataFrame = {
    // percent_rank = (rank−1)/(n−1) with rank = 1 + #(rows below), so it
    // needs no per-ROW window at all: collapse to per-(group, value)
    // counts, take the inclusive running count in value order from
    // [[distributedRank]] (cell-partitioned — the group may be the whole
    // scored population), and join the per-value pr back on the value.
    // Ties share a rank by construction; n = 1 gives 0 (Spark's shape).
    // CONTRACT: groupCols vocabulary bounded (the primitive's seam).
    val gk = groupCols.map(col)
    val cells = df.groupBy(gk :+ col(valueCol).as("__prv"): _*)
      .agg(count(lit(1)).as("__prc"))
    val ranked = distributedRank(cells, groupCols, "__prv", desc = false,
      tieCols = Seq.empty, weightCol = Some("__prc"), rnOut = "__prn",
      cumOut = Some("__prcum"))
    val totals = cells.groupBy(gk: _*).agg(sum(col("__prc")).as("__prtot"))
      .select(groupCols.zipWithIndex.map { case (c, i) =>
        col(c).as(s"__prg$i") } :+ col("__prtot"): _*)
    val prCells = ranked
      .join(broadcast(totals), groupCols.indices.map(i =>
          col(groupCols(i)) <=> col(s"__prg$i"))
        .reduceOption(_ && _).getOrElse(lit(true)))
      .select(groupCols.zipWithIndex.map { case (c, i) =>
        col(c).as(s"__prg$i") } ++ Seq(col("__prv"),
        when(col("__prtot") === 1L, lit(0.0))
          .otherwise(round((col("__prcum") - col("__prc")).cast("double") /
            (col("__prtot") - 1L).cast("double"), 6)).as("__prout")): _*)
    val joinCond = (groupCols.indices.map(i =>
        col(groupCols(i)) <=> col(s"__prg$i")) :+
      (col(valueCol) <=> col("__prv"))).reduce(_ && _)
    df.join(prCells, joinCond)
      .select(df.columns.map(col) :+ col("__prout").as(out): _*)
  }

  // ------------------------------------------------- chi-square independence
  /** Pearson chi-square independence statistic for two categorical columns,
    * via the zero-cell-free identity chi2 = Σ_observed o²/e − N (empty cells
    * contribute nothing to the sum, so only observed pairs are touched).
    * Cell terms are doubles from exact counts in ONE fixed IEEE shape,
    * summed as DECIMAL(38,6) (order-independent across 1000 executors),
    * rounded 6dp. Returns one row: (n, dof, chi2).
    *
    * Plan: one pair-count aggregate plus two marginal aggregates broadcast
    * back — the table scans once per aggregate, state is the two
    * vocabularies' product at most.
    */
  def chiSquareIndependence(df: DataFrame, colA: String,
                            colB: String): DataFrame = {
    val base = df.filter(col(colA).isNotNull && col(colB).isNotNull)
    val cells = base.groupBy(colA, colB).agg(count(lit(1)).as("__o"))
    // marginals and N derive from the CELL relation (sums of exact counts
    // are the same counts) — the source scans once, not four times
    val ra = cells.groupBy(colA).agg(sum(col("__o")).as("__ra"))
    val cb = cells.groupBy(colB).agg(sum(col("__o")).as("__cb"))
    val n = cells.agg(sum(col("__o")).as("__n"))
    val dofA = ra.agg(count(lit(1)).as("__da"))
    val dofB = cb.agg(count(lit(1)).as("__db"))
    val term = (col("__o").cast("double") * col("__o")) /
      ((col("__ra").cast("double") * col("__cb")) / col("__n").cast("double"))
    cells.join(broadcast(ra), Seq(colA)).join(broadcast(cb), Seq(colB))
      .crossJoin(broadcast(n))
      .agg(sum(term.cast("decimal(38,6)")).cast("double").as("__sum"),
        first(col("__n")).as("n"))
      .crossJoin(broadcast(dofA)).crossJoin(broadcast(dofB))
      .select(col("n"),
        ((col("__da") - 1) * (col("__db") - 1)).as("dof"),
        round(col("__sum") - col("n").cast("double"), 6).as("chi2"))
  }

  // --------------------------------------------------------- Gini index
  /** Gini concentration of `weightCol` mass across groups (how skewed is
    * the corpus across sources/domains): with groups ranked ascending by
    * exact weight (group-key tiebreak), G = 2·Σ rank·w / (n·Σw) − (n+1)/n.
    * Weights sum exactly in long; ranks come from [[distributedRank]]
    * over the aggregated group relation, so a per-user/per-domain key
    * grain that GROWS with the corpus still never sorts on one task.
    * Returns one row: (n_groups, total_weight, gini 6dp).
    */
  def giniIndex(df: DataFrame, groupCols: Seq[String],
                weightCol: Column): DataFrame = {
    require(groupCols.nonEmpty)
    // the group rollup GROWS with the key domain (per-user/per-domain
    // weights at 100x), so the ascending rank comes from the
    // [[distributedRank]] cell machinery, never a keyless window. Rank
    // ties among equal weights commute in Σ rank·w, so the head tiebreak
    // is a deterministic NUMERIC hash of the group key (the round-14
    // keySkewReport discipline): a giant equal-weight tie cell — e.g. a
    // uniform per-user corpus on STRING user ids — then SUBDIVIDES on
    // the hash grid instead of sorting in one window task; the raw group
    // key stays as the final total-order column.
    val groups = distributedRank(
      df.groupBy(groupCols.map(col): _*)
        .agg(sum(weightCol.cast("long")).as("__w"))
        .withColumn("__gh", xxhash64(groupCols.map(col): _*))
        .select((col("__w") +: col("__gh") +: groupCols.map(col)): _*),
      Seq.empty, "__w", desc = false, tieCols = "__gh" +: groupCols,
      weightCol = None, rnOut = "__r")
    // Σ rank·w in DECIMAL(38,0): rank and weight both scale with the key
    // domain, so the long×long product overflows at ~10M×10M grain
    groups.agg(count(lit(1)).as("n_groups"),
        sum(col("__w")).as("total_weight"),
        sum(col("__r").cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
          col("__w")).as("__rw"))
      .select(col("n_groups"), col("total_weight"),
        round(lit(2.0) * col("__rw").cast("double") /
          (col("n_groups").cast("double") * col("total_weight")) -
          (col("n_groups") + 1).cast("double") / col("n_groups").cast("double"),
          6).as("gini"))
  }

  // ------------------------------------------- Bayesian-smoothed group mean
  /** Per-group m-estimate mean: (Σv_g + m·μ) / (n_g + m), shrinking sparse
    * groups toward the global mean μ — the prior that stops a 3-document
    * domain from outranking a 3-million-document one on raw average. Both
    * levels are decimal-exact sums (q91 discipline); μ and the smoothed
    * mean are fixed IEEE shapes rounded 6dp. One group aggregate + one
    * scalar aggregate broadcast back. Returns (group..., n, mean_raw,
    * mean_smoothed). */
  def smoothedGroupMean(df: DataFrame, groupCols: Seq[String],
                        valueCol: String, m: Double): DataFrame = {
    require(groupCols.nonEmpty && m > 0.0)
    val v = col(valueCol).cast("double")
    val base = df.filter(v.isNotNull)
    val groups = base.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(v.cast("decimal(38,6)")).cast("double").as("__s"))
    val global = base.agg(count(lit(1)).as("__gn"),
      sum(v.cast("decimal(38,6)")).cast("double").as("__gs"))
    val mu = col("__gs") / col("__gn").cast("double")
    val n = col("n").cast("double")
    groups.crossJoin(broadcast(global))
      .select(groupCols.map(col) ++ Seq(col("n"),
        round(col("__s") / n, 6).as("mean_raw"),
        round((col("__s") + lit(m) * mu) / (n + lit(m)), 6)
          .as("mean_smoothed")): _*)
  }

  // ---------------------------------------------- KS two-sample statistic
  /** Kolmogorov–Smirnov two-sample D between the `valueCol` distributions of
    * groups `a` and `b` of `groupCol`: D = max_v |F_a(v) − F_b(v)| — the
    * drift check between two sources/shards/time-slices before they mix.
    * The ECDFs live on the gated two-sample value cells
    * ([[twoSampleCells]]: one count pass, then a cumulative window bounded
    * by the value vocabulary — the Gini discipline: never the corpus), and
    * the max runs on integer
    * cross-multiplied counts |cumA·n_b − cumB·n_a| summed as DECIMAL so the
    * comparison is exact at any count; ONE double division finishes,
    * rounded 6dp. Returns one row: (n_a, n_b, ks). */
  def ksTwoSample(df: DataFrame, groupCol: String, valueCol: String,
                  a: String, b: String): DataFrame = {
    val (cells, tot) = twoSampleCells(
      df.filter(col(groupCol).isin(a, b) && col(valueCol).isNotNull),
      col(groupCol), col(valueCol), a, b, "ksTwoSample")
    val w = Window.orderBy(col("__v"))
    val cum = cells.select(
      sum(col("__ca")).over(w).as("__fa"),
      sum(col("__cb")).over(w).as("__fb"))
    cum.crossJoin(broadcast(tot))
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        max(abs(col("__fa").cast("decimal(18,0)") * col("n_b") -
          col("__fb").cast("decimal(18,0)") * col("n_a"))).as("__d"))
      .select(col("n_a"), col("n_b"),
        round(col("__d").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6).as("ks"))
  }

  // ----------------------------------------------------- OLS linear fit
  /** Per-group ordinary-least-squares line y = intercept + slope·x with its
    * r², from the five decimal-exact moment sums in ONE aggregate pass (the
    * q91 discipline) finished in fixed IEEE closed forms, all rounded 6dp —
    * the trend detector (metric vs day, log-frequency vs log-rank). Empty
    * `groupCols` fits one global line. Returns (group..., n, slope,
    * intercept, r2); degenerate fits (constant x) yield nulls.
    *
    * MAGNITUDE CONTRACT: every moment sum (Σx, Σx², Σxy, Σy²) must stay
    * below 2^53/10^6 ≈ 9·10⁹ — above that, a DECIMAL(38,6) total's DOUBLE
    * image is no longer exact and engines that convert through the scaled
    * int128 (observed: DuckDB) land one ulp away from engines that convert
    * correctly rounded (Spark), which cancellation then amplifies. Shift x
    * to a small origin first (e.g. day − 20000, a constant): slopes are
    * translation-invariant and the intercept just moves its origin. */
  def linearFit(df: DataFrame, groupCols: Seq[String], xCol: Column,
                yCol: Column): DataFrame = {
    val x = xCol.cast("double")
    val y = yCol.cast("double")
    val base = df.filter(x.isNotNull && y.isNotNull)
    def dec(c: Column) = sum(c.cast("decimal(38,6)")).cast("double")
    val aggs = Seq(count(lit(1)).as("n"), dec(x).as("__sx"), dec(y).as("__sy"),
      dec(x * x).as("__sxx"), dec(x * y).as("__sxy"), dec(y * y).as("__syy"))
    val agg =
      if (groupCols.isEmpty) base.agg(aggs.head, aggs.tail: _*)
      else base.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val n = col("n").cast("double")
    val covN = n * col("__sxy") - col("__sx") * col("__sy")
    val varXN = n * col("__sxx") - col("__sx") * col("__sx")
    val varYN = n * col("__syy") - col("__sy") * col("__sy")
    val slope = when(varXN =!= 0.0, covN / varXN)
    agg.select(groupCols.map(col) ++ Seq(col("n"),
      round(slope, 6).as("slope"),
      round((col("__sy") - slope * col("__sx")) / n, 6).as("intercept"),
      round(when(varXN =!= 0.0 && varYN =!= 0.0,
        covN * covN / (varXN * varYN)), 6).as("r2")): _*)
  }

  // ------------------------------------------------------- Welch's t-test
  /** Welch's unequal-variance t statistic between groups `a` and `b` of
    * `groupCol` — does a treatment/source shift the metric? Moments are
    * decimal-exact conditional sums in ONE aggregate pass over the fact
    * table (the q91/q96 discipline: order-independent addition across 1000
    * executors), finished in one fixed IEEE shape — t = (m̄a − m̄b)/
    * sqrt(s²a/n_a + s²b/n_b), dof by Welch–Satterthwaite — rounded 6dp.
    * Returns one row: (n_a, n_b, mean_a, mean_b, t, dof). */
  def welchTTest(df: DataFrame, groupCol: String, valueCol: String,
                 a: String, b: String): DataFrame = {
    val v = col(valueCol).cast("double")
    def side(g: String, n: String, s: String, p: String) = Seq(
      sum(when(col(groupCol) === g, 1L).otherwise(0L)).as(n),
      sum(when(col(groupCol) === g, v).cast("decimal(38,6)")).cast("double").as(s),
      sum(when(col(groupCol) === g, v * v).cast("decimal(38,6)")).cast("double").as(p))
    val aggs = side(a, "n_a", "__sa", "__pa") ++ side(b, "n_b", "__sb", "__pb")
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val ma = col("__sa") / na
    val mb = col("__sb") / nb
    // sample variance from exact sums: (n·Σv² − (Σv)²) / (n·(n−1))
    val va = (na * col("__pa") - col("__sa") * col("__sa")) / (na * (na - 1.0))
    val vb = (nb * col("__pb") - col("__sb") * col("__sb")) / (nb * (nb - 1.0))
    val se2a = va / na
    val se2b = vb / nb
    df.filter(v.isNotNull && col(groupCol).isin(a, b))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("n_a"), col("n_b"),
        round(ma, 6).as("mean_a"), round(mb, 6).as("mean_b"),
        round((ma - mb) / sqrt(se2a + se2b), 6).as("t"),
        round((se2a + se2b) * (se2a + se2b) /
          (se2a * se2a / (na - 1.0) + se2b * se2b / (nb - 1.0)), 6).as("dof"))
  }

  // ------------------------------------------------- robust outliers (MAD)
  /** Per-group lower median of `valueCol` as column `out`: the value at rank
    * `(n+1) div 2` of the group's sorted multiset. An order statistic IS a
    * data element — no interpolation, no arithmetic, byte-identical across
    * engines (the q43 lesson). Ties in `valueCol` leave row_number's choice
    * arbitrary but the SELECTED VALUE identical, which is all that leaves
    * this function.
    *
    * Scale: one partitioned window per group (rank + count in a single sort)
    * — the same shape q43 runs; for groups too hot to sort, gate upstream
    * with [[TextAnalysis]]'s approx quantile instead.
    */
  def groupLowerMedian(df: DataFrame, groupCols: Seq[String],
                       valueCol: String, out: String): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col(valueCol))
    val wAll = Window.partitionBy(groupCols.map(col): _*)
    df.filter(col(valueCol).isNotNull)
      .select(groupCols.map(col) :+ col(valueCol): _*)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__nn", count(lit(1)).over(wAll))
      .filter(col("__rn") === expr("(__nn + 1) div 2"))
      .select(groupCols.map(col) :+ col(valueCol).as(out): _*)
  }

  /** Robust per-group outlier report: med = lower median of v, mad = lower
    * median of |v - med|, a row is an outlier when |v - med| > k·mad.
    * Everything after the two order statistics is exactly-rounded IEEE
    * (subtract, abs, one multiply) on identical inputs, so the flag — and
    * therefore the counts — are engine-independent with NO rounding step
    * anywhere. Returns one row per group: (group..., n, med, mad,
    * n_outliers).
    *
    * The classic x̃/MAD rule (Hampel identifier) with the lower-median
    * convention; k ≈ 3 corresponds to ~2σ for gaussian data (MAD ≈ 0.6745σ).
    *
    * `broadcastStats` mirrors [[standardize]]: true (default) broadcasts
    * the one-row-per-group median/MAD relations — right when the group
    * vocabulary is bounded; set false for UNBOUNDED vocabularies (per-user
    * groups), where a broadcast would collect one row per group on the
    * driver — the joins degrade to co-keyed shuffles.
    */
  def robustOutlierStats(df: DataFrame, groupCols: Seq[String],
                         valueCol: String, k: Double,
                         broadcastStats: Boolean = true): DataFrame = {
    def bc(stats: DataFrame) = if (broadcastStats) broadcast(stats) else stats
    val v = col(valueCol)
    val med = groupLowerMedian(df, groupCols, valueCol, "med")
    val dev = df.filter(v.isNotNull)
      .join(bc(med), groupCols)
      .withColumn("__dev", abs(v - col("med")))
    val mad = groupLowerMedian(dev, groupCols, "__dev", "mad")
    dev.join(bc(mad), groupCols)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        first(col("med")).as("med"),
        first(col("mad")).as("mad"),
        sum(when(col("__dev") > lit(k) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
  }

  // --------------------------------------------- reciprocal-rank fusion
  /** Reciprocal-rank fusion of TWO per-group rankings (Cormack et al.
    * 2009): each scorer retrieves its top-`depth` list per group (ordered
    * score desc, key asc — [[graft.pipeline.Curation.topKPerGroup]]'s
    * deterministic prune does the heavy lifting, so no global or
    * whole-group sort ever runs), lists full-outer join on (group, key),
    * and fused = Σ 1/(kRrf + rank) over the lists the key appears in —
    * the standard retrieved-list-depth semantics (a key outside one list
    * contributes nothing for it). Ranks are small integers, so the fused
    * score is the same two correctly-rounded IEEE divisions + one add in
    * any engine; the final per-group top-`topK` window runs over ≤2·depth
    * rows per group. Returns (group, key, r1, r2, fused) — r1/r2 null
    * when the key missed that list. */
  def rrfFuse(df: DataFrame, groupCol: String, keyCol: String,
              score1: Column, score2: Column, depth: Int = 100,
              kRrf: Int = 60, topK: Int = 5): DataFrame = {
    require(depth > 0 && kRrf > 0 && topK > 0)
    val base = df.select(col(groupCol).as("__grp"), col(keyCol).as("__key"),
      score1.as("__s1"), score2.as("__s2"))
    def list(scoreName: String, rankName: String) = {
      val top = graft.pipeline.Curation.topKPerGroup(
        base.select("__grp", "__key", scoreName), "__grp", scoreName, "__key", depth)
      top.withColumn(rankName, row_number().over(
          Window.partitionBy(col("__grp"))
            .orderBy(col(scoreName).desc, col("__key").asc)))
        .select(col("__grp"), col("__key"), col(rankName))
    }
    val joined = list("__s1", "r1").join(list("__s2", "r2"),
      Seq("__grp", "__key"), "full_outer")
    val fused = coalesce(lit(1.0) / (lit(kRrf) + col("r1")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(kRrf) + col("r2")), lit(0.0))
    joined.withColumn("__f", fused)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__grp"))
          .orderBy(col("__f").desc, col("__key").asc)))
      .filter(col("__rn") <= topK)
      .select(col("__grp").as(groupCol), col("__key").as(keyCol),
        col("r1"), col("r2"), round(col("__f"), 6).as("fused"))
  }

  // --------------------------------------------------------- Benford audit
  /** First-significant-digit distribution of a positive fixed-point column
    * vs Benford's law — the classic fabricated-amounts / corrupted-feed
    * audit. The digit is read from the STRING image of the exact
    * `10^scale`-scaled integer (never floor(log10(v)), whose sub-ulp
    * landings at powers of ten differ per libm): values carry `scale`
    * fractional digits, so round(v·10^scale) is an exact integer in both
    * engines and its first character is the digit. One aggregate bounded by
    * 9 rows; expected shares are log10(1 + 1/d) on the 9 CONSTANTS, 6dp.
    * Returns (digit, n, share, benford_p, excess) ordered by digit. */
  def benfordDigits(df: DataFrame, valueCol: String, scale: Int = 2): DataFrame = {
    require(scale >= 0 && scale <= 6, s"scale out of range: $scale")
    val v = col(valueCol)
    val cents = round(v * math.pow(10, scale).toLong).cast("bigint")
    val counts = df.filter(v.isNotNull && v > 0.0)
      .select(substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("__t"))
    val share = col("n").cast("double") / col("__t").cast("double")
    val benford = log10(lit(1.0) + lit(1.0) / col("digit").cast("double"))
    counts.crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        round(share, 6).as("share"),
        round(benford, 6).as("benford_p"),
        round(share - benford, 6).as("excess"))
  }

  // ----------------------------------------------------- referential audit
  /** Referential-integrity audit over a set of FK edges: for each
    * (edge name, child side+key, parent side+key), the child row count and
    * how many child rows point at a key absent from the parent — the
    * dangling-reference report a warehouse runs before publishing a
    * snapshot. Each edge is one LEFT ANTI join on the key (the parent key
    * set typically broadcasts; a giant parent degrades to a co-keyed
    * shuffle, never more) + two counts; edges union into one small report.
    * Null child keys count as orphans (they reference nothing).
    * Returns one row per edge: (edge, n_child, n_orphans). */
  def referentialAudit(
      edges: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    require(edges.nonEmpty, "audit needs at least one FK edge")
    edges.map { case (name, child, childKey, parent, parentKey) =>
      val keys = parent.select(col(parentKey).as("__pk")).distinct()
      val orphans = child.select(col(childKey).as("__ck"))
        .join(keys, col("__ck") === col("__pk"), "anti")
      val nc = child.agg(count(lit(1)).as("n_child"))
      val no = orphans.agg(count(lit(1)).as("n_orphans"))
      nc.crossJoin(no).select(lit(name).as("edge"), col("n_child"),
        col("n_orphans"))
    }.reduce(_.unionByName(_))
  }

  // -------------------------------------------------- quantile normalization
  /** Cross-group quantile normalization (the bioinformatics/feature-scaling
    * classic): rank each row within its group by (value, id), compute the
    * per-RANK reference value = mean of the values holding that rank across
    * all groups (groups shorter than the rank simply don't contribute), and
    * replace each row's value with its rank's reference. Distributions
    * become identical across groups while each group keeps its own order.
    *
    * Per-group ranks via [[distributedRank]] (cell-partitioned — groups
    * are sources, and a source grows to corpus scale), one rank-keyed
    * decimal-exact mean, joined back on the rank co-keyed.
    * Mean = DECIMAL sum / count, one IEEE division, 6dp.
    * Returns the input plus (rank long, norm_value). */
  def quantileNormalize(df: DataFrame, groupCol: String, idCol: String,
                        valueCol: String): DataFrame = {
    // per-group ranks via [[distributedRank]] — a group is a SOURCE and
    // sources grow to corpus scale, so the per-group window is replaced
    // by cell-partitioned ranking (group vocabulary stays the bounded
    // seam; group SIZE no longer funnels through one task)
    val ranked = distributedRank(df, Seq(groupCol), valueCol,
      desc = false, tieCols = Seq(idCol), weightCol = None, rnOut = "rank")
    val ref = ranked.groupBy("rank")
      .agg(round(sum(col(valueCol).cast("decimal(38,6)")).cast("double") /
        count(lit(1)).cast("double"), 6).as("norm_value"))
    ranked.join(ref, Seq("rank"))
  }

  // --------------------------------------------------------------- lift table
  /** Model-evaluation decile lift table for a score against a binary label:
    * rows bucket into `nBuckets` score bands via the q93 broadcast-quantile
    * discipline (never a global ntile sort), and each band reports its size,
    * positives, response rate, lift vs the overall rate, and — walking from
    * the TOP band down — cumulative capture of all positives. The campaign-
    * targeting / classifier-triage standard.
    *
    * One percentile aggregate (boundaries, rounded 4dp, broadcast), one
    * band-keyed aggregate (`nBuckets` rows), and one `nBuckets`-row window
    * for the cumulative walk — the fact table never sorts. Counts are exact
    * integers; rate/lift/capture are fixed-shape IEEE divisions, 6dp.
    * Returns (bucket — nBuckets = best scores, n, n_pos, rate, lift,
    * cum_capture) ordered by bucket descending. */
  def liftTable(df: DataFrame, scoreCol: String, labelCol: String,
                nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 100, s"nBuckets out of range: $nBuckets")
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets)
    val banded = quantileBuckets(
      df.select(col(scoreCol), col(labelCol).cast("long").as("__y")),
      scoreCol, probs)
    val perBand = banded.filter(col("bucket").isNotNull)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"))
    val totals = perBand.agg(sum(col("n")).as("__tn"),
      sum(col("n_pos")).as("__tp"))
    val wCum = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the single-partition window is over ≤ nBuckets rows — a constant
    perBand.crossJoin(broadcast(totals))
      .withColumn("__cum", sum(col("n_pos")).over(wCum))
      .select(col("bucket"), col("n"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6).as("rate"),
        round((col("n_pos").cast("double") / col("n").cast("double")) /
          (col("__tp").cast("double") / col("__tn").cast("double")), 6).as("lift"),
        round(col("__cum").cast("double") / col("__tp").cast("double"), 6)
          .as("cum_capture"))
  }

  // ------------------------------------------------- clamped running level
  /** Floor-at-zero running level per key — the inventory/credit-balance
    * recurrence y_i = max(0, y_{i-1} + Δ_i), which has the closed form
    * y_i = s_i − min(0, min_{j≤i} s_j) over the prefix sums s: TWO frames of
    * ONE key-partitioned window sort replace the sequential scan (the
    * recurrence itself is unparallelizable as written; the identity is what
    * makes it a plan). Deltas cast to long, so every level is exact integer
    * arithmetic. `orderCols` must be a deterministic total order within a
    * key. Returns one row per key: (key, n_moves, final_level, peak_level).
    */
  def clampedRunningLevel(df: DataFrame, keyCol: String, deltaCol: Column,
                          orderCols: Seq[Column]): DataFrame = {
    require(orderCols.nonEmpty, "orderCols must give a total order per key")
    val named = orderCols.zipWithIndex.map { case (c, i) => c.as(s"__o$i") }
    val oRefs = orderCols.indices.map(i => col(s"__o$i"))
    val w = Window.partitionBy(col("key")).orderBy(oRefs: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val leveled = df
      .select(Seq(col(keyCol).as("key"), deltaCol.cast("long").as("__d")) ++
        named: _*)
      .withColumn("__s", sum(col("__d")).over(w))
      .withColumn("__level",
        col("__s") - least(lit(0L), min(col("__s")).over(w)))
    leveled.groupBy("key")
      .agg(count(lit(1)).as("n_moves"),
        max_by(col("__level"), struct(oRefs: _*)).as("final_level"),
        max(col("__level")).as("peak_level"))
  }

  // ------------------------------------------------------- ratio to parent
  /** Hierarchical contribution report: value share of each child within its
    * parent, and of each parent within the grand total — the
    * ratio-to-report rollup every revenue dashboard leads with. Values
    * aggregate decimal-exact at child grain ONCE; the parent and total
    * sums are windows over that bounded child relation (|children| rows,
    * never the fact table), and each share is one IEEE division rounded
    * 6dp. Returns (parentCols..., childCols..., value, share_of_parent,
    * parent_share_of_total). */
  def ratioToParent(df: DataFrame, parentCols: Seq[String],
                    childCols: Seq[String], valueCol: String): DataFrame = {
    require(parentCols.nonEmpty && childCols.nonEmpty, "grouping required")
    val g = (parentCols ++ childCols).map(col)
    val child = df.groupBy(g: _*)
      .agg(sum(col(valueCol).cast("decimal(28,6)")).as("__v"))
    val wPar = Window.partitionBy(parentCols.map(col): _*)
    val wAll = Window.partitionBy()
    child
      .withColumn("__pv", sum(col("__v")).over(wPar))
      .withColumn("__tv", sum(col("__v")).over(wAll))
      .select(g :+ col("__v").cast("double").as("value") :+
        round(col("__v").cast("double") / col("__pv").cast("double"), 6)
          .as("share_of_parent") :+
        round(col("__pv").cast("double") / col("__tv").cast("double"), 6)
          .as("parent_share_of_total"): _*)
  }

  // -------------------------------------------------- weighted lower median
  /** Weighted lower median per group: the smallest value v whose cumulative
    * weight reaches ⌈(W+1)/2⌉ — the 50%-of-mass order statistic (e.g. the
    * price below which half the QUANTITY traded). Equal values collapse into
    * one weight row FIRST, so tie order can't matter; the crossing test
    * (2·cum ≥ W+1 and the previous cum below) is pure integer arithmetic on
    * long weights — engine-exact, and the window sorts only each group's
    * DISTINCT values. Returns (groupCols..., weighted_median, total_weight).
    */
  def weightedLowerMedian(df: DataFrame, groupCols: Seq[String],
                          valueCol: String, weightCol: String): DataFrame = {
    require(groupCols.nonEmpty, "group columns required")
    val g = groupCols.map(col)
    val perValue = df.groupBy(g :+ col(valueCol).as("__v"): _*)
      .agg(sum(col(weightCol).cast("long")).as("__w"))
    val wCum = Window.partitionBy(g: _*).orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(g: _*)
    perValue
      // "__tw", not "__W": Spark resolves column names case-insensitively
      // by default, so "__W" would silently REPLACE "__w" in withColumn
      .withColumn("__cw", sum(col("__w")).over(wCum))
      .withColumn("__tw", sum(col("__w")).over(wTot))
      .filter(col("__cw") * 2 >= col("__tw") + 1 &&
        (col("__cw") - col("__w")) * 2 < col("__tw") + 1)
      .select(g :+ col("__v").as("weighted_median") :+
        col("__tw").as("total_weight"): _*)
  }

  // ------------------------------------------------------- survivorship
  /** Golden-record survivorship over duplicate clusters (the data-mastering
    * step after entity resolution): per cluster, each `modeCols` column
    * elects its most frequent value (count DESC, value ASC tie-break — a
    * deterministic mode), `minCols`/`maxCols` take extremes. One count
    * aggregate + one argmin per mode column, all keyed on the cluster —
    * never a per-cluster sort; extremes ride a single groupBy. Nulls lose
    * every election (dropped from the vote). */
  def survivorship(df: DataFrame, clusterCol: String, modeCols: Seq[String],
                   minCols: Seq[String], maxCols: Seq[String]): DataFrame = {
    require(modeCols.nonEmpty || minCols.nonEmpty || maxCols.nonEmpty,
      "no survivorship rules given")
    val base = df.groupBy(col(clusterCol).as("cluster"))
      .agg(count(lit(1)).as("n_members"),
        (minCols.map(c => min(col(c)).as(s"min_$c")) ++
          maxCols.map(c => max(col(c)).as(s"max_$c"))): _*)
    modeCols.foldLeft(base) { (acc, c) =>
      val votes = df.filter(col(c).isNotNull)
        .groupBy(col(clusterCol).as("cluster"), col(c).as("__v"))
        .agg(count(lit(1)).as("__n"))
      val elected = votes.groupBy("cluster")
        .agg(min_by(col("__v"), struct((-col("__n")).as("__neg"), col("__v")))
          .as(s"mode_$c"))
      acc.join(elected, Seq("cluster"), "left")
    }
  }

  // ---------------------------------------------------------------- ROC AUC
  /** Exact ROC AUC per group via the Mann-Whitney rank statistic — the
    * model-eval primitive a scoring pipeline runs after [[Classifier]]-style
    * triage. AUC = P(score_pos > score_neg) + P(=)/2, computed WITHOUT a
    * global sort of raw rows: scores collapse to per-(group, score) pos/neg
    * counts first (one keyed aggregate — the relation is bounded by
    * distinct scores, not rows), then one per-group running sum gives
    * 2U = Σ_s n_pos(s)·(2·negBelow(s) + n_neg(s)) in INTEGERS; the only
    * float op is the final single division (6dp), so any engine reproduces
    * it bit-for-bit. Degenerate groups (no positives or no negatives)
    * report null. Returns groupCols + (n_pos, n_neg, auc).
    *
    * Cardinality contract (the aboveQuantile discipline): the per-group
    * window runs over DISTINCT scores, so one group with an unbounded-
    * cardinality score column concentrates that many rows in one window
    * task. For continuous scores at corpus scale pass `scoreRound` —
    * rounding to d decimals bounds distinct scores (≤ span·10^d) and is
    * the standard AUC-on-binned-scores estimate; exact when scores
    * already carry ≤ d decimals. ENFORCED (round 15): a group whose
    * distinct-score count exceeds 10⁵ RAISES via
    * [[gateGroupValueCells]] naming the scoreRound remedy. */
  def rocAuc(df: DataFrame, scoreCol: String, labelCol: Column,
             groupCols: Seq[String],
             scoreRound: Option[Int] = None): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    val g = groupCols.map(col)
    val s = scoreRound.map(d => round(col(scoreCol), d)).getOrElse(col(scoreCol))
    val perScore = gateGroupValueCells(df
      .groupBy(g :+ s.as("__s"): _*)
      .agg(sum(when(labelCol, 1L).otherwise(0L)).as("__np"),
        sum(when(labelCol, 0L).otherwise(1L)).as("__nn")),
      g, "rocAuc")
    val w = Window.partitionBy(g: _*).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    perScore
      .withColumn("__negBelow", coalesce(sum(col("__nn")).over(w), lit(0L)))
      .groupBy(g: _*)
      .agg(sum(col("__np")).as("n_pos"), sum(col("__nn")).as("n_neg"),
        sum(col("__np") * (lit(2L) * col("__negBelow") + col("__nn")))
          .as("__u2"))
      .withColumn("auc",
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(col("__u2").cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg")), 6)))
      .drop("__u2")
  }

  /** Average precision (area under the precision-recall curve, the
    * ranking-eval companion to [[rocAuc]]): candidates rank per group by
    * (score DESC, id ASC — a total order, so ties are well-defined), and
    * AP = (1/n_pos) Σ over positive ranks k of precision@k. Each
    * precision@k = pos_so_far/k casts DECIMAL(28,12) at the source, so
    * the per-group sum is exact under any merge order; the one IEEE
    * division comes last (6dp). Unlike [[rocAuc]] the window runs over
    * raw rows (precision@k needs every rank) — still one group-keyed
    * window, no global sort. Degenerate groups (no positives) are null.
    * Returns groupCols + (n_pos, ap). */
  def averagePrecision(df: DataFrame, scoreCol: String, labelCol: Column,
                       idCol: String, groupCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(groupCols.nonEmpty, "at least one group column")
    val g = groupCols.map(col)
    val w = Window.partitionBy(g: _*)
      .orderBy(col(scoreCol).desc, col(idCol))
    val ranked = df
      .withColumn("__pos", when(labelCol, 1L).otherwise(0L))
      .withColumn("__k", row_number().over(w))
      .withColumn("__cum", sum(col("__pos")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    val term = when(col("__pos") === 1L,
      (col("__cum").cast("double") / col("__k"))
        .cast(DecimalType(28, 12))).otherwise(lit(null))
    ranked.withColumn("__term", term)
      .groupBy(g: _*)
      .agg(sum(col("__pos")).as("n_pos"), sum(col("__term")).as("__s"))
      .withColumn("ap", when(col("n_pos") > 0,
        round(col("__s").cast("double") / col("n_pos"), 6)))
      .drop("__s")
  }

  // -------------------------------------------- KMV distinct-count sketch
  /** K-minimum-values distinct-count estimate per group — the MERGEABLE
    * distinct sketch (union two sketches = keep the k smallest of both)
    * that, unlike HLL, is DETERMINISTIC and engine-portable: the hash is
    * the md5-draw idiom (60-bit integer from the first 15 md5 nibbles), so
    * any engine with md5 computes the identical estimate — an
    * oracle-checkable sketch (the q43 gate problem solved by construction).
    *
    * Estimator: with h₍k₎ the k-th smallest normalized hash of the group's
    * DISTINCT keys, est = (k−1)/h₍k₎ (Bar-Yossef et al.; Beyer et al.'s
    * unbiased form). Groups with ≤ k distinct keys report their EXACT
    * count (the classic KMV small-set rule).
    *
    * Scale shape: keys collapse to distinct (group, hash) once (one
    * shuffle), then a count-driven PRUNE keeps only hashes small enough to
    * plausibly rank ≤ k (expected survivors ≈ 4k per group), so the rank
    * window sorts ~4k rows per group regardless of cardinality — never the
    * full distinct relation. A group whose survivor set under-fills
    * (astronomically unlikely, but the estimate must not silently degrade)
    * is rescued exactly from the unpruned relation, the capPerGroup
    * discipline. Returns groupCols + (n_distinct, kmv_est) — n_distinct is
    * the exact count (for gate/diagnostics; at 100 TB you'd drop it and
    * keep only the sketch path, which never sorts the corpus). */
  def kmvDistinct(df: DataFrame, key: Column, groupCols: Seq[String],
                  k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    require(groupCols.nonEmpty, "at least one group column")
    val g = groupCols.map(col)
    val two60 = math.pow(2.0, 60) // exact in double
    val h = conv(substring(md5(key.cast("string")), 1, 15), 16, 10)
      .cast("long")
    val hashes = df.filter(key.isNotNull)
      .select(g :+ h.as("__h"): _*).distinct()
    val counts = hashes.groupBy(g: _*).agg(count(lit(1)).as("n_distinct"))
    // prune: keep __h whose normalized value is below 4k/n — expected
    // survivors 4k; heuristic only (the rescue restores exactness), so the
    // double comparison's determinism is all that matters (fixed shape).
    val pruned = hashes.join(counts, groupCols)
      .filter(col("__h").cast("double") * col("n_distinct") <
        lit(4.0 * k) * lit(two60) || col("n_distinct") <= k)
    val w = Window.partitionBy(g: _*).orderBy(col("__h"))
    val surv = pruned.withColumn("__r", row_number().over(w))
    val kth = surv.filter(col("__r") === k)
      .select(g :+ col("__h").as("__hk"): _*)
    // groups whose pruned set under-fills despite n_distinct > k
    val needRescue = counts
      .join(surv.groupBy(g: _*).agg(max(col("__r")).as("__m")), groupCols, "left")
      .filter(col("n_distinct") > k && coalesce(col("__m"), lit(0)) < k)
      .select(g: _*)
    val rescued = hashes.join(broadcast(needRescue), groupCols, "semi")
      .withColumn("__r", row_number().over(w)).filter(col("__r") === k)
      .select(g :+ col("__h").as("__hk"): _*)
    val kthAll = kth.join(broadcast(needRescue), groupCols, "anti")
      .unionByName(rescued)
    counts.join(kthAll, groupCols, "left")
      .select(g ++ Seq(col("n_distinct"),
        when(col("n_distinct") <= k, col("n_distinct").cast("double"))
          .otherwise(round(lit((k - 1).toDouble) * lit(two60) /
            col("__hk").cast("double"), 4)).as("kmv_est")): _*)
  }

  // --------------------------------------- population stability index (PSI)
  /** PSI between a reference and a current sample of `valueCol` over
    * `nBins` equal-width bins on [lo, hi) (out-of-range values clamp into
    * the edge bins — drift OFF the known range must count as drift, not
    * vanish): Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ), the standard model-monitoring drift
    * score (PSI < 0.1 stable, > 0.25 drifted). Bins are the q89 histogram
    * arithmetic (pure IEEE floor — engine-identical); empty bins are kept
    * by a generated bin spine and smoothed with +0.5 (Laplace half-count,
    * the zero-cell guard); each ln term casts DECIMAL(28,12) at the source
    * (q228 discipline) so the sum is exact under any merge order. Both
    * inputs aggregate to ≤ nBins cells in one conditional-count pass each —
    * map-side combinable, never a shuffle of rows. One row:
    * (n_ref, n_cur, psi) with psi rounded 6dp. */
  def psi(ref: DataFrame, cur: DataFrame, valueCol: String,
          lo: Double, hi: Double, nBins: Int): DataFrame = {
    require(nBins >= 2 && hi > lo, s"bad bins: [$lo, $hi) x $nBins")
    val width = (hi - lo) / nBins // one IEEE division, both engines
    def binned(df: DataFrame, n: String) = df
      .filter(col(valueCol).isNotNull)
      .groupBy(least(greatest(
        floor((col(valueCol).cast("double") - lo) / width), lit(0.0)),
        lit((nBins - 1).toDouble)).cast("long").as("bin"))
      .agg(count(lit(1)).as(n))
    val spark = ref.sparkSession
    val spine = spark.range(nBins).select(col("id").as("bin"))
    val cells = spine
      .join(binned(ref, "__cr"), Seq("bin"), "left")
      .join(binned(cur, "__cc"), Seq("bin"), "left")
      .select(col("bin"), coalesce(col("__cr"), lit(0L)).as("__cr"),
        coalesce(col("__cc"), lit(0L)).as("__cc"))
    val tot = cells.agg(sum(col("__cr")).as("n_ref"), sum(col("__cc")).as("n_cur"))
    val p = (col("__cr").cast("double") + 0.5) /
      (col("n_ref").cast("double") + 0.5 * nBins)
    val q = (col("__cc").cast("double") + 0.5) /
      (col("n_cur").cast("double") + 0.5 * nBins)
    cells.crossJoin(broadcast(tot))
      .select(col("n_ref"), col("n_cur"),
        ((p - q) * log(p / q)).cast("decimal(28,12)").as("__t"))
      .groupBy("n_ref", "n_cur")
      .agg(round(sum(col("__t")).cast("double"), 6).as("psi"))
  }

  // ----------------------------------------------- PSI drift series
  /** [[psi]] per slice: every group of `groupCol` in `cur` (a day, an
    * hour, a source shard) scores its drift against ONE fixed reference
    * histogram — the drift-over-time monitoring board. The reference
    * aggregates once to ≤ nBins cells and broadcasts; the current side
    * aggregates to |groups|×nBins cells (map-side combinable); the group ×
    * bin spine generates from the distinct-group relation so empty bins
    * smooth correctly everywhere. Same arithmetic contract as [[psi]]
    * (clamped bins, +0.5 smoothing, DECIMAL(28,12) ln terms). Returns
    * (group, n_cur, psi) — n_ref is a property of the reference, constant
    * across rows, so it stays out of the result. */
  def psiByGroup(ref: DataFrame, cur: DataFrame, groupCol: String,
                 valueCol: String, lo: Double, hi: Double,
                 nBins: Int): DataFrame = {
    require(nBins >= 2 && hi > lo, s"bad bins: [$lo, $hi) x $nBins")
    val width = (hi - lo) / nBins
    def binOf(df: DataFrame) = least(greatest(
      floor((col(valueCol).cast("double") - lo) / width), lit(0.0)),
      lit((nBins - 1).toDouble)).cast("long").as("bin")
    val refBins = ref.filter(col(valueCol).isNotNull)
      .groupBy(binOf(ref)).agg(count(lit(1)).as("__cr"))
    val refTot = ref.filter(col(valueCol).isNotNull)
      .agg(count(lit(1)).as("__nr"))
    val curBins = cur.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("__g"), binOf(cur))
      .agg(count(lit(1)).as("__cc"))
    val curTot = curBins.groupBy("__g").agg(sum(col("__cc")).as("n_cur"))
    val spine = curTot.select(col("__g"), col("n_cur"),
      explode(sequence(lit(0L), lit((nBins - 1).toLong))).as("bin"))
    val p = (coalesce(col("__cr"), lit(0L)).cast("double") + 0.5) /
      (col("__nr").cast("double") + 0.5 * nBins)
    val q = (coalesce(col("__cc"), lit(0L)).cast("double") + 0.5) /
      (col("n_cur").cast("double") + 0.5 * nBins)
    spine
      .join(broadcast(refBins), Seq("bin"), "left")
      .join(curBins, Seq("__g", "bin"), "left")
      .crossJoin(broadcast(refTot))
      .select(col("__g"), col("n_cur"),
        ((p - q) * log(p / q)).cast("decimal(28,12)").as("__t"))
      .groupBy(col("__g").as(groupCol), col("n_cur"))
      .agg(round(sum(col("__t")).cast("double"), 6).as("psi"))
  }

  // ------------------------------------------------ Cohen's kappa agreement
  /** Inter-rater agreement between two categorical labelings of the same
    * rows (two annotation passes, a model vs a heuristic, two quality
    * classifiers): κ = (p₀ − pₑ)/(1 − pₑ) with p₀ the observed agreement
    * and pₑ the chance agreement from the marginals. One pass collapses the
    * corpus to the (a, b) CELL relation (bounded by the label vocabulary
    * squared — the KS/Gini aggregated-relation discipline); diagonal,
    * marginals, and the pₑ cross-product are all integer arithmetic on
    * those cells, finished in one fixed IEEE shape rounded 6dp. Rows where
    * either rater is null are excluded. One row: (n, po, pe, kappa). */
  def cohenKappa(df: DataFrame, raterA: Column, raterB: Column): DataFrame = {
    val cells = df.filter(raterA.isNotNull && raterB.isNotNull)
      .groupBy(raterA.as("__a"), raterB.as("__b"))
      .agg(count(lit(1)).as("__n"))
    val n = cells.agg(sum(col("__n")).as("__tot"))
    val diag = cells.filter(col("__a") === col("__b"))
      .agg(coalesce(sum(col("__n")), lit(0L)).as("__d"))
    val rows = cells.groupBy("__a").agg(sum(col("__n")).as("__ra"))
    val cols = cells.groupBy("__b").agg(sum(col("__n")).as("__cb"))
    val pe = rows.join(cols, col("__a") === col("__b"))
      .agg(coalesce(sum(col("__ra") * col("__cb")), lit(0L)).as("__pe2"))
    val nD = col("__tot").cast("double")
    val po = col("__d").cast("double") / nD
    val peD = col("__pe2").cast("double") / (nD * nD)
    n.crossJoin(broadcast(diag)).crossJoin(broadcast(pe))
      .select(col("__tot").as("n"), round(po, 6).as("po"),
        round(peD, 6).as("pe"),
        round((po - peD) / (lit(1.0) - peD), 6).as("kappa"))
  }

  // ------------------------------------------- calibration (reliability)
  /** Reliability-curve bins for a probabilistic scorer: rows bucket by
    * predicted probability (`probCol` in [0,1], bin = ⌊p·nBins⌋ clamped),
    * and each bin reports how often the label actually fired — the plot
    * that shows a quality/toxicity classifier is over- or under-confident
    * before its scores gate a corpus. mean_p is a decimal-exact sum (the
    * q91 discipline, probs cast DECIMAL(28,12) at the source) divided
    * once; frac_pos is integer-count division. One combinable aggregate on
    * ≤ nBins keys; only populated bins return (the spine-free histogram
    * convention, q89). Returns (bin, n, mean_p, frac_pos) rounded 6dp. */
  def calibrationBins(df: DataFrame, probCol: String, labelCol: Column,
                      nBins: Int): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2: $nBins")
    val p = col(probCol).cast("double")
    df.filter(p.isNotNull)
      .groupBy(least(floor(p * nBins), lit((nBins - 1).toDouble))
        .cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        round(sum(p.cast("decimal(28,12)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_p"),
        round(sum(when(labelCol, 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double"), 6).as("frac_pos"))
  }

  // ------------------------------------------- expected calibration error
  /** Expected calibration error: Σ_b (n_b/N)·|frac_pos_b − mean_p_b| over
    * the [[calibrationBins]] relation — q236's per-bin face collapsed to
    * THE calibration headline number. The per-bin inputs are the 6dp
    * values the bins query already gates (stable), each weighted term
    * casts DECIMAL(28,12) before the final sum. Output (one row): n,
    * n_bins_used, ece (6dp). */
  def expectedCalibrationError(df: DataFrame, probCol: String,
                               labelCol: Column, nBins: Int): DataFrame = {
    val bins = calibrationBins(df, probCol, labelCol, nBins)
    bins.agg(sum(col("n")).as("n"), count(lit(1)).as("n_bins_used"),
      round(sum((col("n").cast("double") *
          abs(col("frac_pos") - col("mean_p"))).cast("decimal(28,12)"))
        .cast("double") / sum(col("n")).cast("double"), 6).as("ece"))
  }

  // ----------------------------------------------------------- NDCG@k
  /** Normalized discounted cumulative gain at k — the graded-relevance
    * ranking metric completing the eval tier ([[rocAuc]] = binary global,
    * [[averagePrecision]] = binary PR, NDCG = graded positional). Ranks
    * order by (score DESC, id ASC) — a total order, ties well-defined;
    * the ideal ranking orders by (relevance DESC, id ASC). Gains are
    * 2^rel − 1 on INTEGER grades (exact powers of two), discounts
    * ln(r+1)/ln 2 as one fixed IEEE shape, each term cast DECIMAL(28,12) at
    * the source (q229's discipline) so per-group sums are merge-order
    * exact; ndcg = dcg/idcg, 6dp. Two group-keyed windows over raw rows —
    * no global sort. Groups with zero total gain report null. Returns
    * groupCols + (dcg, idcg, ndcg). */
  def ndcgAtK(df: DataFrame, scoreCol: String, relCol: String,
              idCol: String, groupCols: Seq[String], k: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(groupCols.nonEmpty, "at least one group column")
    require(k >= 1, s"k must be >= 1: $k")
    val g = groupCols.map(col)
    val gain = (pow(lit(2.0), col(relCol).cast("int")) - 1.0)
    def terms(order: Column*) = {
      val w = Window.partitionBy(g: _*).orderBy(order: _*)
      val r = row_number().over(w)
      when(r <= k, (gain / (log(r.cast("double") + 1.0) / log(lit(2.0))))
        .cast(DecimalType(28, 12))).otherwise(lit(null))
    }
    df.withColumn("__d", terms(col(scoreCol).desc, col(idCol).asc))
      .withColumn("__i", terms(col(relCol).cast("int").desc, col(idCol).asc))
      .groupBy(g: _*)
      .agg(sum(col("__d")).cast("double").as("__dcg"),
        sum(col("__i")).cast("double").as("__idcg"))
      .select(g ++ Seq(round(col("__dcg"), 6).as("dcg"),
        round(col("__idcg"), 6).as("idcg"),
        round(when(col("__idcg") > 0.0, col("__dcg") / col("__idcg")), 6)
          .as("ndcg")): _*)
  }

  // ------------------------------------------------ mean reciprocal rank
  /** Reciprocal rank of the first relevant item per group (MRR's per-group
    * face — average the `rr` column for the scalar): rank by (score DESC,
    * id ASC), the first row where `labelCol` holds wins. One group-keyed
    * window + min aggregate; groups with no positive report null rr (and
    * null first_rank), kept by a right join against the group relation.
    * Returns groupCols + (first_rank, rr). */
  def reciprocalRank(df: DataFrame, scoreCol: String, labelCol: Column,
                     idCol: String, groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    val g = groupCols.map(col)
    val w = Window.partitionBy(g: _*)
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    val firsts = df.withColumn("__r", row_number().over(w))
      .filter(labelCol)
      .groupBy(g: _*).agg(min(col("__r")).as("first_rank"))
      .withColumn("rr", round(lit(1.0) / col("first_rank"), 6))
    df.select(g: _*).distinct()
      .join(firsts, groupCols, "left")
  }

  // ------------------------------------------- two-proportion z-test (A/B)
  /** Pooled two-proportion z-test between variants `a` and `b` of an
    * experiment — the A/B readout: z = (p̂a − p̂b)/√(p̂(1−p̂)(1/na+1/nb))
    * with p̂ the pooled rate. `df` must be UNIT grain (one row per
    * randomization unit — aggregate events to users upstream, or the test
    * double-counts multi-event users and overstates significance). ONE
    * conditional-count aggregate pass, one fixed IEEE shape, 6dp.
    * Degenerate experiments — an empty arm, or a pooled rate of exactly
    * 0 or 1 (zero variance, z undefined) — report a null z rather than a
    * division error (the q221 convention). One row:
    * (n_a, n_b, rate_a, rate_b, z). */
  def twoProportionZ(df: DataFrame, variantCol: Column, successCol: Column,
                     a: String, b: String): DataFrame = {
    def side(g: String, n: String, s: String) = Seq(
      sum(when(variantCol === g, 1L).otherwise(0L)).as(n),
      sum(when(variantCol === g && successCol, 1L).otherwise(0L)).as(s))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val pa = col("__sa").cast("double") / na
    val pb = col("__sb").cast("double") / nb
    val pp = (col("__sa") + col("__sb")).cast("double") / (na + nb)
    val aggs = side(a, "n_a", "__sa") ++ side(b, "n_b", "__sb")
    df.filter(variantCol.isin(a, b))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("n_a"), col("n_b"),
        round(when(col("n_a") > 0, pa), 6).as("rate_a"),
        round(when(col("n_b") > 0, pb), 6).as("rate_b"),
        round(when(col("n_a") > 0 && col("n_b") > 0 &&
          pp > 0.0 && pp < 1.0,
          (pa - pb) / sqrt(pp * (lit(1.0) - pp) *
            (lit(1.0) / na + lit(1.0) / nb))), 6).as("z"))
  }

  // ---------------------------------------------------- k-anonymity audit
  /** k-anonymity audit over a quasi-identifier combination: how many
    * QI-groups have fewer than `k` rows (re-identifiable cohorts), and how
    * many rows sit in them — the release-gate a dataset must pass before
    * its quasi-identifiers ship. ONE combinable groupBy on the QI columns
    * then one scalar roll-up of the (bounded, QI-cardinality) group
    * relation; the corpus shuffles its QI tuple once, nothing else. Null
    * QI values form their own group (a null zip code still identifies a
    * cohort). One row: (n_groups, n_rows, n_violating_groups,
    * n_rows_at_risk, min_group_size). */
  def kAnonymityAudit(df: DataFrame, qiCols: Seq[String], k: Int): DataFrame = {
    require(qiCols.nonEmpty, "at least one quasi-identifier column")
    require(k >= 2, s"k must be >= 2: $k")
    df.groupBy(qiCols.map(col): _*).agg(count(lit(1)).as("__n"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("__n")).as("n_rows"),
        sum(when(col("__n") < k, 1L).otherwise(0L)).as("n_violating_groups"),
        coalesce(sum(when(col("__n") < k, col("__n"))), lit(0L))
          .as("n_rows_at_risk"),
        min(col("__n")).as("min_group_size"))
  }

  // ------------------------------------------------------- l-diversity
  /** l-diversity audit, [[kAnonymityAudit]]'s companion: a k-anonymous
    * group is still a leak if everyone in it shares the sensitive value,
    * so this reports groups whose DISTINCT sensitive-value count falls
    * below l. Two aggregates (distinct (QI, sensitive) pairs, then per-QI
    * counts) joined to the group sizes — output one summary row:
    * n_groups, n_rows, n_violating_groups, n_rows_at_risk, min_l. */
  def lDiversityAudit(df: DataFrame, qiCols: Seq[String], sensCol: Column,
                      l: Int): DataFrame = {
    require(qiCols.nonEmpty, "at least one quasi-identifier column")
    require(l >= 2, s"l must be >= 2: $l")
    val g = qiCols.map(col)
    val ldist = df.select(g :+ sensCol.as("__sv"): _*).distinct()
      .groupBy(g: _*).agg(count(lit(1)).as("__l"))
    val sizes = df.groupBy(g: _*).agg(count(lit(1)).as("__n"))
    sizes.join(ldist, qiCols)
      .agg(count(lit(1)).as("n_groups"), sum(col("__n")).as("n_rows"),
        sum(when(col("__l") < l, 1L).otherwise(0L)).as("n_violating_groups"),
        coalesce(sum(when(col("__l") < l, col("__n"))), lit(0L))
          .as("n_rows_at_risk"),
        min(col("__l")).as("min_l"))
  }

  // --------------------------------------- contingency table + residuals
  /** Full contingency table with expected counts and standardized (Pearson)
    * residuals — [[chiSquareIndependence]]'s per-cell face: WHICH cells
    * drive the dependence, not just whether it exists. Exact integer
    * observed/marginal counts on the label-vocabulary-bounded cell
    * relation; expected = rowMarg·colMarg/N and residual = (o−e)/√e are
    * fixed IEEE shapes rounded 6dp. Returns
    * (a, b, observed, expected, std_residual). */
  def contingencyResiduals(df: DataFrame, aCol: Column,
                           bCol: Column): DataFrame = {
    val cells = df.filter(aCol.isNotNull && bCol.isNotNull)
      .groupBy(aCol.as("a"), bCol.as("b")).agg(count(lit(1)).as("observed"))
    val rowsM = cells.groupBy("a").agg(sum(col("observed")).as("__ra"))
    val colsM = cells.groupBy("b").agg(sum(col("observed")).as("__cb"))
    val tot = cells.agg(sum(col("observed")).as("__n"))
    val e = col("__ra").cast("double") * col("__cb").cast("double") /
      col("__n").cast("double")
    cells.join(rowsM, "a").join(colsM, "b").crossJoin(broadcast(tot))
      .select(col("a"), col("b"), col("observed"),
        round(e, 6).as("expected"),
        round((col("observed").cast("double") - e) / sqrt(e), 6)
          .as("std_residual"))
  }

  // ------------------------------------------- Count-Min frequency sketch
  /** Count-Min sketch frequency estimates — the heavy-hitter sketch whose
    * state is a FIXED depth×256 counter grid however large the corpus: rows
    * aggregate map-side into ≤ depth·256 cells (never a shuffle of keys),
    * and a key's estimate is the MIN of its `depth` counters (each an
    * overcount, so est ≥ exact always — the classic one-sided guarantee).
    * Like [[kmvDistinct]], the hash rows are md5-draw buckets
    * (salt `cms<j>:`, first two nibbles → 0..255), so the whole sketch —
    * counters AND estimates — is deterministic and oracle-checkable in any
    * engine with md5, where production CMS implementations (engine-specific
    * hashes) can only be tolerance-gated.
    *
    * Returns one estimate per DISTINCT key: (key, cms_est). The distinct
    * relation is the only key-sized state; the counter grid broadcasts to
    * it. Width is fixed at 256 (two nibbles) — parameterizing width means
    * re-deriving the bucket decode, and 256·depth cells already bounds the
    * collision overcount at ~n/256 per row. */
  def cmsFrequency(df: DataFrame, key: Column, depth: Int = 4): DataFrame = {
    require(depth >= 1 && depth <= 8, s"depth must be in [1,8]: $depth")
    def bucketOf(k: Column, j: Int) =
      conv(substring(md5(concat(lit(s"cms$j:"), k.cast("string"))), 1, 2),
        16, 10).cast("int")
    def fanout(d: DataFrame, k: Column) = d.select(k.as("__k"),
      explode(array((0 until depth).map(j =>
        struct(lit(j).as("__row"), bucketOf(k, j).as("__bucket"))): _*))
        .as("__rb"))
      .select(col("__k"), col("__rb.__row").as("__row"),
        col("__rb.__bucket").as("__bucket"))
    val base = df.filter(key.isNotNull)
    val counters = fanout(base, key)
      .groupBy("__row", "__bucket").agg(count(lit(1)).as("__c"))
    fanout(base.select(key.as("__k")).distinct(), col("__k"))
      .join(broadcast(counters), Seq("__row", "__bucket"))
      .groupBy(col("__k").as("key"))
      .agg(min(col("__c")).as("cms_est"))
  }

  /** Brier score and log loss of a probabilistic scorer in ONE combinable
    * aggregate pass: brier = mean (p − y)², logloss = mean −[y·ln p +
    * (1−y)·ln(1−p)]. Each per-row term is one fixed IEEE shape cast
    * DECIMAL(28,12) at the source (q228 discipline) — the sums are exact
    * under any shuffle merge order, the final divisions are single IEEE
    * ops, 6dp. `probCol` must lie in (0, 1) exclusive for logloss (clamp
    * upstream — a hard 0/1 prediction has infinite loss by definition and
    * should fail loudly, not silently saturate). One row:
    * (n, brier, logloss). */
  def brierScore(df: DataFrame, probCol: String, labelCol: Column): DataFrame = {
    val p = col(probCol).cast("double")
    val y = when(labelCol, 1.0).otherwise(0.0)
    val nD = count(lit(1)).cast("double")
    df.filter(p.isNotNull)
      .agg(count(lit(1)).as("n"),
        round(sum(((p - y) * (p - y)).cast("decimal(28,12)"))
          .cast("double") / nD, 6).as("brier"),
        round(sum((-(y * log(p) + (lit(1.0) - y) * log(lit(1.0) - p)))
          .cast("decimal(28,12)")).cast("double") / nD, 6).as("logloss"))
  }

  // ------------------------------------------------------- KMV set algebra
  /** KMV sketch SET OPERATIONS between two key sets A and B: union /
    * intersection / Jaccard estimates from the k smallest 60-bit md5 hashes
    * of the combined distinct-hash relation (reference analogue: the
    * `unique`/set-membership family, `meza/process.py:859-888`, which only
    * ever sees one in-memory set at a time).
    *
    * The estimators are the textbook ones: union from the k-th minimum of
    * the UNION sketch ((k-1)·2^60 / h_k), Jaccard as the fraction of that
    * sketch's elements present in both sides (every union-sketch element
    * carries exact membership flags because the flags ride the hash
    * relation), intersection = Ĵ·Û. Like [[kmvDistinct]] — and unlike HLL —
    * the whole construction is DETERMINISTIC, so the driver oracle replays
    * it bit-for-bit in SQL.
    *
    * Scale: one hash-keyed distinct aggregate over the tagged union (the
    * same shuffle an exact distinct would need), then a k-row
    * TakeOrderedAndProject — never a global sort, never a single-partition
    * window. The exact n_a/n_b/n_union/intersection columns ride the same
    * aggregate for free and serve as the gate's verification spine; a
    * sketch-only deployment at 100 TB would merge per-partition k-mins
    * instead and skip the exact spine entirely.
    *
    * Output (one row): n_a, n_b, n_union, union_est, jaccard_est,
    * intersect_est. Groups smaller than k report exactly. */
  def kmvSetOps(a: DataFrame, keyA: Column, b: DataFrame, keyB: Column,
                k: Int = 64): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    val two60 = math.pow(2.0, 60) // exact in double
    def hashes(df: DataFrame, key: Column, side: String): DataFrame =
      df.filter(key.isNotNull)
        .select(conv(substring(md5(key.cast("string")), 1, 15), 16, 10)
          .cast("long").as("__h"))
        .withColumn("__side", lit(side))
    val m = hashes(a, keyA, "a").unionByName(hashes(b, keyB, "b"))
      .groupBy("__h")
      .agg(max(when(col("__side") === "a", 1).otherwise(0)).as("in_a"),
        max(when(col("__side") === "b", 1).otherwise(0)).as("in_b"))
    val tot = m.agg(sum("in_a").as("n_a"), sum("in_b").as("n_b"),
      count(lit(1)).as("n_union"),
      sum(col("in_a") * col("in_b")).as("n_inter"))
    val sk = m.orderBy("__h").limit(k)
      .agg(count(lit(1)).as("m_k"), max("__h").as("hk"),
        sum(col("in_a") * col("in_b")).as("both"))
    val uEst = round(lit((k - 1).toDouble) * lit(two60) /
      col("hk").cast("double"), 4)
    val jacc = col("both").cast("double") / col("m_k").cast("double")
    tot.crossJoin(sk).select(
      col("n_a"), col("n_b"), col("n_union"),
      when(col("n_union") <= k, col("n_union").cast("double"))
        .otherwise(uEst).as("union_est"),
      round(jacc, 6).as("jaccard_est"),
      when(col("n_union") <= k, col("n_inter").cast("double"))
        .otherwise(round(jacc * (lit((k - 1).toDouble) * lit(two60) /
          col("hk").cast("double")), 4)).as("intersect_est"))
  }

  // ------------------------------------------- Theil–Sen / Kendall trend
  /** Robust trend over the zero-filled daily count series: Theil–Sen slope
    * (median of all pairwise slopes) plus the Mann–Kendall S statistic and
    * Kendall tau-a — the outlier-proof replacement for the OLS daily trend
    * (a single spiked day moves OLS arbitrarily, it moves a slope median
    * not at all).
    *
    * Scale: the series is CALENDAR-BOUNDED (one row per day after
    * [[EventAnalytics.resampleDaily]]'s single aggregate), so the pairwise
    * relation is bounded by days², not data — 10 years ≈ 6.7M pairs, a
    * broadcast nested-loop join over a broadcast-sized series regardless of
    * input row count. The slope median is the only order statistic —
    * ranked by [[distributedRank]]'s cell-partitioned windows, so even the
    * 6.6M-pair decade case never funnels through one task
    * (median = mean of lower+upper median, exact for odd counts).
    *
    * Output (one row): n_days, n_pairs, s_stat, tau (6dp), slope_per_day
    * (6dp). */
  def theilSenTrend(df: DataFrame, tsCol: String): DataFrame = {
    val daily = EventAnalytics.resampleDaily(df, tsCol)
    val pairs = daily.select(col("day").as("d1"), col("n").as("n1"))
      .join(daily.select(col("day").as("d2"), col("n").as("n2")),
        col("d1") < col("d2"))
      .select(((col("n2") - col("n1")).cast("double") /
          (col("d2") - col("d1")).cast("double")).as("slope"),
        when(col("n2") > col("n1"), 1L).when(col("n2") < col("n1"), -1L)
          .otherwise(0L).as("sgn"))
    val nDays = daily.agg(count(lit(1)).as("n_days"))
    val agg = pairs.agg(count(lit(1)).as("n_pairs"), sum("sgn").as("s_stat"))
    // the median is an order statistic: rank via [[distributedRank]]'s
    // cell-partitioned windows (rank among tied slopes is arbitrary, but
    // the VALUE at any fixed rank is the deterministic order statistic),
    // so the days^2 pair relation never funnels through one task
    val ranked = distributedRank(pairs, Seq.empty, "slope",
      desc = false, tieCols = Seq.empty, weightCol = None, rnOut = "__rn")
    val med = ranked.crossJoin(agg.select(col("n_pairs").as("__m")))
      .filter(col("__rn") === floor((col("__m") + 1) / lit(2)) ||
        col("__rn") === floor((col("__m") + 2) / lit(2)))
      .agg(round(avg(col("slope")), 6).as("slope_per_day"))
    nDays.crossJoin(agg).crossJoin(med).select(
      col("n_days"), col("n_pairs"), col("s_stat"),
      round(col("s_stat").cast("double") / col("n_pairs").cast("double"), 6)
        .as("tau"),
      col("slope_per_day"))
  }

  /** Poisson(1) cumulative probabilities P(X <= j) for j = 0..7 — the
    * inverse-CDF thresholds for hash-deterministic bootstrap weights. The
    * SQL oracle interpolates these exact literals, so both engines compare
    * the same doubles. */
  val poissonCum: IndexedSeq[Double] = {
    val e1 = math.exp(-1.0)
    (0 to 7).scanLeft(0.0) { (acc, j) =>
      acc + e1 / (1 to j).product
    }.tail.toIndexedSeq
  }

  // ------------------------------------------- hash-Poisson bootstrap CI
  /** One-pass bootstrap standard error / CI of mean(valueCol) via
    * DETERMINISTIC Poisson(1) resampling weights: replicate r weights each
    * row by the Poisson inverse-CDF of u = first-52-bits(md5(id|r)) / 2^52
    * — the production-metrics trick that turns R bootstrap resamples into
    * one linear pass (no data movement per replicate, weights are a codegen
    * projection). Hash-derived u makes every replicate reproducible AND
    * oracle-replayable, unlike rand()-based bootstrap.
    *
    * Scale: the explode multiplies rows by `reps` BEFORE the aggregate, but
    * partial aggregation collapses each partition to `reps` cells
    * map-side, so the shuffle carries reps × partitions tiny rows — the
    * plan a 100 TB metrics pipeline actually ships. Weighted sums
    * accumulate in DECIMAL (order-independent); each replicate mean and its
    * square re-enter DECIMAL(28,12) before the final variance sum (the
    * q194 discipline), leaving one fixed-shape IEEE closed form.
    *
    * Output (one row): n_rows, mean (6dp), n_reps, boot_se (6dp), ci_lo,
    * ci_hi (mean ± 1.96·se, 6dp). */
  def poissonBootstrapMean(df: DataFrame, idCol: Column, valueCol: Column,
                           reps: Int = 100): DataFrame = {
    require(reps >= 2, s"reps must be >= 2: $reps")
    val base = df.filter(valueCol.isNotNull)
    val rep = base
      .select(idCol.cast("string").as("__id"),
        valueCol.cast("decimal(18,6)").as("__v"))
      .withColumn("__r", explode(sequence(lit(0), lit(reps - 1))))
    val u = conv(substring(md5(concat(col("__id"), lit("|"),
      col("__r").cast("string"))), 1, 13), 16, 10)
      .cast("double") / lit(4503599627370496.0) // 2^52
    val w = poissonCum.indices.reverse.foldLeft(lit(8): Column) {
      (acc, j) => when(u < poissonCum(j), j).otherwise(acc)
    }
    val means = rep.withColumn("__w", w)
      .groupBy("__r")
      .agg(sum(col("__v") * col("__w")).as("__s"), sum("__w").as("__n"))
      .select((col("__s").cast("double") / col("__n").cast("double")).as("m"))
    val boot = means.agg(count(lit(1)).as("n_reps"),
      sum(col("m").cast("decimal(28,12)")).cast("double").as("__sm"),
      sum((col("m") * col("m")).cast("decimal(28,12)")).cast("double")
        .as("__sm2"))
    val overall = base.agg(count(lit(1)).as("n_rows"),
      (sum(valueCol.cast("decimal(18,6)")).cast("double") /
        count(lit(1)).cast("double")).as("__mean"))
    val rD = col("n_reps").cast("double")
    val se = sqrt((col("__sm2") - col("__sm") * col("__sm") / rD) /
      (rD - lit(1.0)))
    overall.crossJoin(boot).select(
      col("n_rows"), round(col("__mean"), 6).as("mean"), col("n_reps"),
      round(se, 6).as("boot_se"),
      round(col("__mean") - lit(1.96) * se, 6).as("ci_lo"),
      round(col("__mean") + lit(1.96) * se, 6).as("ci_hi"))
  }

  // -------------------------------------------- per-class eval report
  /** Multiclass classification report: per-class tp/fp/fn and
    * precision/recall/F1 from a (label, prediction) relation — the
    * model-eval table every training pipeline prints.
    *
    * Scale: two key-keyed aggregates (one by label for tp/fn, one by
    * prediction for fp) full-outer-joined on the class spine — the output
    * is class-cardinality-bounded no matter the row count, and both
    * aggregates partial map-side. Degenerate classes (no predictions / no
    * truth) report null precision/recall rather than inventing 0s; F1 is
    * computed from the unrounded P/R (one fixed IEEE shape) and is null
    * when P+R is null or 0. */
  def classificationReport(df: DataFrame, labelCol: Column,
                           predCol: Column): DataFrame = {
    val base = df.select(labelCol.cast("long").as("__y"),
      predCol.cast("long").as("__p"))
      .filter(col("__y").isNotNull && col("__p").isNotNull)
    val byLabel = base.groupBy(col("__y").as("clazz"))
      .agg(sum(when(col("__y") === col("__p"), 1L).otherwise(0L)).as("tp"),
        count(lit(1)).as("__n_true"))
    val byPred = base.groupBy(col("__p").as("clazz"))
      .agg(count(lit(1)).as("__n_pred"))
    val cells = byLabel.join(byPred, Seq("clazz"), "full")
      .select(col("clazz"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        (coalesce(col("__n_pred"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fp"),
        (coalesce(col("__n_true"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fn"),
        coalesce(col("__n_true"), lit(0L)).as("__nt"),
        coalesce(col("__n_pred"), lit(0L)).as("__np"))
    val p = when(col("__np") > 0,
      col("tp").cast("double") / col("__np").cast("double"))
    val r = when(col("__nt") > 0,
      col("tp").cast("double") / col("__nt").cast("double"))
    cells.select(col("clazz"), col("tp"), col("fp"), col("fn"),
      round(p, 6).as("precision"), round(r, 6).as("recall"),
      round(when(p + r > 0, lit(2.0) * p * r / (p + r)), 6).as("f1"))
  }

  // ------------------------------------------- split-conformal intervals
  /** Split-conformal prediction intervals per group: the calibration half
    * (md5 split on `idCol`, the leakage-split discipline) fits the trivial
    * per-group mean model, q̂ = the ⌈(1−α)(n_cal+1)⌉-th smallest calibration
    * residual — an exact ORDER STATISTIC, a data element, byte-identical in
    * any engine — and the held-out half reports empirical coverage of
    * |y − μ| ≤ q̂ (guaranteed ≥ 1−α in expectation by exchangeability, the
    * whole point of conformal).
    *
    * Scale: one broadcast of per-group μ, residuals stay a projection, the
    * k-th-smallest runs in per-GROUP windows (the groupLowerMedian
    * discipline — no global sort). Output per group: n_cal, n_test, q_hat
    * (raw double, hash-exact), coverage (6dp). */
  def conformalIntervals(df: DataFrame, groupCol: String, idCol: Column,
                         valueCol: Column, alpha: Double = 0.1): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha out of range: $alpha")
    val tagged = df.filter(valueCol.isNotNull)
      .select(col(groupCol), valueCol.cast("double").as("__v"),
        Curation.splitLabel(idCol, "conf",
          Seq("cal" -> 0.5, "test" -> 0.5)).as("__split"))
    val mu = tagged.filter(col("__split") === "cal")
      .groupBy(groupCol)
      .agg((sum(col("__v").cast("decimal(18,6)")).cast("double") /
        count(lit(1)).cast("double")).as("__mu"))
    val res = tagged.join(broadcast(mu), Seq(groupCol))
      .withColumn("__r", abs(col("__v") - col("__mu")))
    val cal = res.filter(col("__split") === "cal")
    val wOrd = Window.partitionBy(col(groupCol)).orderBy(col("__r"))
    val wAll = Window.partitionBy(col(groupCol))
    val qhat = cal
      .withColumn("__rn", row_number().over(wOrd))
      .withColumn("__n", count(lit(1)).over(wAll))
      .filter(col("__rn") ===
        ceil(lit(1.0 - alpha) * (col("__n") + 1).cast("double")).cast("long"))
      .select(col(groupCol), col("__n").as("n_cal"), col("__r").as("q_hat"))
    res.filter(col("__split") === "test")
      .join(broadcast(qhat), Seq(groupCol))
      .groupBy(groupCol)
      .agg(min(col("n_cal")).as("n_cal"), count(lit(1)).as("n_test"),
        min(col("q_hat")).as("q_hat"),
        sum(when(col("__r") <= col("q_hat"), 1L).otherwise(0L)).as("__cov"))
      .select(col(groupCol), col("n_cal"), col("n_test"), col("q_hat"),
        round(col("__cov").cast("double") / col("n_test").cast("double"), 6)
          .as("coverage"))
  }

  // ------------------------------------------------ CUPED variance reduction
  /** CUPED (Deng et al. 2013): variance reduction of a per-unit metric y
    * using a pre-experiment covariate x. θ = cov(x,y)/var(x); the adjusted
    * metric's variance follows the identity var(y_adj) = var(y) −
    * cov²/var(x), so the reduction ratio is exactly corr(x,y)² — computed
    * here from six DECIMAL-exact sums (the q122 moment discipline) with one
    * fixed IEEE closed form, no second pass over the data and no
    * per-unit adjusted column needed for the report.
    *
    * Input is unit-grain (one row per experimental unit). Output (one row):
    * n_units, theta, var_y, var_adj, reduction (6dp each; theta/var terms
    * null when var(x) = 0). */
  def cupedReduction(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val d6 = (c: Column) => c.cast("decimal(18,6)")
    val d12 = (c: Column) => c.cast("decimal(38,12)")
    val base = df.select(xCol.cast("double").as("__x"),
      yCol.cast("double").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val s = base.agg(count(lit(1)).as("n_units"),
      sum(d6(col("__x"))).cast("double").as("__sx"),
      sum(d6(col("__y"))).cast("double").as("__sy"),
      sum(d12(col("__x") * col("__x"))).cast("double").as("__sxx"),
      sum(d12(col("__y") * col("__y"))).cast("double").as("__syy"),
      sum(d12(col("__x") * col("__y"))).cast("double").as("__sxy"))
    val nD = col("n_units").cast("double")
    val vx = (nD * col("__sxx") - col("__sx") * col("__sx")) / (nD * nD)
    val vy = (nD * col("__syy") - col("__sy") * col("__sy")) / (nD * nD)
    val cv = (nD * col("__sxy") - col("__sx") * col("__sy")) / (nD * nD)
    s.select(col("n_units"),
      round(when(vx > 0, cv / vx), 6).as("theta"),
      round(vy, 6).as("var_y"),
      round(when(vx > 0, vy - cv * cv / vx), 6).as("var_adj"),
      round(when(vx > 0 && vy > 0, cv * cv / (vx * vy)), 6).as("reduction"))
  }

  // ------------------------------------------- A/B test power analysis
  /** z quantiles for the standard two-proportion sample-size formula —
    * defined once and interpolated verbatim into the SQL oracle so both
    * engines compare identical doubles. */
  val ZAlpha025: Double = 1.959963984540054 // two-sided alpha = 0.05
  val ZPower80: Double = 0.8416212335729143 // power = 0.8

  /** Required per-arm sample size for a two-proportion A/B test, anchored
    * on OBSERVED data: p1 = successes/trials from the given predicates,
    * p2 = p1·(1 + relMde). The classic closed form
    * n = (z_{α/2}·√(2p̄q̄) + z_β·√(p1q1 + p2q2))² / (p2 − p1)², evaluated
    * in one fixed IEEE shape from decimal-exact counts — the experiment-
    * design companion to [[twoProportionZ]] (which analyzes the test after
    * the fact). One aggregate row in, one row out: n_trials, n_successes,
    * p1, p2 (6dp), n_per_arm (ceil, integer). */
  def sampleSizeTwoProportions(df: DataFrame, trial: Column, success: Column,
                               relMde: Double = 0.1): DataFrame = {
    require(relMde > 0, s"relMde must be > 0: $relMde")
    val agg = df.agg(
      sum(when(trial, 1L).otherwise(0L)).as("n_trials"),
      sum(when(trial && success, 1L).otherwise(0L)).as("n_successes"))
    val p1 = col("n_successes").cast("double") / col("n_trials").cast("double")
    val p2 = p1 * lit(1.0 + relMde)
    val pbar = (p1 + p2) / lit(2.0)
    val num = lit(ZAlpha025) * sqrt(lit(2.0) * pbar * (lit(1.0) - pbar)) +
      lit(ZPower80) * sqrt(p1 * (lit(1.0) - p1) + p2 * (lit(1.0) - p2))
    agg.select(col("n_trials"), col("n_successes"),
      round(p1, 6).as("p1"), round(p2, 6).as("p2"),
      ceil(num * num / ((p2 - p1) * (p2 - p1))).cast("long").as("n_per_arm"))
  }

  // ------------------------------------------------ Spearman rank correlation
  /** Spearman rank correlation between two columns, ties getting the
    * standard AVERAGE rank. The whole computation is INTEGER-EXACT: each
    * side's average rank is carried doubled (2·r̄ = 2·cum − cnt + 1, always
    * an integer), which leaves ρ unchanged (Pearson is affine-invariant)
    * and lets every moment accumulate in DECIMAL — one fixed IEEE closed
    * form at the end, no float rank arithmetic anywhere.
    *
    * Scale: ranks come from the per-VALUE count relation (one aggregate
    * per axis, ranked by [[midRanks2]] over the bounded value DOMAIN — the
    * skyline/q119 discipline, never a window over the rows), then joined
    * back. Output (one row): n, rho (6dp). */
  def spearman(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val base = df.select(aCol.as("__a"), bCol.as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
    def rank2(c: String, out: String): DataFrame =
      midRanks2(base.groupBy(col(c)).agg(count(lit(1)).as("__cnt")), Nil, c,
        "spearman", out -> col("__cnt")).select(col(c), col(out))
    // the gated rank cells are at most 10⁵ per axis: broadcast them to the
    // rows (the gate's cross join inflates their size estimate, so an
    // unhinted join builds on the row side inside the window's partition)
    val ranked = base.join(broadcast(rank2("__a", "__x")), Seq("__a"))
      .join(broadcast(rank2("__b", "__y")), Seq("__b"))
    val d = (c: Column) => c.cast("decimal(38,0)")
    val s = ranked.agg(count(lit(1)).as("n"),
      sum(d(col("__x"))).cast("double").as("__sx"),
      sum(d(col("__y"))).cast("double").as("__sy"),
      sum(d(col("__x") * col("__y"))).cast("double").as("__sxy"),
      sum(d(col("__x") * col("__x"))).cast("double").as("__sxx"),
      sum(d(col("__y") * col("__y"))).cast("double").as("__syy"))
    val nD = col("n").cast("double")
    s.select(col("n"),
      round((nD * col("__sxy") - col("__sx") * col("__sy")) /
        (sqrt(nD * col("__sxx") - col("__sx") * col("__sx")) *
          sqrt(nD * col("__syy") - col("__sy") * col("__sy"))), 6).as("rho"))
  }

  // ------------------------------------------------- DP-noisy group counts
  /** Differentially-private released counts: per-group count + Laplace(1/ε)
    * noise with the standard post-processing (round to integer, clamp at 0).
    * The noise draw is HASH-DETERMINISTIC — u = first-52-bits(md5('dp|' ∥
    * group)) / 2^52, x = −sign(u−½)·b·ln(1−2|u−½|) — so a release is
    * reproducible run-to-run (a real deployment would swap in a seeded
    * cryptographic PRNG; the dataflow and post-processing are identical)
    * and the oracle replays it exactly.
    *
    * Scale: one group aggregate plus a codegen'd noise projection — the
    * noise depends only on the GROUP KEY, never the data, so no extra pass.
    * Output: group, n_true, noise (6dp), released. */
  def dpNoisyCounts(df: DataFrame, groupCol: String,
                    epsilon: Double = 1.0): DataFrame = {
    require(epsilon > 0, s"epsilon must be > 0: $epsilon")
    val b = 1.0 / epsilon
    val u = conv(substring(md5(concat(lit("dp|"),
      col(groupCol).cast("string"))), 1, 13), 16, 10)
      .cast("double") / lit(4503599627370496.0) // 2^52
    val d = u - lit(0.5)
    val noise = -signum(d) * lit(b) * log(lit(1.0) - lit(2.0) * abs(d))
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_true"))
      .select(col(groupCol), col("n_true"),
        round(noise, 6).as("noise"),
        greatest(lit(0L),
          round(col("n_true") + noise, 0).cast("long")).as("released"))
  }

  // -------------------------------------------------- difference-in-differences
  /** Two-group pre/post difference-in-differences: the classic
    * (ȳ_t,post − ȳ_t,pre) − (ȳ_c,post − ȳ_c,pre) causal estimate under the
    * parallel-trends assumption. One full-scan aggregate of four
    * conditional DECIMAL sums + counts; each mean is a single IEEE
    * division and the estimate is the fixed-shape double closed form over
    * those means, 6dp. Returns one row: (n_ctrl_pre, n_ctrl_post,
    * n_treat_pre, n_treat_post, mean_ctrl_pre, mean_ctrl_post,
    * mean_treat_pre, mean_treat_post, did). */
  def diffInDiff(df: DataFrame, treatCol: Column, postCol: Column,
                 valueCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def cell(t: Boolean, p: Boolean) = {
      val in = (if (t) treatCol else !treatCol) &&
        (if (p) postCol else !postCol)
      (sum(when(in, valueCol.cast(DecimalType(28, 6)))).as(s"__s_${t}_$p"),
        sum(when(in, 1L).otherwise(0L)).as(s"__n_${t}_$p"))
    }
    val cells = Seq(cell(false, false), cell(false, true),
      cell(true, false), cell(true, true))
    def m(t: Boolean, p: Boolean) =
      col(s"__s_${t}_$p").cast("double") / col(s"__n_${t}_$p").cast("double")
    df.filter(valueCol.isNotNull)
      .agg(cells.head._1, cells.map(_._2) ++ cells.tail.map(_._1): _*)
      .select(col("__n_false_false").as("n_ctrl_pre"),
        col("__n_false_true").as("n_ctrl_post"),
        col("__n_true_false").as("n_treat_pre"),
        col("__n_true_true").as("n_treat_post"),
        round(m(false, false), 6).as("mean_ctrl_pre"),
        round(m(false, true), 6).as("mean_ctrl_post"),
        round(m(true, false), 6).as("mean_treat_pre"),
        round(m(true, true), 6).as("mean_treat_post"),
        round((m(true, true) - m(true, false)) -
          (m(false, true) - m(false, false)), 6).as("did"))
  }

  // ------------------------------------------------------- UCB1 allocation
  /** UCB1 bandit scores from logged pulls: per arm, mean reward plus the
    * sqrt(2·ln N / n) exploration bonus; the arm a UCB1 policy would pull
    * next is flagged. Means come from DECIMAL sums (one division); ln/sqrt
    * follow the q95/q127 libm discipline (sub-ulp noise dies in the 6dp
    * round, and the election compares the ROUNDED scores with an arm-name
    * tiebreak, so it cannot flip on an ulp). One keyed aggregate over the
    * log; the per-arm relation is arms-sized. Returns per arm:
    * (arm, n_pulls, mean_reward, ucb, chosen). */
  def ucb1(df: DataFrame, armCol: Column, rewardCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val perArm = df.filter(rewardCol.isNotNull)
      .groupBy(armCol.as("arm"))
      .agg(count(lit(1)).as("n_pulls"),
        sum(rewardCol.cast(DecimalType(28, 6))).as("__s"))
    val tot = Window.partitionBy(lit(1))
    val ucb = round(col("__s").cast("double") / col("n_pulls").cast("double") +
      sqrt(lit(2.0) * log(sum(col("n_pulls")).over(tot).cast("double")) /
        col("n_pulls").cast("double")), 6)
    perArm
      .withColumn("ucb", ucb)
      .withColumn("chosen", row_number().over(
        Window.orderBy(col("ucb").desc, col("arm").asc)) === 1)
      .select(col("arm"), col("n_pulls"),
        round(col("__s").cast("double") / col("n_pulls").cast("double"), 6)
          .as("mean_reward"),
        col("ucb"), col("chosen"))
  }

  // ------------------------------------------- two-regressor OLS (closed form)
  /** OLS with two regressors + intercept, solved in closed form from the
    * 3×3 normal equations by Cramer's rule — no iteration, no collect.
    * Sufficient statistics are DECIMAL(38,6) sums (order-independent
    * exact); the determinant arithmetic is one fixed-shape double
    * expression evaluated identically by any engine, 6dp out. R² uses the
    * sse identity syy − b0·sy − b1·s1y − b2·s2y. Returns one row:
    * (n, beta0, beta1, beta2, r2). */
  def olsFit2(df: DataFrame, x1Col: Column, x2Col: Column,
              yCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dsum(c: Column, n: String) =
      sum(c.cast(DecimalType(38, 6))).as(n)
    val g = df
      .filter(x1Col.isNotNull && x2Col.isNotNull && yCol.isNotNull)
      .agg(count(lit(1)).as("n"), dsum(x1Col, "s1"), dsum(x2Col, "s2"),
        dsum(yCol, "sy"), dsum(x1Col * x1Col, "s11"),
        dsum(x2Col * x2Col, "s22"), dsum(x1Col * x2Col, "s12"),
        dsum(x1Col * yCol, "s1y"), dsum(x2Col * yCol, "s2y"),
        dsum(yCol * yCol, "syy"))
    val d = Seq("s1", "s2", "sy", "s11", "s22", "s12", "s1y", "s2y", "syy")
      .foldLeft(g)((acc, c) => acc.withColumn(c, col(c).cast("double")))
      .withColumn("nd", col("n").cast("double"))
    def det3(a: (Column, Column, Column), b: (Column, Column, Column),
             c: (Column, Column, Column)): Column =
      a._1 * (b._2 * c._3 - b._3 * c._2) -
        a._2 * (b._1 * c._3 - b._3 * c._1) +
        a._3 * (b._1 * c._2 - b._2 * c._1)
    val (nd, s1, s2, sy) = (col("nd"), col("s1"), col("s2"), col("sy"))
    val (s11, s22, s12) = (col("s11"), col("s22"), col("s12"))
    val (s1y, s2y, syy) = (col("s1y"), col("s2y"), col("syy"))
    val det = det3((nd, s1, s2), (s1, s11, s12), (s2, s12, s22))
    val b0 = det3((sy, s1, s2), (s1y, s11, s12), (s2y, s12, s22)) / det
    val b1 = det3((nd, sy, s2), (s1, s1y, s12), (s2, s2y, s22)) / det
    val b2 = det3((nd, s1, sy), (s1, s11, s1y), (s2, s12, s2y)) / det
    val sse = syy - b0 * sy - b1 * s1y - b2 * s2y
    val sst = syy - sy * sy / nd
    d.select(col("n"), round(b0, 6).as("beta0"), round(b1, 6).as("beta1"),
      round(b2, 6).as("beta2"),
      round(when(sst =!= 0.0, lit(1.0) - sse / sst), 6).as("r2"))
  }

  // -------------------------------------------- trimmed / winsorized means
  /** Per-group trimmed and winsorized means: with k = ⌊n·trimPct/100⌋,
    * the trimmed mean averages ranks (k, n−k]; the winsorized mean clamps
    * the k outermost values on each side to the cut values (the k+1-th
    * and n−k-th order statistics — DATA ELEMENTS, so engine-exact). Tied
    * values make row_number assignment arbitrary but leave every output
    * invariant (the same multiset of values is kept/clamped). One
    * key-partitioned rank window + one keyed aggregate; sums re-enter
    * DECIMAL. Returns per group: (groupCols…, n, mean, trimmed_mean,
    * winsor_mean, lo_cut, hi_cut). */
  def trimmedStats(df: DataFrame, groupCols: Seq[String], valueCol: Column,
                   trimPct: Int = 10): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(trimPct > 0 && trimPct < 50, s"trimPct out of (0,50): $trimPct")
    require(groupCols.nonEmpty, "group columns required")
    val gs = groupCols.map(col)
    val w = Window.partitionBy(gs: _*).orderBy(col("__v").asc)
    val whole = Window.partitionBy(gs: _*)
    val dec = (c: Column) => c.cast(DecimalType(38, 6))
    df.filter(valueCol.isNotNull)
      .select(gs :+ valueCol.as("__v"): _*)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(whole))
      .withColumn("__k", expr(s"(__n * $trimPct) div 100"))
      .groupBy(gs: _*)
      .agg(max(col("__n")).as("n"), max(col("__k")).as("__kk"),
        sum(dec(col("__v"))).as("__s_all"),
        sum(when(col("__rn") > col("__k") &&
          col("__rn") <= col("__n") - col("__k"), dec(col("__v"))))
          .as("__s_mid"),
        max(when(col("__rn") === col("__k") + 1, col("__v"))).as("lo_cut"),
        max(when(col("__rn") === col("__n") - col("__k"), col("__v")))
          .as("hi_cut"))
      .select(gs ++ Seq(col("n"),
        round(col("__s_all").cast("double") / col("n").cast("double"), 6)
          .as("mean"),
        round(col("__s_mid").cast("double") /
          (col("n") - lit(2) * col("__kk")).cast("double"), 6)
          .as("trimmed_mean"),
        round((col("__s_mid").cast("double") +
          (col("__kk") * col("lo_cut")).cast("double") +
          (col("__kk") * col("hi_cut")).cast("double")) /
          col("n").cast("double"), 6).as("winsor_mean"),
        col("lo_cut"), col("hi_cut")): _*)
  }

  // -------------------------------------------------- K-fold target encoding
  /** Leakage-free target-encoding table: for each (category, fold), the
    * target mean computed from every OTHER fold — the encoding a row in
    * fold f looks up so its own target never leaks into its feature
    * (standard K-fold mean encoding). One (category, fold) aggregate of
    * exact DECIMAL sums; out-of-fold means are (S_cat − S_fold)/(n_cat −
    * n_fold), a single division of exact values, 6dp. Categories×folds is
    * the output bound. Folds must come from a deterministic hash.
    * Returns (category, fold, n_in_fold, n_out_fold, encoding). */
  def targetEncoding(df: DataFrame, categoryCol: Column, foldCol: Column,
                     targetCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cells = df.filter(targetCol.isNotNull)
      .groupBy(categoryCol.as("category"), foldCol.as("fold"))
      .agg(count(lit(1)).as("n_in_fold"),
        sum(targetCol.cast(DecimalType(28, 6))).as("__s"))
    val tot = Window.partitionBy(col("category"))
    cells
      .withColumn("__nc", sum(col("n_in_fold")).over(tot))
      .withColumn("__sc", sum(col("__s")).over(tot))
      .select(col("category"), col("fold"), col("n_in_fold"),
        (col("__nc") - col("n_in_fold")).as("n_out_fold"),
        // a category entirely inside one fold has no out-of-fold rows:
        // null encoding (the caller backs off to the global prior)
        when(col("__nc") - col("n_in_fold") > 0,
          round((col("__sc") - col("__s")).cast("double") /
            (col("__nc") - col("n_in_fold")).cast("double"), 6))
          .as("encoding"))
  }

  // ---------------------------------------------------- newsvendor stocking
  /** Empirical newsvendor stocking level per key: the smallest observed
    * per-period demand d with P(demand ≤ d) ≥ criticalPct% — the
    * ceil-index order statistic of the key's period-demand distribution
    * (a DATA ELEMENT, engine-exact). Demand first rolls up to
    * (key, period) integer units; the rank window then runs per key over
    * period-count-sized groups. Returns (key, n_periods, stock_level,
    * max_demand). */
  def newsvendorLevels(df: DataFrame, keyCol: String, periodCol: Column,
                       qtyCol: Column, criticalPct: Int = 80): DataFrame = {
    require(criticalPct >= 1 && criticalPct <= 100, "criticalPct in 1..100")
    val demand = df.groupBy(col(keyCol), periodCol.as("__p"))
      .agg(sum(qtyCol.cast("long")).as("__d"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__d").asc)
    val whole = Window.partitionBy(col(keyCol))
    demand
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(whole))
      .withColumn("__mx", max(col("__d")).over(whole))
      .filter(col("__rn") === expr(s"(__n * $criticalPct + 99) div 100"))
      .select(col(keyCol), col("__n").as("n_periods"),
        col("__d").as("stock_level"), col("__mx").as("max_demand"))
  }

  // ------------------------------------------- exact equal-count tiles
  /** Exact `ntile(nBins)` over the total order (scoreCol DESC NULLS LAST,
    * idCol ASC) WITHOUT a global single-partition sort — the scale-safe
    * replacement for `ntile(n).over(Window.orderBy(...))`, whose
    * unpartitioned window funnels the whole relation through ONE task.
    * Appends `tileCol` (long, 1-based); the assignment is bit-for-bit
    * standard SQL ntile (the first N mod n tiles get ceil(N/n) rows),
    * identical to Spark's and DuckDB's.
    *
    * Shape — a distributed multi-pivot quickselect:
    *   1. ONE aggregate: exact N + a `grid` of APPROX score pivots. Pivot
    *      quality only affects rescue-window SIZE, never the result: all
    *      counts below are exact, so approx_percentile's bounded-memory
    *      sketch is safe where an exact percentile's value-vocabulary
    *      buffer would not be.
    *   2. Rows classify into pivot segments by PROJECTION (the long→double
    *      cast is monotone, so segment order agrees with the total order);
    *      ONE ≤2·grid+2-row aggregate counts each segment exactly →
    *      per-segment rank offsets. Segments whose whole rank span lands
    *      inside one tile assign by projection — no sort, no rank.
    *   3. Only the ≤ nBins−1 segments STRADDLING a tile-boundary rank get
    *      a rank window PARTITIONED by the segment (≲ N/grid rows each).
    *      A massive TIE at a boundary value — its own singleton segment,
    *      inside which only the id order matters — first subdivides on an
    *      id pivot grid the same way, so even an all-one-value relation
    *      never re-creates the global sort (windows ≲ tie/grid).
    *
    * Bounded driver seams (the IVF-centroid discipline): the 1-row pivot
    * aggregate, the segment counts, and (massive ties only) the per-tie id
    * grids — all O(grid), never O(N). The slim input projection is
    * materialized once and every pass reads the stored copy.
    *
    * Contract: scoreCol numeric; idCol distinct non-null (ntile's
    * determinism tiebreak). Tie subdivision additionally needs the
    * score's double cast INJECTIVE on the tie value (floats/doubles
    * always; integrals when |pivot| < 2^53) and a numeric idCol — where
    * either fails it falls back to the tie-partitioned window, which is
    * the documented bound. */
  private[graft] def equalCountTiles(df0: DataFrame, scoreCol: String,
      idCol: String, nBins: Int, tileCol: String, grid: Int = 128,
      tieSubdivideMin: Long = 1L << 18): DataFrame = {
    import org.apache.spark.sql.types._
    require(nBins >= 2 && nBins <= 1024, s"nBins in [2,1024]: $nBins")
    require(grid >= 2 && grid <= 1024, s"grid in [2,1024]: $grid")
    val spark = df0.sparkSession
    import spark.implicits._
    val sD = col(scoreCol).cast("double")
    val idD = col(idCol).cast("double")
    val df = Ops.materialize(df0)
    val ps = (1 until grid).map(i => i.toDouble / grid)
    // accuracy 2500: pivot error ~N/2500 is noise against the ~N/grid
    // rescue-window bound, and the sketch insert path is ~40% of the
    // helper's constant factor at accuracy 10000
    val head = df.agg(count(lit(1)).as("n"),
      expr(s"approx_percentile(CAST(`$scoreCol` AS DOUBLE), " +
        s"array(${ps.mkString(",")}), 2500)").as("pv")).head()
    val n = head.getLong(0)
    if (n == 0L) return df0.withColumn(tileCol, lit(null).cast("long"))
    val pivots: Seq[Double] = (if (head.isNullAt(1)) Seq.empty[Double]
      else head.getSeq[Any](1).collect { case d: java.lang.Double => d.doubleValue })
      .distinct.sorted(Ordering[Double].reverse)
    val nullSeg = 2 * pivots.size + 1
    // segment code: monotone in (score DESC, id ASC) — 2j for the open
    // interval below pivot j, 2j+1 for the singleton AT pivot j (odd code
    // <=> one tie value), nulls last. Classification is a BALANCED
    // BINARY-SEARCH CASE TREE, not a linear when-chain: a 127-term sum
    // evaluates every predicate per row (~3 µs/row measured, interpreted
    // or not), the tree evaluates ~log2(grid) — 18× less work on the hot
    // projection that every pass re-derives.
    val segExpr: Column = {
      val asc = pivots.reverse.toIndexedSeq // ascending
      val m = asc.size
      def tree(lo: Int, hi: Int): Column =
        if (lo >= hi) lit(2 * m - 2 * lo) // open interval (u_{lo-1}, u_{lo})
        else {
          val mid = (lo + hi) / 2
          when(sD < lit(asc(mid)), tree(lo, mid))
            .otherwise(when(sD === lit(asc(mid)), lit(2 * m - (2 * mid + 1)))
              .otherwise(tree(mid + 1, hi)))
        }
      when(col(scoreCol).isNull, lit(nullSeg)).otherwise(tree(0, m))
    }
    val segCounts: Seq[(Int, Long)] = df.groupBy(segExpr.as("__seg"))
      .agg(count(lit(1)).as("__c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    // standard ntile cut ranks: tile b ends at rank b*(N div n) + min(b, N mod n)
    val q = n / nBins; val r = n % nBins
    val cuts: Seq[Long] = (1L until nBins.toLong).map(b => b * q + math.min(b, r))
    def tileOf(rank: Long): Long = cuts.count(_ < rank) + 1L
    val offsets: Map[Int, Long] = {
      var off = 0L
      segCounts.map { case (s, c) => val o = off; off += c; s -> o }.toMap
    }
    def straddles(seg: Int): Boolean = {
      val o = offsets(seg); val c = segCounts.find(_._1 == seg).get._2
      tileOf(o + 1) != tileOf(o + c)
    }
    // massive boundary ties subdivide on the id grid before ranking —
    // valid only when the singleton segment truly holds ONE score value
    // (injective double cast) and the id is numeric
    val scoreInjective: Double => Boolean = df0.schema(scoreCol).dataType match {
      case FloatType | DoubleType => _ => true
      case ByteType | ShortType | IntegerType | LongType =>
        v => math.abs(v) < (1L << 53).toDouble
      case _ => _ => false
    }
    val idNumeric = df0.schema(idCol).dataType.isInstanceOf[NumericType]
    val tiesToSub: Seq[Int] = segCounts.collect {
      case (s, c) if s % 2 == 1 && s != nullSeg && c >= tieSubdivideMin &&
        straddles(s) && idNumeric && scoreInjective(pivots(s / 2)) => s
    }
    val idPivots: Map[Int, Seq[Double]] =
      if (tiesToSub.isEmpty) Map.empty
      else df.filter(segExpr.isin(tiesToSub: _*))
        .groupBy(segExpr.as("__seg"))
        .agg(expr(s"approx_percentile(CAST(`$idCol` AS DOUBLE), " +
          s"array(${ps.mkString(",")}), 10000)").as("pv"))
        .collect().map { row =>
          val us = (if (row.isNullAt(1)) Seq.empty[Double]
            else row.getSeq[Any](1).collect { case d: java.lang.Double => d.doubleValue })
            .distinct.sorted
          row.getInt(0) -> us
        }.toMap
    // sub code = #(id pivots <= id): the same binary-search tree shape
    // (upper-bound search), monotone in id ASC
    val subExpr: Column = tiesToSub.foldLeft(lit(-1)) { (acc, code) =>
      val us = idPivots(code).toIndexedSeq
      def tree(lo: Int, hi: Int): Column =
        if (lo >= hi) lit(lo)
        else {
          val mid = (lo + hi) / 2
          when(idD >= lit(us(mid)), tree(mid + 1, hi)).otherwise(tree(lo, mid))
        }
      when(segExpr === code, tree(0, us.size)).otherwise(acc)
    }
    val subCounts: Map[(Int, Int), Long] =
      if (tiesToSub.isEmpty) Map.empty
      else df.filter(segExpr.isin(tiesToSub: _*))
        .groupBy(segExpr.as("__seg"), subExpr.as("__sub"))
        .agg(count(lit(1)).as("__c"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    // assignment map: (seg, sub) -> (rank offset, straddle?, fixed tile)
    val mapRows: Seq[(Int, Int, Boolean, Long, Long)] = segCounts.flatMap {
      case (seg, cnt) if tiesToSub.contains(seg) =>
        var off = offsets(seg)
        subCounts.filter(_._1._1 == seg).toSeq.sortBy(_._1._2).map {
          case ((_, sub), c) =>
            val o = off; off += c
            (seg, sub, tileOf(o + 1) != tileOf(o + c), o, tileOf(o + 1))
        }
      case (seg, cnt) =>
        val o = offsets(seg)
        Seq((seg, -1, tileOf(o + 1) != tileOf(o + cnt), o, tileOf(o + 1)))
    }
    val mapDf = mapRows.toDF("__seg", "__sub", "__str", "__base", "__tile")
    val joined = df.withColumn("__seg", segExpr).withColumn("__sub", subExpr)
      .join(broadcast(mapDf), Seq("__seg", "__sub"))
    val fixed = joined.filter(!col("__str")).withColumn(tileCol, col("__tile"))
    val wResc = Window.partitionBy(col("__seg"), col("__sub"))
      .orderBy(col(scoreCol).desc_nulls_last, col(idCol).asc)
    def tileFromRank(rk: Column): Column =
      cuts.foldLeft(lit(1L)) { (a, k) =>
        a + when(lit(k) < rk, lit(1L)).otherwise(lit(0L)) }
    val rescued = joined.filter(col("__str"))
      .withColumn("__rk", col("__base") + row_number().over(wResc).cast("long"))
      .withColumn(tileCol, tileFromRank(col("__rk"))).drop("__rk")
    fixed.union(rescued.select(fixed.columns.map(col): _*))
      .drop("__seg", "__sub", "__str", "__base", "__tile")
  }

  // ------------------------------------- distributed rank / prefix sum
  /** Exact global (or per-bounded-group) `row_number` and inclusive
    * running weight sum over a total order WITHOUT an unpartitioned
    * window — the rank-at-scale primitive generalizing
    * [[equalCountTiles]]' machinery to arbitrary rank consumers
    * (Lorenz/Gini rank·weight sums, whale-share cumulative cuts,
    * percent-rank calibration, quantile normalization, order-statistic
    * picks). Appends `rnOut` = 1-based row_number per `partCols` over
    * (`scoreCol` asc-nulls-first | desc-nulls-last, `tieCols` asc) —
    * Spark's default null placement, matching the windows it replaces —
    * and optionally `cumOut` = the inclusive running sum of `weightCol`
    * (long) in that order.
    *
    * Shape (the equalCountTiles discipline):
    *   1. ONE aggregate: exact N + a `grid` of APPROX score pivots
    *      (pivot quality only affects cell SIZE, never the result).
    *   2. Rows classify into pivot cells by a balanced binary-search
    *      CASE-tree PROJECTION (codes monotone in the order); one
    *      O(parts·grid)-row aggregate counts each (part, cell) exactly
    *      → per-cell rank and weight offsets, broadcast back.
    *   3. Every cell ranks LOCALLY in a window PARTITIONED by
    *      (part, cell) (≲ N/grid rows each); rank = offset + local.
    *      A massive single-value tie cell first subdivides on a
    *      tiebreak-pivot grid (numeric injective tiebreak required;
    *      otherwise the tie-partitioned window is the documented bound).
    *
    * Bounded driver seams: the pivot row, the (part, cell) counts, and
    * (massive ties only) per-cell tiebreak grids — O(|parts|·grid),
    * never O(N). CONTRACT (public API): `partCols` vocabulary is BOUNDED
    * (the seam); `scoreCol` numeric; `weightCol` (when given) must fit
    * BIGINT under summation (ANSI-loud beyond); the input relation is
    * DETERMINISTIC (counts and the final pass must see the same rows —
    * all in-tree callers are deterministic rollups; re-derive
    * nondeterministic lineage through a checkpoint first); (scoreCol,
    * tieCols) total within partition wherever rank ties would change the
    * consumer's result. Determinism: given that contract, ranks and
    * running sums are exactly those of the equivalent single-partition
    * window (asc nulls-first / desc nulls-last, ties by `tieCols` asc) —
    * the pivot grid affects cell SIZE only, never the result.
    * [[graft.operators.Ops.rankBy]] is the operator-surface facade. */
  def distributedRank(df0: DataFrame, partCols: Seq[String],
      scoreCol: String, desc: Boolean, tieCols: Seq[String],
      weightCol: Option[String], rnOut: String,
      cumOut: Option[String] = None, grid: Int = 128,
      tieSubdivideMin: Long = 1L << 18): DataFrame = {
    import org.apache.spark.sql.types._
    require(grid >= 2 && grid <= 1024, s"grid in [2,1024]: $grid")
    require(cumOut.isEmpty || weightCol.nonEmpty,
      "cumOut needs a weightCol")
    val spark = df0.sparkSession
    val sD = col(scoreCol).cast("double")
    val slimCols =
      (partCols ++ Seq(scoreCol) ++ tieCols ++ weightCol.toSeq).distinct
    // (r16 negative A/B, recorded: flipping this to a LAZY checkpoint —
    // fusing the materialization into the pivot head() job, one fewer
    // blocking driver job per call — measured FLAT across three OptBench
    // runs of the 6-query rank family (11.47/11.08/11.48 s totals, noise
    // dominated); eager is the safer documented mode and stays.)
    val slim = Ops.materialize(df0.select(slimCols.map(col): _*))
    // the final pass reuses the checkpointed slim when it already carries
    // every output column; otherwise it re-derives df0 (one extra scan of
    // a deterministic lineage — the contract above)
    val base = if (df0.columns.toSeq == slimCols) slim else df0
    val ps = (1 until grid).map(i => i.toDouble / grid)
    val head = slim.agg(count(lit(1)).as("n"),
      expr(s"approx_percentile(CAST(`$scoreCol` AS DOUBLE), " +
        s"array(${ps.mkString(",")}), 2500)").as("pv")).head()
    val n = head.getLong(0)
    if (n == 0L) {
      val withRn = df0.withColumn(rnOut, lit(null).cast("long"))
      return cumOut.fold(withRn)(c =>
        withRn.withColumn(c, lit(null).cast("long")))
    }
    val asc: IndexedSeq[Double] = (if (head.isNullAt(1)) Seq.empty[Double]
      else head.getSeq[Any](1).collect {
        case d: java.lang.Double => d.doubleValue })
      .distinct.sorted.toIndexedSeq
    val m = asc.size
    // cell code ascending in score: 2j = open interval below pivot j,
    // 2j+1 = the singleton AT pivot j, 2m = above all pivots; nulls get
    // -1, which the traversal order (code asc for asc, desc for desc with
    // -1 forced last) places exactly where Spark's default windows do
    // (asc nulls FIRST, desc nulls LAST)
    val segExpr: Column = {
      def tree(lo: Int, hi: Int): Column =
        if (lo >= hi) lit(2 * lo)
        else {
          val mid = (lo + hi) / 2
          when(sD < lit(asc(mid)), tree(lo, mid))
            .otherwise(when(sD === lit(asc(mid)), lit(2 * mid + 1))
              .otherwise(tree(mid + 1, hi)))
        }
      when(col(scoreCol).isNull, lit(-1)).otherwise(tree(0, m))
    }
    def segOrder(code: Int): Long =
      if (!desc) code.toLong
      else if (code == -1) Long.MaxValue else -code.toLong
    val wAgg: Seq[Column] = weightCol.toSeq.map(c =>
      sum(col(c).cast("long")).as("__drw"))
    val cellAgg = (Seq(count(lit(1)).as("__drc")) ++ wAgg)
    val cellRows = slim
      .groupBy(partCols.map(col) :+ segExpr.as("__drseg"): _*)
      .agg(cellAgg.head, cellAgg.tail: _*).collect()
    val np = partCols.size
    def partKey(r: org.apache.spark.sql.Row): Seq[Any] =
      (0 until np).map(r.get)
    // (partKey, seg) -> (count, weight)
    val cells: Map[(Seq[Any], Int), (Long, Long)] = cellRows.map { r =>
      (partKey(r), r.getInt(np)) ->
        (r.getLong(np + 1), if (weightCol.isEmpty) 0L else r.getLong(np + 2))
    }.toMap
    // massive single-value tie cells subdivide on the first tiebreak col
    // when the score's double cast is injective at the pivot (so the odd
    // cell truly holds ONE score value) and the tiebreak is numeric
    val scoreInjective: Double => Boolean =
      df0.schema(scoreCol).dataType match {
        case FloatType | DoubleType => _ => true
        case ByteType | ShortType | IntegerType | LongType =>
          v => math.abs(v) < (1L << 53).toDouble
        case _ => _ => false
      }
    val tieNumeric = tieCols.headOption
      .exists(c => df0.schema(c).dataType.isInstanceOf[NumericType])
    val subCells: Set[(Seq[Any], Int)] = cells.collect {
      case ((pk, seg), (c, _)) if seg % 2 == 1 && c >= tieSubdivideMin &&
        tieNumeric && scoreInjective(asc(seg / 2)) => (pk, seg)
    }.toSet
    val subSegCodes = subCells.map(_._2).toSeq.distinct
    val tieD = tieCols.headOption.map(c => col(c).cast("double"))
    val idPivots: Map[(Seq[Any], Int), IndexedSeq[Double]] =
      if (subCells.isEmpty) Map.empty
      else slim.withColumn("__drseg", segExpr)
        .filter(col("__drseg").isin(subSegCodes: _*))
        .groupBy(partCols.map(col) :+ col("__drseg"): _*)
        .agg(expr(s"approx_percentile(CAST(`${tieCols.head}` AS DOUBLE), " +
          s"array(${ps.mkString(",")}), 10000)").as("pv"))
        .collect().flatMap { r =>
          val key = (partKey(r), r.getInt(np))
          if (!subCells.contains(key)) None else Some(key ->
            (if (r.isNullAt(np + 1)) IndexedSeq.empty[Double]
             else r.getSeq[Any](np + 1).collect {
               case d: java.lang.Double => d.doubleValue }
               .distinct.sorted.toIndexedSeq))
        }.toMap
    def partPred(pk: Seq[Any]): Column =
      if (np == 0) lit(true)
      else partCols.zip(pk).map { case (c, v) => col(c) <=> lit(v) }
        .reduce(_ && _)
    // sub code = #(tiebreak pivots <= tie): upper-bound binary search,
    // monotone in tiebreak ASC (the within-tie order for asc AND desc)
    val subExpr: Column = subCells.foldLeft(lit(-1)) { (acc, cell) =>
      val us = idPivots.getOrElse(cell, IndexedSeq.empty)
      def tree(lo: Int, hi: Int): Column =
        if (lo >= hi) lit(lo)
        else {
          val mid = (lo + hi) / 2
          when(tieD.get >= lit(us(mid)), tree(mid + 1, hi))
            .otherwise(tree(lo, mid))
        }
      when(partPred(cell._1) && segExpr === cell._2, tree(0, us.size))
        .otherwise(acc)
    }
    val subCounts: Map[(Seq[Any], Int, Int), (Long, Long)] =
      if (subCells.isEmpty) Map.empty
      else slim.withColumn("__drseg", segExpr)
        .filter(col("__drseg").isin(subSegCodes: _*))
        .withColumn("__drsub", subExpr)
        .groupBy(partCols.map(col) ++ Seq(col("__drseg"), col("__drsub")): _*)
        .agg(cellAgg.head, cellAgg.tail: _*)
        .collect().flatMap { r =>
          val key = (partKey(r), r.getInt(np))
          if (!subCells.contains(key)) None
          else Some((key._1, key._2, r.getInt(np + 1)) ->
            (r.getLong(np + 2),
              if (weightCol.isEmpty) 0L else r.getLong(np + 3)))
        }.toMap
    // per-part ordered walk -> (part..., seg, sub, rank base, weight base)
    val mapRows: Seq[org.apache.spark.sql.Row] =
      cells.keys.map(_._1).toSeq.distinct.flatMap { pk =>
        var rb = 0L; var wb = 0L
        cells.filter(_._1._1 == pk).toSeq
          .sortBy { case ((_, seg), _) => segOrder(seg) }
          .flatMap { case ((_, seg), (c, w)) =>
            if (subCells.contains((pk, seg))) {
              subCounts.filter { case ((p, s, _), _) => p == pk && s == seg }
                .toSeq.sortBy(_._1._3).map { case ((_, _, sub), (sc, sw)) =>
                  val row = org.apache.spark.sql.Row.fromSeq(
                    pk ++ Seq[Any](seg, sub, rb, wb))
                  rb += sc; wb += sw; row
                }
            } else {
              val row = org.apache.spark.sql.Row.fromSeq(
                pk ++ Seq[Any](seg, -1, rb, wb))
              rb += c; wb += w
              Seq(row)
            }
          }
      }
    val mapSchema = StructType(
      partCols.map(c => slim.schema(c)) ++ Seq(
        StructField("__drseg", IntegerType, nullable = false),
        StructField("__drsub", IntegerType, nullable = false),
        StructField("__drrb", LongType, nullable = false),
        StructField("__drwb", LongType, nullable = false)))
    val mapDf = spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(mapRows).asJava, mapSchema)
    // null-safe on the part columns (a null group is a valid group)
    val mapRenamed = partCols.zipWithIndex
      .foldLeft(mapDf.withColumnRenamed("__drseg", "__drsegm")
        .withColumnRenamed("__drsub", "__drsubm")) {
        case (d, (c, i)) => d.withColumnRenamed(c, s"__drp$i") }
    val keyed = base.withColumn("__drseg", segExpr)
      .withColumn("__drsub", subExpr)
    val cond = (partCols.zipWithIndex.map { case (c, i) =>
        col(c) <=> col(s"__drp$i") } ++
      Seq(col("__drseg") === col("__drsegm"),
        col("__drsub") === col("__drsubm"))).reduce(_ && _)
    val joined = keyed.join(broadcast(mapRenamed), cond)
      .drop("__drsegm" +: "__drsubm" +:
        partCols.indices.map(i => s"__drp$i"): _*)
    val ordCols = (if (desc) col(scoreCol).desc_nulls_last
      else col(scoreCol).asc_nulls_first) +: tieCols.map(col(_).asc)
    val wWin = Window
      .partitionBy(partCols.map(col) ++ Seq(col("__drseg"), col("__drsub")): _*)
      .orderBy(ordCols: _*)
    val withRn = joined.withColumn(rnOut,
      col("__drrb") + row_number().over(wWin).cast("long"))
    val withCum = cumOut.fold(withRn)(c => withRn.withColumn(c,
      col("__drwb") + sum(col(weightCol.get).cast("long"))
        .over(wWin.rowsBetween(Window.unboundedPreceding,
          Window.currentRow))))
    withCum.drop("__drseg", "__drsub", "__drrb", "__drwb")
  }

  // ------------------------------------------------------------ Qini deciles
  /** Qini uplift curve at decile grain: units rank by targeting score
    * (score DESC, id ASC — total order, so the tiling is deterministic),
    * and each cumulative decile reports treated/control counts,
    * conversions, and the Qini uplift conv_t − conv_c·(n_t/n_c) — the
    * uplift-model evaluation standard. Ranking is [[equalCountTiles]]
    * (exact ntile semantics, broadcast-offset projection + segment-
    * partitioned rescue — never a global single-partition sort); all
    * counts are exact integers from one unit-grain aggregate; windows run
    * on the nBins-row decile rollup. Returns per decile: (decile,
    * cum_n_treat, cum_n_ctrl, cum_conv_treat, cum_conv_ctrl, uplift). */
  def qiniDeciles(df: DataFrame, idCol: Column, scoreCol: Column,
                  treatCol: Column, convCol: Column,
                  nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2: $nBins")
    // long, not ntile's native int: every other emitted column is long,
    // and downstream engines (DuckDB ntile included) emit 64-bit here
    val ranked = equalCountTiles(
      df.select(idCol.as("__id"), scoreCol.as("__s"),
        treatCol.as("__t"), convCol.as("__c")),
      "__s", "__id", nBins, "decile")
    val cells = ranked.groupBy("decile")
      .agg(sum(when(col("__t"), 1L).otherwise(0L)).as("__nt"),
        sum(when(!col("__t"), 1L).otherwise(0L)).as("__nc"),
        sum(when(col("__t") && col("__c"), 1L).otherwise(0L)).as("__ct"),
        sum(when(!col("__t") && col("__c"), 1L).otherwise(0L)).as("__cc"))
    val w = Window.orderBy(col("decile").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_n_treat", sum(col("__nt")).over(w))
      .withColumn("cum_n_ctrl", sum(col("__nc")).over(w))
      .withColumn("cum_conv_treat", sum(col("__ct")).over(w))
      .withColumn("cum_conv_ctrl", sum(col("__cc")).over(w))
      .select(col("decile"), col("cum_n_treat"), col("cum_n_ctrl"),
        col("cum_conv_treat"), col("cum_conv_ctrl"),
        round(col("cum_conv_treat").cast("double") -
          col("cum_conv_ctrl").cast("double") *
            (col("cum_n_treat").cast("double") /
              col("cum_n_ctrl").cast("double")), 6).as("uplift"))
  }

  // ----------------------------------------------------- Pythagorean means
  /** Arithmetic, geometric, and harmonic means per group over strictly
    * positive values. The arithmetic mean is DECIMAL-exact; geometric
    * (exp of the ln-mean) and harmonic (n / Σ 1/x) carry their per-row
    * libm terms through DECIMAL(28,12) casts — per-row rounding, then
    * order-independent summation (the PSI/JSD discipline) — and finish
    * with one fixed-shape closed form each, 6dp. Non-positive and null
    * values are excluded (and counted). Returns per group:
    * (groupCols…, n, n_excluded, mean, geo_mean, harmonic_mean). */
  def pythagoreanMeans(df: DataFrame, groupCols: Seq[String],
                       valueCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(groupCols.nonEmpty, "group columns required")
    val gs = groupCols.map(col)
    val ok = valueCol.isNotNull && valueCol > 0.0
    df.groupBy(gs: _*)
      .agg(sum(when(ok, 1L).otherwise(0L)).as("n"),
        sum(when(!ok, 1L).otherwise(0L)).as("n_excluded"),
        sum(when(ok, valueCol.cast(DecimalType(28, 6)))).as("__s"),
        sum(when(ok, log(valueCol).cast(DecimalType(28, 12)))).as("__sl"),
        sum(when(ok, (lit(1.0) / valueCol).cast(DecimalType(28, 12))))
          .as("__sr"))
      .select(gs ++ Seq(col("n"), col("n_excluded"),
        round(col("__s").cast("double") / col("n").cast("double"), 6)
          .as("mean"),
        round(exp(col("__sl").cast("double") / col("n").cast("double")), 6)
          .as("geo_mean"),
        round(col("n").cast("double") / col("__sr").cast("double"), 6)
          .as("harmonic_mean")): _*)
  }

  // ------------------------------------------------------------ SPRT trace
  /** Wald sequential-probability-ratio trace at daily grain: cumulative
    * trials/successes (exact integer windows over the calendar rollup),
    * the log-likelihood ratio S·ln(p1/p0) + (N−S)·ln(q1/q0), and the
    * accept/continue decision against the Wald boundaries
    * ln((1−β)/α) / ln(β/(1−α)). The four log constants are evaluated
    * ONCE on the driver and embedded as literals (an oracle embeds the
    * identical literals); the decision compares the 6dp-ROUNDED llr to
    * the 6dp-rounded boundaries, so it cannot flip on an ulp. Returns
    * (day, n_cum, s_cum, llr, decision). */
  def sprtTrace(df: DataFrame, tsCol: String, success: Column,
                p0: Double, p1: Double, alpha: Double = 0.05,
                beta: Double = 0.2): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1, "bad p0/p1")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1, "bad alpha/beta")
    val l1 = math.log(p1 / p0)
    val l0 = math.log((1 - p1) / (1 - p0))
    val hi = math.round(math.log((1 - beta) / alpha) * 1e6) / 1e6
    val lo = math.round(math.log(beta / (1 - alpha)) * 1e6) / 1e6
    val daily = df
      .select(EventAnalytics.dayIndex(col(tsCol)).as("day"),
        when(success, 1L).otherwise(0L).as("__s"))
      .groupBy("day")
      .agg(count(lit(1)).as("__n"), sum(col("__s")).as("__sd"))
    val w = Window.orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("n_cum", sum(col("__n")).over(w))
      .withColumn("s_cum", sum(col("__sd")).over(w))
      .withColumn("llr", round(col("s_cum").cast("double") * l1 +
        (col("n_cum") - col("s_cum")).cast("double") * l0, 6))
      .select(col("day"), col("n_cum"), col("s_cum"), col("llr"),
        when(col("llr") >= hi, "accept_h1")
          .when(col("llr") <= lo, "accept_h0")
          .otherwise("continue").as("decision"))
  }

  // ------------------------------------------------- top-share concentration
  /** Whale-share report: the share of total value contributed by the top
    * ⌈n·p%⌉ keys, for each requested percentage — the "top 1% of users
    * drive X%" product metric (the point-cut companion to the Lorenz/Gini
    * relations). Per-key cents roll up first; rank and running cents come
    * from [[distributedRank]] ((cents DESC, key ASC) — deterministic);
    * cut sizes are exact integers ⌈n·p/100⌉ and each share is one IEEE
    * division, 6dp. Returns per requested pct:
    * (pct, n_top, cutoff_cents, share). */
  def whaleShare(df: DataFrame, keyCol: String, valueCol: Column,
                 pcts: Seq[Int] = Seq(1, 5, 10)): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      "pcts must be in 1..100")
    val perKey = df.groupBy(col(keyCol).as("__k"))
      .agg(sum(round(valueCol * 100, 0).cast("long")).as("__c"))
    // the per-KEY rollup grows with the user domain — rank and running
    // cents come from [[distributedRank]]'s cell-partitioned windows
    // (cents DESC, key ASC), never one keyless window over a billion keys
    val ranked = distributedRank(perKey, Seq.empty, "__c", desc = true,
      tieCols = Seq("__k"), weightCol = Some("__c"), rnOut = "__rn",
      cumOut = Some("__cum"))
    val stats = ranked.agg(count(lit(1)).as("__n"),
      sum(col("__c")).as("__tot"))
    val cuts = pcts.map(p => s"$p, (__n * $p + 99) div 100").mkString(", ")
    stats
      .selectExpr("__tot", s"stack(${pcts.size}, $cuts) AS (pct, __kp)")
      .join(ranked, col("__kp") === col("__rn"))
      .select(col("pct"), col("__kp").as("n_top"),
        col("__c").as("cutoff_cents"),
        round(col("__cum").cast("double") / col("__tot").cast("double"), 6)
          .as("share"))
  }
  // -------------------------------------------------- Mann-Whitney U test
  /** Two-sample Mann-Whitney U (Wilcoxon rank-sum) per group with the
    * tie-corrected normal approximation — the nonparametric "did the
    * distribution shift" test for skewed metrics where a t-test lies.
    * Sample membership is `sampleCol` (true = sample 1).
    *
    * Same shape as [[rocAuc]] (U is its unnormalized core): values
    * collapse to per-(group, value) counts first, one per-group running
    * sum gives 2U₁ = Σ_v n1(v)·(2·n2below(v) + n2(v)) in exact
    * DECIMAL(38,0) integers, and the tie term Σ(t³−t) stays integer too.
    * Only z is floating point: σ² = (n1·n2/12)·((N+1) − Σ(t³−t)/(N(N−1)))
    * and z = (2U₁ − n1·n2)/(2σ) are fixed IEEE shapes rounded 6dp —
    * engine-identical. No continuity correction (documented). Degenerate
    * groups (either sample empty, or all values tied) report null z.
    *
    * Cardinality contract (the rocAuc discipline): the per-group window
    * runs over DISTINCT values — bound continuous metrics by rounding
    * before calling (ENFORCED: a group above 10⁵ distinct values RAISES
    * via [[gateGroupValueCells]]). Returns groupCols + (n1, n2, u1, z). */
  def mannWhitney(df: DataFrame, valueCol: String, sampleCol: Column,
                  groupCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(groupCols.nonEmpty, "at least one group column")
    val g = groupCols.map(col)
    val perVal = gateGroupValueCells(df
      .groupBy(g :+ col(valueCol).as("__v"): _*)
      .agg(sum(when(sampleCol, 1L).otherwise(0L)).as("__n1"),
        sum(when(sampleCol, 0L).otherwise(1L)).as("__n2")),
      g, "mannWhitney")
    val w = Window.partitionBy(g: _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val agg = perVal
      .withColumn("__below2", coalesce(sum(col("__n2")).over(w), lit(0L)))
      .groupBy(g: _*)
      .agg(sum(col("__n1")).as("n1"), sum(col("__n2")).as("n2"),
        sum((col("__n1") * (lit(2L) * col("__below2") + col("__n2")))
          .cast(DecimalType(38, 0))).as("__u2"),
        sum(((col("__n1") + col("__n2")) * (col("__n1") + col("__n2")) *
          (col("__n1") + col("__n2")) - (col("__n1") + col("__n2")))
          .cast(DecimalType(38, 0))).as("__ties"))
    val nTot = (col("n1") + col("n2")).cast("double")
    val sigma2 = col("n1").cast("double") * col("n2").cast("double") /
      lit(12.0) * ((nTot + 1.0) -
        col("__ties").cast("double") / (nTot * (nTot - 1.0)))
    agg
      .withColumn("u1", col("__u2").cast("double") / 2.0)
      .withColumn("z",
        when(col("n1") > 0 && col("n2") > 0 && sigma2 > 0,
          round((col("__u2").cast("double") -
            col("n1").cast("double") * col("n2").cast("double")) /
            (lit(2.0) * sqrt(sigma2)), 6)))
      .select(g ++ Seq(col("n1"), col("n2"), col("u1"), col("z")): _*)
  }

  // --------------------------------------- Benjamini-Hochberg step-up FDR
  /** Benjamini–Hochberg FDR control over a relation of (test, p-value)
    * rows at level q = qNum/qDen: rank tests by (p ASC, id ASC), find the
    * largest rank k with p ≤ q·k/m, and flag ranks ≤ k as discoveries —
    * the multiple-testing gate a metrics platform runs over per-slice
    * test batteries. The boundary compare is p·m·qDen ≤ qNum·rank — one
    * double product per side in a fixed shape (q stays rational), never a
    * pre-rounded threshold.
    *
    * Cardinality contract: the relation is one row per TEST (slices, not
    * raw data), so the global rank window is bounded by the battery size
    * — the aboveQuantile discipline. Returns
    * (id, p_value, rank, threshold, discovery) — threshold = q·rank/m, 6dp. */
  def bhFdr(df: DataFrame, idCol: String, pCol: Column,
            qNum: Int, qDen: Int): DataFrame = {
    require(qNum > 0 && qDen > 0 && qNum <= qDen,
      s"q fraction out of range: $qNum/$qDen")
    val m = df.agg(count(lit(1)).as("__m"))
    val wRank = Window.orderBy(col("p_value").asc, col("id").asc)
    val wAll = Window.partitionBy(lit(1))
    // a NULL p RAISES (the storeyQ/byFdr discipline): Spark ranks nulls
    // first, DuckDB last — a silent null would shift every rank/threshold
    val p0 = pCol.cast("double")
    df.select(col(idCol).as("id"),
        when(p0.isNull, raise_error(concat(
            lit("bhFdr: null p-value for id "), col(idCol).cast("string"))))
          .otherwise(p0).as("p_value"))
      .crossJoin(broadcast(m))
      .withColumn("rank", row_number().over(wRank))
      .withColumn("__ok",
        col("p_value") * col("__m").cast("double") * qDen <=
          lit(qNum).cast("double") * col("rank").cast("double"))
      .withColumn("__k", max(when(col("__ok"), col("rank"))).over(wAll))
      .select(col("id"), col("p_value"), col("rank"),
        round(lit(qNum).cast("double") * col("rank").cast("double") /
          (lit(qDen).cast("double") * col("__m").cast("double")), 6)
          .as("threshold"),
        coalesce(col("rank") <= col("__k"), lit(false)).as("discovery"))
  }

  // ------------------------------------------------------------ t-closeness
  /** t-closeness audit (the distributional sequel to [[lDiversityAudit]]):
    * per QI group, the earth-mover's distance between the group's
    * distribution over an ORDERED sensitive attribute and the global one,
    * with the standard ordered-EMD normalization Σ_v |cum_g − cum_G| / (k−1)
    * (Li, Li & Venkatasubramanian, ICDE'07).
    *
    * DETERMINISM: cumulative shares compare as the cross-multiplied
    * integers |cumc_g·N − cumG·n_g| in DECIMAL(38,0) — one exact integer
    * sum per group, ONE IEEE division by n_g·N·(k−1), 6dp.
    *
    * Cardinality contract: `sensCol` must be vocabulary-bounded (bucket
    * continuous attributes first) — ENFORCED: a sensitive vocabulary
    * above 10⁵ cells RAISES loudly ([[gateValueCells]]; a continuous
    * attribute would otherwise silently single-task-sort the value
    * relation AND blow the |groups|·k zero-filled broadcast). The
    * zero-filled (group × value) relation is |groups|·k rows, the value
    * list broadcasts. Returns qiCols + (n_rows, emd). Degenerate k = 1
    * reports emd null. */
  def tCloseness(df: DataFrame, qiCols: Seq[String],
                 sensCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(qiCols.nonEmpty, "at least one quasi-identifier column")
    val g = qiCols.map(col)
    val base = df.select(g :+ sensCol.as("__v"): _*)
      .filter(col("__v").isNotNull)
    val wG = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gv = gateValueCells(
        base.groupBy(col("__v")).agg(count(lit(1)).as("__cg")),
        "__cg", "tCloseness")
      .withColumn("__cumG", sum(col("__cg")).over(wG))
    val tot = gv.agg(sum(col("__cg")).as("__N"),
      count(lit(1)).as("__k"))
    val groups = base.groupBy(g: _*).agg(count(lit(1)).as("n_rows"))
    val cells = groups
      .crossJoin(broadcast(gv.select(col("__v"), col("__cumG"))))
      .join(base.groupBy(g :+ col("__v"): _*)
          .agg(count(lit(1)).as("__c")),
        qiCols :+ "__v", "left")
    val wC = Window.partitionBy(g: _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("__cumc", sum(coalesce(col("__c"), lit(0L))).over(wC))
      .crossJoin(broadcast(tot))
      .groupBy(g :+ col("n_rows"): _*)
      .agg(sum(abs((col("__cumc") * col("__N") -
          col("__cumG") * col("n_rows")).cast(DecimalType(38, 0))))
        .as("__num"),
        first(col("__k")).as("__k"), first(col("__N")).as("__N"))
      .select(g ++ Seq(col("n_rows"),
        when(col("__k") > 1,
          round(col("__num").cast("double") /
            (col("n_rows").cast("double") * col("__N").cast("double") *
              (col("__k") - 1).cast("double")), 6)).as("emd")): _*)
  }
  // ------------------------------------------------- mutual information
  /** Mutual information between two categorical columns in nats, with
    * both marginal entropies and the min-normalized NMI — the
    * feature-redundancy / dependence-strength companion to
    * [[contingencyResiduals]]. MI = Σ_{xy} (c_xy/N)·ln(N·c_xy/(c_x·c_y)).
    *
    * DETERMINISM: counts are exact integers off the label-vocabulary-
    * bounded cell relation; each IEEE term rounds to DECIMAL(28,12)
    * before the sum (the PSI/JSD discipline), one 6dp finish. Null rows
    * in either column are excluded (they carry no joint evidence).
    * Returns one row: (n, mi, h_a, h_b, nmi); nmi is null when either
    * marginal entropy is 0 (a constant column). */
  def mutualInformation(df: DataFrame, aCol: Column,
                        bCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cells = df.filter(aCol.isNotNull && bCol.isNotNull)
      .groupBy(aCol.as("a"), bCol.as("b")).agg(count(lit(1)).as("__c"))
    val ma = cells.groupBy("a").agg(sum(col("__c")).as("__ca"))
    val mb = cells.groupBy("b").agg(sum(col("__c")).as("__cb"))
    val tot = cells.agg(sum(col("__c")).as("__n"))
    val nD = col("__n").cast("double")
    val miTerm = (col("__c").cast("double") / nD *
      log(nD * col("__c").cast("double") /
        (col("__ca").cast("double") * col("__cb").cast("double"))))
      .cast(DecimalType(28, 12))
    val mi = cells.join(ma, "a").join(mb, "b").crossJoin(broadcast(tot))
      .agg(first(col("__n")).as("n"),
        sum(miTerm).cast("double").as("__mi"))
    def ent(m: DataFrame, c: String) = m.crossJoin(broadcast(tot))
      .agg(sum((-(col(c).cast("double") / nD) *
        log(col(c).cast("double") / nD)).cast(DecimalType(28, 12)))
        .cast("double").as(s"__h$c"))
    mi.crossJoin(broadcast(ent(ma, "__ca"))).crossJoin(broadcast(ent(mb, "__cb")))
      .select(col("n"), round(col("__mi"), 6).as("mi"),
        round(col("__h__ca"), 6).as("h_a"),
        round(col("__h__cb"), 6).as("h_b"),
        when(least(col("__h__ca"), col("__h__cb")) > 0,
          round(col("__mi") / least(col("__h__ca"), col("__h__cb")), 6))
          .as("nmi"))
  }

  // ------------------------------------------------ two-proportion z-test
  /** Two-proportion z-test per group with the pooled-variance normal
    * approximation, plus the effect sizes a metrics review actually reads
    * (risk ratio and odds ratio). Membership: `sampleCol` true = sample 1;
    * outcome: `successCol`.
    *
    * Counts are exact integers off one group rollup;
    * z = (p1 − p2)/√(p̂(1−p̂)(1/n1 + 1/n2)) with p̂ pooled is one fixed
    * IEEE shape, 6dp — engine-identical. Degenerate groups (either sample
    * empty, or p̂ ∈ {0,1}) report null z; odds_ratio is null when any
    * contingency cell is 0. Returns groupCols +
    * (n1, x1, n2, x2, p1, p2, z, risk_ratio, odds_ratio). */
  def twoProportionTest(df: DataFrame, sampleCol: Column, successCol: Column,
                        groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    val g = groupCols.map(col)
    val agg = df.groupBy(g: _*)
      .agg(sum(when(sampleCol, 1L).otherwise(0L)).as("n1"),
        sum(when(sampleCol && successCol, 1L).otherwise(0L)).as("x1"),
        sum(when(sampleCol, 0L).otherwise(1L)).as("n2"),
        sum(when(!sampleCol && successCol, 1L).otherwise(0L)).as("x2"))
    val n1d = col("n1").cast("double"); val x1d = col("x1").cast("double")
    val n2d = col("n2").cast("double"); val x2d = col("x2").cast("double")
    val p1 = x1d / n1d; val p2 = x2d / n2d
    val pp = (x1d + x2d) / (n1d + n2d)
    val se = sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / n1d + lit(1.0) / n2d))
    agg.select(g ++ Seq(col("n1"), col("x1"), col("n2"), col("x2"),
      when(col("n1") > 0, round(p1, 6)).as("p1"),
      when(col("n2") > 0, round(p2, 6)).as("p2"),
      when(col("n1") > 0 && col("n2") > 0 && pp > 0 && pp < 1,
        round((p1 - p2) / se, 6)).as("z"),
      when(col("n1") > 0 && col("x2") > 0,
        round(p1 / p2, 6)).as("risk_ratio"),
      when(col("x1") > 0 && col("x2") > 0 && col("x1") < col("n1") &&
        col("x2") < col("n2"),
        round(x1d * (n2d - x2d) / ((n1d - x1d) * x2d), 6))
        .as("odds_ratio")): _*)
  }
  // --------------------------------------------------------- WOE / IV
  /** Weight-of-evidence binning report with information value — the
    * credit-scoring / feature-screening primitive (and PSI's sibling:
    * same (share − share)·ln(ratio) term, goods-vs-bads instead of
    * expected-vs-actual). Per bin: woe = ln((g/G)/(b/B)) as the single
    * ln of an exact integer ratio; iv_term = (g/G − b/B)·woe in
    * DECIMAL(28,12); iv_total is the exact decimal sum over bins. Bins
    * with zero goods or zero bads report null woe and contribute NOTHING
    * to IV (exclusion, not smoothing — documented; pre-merge sparse bins
    * if that matters). One bin-vocabulary-bounded rollup; the window
    * runs over bins only. Returns
    * (bin, n_good, n_bad, woe, iv_term, iv_total). */
  def woeIv(df: DataFrame, binCol: Column, labelCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val bins = df.filter(binCol.isNotNull)
      .groupBy(binCol.as("bin"))
      .agg(sum(when(labelCol, 1L).otherwise(0L)).as("n_good"),
        sum(when(labelCol, 0L).otherwise(1L)).as("n_bad"))
    val tot = bins.agg(sum(col("n_good")).as("__G"), sum(col("n_bad")).as("__B"))
    val gd = col("n_good").cast("double"); val bd = col("n_bad").cast("double")
    val capG = col("__G").cast("double"); val capB = col("__B").cast("double")
    val lnr = log(gd * capB / (bd * capG))
    val wAll = Window.partitionBy(lit(1))
    bins.crossJoin(broadcast(tot))
      .withColumn("__iv",
        when(col("n_good") > 0 && col("n_bad") > 0,
          ((gd / capG - bd / capB) * lnr).cast(DecimalType(28, 12))))
      .select(col("bin"), col("n_good"), col("n_bad"),
        when(col("n_good") > 0 && col("n_bad") > 0, round(lnr, 6)).as("woe"),
        round(col("__iv").cast("double"), 6).as("iv_term"),
        round(sum(col("__iv")).over(wAll).cast("double"), 6).as("iv_total"))
  }
  // -------------------------------------------- empirical-Bayes shrinkage
  /** Beta-binomial empirical-Bayes rate shrinkage by method of moments
    * (the "don't rank a 1/1 item above a 970/1000 item" estimator): fit
    * Beta(α, β) to the per-key raw rates of keys with n ≥ minTrials —
    * α = m·(m(1−m)/v − 1), β = (1−m)·(m(1−m)/v − 1) from the moment pair
    * (m, v) — then report every key's posterior mean
    * (x + α)/(n + α + β).
    *
    * DETERMINISM: raw rates round to DECIMAL(28,12) before the moment
    * sums (the PSI discipline), so m and v are shuffle-order-exact; α, β
    * and the posterior are mirrored IEEE shapes, 6dp. Degenerate priors
    * (v ≤ 0, or v ≥ m(1−m) — under-dispersion the Beta can't express)
    * report null α/β and shrunk = raw (documented). One key rollup + one
    * moment aggregate broadcast back. Returns
    * (key, n, x, raw_rate, alpha, beta, shrunk_rate). */
  def empiricalBayesRates(df: DataFrame, keyCol: String, successCol: Column,
                          minTrials: Long = 10L): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val perKey = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n"),
        sum(when(successCol, 1L).otherwise(0L)).as("x"))
      .withColumn("raw_rate",
        col("x").cast("double") / col("n").cast("double"))
    val mom = perKey.filter(col("n") >= minTrials)
      .agg(count(lit(1)).as("__k"),
        sum(col("raw_rate").cast(DecimalType(28, 12))).as("__s1"),
        sum((col("raw_rate") * col("raw_rate")).cast(DecimalType(28, 12)))
          .as("__s2"))
      .select(col("__k"),
        (col("__s1").cast("double") / col("__k").cast("double")).as("__m"),
        (col("__s2").cast("double") / col("__k").cast("double") -
          (col("__s1").cast("double") / col("__k").cast("double")) *
            (col("__s1").cast("double") / col("__k").cast("double")))
          .as("__v"))
    val m = col("__m"); val v = col("__v")
    val scale = m * (lit(1.0) - m) / v - lit(1.0)
    val ok = col("__k") >= 2 && v > 0 && v < m * (lit(1.0) - m)
    perKey.crossJoin(broadcast(mom))
      .withColumn("alpha", when(ok, round(m * scale, 6)))
      .withColumn("beta", when(ok, round((lit(1.0) - m) * scale, 6)))
      .select(col("key"), col("n"), col("x"), round(col("raw_rate"), 6).as("raw_rate"),
        col("alpha"), col("beta"),
        when(ok, round((col("x").cast("double") + m * scale) /
          (col("n").cast("double") + m * scale + (lit(1.0) - m) * scale), 6))
          .otherwise(round(col("raw_rate"), 6)).as("shrunk_rate"))
  }

  // ------------------------------------------------- sample-ratio mismatch
  /** Sample-ratio-mismatch (SRM) check per experiment: are the two arms'
    * observed counts consistent with the designed split eNum/eDen for
    * arm 1? One-df chi-square against the exact expected counts, flagged
    * at the standard SRM threshold χ²₁(0.001) = 10.828 — the first gate
    * any A/B readout must pass. Counts are exact integers; the statistic
    * is one mirrored IEEE shape. Groups with no traffic report null.
    * Returns groupCols + (n1, n2, expected1, chi2, srm). */
  def srmCheck(df: DataFrame, arm1Col: Column, groupCols: Seq[String],
               eNum: Int = 1, eDen: Int = 2): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    require(eNum > 0 && eNum < eDen, s"split fraction out of (0,1): $eNum/$eDen")
    val g = groupCols.map(col)
    val agg = df.groupBy(g: _*)
      .agg(sum(when(arm1Col, 1L).otherwise(0L)).as("n1"),
        sum(when(arm1Col, 0L).otherwise(1L)).as("n2"))
    val tot = (col("n1") + col("n2")).cast("double")
    val e1 = tot * eNum / eDen
    val e2 = tot - tot * eNum / eDen
    val chi2 = (col("n1").cast("double") - e1) * (col("n1").cast("double") - e1) / e1 +
      (col("n2").cast("double") - e2) * (col("n2").cast("double") - e2) / e2
    agg.select(g ++ Seq(col("n1"), col("n2"), round(e1, 6).as("expected1"),
      when(tot > 0, round(chi2, 6)).as("chi2"),
      when(tot > 0, chi2 > 10.828).as("srm")): _*)
  }
  // ---------------------------------------------- propensity-score matching
  /** Stratified nearest-neighbor propensity matching WITH REPLACEMENT:
    * within each stratum, every treated unit matches the control whose
    * score is nearest (caliper-bounded) — the observational-causal
    * workhorse; feed the pairs to a mean-difference ATT. Matching with
    * replacement keeps the estimator declarative AND order-free (greedy
    * without-replacement matching is inherently sequential — documented
    * non-goal).
    *
    * DETERMINISM: `scoreCol` must be integral (bucket continuous scores —
    * the rocAuc contract); controls first collapse to ONE canonical
    * representative per (stratum, score) (min id), so score ties cannot
    * leak shuffle order; the nearest election is [[graft.operators.Ops.asofJoin]]'s
    * backward-wins-ties rule. Unmatched / out-of-caliper treated drop
    * (count them against the input). Returns
    * (stratum, id, score, outcome, ctl_id, ctl_score, ctl_outcome). */
  def propensityMatch(df: DataFrame, idCol: String, treatedCol: Column,
                      scoreCol: Column, outcomeCol: Column,
                      strataCol: Column, caliper: Long): DataFrame = {
    require(caliper >= 0, s"caliper must be >= 0: $caliper")
    val base = df.select(strataCol.as("stratum"), col(idCol).as("id"),
      treatedCol.as("__tr"), scoreCol.cast("long").as("score"),
      outcomeCol.cast("double").as("outcome"))
    val ctl = base.filter(!col("__tr"))
      .groupBy(col("stratum"), col("score").as("ctl_score"))
      .agg(min_by(struct(col("id").as("ctl_id"),
        col("outcome").as("ctl_outcome")), col("id")).as("__c"))
      .select(col("stratum"), col("ctl_score"), col("__c.ctl_id").as("ctl_id"),
        col("__c.ctl_outcome").as("ctl_outcome"))
    val treated = base.filter(col("__tr")).drop("__tr")
    graft.operators.Ops.asofJoin(treated, ctl, "stratum",
        "score", "ctl_score", Seq("ctl_id", "ctl_outcome", "ctl_score"),
        direction = "nearest")
      .withColumn("ctl_id", col("__match.ctl_id"))
      .withColumn("ctl_outcome", col("__match.ctl_outcome"))
      .withColumn("ctl_score", col("__match.ctl_score"))
      .drop("__match")
      .filter(abs(col("score") - col("ctl_score")) <= caliper)
      .select(col("stratum"), col("id"), col("score"), col("outcome"),
        col("ctl_id"), col("ctl_score"), col("ctl_outcome"))
  }
  // ------------------------------------------------- ranking metrics @k
  /** Per-query precision@k / recall@k / hit@k of a ranked candidate list
    * against a truth relation — the IR-eval siblings of [[ndcg]]-style
    * metrics (macro-average the output for the headline number).
    * precision divides by k even when fewer candidates exist (the
    * standard padded-list convention, documented); recall divides by the
    * query's truth-set size; queries in `truth` with no candidates get a
    * zero row (via the truth-side outer join), so macro averages aren't
    * survivorship-biased. Exact integer counts, one IEEE division per
    * ratio, 6dp. Returns (query, n_truth, hits, precision_at_k,
    * recall_at_k, hit). */
  def rankingMetricsAtK(candidates: DataFrame, queryCol: String,
                        itemCol: String, rankCol: Column,
                        truth: DataFrame, truthQueryCol: String,
                        truthItemCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val cand = candidates.filter(rankCol <= k)
      .select(col(queryCol).as("query"), col(itemCol).as("__i"))
    val t = truth.select(col(truthQueryCol).as("query"),
      col(truthItemCol).as("__i")).distinct()
    val nT = t.groupBy("query").agg(count(lit(1)).as("n_truth"))
    val hits = cand.join(t, Seq("query", "__i"), "semi")
      .groupBy("query").agg(count(lit(1)).as("hits"))
    nT.join(hits, Seq("query"), "left")
      .select(col("query"), col("n_truth"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double") / k, 6)
          .as("precision_at_k"),
        round(coalesce(col("hits"), lit(0L)).cast("double") /
          col("n_truth").cast("double"), 6).as("recall_at_k"),
        (coalesce(col("hits"), lit(0L)) > 0).as("hit"))
  }
  // -------------------------------------------- generalization ladder
  /** k-anonymity generalization ladder (the Datafly-style audit): for
    * each level of a caller-supplied coarsening ladder (level 0 = the raw
    * quasi-identifier, each later level strictly coarser — e.g. zip5 →
    * zip3 → zip1 → '*'), report the group landscape and whether the
    * level satisfies k — the table a privacy review reads to pick the
    * minimal sufficient generalization. Exact integer counts off one
    * rollup per level (levels are a bounded ladder, not data). Returns
    * per level: (level, n_groups, min_group, rows_at_risk, satisfies_k).
    */
  def generalizationLadder(df: DataFrame, ladder: Seq[Seq[Column]],
                           k: Int): DataFrame = {
    require(ladder.nonEmpty, "ladder needs at least one level")
    require(k >= 2, s"k must be >= 2: $k")
    ladder.zipWithIndex.map { case (qi, lvl) =>
      df.groupBy(qi: _*).agg(count(lit(1)).as("__n"))
        .agg(lit(lvl).as("level"), count(lit(1)).as("n_groups"),
          min(col("__n")).as("min_group"),
          coalesce(sum(when(col("__n") < k, col("__n"))), lit(0L))
            .as("rows_at_risk"))
        .withColumn("satisfies_k", col("min_group") >= k)
    }.reduce(_ unionByName _)
  }
  // ---------------------------------------------- Theil decomposition
  /** Theil-T inequality index with its exact between/within
    * decomposition — [[whaleShare]]'s information-theoretic sibling, and
    * the one inequality measure that splits additively across groups:
    * T = Σ_g s_g·T_g + T_between, with s_g the group's value share,
    * T_g = (Σ_{i∈g} xᵢ·ln xᵢ)/X_g + ln(n_g/X_g) the within-group index,
    * and each group's between term s_g·ln(s_g·N/n_g).
    *
    * DETERMINISM: x·ln x terms round to DECIMAL(28,12) before the sums
    * (the PSI discipline); X and the group sums are DECIMAL(28,12)
    * exact; the finishing shapes are mirrored IEEE, 6dp. Rows with
    * x ≤ 0 are excluded (no ln — the standard Theil domain, documented).
    * One group rollup + one broadcast global row. Returns per group:
    * (group, n, total, share, theil_within, between_term); overall
    * T = Σ share·theil_within + Σ between_term (caller-summed). */
  def theilDecomposition(df: DataFrame, groupCol: String,
                         valueCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val x = valueCol.cast("double")
    val base = df.filter(x > 0)
      .select(col(groupCol).as("group"), x.as("__x"))
    val g = base.groupBy("group")
      .agg(count(lit(1)).as("n"),
        sum(col("__x").cast(DecimalType(28, 12))).as("__sg"),
        sum((col("__x") * log(col("__x"))).cast(DecimalType(28, 12)))
          .as("__sxl"))
    val tot = g.agg(sum(col("n")).as("__N"), sum(col("__sg")).as("__X"))
    val sgD = col("__sg").cast("double"); val xD = col("__X").cast("double")
    val nD = col("n").cast("double"); val bigN = col("__N").cast("double")
    g.crossJoin(broadcast(tot))
      .select(col("group"), col("n"),
        round(sgD, 6).as("total"),
        round(sgD / xD, 6).as("share"),
        round(col("__sxl").cast("double") / sgD + log(nD / sgD), 6)
          .as("theil_within"),
        round(sgD / xD * log(sgD / xD * bigN / nD), 6).as("between_term"))
  }

  // --------------------------------------------- multiple-testing correction
  /** Family-wise / FDR multiple-testing report over a family of
    * (id, p-value) tests: Bonferroni-adjusted p, Holm step-down rejection,
    * and Benjamini-Hochberg step-up rejection at level `alpha` — the gate
    * every metrics platform needs once it runs dozens of segment tests
    * per day (Holm 1979; Benjamini & Hochberg 1995).
    *
    * DETERMINISM: ranks come from a total order (p ASC, id ASC); all
    * three procedures are pure comparisons of the INPUT p-values against
    * exact-integer-derived thresholds — no new floating arithmetic enters
    * except p·m and rank·alpha/m, both fixed-shape IEEE identical in any
    * engine. Callers must supply deterministic p-values (round them at
    * the source — the engine-independence discipline).
    *
    * Holm rejects ranks 1..k where k is the first failure of
    * p_(i) ≤ alpha/(m−i+1) (a running conjunction = running max of the
    * failure flag); BH rejects ranks 1..k* where k* = max{i : p_(i) ≤
    * i·alpha/m} (a suffix max of the pass flag). Both windows run over
    * the m-row test relation — m is the FAMILY size (dozens), never the
    * data size; the heavy lifting happened upstream in the per-test
    * aggregates. Returns (idCol, p, rank, p_bonf, holm_reject, bh_reject). */
  def multipleTesting(df: DataFrame, idCol: String, pCol: Column,
                      alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1): $alpha")
    // a NULL p-value FAILS the job rather than silently leaving the
    // family: dropping a test shrinks m, which LOOSENS Bonferroni/Holm
    // thresholds for every other test — corrupt input must not make the
    // family look more significant (the fifoMatch negative-qty rule)
    val base = df.select(col(idCol),
      when(pCol.isNull, raise_error(org.apache.spark.sql.functions.concat(
          lit("multipleTesting: null p-value for id "), col(idCol).cast("string"),
          lit(" - a dropped test would loosen every other threshold"))))
        .otherwise(pCol.cast("double")).as("p"))
    val m = base.agg(count(lit(1)).as("__m"))
    val wRank = Window.orderBy(col("p").asc, col(idCol).asc)
    val wRun = wRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSuffix = wRank.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    base.crossJoin(broadcast(m))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("p_bonf",
        round(least(lit(1.0), col("p") * col("__m").cast("double")), 6))
      // Holm: fail at the FIRST i with p_(i) > alpha/(m-i+1); everything
      // from there on (running max of the failure flag) is not rejected
      .withColumn("holm_reject",
        max(when(col("p") > lit(alpha) /
          (col("__m") - col("rank") + lit(1L)).cast("double"), 1)
          .otherwise(0)).over(wRun) === 0)
      // BH: reject everything at or below the LARGEST passing rank — a
      // suffix max of the pass flag over the rank order
      .withColumn("bh_reject",
        max(when(col("p") <= col("rank").cast("double") * lit(alpha) /
          col("__m").cast("double"), 1).otherwise(0)).over(wSuffix) === 1)
      .select(col(idCol), round(col("p"), 6).as("p"), col("rank"),
        col("p_bonf"), col("holm_reject"), col("bh_reject"))
  }

  // ------------------------------------------------- raking (IPF) weights
  /** Iterative proportional fitting (raking) of a two-way contingency
    * relation to target row/column marginals — the survey-weighting and
    * panel-calibration workhorse (Deming & Stephan 1940). Starting from
    * the observed cell counts, `rounds` alternating scalings match row
    * then column totals; the round count is part of the CONTRACT (the
    * q156 lesson — oracles unroll the same rounds; IPF converges
    * geometrically, so small fixed rounds are the production shape too).
    *
    * DETERMINISM: cell weights round to DECIMAL(28,12) after EACH
    * scaling (fixed-shape IEEE ratio of two decimal-exact sums, then the
    * decimal grain) so every round's relation is engine-identical — no
    * drift can accumulate across rounds. Row/col targets are
    * caller-supplied exact doubles.
    *
    * Scale: the iterate is the (a, b) CELL relation — bounded by the two
    * category vocabularies, not the row count — and each scaling is one
    * key-partitioned window sum over it (a marginal's group is bounded by
    * the OTHER vocabulary), so the whole rake is ONE linear plan: two
    * broadcast target joins up front, then 2·rounds vocabulary-sized
    * exchanges. (r15 optimization, guide §7.2 "duplicated subtrees": the
    * previous rollup-and-join-back loop referenced w twice per scaling
    * through broadcast-only lineage — no exchange to reuse — so the
    * upstream cell derivation re-executed once per broadcast build,
    * 2^(2·rounds) serialized single-task jobs; measured on q365: 21 jobs,
    * 2.45 s warm for a 15-cell rake, vs 0.9 s as windows. The window form
    * is also exactly the oracle's own SQL shape.) Returns (a, b, n,
    * weight) after `rounds` rounds. Input must be pre-aggregated (one row
    * per cell). */
  def rake(cells: DataFrame, aCol: String, bCol: String, nCol: String,
           rowTargets: DataFrame, colTargets: DataFrame,
           rounds: Int = 3): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(rounds >= 1 && rounds <= 20, s"rounds in [1,20]: $rounds")
    val rt = rowTargets.select(col(aCol), col("target").as("__ra"))
    val ct = colTargets.select(col(bCol), col("target").as("__cb"))
    // target joins are LEFT + loud failure, never inner: an inner join
    // would silently DROP every cell whose category is missing from the
    // caller's target relation — the raked table would quietly lose mass.
    // The raise lives inside the per-round weight expression (not a
    // pre-checked column), so it still fires at the caller's action and
    // only for cells that actually scale.
    def requireTarget(c: String, key: String): Column =
      when(col(c).isNull, raise_error(
        org.apache.spark.sql.functions.concat(
          lit(s"rake: no target for $key value "),
          col(key).cast("string")))).otherwise(col(c))
    var w = cells
      .select(col(aCol), col(bCol), col(nCol).cast("long").as("n"))
      .withColumn("weight", col("n").cast("double").cast(DecimalType(28, 12)))
      .join(broadcast(rt), Seq(aCol), "left")
      .join(broadcast(ct), Seq(bCol), "left")
    val wa = Window.partitionBy(col(aCol))
    val wb = Window.partitionBy(col(bCol))
    for (_ <- 1 to rounds) {
      w = w.withColumn("weight",
        (col("weight").cast("double") * requireTarget("__ra", aCol) /
          sum(col("weight")).over(wa).cast("double"))
          .cast(DecimalType(28, 12)))
      w = w.withColumn("weight",
        (col("weight").cast("double") * requireTarget("__cb", bCol) /
          sum(col("weight")).over(wb).cast("double"))
          .cast(DecimalType(28, 12)))
    }
    w.select(col(aCol), col(bCol), col("n"),
      round(col("weight").cast("double"), 6).as("weight"))
  }

  // ------------------------------------------------------- one-way ANOVA
  /** One-way ANOVA F across the groups of `groupCol`: SSB = Σ s_g²/n_g −
    * S²/N, SSW = Σ ss_g − Σ s_g²/n_g, F = (SSB/(k−1))/(SSW/(N−k)) — the
    * k-group generalization of the t-test every metrics platform needs
    * before drilling into pairwise comparisons.
    *
    * DETERMINISM: per-group n/Σx/Σx² accumulate as DECIMAL(38, `scale`)
    * off ONE rollup; each s_g²/n_g term is fixed-shape IEEE rounded to
    * the same grain before the cross-group sums (PSI discipline); the F
    * finish is one fixed shape, 6dp. `scale` is part of the determinism
    * CONTRACT: DuckDB converts double→DECIMAL by a float multiply with
    * 10^scale, so choose scale with |x|·10^scale and x²·10^scale inside
    * 2^53 (default 12 suits unit-magnitude data, the PSI/ln regime);
    * money callers pass INTEGER CENTS with scale = 0, where the
    * conversion has no multiply at all and is exact at ANY magnitude
    * (the q375 lesson: o_totalprice² at scale 12 diverged engines by
    * float-multiply ULPs). Degenerate inputs (k < 2, N ≤ k, SSW ≤ 0)
    * report null F rather than a fake number. Scale: one group rollup +
    * one 1-row aggregate — group-count-sized, never row-sized. Returns
    * (n_groups, n, ss_between, ss_within, f_stat). */
  def oneWayAnova(df: DataFrame, groupCol: Column, valueCol: Column,
                  scale: Int = 12): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(scale >= 0 && scale <= 12, s"scale in [0,12]: $scale")
    val dt = DecimalType(38, scale)
    val x = valueCol.cast("double")
    val g = df.filter(x.isNotNull)
      .groupBy(groupCol.as("__g"))
      .agg(count(lit(1)).as("__n"),
        sum(x.cast(dt)).as("__s"),
        sum((x * x).cast(dt)).as("__ss"))
    // at scale 0 the s²/n term quantizes via floor, not the decimal
    // cast's half rounding: a ratio landing EXACTLY on .5 (doubles this
    // large have few fraction bits, so ties are common, ~2^-5 per term)
    // would round HALF_UP in Spark but half-even in DuckDB's cast —
    // floor is the same exact operation in both engines at any magnitude
    val ratio = col("__s").cast("double") * col("__s").cast("double") /
      col("__n").cast("double")
    val sgTerm = if (scale == 0) floor(ratio).cast(dt) else ratio.cast(dt)
    val a = g.agg(count(lit(1)).as("n_groups"), sum(col("__n")).as("n"),
      sum(col("__s")).as("__S"), sum(col("__ss")).as("__SS"),
      sum(sgTerm).as("__SG"))
    val nD = col("n").cast("double"); val kD = col("n_groups").cast("double")
    val ssb = col("__SG").cast("double") -
      col("__S").cast("double") * col("__S").cast("double") / nD
    val ssw = col("__SS").cast("double") - col("__SG").cast("double")
    a.select(col("n_groups"), col("n"),
      round(ssb, 6).as("ss_between"), round(ssw, 6).as("ss_within"),
      round(when(col("n_groups") > 1 && col("n") > col("n_groups") &&
        ssw > 0.0,
        (ssb / (kD - lit(1.0))) / (ssw / (nD - kD))), 6).as("f_stat"))
  }

  // -------------------------------------------------------- Kruskal-Wallis
  /** Kruskal-Wallis k-group rank test with the tie correction (Kruskal &
    * Wallis 1952) — [[mannWhitney]]'s k-group sibling and the
    * distribution-free ANOVA: H = [12/(N(N+1))]·Σ n_g(R̄_g − (N+1)/2)²,
    * divided by C = 1 − Σ(t³−t)/(N³−N) over tie groups.
    *
    * DETERMINISM AND SCALE — the mannWhitney discipline: ranks live on
    * the VALUE-VOCABULARY rollup, never the rows. Average rank of a tied
    * value = cum_before + (t+1)/2 is an exact dyadic rational; per-group
    * rank sums are DECIMAL(28,12)-exact Σ avgrank·c_{v,g}; the running
    * window is over distinct values (bucket continuous values first —
    * ENFORCED: above 10⁵ distinct values [[gateValueCells]] RAISES).
    * H's finish is fixed-shape IEEE, 6dp; degenerate families (k < 2,
    * all values tied → C = 0) report null. Returns
    * (n_groups, n, h_stat, h_adj). */
  def kruskalWallis(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val v = valueCol.cast("double")
    val cells = df.filter(v.isNotNull)
      .groupBy(v.as("__v"), groupCol.as("__g"))
      .agg(count(lit(1)).as("__c"))
    val rawVals = cells.groupBy("__v").agg(sum(col("__c")).as("__t"))
    val vals = gateValueCells(rawVals, "__t", "kruskalWallis")
      .withColumn("__cum",
        coalesce(sum(col("__t")).over(Window.orderBy(col("__v"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__ar",
        col("__cum").cast("double") +
          (col("__t") + lit(1L)).cast("double") / lit(2.0))
    val ranked = cells.join(vals.select(col("__v"), col("__t"), col("__ar")),
      Seq("__v"))
    val byG = ranked.groupBy("__g")
      .agg(sum(col("__c")).as("__ng"),
        sum((col("__ar") * col("__c").cast("double"))
          .cast(DecimalType(28, 12))).as("__rg"))
    // t³−t in DECIMAL(38,0): a tie group above ~2.1M rows overflows 2^63,
    // where non-ANSI Spark would wrap SILENTLY while the DuckDB oracle
    // errors loudly — decimal keeps both engines exact to t ≈ 10^12
    // (t³ < 10^38; the oracle accumulates the same term as HUGEINT)
    // the 1-row tie/total aggregate reads the UNGATED rollup (the
    // twoSampleCells rule — combinable at any cardinality; the rank
    // window path above stays gated)
    val ties = rawVals.agg(sum(col("__t").cast(DecimalType(38, 0)) * col("__t") *
        col("__t") - col("__t"))
      .as("__tsum"), sum(col("__t")).as("__N"))
    val nD = col("__N").cast("double")
    val term = ((col("__rg").cast("double") / col("__ng").cast("double") -
      (nD + lit(1.0)) / lit(2.0)) *
      (col("__rg").cast("double") / col("__ng").cast("double") -
        (nD + lit(1.0)) / lit(2.0)) *
      col("__ng").cast("double")).cast(DecimalType(28, 12))
    val a = byG.crossJoin(broadcast(ties))
      .agg(count(lit(1)).as("n_groups"), max(col("__N")).as("n"),
        max(col("__tsum")).as("__ts"), sum(term).as("__hsum"))
    val n2 = col("n").cast("double")
    val h = lit(12.0) / (n2 * (n2 + lit(1.0))) * col("__hsum").cast("double")
    val c = lit(1.0) - col("__ts").cast("double") /
      (n2 * n2 * n2 - n2)
    a.select(col("n_groups"), col("n"),
      round(when(col("n_groups") > 1, h), 6).as("h_stat"),
      round(when(col("n_groups") > 1 && c > 0.0, h / c), 6).as("h_adj"))
  }

  // ------------------------------------------- Brown-Forsythe (Levene) test
  /** Brown-Forsythe variance-homogeneity test: one-way ANOVA F on the
    * absolute deviations |x − median_g| from each group's MEDIAN (Brown &
    * Forsythe 1974 — the robust form of Levene's test; the gate before
    * trusting a pooled-variance t/F).
    *
    * The median is the lower-median DATA ELEMENT ((n+1) div 2-th smallest
    * — the repo's order-statistic discipline, byte-identical in any
    * engine), found with one per-group rank window; |x − med| is exact
    * IEEE subtraction; the F finish is [[oneWayAnova]] on those
    * deviations. Scale: the rank window partitions by group (the
    * documented hot-group shape); everything else is group-sized.
    * Returns (n_groups, n, ss_between, ss_within, f_stat). */
  def brownForsythe(df: DataFrame, groupCol: Column, valueCol: Column,
                    scale: Int = 12): DataFrame = {
    val x = valueCol.cast("double")
    val base = df.filter(x.isNotNull)
      .select(groupCol.as("__g"), x.as("__x"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__x"))
    val med = base
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("__g"))))
      // Column./ is ALWAYS double division — truncate back to the
      // (n+1) div 2 integer rank before comparing against row_number
      .filter(col("__rn") === ((col("__n") + lit(1L)) / lit(2L)).cast("long"))
      .select(col("__g"), col("__x").as("__med"))
    oneWayAnova(base.join(med, Seq("__g")),
      col("__g"), abs(col("__x") - col("__med")), scale)
  }

  // ------------------------------------------------------ partial correlation
  /** First-order partial correlation r_xy·z — the x↔y association with z
    * held fixed, the one-line confounder check before trusting a raw
    * correlation: r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)).
    *
    * Composes [[graft.operators.Ops.corrMatrix]]'s single decimal-moment
    * pass (all three pairwise r's from ONE aggregate); since the inputs
    * to the closed form are corrMatrix's already-6dp-ROUNDED r's, the
    * composition is engine-exact by construction. Degenerate inputs
    * (|r_xz| or |r_yz| = 1, or any null r) report null. Returns one row:
    * (r_xy, r_xz, r_yz, partial_corr). */
  def partialCorr(df: DataFrame, xCol: String, yCol: String,
                  zCol: String): DataFrame = {
    val m = graft.operators.Ops.corrMatrix(df, Seq(xCol, yCol, zCol))
    def pick(a: String, b: String) =
      max(when(col("col_x") === a && col("col_y") === b, col("corr")))
    val p = m.agg(pick(xCol, yCol).as("r_xy"), pick(xCol, zCol).as("r_xz"),
      pick(yCol, zCol).as("r_yz"))
    val den = sqrt((lit(1.0) - col("r_xz") * col("r_xz")) *
      (lit(1.0) - col("r_yz") * col("r_yz")))
    p.select(col("r_xy"), col("r_xz"), col("r_yz"),
      round(when(den > 0.0,
        (col("r_xy") - col("r_xz") * col("r_yz")) / den), 6)
        .as("partial_corr"))
  }

  // --------------------------------------------------------- Yuen trimmed t
  /** Yuen's trimmed-mean t-test (Yuen 1974) — the outlier-robust
    * two-sample comparison: per group trim k = ⌊γ·n⌋ from each tail,
    * compare TRIMMED means with WINSORIZED variances:
    * d_g = (n_g−1)·s²_{w,g} / (h_g(h_g−1)) with h = n − 2k,
    * t = (m_{t,1} − m_{t,2})/√(d₁+d₂), Welch-style dof.
    *
    * Order statistics are DATA ELEMENTS (the repo discipline): the
    * winsorizing bounds are the values at ranks k+1 and n−k from one
    * per-group rank window (the documented hot-group shape, as in
    * robustOutlierStats — order stats are inherently a per-group sort);
    * clamping and the trimmed/winsorized sums are DECIMAL(38,6)-exact
    * (unit-magnitude value contract, cf. the SCALE.md round-14
    * conversion bound); t and dof are fixed-shape IEEE, 6dp. Groups with
    * h ≤ 1 report null t/dof. Returns one row:
    * (n_a, n_b, h_a, h_b, mean_trim_a, mean_trim_b, t, dof). */
  def yuenTTest(df: DataFrame, groupACol: Column, valueCol: Column,
                trim: Double = 0.2): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(trim >= 0.0 && trim < 0.5, s"trim in [0, 0.5): $trim")
    val dt = DecimalType(38, 6)
    val base = df.select(groupACol.as("__a"), valueCol.cast("double").as("__x"))
      .filter(col("__x").isNotNull)
    val wRank = Window.partitionBy(col("__a")).orderBy(col("__x"))
    val wAll = Window.partitionBy(col("__a"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val prepared = base
      .withColumn("__rn", row_number().over(wRank).cast("long"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("__a"))))
      .withColumn("__k", floor(col("__n").cast("double") * lit(trim)))
      .withColumn("__h", col("__n") - lit(2L) * col("__k"))
      .withColumn("__lo", max(when(col("__rn") === col("__k") + 1,
        col("__x"))).over(wAll))
      .withColumn("__hi", max(when(col("__rn") === col("__n") - col("__k"),
        col("__x"))).over(wAll))
      .withColumn("__xw", greatest(col("__lo"), least(col("__hi"), col("__x"))))
    def side(a: Boolean, s: String) = {
      val f = if (a) col("__a") else !col("__a")
      val inTrim = f && col("__rn") > col("__k") &&
        col("__rn") <= col("__n") - col("__k")
      Seq(max(when(f, col("__n"))).as(s"n_$s"),
        max(when(f, col("__h"))).as(s"h_$s"),
        sum(when(inTrim, col("__x").cast(dt))).as(s"st_$s"),
        sum(when(f, col("__xw").cast(dt))).as(s"sw_$s"),
        sum(when(f, (col("__xw") * col("__xw")).cast(dt))).as(s"sww_$s"))
    }
    val aggs = side(a = true, "a") ++ side(a = false, "b")
    val m = prepared.agg(aggs.head, aggs.tail: _*)
    def stats(s: String): (Column, Column, Column) = {
      val n = col(s"n_$s").cast("double"); val h = col(s"h_$s").cast("double")
      val sw = col(s"sw_$s").cast("double")
      val sww = col(s"sww_$s").cast("double")
      val mt = col(s"st_$s").cast("double") / h
      val s2w = (n * sww - sw * sw) / (n * (n - lit(1.0)))
      val d = (n - lit(1.0)) * s2w / (h * (h - lit(1.0)))
      (mt, d, h)
    }
    val (mta, da, ha) = stats("a")
    val (mtb, db, hb) = stats("b")
    val ok = col("h_a") > 1 && col("h_b") > 1
    m.select(col("n_a"), col("n_b"), col("h_a"), col("h_b"),
      round(mta, 6).as("mean_trim_a"), round(mtb, 6).as("mean_trim_b"),
      round(when(ok, (mta - mtb) / sqrt(da + db)), 6).as("t"),
      round(when(ok, (da + db) * (da + db) /
        (da * da / (ha - lit(1.0)) + db * db / (hb - lit(1.0)))), 6)
        .as("dof"))
  }

  // --------------------------------------------------- Hosmer-Lemeshow test
  /** Hosmer-Lemeshow goodness-of-calibration test over score deciles
    * (Hosmer & Lemeshow 1980): rank units into `nBins` score groups
    * ([[equalCountTiles]] over the total order score DESC, id ASC — exact
    * ntile semantics without the global single-partition sort), then per
    * group χ² terms
    * (O₁−E₁)²/E₁ + (O₀−E₀)²/E₀ with E₁ = Σp. The calibration TEST next
    * to q236's calibration PLOT and q289's ECE — does the scorer's
    * probability mean what it says, decile by decile.
    *
    * DETERMINISM: O counts are exact integers; E₁ sums the caller's
    * scores as DECIMAL(28,12) (scores are probabilities — unit
    * magnitude, inside the conversion bound); each group's term is one
    * fixed-shape IEEE expression rounded to DECIMAL(28,12) before the
    * cross-group total (PSI discipline). Degenerate groups (E₁ ≤ 0 or
    * E₀ ≤ 0) contribute a NULL term and are excluded from the statistic
    * — surfaced per row, never silently zeroed. Null-score rows are
    * excluded (they carry no calibration claim); a NULL LABEL on a
    * scored row FAILS the job — counting it as a negative would bias
    * O/E silently (the multipleTesting rule). The unit-level input is
    * the caller's rollup. Returns one row per decile:
    * (decile, n, obs_pos, exp_pos, term, hl_stat) with hl_stat the
    * full-family total replicated per row. */
  def hosmerLemeshow(df: DataFrame, idCol: Column, scoreCol: Column,
                     labelCol: Column, nBins: Int = 10): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(nBins >= 2, s"nBins must be >= 2: $nBins")
    val ranked = equalCountTiles(
      df.select(idCol.as("__id"), scoreCol.cast("double").as("__p"),
          when(scoreCol.cast("double").isNotNull && labelCol.isNull,
            raise_error(concat(lit("hosmerLemeshow: null label for id "),
              idCol.cast("string"),
              lit(" - a null counted as negative would bias O/E silently"))))
            .otherwise(labelCol).as("__y"))
        .filter(col("__p").isNotNull),
      "__p", "__id", nBins, "decile")
    val g = ranked.groupBy("decile")
      .agg(count(lit(1)).as("n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("obs_pos"),
        sum(col("__p").cast(DecimalType(28, 12))).as("__e1"))
    val e1 = col("__e1").cast("double")
    val e0 = col("n").cast("double") - e1
    val o1 = col("obs_pos").cast("double")
    val o0 = (col("n") - col("obs_pos")).cast("double")
    val term = when(e1 > 0.0 && e0 > 0.0,
      ((o1 - e1) * (o1 - e1) / e1 + (o0 - e0) * (o0 - e0) / e0)
        .cast(DecimalType(28, 12)))
    val wAll = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    g.withColumn("__t", term)
      .select(col("decile"), col("n"), col("obs_pos"),
        round(e1, 6).as("exp_pos"),
        round(col("__t").cast("double"), 6).as("term"),
        round(sum(col("__t")).over(wAll).cast("double"), 6).as("hl_stat"))
  }

  // ------------------------------------------------------- decision stump
  /** Best single-split decision stump on one feature: the threshold t
    * maximizing the Gini-impurity gain of the partition x ≤ t vs x > t
    * against a boolean label — CART's inner loop as ONE relational pass,
    * and the first question of any feature audit ("how predictive is
    * this column at all?").
    *
    * Gini (not entropy) keeps every impurity a PURE RATIONAL of exact
    * integer counts — no ln, no libm exposure. Candidate thresholds are
    * the DISTINCT feature values (bucket continuous features first — the
    * rocAuc discipline: the rollup must be vocabulary-sized, and the
    * bucketing grain is part of the result's meaning; ENFORCED: above
    * 10⁵ distinct values [[gateValueCells]] RAISES); cumulative
    * left-counts come from one running window over that rollup; gain
    * rounds 6dp BEFORE the argmax election (threshold ASC tiebreak) so
    * the winner is engine-identical. The all-left split (t = max x) is
    * excluded. Returns ONE row:
    * (n, n_pos, threshold, gain, left_n, left_pos, right_n, right_pos);
    * when NO valid split exists (a single distinct feature value, or an
    * empty input) the one row reports the totals with null
    * threshold/gain/left/right — a loud degenerate, never zero rows. */
  def decisionStump(df: DataFrame, featureCol: Column,
                    labelCol: Column): DataFrame = {
    val x = featureCol.cast("double")
    val raw = df.filter(x.isNotNull)
      .groupBy(x.as("__x"))
      .agg(count(lit(1)).as("__n"),
        sum(when(labelCol, 1L).otherwise(0L)).as("__p"))
    val cells = gateValueCells(raw, "__n", "decisionStump")
    val wRun = Window.orderBy(col("__x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // totals come from a FULL-frame window over the same vocabulary-sized
    // rollup (no self-derived crossJoin — shared lineage makes its
    // attributes ambiguous), piggybacking on wRun's single sort
    val wAll = Window.orderBy(col("__x"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = cells
      .withColumn("left_n", sum(col("__n")).over(wRun))
      .withColumn("left_pos", sum(col("__p")).over(wRun))
      .withColumn("__N", sum(col("__n")).over(wAll))
      .withColumn("__P", sum(col("__p")).over(wAll))
      .filter(col("left_n") < col("__N")) // the all-left split is no split
    def gini(pos: Column, n: Column): Column = {
      val p = pos.cast("double") / n.cast("double")
      lit(1.0) - p * p - (lit(1.0) - p) * (lit(1.0) - p)
    }
    val nD = col("__N").cast("double")
    val rootG = gini(col("__P"), col("__N"))
    val weighted =
      col("left_n").cast("double") / nD * gini(col("left_pos"), col("left_n")) +
        (col("__N") - col("left_n")).cast("double") / nD *
          gini(col("__P") - col("left_pos"), col("__N") - col("left_n"))
    val scored = cum.select(col("__N").as("n"), col("__P").as("n_pos"),
      col("__x").as("threshold"), round(rootG - weighted, 6).as("gain"),
      col("left_n"), col("left_pos"),
      (col("__N") - col("left_n")).as("right_n"),
      (col("__P") - col("left_pos")).as("right_pos"))
    val elected = scored.withColumn("__r", row_number().over(
        Window.orderBy(col("gain").desc, col("threshold").asc)))
      .filter(col("__r") === 1).drop("__r")
    // the documented one-row contract survives the no-valid-split
    // degenerate: a totals row with null threshold/gain loses the
    // priority election to any real candidate (union + TakeOrdered(1)).
    // Totals read the UNGATED rollup (combinable at any cardinality —
    // the twoSampleCells rule; the window path above stays gated)
    val fallback = raw.agg(
        coalesce(sum(col("__n")), lit(0L)).as("n"),
        coalesce(sum(col("__p")), lit(0L)).as("n_pos"))
      .select(col("n"), col("n_pos"),
        lit(null).cast("double").as("threshold"),
        lit(null).cast("double").as("gain"),
        lit(null).cast("long").as("left_n"),
        lit(null).cast("long").as("left_pos"),
        lit(null).cast("long").as("right_n"),
        lit(null).cast("long").as("right_pos"))
    elected.withColumn("__pri", lit(1))
      .unionByName(fallback.withColumn("__pri", lit(2)))
      .orderBy("__pri").limit(1).drop("__pri")
  }

  // --------------------------------------------------------- McNemar test
  /** McNemar's paired-proportions test (McNemar 1947): over paired
    * booleans (before, after) per unit, only the DISCORDANT cells carry
    * information — χ² = (n01 − n10)²/(n01 + n10), plus the
    * continuity-corrected (|n01 − n10| − 1)²/(n01 + n10) — the
    * did-the-rollout-change-this-user gate.
    *
    * Exact integer counts off one aggregate; two fixed-shape IEEE
    * ratios, 6dp; no discordant pairs → null statistics. Returns one
    * row (n, n_01, n_10, chi2, chi2_corrected). */
  def mcnemar(df: DataFrame, beforeCol: Column, afterCol: Column): DataFrame = {
    val a = df.agg(count(lit(1)).as("n"),
      sum(when(beforeCol && !afterCol, 1L).otherwise(0L)).as("n_10"),
      sum(when(!beforeCol && afterCol, 1L).otherwise(0L)).as("n_01"))
    val b = col("n_01").cast("double"); val c = col("n_10").cast("double")
    a.select(col("n"), col("n_01"), col("n_10"),
      round(when(col("n_01") + col("n_10") > 0,
        (b - c) * (b - c) / (b + c)), 6).as("chi2"),
      round(when(col("n_01") + col("n_10") > 0,
        (abs(b - c) - lit(1.0)) * (abs(b - c) - lit(1.0)) / (b + c)), 6)
        .as("chi2_corrected"))
  }

  // ------------------------------------------- Mantel-Haenszel odds ratio
  /** Mantel-Haenszel pooled odds ratio across stratified 2×2 tables
    * (Mantel & Haenszel 1959): OR_MH = Σ(a_i·d_i/n_i) / Σ(b_i·c_i/n_i) —
    * the confounder-adjusted association estimate (Simpson's-paradox
    * insurance) every observational readout should report next to the
    * crude OR.
    *
    * DETERMINISM: cell counts are exact integers off ONE stratum rollup;
    * each a·d/n term is one IEEE division of exact longs rounded to
    * DECIMAL(28,12) before the sums; the final ratio is one fixed shape,
    * 6dp. A zero denominator reports null. Scale: stratum-count-sized
    * after one shuffle. Returns (n_strata, n, sum_ad, sum_bc, or_mh). */
  def mantelHaenszel(df: DataFrame, stratumCol: Column, exposedCol: Column,
                     outcomeCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val g = df.groupBy(stratumCol.as("__s"))
      .agg(count(lit(1)).as("__n"),
        sum(when(exposedCol && outcomeCol, 1L).otherwise(0L)).as("__a"),
        sum(when(exposedCol && !outcomeCol, 1L).otherwise(0L)).as("__b"),
        sum(when(!exposedCol && outcomeCol, 1L).otherwise(0L)).as("__c"),
        sum(when(!exposedCol && !outcomeCol, 1L).otherwise(0L)).as("__d"))
    val a = g.agg(count(lit(1)).as("n_strata"), sum(col("__n")).as("n"),
      sum(((col("__a") * col("__d")).cast("double") /
        col("__n").cast("double")).cast(DecimalType(28, 12))).as("__ad"),
      sum(((col("__b") * col("__c")).cast("double") /
        col("__n").cast("double")).cast(DecimalType(28, 12))).as("__bc"))
    a.select(col("n_strata"), col("n"),
      round(col("__ad").cast("double"), 6).as("sum_ad"),
      round(col("__bc").cast("double"), 6).as("sum_bc"),
      round(when(col("__bc") > 0,
        col("__ad").cast("double") / col("__bc").cast("double")), 6)
        .as("or_mh"))
  }

  // --------------------------------------------- Oaxaca-Blinder decomposition
  /** Two-group Oaxaca-Blinder gap decomposition with one regressor
    * (Oaxaca 1973; Blinder 1973): the mean-outcome gap ȳ_A − ȳ_B splits
    * into the part EXPLAINED by different x (β_B·(x̄_A − x̄_B), priced at
    * the reference group B's slope) and the UNEXPLAINED remainder
    * ((α_A − α_B) + x̄_A·(β_A − β_B)) — the classic wage-gap /
    * cohort-gap audit.
    *
    * DETERMINISM: per-group OLS closed forms off DECIMAL(28,12) moment
    * sums (the linearFit discipline — one pass, map-side combinable);
    * the decomposition is a handful of fixed-shape IEEE ops, 6dp. Groups
    * with zero x-variance yield null slopes (and null decomposition) —
    * never a divide-by-zero. ONE aggregate over the data; group count is
    * exactly two by construction. Returns one row:
    * (n_a, n_b, gap, explained, unexplained). */
  def oaxacaBlinder(df: DataFrame, groupACol: Column, xCol: Column,
                    yCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val base = df.select(groupACol.as("__a"),
        xCol.cast("double").as("__x"), yCol.cast("double").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    def d(c: Column) = c.cast(DecimalType(28, 12))
    def side(a: Boolean, suf: String) = {
      val f = if (a) col("__a") else !col("__a")
      Seq(sum(when(f, 1L).otherwise(0L)).as(s"n$suf"),
        sum(when(f, d(col("__x")))).as(s"sx$suf"),
        sum(when(f, d(col("__y")))).as(s"sy$suf"),
        sum(when(f, d(col("__x") * col("__x")))).as(s"sxx$suf"),
        sum(when(f, d(col("__x") * col("__y")))).as(s"sxy$suf"))
    }
    val aggs = side(a = true, "a") ++ side(a = false, "b")
    val m = base.agg(aggs.head, aggs.tail: _*)
    def stats(suf: String): (Column, Column, Column, Column) = {
      val n = col(s"n$suf").cast("double")
      val sx = col(s"sx$suf").cast("double")
      val sy = col(s"sy$suf").cast("double")
      val sxx = col(s"sxx$suf").cast("double")
      val sxy = col(s"sxy$suf").cast("double")
      val varxn = n * sxx - sx * sx
      val beta = when(varxn =!= 0.0, (n * sxy - sx * sy) / varxn)
      val xbar = sx / n
      val ybar = sy / n
      (xbar, ybar, beta, ybar - beta * xbar) // alpha
    }
    val (xa, ya, ba, aa) = stats("a")
    val (xb, yb, bb, ab) = stats("b")
    m.select(col("na").as("n_a"), col("nb").as("n_b"),
      round(ya - yb, 6).as("gap"),
      round(bb * (xa - xb), 6).as("explained"),
      round((aa - ab) + xa * (ba - bb), 6).as("unexplained"))
  }

  // --------------------------------------------- Cochran-Armitage trend test
  /** Cochran-Armitage test for a linear trend in proportions across
    * ordered groups (Cochran 1954; Armitage 1955) — the dose-response /
    * cohort-progression gate: with group score s_i, n_i trials and x_i
    * successes, T = Σ s_i·(x_i − n_i·p̄), Var(T) = p̄(1−p̄)·(Σ s_i²n_i −
    * (Σ s_i n_i)²/N), Z² = T²/Var.
    *
    * DETERMINISM: every Σ is an exact integer (scores and counts are
    * integers), so T and Var are each ONE fixed-shape IEEE expression of
    * exact BIGINT inputs; 6dp. Degenerate families (p̄ ∈ {0,1} or a
    * single score) report null z2. One group rollup + one 1-row
    * aggregate. Returns (n_groups, n, x, t_stat, var_t, z2). */
  def cochranArmitage(df: DataFrame, scoreCol: Column,
                      successCol: Column): DataFrame = {
    val g = df.select(scoreCol.cast("long").as("__s"),
        when(successCol, 1L).otherwise(0L).as("__x"))
      .filter(col("__s").isNotNull)
      .groupBy("__s")
      .agg(count(lit(1)).as("__n"), sum(col("__x")).as("__sx"))
    val a = g.agg(count(lit(1)).as("n_groups"),
      sum(col("__n")).as("n"), sum(col("__sx")).as("x"),
      sum(col("__s") * col("__sx")).as("__ssx"),
      sum(col("__s") * col("__n")).as("__ssn"),
      sum(col("__s") * col("__s") * col("__n")).as("__sssn"))
    val nD = col("n").cast("double"); val xD = col("x").cast("double")
    val pbar = xD / nD
    val t = col("__ssx").cast("double") - pbar * col("__ssn").cast("double")
    val v = pbar * (lit(1.0) - pbar) *
      (col("__sssn").cast("double") -
        col("__ssn").cast("double") * col("__ssn").cast("double") / nD)
    a.select(col("n_groups"), col("n"), col("x"),
      round(t, 6).as("t_stat"), round(v, 6).as("var_t"),
      round(when(v > 0, t * t / v), 6).as("z2"))
  }

  // ----------------------------------------------------------- Fleiss kappa
  /** Fleiss' kappa — multi-rater categorical agreement (Fleiss 1971),
    * [[cohen-kappa]]'s n-rater generalization: with n_ij ratings of item
    * i in category j and a FIXED n raters per item, per-item agreement
    * P_i = (Σ_j n_ij² − n)/(n(n−1)), chance agreement P̄_e = Σ_j p_j²
    * with p_j the category share. κ = (P̄ − P̄_e)/(1 − P̄_e).
    *
    * Input: one row per RATING (itemCol, catCol). Contract: every item
    * has the same rater count — items with a different count than the
    * family's maximum yield null kappa (surfaced via n_min/n_max, never
    * a silently wrong estimate). DETERMINISM: all counts exact integers
    * off an (item, cat) rollup; P_i terms are exact rationals summed in
    * DECIMAL(28,12); the finish is fixed-shape IEEE, 6dp. Scale: two
    * key-bounded rollups + one 1-row aggregate; the category relation is
    * vocabulary-sized. Returns (n_items, n_raters, p_bar, p_e, kappa). */
  def fleissKappa(df: DataFrame, itemCol: Column, catCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cells = df.select(itemCol.as("__i"), catCol.as("__c"))
      .groupBy("__i", "__c").agg(count(lit(1)).as("__n"))
    val items = cells.groupBy("__i")
      .agg(sum(col("__n")).as("__ni"), sum(col("__n") * col("__n")).as("__sq"))
    val cats = cells.groupBy("__c").agg(sum(col("__n")).as("__nj"))
    val itemAgg = items.agg(count(lit(1)).as("n_items"),
      min(col("__ni")).as("__nmin"), max(col("__ni")).as("__nmax"),
      sum(((col("__sq") - col("__ni")).cast("double") /
        (col("__ni") * (col("__ni") - lit(1L))).cast("double"))
        .cast(DecimalType(28, 12))).as("__pisum"),
      sum(col("__ni")).as("__ntot"))
    val catAgg = cats.agg(sum(
      (col("__nj") * col("__nj")).cast(DecimalType(38, 0))).as("__sqj"))
    val pbar = col("__pisum").cast("double") / col("n_items").cast("double")
    val pe = col("__sqj").cast("double") /
      (col("__ntot") * col("__ntot")).cast("double")
    itemAgg.crossJoin(broadcast(catAgg))
      .select(col("n_items"), col("__nmax").as("n_raters"),
        round(pbar, 6).as("p_bar"), round(pe, 6).as("p_e"),
        round(when(col("__nmin") === col("__nmax") && pe < 1.0,
          (pbar - pe) / (lit(1.0) - pe)), 6).as("kappa"))
  }

  // ------------------------------------------------- Kish design effect
  /** Kish effective sample size and design effect of a weight column per
    * group (Kish 1965): ESS = (Σw)²/Σw², deff = n·Σw²/(Σw)² — the
    * first question to ask of any weighted sample (raked panels, q365;
    * importance-sampled corpora): how much variance did the weights
    * cost? DETERMINISM: w and w² sum as DECIMAL(28,12) (order-free);
    * two fixed-shape IEEE ratios, 6dp. Non-positive and null weights are
    * excluded (and counted) — they are invalid survey weights. One
    * rollup. Returns (groupCols…, n, n_excluded, sum_w, ess, deff). */
  def kishDesignEffect(df: DataFrame, groupCols: Seq[String],
                       weightCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(groupCols.nonEmpty, "at least one group column")
    val gs = groupCols.map(col)
    val w = weightCol.cast("double")
    val ok = w.isNotNull && w > 0.0
    val a = df.groupBy(gs: _*)
      .agg(sum(when(ok, 1L).otherwise(0L)).as("n"),
        sum(when(!ok || w.isNull, 1L).otherwise(0L)).as("n_excluded"),
        sum(when(ok, w.cast(DecimalType(28, 12)))).as("__sw"),
        sum(when(ok, (w * w).cast(DecimalType(28, 12)))).as("__sww"))
    val swD = col("__sw").cast("double"); val swwD = col("__sww").cast("double")
    a.select(gs ++ Seq(col("n"), col("n_excluded"),
      round(swD, 6).as("sum_w"),
      round(when(col("n") > 0, swD * swD / swwD), 6).as("ess"),
      round(when(col("n") > 0,
        col("n").cast("double") * swwD / (swD * swD)), 6).as("deff")): _*)
  }

  // ------------------------------------- propensity-stratified ATE
  /** Subclassification (stratified) average-treatment-effect estimate:
    * rank units into `nStrata` score strata ([[equalCountTiles]] over the
    * total order score DESC, id ASC — exact ntile semantics without the
    * global single-partition sort), and take the treated-minus-control
    * outcome-mean difference within each stratum
    * (Rosenbaum & Rubin 1984's propensity subclassification with a
    * caller-supplied deterministic score — five strata removes ~90% of
    * the score-captured bias, the classic Cochran result).
    *
    * DETERMINISM: outcome means are exact DECIMAL(28,12) sums over exact
    * counts; each stratum's diff is fixed-shape IEEE rounded 6dp. Strata
    * missing a side contribute NULL diff — surfaced per row, never
    * silently zeroed. A NULL OUTCOME fails the job: sum() would skip it
    * while the n_treat/n_ctrl denominators count it, silently biasing
    * every mean (the multipleTesting rule).
    *
    * Scale: callers pass the per-unit rollup (users, accounts), never
    * raw events — the heavy aggregation happens upstream on the full
    * cluster; the tiling itself is broadcast-offset projection plus
    * segment-partitioned rescue windows at any N. Returns one row per
    * stratum:
    * (stratum, n, n_treat, n_ctrl, mean_treat, mean_ctrl, diff). */
  def stratifiedAte(df: DataFrame, idCol: Column, scoreCol: Column,
                    treatCol: Column, outcomeCol: Column,
                    nStrata: Int = 5): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(nStrata >= 2, s"nStrata must be >= 2: $nStrata")
    val ranked = equalCountTiles(
      df.select(idCol.as("__id"), scoreCol.as("__s"), treatCol.as("__t"),
        when(outcomeCol.cast("double").isNull,
          raise_error(concat(lit("stratifiedAte: null outcome for id "),
            idCol.cast("string"),
            lit(" - a skipped sum over a counted denominator biases the mean"))))
          .otherwise(outcomeCol.cast("double")).as("__y")),
      "__s", "__id", nStrata, "stratum")
    ranked.groupBy("stratum")
      .agg(count(lit(1)).as("n"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("n_treat"),
        sum(when(!col("__t"), 1L).otherwise(0L)).as("n_ctrl"),
        sum(when(col("__t"), col("__y").cast(DecimalType(28, 12)))).as("__st"),
        sum(when(!col("__t"), col("__y").cast(DecimalType(28, 12)))).as("__sc"))
      .select(col("stratum"), col("n"), col("n_treat"), col("n_ctrl"),
        round(when(col("n_treat") > 0, col("__st").cast("double") /
          col("n_treat").cast("double")), 6).as("mean_treat"),
        round(when(col("n_ctrl") > 0, col("__sc").cast("double") /
          col("n_ctrl").cast("double")), 6).as("mean_ctrl"),
        round(when(col("n_treat") > 0 && col("n_ctrl") > 0,
          col("__st").cast("double") / col("n_treat").cast("double") -
            col("__sc").cast("double") / col("n_ctrl").cast("double")), 6)
          .as("diff"))
  }

  // ----------------------------------------------------- Kendall's tau-b
  /** Kendall rank correlation τ-b with the tie correction (Kendall 1945)
    * — [[spearman]]'s concordance-based sibling, preferred when the
    * ordinal scales are coarse: τ-b = (C − D) / √((n₀−n₁)(n₀−n₂)) with
    * C/D the concordant/discordant pair masses and n₁/n₂ the x-tie /
    * y-tie pair masses.
    *
    * DETERMINISM AND SCALE — the rocAuc discipline taken to TWO axes:
    * everything computes on the (x, y) CELL rollup, never the rows, so
    * both vocabularies must be bounded (bucket continuous values first —
    * the grain is part of the result's meaning; ENFORCED: above 10⁵
    * (x, y) cells [[gateValueCells]] RAISES). C and D come from the
    * cell-PAIR relation — a broadcast inequality self-join of the
    * vocabulary-sized cell relation, O(V²) work INDEPENDENT of N (the
    * one documented nested-loop join here; it never touches row counts).
    * All pair masses are exact DECIMAL(38,0) products of exact counts;
    * τ-b is one fixed-shape IEEE closed form, 6dp. Returns one row:
    * (n, concordant, discordant, tau_b) — the pair masses as doubles
    * (exact below 2^53; both engines round-to-nearest above). */
  def kendallTau(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val raw = df.select(xCol.cast("double").as("__x"),
        yCol.cast("double").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .groupBy("__x", "__y").agg(count(lit(1)).as("__c"))
    // BOTH pair-join sides ride the gated relation: an unbounded cell
    // vocabulary would otherwise OOM the broadcast build before the
    // O(V²) comparisons even start (the qnScale discipline)
    val cells = gateValueCells(raw, "__c", "kendallTau")
    val a = cells.select(col("__x").as("xa"), col("__y").as("ya"),
      col("__c").as("ca"))
    val b = cells.select(col("__x").as("xb"), col("__y").as("yb"),
      col("__c").as("cb"))
    val pairs = a.join(broadcast(b),
      col("xa") < col("xb") ||
        (col("xa") === col("xb") && col("ya") < col("yb")))
    // cast BEFORE multiplying: two 3e9-row cells overflow a long product
    val mass = col("ca").cast(dt) * col("cb")
    val cd = pairs.agg(
      sum(when((col("xb") - col("xa")) * (col("yb") - col("ya")) > 0.0, mass)
        .otherwise(lit(0).cast(dt))).as("__conc"),
      sum(when((col("xb") - col("xa")) * (col("yb") - col("ya")) < 0.0, mass)
        .otherwise(lit(0).cast(dt))).as("__disc"))
    // tie masses accumulate DOUBLED (t·(t−1), always even) in DECIMAL and
    // halve once in double — decimal division would inflate the scale.
    // These 1-row aggregates read the UNGATED rollup (combinable at any
    // cardinality — the twoSampleCells rule; the pair join is gated)
    def tiePairs(c: String) = raw.groupBy(col(c)).agg(sum(col("__c")).as("__t"))
      .agg(sum(col("__t").cast(dt) * (col("__t") - 1L)).as("__p2"),
        sum(col("__t")).as("__n"))
    val tx = tiePairs("__x").select(col("__p2").as("__n1x2"), col("__n").as("n"))
    val ty = tiePairs("__y").select(col("__p2").as("__n2x2"))
    val m = cd.crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
    val n0 = (col("n").cast(dt) * (col("n") - 1L)).cast("double") / 2.0
    val den = sqrt((n0 - col("__n1x2").cast("double") / 2.0) *
      (n0 - col("__n2x2").cast("double") / 2.0))
    m.select(col("n"),
      col("__conc").cast("double").as("concordant"),
      col("__disc").cast("double").as("discordant"),
      round(when(den > 0.0,
        (col("__conc").cast("double") - col("__disc").cast("double")) / den), 6)
        .as("tau_b"))
  }

  // ------------------------------------------------- Jarque-Bera normality
  /** Jarque-Bera normality test (Jarque & Bera 1980): skewness g₁ and
    * excess kurtosis g₂ from central moments, JB = n/6·(g₁² + g₂²/4) —
    * the one-row "is this column even roughly normal" gate before any
    * z-based rule.
    *
    * DETERMINISM — the floor-quantized central-moment discipline
    * (SCALE.md conversion bound): pass 1 takes the DECIMAL-exact mean,
    * ROUNDED 6dp and broadcast back (engine-identical constant); pass 2
    * accumulates floor(d²·10⁶), floor(d³·10³), floor(d⁴) of d = v − μ̂
    * as DECIMAL(38,0) — each per-row value is an exactly-integral double
    * well below the 4e15 cast bound wherever |d| ≲ 10⁴, and floor is the
    * same exact operation in both engines (no .5-tie hazard), so the
    * quantization grain is PART OF THE STATISTIC's meaning. Contract:
    * n·max|d|⁴ < 2^63 (the decimal-aggregate read-back bound) — pre-scale
    * wider data. Finishes as fixed-shape IEEE, 6dp. Returns one row:
    * (n, mean, skewness, kurtosis_excess, jb). */
  def jarqueBera(df: DataFrame, valueCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val v = valueCol.cast("double")
    val base = df.select(v.as("__v")).filter(col("__v").isNotNull)
    val meanRow = base.agg(count(lit(1)).as("__n"),
      sum(col("__v").cast(DecimalType(38, 6))).as("__s"))
      .select(col("__n"),
        round(col("__s").cast("double") / col("__n").cast("double"), 6)
          .as("__mu"))
    val d = col("__v") - col("__mu")
    val m = base.crossJoin(broadcast(meanRow))
      .agg(max(col("__n")).as("n"), max(col("__mu")).as("mean"),
        sum(floor(d * d * lit(1e6)).cast(dt)).as("__m2"),
        sum(floor(d * d * d * lit(1e3)).cast(dt)).as("__m3"),
        sum(floor(d * d * d * d).cast(dt)).as("__m4"))
    val nD = col("n").cast("double")
    val m2 = col("__m2").cast("double") / lit(1e6) / nD
    val m3 = col("__m3").cast("double") / lit(1e3) / nD
    val m4 = col("__m4").cast("double") / nD
    val g1 = m3 / pow(m2, 1.5)
    val g2 = m4 / (m2 * m2) - lit(3.0)
    m.select(col("n"), col("mean"),
      round(when(m2 > 0.0, g1), 6).as("skewness"),
      round(when(m2 > 0.0, g2), 6).as("kurtosis_excess"),
      round(when(m2 > 0.0, nD / lit(6.0) * (g1 * g1 + g2 * g2 / lit(4.0))), 6)
        .as("jb"))
  }

  // ----------------------------------------------------- Cronbach's alpha
  /** Cronbach's α internal-consistency reliability (Cronbach 1951) over a
    * long-form (unit, item, value) relation: α = k/(k−1)·(1 − Σσ²ᵢ/σ²ₜ)
    * with σ²ᵢ the per-item sample variance and σ²ₜ the sample variance of
    * per-unit totals — the first question of any multi-item score
    * (quality rubrics, rater panels, composite metrics).
    *
    * CONTRACT: a COMPLETE design — every unit carries exactly the family's
    * k items. An incomplete unit FAILS the job loudly ([[completeDesign]]):
    * silently dropping or zero-filling it would bias both variance
    * terms. DETERMINISM: all moments are DECIMAL(38,6)-exact sums over
    * exact counts; the finish is fixed-shape IEEE, 6dp. Scale: one
    * unit-keyed rollup + one item-keyed rollup (item vocabulary bounded);
    * σ²ₜ = 0 or k < 2 reports null alpha. Returns one row:
    * (n_units, n_items, sum_item_var, total_var, alpha). */
  def cronbachAlpha(df: DataFrame, unitCol: Column, itemCol: Column,
                    valueCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 6)
    val v = valueCol.cast("double")
    val base = df.select(unitCol.as("__u"), itemCol.as("__i"), v.as("__v"))
    val k = base.agg(count_distinct(col("__i")).as("__k"))
    val items = base.groupBy("__i")
      .agg(count(lit(1)).as("__ni"),
        sum(col("__v").cast(dt)).as("__si"),
        sum((col("__v") * col("__v")).cast(dt)).as("__ssi"))
    val itemVar = items.agg(count(lit(1)).as("n_items"),
      sum(((col("__ssi").cast("double") -
        col("__si").cast("double") * col("__si").cast("double") /
          col("__ni").cast("double")) /
        (col("__ni") - lit(1L)).cast("double")).cast(DecimalType(28, 12)))
        .as("__siv"))
    val units = completeDesign(base, "__u", "__i", "cronbachAlpha",
      "bias both variance terms", condNoun = "items",
      carry = Some("__tot" -> sum(col("__v").cast(dt))))
    val totals = units.agg(count(lit(1)).as("n_units"),
      sum(col("__tot")).as("__st"),
      // square in DOUBLE then quantize: decimal x decimal rescales under
      // Spark's precision-loss rules where DuckDB widens — the double
      // square is exact for integer-ish totals and casts identically
      sum((col("__tot").cast("double") * col("__tot").cast("double"))
        .cast(DecimalType(38, 6))).as("__sst"))
    val m = totals.crossJoin(broadcast(itemVar)).crossJoin(broadcast(k))
    val nD = col("n_units").cast("double")
    val totVar = (col("__sst").cast("double") -
      col("__st").cast("double") * col("__st").cast("double") / nD) /
      (nD - lit(1.0))
    val kD = col("__k").cast("double")
    m.select(col("n_units"), col("__k").as("n_items"),
      round(col("__siv").cast("double"), 6).as("sum_item_var"),
      round(totVar, 6).as("total_var"),
      round(when(col("__k") >= 2 && col("n_units") >= 2 && totVar > 0.0,
        kD / (kD - lit(1.0)) *
          (lit(1.0) - col("__siv").cast("double") / totVar)), 6).as("alpha"))
  }

  // ------------------------------------------- intraclass correlation (1,1)
  /** One-way random-effects intraclass correlation ICC(1,1) (Shrout &
    * Fleiss 1979): MSB/MSW from the one-way ANOVA moments plus the
    * unbalanced-design group size k₀ = (N − Σn²ᵍ/N)/(a−1);
    * ICC = (MSB − MSW)/(MSB + (k₀−1)·MSW) — "how much of the variance is
    * BETWEEN groups", the agreement/clustering complement of [[oneWayAnova]]'s
    * F (which asks whether it is nonzero at all).
    *
    * DETERMINISM: the [[oneWayAnova]] discipline — per-group DECIMAL-exact
    * (n, Σv, Σv²), SSB/SSW as fixed-shape IEEE of decimal-exact terms,
    * 6dp. Scale: one group rollup + a 1-row aggregate. Degenerate families
    * (a < 2, N ≤ a, MSW ≤ 0 with MSB ≤ 0) report null icc. Returns one
    * row: (n_groups, n, ms_between, ms_within, k0, icc). */
  def icc(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 6)
    val v = valueCol.cast("double")
    val g = df.select(groupCol.as("__g"), v.as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy("__g")
      .agg(count(lit(1)).as("__ng"), sum(col("__v").cast(dt)).as("__sg"),
        sum((col("__v") * col("__v")).cast(dt)).as("__ssg"))
    val a = g.agg(count(lit(1)).as("n_groups"), sum(col("__ng")).as("n"),
      // n_g² in DECIMAL: a 10-digit group squares past 2^63 (kruskal rule)
      sum(col("__ng").cast(DecimalType(38, 0)) * col("__ng")).as("__sn2"),
      sum(col("__sg")).as("__st"), sum(col("__ssg")).as("__sst"),
      sum(((col("__sg").cast("double") * col("__sg").cast("double")) /
        col("__ng").cast("double")).cast(DecimalType(28, 12))).as("__sg2"))
    val nD = col("n").cast("double"); val aD = col("n_groups").cast("double")
    val ssb = col("__sg2").cast("double") -
      col("__st").cast("double") * col("__st").cast("double") / nD
    val ssw = col("__sst").cast("double") - col("__sg2").cast("double")
    val msb = ssb / (aD - lit(1.0))
    val msw = ssw / (nD - aD)
    val k0 = (nD - col("__sn2").cast("double") / nD) / (aD - lit(1.0))
    val ok = col("n_groups") > 1 && col("n") > col("n_groups")
    a.select(col("n_groups"), col("n"),
      round(when(ok, msb), 6).as("ms_between"),
      round(when(ok, msw), 6).as("ms_within"),
      round(when(ok, k0), 6).as("k0"),
      round(when(ok && (msb + (k0 - lit(1.0)) * msw) =!= 0.0,
        (msb - msw) / (msb + (k0 - lit(1.0)) * msw)), 6).as("icc"))
  }

  // --------------------------------------------------- Cohen's d / Hedges' g
  /** Two-group standardized effect size: Cohen's d on the pooled sample
    * SD, plus Hedges' g = d·(1 − 3/(4N−9)) (the small-sample bias
    * correction) — the "how big, not just how significant" companion to
    * the q121 Welch t.
    *
    * DETERMINISM: one conditional-moment aggregate (the Welch/Oaxaca
    * shape) with DECIMAL(38,6)-exact sums; pooled variance and both
    * ratios are fixed IEEE shapes, 6dp. Degenerate families (either side
    * n < 2, or zero pooled variance) report null d/g. Returns one row:
    * (n_a, n_b, mean_a, mean_b, pooled_sd, cohen_d, hedges_g). */
  def effectSize(df: DataFrame, groupACol: Column,
                 valueCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 6)
    val v = valueCol.cast("double")
    val base = df.select(groupACol.as("__a"), v.as("__v"))
      .filter(col("__v").isNotNull)
    def side(a: Boolean, s: String) = {
      val f = if (a) col("__a") else !col("__a")
      Seq(sum(when(f, 1L).otherwise(0L)).as(s"n_$s"),
        sum(when(f, col("__v").cast(dt))).as(s"__s$s"),
        sum(when(f, (col("__v") * col("__v")).cast(dt))).as(s"__ss$s"))
    }
    val aggs = side(a = true, "a") ++ side(a = false, "b")
    val m = base.agg(aggs.head, aggs.tail: _*)
    def stats(s: String): (Column, Column) = {
      val n = col(s"n_$s").cast("double")
      val sv = col(s"__s$s").cast("double")
      val ss = col(s"__ss$s").cast("double")
      (sv / n, ss - sv * sv / n) // mean, sum of squared deviations
    }
    val (ma, ssa) = stats("a"); val (mb, ssb) = stats("b")
    val nT = (col("n_a") + col("n_b")).cast("double")
    val sp = sqrt((ssa + ssb) / (nT - lit(2.0)))
    val d = (ma - mb) / sp
    val ok = col("n_a") > 1 && col("n_b") > 1 && sp > 0.0
    m.select(col("n_a"), col("n_b"),
      round(ma, 6).as("mean_a"), round(mb, 6).as("mean_b"),
      round(when(col("n_a") > 1 && col("n_b") > 1, sp), 6).as("pooled_sd"),
      round(when(ok, d), 6).as("cohen_d"),
      round(when(ok, d * (lit(1.0) - lit(3.0) /
        (lit(4.0) * nT - lit(9.0)))), 6).as("hedges_g"))
  }

  // ------------------------------------------------------ Bland-Altman
  /** Bland-Altman agreement of two paired measurements (Bland & Altman
    * 1986): bias = mean(x−y), limits of agreement = bias ± 1.96·SD(x−y)
    * (sample SD), plus the count of pairs OUTSIDE the limits — the
    * method-comparison standard next to q235/q369's categorical
    * agreement.
    *
    * DETERMINISM: diffs are exact IEEE subtractions summed as
    * DECIMAL(38,6); bias/SD/limits round 6dp; the outside count compares
    * against the ROUNDED limits (broadcast back — the quantileBuckets
    * two-pass shape), so the gate is engine-identical. Returns one row:
    * (n, bias, sd_diff, loa_lo, loa_hi, n_outside). */
  def blandAltman(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 6)
    val d = (xCol.cast("double") - yCol.cast("double")).as("__d")
    val base = df.select(d).filter(col("__d").isNotNull)
    val m = base.agg(count(lit(1)).as("n"),
      sum(col("__d").cast(dt)).as("__s"),
      sum((col("__d") * col("__d")).cast(dt)).as("__ss"))
    val nD = col("n").cast("double")
    val bias = col("__s").cast("double") / nD
    val sd = sqrt((col("__ss").cast("double") -
      col("__s").cast("double") * col("__s").cast("double") / nD) /
      (nD - lit(1.0)))
    val stats = m.select(col("n"), round(bias, 6).as("bias"),
      round(when(col("n") > 1, sd), 6).as("sd_diff"),
      round(when(col("n") > 1, bias - lit(1.96) * sd), 6).as("loa_lo"),
      round(when(col("n") > 1, bias + lit(1.96) * sd), 6).as("loa_hi"))
    base.crossJoin(broadcast(stats))
      .groupBy(col("n"), col("bias"), col("sd_diff"), col("loa_lo"),
        col("loa_hi"))
      .agg(sum(when(col("loa_lo").isNotNull &&
        (col("__d") < col("loa_lo") || col("__d") > col("loa_hi")), 1L)
        .otherwise(0L)).as("n_outside"))
  }

  // ----------------------------------------------------------- Gwet's AC1
  /** Gwet's AC1 chance-corrected agreement (Gwet 2008) — [[fleissKappa]]'s
    * paradox-resistant sibling: same observed agreement P̄a, but chance
    * agreement P̄e = Σ_j π_j(1−π_j)/(K−1) over category shares π_j, which
    * stays low under skewed prevalence where κ's Σπ² collapses the
    * denominator (the "high agreement, low kappa" paradox).
    *
    * Same contract and discipline as fleissKappa: one row per RATING,
    * equal rater count per item (violations yield null ac1, surfaced via
    * n_min/n_max semantics), exact integer counts, per-item terms as
    * exact rationals in DECIMAL(28,12), fixed IEEE finish, 6dp. Returns
    * one row: (n_items, n_raters, n_categories, p_a, p_e_ac1, ac1). */
  def gwetAC1(df: DataFrame, itemCol: Column, catCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cells = df.select(itemCol.as("__i"), catCol.as("__c"))
      .groupBy("__i", "__c").agg(count(lit(1)).as("__n"))
    val items = cells.groupBy("__i")
      .agg(sum(col("__n")).as("__ni"), sum(col("__n") * col("__n")).as("__sq"))
    val itemAgg = items.agg(count(lit(1)).as("n_items"),
      min(col("__ni")).as("__nmin"), max(col("__ni")).as("__nmax"),
      sum(((col("__sq") - col("__ni")).cast("double") /
        (col("__ni") * (col("__ni") - lit(1L))).cast("double"))
        .cast(DecimalType(28, 12))).as("__pisum"),
      sum(col("__ni")).as("__ntot"))
    val cats = cells.groupBy("__c").agg(sum(col("__n")).as("__nj"))
    val catAgg = cats.crossJoin(broadcast(
        cells.agg(sum(col("__n")).as("__tot"))))
      .select(((col("__nj").cast("double") / col("__tot").cast("double")) *
        (lit(1.0) - col("__nj").cast("double") / col("__tot").cast("double")))
        .cast(DecimalType(28, 12)).as("__pi"))
      .agg(count(lit(1)).as("n_categories"), sum(col("__pi")).as("__pisum2"))
    val pa = col("__pisum").cast("double") / col("n_items").cast("double")
    val pe = col("__pisum2").cast("double") /
      (col("n_categories") - lit(1L)).cast("double")
    itemAgg.crossJoin(broadcast(catAgg))
      .select(col("n_items"), col("__nmax").as("n_raters"),
        col("n_categories"),
        round(pa, 6).as("p_a"),
        round(when(col("n_categories") > 1, pe), 6).as("p_e_ac1"),
        round(when(col("__nmin") === col("__nmax") &&
          col("n_categories") > 1 && pe < 1.0,
          (pa - pe) / (lit(1.0) - pe)), 6).as("ac1"))
  }

  // ------------------------------------------------------ Pocock win ratio
  /** Win ratio (Pocock et al. 2012) between treatment and control over a
    * hierarchical composite: every T×C pair compares first on SURVIVAL
    * (the pair member who observably fails first loses: tᵢ < tⱼ ∧ eᵢ);
    * pairs the survival layer cannot order fall to the SECONDARY score
    * (higher wins). WR = wins/losses, ties reported — the
    * composite-endpoint standard that respects clinical priority where a
    * plain score comparison would not.
    *
    * DETERMINISM AND SCALE — the [[harrellC]] two-axis cell discipline:
    * both sides roll to (duration, event, score) cells (vocabularies
    * bounded — bucket first), the T×C pair join is a broadcast
    * inequality join over cells (O(V_T·V_C), N-independent), masses are
    * DECIMAL(38,0) products cast BEFORE multiplying, the ratio is one
    * IEEE shape 6dp. Returns one row:
    * (n_treat, n_ctrl, wins, losses, ties, win_ratio). */
  def winRatio(df: DataFrame, treatCol: Column, durationCol: Column,
               eventCol: Column, scoreCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val base = df.select(treatCol.as("__tr"),
        durationCol.cast("long").as("__t"), eventCol.as("__e"),
        scoreCol.cast("double").as("__s"))
      .filter(col("__t").isNotNull && col("__s").isNotNull)
    def cells(tr: Boolean, p: String) =
      base.filter(if (tr) col("__tr") else !col("__tr"))
        .groupBy(col("__t").as(s"t$p"), col("__e").as(s"e$p"),
          col("__s").as(s"s$p"))
        .agg(count(lit(1)).as(s"c$p"))
    val t = cells(tr = true, "a"); val c = cells(tr = false, "b")
    val ns = base.agg(
      sum(when(col("__tr"), 1L).otherwise(0L)).as("n_treat"),
      sum(when(!col("__tr"), 1L).otherwise(0L)).as("n_ctrl"))
    // survival layer: the CONTROL member failing first is a treatment WIN
    val tWin = (col("tb") < col("ta") && col("eb")) ||
      (col("tb") === col("ta") && col("eb") && !col("ea"))
    val tLoss = (col("ta") < col("tb") && col("ea")) ||
      (col("ta") === col("tb") && col("ea") && !col("eb"))
    val mass = col("ca").cast(dt) * col("cb")
    val zero = lit(0).cast(dt)
    val m = t.crossJoin(broadcast(c))
      .agg(
        sum(when(tWin || (!tLoss && col("sa") > col("sb")), mass)
          .otherwise(zero)).as("__w"),
        sum(when(tLoss || (!tWin && !tLoss && col("sa") < col("sb")), mass)
          .otherwise(zero)).as("__l"),
        sum(when(!tWin && !tLoss && col("sa") === col("sb"), mass)
          .otherwise(zero)).as("__ti"))
      .crossJoin(broadcast(ns))
    m.select(col("n_treat"), col("n_ctrl"),
      col("__w").cast("double").as("wins"),
      col("__l").cast("double").as("losses"),
      col("__ti").cast("double").as("ties"),
      round(when(col("__l") > 0,
        col("__w").cast("double") / col("__l").cast("double")), 6)
        .as("win_ratio"))
  }

  // --------------------------------------------------------- Cochran's Q
  /** Cochran's Q test (Cochran 1950) for k correlated PROPORTIONS — did
    * the same units succeed at the same rate across k binary conditions
    * (the within-subject sibling of the χ² independence test):
    * Q = (k−1)·[k·ΣC_j² − (ΣC_j)²] / [k·ΣR_i − ΣR_i²] with C_j the
    * condition totals and R_i the per-unit success counts; Q ~ χ²_{k−1}.
    *
    * CONTRACT: a COMPLETE design (every unit × every condition exactly
    * once); incomplete units FAIL the job ([[completeDesign]]).
    * DETERMINISM: every Σ is an exact integer accumulated in
    * DECIMAL(38,0) (squares of 10-digit totals pass 2^63); Q is one
    * fixed IEEE shape, 6dp; a zero denominator (all-constant rows)
    * reports null. Returns one row: (n_units, n_conditions, q_stat, dof). */
  def cochranQ(df: DataFrame, unitCol: Column, condCol: Column,
               successCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val base = df.select(unitCol.as("__u"), condCol.as("__c"),
      when(successCol, 1L).otherwise(0L).as("__x"))
    val rows = completeDesign(base, "__u", "__c", "cochranQ",
      "bias the row terms", carry = Some("__r" -> sum(col("__x"))))
    val rowAgg = rows.agg(count(lit(1)).as("n_units"),
      sum(col("__r")).as("__sr"),
      sum(col("__r").cast(dt) * col("__r")).as("__srr"))
    val colAgg = base.groupBy("__c").agg(sum(col("__x")).as("__cj"))
      .agg(count(lit(1)).as("n_conditions"),
        sum(col("__cj")).as("__sc"),
        sum(col("__cj").cast(dt) * col("__cj")).as("__scc"))
    val m = rowAgg.crossJoin(broadcast(colAgg))
    val kD = col("n_conditions").cast("double")
    val num = (kD - lit(1.0)) *
      (kD * col("__scc").cast("double") -
        col("__sc").cast("double") * col("__sc").cast("double"))
    val den = kD * col("__sr").cast("double") - col("__srr").cast("double")
    m.select(col("n_units"), col("n_conditions"),
      round(when(den > 0.0, num / den), 6).as("q_stat"),
      (col("n_conditions") - 1L).as("dof"))
  }

  // ---------------------------------------------------------- Friedman test
  /** Friedman rank test for k related samples — the nonparametric
    * repeated-measures ANOVA (Friedman 1937), in Conover's tie-safe form:
    * with r_ij the within-unit average rank,
    * T = (k−1)·Σ_j (R_j − n(k+1)/2)² / (Σ_ij r²_ij − nk(k+1)²/4),
    * which reduces to the classic χ²_F when no ties exist and handles
    * ties through the A₁ term directly.
    *
    * CONTRACT: complete design (incomplete units raise —
    * [[completeRows]]). DETERMINISM — INTEGER-EXACT end to end: average
    * ranks are carried DOUBLED ([[midRanks2]], exact dyadic rationals),
    * and the doubled form clears every /2 and /4:
    * T = (k−1)·Σ_j(SR2_j − n(k+1))² / (Σ r2² − nk(k+1)²) with all Σ in
    * DECIMAL(38,0) — ONE IEEE division at the end, 6dp. Scale: the rank
    * windows partition PER UNIT over ≤ k rows; condition relation is
    * k-bounded. All-constant rows (zero denominator) report null.
    * Returns one row: (n_units, n_conditions, chi2_f). */
  def friedman(df: DataFrame, unitCol: Column, condCol: Column,
               valueCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val base = df.select(unitCol.as("__u"), condCol.as("__c"),
      valueCol.cast("double").as("__v"))
    val ranked2 = midRanks2(base.groupBy("__u", "__v")
      .agg(count(lit(1)).as("__t")), Seq("__u"), "__v", "friedman",
      "__r2" -> col("__t"))
    val joined = completeRows(base, "__u", "__c", "friedman")
      .join(ranked2, Seq("__u", "__v"))
    val byCond = joined.groupBy("__c")
      .agg(sum(col("__r2").cast(dt)).as("__sr2"), count(lit(1)).as("__n"))
    val a1x4 = joined.agg(
      sum(col("__r2").cast(dt) * col("__r2")).as("__a1x4"))
    val nk = byCond.agg(count(lit(1)).as("n_conditions"),
      max(col("__n")).as("n_units"))
    val num = byCond.crossJoin(broadcast(nk))
      .select(((col("__sr2") - (col("n_units") * (col("n_conditions") + 1L))
        .cast(dt)) * (col("__sr2") -
        (col("n_units") * (col("n_conditions") + 1L)).cast(dt))).as("__d2"),
        col("n_conditions"), col("n_units"))
      .groupBy("n_conditions", "n_units")
      .agg(sum(col("__d2")).as("__num"))
    val m = num.crossJoin(broadcast(a1x4))
    val kL = col("n_conditions"); val nL = col("n_units")
    val den = col("__a1x4").cast("double") -
      (nL * kL * (kL + 1L) * (kL + 1L)).cast("double")
    m.select(col("n_units"), col("n_conditions"),
      round(when(den > 0.0,
        (kL - 1L).cast("double") * col("__num").cast("double") / den), 6)
        .as("chi2_f"))
  }

  // ------------------------------------------------------- Page trend test
  /** Page's L trend test (Page 1963) for ORDERED repeated measures — does
    * the response increase monotonically across the k ordered conditions
    * (the directional sibling of [[friedman]], which only asks "differ"):
    * L = Σ_j s_j·R_j over condition scores s_j = 1..k and within-unit
    * rank sums R_j; z = (L − nk(k+1)²/4)/√(nk²(k+1)²(k−1)/144).
    *
    * CONTRACT: complete design (incomplete units raise —
    * [[completeRows]]); `condScoreCol` carries the integer order 1..k; the
    * normal moments assume untied ranks (average ranks on ties keep L exact but
    * make z slightly conservative — documented, standard practice).
    * DETERMINISM: doubled dyadic ranks ([[midRanks2]]), every Σ
    * DECIMAL(38,0)-exact, L = L2/2 (a dyadic half — exact in IEEE), one
    * z shape 6dp. Returns one row: (n_units, n_conditions, l_stat, z). */
  def pageTrend(df: DataFrame, unitCol: Column, condScoreCol: Column,
                valueCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val base = df.select(unitCol.as("__u"), condScoreCol.cast("long").as("__c"),
      valueCol.cast("double").as("__v"))
    val ranked2 = midRanks2(base.groupBy("__u", "__v")
      .agg(count(lit(1)).as("__t")), Seq("__u"), "__v", "pageTrend",
      "__r2" -> col("__t"))
    val m = completeRows(base, "__u", "__c", "pageTrend")
      .join(ranked2, Seq("__u", "__v"))
      .agg(sum(col("__c").cast(dt) * col("__r2")).as("__l2"),
        count_distinct(col("__c")).as("n_conditions"),
        (count(lit(1)) / count_distinct(col("__c"))).cast("long")
          .as("n_units"))
    val kD = col("n_conditions").cast("double")
    val nD = col("n_units").cast("double")
    val l = col("__l2").cast("double") / lit(2.0)
    val e = nD * kD * (kD + lit(1.0)) * (kD + lit(1.0)) / lit(4.0)
    val v = nD * kD * kD * (kD + lit(1.0)) * (kD + lit(1.0)) *
      (kD - lit(1.0)) / lit(144.0)
    m.select(col("n_units"), col("n_conditions"),
      round(l, 6).as("l_stat"),
      round(when(v > 0.0, (l - e) / sqrt(v)), 6).as("z"))
  }

  // --------------------------------- CLES / rank-biserial (Mann-Whitney)
  /** Common-language effect size and rank-biserial correlation off the
    * Mann-Whitney U machinery: CLES = U/(n₁n₂) — the probability a
    * random group-1 value exceeds a random group-2 value (ties half) —
    * and r_rb = 2·CLES − 1. The EFFECT SIZE q329's z only tests.
    *
    * DETERMINISM AND SCALE — exactly [[mannWhitney]]'s discipline: U is
    * carried DOUBLED (2U = Σ n₁(2·below₂ + n₂), exact integers in
    * DECIMAL(38,0)) over the value-VOCABULARY rollup (bucket continuous
    * values first — ENFORCED: above 10⁵ distinct values [[gateValueCells]]
    * RAISES); CLES and r_rb are single IEEE divisions, 6dp.
    * Returns one row: (n1, n2, u, cles, rank_biserial). */
  def clesRankBiserial(df: DataFrame, valueCol: String,
                       sampleCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val perVal = gateValueCells(df
      .groupBy(col(valueCol).as("__v"))
      .agg(sum(when(sampleCol, 1L).otherwise(0L)).as("__n1"),
        sum(when(sampleCol, 0L).otherwise(1L)).as("__n2")),
      "__n1", "clesRankBiserial")
    val w = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val agg = perVal
      .withColumn("__below2", coalesce(sum(col("__n2")).over(w), lit(0L)))
      .agg(sum(col("__n1")).as("n1"), sum(col("__n2")).as("n2"),
        sum((col("__n1") * (lit(2L) * col("__below2") + col("__n2")))
          .cast(DecimalType(38, 0))).as("__u2"))
    val n1n2 = col("n1").cast("double") * col("n2").cast("double")
    val cles = col("__u2").cast("double") / lit(2.0) / n1n2
    agg.select(col("n1"), col("n2"),
      (col("__u2").cast("double") / lit(2.0)).as("u"),
      round(when(col("n1") > 0 && col("n2") > 0, cles), 6).as("cles"),
      round(when(col("n1") > 0 && col("n2") > 0,
        lit(2.0) * cles - lit(1.0)), 6).as("rank_biserial"))
  }

  // ------------------------------------------------ Cramér's V / Tschuprow
  /** Effect size of a two-way association: Cramér's V =
    * √(χ²/(n·(min(r,c)−1))) and Tschuprow's T = √(χ²/(n·√((r−1)(c−1))))
    * — the MAGNITUDE q111's χ² only tests (χ² grows with n; V/T do not).
    *
    * Same one-rollup plan as [[chiSquareIndependence]] (cells, marginals
    * off the cell relation, decimal-summed terms); fixed IEEE finishes,
    * 6dp. Degenerate tables (a single row or column) report null V/T.
    * Returns one row: (n, dof, chi2, cramers_v, tschuprow_t). */
  def cramersV(df: DataFrame, colA: String, colB: String): DataFrame = {
    val base = df.filter(col(colA).isNotNull && col(colB).isNotNull)
    val cells = base.groupBy(colA, colB).agg(count(lit(1)).as("__o"))
    val ra = cells.groupBy(colA).agg(sum(col("__o")).as("__ra"))
    val cb = cells.groupBy(colB).agg(sum(col("__o")).as("__cb"))
    val n = cells.agg(sum(col("__o")).as("__n"))
    val dofA = ra.agg(count(lit(1)).as("__da"))
    val dofB = cb.agg(count(lit(1)).as("__db"))
    val term = (col("__o").cast("double") * col("__o")) /
      ((col("__ra").cast("double") * col("__cb")) / col("__n").cast("double"))
    val m = cells.join(broadcast(ra), Seq(colA)).join(broadcast(cb), Seq(colB))
      .crossJoin(broadcast(n))
      .agg(sum(term.cast("decimal(38,6)")).cast("double").as("__sum"),
        first(col("__n")).as("n"))
      .crossJoin(broadcast(dofA)).crossJoin(broadcast(dofB))
    val chi2 = col("__sum") - col("n").cast("double")
    val nD = col("n").cast("double")
    val minDof = least(col("__da"), col("__db")) - lit(1L)
    val ok = col("__da") > 1 && col("__db") > 1 && chi2 >= 0.0
    m.select(col("n"),
      ((col("__da") - 1) * (col("__db") - 1)).as("dof"),
      round(chi2, 6).as("chi2"),
      round(when(ok, sqrt(chi2 / (nD * minDof.cast("double")))), 6)
        .as("cramers_v"),
      round(when(ok, sqrt(chi2 / (nD *
        sqrt(((col("__da") - 1L) * (col("__db") - 1L)).cast("double"))))), 6)
        .as("tschuprow_t"))
  }

  // --------------------------------------------- winsorized correlation
  /** Pearson correlation of PAIRWISE-WINSORIZED columns: each axis clips
    * into its own [pLo, pHi] quantile band before the moments — the
    * outlier-robust r that q91's raw correlation and q301's univariate
    * trims both miss (one heavy-tailed pair can fabricate or destroy a
    * raw r).
    *
    * DETERMINISM — the [[winsorize]] discipline per axis: bounds from
    * ONE exact-percentile aggregate, ROUNDED 4dp before the clamp
    * (broadcast back), so every clipped value is a data element or a
    * rounded bound; moments are DECIMAL(38,6)-exact sums of the clipped
    * pair (unit-magnitude contract — the conversion bound); r is one
    * fixed IEEE shape, 6dp. Returns one row: (n, lo_x, hi_x, lo_y,
    * hi_y, r). */
  def winsorizedCorr(df: DataFrame, xCol: Column, yCol: Column,
                     pLo: Double = 0.01, pHi: Double = 0.99,
                     roundScale: Int = 4): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(0.0 < pLo && pLo < pHi && pHi < 1.0)
    val dt = DecimalType(38, 6)
    val base = df.select(xCol.cast("double").as("__x"),
        yCol.cast("double").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val bounds = base.agg(
      expr(s"percentile(__x, array($pLo, $pHi))").as("__qx"),
      expr(s"percentile(__y, array($pLo, $pHi))").as("__qy"))
      .select(round(element_at(col("__qx"), 1), roundScale).as("lo_x"),
        round(element_at(col("__qx"), 2), roundScale).as("hi_x"),
        round(element_at(col("__qy"), 1), roundScale).as("lo_y"),
        round(element_at(col("__qy"), 2), roundScale).as("hi_y"))
    val cx = least(greatest(col("__x"), col("lo_x")), col("hi_x"))
    val cy = least(greatest(col("__y"), col("lo_y")), col("hi_y"))
    val m = base.crossJoin(broadcast(bounds))
      .select(col("lo_x"), col("hi_x"), col("lo_y"), col("hi_y"),
        cx.as("__cx"), cy.as("__cy"))
      .groupBy("lo_x", "hi_x", "lo_y", "hi_y")
      .agg(count(lit(1)).as("n"),
        sum(col("__cx").cast(dt)).as("__sx"),
        sum(col("__cy").cast(dt)).as("__sy"),
        sum((col("__cx") * col("__cy")).cast(dt)).as("__sxy"),
        sum((col("__cx") * col("__cx")).cast(dt)).as("__sxx"),
        sum((col("__cy") * col("__cy")).cast(dt)).as("__syy"))
    val nD = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val den = sqrt(nD * d("__sxx") - d("__sx") * d("__sx")) *
      sqrt(nD * d("__syy") - d("__sy") * d("__sy"))
    m.select(col("n"), col("lo_x"), col("hi_x"), col("lo_y"), col("hi_y"),
      round(when(den > 0.0,
        (nD * d("__sxy") - d("__sx") * d("__sy")) / den), 6).as("r"))
  }

  // ------------------------------------------------------------ Cohen's h
  /** Cohen's h effect size for two proportions:
    * h = 2·asin(√p₁) − 2·asin(√p₂) (the arcsine-stabilized difference) —
    * the MAGNITUDE companion to q334's two-proportion z, comparable
    * across baselines where a raw p₁−p₂ is not.
    *
    * DETERMINISM: exact trial/success counts off one conditional
    * aggregate; h is a fixed shape of two libm asin calls, 6dp. Zero
    * trials on either side reports null. Returns one row:
    * (n_a, x_a, n_b, x_b, p_a, p_b, h). */
  def cohensH(df: DataFrame, groupACol: Column,
              successCol: Column): DataFrame = {
    val m = df.agg(
      sum(when(groupACol, 1L).otherwise(0L)).as("n_a"),
      sum(when(groupACol && successCol, 1L).otherwise(0L)).as("x_a"),
      sum(when(!groupACol, 1L).otherwise(0L)).as("n_b"),
      sum(when(!groupACol && successCol, 1L).otherwise(0L)).as("x_b"))
    val pa = col("x_a").cast("double") / col("n_a").cast("double")
    val pb = col("x_b").cast("double") / col("n_b").cast("double")
    val ok = col("n_a") > 0 && col("n_b") > 0
    m.select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
      round(when(col("n_a") > 0, pa), 6).as("p_a"),
      round(when(col("n_b") > 0, pb), 6).as("p_b"),
      round(when(ok, lit(2.0) * asin(sqrt(pa)) -
        lit(2.0) * asin(sqrt(pb))), 6).as("h"))
  }

  // ------------------------------------------- odds ratio with Woolf CI
  /** 2×2 odds ratio with the Woolf logit interval: OR = ad/bc,
    * SE(ln OR) = √(1/a + 1/b + 1/c + 1/d), CI = exp(ln OR ± 1.96·SE) —
    * the uncertainty q334's point odds_ratio lacks. Zero cells take the
    * Haldane-Anscombe +½ correction on ALL four cells (deterministic,
    * surfaced via the corrected flag), the standard finite estimate.
    *
    * DETERMINISM: four exact counts off one aggregate; OR/SE/CI are
    * fixed IEEE shapes on (count + 0.5)-style doubles, 6dp. Returns one
    * row: (a, b, c, d, corrected, odds_ratio, ci_lo, ci_hi). */
  def orWoolfCi(df: DataFrame, exposedCol: Column,
                outcomeCol: Column): DataFrame = {
    val m = df.agg(
      sum(when(exposedCol && outcomeCol, 1L).otherwise(0L)).as("a"),
      sum(when(exposedCol && !outcomeCol, 1L).otherwise(0L)).as("b"),
      sum(when(!exposedCol && outcomeCol, 1L).otherwise(0L)).as("c"),
      sum(when(!exposedCol && !outcomeCol, 1L).otherwise(0L)).as("d"))
    val corrected = col("a") === 0 || col("b") === 0 ||
      col("c") === 0 || col("d") === 0
    def adj(c: Column): Column =
      when(corrected, c.cast("double") + lit(0.5)).otherwise(c.cast("double"))
    val (aD, bD, cD, dD) = (adj(col("a")), adj(col("b")), adj(col("c")),
      adj(col("d")))
    val or = (aD * dD) / (bD * cD)
    val se = sqrt(lit(1.0) / aD + lit(1.0) / bD + lit(1.0) / cD +
      lit(1.0) / dD)
    m.select(col("a"), col("b"), col("c"), col("d"),
      corrected.as("corrected"),
      round(or, 6).as("odds_ratio"),
      round(exp(log(or) - lit(1.96) * se), 6).as("ci_lo"),
      round(exp(log(or) + lit(1.96) * se), 6).as("ci_hi"))
  }

  // --------------------------------------------- Matthews correlation (MCC)
  /** Binary-classifier Matthews correlation + balanced accuracy:
    * MCC = (TP·TN − FP·FN)/√((TP+FP)(TP+FN)(TN+FP)(TN+FN)) — the
    * prevalence-robust single number q267's per-class P/R/F1 report
    * lacks (F1 ignores TN entirely; MCC is the φ coefficient of the
    * confusion matrix).
    *
    * DETERMINISM: four exact counts off ONE aggregate; the products run
    * in DECIMAL(38,0) (two 10-digit cells overflow a long product); MCC
    * and balanced accuracy are fixed IEEE shapes, 6dp. A degenerate
    * margin (any factor 0) reports null MCC. Returns one row:
    * (tp, fp, fn, tn, mcc, balanced_accuracy). */
  def mcc(df: DataFrame, labelCol: Column, predCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val m = df.agg(
      sum(when(labelCol && predCol, 1L).otherwise(0L)).as("tp"),
      sum(when(!labelCol && predCol, 1L).otherwise(0L)).as("fp"),
      sum(when(labelCol && !predCol, 1L).otherwise(0L)).as("fn"),
      sum(when(!labelCol && !predCol, 1L).otherwise(0L)).as("tn"))
    val num = (col("tp").cast(dt) * col("tn") -
      col("fp").cast(dt) * col("fn")).cast("double")
    val den = sqrt((col("tp") + col("fp")).cast(dt).cast("double") *
      (col("tp") + col("fn")).cast("double") *
      (col("tn") + col("fp")).cast("double") *
      (col("tn") + col("fn")).cast("double"))
    val tpr = col("tp").cast("double") / (col("tp") + col("fn")).cast("double")
    val tnr = col("tn").cast("double") / (col("tn") + col("fp")).cast("double")
    m.select(col("tp"), col("fp"), col("fn"), col("tn"),
      round(when(den > 0.0, num / den), 6).as("mcc"),
      round(when(col("tp") + col("fn") > 0 && col("tn") + col("fp") > 0,
        (tpr + tnr) / lit(2.0)), 6).as("balanced_accuracy"))
  }

  // ------------------------------------------------- Poisson rate ratio
  /** Two-group Poisson rate-ratio test: with event counts x and
    * exposures e (unit-time denominators), RR = (x_a/e_a)/(x_b/e_b) and
    * z = ln(RR)/√(1/x_a + 1/x_b) (the standard log-rate normal
    * approximation) — the incidence-comparison gate next to q334's
    * two-proportion z (which compares PROBABILITIES, not rates).
    *
    * DETERMINISM: counts are exact longs, exposures DECIMAL(38,6)-exact
    * sums; RR and z are fixed IEEE shapes, 6dp. Degenerate families
    * (zero events or zero exposure on either side) report null RR/z.
    * Returns one row: (x_a, exposure_a, x_b, exposure_b, rate_ratio, z). */
  def rateRatio(df: DataFrame, groupACol: Column, eventsCol: Column,
                exposureCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 6)
    val m = df.agg(
      sum(when(groupACol, eventsCol.cast("long")).otherwise(0L)).as("x_a"),
      sum(when(groupACol, exposureCol.cast("double").cast(dt))).as("__ea"),
      sum(when(!groupACol, eventsCol.cast("long")).otherwise(0L)).as("x_b"),
      sum(when(!groupACol, exposureCol.cast("double").cast(dt))).as("__eb"))
    val ea = col("__ea").cast("double"); val eb = col("__eb").cast("double")
    val xa = col("x_a").cast("double"); val xb = col("x_b").cast("double")
    val ok = col("x_a") > 0 && col("x_b") > 0 && ea > 0.0 && eb > 0.0
    val rr = (xa / ea) / (xb / eb)
    m.select(col("x_a"), round(ea, 6).as("exposure_a"),
      col("x_b"), round(eb, 6).as("exposure_b"),
      round(when(ok, rr), 6).as("rate_ratio"),
      round(when(ok, log(rr) / sqrt(lit(1.0) / xa + lit(1.0) / xb)), 6)
        .as("z"))
  }

  // --------------------------------------------- capture-recapture (Chapman)
  /** Chapman's capture-recapture population estimate (Chapman 1951) from
    * two observation lists: N̂ = (n_A+1)(n_B+1)/(m+1) − 1 with m the
    * overlap, and its SE √((n_A+1)(n_B+1)(n_A−m)(n_B−m)/((m+1)²(m+2)))
    * — the "how big is the corpus we have NOT crawled" estimator (two
    * independent crawls' overlap bounds the population; the exact-count
    * sibling of q262's KMV set-op ESTIMATES).
    *
    * Input: (id, inA: Boolean, inB: Boolean) — one row per DISTINCT id
    * (dedupe upstream; the fingerprint discipline). DETERMINISM: three
    * exact counts off one aggregate; products in DECIMAL(38,0); the
    * estimate and SE are fixed IEEE shapes, 6dp. Returns one row:
    * (n_a, n_b, n_both, n_hat, se). */
  def captureRecapture(df: DataFrame, inACol: Column,
                       inBCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val m = df.agg(
      sum(when(inACol, 1L).otherwise(0L)).as("n_a"),
      sum(when(inBCol, 1L).otherwise(0L)).as("n_b"),
      sum(when(inACol && inBCol, 1L).otherwise(0L)).as("n_both"))
    val prod = ((col("n_a") + 1L).cast(dt) * (col("n_b") + 1L)).cast("double")
    val m1 = (col("n_both") + 1L).cast("double")
    val nhat = prod / m1 - lit(1.0)
    val se = sqrt(prod *
      ((col("n_a") - col("n_both")).cast(dt) *
        (col("n_b") - col("n_both"))).cast("double") /
      (m1 * m1 * (col("n_both") + 2L).cast("double")))
    m.select(col("n_a"), col("n_b"), col("n_both"),
      round(nhat, 6).as("n_hat"), round(se, 6).as("se"))
  }

  // ------------------------------------------------ Harrell's C (survival)
  /** Harrell's concordance index (Harrell et al. 1982) — does a risk
    * score order survival correctly? Over (duration, event, score) units:
    * a pair is COMPARABLE when the earlier unit's event is observed
    * (tᵢ < tⱼ ∧ eᵢ, or tᵢ = tⱼ ∧ eᵢ ∧ ¬eⱼ); it is concordant when the
    * earlier-failing unit carries the HIGHER score, tied on equal scores.
    * C = (concordant + ties/2) / comparable.
    *
    * DETERMINISM AND SCALE — the [[kendallTau]] two-axis discipline:
    * everything computes on the (duration, event, score) CELL rollup
    * (both vocabularies bounded — bucket continuous scores first;
    * ENFORCED: above 10⁵ cells [[gateValueCells]] RAISES), pair
    * masses via the broadcast inequality self-join of the cell relation
    * (O(V²), N-independent), DECIMAL(38,0)-exact products, one IEEE
    * finish, 6dp. Returns one row:
    * (n, comparable, concordant, tied, c_index) — pair masses as doubles
    * (exact below 2^53). */
  def harrellC(df: DataFrame, durationCol: Column, eventCol: Column,
               scoreCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val raw = df.select(durationCol.cast("long").as("__t"),
        eventCol.as("__e"), scoreCol.cast("double").as("__s"))
      .filter(col("__t").isNotNull && col("__s").isNotNull)
      .groupBy("__t", "__e", "__s").agg(count(lit(1)).as("__c"))
    // both pair-join sides ride the gated relation (the kendallTau /
    // qnScale discipline); the 1-row total reads the ungated rollup
    val cells = gateValueCells(raw, "__c", "harrellC")
    val n = raw.agg(sum(col("__c")).as("n"))
    val a = cells.select(col("__t").as("ta"), col("__e").as("ea"),
      col("__s").as("sa"), col("__c").as("ca"))
    val b = cells.select(col("__t").as("tb"), col("__e").as("eb"),
      col("__s").as("sb"), col("__c").as("cb"))
    // orientation: a is the earlier-failing side
    val comparable = (col("ta") < col("tb") && col("ea")) ||
      (col("ta") === col("tb") && col("ea") && !col("eb"))
    // cast BEFORE multiplying: two 3e9-row cells overflow a long product
    val mass = col("ca").cast(dt) * col("cb")
    val zero = lit(0).cast(dt)
    val m = a.join(broadcast(b), comparable)
      .agg(sum(mass).as("__cmp"),
        sum(when(col("sa") > col("sb"), mass).otherwise(zero)).as("__conc"),
        sum(when(col("sa") === col("sb"), mass).otherwise(zero)).as("__tied"))
      .crossJoin(broadcast(n))
    m.select(col("n"),
      col("__cmp").cast("double").as("comparable"),
      col("__conc").cast("double").as("concordant"),
      col("__tied").cast("double").as("tied"),
      round(when(col("__cmp") > 0,
        (col("__conc").cast("double") +
          col("__tied").cast("double") / lit(2.0)) /
          col("__cmp").cast("double")), 6).as("c_index"))
  }

  // ------------------------------------------- Wilcoxon signed-rank test
  /** Wilcoxon signed-rank test (Wilcoxon 1945) for paired differences —
    * the nonparametric paired t-test: zeros drop, |d| ranks with average
    * ranks for ties, W⁺ = Σ ranks of positive d, and the tie-corrected
    * normal approximation
    * z = (W⁺ − n(n+1)/4) / √(n(n+1)(2n+1)/24 − Σ(t³−t)/48).
    *
    * DETERMINISM — INTEGER-EXACT: average ranks carry DOUBLED
    * ([[midRanks2]] off the |d| rollup), so
    * W2 = 2W⁺, the z numerator 2W2 − n(n+1), and the scaled variance
    * (2n(n+1)(2n+1) − Σ(t³−t))/3 are all exact DECIMAL(38,0) integers —
    * ONE sqrt and ONE division finish, 6dp. W⁺ itself is the exact
    * dyadic W2/2. CARDINALITY CONTRACT (the mannWhitney rule): the
    * cumulative window runs over DISTINCT |d| — bound continuous
    * differences by rounding first. All-zero input reports nulls.
    * Returns one row: (n_nonzero, w_plus, z). */
  def wilcoxonSignedRank(df: DataFrame, diffCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val d = df.select(diffCol.cast("double").as("__d"))
      .filter(col("__d").isNotNull && col("__d") =!= 0.0)
    val ranked = midRanks2(d.groupBy(abs(col("__d")).as("__a"))
      .agg(count(lit(1)).as("__t"),
        sum(when(col("__d") > 0, 1L).otherwise(0L)).as("__p")),
      Nil, "__a", "wilcoxonSignedRank", "__r2" -> col("__t"))
    val m = ranked.agg(sum(col("__t")).as("__n"),
      sum(col("__p").cast(dt) * col("__r2")).as("__w2"),
      sum(col("__t").cast(dt) * col("__t") * col("__t") - col("__t"))
        .as("__tt"))
    val n = col("__n").cast(dt)
    val num4 = col("__w2") * 2 - n * (col("__n") + 1L)
    val var16x3 = n * (col("__n") + 1L) * (col("__n") * 2L + 1L) * 2 -
      col("__tt")
    m.select(col("__n").as("n_nonzero"),
      (col("__w2").cast("double") / lit(2.0)).as("w_plus"),
      round(when(col("__n") > 0L && var16x3 > 0,
        num4.cast("double") / sqrt(var16x3.cast("double") / lit(3.0))), 6)
        .as("z"))
  }

  // ------------------------------------------- Kendall's W (concordance)
  /** Kendall's coefficient of concordance (Kendall & Babington Smith
    * 1939), tie-corrected — do m raters agree on the ranking of n items?
    * With R_j the rank sums over raters (average ranks within rater) and
    * T_i = Σ(t³−t) each rater's tie term:
    * W = [12·ΣR_j² − 3·m²·n·(n+1)²] / [m²·n·(n²−1) − m·ΣT_i];
    * W = χ²_F/(m(n−1)) ties it to [[friedman]].
    *
    * CONTRACT: complete design — every rater rates every item exactly
    * once (incomplete/duplicated raters RAISE — [[completeRows]]).
    * DETERMINISM: doubled dyadic ranks ([[midRanks2]]) make rank sums exact
    * (12ΣR² = 3ΣR2²), every Σ DECIMAL(38,0), ONE division, 6dp. Rank
    * windows partition per rater over ≤ n items; everything after is
    * rater/item-vocabulary-sized. All-tied raters (zero denominator)
    * report null. Returns one row: (n_raters, n_items, w). */
  def kendallW(df: DataFrame, raterCol: Column, itemCol: Column,
               valueCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val base = df.select(raterCol.as("__m"), itemCol.as("__i"),
      valueCol.cast("double").as("__v"))
    val vals = base.groupBy("__m", "__v").agg(count(lit(1)).as("__t"))
    val ranked2 = midRanks2(vals, Seq("__m"), "__v", "kendallW",
      "__r2" -> col("__t"))
    val joined = completeRows(base, "__m", "__i", "kendallW",
      unitNoun = "rater", condNoun = "items")
      .join(ranked2, Seq("__m", "__v"))
    val rankSums = joined.groupBy("__i")
      .agg(sum(col("__r2").cast(dt)).as("__sr2"))
    val tieTerm = vals.agg(coalesce(sum(col("__t").cast(dt) * col("__t") *
      col("__t") - col("__t")), lit(0).cast(dt)).as("__tt"))
    val nm = base.agg(count_distinct(col("__m")).as("n_raters"),
      count_distinct(col("__i")).as("n_items"))
    val agg = rankSums.agg(sum(col("__sr2") * col("__sr2")).as("__sq"))
      .crossJoin(broadcast(nm)).crossJoin(broadcast(tieTerm))
    val mD = col("n_raters").cast(dt)
    val nD = col("n_items").cast(dt)
    val num = (col("__sq") * 3 -
      mD * mD * nD * (col("n_items") + 1L) * (col("n_items") + 1L) * 3)
      .cast("double")
    val den = (mD * mD * nD * (nD * nD - 1) - mD * col("__tt"))
      .cast("double")
    agg.select(col("n_raters"), col("n_items"),
      round(when(den > 0.0, num / den), 6).as("w"))
  }

  // ------------------------------------------------- Mood's median test
  /** Mood's median test — do k groups share a common median? Counts per
    * group above / not-above the GLOBAL lower median feed the 2×k
    * χ² = Σo²/e − N (the chiSquareIndependence zero-cell identity);
    * χ² ~ χ²_{k−1}.
    *
    * SCALE: the global median is an order statistic over a value domain
    * that grows with the data, so it comes from [[distributedRank]]'s
    * running count over the per-value rollup (cell-partitioned — never a
    * keyless window, never one task); the group counts are one aggregate
    * against the broadcast median. DETERMINISM: the median is a DATA
    * ELEMENT (lower median: smallest v with cum ≥ ⌈N/2⌉), counts exact,
    * χ² one fixed IEEE shape 6dp. Degenerate (everything on one side)
    * reports null χ². Returns one row:
    * (n, n_groups, median, n_above, chi2, dof). */
  def moodMedianTest(df: DataFrame, groupCol: Column,
                     valueCol: Column): DataFrame = {
    val base = df.select(groupCol.as("__g"), valueCol.cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    val cells = base.groupBy("__v").agg(count(lit(1)).as("__c"))
    val ranked = distributedRank(cells, Seq.empty, "__v", desc = false,
      tieCols = Seq.empty, weightCol = Some("__c"), rnOut = "__mrn",
      cumOut = Some("__mcum"))
    val nTot = cells.agg(sum(col("__c")).as("__n"))
    val med = ranked.crossJoin(broadcast(nTot))
      .filter(col("__mcum") >= expr("(__n + 1) div 2"))
      .agg(min(col("__v")).as("__med"))
    val perGroup = base.crossJoin(broadcast(med))
      .groupBy("__g")
      .agg(sum(when(col("__v") > col("__med"), 1L).otherwise(0L)).as("__ab"),
        sum(when(col("__v") <= col("__med"), 1L).otherwise(0L)).as("__le"))
    val totals = perGroup.agg(count(lit(1)).as("n_groups"),
      sum(col("__ab")).as("__ta"), sum(col("__le")).as("__tl"))
    val chi = perGroup.crossJoin(broadcast(totals))
      .select(
        (col("__ab").cast("double") * col("__ab") /
          ((col("__ab") + col("__le")).cast("double") * col("__ta") /
            (col("__ta") + col("__tl")).cast("double")) +
          col("__le").cast("double") * col("__le") /
            ((col("__ab") + col("__le")).cast("double") * col("__tl") /
              (col("__ta") + col("__tl")).cast("double")))
          .cast(org.apache.spark.sql.types.DecimalType(38, 6)).as("__term"))
      .agg(sum(col("__term")).cast("double").as("__sum"))
    chi.crossJoin(broadcast(totals)).crossJoin(broadcast(med))
      .select((col("__ta") + col("__tl")).as("n"), col("n_groups"),
        col("__med").as("median"), col("__ta").as("n_above"),
        round(when(col("__ta") > 0 && col("__tl") > 0,
          col("__sum") - (col("__ta") + col("__tl")).cast("double")), 6)
          .as("chi2"),
        (col("n_groups") - 1L).as("dof"))
  }

  // --------------------------------------------------- Durbin-Watson
  /** Durbin–Watson statistic over the zero-filled daily count series:
    * DW = Σ(e_t − e_{t−1})² / Σe_t² with e the mean-deviations — the
    * lag-1 serial-correlation gate (DW ≈ 2(1−ρ̂); < 2 positive, > 2
    * negative autocorrelation), the residual-diagnostics companion to
    * [[EventAnalytics.autocorrDaily]].
    *
    * DETERMINISM — INTEGER-EXACT: the mean cancels in consecutive
    * differences, so the numerator is Σ(x_t − x_{t−1})² in raw counts;
    * the denominator scales by n to n·Σx² − S². Both are DECIMAL(38,0)
    * sums of integer products; DW = n·num/(n·Σx² − S²) is ONE division,
    * 6dp. Scale: the spine is calendar-bounded (the theilSen rule).
    * Constant series (zero variance) reports null. Returns one row:
    * (n_days, dw). */
  def durbinWatson(df: DataFrame, tsCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val daily = EventAnalytics.resampleDaily(df, tsCol)
    val w = Window.orderBy(col("day"))
    val diffs = daily
      .withColumn("__d", col("n") - lag(col("n"), 1).over(w))
    val m = diffs.agg(count(lit(1)).as("n_days"),
      sum(col("n").cast(dt)).as("__s"),
      sum(col("n").cast(dt) * col("n")).as("__ss"),
      sum(when(col("__d").isNotNull, col("__d").cast(dt) * col("__d"))
        .otherwise(lit(0).cast(dt))).as("__num"))
    val den = col("n_days").cast(dt) * col("__ss") - col("__s") * col("__s")
    m.select(col("n_days"),
      round(when(den > 0,
        (col("n_days").cast(dt) * col("__num")).cast("double") /
          den.cast("double")), 6).as("dw"))
  }

  // ------------------------------------------- inequality (Theil/Atkinson)
  /** Theil T and Atkinson(ε=1) inequality indices of a positive per-key
    * mass (the entropy-family companions to [[giniIndex]]'s rank form —
    * Theil decomposes by subgroup, Atkinson has the welfare reading):
    * T = Σ x·ln x / S − ln(S/n), A = 1 − n·exp(Σ ln x / n)/S over the
    * per-key positive totals x (non-positive keys drop — both indices
    * are undefined there; documented).
    *
    * DETERMINISM (the PSI/q399 rounded-ln discipline): each ln x rounds
    * to DECIMAL(18,12) at the source, so Σ x·ln x (exact (19,0)×(18,12)
    * products, precision 38) and Σ ln x are shuffle-order-independent
    * and engine-identical; the two closing libm calls (ln(S/n), exp)
    * are fixed IEEE shapes, 6dp. SCALE: one key rollup + one scalar
    * aggregate — no window, no sort. Returns one row:
    * (n, total, theil, atkinson). */
  def inequalityIndices(df: DataFrame, keyCol: Column,
                        valueCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val perKey = df.groupBy(keyCol.as("__k"))
      .agg(sum(valueCol.cast("long")).as("__x"))
      .filter(col("__x") > 0L)
    val lnx = log(col("__x").cast("double")).cast(DecimalType(18, 12))
    val m = perKey.agg(count(lit(1)).as("n"), sum(col("__x")).as("total"),
      sum(col("__x").cast(DecimalType(19, 0)) * lnx).as("__xlnx"),
      sum(lnx).as("__slnx"))
    val nD = col("n").cast("double")
    val sD = col("total").cast("double")
    val mu = sD / nD
    m.select(col("n"), col("total"),
      round(when(col("n") > 0L,
        col("__xlnx").cast("double") / sD - log(mu)), 6).as("theil"),
      round(when(col("n") > 0L,
        lit(1.0) - exp(col("__slnx").cast("double") / nD) / mu), 6)
        .as("atkinson"))
  }

  // ------------------------------------------------------ Cliff's delta
  /** Cliff's delta (Cliff 1993) between two samples — the ordinal effect
    * size P(X>Y) − P(X<Y) that [[mannWhitney]]'s z cannot convey (z
    * grows with n; δ ∈ [−1,1] does not): δ = (#wins − #losses)/(n₁·n₂)
    * counting pairs across the samples.
    *
    * DETERMINISM AND SCALE — the mannWhitney/rocAuc rollup: per-value
    * (n₁,n₂) counts, one running window over DISTINCT values (bound
    * continuous metrics by rounding — the cardinality contract, ENFORCED:
    * above 10⁵ distinct values [[gateValueCells]] RAISES), win and
    * loss masses as exact DECIMAL(38,0) Σ n₁(v)·n₂(<v) / Σ n₁(v)·n₂(>v)
    * cross-products, ONE division, 6dp. Either sample empty → null δ.
    * Returns one row: (n1, n2, wins, losses, delta) — pair masses as
    * doubles (exact below 2^53). */
  def cliffsDelta(df: DataFrame, valueCol: String,
                  sampleCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val perVal = gateValueCells(df.select(col(valueCol).as("__v"),
        when(sampleCol, 1L).otherwise(0L).as("__s"))
      .filter(col("__v").isNotNull)
      .groupBy("__v")
      .agg(sum(col("__s")).as("__n1"),
        sum(lit(1L) - col("__s")).as("__n2")),
      "__n1", "cliffsDelta")
    val wB = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val m = perVal
      .withColumn("__b2", coalesce(sum(col("__n2")).over(wB), lit(0L)))
      .agg(sum(col("__n1")).as("n1"), sum(col("__n2")).as("n2"),
        sum(col("__n1").cast(dt) * col("__b2")).as("__w"),
        sum(col("__n1").cast(dt) * col("__n2")).as("__ties"))
    val total = col("n1").cast(dt) * col("n2")
    val losses = total - col("__w") - col("__ties")
    m.select(col("n1"), col("n2"),
      col("__w").cast("double").as("wins"),
      losses.cast("double").as("losses"),
      round(when(col("n1") > 0L && col("n2") > 0L,
        (col("__w") - losses).cast("double") / total.cast("double")), 6)
        .as("delta"))
  }

  // ------------------------------------------- Jonckheere-Terpstra trend
  /** Jonckheere–Terpstra test for ORDERED alternatives (Jonckheere 1954)
    * — does the metric trend upward across k a-priori-ordered groups
    * (doses, severities, line numbers)? J = Σ_{i<j} U_ij, the sum of
    * Mann–Whitney counts over ordered group pairs (ties count half), and
    * z = (J − E)/σ with E = (N² − Σn_g²)/4 and the no-tie variance
    * σ² = [N²(2N+3) − Σn_g²(2n_g+3)]/72 (documented approximation — a
    * heavy-tie metric belongs in [[pageTrend]]'s rank form instead).
    *
    * DETERMINISM AND SCALE: group labels collect once (the IVF-centroid
    * bounded seam — doses are a vocabulary, required ≤ 64); per-value
    * counts PIVOT to k columns, so ONE cumulative window over DISTINCT
    * values (the cardinality contract, ENFORCED: above 10⁵ distinct
    * values [[gateValueCells]] RAISES) yields every below-count, and the
    * doubled 2J = Σ_v Σ_j n_j(v)·(2·Σ_{i<j}b_i(v) + Σ_{i<j}n_i(v)) is an
    * exact DECIMAL(38,0) row expression with k²-bounded terms. J is the
    * exact dyadic 2J/2; z is one fixed IEEE shape, 6dp. Returns one row:
    * (n, n_groups, j_stat, z). */
  def jonckheereTerpstra(df: DataFrame, groupCol: Column,
                         valueCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val base = df.select(groupCol.cast("long").as("__g"),
        valueCol.cast("double").as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull)
    val groups: Seq[Long] = base.select(col("__g")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    require(groups.size >= 2 && groups.size <= 64,
      s"ordered groups must be a small vocabulary in [2,64]: ${groups.size}")
    val k = groups.size
    val counts = groups.zipWithIndex.map { case (g, i) =>
      sum(when(col("__g") === g, 1L).otherwise(0L)).as(s"__n$i") }
    val cells = gateValueCells(
      base.groupBy("__v").agg(counts.head, counts.tail: _*),
      "__n0", "jonckheereTerpstra")
    val wB = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withB = (0 until k).foldLeft(cells) { (d, i) =>
      d.withColumn(s"__b$i", coalesce(sum(col(s"__n$i")).over(wB), lit(0L)))
    }
    val contrib = (1 until k).map { j =>
      val lowB = (0 until j).map(i => col(s"__b$i")).reduce(_ + _)
      val lowT = (0 until j).map(i => col(s"__n$i")).reduce(_ + _)
      col(s"__n$j").cast(dt) * (lowB * 2 + lowT)
    }.reduce(_ + _)
    val sizes = (0 until k).map(i => sum(col(s"__n$i")).as(s"__s$i"))
    val agg = withB.agg(sum(contrib).as("__j2"), sizes: _*)
    val nTot = (0 until k).map(i => col(s"__s$i")).reduce(_ + _)
    val sumSq = (0 until k).map(i =>
      col(s"__s$i").cast(dt) * col(s"__s$i")).reduce(_ + _)
    val sumVar = (0 until k).map(i => col(s"__s$i").cast(dt) *
      col(s"__s$i") * (col(s"__s$i") * 2 + 3)).reduce(_ + _)
    val e2 = (nTot.cast(dt) * nTot - sumSq).cast("double") / lit(2.0)
    val varD = (nTot.cast(dt) * nTot * (nTot * 2 + 3) - sumVar)
      .cast("double") / lit(72.0)
    agg.select(nTot.as("n"), lit(k).cast("long").as("n_groups"),
      (col("__j2").cast("double") / lit(2.0)).as("j_stat"),
      round(when(varD > 0.0,
        (col("__j2").cast("double") - e2) / (lit(2.0) * sqrt(varD))), 6)
        .as("z"))
  }

  // ------------------------------------- Cramér-von Mises two-sample
  /** Cramér–von Mises two-sample statistic between groups `a` and `b` —
    * the whole-distribution drift test that weights EVERY quantile where
    * [[ksTwoSample]] takes only the single worst gap:
    * T = n·m/N² · Σ_pooled (F_a(v) − F_b(v))², summed at every pooled
    * observation (per-value rollup × its count).
    *
    * DETERMINISM AND SCALE — the ksTwoSample shape: cumulative counts over
    * the gated two-sample value cells ([[twoSampleCells]]; bound
    * continuous metrics by rounding), the cross-multiplied integer form
    * (m·cumA − n·cumB)² summed ×count in
    * DECIMAL(38,0) (exact while n·m ≲ 3·10¹⁵ — sample beyond ~10⁷ a
    * side), ONE division n·m·N², 6dp. Returns one row: (n_a, n_b, t). */
  def cvmTwoSample(df: DataFrame, groupCol: String, valueCol: String,
                   a: String, b: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val (cells, totals) = twoSampleCells(
      df.filter(col(groupCol).isin(a, b) && col(valueCol).isNotNull),
      col(groupCol), col(valueCol), a, b, "cvmTwoSample")
    val wRun = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cells
      .withColumn("__fa", sum(col("__ca")).over(wRun))
      .withColumn("__fb", sum(col("__cb")).over(wRun))
    val term = (col("__ca") + col("__cb")).cast(dt) *
      (col("__fa").cast(dt) * col("n_b") -
        col("__fb").cast(dt) * col("n_a")) *
      (col("__fa").cast(dt) * col("n_b") -
        col("__fb").cast(dt) * col("n_a"))
    cum.crossJoin(broadcast(totals))
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        sum(term).as("__t"))
      .select(col("n_a"), col("n_b"),
        round(when(col("n_a") > 0L && col("n_b") > 0L,
          col("__t").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double") *
              (col("n_a") + col("n_b")).cast("double") *
              (col("n_a") + col("n_b")).cast("double"))), 6).as("t_stat"))
  }

  // ------------------------------------------------ Bartlett variance test
  /** Bartlett's test (Bartlett 1937) for homogeneity of variances across k
    * groups — the parametric sibling of [[brownForsythe]] (which stays the
    * robust default; Bartlett is the more powerful choice when normality
    * holds and the classical prerequisite for pooled-variance ANOVA):
    * T = [(N−k)·ln s_p² − Σ(n_g−1)·ln s_g²] / C with
    * s_p² = Σ(n_g−1)s_g²/(N−k) and the Bartlett correction
    * C = 1 + (Σ 1/(n_g−1) − 1/(N−k)) / (3(k−1)); T ~ χ²(k−1).
    *
    * DETERMINISM AND SCALE: one groupBy computes per-group decimal moment
    * sums (the q96 discipline — `valueCol` values carry fixed decimals, so
    * Σv and Σv² are order-independent exact), one tiny k-row agg finishes;
    * nothing shuffles more than once and no window exists at all. Groups
    * need n_g ≥ 2; a zero-variance group makes ln s_g² undefined → null
    * statistic (reported, never silently dropped).
    * Returns one row: (n_groups, n, df, t_stat 6dp). */
  def bartlettTest(df: DataFrame, groupCol: Column,
                   valueCol: Column): DataFrame = {
    val v = valueCol.cast("double")
    val g = df.select(groupCol.as("__g"), v.as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull)
      .groupBy("__g")
      .agg(count(lit(1)).as("__n"),
        sum(col("__v").cast("decimal(38,6)")).cast("double").as("__sv"),
        sum((col("__v") * col("__v")).cast("decimal(38,6)")).cast("double")
          .as("__pv"))
      .filter(col("__n") >= 2L)
    val nD = col("__n").cast("double")
    val s2 = (col("__pv") - col("__sv") * col("__sv") / nD) / (nD - 1.0)
    val agg = g.agg(count(lit(1)).as("n_groups"), sum(col("__n")).as("n"),
      sum((nD - 1.0) * log(s2)).as("__sln"),
      sum((nD - 1.0) * s2).as("__ssw"),
      sum(lit(1.0) / (nD - 1.0)).as("__sinv"),
      min(s2).as("__minv"))
    val k = col("n_groups").cast("double")
    val nmk = col("n").cast("double") - k
    val c = lit(1.0) + (col("__sinv") - lit(1.0) / nmk) /
      (lit(3.0) * (k - 1.0))
    agg.select(col("n_groups"), col("n"),
      (col("n_groups") - 1L).as("df"),
      round(when(col("n_groups") >= 2L && col("__minv") > 0.0,
        (nmk * log(col("__ssw").cast("double") / nmk) - col("__sln")) / c),
        6).as("t_stat"))
  }

  // ----------------------------------------------------- Grubbs outlier test
  /** Grubbs' test (Grubbs 1950) for a single outlier: G = max|x − x̄| / s —
    * "is the most extreme observation too extreme for a normal sample?"
    * Reports the offending value alongside the statistic so the caller can
    * route it to [[robustOutlierStats]] for the full MAD treatment.
    *
    * DETERMINISM AND SCALE: pass 1 is one decimal-moment agg (exact mean
    * and s as a fixed IEEE shape), pass 2 broadcasts the one-row moments
    * and takes max(|x − mean|) — order-independent — then the outlier
    * value is the MINIMUM x achieving that exact max (|x−mean| is the same
    * fixed IEEE shape on every engine, so the tie-set is identical and min
    * makes the pick deterministic). No window, no sort, two scans.
    * Returns one row: (n, mean 6dp, sd 6dp, g_stat 6dp, outlier_value). */
  def grubbsTest(df: DataFrame, valueCol: Column): DataFrame = {
    val base = df.select(valueCol.cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    val m = base.agg(count(lit(1)).as("n"),
      sum(col("__v").cast("decimal(38,6)")).cast("double").as("__sv"),
      sum((col("__v") * col("__v")).cast("decimal(38,6)")).cast("double")
        .as("__pv"))
    val nD = col("n").cast("double")
    val mean = col("__sv") / nD
    val sd = sqrt((col("__pv") - col("__sv") * col("__sv") / nD) /
      (nD - 1.0))
    val withM = base.crossJoin(broadcast(
      m.select(col("n"), mean.as("__mean"), sd.as("__sd"))))
    val gap = abs(col("__v") - col("__mean"))
    val top = withM
      .agg(first(col("n")).as("n"), first(col("__mean")).as("__m"),
        first(col("__sd")).as("__s"), max(gap).as("__gmax"))
    val pick = withM.crossJoin(broadcast(top.select(col("__gmax"))))
      .filter(gap === col("__gmax"))
      .agg(min(col("__v")).as("outlier_value"))
    top.crossJoin(broadcast(pick))
      .select(col("n"), round(col("__m"), 6).as("mean"),
        round(col("__s"), 6).as("sd"),
        round(when(col("n") >= 3L && col("__s") > 0.0,
          col("__gmax") / col("__s")), 6).as("g_stat"),
        col("outlier_value"))
  }

  // --------------------------------------------- ordinal association family
  /** Ordinal-by-ordinal association from concordant/discordant pair masses:
    * Goodman–Kruskal gamma (ignores all ties), Somers' D in both directions
    * (penalizes ties on the dependent only), and Stuart–Kendall tau-c (the
    * rectangular-table rate; [[kendallTau]] already serves tau-b):
    * γ = (C−D)/(C+D), D_yx = (C−D)/(C+D+T_y), D_xy = (C−D)/(C+D+T_x),
    * τ_c = 2m(C−D)/(N²(m−1)) with m = min(r, c).
    *
    * DETERMINISM AND SCALE — the [[kendallTau]] shape: one groupBy rolls
    * the table to (x, y, count) cells; the cell relation self-joins
    * broadcast on xa < xb (each unordered x-differing pair once) so C, D,
    * and the tied-on-y-only mass are DECIMAL(38,0)-exact cell products;
    * tie masses come from the marginals. The cell cardinality is the
    * caller's contract — both columns must be ordinal VOCABULARIES (the
    * [[kendallTau]] rule; the broadcast enforces it physically — an
    * unbounded column fails the build loudly, never silently spills to a
    * quadratic shuffle). Returns one row:
    * (n, r, c, conc, disc, gamma, somers_d_yx, somers_d_xy, tau_c) 6dp. */
  def ordinalAssociation(df: DataFrame, xCol: Column,
                         yCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val cells = df.select(xCol.cast("double").as("__x"),
        yCol.cast("double").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .groupBy("__x", "__y").agg(count(lit(1)).as("__c"))
    val a = cells.select(col("__x").as("xa"), col("__y").as("ya"),
      col("__c").as("ca"))
    val b = cells.select(col("__x").as("xb"), col("__y").as("yb"),
      col("__c").as("cb"))
    val mass = col("ca").cast(dt) * col("cb")
    val pairs = a.join(broadcast(b), col("xa") < col("xb"))
    val cd = pairs.agg(
      sum(when(col("yb") > col("ya"), mass).otherwise(lit(0).cast(dt)))
        .as("__conc"),
      sum(when(col("yb") < col("ya"), mass).otherwise(lit(0).cast(dt)))
        .as("__disc"),
      sum(when(col("yb") === col("ya"), mass).otherwise(lit(0).cast(dt)))
        .as("__tyOnly"))
    // pairs tied on x but differing on y: per-x marginal pair mass minus
    // the cell-internal mass, all doubled (t·(t−1)) then halved in double
    def tiedWithin(kc: String) = cells.groupBy(col(kc))
      .agg(sum(col("__c")).as("__t"))
      .agg(sum(col("__t").cast(dt) * (col("__t") - 1L)).as("__p2"),
        count(lit(1)).as("__card"))
    val txm = tiedWithin("__x").select(col("__p2").as("__txAll2"),
      col("__card").as("r"))
    val tym = tiedWithin("__y").select(col("__p2").as("__tyAll2"),
      col("__card").as("c"))
    val cellSelf = cells.agg(
      sum(col("__c").cast(dt) * (col("__c") - 1L)).as("__cell2"),
      sum(col("__c")).as("n"), count(lit(1)).as("__ncells"))
    val m = cd.crossJoin(broadcast(txm)).crossJoin(broadcast(tym))
      .crossJoin(broadcast(cellSelf))
    val conc = col("__conc").cast("double")
    val disc = col("__disc").cast("double")
    // x-tied y-differing pair mass = (Σ_x t(t−1) − Σ_cell c(c−1)) / 2
    val txOnly = (col("__txAll2") - col("__cell2")).cast("double") / 2.0
    val tyOnly = col("__tyOnly").cast("double")
    val nD = col("n").cast("double")
    val mMin = least(col("r"), col("c")).cast("double")
    m.select(col("n"), col("r"), col("c"),
      conc.as("conc"), disc.as("disc"),
      round(when(conc + disc > 0.0, (conc - disc) / (conc + disc)), 6)
        .as("gamma"),
      round(when(conc + disc + tyOnly > 0.0,
        (conc - disc) / (conc + disc + tyOnly)), 6).as("somers_d_yx"),
      round(when(conc + disc + txOnly > 0.0,
        (conc - disc) / (conc + disc + txOnly)), 6).as("somers_d_xy"),
      round(when(col("n") > 1L && mMin > 1.0,
        lit(2.0) * mMin * (conc - disc) / (nD * nD * (mMin - 1.0))), 6)
        .as("tau_c"))
  }

  // --------------------------------------------- Conover squared-ranks test
  /** Conover's squared-ranks test for equality of VARIANCES between two
    * samples (Conover 1980) — the rank-based dispersion complement to
    * [[brownForsythe]]'s ANOVA-on-deviations and [[mannWhitney]]'s location
    * test: u_i = |x_i − med_g| (deviations from each group's own
    * lower-median element), pooled midranks R_i of u, T = Σ_{i∈A} R_i²,
    * z = (T − n_A·S₂/N) / sqrt(n_A·n_B/(N(N−1)) · (S₄ − S₂²/N)) with
    * S₂ = ΣR², S₄ = ΣR⁴ over the pooled sample.
    *
    * DETERMINISM AND SCALE: the group median is a DATA ELEMENT (the
    * [[brownForsythe]] discipline — byte-identical); u = |x − med| is one
    * exact IEEE subtraction of the same doubles on every engine; midranks
    * come from the `twoSampleRankCells` scaffold — per-value counts + ONE
    * cumulative window over the DISTINCT deviation relation (the
    * [[ksTwoSample]] cardinality contract — u inherits `valueCol`'s
    * vocabulary, so bound continuous metrics by rounding first; ENFORCED:
    * above 10⁵ distinct deviations [[gateValueCells]] RAISES). Scores are
    * the quadrupled squared midranks (2R)² (exact DECIMAL(38,0) while
    * N ≲ 3·10⁷); the permutation-moment z comes from [[linearRankZ]] —
    * every power-of-two rescaling ((2R)², (2R)⁴ vs R², R⁴) commutes
    * exactly with IEEE rounding, so T, S₂, S₄, and z are bit-identical to
    * the un-factored form. Returns one row: (n_a, n_b, t_stat, z) 6dp. */
  def conoverSquaredRanks(df: DataFrame, groupCol: String, valueCol: String,
                          a: String, b: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val base = df.filter(col(groupCol).isin(a, b) &&
        col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
    // lower-median element per group ([[groupLowerMedian]] discipline)
    val med = groupLowerMedian(base, Seq("__g"), "__v", "__med")
    val dev = base.join(broadcast(med), "__g")
      .select(col("__g"), abs(col("__v") - col("__med")).as("__u"))
    val cells = twoSampleRankCells(dev, col("__g"), col("__u"), a, b)
    linearRankZ(cells, col("__r2").cast(dt) * col("__r2"))
      .select(col("n_a"), col("n_b"),
        round(col("__t").cast("double") / 4.0, 6).as("t_stat"),
        round(col("__z"), 6).as("z"))
  }

  // ------------------------------------------------- Fisher's exact test
  /** Fisher's exact test on the 2×2 table of two boolean conditions
    * (Fisher 1935): two-sided p = Σ over support of the hypergeometric
    * masses ≤ (1+1e−7)·mass(observed) — the standard relative-epsilon
    * convention — computed entirely from UNNORMALIZED log-weights, so no
    * factorial ever materializes: ln w(x+1) − ln w(x) =
    * ln((r1−x)(c1−x)) − ln((x+1)(N−r1−c1+x+1)).
    *
    * DETERMINISM AND SCALE: the margins are one exact agg; the support
    * x ∈ [max(0, r1+c1−N), min(r1, c1)] explodes from the one-row margins
    * and the log-weight recurrence accumulates in ONE ordered cumulative
    * window — sequential in both engines, so selection (with the 1e−7
    * margin dwarfing ~1e−12 accumulated ln noise) is engine-stable; the
    * final mass sums are max-shifted exps, 6dp. The support is the
    * documented bounded seam: a support wider than 2²⁰ raises loudly
    * (Fisher's test is for bounded tables — use chi-square beyond).
    * Returns one row: (n, r1, c1, a_obs, or_sample, p_two). */
  def fisherExact(df: DataFrame, rowCond: Column,
                  colCond: Column): DataFrame = {
    val m = df.agg(count(lit(1)).as("n"),
      sum(when(rowCond, 1L).otherwise(0L)).as("r1"),
      sum(when(colCond, 1L).otherwise(0L)).as("c1"),
      sum(when(rowCond && colCond, 1L).otherwise(0L)).as("a_obs"))
    val lo = greatest(lit(0L), col("r1") + col("c1") - col("n"))
    val hi = least(col("r1"), col("c1"))
    val margins = m.select(col("n"), col("r1"), col("c1"), col("a_obs"),
      when(hi - lo > (1L << 20),
        raise_error(concat(lit("fisherExact: support width "),
          (hi - lo).cast("string"),
          lit(" exceeds 2^20 - use chi-square for tables this large"))))
        .otherwise(lo).as("__lo"), hi.as("__hi"))
    val support = margins
      .select(col("n"), col("r1"), col("c1"), col("a_obs"),
        explode(sequence(col("__lo"), col("__hi"))).as("__x"))
    // term(x) carries the ratio w(x)/w(x−1); the cumulative sum anchors
    // ln w at the support's low end (= 0)
    val xm1 = col("__x") - 1L
    val term = when(col("__x") === greatest(lit(0L),
        col("r1") + col("c1") - col("n")), lit(0.0))
      .otherwise(log(((col("r1") - xm1) * (col("c1") - xm1)).cast("double"))
        - log((col("__x") *
          (col("n") - col("r1") - col("c1") + col("__x"))).cast("double")))
    val wCum = Window.orderBy(col("__x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lnw = support.withColumn("__lnw", sum(term).over(wCum))
    val anchor = lnw.filter(col("__x") === col("a_obs"))
      .select(col("__lnw").as("__lnobs"))
    val mx = lnw.agg(max(col("__lnw")).as("__mx"))
    val sums = lnw.crossJoin(broadcast(anchor)).crossJoin(broadcast(mx))
      .agg(first(col("n")).as("n"), first(col("r1")).as("r1"),
        first(col("c1")).as("c1"), first(col("a_obs")).as("a_obs"),
        sum(exp(col("__lnw") - col("__mx"))).as("__tot"),
        sum(when(col("__lnw") <= col("__lnobs") + lit(1e-7),
          exp(col("__lnw") - col("__mx"))).otherwise(0.0)).as("__sel"))
    val b = col("r1") - col("a_obs")
    val c = col("c1") - col("a_obs")
    val d = col("n") - col("r1") - col("c1") + col("a_obs")
    sums.select(col("n"), col("r1"), col("c1"), col("a_obs"),
      round(when(b * c > 0L,
        (col("a_obs") * d).cast("double") / (b * c).cast("double")), 6)
        .as("or_sample"),
      round(col("__sel") / col("__tot"), 6).as("p_two"))
  }

  // -------------------------------------------- Krippendorff's alpha
  /** Krippendorff's alpha for NOMINAL data (Krippendorff 1970/2004) from
    * the coincidence matrix: α = 1 − D_o/D_e with
    * D_o = (1/n)·Σ_u Σ_c n_uc(m_u − n_uc)/(m_u − 1) and
    * D_e = Σ_c n_c(n − n_c)/(n(n − 1)) over PAIRABLE ratings (units with
    * m_u ≥ 2) — the missing-tolerant generalization of [[fleissKappa]]
    * (which demands equal rater counts) and [[cohenKappa]] (exactly two).
    *
    * DETERMINISM AND SCALE: one (unit, category) rollup; the per-unit
    * rational disagreement terms round to DECIMAL(28,12) BEFORE summing
    * (the [[mantelHaenszel]] discipline — decimal addition is
    * order-independent where a float sum is not); the marginal term is
    * pure integer DECIMAL(38,0). No window anywhere. Returns one row:
    * (n_units, n_ratings, n_categories, d_o, d_e, alpha) 6dp. */
  def krippendorffAlpha(df: DataFrame, unitCol: Column,
                        catCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val cells = df.select(unitCol.as("__u"), catCol.as("__c"))
      .filter(col("__u").isNotNull && col("__c").isNotNull)
      .groupBy("__u", "__c").agg(count(lit(1)).as("__n"))
    val units = cells.groupBy("__u")
      .agg(sum(col("__n")).as("__mu"),
        sum(col("__n").cast(dt) * col("__n")).as("__sq"))
      .filter(col("__mu") >= 2L)
    val pairable = cells.join(units.select(col("__u"), col("__mu")), "__u")
    val uAgg = pairable
      .select(col("__u"), col("__mu"),
        ((col("__n") * (col("__mu") - col("__n"))).cast("double") /
          (col("__mu") - 1L).cast("double")).cast(DecimalType(28, 12))
          .as("__do"))
      .agg(count_distinct(col("__u")).as("n_units"),
        sum(col("__do")).as("__dosum"))
    val cats = pairable.groupBy("__c").agg(sum(col("__n")).as("__nc"))
    val cAgg = cats.agg(count(lit(1)).as("n_categories"),
      sum(col("__nc")).as("n_ratings"),
      sum(col("__nc").cast(dt) * col("__nc")).as("__sqc"))
    val j = uAgg.crossJoin(broadcast(cAgg))
    val nD = col("n_ratings").cast("double")
    val dObs = col("__dosum").cast("double") / nD
    val dExp = (nD * nD - col("__sqc").cast("double")) / (nD * (nD - 1.0))
    j.select(col("n_units"), col("n_ratings"), col("n_categories"),
      round(dObs, 6).as("d_o"), round(dExp, 6).as("d_e"),
      round(when(col("n_ratings") > 1L && dExp > 0.0,
        lit(1.0) - dObs / dExp), 6).as("alpha"))
  }

  // ------------------------------------------------ Breslow-Day test
  /** Breslow–Day test for homogeneity of the odds ratio across strata
    * (Breslow & Day 1980): under the [[mantelHaenszel]] common OR ψ, each
    * stratum's expected exposed-case count ã solves the quadratic
    * ã(d_s+ã−margins) balance ψ = ã·d̃/(b̃·c̃); X² = Σ (a_s − ã)²·
    * (1/ã + 1/b̃ + 1/c̃ + 1/d̃) on S−1 df — the "is one common OR even
    * the right summary" gate in front of the MH estimate.
    *
    * DETERMINISM AND SCALE: stratum 2×2 counts are one exact groupBy; ψ
    * reuses the MH DECIMAL(28,12) ratio sums (order-independent); each
    * stratum's root and variance are a fixed IEEE closed form on exact
    * integers + the shared ψ, summed over the BOUNDED stratum vocabulary,
    * 6dp. Strata where any expected cell hits 0 (or the discriminant
    * degenerates) contribute null → null statistic, loudly absent rather
    * than silently skewed. Returns one row: (n_strata, n, or_mh, x2, df).
    */
  def breslowDay(df: DataFrame, stratumCol: Column, exposedCol: Column,
                 outcomeCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val g = df.groupBy(stratumCol.as("__s"))
      .agg(count(lit(1)).as("__n"),
        sum(when(exposedCol && outcomeCol, 1L).otherwise(0L)).as("__a"),
        sum(when(exposedCol && !outcomeCol, 1L).otherwise(0L)).as("__b"),
        sum(when(!exposedCol && outcomeCol, 1L).otherwise(0L)).as("__c"),
        sum(when(!exposedCol && !outcomeCol, 1L).otherwise(0L)).as("__d"))
    val psiAgg = g.agg(
      sum(((col("__a") * col("__d")).cast("double") /
        col("__n").cast("double")).cast(DecimalType(28, 12))).as("__ad"),
      sum(((col("__b") * col("__c")).cast("double") /
        col("__n").cast("double")).cast(DecimalType(28, 12))).as("__bc"))
    val psi = when(col("__bc") > 0,
      col("__ad").cast("double") / col("__bc").cast("double")).as("__psi")
    val withPsi = g.crossJoin(broadcast(psiAgg.select(psi)))
    val r1 = (col("__a") + col("__b")).cast("double")
    val c1 = (col("__a") + col("__c")).cast("double")
    val nS = col("__n").cast("double")
    // (1−ψ)ã² + [(N−r1−c1) + ψ(r1+c1)]ã − ψ·r1·c1 = 0
    val qa = lit(1.0) - col("__psi")
    val qb = (nS - r1 - c1) + col("__psi") * (r1 + c1)
    val qc = -col("__psi") * r1 * c1
    val disc = qb * qb - lit(4.0) * qa * qc
    val root1 = (-qb + sqrt(disc)) / (lit(2.0) * qa)
    val root2 = (-qb - sqrt(disc)) / (lit(2.0) * qa)
    val loB = greatest(lit(0.0), r1 + c1 - nS)
    val hiB = least(r1, c1)
    def inRange(r: Column) = r > loB && r < hiB
    val aTilde = when(abs(qa) < lit(1e-12), -qc / qb)
      .when(disc >= 0.0 && inRange(root1), root1)
      .when(disc >= 0.0 && inRange(root2), root2)
    val bT = r1 - aTilde
    val cT = c1 - aTilde
    val dT = nS - r1 - c1 + aTilde
    val vInv = lit(1.0) / aTilde + lit(1.0) / bT + lit(1.0) / cT +
      lit(1.0) / dT
    val contrib = when(aTilde.isNotNull && aTilde > 0.0 && bT > 0.0 &&
      cT > 0.0 && dT > 0.0,
      (col("__a").cast("double") - aTilde) *
        (col("__a").cast("double") - aTilde) * vInv)
    withPsi.agg(count(lit(1)).as("n_strata"), sum(col("__n")).as("n"),
        first(col("__psi")).as("__p"),
        sum(contrib).as("__x2"),
        sum(when(contrib.isNull, 1L).otherwise(0L)).as("__bad"))
      .select(col("n_strata"), col("n"),
        round(col("__p"), 6).as("or_mh"),
        round(when(col("__bad") === 0L, col("__x2")), 6).as("x2"),
        (col("n_strata") - 1L).as("df"))
  }

  // ----------------------------------------------------------- Quade test
  /** Quade test for k related samples (Quade 1979) — [[friedman]]'s
    * range-weighted sibling (more powerful at small k when effect size
    * scales with the unit's spread): within-unit midranks R_ij weight by
    * the midrank Q_i of each unit's RANGE across units,
    * S_ij = Q_i·(R_ij − (k+1)/2); F = (b−1)·B/(A−B) with B = ΣS_j²/b,
    * A = ΣS_ij² (F ~ F(k−1, (b−1)(k−1))). Incomplete or duplicated
    * designs RAISE ([[completeRows]]).
    *
    * DETERMINISM AND SCALE: doubled midranks ([[midRanks2]]) — r2 within
    * each unit (k-bounded), q2 of each unit's range over the DISTINCT
    * range relation (a keyless window — ranges of integer-valued metrics
    * stay a vocabulary); 4S = q2·(r2−k−1) is an
    * exact integer, so A·16, (4S_j)², and the final F reduce to ONE IEEE
    * division of DECIMAL(38,0)-exact sums. Returns one row:
    * (n_units, n_conditions, f_stat 6dp). */
  def quadeTest(df: DataFrame, unitCol: Column, condCol: Column,
                valueCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val base = df.select(unitCol.as("__u"), condCol.as("__c"),
      valueCol.cast("double").as("__v"))
    val k = base.agg(count_distinct(col("__c")).as("__k"))
    val ranked2 = midRanks2(base.groupBy("__u", "__v")
      .agg(count(lit(1)).as("__t")), Seq("__u"), "__v", "quadeTest",
      "__r2" -> col("__t"))
    // the range midranks rank a per-range-value rollup, never a unit-grain
    // global window
    val ranges = base.groupBy("__u")
      .agg((max(col("__v")) - min(col("__v"))).as("__rng"))
    val q2ByRng = midRanks2(
      ranges.groupBy("__rng").agg(count(lit(1)).as("__t")), Nil, "__rng",
      "quadeTest", "__q2" -> col("__t"))
    val withQ = ranges.join(q2ByRng, "__rng").select(col("__u"), col("__q2"))
    val joined = completeRows(base, "__u", "__c", "quadeTest")
      .join(ranked2, Seq("__u", "__v"))
      .join(withQ, Seq("__u"))
      .crossJoin(broadcast(k))
      // 4·S_ij = q2·(r2 − (k+1)) exactly
      .select(col("__c"),
        (col("__q2").cast(dt) * (col("__r2") - col("__k") - 1L)).as("__s4"))
    val byCond = joined.groupBy("__c")
      .agg(sum(col("__s4")).as("__sj4"), count(lit(1)).as("__n"))
    val a16 = joined.agg(sum(col("__s4") * col("__s4")).as("__a16"))
    val nk = byCond.agg(count(lit(1)).as("n_conditions"),
      max(col("__n")).as("n_units"))
    val b16b = byCond.agg(sum(col("__sj4") * col("__sj4")).as("__b16b"))
    val mAll = nk.crossJoin(broadcast(a16)).crossJoin(broadcast(b16b))
    val bL = col("n_units")
    // F = (b−1)·B/(A−B) = (b−1)·ΣSj4² / (b·ΣS4² − ΣSj4²): exact integers
    val num = (bL - 1L).cast(dt) * col("__b16b")
    val den = bL.cast(dt) * col("__a16") - col("__b16b")
    mAll.select(col("n_units"), col("n_conditions"),
      round(when(den > 0, num.cast("double") / den.cast("double")), 6)
        .as("f_stat"))
  }

  // -------------------------------------------------------- Welch ANOVA
  /** Welch's heteroscedastic one-way ANOVA (Welch 1951) — the k-group
    * generalization of [[welchTTest]] and the test to reach for when
    * [[bartlettTest]]/[[brownForsythe]] reject equal variances:
    * weights w_g = n_g/s_g², grand mean x̃ = Σw_g x̄_g / Σw,
    * A = Σw_g(x̄_g − x̃)²/(k−1), Λ = Σ[(1 − w_g/W)²/(n_g−1)],
    * F = A / (1 + 2(k−2)Λ/(k²−1)), df₂ = (k²−1)/(3Λ).
    *
    * DETERMINISM AND SCALE: ONE decimal-moment groupBy (the
    * [[bartlettTest]] shape), then two tiny k-row passes; no window.
    * Groups need n_g ≥ 2; a zero-variance group has infinite weight →
    * null statistic (loudly null, never silently dropped).
    * Returns one row: (n_groups, n, f_stat, df2) 6dp. */
  def welchAnova(df: DataFrame, groupCol: Column,
                 valueCol: Column): DataFrame = {
    val v = valueCol.cast("double")
    val g = df.select(groupCol.as("__g"), v.as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull)
      .groupBy("__g")
      .agg(count(lit(1)).as("__n"),
        sum(col("__v").cast("decimal(38,6)")).cast("double").as("__sv"),
        sum((col("__v") * col("__v")).cast("decimal(38,6)")).cast("double")
          .as("__pv"))
      .filter(col("__n") >= 2L)
    val nD = col("__n").cast("double")
    val mean = col("__sv") / nD
    val s2 = (col("__pv") - col("__sv") * col("__sv") / nD) / (nD - 1.0)
    // ANSI mode: a zero-variance group's infinite weight must never divide
    val w = when(s2 > 0.0, nD / s2)
    val a1 = g.agg(count(lit(1)).as("n_groups"), sum(col("__n")).as("n"),
      sum(w).as("__w"), sum(w * mean).as("__wm"), min(s2).as("__minv"))
    val withW = g.crossJoin(broadcast(a1))
    val xt = col("__wm") / col("__w")
    val a2 = withW.agg(
      first(col("n_groups")).as("n_groups"), first(col("n")).as("n"),
      first(col("__minv")).as("__minv"),
      sum(w * (mean - xt) * (mean - xt)).as("__anum"),
      sum((lit(1.0) - w / col("__w")) * (lit(1.0) - w / col("__w")) /
        (nD - 1.0)).as("__lam"))
    val k = col("n_groups").cast("double")
    val aTerm = col("__anum") / (k - 1.0)
    val fW = aTerm / (lit(1.0) +
      lit(2.0) * (k - 2.0) * col("__lam") / (k * k - 1.0))
    a2.select(col("n_groups"), col("n"),
      round(when(col("n_groups") >= 2L && col("__minv") > 0.0, fW), 6)
        .as("f_stat"),
      round(when(col("n_groups") >= 2L && col("__minv") > 0.0 &&
        col("__lam") > 0.0, (k * k - 1.0) / (lit(3.0) * col("__lam"))), 6)
        .as("df2"))
  }

  // ------------------------------------------------ Brunner-Munzel test
  /** Brunner–Munzel generalized Wilcoxon test (Brunner & Munzel 2000) —
    * the two-sample rank test that, unlike [[mannWhitney]], stays valid
    * under unequal variances/shapes (the nonparametric Behrens–Fisher
    * problem): p̂ = P(A < B) + ½P(A = B) estimated from rank means,
    * T = (R̄_b − R̄_a)/(N√(v_a + v_b)) with v_g = S_g²/(n_g(N−n_g)²),
    * S_g² the variance of (pooled − within) rank gaps, and
    * Welch–Satterthwaite df.
    *
    * DETERMINISM AND SCALE — the two-sample value cells throughout
    * ([[twoSampleCells]]): pooled and within-group DOUBLED midranks
    * ([[midRanks2]]) over the DISTINCT value relation, all three in one
    * window; each cell's squared rank-gap term is one
    * fixed IEEE shape ×count, cast DECIMAL(38,6) BEFORE summing (the
    * [[mantelHaenszel]] discipline at the wider scale the ~N²-sized
    * terms need). Returns one row: (n_a, n_b, p_hat, t_stat, df) 6dp. */
  def brunnerMunzel(df: DataFrame, groupCol: String, valueCol: String,
                    a: String, b: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dm = DecimalType(38, 6)
    val (cum, sizes) = twoSampleCells(
      df.filter(col(groupCol).isin(a, b) && col(valueCol).isNotNull),
      col(groupCol), col(valueCol), a, b, "brunnerMunzel",
      "__r2" -> (col("__ca") + col("__cb")), "__ra2" -> col("__ca"),
      "__rb2" -> col("__cb"))
    val meanR = cum.agg(
      sum(col("__ca").cast(DecimalType(38, 0)) * col("__r2")).as("__sra2"),
      sum(col("__cb").cast(DecimalType(38, 0)) * col("__r2")).as("__srb2"))
    val m1 = cum.crossJoin(broadcast(sizes)).crossJoin(broadcast(meanR))
    val nA = col("n_a").cast("double"); val nB = col("n_b").cast("double")
    val rBarA2 = col("__sra2").cast("double") / nA
    val rBarB2 = col("__srb2").cast("double") / nB
    // doubled rank-gap deviation per cell: 2(R − R*_g − R̄_g + (n_g+1)/2)
    val devA = (col("__r2") - col("__ra2")).cast("double") - rBarA2 +
      (nA + 1.0)
    val devB = (col("__r2") - col("__rb2")).cast("double") - rBarB2 +
      (nB + 1.0)
    val agg = m1.agg(
      first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
      first(rBarA2).as("__rba2"), first(rBarB2).as("__rbb2"),
      sum((col("__ca").cast("double") * devA * devA).cast(dm)).as("__qa"),
      sum((col("__cb").cast("double") * devB * devB).cast(dm)).as("__qb"))
    val nA2 = col("n_a").cast("double"); val nB2 = col("n_b").cast("double")
    val nD = nA2 + nB2
    // quarter the doubled-unit sums: S_g² = Q_g/4/(n_g−1)
    val s2a = col("__qa").cast("double") / 4.0 / (nA2 - 1.0)
    val s2b = col("__qb").cast("double") / 4.0 / (nB2 - 1.0)
    val va = s2a / (nA2 * (nD - nA2) * (nD - nA2))
    val vb = s2b / (nB2 * (nD - nB2) * (nD - nB2))
    val pHat = (col("__rbb2") / 2.0 - (nB2 + 1.0) / 2.0) / nA2
    val tStat = (col("__rbb2") - col("__rba2")) / 2.0 /
      (nD * sqrt(va + vb))
    val dfW = (va + vb) * (va + vb) /
      (va * va / (nA2 - 1.0) + vb * vb / (nB2 - 1.0))
    agg.select(col("n_a"), col("n_b"),
      round(when(col("n_a") > 0L && col("n_b") > 0L, pHat), 6).as("p_hat"),
      round(when(col("n_a") > 1L && col("n_b") > 1L && va + vb > 0.0,
        tStat), 6).as("t_stat"),
      round(when(col("n_a") > 1L && col("n_b") > 1L &&
        va * va + vb * vb > 0.0, dfW), 6).as("df"))
  }

  // --------------------------------------- Cochran-Mantel-Haenszel test
  /** Cochran–Mantel–Haenszel chi-square for conditional independence
    * across stratified 2×2 tables (Cochran 1954; Mantel & Haenszel 1959):
    * X² = (Σ_s(a_s − E_s))² / Σ_s V_s with E_s = r1·c1/N and
    * V_s = r1·r2·c1·c2/(N²(N−1)), df = 1 — the significance companion to
    * [[mantelHaenszel]]'s common-OR ESTIMATE and [[breslowDay]]'s
    * homogeneity gate (no continuity correction; documented convention).
    *
    * DETERMINISM AND SCALE: one exact stratum groupBy; E and V are fixed
    * IEEE rationals on exact integers, summed as DECIMAL(28,12) (the
    * [[mantelHaenszel]] discipline); single-row finish, 6dp.
    * Returns one row: (n_strata, n, sum_dev, x2, df). */
  def cmhTest(df: DataFrame, stratumCol: Column, exposedCol: Column,
              outcomeCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dr = DecimalType(28, 12)
    val g = df.groupBy(stratumCol.as("__s"))
      .agg(count(lit(1)).as("__n"),
        sum(when(exposedCol && outcomeCol, 1L).otherwise(0L)).as("__a"),
        sum(when(exposedCol && !outcomeCol, 1L).otherwise(0L)).as("__b"),
        sum(when(!exposedCol && outcomeCol, 1L).otherwise(0L)).as("__c"),
        sum(when(!exposedCol && !outcomeCol, 1L).otherwise(0L)).as("__d"))
    val r1 = (col("__a") + col("__b")).cast("double")
    val r2 = (col("__c") + col("__d")).cast("double")
    val c1 = (col("__a") + col("__c")).cast("double")
    val c2 = (col("__b") + col("__d")).cast("double")
    val nS = col("__n").cast("double")
    val e = r1 * c1 / nS
    val vS = r1 * r2 * c1 * c2 / (nS * nS * (nS - 1.0))
    val agg = g.filter(col("__n") >= 2L)
      .agg(count(lit(1)).as("n_strata"), sum(col("__n")).as("n"),
        sum((col("__a").cast("double") - e).cast(dr)).as("__dev"),
        sum(vS.cast(dr)).as("__v"))
    val dev = col("__dev").cast("double")
    agg.select(col("n_strata"), col("n"),
      round(dev, 6).as("sum_dev"),
      round(when(col("__v").cast("double") > 0.0,
        dev * dev / col("__v").cast("double")), 6).as("x2"),
      lit(1L).as("df"))
  }

  // ------------------------------------------- uncertainty coefficient
  /** Theil's uncertainty coefficient (Theil 1970): the MI-based
    * categorical association normalized by each variable's own entropy —
    * U(b|a) = MI/H(b) answers "how much of b does knowing a explain?"
    * where [[mutualInformation]]'s min-entropy nmi is symmetric and
    * [[cramersV]] ignores direction entirely. Reports both directions
    * plus the symmetric 2·MI/(H(a)+H(b)).
    *
    * DETERMINISM AND SCALE: the [[mutualInformation]] shapes verbatim —
    * one cell rollup, marginal joins, ln-terms cast DECIMAL(28,12)
    * before summing; three IEEE divisions, 6dp. Returns one row:
    * (n, mi, u_b_given_a, u_a_given_b, u_symmetric). */
  def uncertaintyCoefficient(df: DataFrame, aCol: Column,
                             bCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cells = df.filter(aCol.isNotNull && bCol.isNotNull)
      .groupBy(aCol.as("a"), bCol.as("b")).agg(count(lit(1)).as("__c"))
    val ma = cells.groupBy("a").agg(sum(col("__c")).as("__ca"))
    val mb = cells.groupBy("b").agg(sum(col("__c")).as("__cb"))
    val tot = cells.agg(sum(col("__c")).as("__n"))
    val nD = col("__n").cast("double")
    val miTerm = (col("__c").cast("double") / nD *
      log(nD * col("__c").cast("double") /
        (col("__ca").cast("double") * col("__cb").cast("double"))))
      .cast(DecimalType(28, 12))
    val mi = cells.join(ma, "a").join(mb, "b").crossJoin(broadcast(tot))
      .agg(first(col("__n")).as("n"), sum(miTerm).cast("double").as("__mi"))
    def ent(m: DataFrame, c: String) = m.crossJoin(broadcast(tot))
      .agg(sum((-(col(c).cast("double") / nD) *
        log(col(c).cast("double") / nD)).cast(DecimalType(28, 12)))
        .cast("double").as(s"__h$c"))
    mi.crossJoin(broadcast(ent(ma, "__ca")))
      .crossJoin(broadcast(ent(mb, "__cb")))
      .select(col("n"), round(col("__mi"), 6).as("mi"),
        round(when(col("__h__cb") > 0.0, col("__mi") / col("__h__cb")), 6)
          .as("u_b_given_a"),
        round(when(col("__h__ca") > 0.0, col("__mi") / col("__h__ca")), 6)
          .as("u_a_given_b"),
        round(when(col("__h__ca") + col("__h__cb") > 0.0,
          lit(2.0) * col("__mi") / (col("__h__ca") + col("__h__cb"))), 6)
          .as("u_symmetric"))
  }

  // ----------------------------------------- KS against the exponential
  /** One-sample Kolmogorov–Smirnov distance against the exponential with
    * the sample's own rate (λ = 1/x̄): D = max over observed values of
    * max(|F̂(x) − F(x)|, |F̂(x⁻) − F(x)|) with F(x) = 1 − e^(−λx) — the
    * memorylessness check for inter-arrival/duration data (near 0 ⇒
    * Poisson-like arrivals; the parameter is estimated, so compare D
    * against Lilliefors-style critical values, documented).
    *
    * DETERMINISM AND SCALE — the [[ksTwoSample]] shape: per-value counts
    * + one cumulative window over the DISTINCT value relation
    * (cardinality contract, ENFORCED: above 10⁵ distinct values
    * [[gateValueCells]] RAISES); F̂ steps are exact integer ratios; e^(−λx)
    * is one fixed IEEE shape per cell; D maximizes over cells. The
    * exponential's support is [0,∞): a NEGATIVE value RAISES (a silent
    * drop would change both n and the estimated rate); an all-zero
    * sample (Σv ≤ 0 ⇒ λ undefined) nulls rate and d_stat loudly rather
    * than propagating λ = ∞ NaNs. Returns one row: (n, rate, d_stat)
    * 6dp. */
  def ksExponential(df: DataFrame, valueCol: Column): DataFrame = {
    val v0 = valueCol.cast("double")
    val v = when(v0 < 0.0,
      raise_error(concat(lit("ksExponential: negative value outside "),
        lit("the exponential's support: "), v0.cast("string"))))
      .otherwise(v0)
    val raw = df.filter(v0.isNotNull)
      .groupBy(v.as("__v")).agg(count(lit(1)).as("__t"))
    val cells = gateValueCells(raw, "__t", "ksExponential")
    val wRun = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // 1-row totals read the UNGATED rollup (the twoSampleCells rule)
    val tot = raw.agg(sum(col("__t")).as("n"),
      sum((col("__v") * col("__t").cast("double")).cast("decimal(38,6)"))
        .cast("double").as("__sv"))
    val cum = cells.withColumn("__f", sum(col("__t")).over(wRun))
      .crossJoin(broadcast(tot))
    val nD = col("n").cast("double")
    val lambda = when(col("__sv") > 0.0, nD / col("__sv"))
    val fExp = lit(1.0) - exp(-lambda * col("__v"))
    val dHi = abs(col("__f").cast("double") / nD - fExp)
    val dLo = abs((col("__f") - col("__t")).cast("double") / nD - fExp)
    cum.agg(first(col("n")).as("n"),
        first(round(lambda, 6)).as("rate"),
        max(greatest(dHi, dLo)).as("__d"))
      .select(col("n"), col("rate"),
        round(when(col("n") > 0L, col("__d")), 6).as("d_stat"))
  }

  // --------------------------------------------------- mean excess (EVT)
  /** Mean-excess function over a threshold grid (the EVT diagnostic
    * behind peaks-over-threshold): e(u) = E[X − u | X > u] per
    * threshold — a mean-excess plot that grows linearly in u signals a
    * heavy (generalized-Pareto) tail; flat ⇒ exponential; falling ⇒
    * short tail. The tail-shape companion to [[historicalVar]]'s fixed
    * quantile.
    *
    * DETERMINISM AND SCALE: ONE pass with a conditional decimal sum per
    * threshold (2dp inputs exact at DECIMAL(38,6)); the grid is the
    * caller's bounded vocabulary. Returns one row per threshold:
    * (threshold, n_exceed, mean_excess) 6dp. */
  def meanExcess(df: DataFrame, valueCol: Column,
                 thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty && thresholds == thresholds.sorted,
      s"thresholds must be ascending: $thresholds")
    val v = valueCol.cast("double")
    val base = df.filter(v.isNotNull).select(v.as("__v"))
    val aggs = thresholds.zipWithIndex.flatMap { case (u, i) =>
      Seq(sum(when(col("__v") > u, 1L).otherwise(0L)).as(s"__n$i"),
        sum(when(col("__v") > u,
          (col("__v") - u).cast("decimal(38,6)"))).as(s"__s$i"))
    }
    val one = base.agg(aggs.head, aggs.tail: _*)
    val stacked = thresholds.zipWithIndex.map { case (u, i) =>
      s"CAST($u AS DOUBLE), __n$i, CAST(__s$i AS DOUBLE)" }.mkString(", ")
    one.selectExpr(s"stack(${thresholds.size}, $stacked) AS " +
        "(threshold, n_exceed, __sum)")
      .select(col("threshold"), col("n_exceed"),
        round(when(col("n_exceed") > 0L,
          col("__sum") / col("n_exceed").cast("double")), 6)
          .as("mean_excess"))
      .orderBy("threshold")
  }

  // --------------------------------------------- ratio-metric delta CI
  /** Delta-method confidence interval for a RATIO metric R = Σx/Σy over
    * units (revenue per session, value per event — the standard A/B
    * shape where per-unit denominators vary):
    * se² = (s_x² + R²·s_y² − 2R·s_xy) / (n·ȳ²) (Fieller-free first-order
    * delta; Deng et al. 2017's practical form). Naively treating the
    * ratio as a mean of per-unit ratios is the classic bias this
    * replaces.
    *
    * DETERMINISM AND SCALE: ONE decimal-moment aggregate (x, y, x², y²,
    * xy); the CI is a fixed IEEE shape, 6dp. Σy ≤ 0 or n < 2 nulls
    * loudly. Returns one row: (n, ratio, se, lo, hi). */
  def ratioMetricCi(df: DataFrame, numCol: Column, denCol: Column,
                    z: Double = 1.96): DataFrame = {
    require(z > 0.0, s"z must be positive: $z")
    val x = numCol.cast("double"); val y = denCol.cast("double")
    val m = df.select(x.as("__x"), y.as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(col("__x").cast("decimal(38,6)")).cast("double").as("__sx"),
        sum(col("__y").cast("decimal(38,6)")).cast("double").as("__sy"),
        sum((col("__x") * col("__x")).cast("decimal(38,6)")).cast("double")
          .as("__sxx"),
        sum((col("__y") * col("__y")).cast("decimal(38,6)")).cast("double")
          .as("__syy"),
        sum((col("__x") * col("__y")).cast("decimal(38,6)")).cast("double")
          .as("__sxy"))
    val nD = col("n").cast("double")
    val ok = col("n") >= 2L && col("__sy") > 0.0
    val r = col("__sx") / col("__sy")
    val my = col("__sy") / nD
    val vx = (col("__sxx") - col("__sx") * col("__sx") / nD) / (nD - 1.0)
    val vy = (col("__syy") - col("__sy") * col("__sy") / nD) / (nD - 1.0)
    val cxy = (col("__sxy") - col("__sx") * col("__sy") / nD) / (nD - 1.0)
    val se = when(ok,
      sqrt(greatest(vx + r * r * vy - lit(2.0) * r * cxy, lit(0.0)) /
        (nD * my * my)))
    m.select(col("n"), round(when(ok, r), 6).as("ratio"),
      round(se, 6).as("se"),
      round(when(ok, r - lit(z) * se), 6).as("lo"),
      round(when(ok, r + lit(z) * se), 6).as("hi"))
  }

  // ------------------------------------------- Spiegelhalter's Z test
  /** Spiegelhalter's Z for probability calibration (Spiegelhalter 1986):
    * Z = Σ(y − p)(1 − 2p) / √(Σ(1 − 2p)²·p(1 − p)) — binning-free where
    * [[hosmerLemeshow]] depends on decile cuts; under perfect
    * calibration Z ~ N(0,1).
    *
    * DETERMINISM AND SCALE: both sums are per-row fixed IEEE terms cast
    * DECIMAL(28,12) before adding (the [[mantelHaenszel]] discipline);
    * ONE aggregate. p must already live in [0,1] — out-of-range rows
    * RAISE (a silent clamp would fake calibration). Returns one row:
    * (n, z_stat) 6dp. */
  def spiegelhalterZ(df: DataFrame, pCol: Column, yCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val p0 = pCol.cast("double")
    val p = when(p0 < 0.0 || p0 > 1.0,
      raise_error(concat(lit("spiegelhalterZ: probability out of [0,1]: "),
        p0.cast("string")))).otherwise(p0)
    val y = when(yCol, 1.0).otherwise(0.0)
    val m = df.filter(p0.isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(((y - p) * (lit(1.0) - lit(2.0) * p)).cast(DecimalType(28, 12)))
          .as("__num"),
        sum(((lit(1.0) - lit(2.0) * p) * (lit(1.0) - lit(2.0) * p) *
          p * (lit(1.0) - p)).cast(DecimalType(28, 12))).as("__den"))
    m.select(col("n"),
      round(when(col("__den").cast("double") > 0.0,
        col("__num").cast("double") / sqrt(col("__den").cast("double"))),
        6).as("z_stat"))
  }

  // ------------------------------------------- Brier decomposition
  /** Murphy decomposition of the Brier score (Murphy 1973) over
    * fixed-width probability bins: BS = REL − RES + UNC with
    * REL = Σ n_k(p̄_k − ȳ_k)²/N (miscalibration),
    * RES = Σ n_k(ȳ_k − ȳ)²/N (discrimination), UNC = ȳ(1 − ȳ). The raw
    * BS reports alongside; the identity is exact only at constant
    * within-bin p (documented — the within-bin variance term is the
    * gap).
    *
    * DETERMINISM AND SCALE: the bin is an integer projection
    * (min(bins−1, ⌊p·bins⌋)); per-bin Σp casts DECIMAL(28,12), Σy is
    * integer; two bounded rollups, fixed IEEE finishes, 6dp. p must
    * already live in [0,1] — out-of-range rows RAISE (the
    * [[spiegelhalterZ]] guard: p > 1 would clamp into the top bin and
    * p < 0 would mint negative phantom bins, silently skewing REL/RES).
    * Returns one row: (n, brier, reliability, resolution, uncertainty). */
  def brierDecomposition(df: DataFrame, pCol: Column, yCol: Column,
                         bins: Int = 10): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(bins >= 2 && bins <= 1000, s"bins in [2,1000]: $bins")
    val p0 = pCol.cast("double")
    val p = when(p0 < 0.0 || p0 > 1.0,
      raise_error(concat(lit("brierDecomposition: probability out of " +
        "[0,1]: "), p0.cast("string")))).otherwise(p0)
    val y = when(yCol, 1.0).otherwise(0.0)
    val base = df.filter(p0.isNotNull)
      .select(p.as("__p"), y.as("__y"),
        least(lit(bins - 1L), floor(p * bins).cast("long")).as("__b"))
    val perBin = base.groupBy("__b")
      .agg(count(lit(1)).as("__nk"),
        sum(col("__p").cast(DecimalType(28, 12))).as("__sp"),
        sum(col("__y").cast(DecimalType(28, 12))).as("__sy"),
        sum(((col("__p") - col("__y")) * (col("__p") - col("__y")))
          .cast(DecimalType(28, 12))).as("__bs"))
    val tot = perBin.agg(sum(col("__nk")).as("n"),
      sum(col("__sy")).as("__syAll"), sum(col("__bs")).as("__bsAll"))
    val nD = col("n").cast("double")
    val yBar = col("__syAll").cast("double") / nD
    val nk = col("__nk").cast("double")
    val pk = col("__sp").cast("double") / nk
    val yk = col("__sy").cast("double") / nk
    val agg = perBin.crossJoin(broadcast(tot))
      .agg(first(col("n")).as("n"), first(yBar).as("__yb"),
        first(col("__bsAll")).as("__bsA"),
        sum((nk * (pk - yk) * (pk - yk)).cast(DecimalType(28, 12)))
          .as("__rel"),
        sum((nk * (yk - yBar) * (yk - yBar)).cast(DecimalType(28, 12)))
          .as("__res"))
    val n2 = col("n").cast("double")
    agg.select(col("n"),
      round(col("__bsA").cast("double") / n2, 6).as("brier"),
      round(col("__rel").cast("double") / n2, 6).as("reliability"),
      round(col("__res").cast("double") / n2, 6).as("resolution"),
      round(col("__yb") * (lit(1.0) - col("__yb")), 6).as("uncertainty"))
  }

  // --------------------------------------------------- Taylor's law fit
  /** Taylor's power law (Taylor 1961): across groups, variance scales as
    * a power of the mean — ln(s²_g) = ln a + b·ln(x̄_g); b ≈ 1 is
    * Poisson-like, b > 1 aggregated/bursty. The cross-group
    * overdispersion summary beside [[dispersionIndex]]'s per-group
    * ratios.
    *
    * DETERMINISM AND SCALE: ONE decimal-moment groupBy collapses the
    * data to k group rows (the [[bartlettTest]] shape); the ln–ln OLS
    * runs over that bounded relation. Groups need n ≥ 2, mean > 0,
    * s² > 0 (the logs' domain — excluded groups are COUNTED, not
    * silent). Returns one row: (n_groups, n_excluded, slope, intercept,
    * r) 6dp. */
  def taylorsLaw(df: DataFrame, groupCol: Column,
                 valueCol: Column): DataFrame = {
    val v = valueCol.cast("double")
    val g = df.select(groupCol.as("__g"), v.as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull)
      .groupBy("__g")
      .agg(count(lit(1)).as("__n"),
        sum(col("__v").cast("decimal(38,6)")).cast("double").as("__sv"),
        sum((col("__v") * col("__v")).cast("decimal(38,6)")).cast("double")
          .as("__pv"))
    val nD = col("__n").cast("double")
    val mean = col("__sv") / nD
    val s2 = (col("__pv") - col("__sv") * col("__sv") / nD) / (nD - 1.0)
    val ok = col("__n") >= 2L && mean > 0.0 && s2 > 0.0
    val pts = g.select(when(ok, log(mean)).as("__x"),
      when(ok, log(s2)).as("__y"))
    val agg = pts.agg(
      sum(when(col("__x").isNotNull, 1L).otherwise(0L)).as("n_groups"),
      sum(when(col("__x").isNull, 1L).otherwise(0L)).as("n_excluded"),
      sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
      sum(col("__x") * col("__x")).as("__sxx"),
      sum(col("__y") * col("__y")).as("__syy"),
      sum(col("__x") * col("__y")).as("__sxy"))
    val k = col("n_groups").cast("double")
    val covN = k * col("__sxy") - col("__sx") * col("__sy")
    val varX = k * col("__sxx") - col("__sx") * col("__sx")
    val varY = k * col("__syy") - col("__sy") * col("__sy")
    val slope = covN / varX
    agg.select(col("n_groups"), col("n_excluded"),
      round(when(col("n_groups") >= 2L && varX > 0.0, slope), 6)
        .as("slope"),
      round(when(col("n_groups") >= 2L && varX > 0.0,
        (col("__sy") - slope * col("__sx")) / k), 6).as("intercept"),
      round(when(col("n_groups") >= 2L && varX > 0.0 && varY > 0.0,
        covN / sqrt(varX * varY)), 6).as("r"))
  }

  // ------------------------------------------------- dispersion index
  /** Per-group variance-to-mean ratio (index of dispersion; Fisher
    * 1950): VMR ≈ 1 is Poisson, > 1 overdispersed, < 1 regular, with
    * the χ² statistic (n−1)·VMR — the count-data burstiness screen
    * whose cross-group power-law summary is [[taylorsLaw]].
    *
    * DETERMINISM AND SCALE: one decimal-moment groupBy, one fixed IEEE
    * finish per group row, 6dp; zero-mean groups null their ratios
    * loudly. Returns per group: (group, n, mean, vmr, chi2). */
  def dispersionIndex(df: DataFrame, groupCol: String,
                      valueCol: Column): DataFrame = {
    val v = valueCol.cast("double")
    val g = df.filter(v.isNotNull)
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        sum(v.cast("decimal(38,6)")).cast("double").as("__sv"),
        sum((v * v).cast("decimal(38,6)")).cast("double").as("__pv"))
    val nD = col("n").cast("double")
    val mean = col("__sv") / nD
    val s2 = (col("__pv") - col("__sv") * col("__sv") / nD) / (nD - 1.0)
    val vmr = when(col("n") >= 2L && mean > 0.0, s2 / mean)
    g.select(col(groupCol), col("n"), round(mean, 6).as("mean"),
      round(vmr, 6).as("vmr"),
      round((nD - 1.0) * vmr, 6).as("chi2"))
  }

  // --------------------------------------------- distribution distances
  /** Total variation and Hellinger distances between two groups'
    * categorical distributions: TVD = ½Σ|p_c − q_c| (the maximal
    * event-probability gap) and H = √(1 − Σ√(p_c·q_c)) via the
    * Bhattacharyya coefficient — the bounded metric pair beside
    * [[jsDivergence]]'s information-theoretic view.
    *
    * DETERMINISM AND SCALE: one category rollup; TVD's numerator
    * Σ|c_a·n_b − c_b·n_a| is EXACT DECIMAL(38,0) (one division at the
    * end); the Bhattacharyya cell terms √(p·q) are fixed IEEE shapes
    * cast DECIMAL(28,12) before summing. Returns one row:
    * (n_a, n_b, n_categories, tvd, bhattacharyya, hellinger) 6dp. */
  def distributionDistance(df: DataFrame, groupCol: String, catCol: Column,
                           a: String, b: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val cells = df.filter(col(groupCol).isin(a, b) && catCol.isNotNull)
      .groupBy(catCol.as("__c"))
      .agg(sum(when(col(groupCol) === a, 1L).otherwise(0L)).as("__ca"),
        sum(when(col(groupCol) === b, 1L).otherwise(0L)).as("__cb"))
    val tot = cells.agg(sum(col("__ca")).as("n_a"),
      sum(col("__cb")).as("n_b"), count(lit(1)).as("n_categories"))
    val withT = cells.crossJoin(broadcast(tot))
    val tvdNum = abs(col("__ca").cast(dt) * col("n_b") -
      col("__cb").cast(dt) * col("n_a"))
    val bcTerm = sqrt(col("__ca").cast("double") /
      col("n_a").cast("double") *
      (col("__cb").cast("double") / col("n_b").cast("double")))
      .cast(DecimalType(28, 12))
    val agg = withT.agg(first(col("n_a")).as("n_a"),
      first(col("n_b")).as("n_b"),
      first(col("n_categories")).as("n_categories"),
      sum(tvdNum).as("__tvd2"), sum(bcTerm).as("__bc"))
    val bc = col("__bc").cast("double")
    agg.select(col("n_a"), col("n_b"), col("n_categories"),
      round(when(col("n_a") > 0L && col("n_b") > 0L,
        col("__tvd2").cast("double") /
          (lit(2.0) * col("n_a").cast("double") *
            col("n_b").cast("double"))), 6).as("tvd"),
      round(when(col("n_a") > 0L && col("n_b") > 0L, bc), 6)
        .as("bhattacharyya"),
      round(when(col("n_a") > 0L && col("n_b") > 0L,
        sqrt(greatest(lit(1.0) - bc, lit(0.0)))), 6).as("hellinger"))
  }

  /** Loud |vocab| gate for the value-cell pairwise/cumulative family
    * ([[hodgesLehmann]], [[qnScale]], [[giniMeanDifference]],
    * `twoSampleRankCells`, and — since the round-15 enforcement sweep —
    * every linear-rank/ECDF member that windows a distinct-value rollup:
    * [[spearman]], [[ksTwoSample]], [[cvmTwoSample]], [[kruskalWallis]],
    * [[wilcoxonSignedRank]], [[cliffsDelta]], [[clesRankBiserial]],
    * [[jonckheereTerpstra]], [[quadeTest]], [[brunnerMunzel]],
    * [[ksExponential]], [[conoverSquaredRanks]] via the scaffold):
    * those operators' documented contract is a
    * BOUNDED distinct-value relation (a |vocab|²-bounded broadcast
    * self-join or a keyless cumulative window over the cells) — a
    * continuous column would silently quadratic out or OOM the
    * broadcast. This counts the cells FIRST (one cheap aggregate over
    * the rollup, evaluated while the guarded side materializes — i.e.
    * BEFORE any pair explodes) and raises above `limit`, naming the
    * remedy (the kaplanMeier duration-grain discipline: bucket/round
    * the values to a bounded grain). Mechanism (every-column guard,
    * lazy-plan trade) is the shared [[graft.operators.DomainGate]];
    * `cntCol` is kept as the named guard column for the callers'
    * documentation. */
  private def gateValueCells(cells: DataFrame, cntCol: String, op: String,
                             limit: Long = 100000L): DataFrame = {
    require(cells.columns.contains(cntCol), s"missing $cntCol")
    graft.operators.DomainGate(cells, limit, nv =>
      concat(lit(s"$op: "), nv.cast("string"),
        lit(s" distinct value cells exceed $limit — bucket or round " +
          "the values to a bounded grain first (the kaplanMeier " +
          "duration-grain contract)")))
  }

  /** Per-GROUP sibling of [[gateValueCells]] for GROUP-KEYED cumulative
    * windows over (group, value) rollups ([[rocAuc]], [[mannWhitney]]):
    * partitioning bounds nothing when ONE group's score column is
    * continuous — that group's cells all land in one window task. The
    * offending measure is therefore the LARGEST single group's cell
    * count (two combinable aggregates: count per group, then max),
    * raised through the shared [[graft.operators.DomainGate]] mechanism
    * with a message naming the rounding remedy. */
  private def gateGroupValueCells(cells: DataFrame, groupCols: Seq[Column],
                                  op: String,
                                  limit: Long = 100000L): DataFrame = {
    val nv = cells.groupBy(groupCols: _*).agg(count(lit(1)).as("__gc"))
      .agg(max(col("__gc")).as("__nv"))
    graft.operators.DomainGate(cells, nv, limit, n =>
      concat(lit(s"$op: largest group has "), n.cast("string"),
        lit(s" distinct value cells, exceeding $limit — round/bucket " +
          "the score to a bounded grain first (rocAuc's scoreRound " +
          "discipline)")))
  }

  /** Doubled midranks: the average rank of each value cell, carried
    * doubled so it stays an exact integer, 2·r̄ = 2·cum − t + 1, with t
    * the cell's count and cum the running count through the cell in
    * ascending `valueCol` order, nulls first. `cells` holds one row per
    * (`partCols`, `valueCol`) cell; each of `ranks` names an output rank
    * and the count it ranks (a count column or a sum of them), and all of
    * them share ONE window, so one sort.
    *
    * The gate follows from the partitioning. With no `partCols` the window
    * is keyless — one task over the whole value domain — so the cells go
    * through [[gateValueCells]] (named `op`) once, here. Partitioned per
    * unit, the complete design ([[completeRows]]) already bounds each
    * partition to k cells, and there is no gate. Returns `cells`' columns
    * plus the ranks. */
  private[graft] def midRanks2(cells: DataFrame, partCols: Seq[String],
      valueCol: String, op: String, ranks: (String, Column)*): DataFrame = {
    val w = Window.partitionBy(partCols.map(col): _*).orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val in = if (partCols.isEmpty) gateValueCells(cells, valueCol, op)
      else cells
    in.select(col("*") +: ranks.map { case (out, t) =>
      (sum(t).over(w) * 2L - t + 1L).as(out) }: _*)
  }

  /** The complete-design gate of the related-samples family: every `unit`
    * of `base` must carry each of the k distinct `cond` values exactly
    * once. A unit with d of k distinct conditions over n rows (d ≠ k or
    * n ≠ d) FAILS the job loudly, naming the unit, d, k, n and the `harm`
    * a hole or duplicate would do — silently dropping or zero-filling it
    * would bias the statistic. Returns one row per unit: (`unit`, carried)
    * where the carried column — the unit's row count `__cnt`, or the
    * `carry` aggregate under its name — holds the `raise_error`, so any
    * consumer that reads it fires the raise. */
  private def completeDesign(base: DataFrame, unit: String, cond: String,
      op: String, harm: String, unitNoun: String = "unit",
      condNoun: String = "conditions",
      carry: Option[(String, Column)] = None): DataFrame = {
    val out = carry.fold("__cnt")(_._1)
    val k = base.agg(count_distinct(col(cond)).as("__k"))
    base.groupBy(unit)
      .agg(count(lit(1)).as("__cnt"), count_distinct(col(cond)).as("__dst")
        +: carry.map { case (n, c) => c.as(n) }.toSeq: _*)
      .crossJoin(broadcast(k))
      .select(col(unit), when(col("__dst") =!= col("__k") ||
        col("__cnt") =!= col("__dst"),
        raise_error(concat(lit(s"$op: $unitNoun "), col(unit).cast("string"),
          lit(" has "), col("__dst"), lit(" of "), col("__k"),
          lit(s" distinct $condNoun over "), col("__cnt"),
          lit(s" rows - incomplete/duplicated designs $harm"))))
        .otherwise(col(out)).as(out))
  }

  /** `base` restricted to the units that pass [[completeDesign]] — the
    * rank tests' form, whose message says the holes corrupt the ranks.
    * The pruning rule: the join takes the gate's FULL relation and filters
    * on its carried count, because a bare select of the unit column lets
    * column pruning delete the `raise_error` entirely, silently waving
    * incomplete designs through. */
  private def completeRows(base: DataFrame, unit: String, cond: String,
      op: String, unitNoun: String = "unit",
      condNoun: String = "conditions"): DataFrame =
    base.join(completeDesign(base, unit, cond, op, "corrupt the ranks",
        unitNoun, condNoun), Seq(unit))
      .filter(col("__cnt") > 0L).drop("__cnt")

  /** The two-sample value rollup: `rows`, already restricted to groups
    * `a` and `b` of `g` and to non-null values, roll up to one
    * (__v, __ca, __cb) cell per distinct `v`, returned gated and ranked by
    * [[midRanks2]] (keyless, so gated once under `op`; with no `ranks` the
    * gated cells alone), with the one-row totals (n_a, n_b). The totals
    * read the UNGATED rollup: a combinable sum is safe at any cardinality,
    * and reading the gated cells would re-evaluate the gate's count in one
    * more lazy join and job. */
  private def twoSampleCells(rows: DataFrame, g: Column, v: Column,
      a: String, b: String, op: String,
      ranks: (String, Column)*): (DataFrame, DataFrame) = {
    val raw = rows.groupBy(v.as("__v"))
      .agg(sum(when(g === a, 1L).otherwise(0L)).as("__ca"),
        sum(when(g === b, 1L).otherwise(0L)).as("__cb"))
    (midRanks2(raw, Nil, "__v", op, ranks: _*),
      raw.agg(sum(col("__ca")).as("n_a"), sum(col("__cb")).as("n_b")))
  }

  // ------------------------------------------------ Qn scale estimator
  /** Rousseeuw–Croux Qn robust scale (Rousseeuw & Croux 1993): the k-th
    * smallest pairwise gap |x_i − x_j| (i < j) with k = C(h, 2),
    * h = n div 2 + 1, scaled by 2.2219 for normal consistency — 50%
    * breakdown like the MAD but ~82% efficiency (vs the MAD's 37%) and
    * no location estimate needed at all.
    *
    * DETERMINISM AND SCALE — the [[hodgesLehmann]] cell machinery: gaps
    * form over VALUE CELLS (pair (v_a, v_b) carries c_a·c_b; within-cell
    * ties carry C(c, 2) at gap 0), so the relation is |vocab|²-bounded;
    * the pick is the weighted k-th order-statistic ELEMENT via doubled
    * integer cumcounts (2k = h(h−1) exactly — no division). A vocabulary
    * above 10⁵ cells RAISES loudly ([[gateValueCells]]). Returns one
    * row: (n, k_index, gap, qn) 6dp. */
  def qnScale(df: DataFrame, valueCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val cells = gateValueCells(df.select(valueCol.cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy("__v").agg(count(lit(1)).as("__c")), "__c", "qnScale")
    val a = cells.select(col("__v").as("va"), col("__c").as("ca"))
    val b = cells.select(col("__v").as("vb"), col("__c").as("cb"))
    val gaps = a.join(broadcast(b), col("va") <= col("vb"))
      .select((col("vb") - col("va")).as("__g"),
        when(col("va") < col("vb"), col("ca").cast(dt) * col("cb") * 2L)
          .otherwise(col("ca").cast(dt) * (col("ca") - 1L)).as("__m2"))
      .filter(col("__m2") > 0)
      .groupBy("__g").agg(sum(col("__m2")).as("__m2"))
    val wRun = Window.orderBy(col("__g"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = gaps.withColumn("__cum2", sum(col("__m2")).over(wRun))
    val tot = cells.agg(sum(col("__c")).as("n"))
      .selectExpr("n", "n div 2 + 1 AS __h")
      .selectExpr("n", "__h * (__h - 1) AS __k2",
        "(__h * (__h - 1)) div 2 AS __k")
    cum.crossJoin(broadcast(tot))
      .filter(col("__cum2") >= col("__k2"))
      .agg(first(col("n")).as("n"), first(col("__k")).as("k_index"),
        min(col("__g")).as("gap"))
      .select(col("n"), col("k_index"), round(col("gap"), 6).as("gap"),
        round(lit(2.2219) * col("gap"), 6).as("qn"))
  }

  // ------------------------------------------- Gini mean difference
  /** Gini mean difference Δ = Σ_{i<j}|x_i − x_j| / C(n, 2) (Gini 1912)
    * — the dispersion measure [[giniIndex]] normalizes (gini =
    * Δ/(2·mean)); unlike the variance it weighs gaps linearly, so one
    * wild outlier moves it far less.
    *
    * DETERMINISM AND SCALE: pair gaps form over VALUE CELLS at integer
    * CENTS (2dp inputs — the caller's contract), so Σ c_a·c_b·|Δcents|
    * is an exact DECIMAL(38,0) over the |vocab|²-bounded broadcast
    * self-join; ONE division finishes. A cent vocabulary above 10⁵ cells
    * RAISES loudly ([[gateValueCells]]). Returns one row:
    * (n, gmd, relative_gmd [= Δ/mean]) 6dp. */
  def giniMeanDifference(df: DataFrame, valueCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val cells = gateValueCells(df.select(
        round(valueCol.cast("double") * 100, 0).cast("long").as("__c100"))
      .filter(col("__c100").isNotNull)
      .groupBy("__c100").agg(count(lit(1)).as("__c")),
      "__c", "giniMeanDifference")
    val a = cells.select(col("__c100").as("ca100"), col("__c").as("ca"))
    val b = cells.select(col("__c100").as("cb100"), col("__c").as("cb"))
    val s = a.join(broadcast(b), col("ca100") < col("cb100"))
      .agg(sum(col("ca").cast(dt) * col("cb") *
        (col("cb100") - col("ca100"))).as("__s"))
    val tot = cells.agg(sum(col("__c")).as("n"),
      sum(col("__c").cast(dt) * col("__c100")).as("__sc"))
    s.crossJoin(broadcast(tot))
      .select(col("n"),
        round(when(col("n") >= 2L,
          col("__s").cast("double") * 2.0 /
            (col("n").cast("double") * (col("n").cast("double") - 1.0) *
              100.0)), 6).as("gmd"),
        round(when(col("n") >= 2L && col("__sc") > 0,
          col("__s").cast("double") * 2.0 /
            (col("n").cast("double") - 1.0) /
            col("__sc").cast("double")), 6).as("relative_gmd"))
  }

  // ------------------------------------------------ Neyman allocation
  /** Neyman-allocated stratified sampling (Neyman 1934): a total budget
    * of `totalN` rows splits across strata ∝ N_h·S_h (size × sample sd),
    * the variance-optimal allocation for estimating the overall mean;
    * each stratum then samples at its rate with the deterministic
    * [[graft.pipeline.Curation.sampleByRate]] md5 draw (salt-re-dealable,
    * engine-independent).
    *
    * DETERMINISM AND SCALE: ONE decimal-moment groupBy per stratum; the
    * allocation denominator Σ N_h·S_h sums per-stratum terms as
    * DECIMAL(28,12) (order-independent — a float sum here would let the
    * engines disagree on a hash boundary and desynchronize the draw);
    * rates clamp at 1. Zero-variance strata get zero weight (documented:
    * a constant stratum needs one row for a perfect estimate — pair with
    * a minimum-rate floor upstream if coverage matters). Returns per
    * stratum: (stratum, n_pop, sd, rate, n_sampled). */
  def neymanAllocation(df: DataFrame, stratumCol: String, valueCol: Column,
                       keyCol: Column, totalN: Double,
                       salt: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(totalN > 0.0, s"totalN must be positive: $totalN")
    val v = valueCol.cast("double")
    val g = df.filter(v.isNotNull)
      .groupBy(col(stratumCol).as("__s"))
      .agg(count(lit(1)).as("__n"),
        sum(v.cast("decimal(38,6)")).cast("double").as("__sv"),
        sum((v * v).cast("decimal(38,6)")).cast("double").as("__pv"))
    val nD = col("__n").cast("double")
    val sd = when(col("__n") >= 2L, sqrt(greatest(
      (col("__pv") - col("__sv") * col("__sv") / nD) / (nD - 1.0),
      lit(0.0)))).otherwise(lit(0.0))
    val withW = g.select(col("__s"), col("__n"), sd.as("__sd"),
      (nD * sd).cast(DecimalType(28, 12)).as("__w"))
    val denom = withW.agg(sum(col("__w")).as("__wsum"))
    val rates = withW.crossJoin(broadcast(denom))
      .select(col("__s"), col("__n"), col("__sd"),
        when(col("__wsum") > 0,
          least(lit(1.0), lit(totalN) * col("__w").cast("double") /
            col("__wsum").cast("double") / nD)).otherwise(lit(0.0))
          .as("__rate"))
    val drawn = df.filter(v.isNotNull)
      .select(col(stratumCol).as("__s"),
        substring(md5(concat(lit(salt + ":"),
          coalesce(keyCol.cast("string"), lit("")))), 1, 8).as("__h"))
      .join(broadcast(rates), "__s")
      .filter(graft.pipeline.Curation.keepCondition(col("__h"),
        col("__rate")))
      .groupBy("__s").agg(count(lit(1)).as("n_sampled"))
    rates.join(drawn, Seq("__s"), "left")
      .select(col("__s").as("stratum"), col("__n").as("n_pop"),
        round(col("__sd"), 6).as("sd"),
        round(col("__rate"), 9).as("rate"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
  }

  // ------------------------------------------- expected reciprocal rank
  /** Expected reciprocal rank at k (Chapelle et al. 2009) — the cascade
    * model beside [[ndcgAtK]]'s positional discount: a user scans down
    * the ranking and stops at rank r with probability
    * R_r·Π_{i<r}(1−R_i), R = (2^g − 1)/2^gmax for grade g;
    * ERR = Σ_r R_r/r · Π_{i<r}(1−R_i). Graded relevance means a
    * near-perfect hit at rank 1 almost fully absorbs the metric — the
    * behavior MRR's binary relevance can't express.
    *
    * DETERMINISM AND SCALE: ranks/grades arrive precomputed (the
    * [[rankingMetricsAtK]] contract); the cascade product is
    * exp(Σ ln(1−R)) over a query-partitioned k-bounded window — R < 1
    * always ((2^g−1)/2^gmax is exact dyadic), so the log never
    * degenerates. Grades must already live in [0, gmax]: out-of-range
    * grades RAISE (a silent clamp above gmax or a negative grade's
    * negative relevance would quietly distort the cascade — callers
    * clamp explicitly if that is the intent). Returns per query:
    * (query, n_ranked, err) 6dp. */
  def errAtK(df: DataFrame, queryCol: String, rankCol: Column,
             gradeCol: Column, k: Int, gmax: Int = 3): DataFrame = {
    require(k >= 1 && gmax >= 1 && gmax <= 30,
      s"need k >= 1 and gmax in [1,30]: k=$k gmax=$gmax")
    val g0 = gradeCol.cast("long")
    val g = when(g0 < 0L || g0 > gmax.toLong,
      raise_error(concat(lit(s"errAtK: grade outside [0,$gmax]: "),
        g0.cast("string")))).otherwise(g0)
    val base = df.select(col(queryCol).as("query"),
        rankCol.cast("long").as("__r"), g.as("__g"))
      .filter(col("__r").isNotNull && col("__r") >= 1L &&
        col("__r") <= k && col("__g").isNotNull)
    val rel = (pow(lit(2.0), col("__g").cast("double")) - 1.0) /
      math.pow(2.0, gmax)
    val wPrec = Window.partitionBy(col("query")).orderBy(col("__r"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base.withColumn("__rel", rel)
      .withColumn("__stop",
        exp(coalesce(sum(log(lit(1.0) - col("__rel"))).over(wPrec),
          lit(0.0))))
      .groupBy("query")
      .agg(count(lit(1)).as("n_ranked"),
        round(sum(col("__rel") / col("__r").cast("double") *
          col("__stop")), 6).as("err"))
  }

  // --------------------------------------------- Mahalanobis outliers
  /** Bivariate Mahalanobis outlier census: d²(x, y) against the
    * population covariance ellipse, counted above `cutoff` (default
    * 9.21034 = χ²₂ at 0.99) — the correlated-pair upgrade of
    * [[robustOutlierStats]]' per-axis MAD rule (a point can sit inside
    * both marginals yet far off the joint ellipse).
    *
    * DETERMINISM AND SCALE: ONE decimal-moment aggregate (the [[linCcc]]
    * shape) broadcasts back; d² is a fixed IEEE closed form per row
    * (2×2 inverse inlined: d² = (v_y·dx² − 2c·dx·dy + v_x·dy²)/det);
    * the census compares identical doubles — no rounding in the count.
    * Degenerate covariance (det ≤ 0) reports nulls loudly. Returns one
    * row: (n, n_outliers, max_d2) 6dp. */
  def mahalanobis2d(df: DataFrame, xCol: Column, yCol: Column,
                    cutoff: Double = 9.21034): DataFrame = {
    require(cutoff > 0.0, s"cutoff must be positive: $cutoff")
    val x = xCol.cast("double"); val y = yCol.cast("double")
    val base = df.select(x.as("__x"), y.as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val m = base.agg(count(lit(1)).as("n"),
      sum(col("__x").cast("decimal(38,6)")).cast("double").as("__sx"),
      sum(col("__y").cast("decimal(38,6)")).cast("double").as("__sy"),
      sum((col("__x") * col("__x")).cast("decimal(38,6)")).cast("double")
        .as("__sxx"),
      sum((col("__y") * col("__y")).cast("decimal(38,6)")).cast("double")
        .as("__syy"),
      sum((col("__x") * col("__y")).cast("decimal(38,6)")).cast("double")
        .as("__sxy"))
    val nD = col("n").cast("double")
    val stats = m.select(col("n"),
      (col("__sx") / nD).as("__mx"), (col("__sy") / nD).as("__my"),
      (col("__sxx") / nD - col("__sx") / nD * (col("__sx") / nD))
        .as("__vx"),
      (col("__syy") / nD - col("__sy") / nD * (col("__sy") / nD))
        .as("__vy"),
      (col("__sxy") / nD - col("__sx") / nD * (col("__sy") / nD))
        .as("__cxy"))
    val dx = col("__x") - col("__mx")
    val dy = col("__y") - col("__my")
    val det = col("__vx") * col("__vy") - col("__cxy") * col("__cxy")
    // the division lives INSIDE the det>0 branch: ANSI mode raises on a
    // naked double division by a degenerate (zero-det) covariance
    val d2 = when(det > 0.0, (col("__vy") * dx * dx -
      lit(2.0) * col("__cxy") * dx * dy + col("__vx") * dy * dy) / det)
    base.crossJoin(broadcast(stats))
      .agg(first(col("n")).as("n"),
        sum(when(d2 > cutoff, 1L).otherwise(0L)).as("__nout"),
        max(d2).as("__mx2"),
        max(det).as("__det"))
      .select(col("n"),
        when(col("__det") > 0.0, col("__nout")).as("n_outliers"),
        round(when(col("__det") > 0.0, col("__mx2")), 6).as("max_d2"))
  }

  // ------------------------------------------------- Dunn post-hoc
  /** Dunn's pairwise rank post-hoc (Dunn 1964) — the follow-up to a
    * significant [[kruskalWallis]]: z_ij = (R̄_i − R̄_j)/σ_ij with the
    * shared pooled-midrank variance
    * σ²_ij = [N(N+1)/12 − Σ(t³−t)/(12(N−1))]·(1/n_i + 1/n_j). Feed the
    * z's to [[bhFdr]] for the multiplicity correction.
    *
    * DETERMINISM AND SCALE — the [[kruskalWallis]] cell shape: pooled
    * DOUBLED midranks ([[midRanks2]]) from the per-(value) rollup, per-group
    * Σ2R and the tie mass (off the ungated rollup) as exact DECIMAL(38,0);
    * pairs from the broadcast k-row group-rollup self-join. Returns one
    * row per pair: (g1, g2, n1, n2, mean_rank_1, mean_rank_2, z) 6dp. */
  def dunnPosthoc(df: DataFrame, groupCol: Column,
                  valueCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val base = df.select(groupCol.cast("string").as("__g"),
        valueCol.cast("double").as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull)
    val cells = base.groupBy("__v").agg(count(lit(1)).as("__t"))
    val r2ByV = midRanks2(cells, Nil, "__v", "dunnPosthoc",
      "__r2" -> col("__t"))
    // the gated ranks are at most 10⁵ cells: broadcast them to the rows
    // rather than the rows to the single-partition window output
    val perG = base.join(broadcast(r2ByV), "__v")
      .groupBy("__g")
      .agg(count(lit(1)).as("__n"),
        sum(col("__r2").cast(dt)).as("__sr2"))
    val ties = cells.agg(sum(col("__t")).as("__nn"),
      sum(col("__t").cast(dt) * col("__t") * col("__t") - col("__t"))
        .as("__tm"))
    val a = perG.select(col("__g").as("g1"), col("__n").as("n1"),
      col("__sr2").as("__sr21"))
    val b = perG.select(col("__g").as("g2"), col("__n").as("n2"),
      col("__sr2").as("__sr22"))
    val pairs = a.join(broadcast(b), col("g1") < col("g2"))
      .crossJoin(broadcast(ties))
    val nD = col("__nn").cast("double")
    val rb1 = col("__sr21").cast("double") / (col("n1").cast("double") * 2.0)
    val rb2 = col("__sr22").cast("double") / (col("n2").cast("double") * 2.0)
    val sig2 = (nD * (nD + 1.0) / 12.0 -
      col("__tm").cast("double") / (lit(12.0) * (nD - 1.0))) *
      (lit(1.0) / col("n1").cast("double") +
        lit(1.0) / col("n2").cast("double"))
    pairs.select(col("g1"), col("g2"), col("n1"), col("n2"),
      round(rb1, 6).as("mean_rank_1"), round(rb2, 6).as("mean_rank_2"),
      round(when(col("n1") > 0L && col("n2") > 0L && sig2 > 0.0,
        (rb1 - rb2) / sqrt(sig2)), 6).as("z"))
  }

  // ------------------------------------------- seasonal Mann-Kendall
  /** Seasonal Mann–Kendall trend test (Hirsch, Slack & Smith 1982) on
    * the zero-filled daily count series with day-of-week seasons:
    * S = Σ_w S_w and Var = Σ_w Var_w over WITHIN-season day pairs, so a
    * strong weekly cycle never masquerades as (or masks) a trend the
    * way it can in [[EventAnalytics.mannKendallDaily]]'s unconditional
    * pairs; z takes the standard ±1 continuity correction.
    *
    * DETERMINISM AND SCALE: the calendar-bounded spine self-joins on
    * (same season, earlier day) — 7× fewer pairs than plain MK; S is an
    * exact integer; per-season tie masses are DECIMAL(38,0); one IEEE
    * finish, 6dp. Returns one row: (n_days, s_stat, var_s, z). */
  def seasonalMannKendall(df: DataFrame, tsCol: String,
                          period: Int = 7): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(period >= 2 && period <= 366, s"period in [2,366]: $period")
    val dt = DecimalType(38, 0)
    val daily = EventAnalytics.resampleDaily(df, tsCol)
      .select(col("day"), pmod(col("day"), lit(period.toLong)).as("__w"),
        col("n"))
    val a = daily.select(col("__w"), col("day").as("da"), col("n").as("xa"))
    val b = daily.select(col("__w"), col("day").as("db"), col("n").as("xb"))
    val s = a.join(broadcast(b), Seq("__w"))
      .filter(col("da") < col("db"))
      .agg(sum(signum((col("xb") - col("xa")).cast("double")).cast("long"))
        .as("__s"))
    val perSeason = daily.groupBy("__w", "n").agg(count(lit(1)).as("__t"))
      .groupBy("__w").agg(sum(col("__t")).as("__nd"),
        sum(col("__t").cast(dt) * (col("__t") - 1L) *
          (col("__t") * 2L + 5L)).as("__tsum"))
    val nD = col("__nd").cast("double")
    val varW = (nD * (nD - 1.0) * (lit(2.0) * nD + 5.0) -
      col("__tsum").cast("double")) / 18.0
    val vTot = perSeason.agg(sum(col("__nd")).as("n_days"),
      sum(varW.cast(DecimalType(28, 12))).as("__v"))
    val m = s.crossJoin(broadcast(vTot))
    val sD = col("__s").cast("double")
    val v = col("__v").cast("double")
    m.select(col("n_days"), col("__s").as("s_stat"),
      round(v, 6).as("var_s"),
      round(when(v > 0.0,
        when(col("__s") > 0L, (sD - 1.0) / sqrt(v))
          .when(col("__s") < 0L, (sD + 1.0) / sqrt(v))
          .otherwise(lit(0.0))), 6).as("z"))
  }

  // ------------------------------------------- Hodges-Lehmann estimator
  /** One-sample Hodges–Lehmann pseudo-median (Hodges & Lehmann 1963):
    * the median of all n(n+1)/2 Walsh averages (x_i + x_j)/2, i ≤ j —
    * the location estimate behind [[wilcoxonSignedRank]], robust like
    * the median but ~50% more efficient at the normal.
    *
    * DETERMINISM AND SCALE: Walsh averages form over VALUE CELLS, never
    * rows — pair (v_i, v_j) carries multiplicity c_i·c_j (i < j) or
    * c_i(c_i+1)/2 (i = j), so the relation is |vocab|²-bounded (the
    * [[kendallTau]] broadcast-cell contract); the estimate is the
    * weighted lower-median ELEMENT of the Walsh rollup (exact integer
    * cumcounts, zero interpolation). A vocabulary above 10⁵ cells RAISES
    * loudly ([[gateValueCells]]) naming the bucketing remedy. Returns one
    * row: (n, n_walsh_values, n_pairs, hl). */
  def hodgesLehmann(df: DataFrame, valueCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val cells = gateValueCells(df.select(valueCol.cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy("__v").agg(count(lit(1)).as("__c")), "__c", "hodgesLehmann")
    val a = cells.select(col("__v").as("va"), col("__c").as("ca"))
    val b = cells.select(col("__v").as("vb"), col("__c").as("cb"))
    // DOUBLED multiplicities (2·c_i·c_j / c_i(c_i+1)) keep everything an
    // exact decimal INTEGER; lower median = smallest w with
    // cum ≥ ceil(M/2) ⟺ 2·cum2 ≥ M2 — no division anywhere
    val walsh = a.join(broadcast(b), col("va") <= col("vb"))
      .select(((col("va") + col("vb")) / 2.0).as("__w"),
        when(col("va") < col("vb"), col("ca").cast(dt) * col("cb") * 2L)
          .otherwise(col("ca").cast(dt) * (col("ca") + 1L)).as("__m2"))
      .groupBy("__w").agg(sum(col("__m2")).as("__m2"))
    val wRun = Window.orderBy(col("__w"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = walsh.withColumn("__cum2", sum(col("__m2")).over(wRun))
    val tot = cells.agg(sum(col("__c")).as("n"))
    val nWalsh = walsh.agg(count(lit(1)).as("n_walsh_values"),
      sum(col("__m2")).as("__mt2"))
    cum.crossJoin(broadcast(nWalsh.select(col("__mt2"))))
      .filter(col("__cum2") * 2L >= col("__mt2"))
      .agg(min(col("__w")).as("hl"))
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(nWalsh.select(col("n_walsh_values"),
        (col("__mt2").cast("double") / 2.0).as("n_pairs"))))
      .select(col("n"), col("n_walsh_values"), col("n_pairs"), col("hl"))
  }

  // ------------------------------------------------- weighted kappa
  /** Cohen's weighted kappa (Cohen 1968) for paired ORDINAL codes, both
    * the linear (|i−j|) and quadratic ((i−j)²) disagreement weights in
    * one pass: κ_w = 1 − N·Σ(w·o_ij) / Σ(w·r_i·c_j) — o the confusion
    * cells, r/c the marginals — the ordinal upgrade of [[cohenKappa]]
    * (off-by-one disagreements cost less than opposite ends).
    *
    * DETERMINISM AND SCALE: one (a, b) cell rollup + broadcast marginal
    * joins (codes are a bounded ordinal vocabulary); Σw·o and Σw·r·c
    * are exact DECIMAL(38,0) integers, so each κ is ONE IEEE division,
    * 6dp. Returns one row: (n, kappa_linear, kappa_quadratic). */
  def weightedKappa(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val base = df.select(aCol.cast("long").as("__a"),
        bCol.cast("long").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
    val cells = base.groupBy("__a", "__b").agg(count(lit(1)).as("__o"))
    val rm = cells.groupBy("__a").agg(sum(col("__o")).as("__r"))
    val cm = cells.groupBy("__b").agg(sum(col("__o")).as("__c"))
    val joint = rm.crossJoin(broadcast(cm))
      .join(cells, Seq("__a", "__b"), "left")
      .select(col("__a"), col("__b"), col("__r"), col("__c"),
        coalesce(col("__o"), lit(0L)).as("__o"))
    val wL = abs(col("__a") - col("__b")).cast(dt)
    val wQ = ((col("__a") - col("__b")) * (col("__a") - col("__b"))).cast(dt)
    val agg = joint.agg(
      sum(col("__o")).as("n"),
      sum(wL * col("__o")).as("__ol"),
      sum(wQ * col("__o")).as("__oq"),
      sum(wL * col("__r") * col("__c")).as("__el"),
      sum(wQ * col("__r") * col("__c")).as("__eq"))
    val nD = col("n").cast("double")
    agg.select(col("n"),
      round(when(col("__el") > 0, lit(1.0) -
        nD * col("__ol").cast("double") / col("__el").cast("double")), 6)
        .as("kappa_linear"),
      round(when(col("__eq") > 0, lit(1.0) -
        nD * col("__oq").cast("double") / col("__eq").cast("double")), 6)
        .as("kappa_quadratic"))
  }

  // --------------------------------------------- Games-Howell post-hoc
  /** Games–Howell pairwise post-hoc comparisons (Games & Howell 1976) —
    * the unequal-variance follow-up to [[welchAnova]]: for every group
    * pair, t = (x̄_j − x̄_i)/√(s_i²/n_i + s_j²/n_j) with
    * Welch–Satterthwaite df and the studentized-range scale
    * q = |Δ|/√(se²/2) (compare q against the range distribution, t
    * against Welch's t — both reported, no CDF materialized).
    *
    * DETERMINISM AND SCALE: ONE decimal-moment groupBy (the
    * [[bartlettTest]] shape) collapses the data to k rows; pairs come
    * from the broadcast k-row self-join on group-name order (k²
    * bounded by the group vocabulary); every statistic is a fixed IEEE
    * shape on the pair row, 6dp. Zero-variance or n<2 pairs null
    * loudly. Returns one row per pair: (g1, g2, n1, n2, mean_diff, t,
    * df, q). */
  def gamesHowell(df: DataFrame, groupCol: Column,
                  valueCol: Column): DataFrame = {
    val v = valueCol.cast("double")
    val g = df.select(groupCol.cast("string").as("__g"), v.as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull)
      .groupBy("__g")
      .agg(count(lit(1)).as("__n"),
        sum(col("__v").cast("decimal(38,6)")).cast("double").as("__sv"),
        sum((col("__v") * col("__v")).cast("decimal(38,6)")).cast("double")
          .as("__pv"))
    def stats(suf: String) = {
      val n = col(s"__n$suf").cast("double")
      val mean = col(s"__sv$suf") / n
      val s2 = (col(s"__pv$suf") - col(s"__sv$suf") * col(s"__sv$suf") / n) /
        (n - 1.0)
      (n, mean, s2)
    }
    val a = g.select(col("__g").as("g1"), col("__n").as("__n1"),
      col("__sv").as("__sv1"), col("__pv").as("__pv1"))
    val b = g.select(col("__g").as("g2"), col("__n").as("__n2"),
      col("__sv").as("__sv2"), col("__pv").as("__pv2"))
    val pairs = a.join(broadcast(b), col("g1") < col("g2"))
    val (n1, m1, s21) = stats("1")
    val (n2, m2, s22) = stats("2")
    val v1 = s21 / n1
    val v2 = s22 / n2
    val se2 = v1 + v2
    val diff = m2 - m1
    val ok = col("__n1") >= 2L && col("__n2") >= 2L && se2 > 0.0
    val dfW = se2 * se2 / (v1 * v1 / (n1 - 1.0) + v2 * v2 / (n2 - 1.0))
    pairs.select(col("g1"), col("g2"), col("__n1").as("n1"),
      col("__n2").as("n2"),
      round(diff, 6).as("mean_diff"),
      round(when(ok, diff / sqrt(se2)), 6).as("t"),
      round(when(ok, dfW), 6).as("df"),
      round(when(ok, abs(diff) / sqrt(se2 / 2.0)), 6).as("q"))
  }

  // -------------------------------------------- McNemar-Bowker symmetry
  /** Bowker's test of symmetry for a paired k×k categorical table
    * (Bowker 1948) — [[mcnemar]]'s k-category generalization: did the
    * category distribution CHANGE direction between two paired
    * observations? χ² = Σ_{i<j} (n_ij − n_ji)²/(n_ij + n_ji) on
    * df = #{unordered pairs with n_ij + n_ji > 0}.
    *
    * DETERMINISM AND SCALE: one (a, b) cell rollup; each unordered
    * pair's two directions meet by CANONICALIZING the cell to
    * (least, greatest) — no self-join at all; the per-pair rational
    * casts DECIMAL(28,12) before the sum (the [[mantelHaenszel]]
    * discipline). Diagonal cells (no change) never contribute.
    * Returns one row: (n_pairs_obs, n_units, df, chi2 6dp). */
  def mcnemarBowker(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cells = df.select(aCol.cast("string").as("__a"),
        bCol.cast("string").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy("__a", "__b").agg(count(lit(1)).as("__n"))
    val offDiag = cells.filter(col("__a") =!= col("__b"))
      .select(least(col("__a"), col("__b")).as("__lo"),
        greatest(col("__a"), col("__b")).as("__hi"),
        when(col("__a") < col("__b"), col("__n")).otherwise(0L).as("__up"),
        when(col("__a") > col("__b"), col("__n")).otherwise(0L).as("__dn"))
      .groupBy("__lo", "__hi")
      .agg(sum(col("__up")).as("__nij"), sum(col("__dn")).as("__nji"))
    val term = ((col("__nij") - col("__nji")) *
      (col("__nij") - col("__nji"))).cast("double") /
      (col("__nij") + col("__nji")).cast("double")
    val total = cells.agg(sum(col("__n")).as("n_units"))
    offDiag.filter(col("__nij") + col("__nji") > 0L)
      .agg(count(lit(1)).as("df"),
        sum(term.cast(DecimalType(28, 12))).as("__chi2"),
        sum(col("__nij") + col("__nji")).as("n_pairs_obs"))
      .crossJoin(broadcast(total))
      .select(col("n_pairs_obs"), col("n_units"), col("df"),
        round(col("__chi2").cast("double"), 6).as("chi2"))
  }

  // ----------------------------------- Lin concordance + Deming family
  /** Lin's concordance correlation coefficient (Lin 1989) between two
    * measurements of the same quantity:
    * CCC = 2·s_xy / (s_x² + s_y² + (x̄ − ȳ)²) — penalizes both scatter
    * (like Pearson) AND location/scale shift (unlike Pearson) — the
    * single-number method-agreement score beside [[blandAltman]]'s
    * bias bands. Population moments, the convention.
    *
    * DETERMINISM AND SCALE: ONE decimal-moment aggregate (x, y, x², y²,
    * xy — the q96 discipline), one fixed IEEE finish, 6dp. Returns one
    * row: (n, mean_x, mean_y, pearson_r, ccc). */
  def linCcc(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val x = xCol.cast("double"); val y = yCol.cast("double")
    val m = df.select(x.as("__x"), y.as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(col("__x").cast("decimal(38,6)")).cast("double").as("__sx"),
        sum(col("__y").cast("decimal(38,6)")).cast("double").as("__sy"),
        sum((col("__x") * col("__x")).cast("decimal(38,6)")).cast("double")
          .as("__sxx"),
        sum((col("__y") * col("__y")).cast("decimal(38,6)")).cast("double")
          .as("__syy"),
        sum((col("__x") * col("__y")).cast("decimal(38,6)")).cast("double")
          .as("__sxy"))
    val nD = col("n").cast("double")
    val mx = col("__sx") / nD; val my = col("__sy") / nD
    val vx = col("__sxx") / nD - mx * mx
    val vy = col("__syy") / nD - my * my
    val cxy = col("__sxy") / nD - mx * my
    m.select(col("n"), round(mx, 6).as("mean_x"), round(my, 6).as("mean_y"),
      round(when(vx > 0.0 && vy > 0.0, cxy / sqrt(vx * vy)), 6)
        .as("pearson_r"),
      round(when(vx + vy + (mx - my) * (mx - my) > 0.0,
        lit(2.0) * cxy / (vx + vy + (mx - my) * (mx - my))), 6).as("ccc"))
  }

  /** Deming regression (errors in BOTH variables; Deming 1943) with
    * error-variance ratio λ: the slope is the closed-form root
    * β = (s_yy − λs_xx + √((s_yy − λs_xx)² + 4λs_xy²)) / (2s_xy),
    * α = ȳ − βx̄ — the method-calibration line OLS gets wrong when x is
    * measured with error too (λ=1 is orthogonal regression).
    *
    * DETERMINISM AND SCALE: the same ONE decimal-moment aggregate as
    * [[linCcc]]; the root is a fixed IEEE shape, 6dp. s_xy = 0 (no
    * association — the root degenerates) reports null slope, loudly.
    * Returns one row: (n, slope, intercept). */
  def demingRegression(df: DataFrame, xCol: Column, yCol: Column,
                       lambda: Double = 1.0): DataFrame = {
    require(lambda > 0.0, s"lambda must be positive: $lambda")
    val x = xCol.cast("double"); val y = yCol.cast("double")
    val m = df.select(x.as("__x"), y.as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(col("__x").cast("decimal(38,6)")).cast("double").as("__sx"),
        sum(col("__y").cast("decimal(38,6)")).cast("double").as("__sy"),
        sum((col("__x") * col("__x")).cast("decimal(38,6)")).cast("double")
          .as("__sxx"),
        sum((col("__y") * col("__y")).cast("decimal(38,6)")).cast("double")
          .as("__syy"),
        sum((col("__x") * col("__y")).cast("decimal(38,6)")).cast("double")
          .as("__sxy"))
    val nD = col("n").cast("double")
    val mx = col("__sx") / nD; val my = col("__sy") / nD
    val sxx = col("__sxx") / nD - mx * mx
    val syy = col("__syy") / nD - my * my
    val sxy = col("__sxy") / nD - mx * my
    val d = syy - lit(lambda) * sxx
    val slope = (d + sqrt(d * d + lit(4.0 * lambda) * sxy * sxy)) /
      (lit(2.0) * sxy)
    m.select(col("n"),
      round(when(col("n") >= 2L && sxy =!= 0.0, slope), 6).as("slope"),
      round(when(col("n") >= 2L && sxy =!= 0.0, my - slope * mx), 6)
        .as("intercept"))
  }

  // ---------------------------------------------- rank-biased overlap
  /** Fixed-depth rank-biased overlap (Webber, Moffat & Zobel 2010)
    * between two rankings of the same items, per group:
    * RBO@k = (1−p)·Σ_{d=1..k} p^{d−1}·X_d/d, normalized by (1−p^k) so
    * identical lists score exactly 1 — the top-weighted ranking
    * similarity for comparing retrieval/recommendation runs where
    * [[kendallTau]] weights every position equally. X_d counts items
    * whose BOTH ranks are ≤ d, so an item enters every depth from
    * m = max(r_a, r_b) on: its total weight is W(m) = Σ_{d=m..k} p^{d−1}/d.
    *
    * DETERMINISM AND SCALE: W materializes once on the k-row depth spine
    * (a suffix cumsum over the BOUNDED depth vocabulary, never items);
    * items join to W(m) by integer depth and reduce in ONE groupBy.
    * Items outside both top-k simply don't contribute; a group with no
    * common top-k items has no row (document, don't zero-fill). An item
    * must carry BOTH ranks to count as common: a null in either rank
    * column (e.g. an outer-join input) is excluded explicitly — Spark's
    * greatest/least skip NULLs, so without the guard a one-list item
    * would silently count and inflate RBO. The float pow/suffix sums sit
    * ~6 orders under the 6dp round.
    * Returns per group: (group..., n_common, rbo). */
  def rankBiasedOverlap(df: DataFrame, groupCols: Seq[String],
                        rankACol: Column, rankBCol: Column, k: Int,
                        p: Double = 0.9): DataFrame = {
    require(k >= 1 && k <= 100000, s"k must be in [1,100000]: $k")
    require(p > 0.0 && p < 1.0, s"p must be in (0,1): $p")
    val items = df
      .filter(rankACol.isNotNull && rankBCol.isNotNull)
      .select(groupCols.map(col) :+
        greatest(rankACol.cast("long"), rankBCol.cast("long")).as("__m"): _*)
      .filter(col("__m") <= k &&
        least(rankACol.cast("long"), rankBCol.cast("long")) >= 1L)
    val spine = df.sparkSession.range(1, k + 1).select(col("id").as("__d"),
      (pow(lit(p), col("id").cast("double") - 1.0) /
        col("id").cast("double")).as("__t"))
    val wSuffix = Window.orderBy(col("__d").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val weights = spine.withColumn("__w", sum(col("__t")).over(wSuffix))
      .select(col("__d").as("__m"), col("__w"))
    val norm = (1.0 - math.pow(p, k)) / (1.0 - p)
    items.join(broadcast(weights), "__m")
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_common"),
        round(sum(col("__w")) / lit(norm), 6).as("rbo"))
  }

  // ------------------------------------------------ column drift report
  /** Numeric column drift between a reference and a current snapshot:
    * per column, null rates, decimal-exact means/sds, and the
    * standardized mean shift (mean_cur − mean_ref)/sd_ref — the quick
    * screen in front of [[psi]]'s binned divergence when a pipeline's
    * input distribution moves.
    *
    * DETERMINISM AND SCALE: ONE combinable aggregate per snapshot
    * carries every column's count/moment sums (one scan each, however
    * many columns — the Validate.report discipline), melted to
    * column-grain rows by a bounded stack. Returns one row per column:
    * (col_name, n_ref, n_cur, null_rate_ref, null_rate_cur, mean_ref,
    * mean_cur, sd_ref, sd_cur, std_shift) 6dp. */
  def columnDriftReport(ref: DataFrame, cur: DataFrame,
                        cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "columnDriftReport needs at least one column")
    def snap(df: DataFrame, tag: String): DataFrame = {
      val aggs = cols.flatMap { c =>
        val v = col(c).cast("double")
        Seq(count(lit(1)).as(s"__n_$c"),
          sum(when(v.isNull, 1L).otherwise(0L)).as(s"__nul_$c"),
          sum(v.cast("decimal(38,6)")).cast("double").as(s"__s_$c"),
          sum((v * v).cast("decimal(38,6)")).cast("double").as(s"__p_$c"))
      }
      val one = df.agg(aggs.head, aggs.tail: _*)
      one.selectExpr(s"stack(${cols.size}, " + cols.map(c =>
        s"'$c', __n_$c, __nul_$c, __s_$c, __p_$c").mkString(", ") +
        s") AS (col_name, __n_$tag, __nul_$tag, __s_$tag, __p_$tag)")
    }
    val r = snap(ref, "r"); val c = snap(cur, "c")
    def stats(tag: String) = {
      val n = col(s"__n_$tag").cast("double")
      val nn = n - col(s"__nul_$tag").cast("double")
      val mean = when(nn > 0.0, col(s"__s_$tag") / nn)
      val sd = when(nn > 1.0, sqrt((col(s"__p_$tag") -
        col(s"__s_$tag") * col(s"__s_$tag") / nn) / (nn - 1.0)))
      (when(n > 0.0, col(s"__nul_$tag").cast("double") / n), mean, sd)
    }
    val (nulR, meanR, sdR) = stats("r")
    val (nulC, meanC, sdC) = stats("c")
    r.join(c, "col_name")
      .select(col("col_name"), col("__n_r").as("n_ref"),
        col("__n_c").as("n_cur"),
        round(nulR, 6).as("null_rate_ref"),
        round(nulC, 6).as("null_rate_cur"),
        round(meanR, 6).as("mean_ref"), round(meanC, 6).as("mean_cur"),
        round(sdR, 6).as("sd_ref"), round(sdC, 6).as("sd_cur"),
        round(when(sdR > 0.0, (meanC - meanR) / sdR), 6).as("std_shift"))
      .orderBy("col_name")
  }

  // --------------------------------------------- Wilson score intervals
  /** Wilson score confidence interval for a per-group proportion (Wilson
    * 1927): center (p̂ + z²/2n)/(1 + z²/n), half-width
    * z·√(p̂(1−p̂)/n + z²/4n²)/(1 + z²/n) — the interval that behaves at
    * the 0/1 boundaries where the Wald interval collapses (the q420
    * odds-ratio CI's one-proportion sibling).
    *
    * DETERMINISM AND SCALE: one groupBy of exact integer counts; the
    * interval is a fixed IEEE shape per group row, 6dp. Returns one row
    * per group: (group..., n, k, p_hat, lo, hi). */
  def wilsonCi(df: DataFrame, groupCols: Seq[String], cond: Column,
               z: Double = 1.96): DataFrame = {
    require(z > 0.0, s"z must be positive: $z")
    val g = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(cond, 1L).otherwise(0L)).as("k"))
    val nD = col("n").cast("double")
    val p = col("k").cast("double") / nD
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / nD
    val center = (p + z2 / (lit(2.0) * nD)) / denom
    val half = lit(z) * sqrt(p * (lit(1.0) - p) / nD +
      z2 / (lit(4.0) * nD * nD)) / denom
    g.select(groupCols.map(col) ++ Seq(col("n"), col("k"),
      round(p, 6).as("p_hat"),
      round(when(col("n") > 0L, center - half), 6).as("lo"),
      round(when(col("n") > 0L, center + half), 6).as("hi")): _*)
  }

  // ------------------------------------------------ Hill tail estimator
  /** Hill estimator of the tail index over the top-k order statistics
    * (Hill 1975): ξ = (1/k)·Σ_{i=1..k} ln(x_(i)/x_(k+1)) over the k
    * largest values, α = 1/ξ — THE heavy-tail exponent estimate, the
    * parametric companion to [[meanExcess]]' shape diagnostic (a stable
    * ξ across k ⇒ Pareto-like tail with exponent α).
    *
    * DETERMINISM AND SCALE: the top-(k+1) rows come from a distributed
    * TakeOrdered on the TOTAL order (value desc, unique tie) — no global
    * sort, no keyless window; the log-ratios on the bounded k+1-row
    * relation sum as DECIMAL(28,12) (the x_(k+1) row contributes exactly
    * ln(1) = 0, so summing all k+1 rows is the k-term sum). The tail
    * lives on (0,∞): a NON-POSITIVE value RAISES. Fewer than k+1 rows
    * null ξ and α loudly. Returns one row:
    * (n_rows, threshold, hill_xi, hill_alpha) 6dp. */
  def hillEstimator(df: DataFrame, valueCol: Column, tieCol: Column,
                    k: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(k >= 2 && k <= 100000, s"k in [2,100000]: $k")
    val v0 = valueCol.cast("double")
    val v = when(v0 <= 0.0,
      raise_error(concat(lit("hillEstimator: non-positive value: "),
        v0.cast("string")))).otherwise(v0)
    val top = df.filter(v0.isNotNull)
      .select(v.as("__v"), tieCol.as("__tie"))
      .orderBy(col("__v").desc, col("__tie"))
      .limit(k + 1)
    val m = top.agg(count(lit(1)).as("n_rows"), min(col("__v")).as("__thr"))
    val s = top.crossJoin(broadcast(m))
      .agg(first(col("n_rows")).as("n_rows"),
        first(col("__thr")).as("__thr"),
        sum(log(col("__v") / col("__thr")).cast(DecimalType(28, 12)))
          .cast("double").as("__sl"))
    s.select(col("n_rows"), round(col("__thr"), 6).as("threshold"),
      round(when(col("n_rows") === (k + 1).toLong,
        col("__sl") / lit(k.toDouble)), 6).as("hill_xi"),
      round(when(col("n_rows") === (k + 1).toLong && col("__sl") > 0.0,
        lit(1.0) / (col("__sl") / lit(k.toDouble))), 6).as("hill_alpha"))
  }

  // -------------------------------------------- Pickands tail estimator
  /** Pickands estimator of the generalized-Pareto shape (Pickands 1975):
    * ξ = ln((x_(k) − x_(2k))/(x_(2k) − x_(4k))) / ln 2 from three upper
    * order statistics — sign-free where [[hillEstimator]] assumes ξ > 0
    * (a negative Pickands ξ flags a FINITE endpoint, which Hill cannot
    * see).
    *
    * DETERMINISM AND SCALE: one TakeOrdered brings the top 4k rows on
    * the total (value desc, unique tie) order; the row_number window
    * runs on that BOUNDED post-limit relation only. A non-increasing
    * spacing (x_(2k) = x_(4k) or x_(k) = x_(2k), e.g. discrete ties)
    * nulls ξ loudly; ln 2 is the inlined literal both engines parse
    * identically. Returns one row: (x_k, x_2k, x_4k, pickands_xi) 6dp. */
  def pickandsEstimator(df: DataFrame, valueCol: Column, tieCol: Column,
                        k: Int): DataFrame = {
    require(k >= 1 && k <= 25000, s"k in [1,25000]: $k")
    val v = valueCol.cast("double")
    val top = df.filter(v.isNotNull)
      .select(v.as("__v"), tieCol.as("__tie"))
      .orderBy(col("__v").desc, col("__tie"))
      .limit(4 * k)
    val w = Window.orderBy(col("__v").desc, col("__tie"))
    val picked = top.withColumn("__rn", row_number().over(w))
      .agg(max(when(col("__rn") === k.toLong, col("__v"))).as("__x1"),
        max(when(col("__rn") === (2 * k).toLong, col("__v"))).as("__x2"),
        max(when(col("__rn") === (4 * k).toLong, col("__v"))).as("__x4"))
    val num = col("__x1") - col("__x2")
    val den = col("__x2") - col("__x4")
    picked.select(round(col("__x1"), 6).as("x_k"),
      round(col("__x2"), 6).as("x_2k"),
      round(col("__x4"), 6).as("x_4k"),
      round(when(den > 0.0 && num > 0.0,
        log(num / den) / lit(0.6931471805599453)), 6).as("pickands_xi"))
  }

  // --------------------------------------- Weibull probability-plot fit
  /** Weibull parameter fit by median-rank regression (the reliability-
    * engineering standard): with F_i = (i − 0.3)/(n + 0.4) (Bernard's
    * median-rank approximation) over the ascending order statistics,
    * ln(−ln(1−F)) is linear in ln(x) with slope = shape k and
    * scale λ = e^(−intercept/k). The whole-distribution companion to the
    * tail-only [[hillEstimator]].
    *
    * DETERMINISM AND SCALE: global ranks come from [[distributedRank]]
    * (cell-partitioned — never a keyless window); every (ln x, ln −ln)
    * pair is a fixed IEEE shape on (exact rank, exact n); the five OLS
    * moments cast DECIMAL(28,12) before the order-free sum. Tied values
    * swap ranks only WITHIN equal x, leaving every moment invariant.
    * Weibull support is (0,∞): a NON-POSITIVE value RAISES. Degenerate
    * spread (zero x-variance) or a non-positive slope null the
    * parameters loudly. Returns one row: (n, shape, scale, r) 6dp. */
  def weibullPlotFit(df: DataFrame, valueCol: Column,
                     tieCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(28, 12)
    val v0 = valueCol.cast("double")
    val v = when(v0 <= 0.0,
      raise_error(concat(lit("weibullPlotFit: non-positive value: "),
        v0.cast("string")))).otherwise(v0)
    val base = df.filter(v0.isNotNull)
      .select(v.as("__v"), tieCol.cast("long").as("__tie"))
    val ranked = distributedRank(base, Seq.empty, "__v", desc = false,
      tieCols = Seq("__tie"), weightCol = None, rnOut = "__rn")
    val nTot = base.agg(count(lit(1)).as("n"))
    val nD = col("n").cast("double")
    val f = (col("__rn").cast("double") - 0.3) / (nD + 0.4)
    val x = log(col("__v"))
    val y = log(-log(lit(1.0) - f))
    val m = ranked.crossJoin(broadcast(nTot))
      .agg(first(col("n")).as("n"),
        sum(x.cast(dt)).cast("double").as("__sx"),
        sum(y.cast(dt)).cast("double").as("__sy"),
        sum((x * x).cast(dt)).cast("double").as("__sxx"),
        sum((y * y).cast(dt)).cast("double").as("__syy"),
        sum((x * y).cast(dt)).cast("double").as("__sxy"))
    val n2 = col("n").cast("double")
    val num = col("__sxy") - col("__sx") * col("__sy") / n2
    val den = col("__sxx") - col("__sx") * col("__sx") / n2
    val vy = col("__syy") - col("__sy") * col("__sy") / n2
    val slope = when(den > 0.0, num / den)
    val icept = col("__sy") / n2 - slope * (col("__sx") / n2)
    m.select(col("n"),
      round(slope, 6).as("shape"),
      round(when(slope > 0.0, exp(-(icept / slope))), 6).as("scale"),
      round(when(den > 0.0 && vy > 0.0, num / sqrt(den * vy)), 6).as("r"))
  }

  // ------------------------------------ PPCC against the exponential
  /** Probability-plot correlation coefficient vs the exponential (Filliben
    * 1975's goodness-of-fit family): Pearson r between the ascending
    * order statistics and the exponential plotting quantiles
    * q_i = −ln(1 − p_i), p_i = (i − 0.375)/(n + 0.25) (Blom) — the
    * "how straight is the QQ plot" number beside [[ksExponential]]'s
    * max-gap distance (r near 1 ⇒ exponential shape; location/scale
    * free by correlation invariance).
    *
    * DETERMINISM AND SCALE: ranks from [[distributedRank]], moments as
    * DECIMAL(28,12) — the [[weibullPlotFit]] discipline exactly; tied
    * values swap ranks only within equal v, leaving the moments
    * invariant. Returns one row: (n, ppcc) 6dp. */
  def ppccExponential(df: DataFrame, valueCol: Column,
                      tieCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(28, 12)
    val base = df.filter(valueCol.isNotNull)
      .select(valueCol.cast("double").as("__v"),
        tieCol.cast("long").as("__tie"))
    val ranked = distributedRank(base, Seq.empty, "__v", desc = false,
      tieCols = Seq("__tie"), weightCol = None, rnOut = "__rn")
    val nTot = base.agg(count(lit(1)).as("n"))
    val nD = col("n").cast("double")
    val p = (col("__rn").cast("double") - 0.375) / (nD + 0.25)
    val q = -log(lit(1.0) - p)
    val x = col("__v")
    val m = ranked.crossJoin(broadcast(nTot))
      .agg(first(col("n")).as("n"),
        sum(x.cast(dt)).cast("double").as("__sx"),
        sum(q.cast(dt)).cast("double").as("__sq"),
        sum((x * x).cast(dt)).cast("double").as("__sxx"),
        sum((q * q).cast(dt)).cast("double").as("__sqq"),
        sum((x * q).cast(dt)).cast("double").as("__sxq"))
    val n2 = col("n").cast("double")
    val num = col("__sxq") - col("__sx") * col("__sq") / n2
    val vx = col("__sxx") - col("__sx") * col("__sx") / n2
    val vq = col("__sqq") - col("__sq") * col("__sq") / n2
    m.select(col("n"),
      round(when(vx > 0.0 && vq > 0.0, num / sqrt(vx * vq)), 6).as("ppcc"))
  }

  /** Two-sample rank cells with doubled midranks and broadcast group
    * totals — the scaffold for the linear-rank-statistic family below
    * ([[conoverSquaredRanks]]' shape, factored): the [[twoSampleCells]]
    * rollup of the string group and double value, pooled doubled
    * midranks ([[midRanks2]]). Columns:
    * (__v, __ca, __cb, __r2, __na, __nb). */
  private def twoSampleRankCells(df: DataFrame, groupCol: Column,
      valueCol: Column, a: String, b: String): DataFrame = {
    val base = df.filter(groupCol.cast("string").isin(a, b) &&
        valueCol.isNotNull)
      .select(groupCol.cast("string").as("__g"),
        valueCol.cast("double").as("__v"))
    val (cells, tot) = twoSampleCells(base, col("__g"), col("__v"), a, b,
      "twoSampleRankCells", "__r2" -> (col("__ca") + col("__cb")))
    cells.crossJoin(broadcast(
      tot.select(col("n_a").as("__na"), col("n_b").as("__nb"))))
  }

  /** Permutation-moment z for a linear rank statistic T = Σ_A s(i):
    * E[T] = n_A·S/N, Var[T] = n_A·n_B·(S₂ − S²/N)/(N(N−1)) — EXACT
    * under ties because the moments come from the realized score
    * multiset, not a no-ties closed form. Integer scores (doubled /
    * quadrupled midranks) sum as DECIMAL(38,0); scale factors cancel in
    * z. Returns columns (n_a, n_b, __t, __z). */
  private def linearRankZ(cells: DataFrame, score: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val agg = cells.agg(first(col("__na")).as("n_a"),
      first(col("__nb")).as("n_b"),
      sum(col("__ca").cast(dt) * score).as("__t"),
      sum((col("__ca") + col("__cb")).cast(dt) * score).as("__s"),
      sum((col("__ca") + col("__cb")).cast(dt) * score * score).as("__s2"))
    val nA = col("n_a").cast("double"); val nB = col("n_b").cast("double")
    val nD = nA + nB
    val sD = col("__s").cast("double")
    val varT = nA * nB / (nD * (nD - 1.0)) *
      (col("__s2").cast("double") - sD * sD / nD)
    agg.select(col("n_a"), col("n_b"), col("__t"),
      when(col("n_a") > 0L && col("n_b") > 0L && varT > 0.0,
        (col("__t").cast("double") - nA * sD / nD) / sqrt(varT))
        .as("__z"))
  }

  // ------------------------------------------------ Ansari–Bradley test
  /** Ansari–Bradley two-sample scale test (1960): scores
    * s = min(R, N+1−R) peak at the center, so a group with SMALLER
    * dispersion collects larger scores — the rank test for equal spread
    * given equal centers ([[conoverSquaredRanks]]' classical sibling;
    * Conover needs no equal-center assumption, AB is the textbook
    * component [[lepageTest]] builds on).
    *
    * DETERMINISM AND SCALE: doubled scores min(2R, 2(N+1)−2R) stay
    * integer under ties; the z uses exact permutation moments of the
    * realized score multiset (tie-robust by construction). Returns one
    * row: (n_a, n_b, t_stat, z) 6dp. */
  def ansariBradley(df: DataFrame, groupCol: Column, valueCol: Column,
                    a: String, b: String): DataFrame = {
    val cells = twoSampleRankCells(df, groupCol, valueCol, a, b)
    val s2 = least(col("__r2"),
      (col("__na") + col("__nb") + 1L) * 2L - col("__r2"))
    linearRankZ(cells, s2)
      .select(col("n_a"), col("n_b"),
        round(col("__t").cast("double") / 2.0, 6).as("t_stat"),
        round(col("__z"), 6).as("z"))
  }

  // --------------------------------------------------- Mood scale test
  /** Mood's two-sample scale test (1954): scores (R − (N+1)/2)² grow
    * toward BOTH extremes, so the wider group collects more — the
    * variance-style counterpart of [[ansariBradley]]'s tent scores.
    *
    * DETERMINISM AND SCALE: quadrupled scores (2R − (N+1))² stay exact
    * integers under ties; permutation-moment z as in [[ansariBradley]].
    * Returns one row: (n_a, n_b, t_stat, z) 6dp. */
  def moodScaleTest(df: DataFrame, groupCol: Column, valueCol: Column,
                    a: String, b: String): DataFrame = {
    val cells = twoSampleRankCells(df, groupCol, valueCol, a, b)
    val d = col("__r2") - (col("__na") + col("__nb") + 1L)
    linearRankZ(cells, d * d)
      .select(col("n_a"), col("n_b"),
        round(col("__t").cast("double") / 4.0, 6).as("t_stat"),
        round(col("__z"), 6).as("z"))
  }

  // -------------------------------------------------------- Lepage test
  /** Lepage two-sample location-AND-scale test (1971):
    * L = Z_W² + Z_AB² combining the Wilcoxon rank-sum (location) and
    * [[ansariBradley]] (scale) z's — rejects when the groups differ in
    * EITHER, the omnibus a plain [[mannWhitney]] misses when centers
    * match but spreads don't. L ~ χ²₂ under the null.
    *
    * DETERMINISM AND SCALE: both components come from the SAME cell
    * relation and exact permutation moments; one extra aggregate, no
    * extra scan. A degenerate component (zero variance) nulls L loudly.
    * Returns one row: (n_a, n_b, z_w, z_ab, lepage) 6dp. */
  def lepageTest(df: DataFrame, groupCol: Column, valueCol: Column,
                 a: String, b: String): DataFrame = {
    val cells = Ops.materialize(twoSampleRankCells(df, groupCol, valueCol, a, b))
    val w = linearRankZ(cells, col("__r2"))
      .select(col("n_a"), col("n_b"), col("__z").as("__zw"))
    val ab = linearRankZ(cells, least(col("__r2"),
        (col("__na") + col("__nb") + 1L) * 2L - col("__r2")))
      .select(col("__z").as("__zab"))
    w.crossJoin(ab)
      .select(col("n_a"), col("n_b"),
        round(col("__zw"), 6).as("z_w"),
        round(col("__zab"), 6).as("z_ab"),
        round(col("__zw") * col("__zw") + col("__zab") * col("__zab"), 6)
          .as("lepage"))
  }

  // ------------------------------------------------------- Cucconi test
  /** Cucconi two-sample location-scale test (1968): standardized sums of
    * squared ranks U* and squared ANTIranks V* (which shift in opposite
    * directions under a location move and the same direction under a
    * scale move), combined through their correlation ρ:
    * C = (U*² + V*² − 2ρU*V*) / (2(1−ρ²)) — the elegant single-quadratic
    * alternative to [[lepageTest]]'s two-part sum (and often more
    * powerful; Marozzi 2009).
    *
    * DETERMINISM AND SCALE: quadrupled scores (2R)² and (2(N+1)−2R)²
    * stay exact integers under ties; U*, V*, and ρ all come from exact
    * permutation moments of the realized score multiset in ONE
    * aggregate. |ρ| = 1 (degenerate) nulls C loudly. Returns one row:
    * (n_a, n_b, u_std, v_std, rho, cucconi) 6dp. */
  def cucconiTest(df: DataFrame, groupCol: Column, valueCol: Column,
                  a: String, b: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val cells = twoSampleRankCells(df, groupCol, valueCol, a, b)
    val f4 = col("__r2") * col("__r2")
    val g0 = (col("__na") + col("__nb") + 1L) * 2L - col("__r2")
    val g4 = g0 * g0
    val ct = col("__ca") + col("__cb")
    val agg = cells.agg(first(col("__na")).as("n_a"),
      first(col("__nb")).as("n_b"),
      sum(col("__ca").cast(dt) * f4).as("__tf"),
      sum(col("__ca").cast(dt) * g4).as("__tg"),
      sum(ct.cast(dt) * f4).as("__sf"),
      sum(ct.cast(dt) * g4).as("__sg"),
      sum(ct.cast(dt) * f4 * f4).as("__sf2"),
      sum(ct.cast(dt) * g4 * g4).as("__sg2"),
      sum(ct.cast(dt) * f4 * g4).as("__sfg"))
    val nA = col("n_a").cast("double"); val nB = col("n_b").cast("double")
    val nD = nA + nB
    val c0 = nA * nB / (nD * (nD - 1.0))
    def d(c: String) = col(c).cast("double")
    val varF = c0 * (d("__sf2") - d("__sf") * d("__sf") / nD)
    val varG = c0 * (d("__sg2") - d("__sg") * d("__sg") / nD)
    val cov = c0 * (d("__sfg") - d("__sf") * d("__sg") / nD)
    val ok = col("n_a") > 0L && col("n_b") > 0L && varF > 0.0 && varG > 0.0
    val uS = when(ok, (d("__tf") - nA * d("__sf") / nD) / sqrt(varF))
    val vS = when(ok, (d("__tg") - nA * d("__sg") / nD) / sqrt(varG))
    val rho = when(ok, cov / sqrt(varF * varG))
    agg.select(col("n_a"), col("n_b"),
      round(uS, 6).as("u_std"), round(vS, 6).as("v_std"),
      round(rho, 6).as("rho"),
      round(when(lit(1.0) - rho * rho > 0.0,
        (uS * uS + vS * vS - lit(2.0) * rho * uS * vS) /
          (lit(2.0) * (lit(1.0) - rho * rho))), 6).as("cucconi"))
  }

  // -------------------------------------- Benjamini–Yekutieli step-up
  /** Benjamini–Yekutieli FDR control ([[bhFdr]] under ARBITRARY
    * dependence, 2001): the BH threshold divides by the harmonic factor
    * c(m) = Σ_{i=1..m} 1/i, buying validity for correlated tests at the
    * cost of power — the safe default when the per-slice tests share
    * data.
    *
    * DETERMINISM AND SCALE: ranks are 1..m exactly, so c(m) is the
    * DECIMAL(28,12) sum of 1/rank over the battery itself; the boundary
    * compare p·m·qDen·c ≤ qNum·rank mirrors [[bhFdr]]'s fixed shape
    * with one extra factor. Windows run over the BOUNDED test battery.
    * A NULL p-value RAISES (the [[storeyQ]] discipline — engines rank
    * nulls on opposite ends). Returns per test:
    * (id, p_value, rank, threshold, discovery). */
  def byFdr(df: DataFrame, idCol: String, pCol: Column,
            qNum: Int, qDen: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(qNum > 0 && qDen > 0 && qNum <= qDen,
      s"q fraction out of range: $qNum/$qDen")
    val m = df.agg(count(lit(1)).as("__m"))
    val wRank = Window.orderBy(col("p_value").asc, col("id").asc)
    val wAll = Window.partitionBy(lit(1))
    // a NULL p RAISES (the storeyQ discipline): Spark ranks NULLS FIRST,
    // DuckDB NULLS LAST, so a silently-admitted null would shift every
    // rank, c(m), and threshold differently on the two engines
    val p0 = pCol.cast("double")
    val ranked = df
      .select(col(idCol).as("id"),
        when(p0.isNull, raise_error(concat(
            lit("byFdr: null p-value for id "), col(idCol).cast("string"))))
          .otherwise(p0).as("p_value"))
      .crossJoin(broadcast(m))
      .withColumn("rank", row_number().over(wRank))
    val cm = ranked.agg(sum((lit(1.0) / col("rank").cast("double"))
      .cast(DecimalType(28, 12))).cast("double").as("__c"))
    ranked.crossJoin(broadcast(cm))
      .withColumn("__ok",
        col("p_value") * col("__m").cast("double") * qDen * col("__c") <=
          lit(qNum).cast("double") * col("rank").cast("double"))
      .withColumn("__k", max(when(col("__ok"), col("rank"))).over(wAll))
      .select(col("id"), col("p_value"), col("rank"),
        round(lit(qNum).cast("double") * col("rank").cast("double") /
          (lit(qDen).cast("double") * col("__m").cast("double") *
            col("__c")), 6).as("threshold"),
        coalesce(col("rank") <= col("__k"), lit(false)).as("discovery"))
  }

  // --------------------------------------------------- Storey q-values
  /** Storey's q-values at a fixed λ (Storey 2002): π̂₀ =
    * min(1, #(p > λ)/((1−λ)·m)) estimates the true-null share, then
    * q_(i) = min(1, min_{j ≥ i} π̂₀·m·p_(j)/j) — the per-test FDR price
    * tag where [[bhFdr]] gives only an accept/reject cut. λ is a FIXED
    * parameter (no spline smoothing — deterministic by construction,
    * documented).
    *
    * DETERMINISM AND SCALE: π̂₀ is one exact-count rational; the suffix
    * min runs over the bounded battery in rank order ([[multipleTesting]]
    * windows). A NULL p-value RAISES (dropping a test shrinks m and
    * shifts every q). Returns per test:
    * (id, p_value, rank, pi0, q_value) 6dp. */
  def storeyQ(df: DataFrame, idCol: String, pCol: Column,
              lambda: Double = 0.5): DataFrame = {
    require(lambda > 0.0 && lambda < 1.0, s"lambda in (0,1): $lambda")
    val p0 = pCol.cast("double")
    val base = df.select(col(idCol).as("id"),
      when(p0.isNull, raise_error(concat(
          lit("storeyQ: null p-value for id "), col(idCol).cast("string"))))
        .otherwise(p0).as("p_value"))
    val m = base.agg(count(lit(1)).as("__m"),
      sum(when(col("p_value") > lambda, 1L).otherwise(0L)).as("__over"))
    val wRank = Window.orderBy(col("p_value").asc, col("id").asc)
    val wSuffix = wRank
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val md = col("__m").cast("double")
    val pi0 = least(lit(1.0),
      col("__over").cast("double") / (lit(1.0 - lambda) * md))
    base.crossJoin(broadcast(m))
      .withColumn("rank", row_number().over(wRank))
      .withColumn("__raw",
        pi0 * md * col("p_value") / col("rank").cast("double"))
      .select(col("id"), round(col("p_value"), 6).as("p_value"),
        col("rank"), round(pi0, 6).as("pi0"),
        round(least(lit(1.0), min(col("__raw")).over(wSuffix)), 6)
          .as("q_value"))
  }

  // --------------------------------------------- D'Agostino K² omnibus
  /** D'Agostino–Pearson K² normality omnibus (D'Agostino, Belanger &
    * D'Agostino 1990): the skewness z (D'Agostino 1970 transform) and
    * kurtosis z (Anscombe–Glynn 1983 transform, cbrt-based) each
    * normalize their finite-sample null, K² = Z₁² + Z₂² ~ χ²₂ — the
    * small-sample-honest upgrade of [[jarqueBera]]'s asymptotic form.
    *
    * DETERMINISM AND SCALE: ONE aggregate of four decimal raw-moment
    * sums; central moments come from the fixed raw-moment algebra; both
    * transforms are single fixed IEEE shapes per the published formulas
    * (cbrt, not pow(·,1/3) — negative bases stay real on both engines).
    * n < 20 nulls the z's loudly (the transforms' own validity floor).
    * Returns one row: (n, skew, kurt_excess, z_skew, z_kurt, k2) 6dp. */
  def dagostinoK2(df: DataFrame, valueCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 6)
    val v = valueCol.cast("double")
    val m = df.filter(v.isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(v.cast(dt)).cast("double").as("__s1"),
        sum((v * v).cast(dt)).cast("double").as("__s2"),
        sum((v * v * v).cast(dt)).cast("double").as("__s3"),
        sum((v * v * v * v).cast(dt)).cast("double").as("__s4"))
    val nD = col("n").cast("double")
    val s1 = col("__s1"); val s2 = col("__s2")
    val s3 = col("__s3"); val s4 = col("__s4")
    val m2 = (s2 - s1 * s1 / nD) / nD
    val m3 = (s3 - lit(3.0) * s1 * s2 / nD +
      lit(2.0) * s1 * s1 * s1 / (nD * nD)) / nD
    val m4 = (s4 - lit(4.0) * s1 * s3 / nD +
      lit(6.0) * s1 * s1 * s2 / (nD * nD) -
      lit(3.0) * s1 * s1 * s1 * s1 / (nD * nD * nD)) / nD
    val g1 = when(m2 > 0.0, m3 / sqrt(m2 * m2 * m2))
    val g2 = when(m2 > 0.0, m4 / (m2 * m2) - 3.0)
    val okN = col("n") >= 20L
    // D'Agostino 1970 skewness transform
    val y = g1 * sqrt((nD + 1.0) * (nD + 3.0) / (lit(6.0) * (nD - 2.0)))
    val b2 = lit(3.0) * (nD * nD + lit(27.0) * nD - 70.0) * (nD + 1.0) *
      (nD + 3.0) / ((nD - 2.0) * (nD + 5.0) * (nD + 7.0) * (nD + 9.0))
    val w2 = sqrt(lit(2.0) * (b2 - 1.0)) - 1.0
    val dl = lit(1.0) / sqrt(log(sqrt(w2)))
    val alpha = sqrt(lit(2.0) / (w2 - 1.0))
    val z1 = when(okN && g1.isNotNull,
      dl * log(y / alpha + sqrt(y / alpha * (y / alpha) + 1.0)))
    // Anscombe-Glynn 1983 kurtosis transform
    val eG2 = lit(-6.0) / (nD + 1.0)
    val vG2 = lit(24.0) * nD * (nD - 2.0) * (nD - 3.0) /
      ((nD + 1.0) * (nD + 1.0) * (nD + 3.0) * (nD + 5.0))
    val xStd = (g2 - eG2) / sqrt(vG2)
    val sb1 = lit(6.0) * (nD * nD - lit(5.0) * nD + 2.0) /
      ((nD + 7.0) * (nD + 9.0)) *
      sqrt(lit(6.0) * (nD + 3.0) * (nD + 5.0) /
        (nD * (nD - 2.0) * (nD - 3.0)))
    val aA = lit(6.0) + lit(8.0) / sb1 *
      (lit(2.0) / sb1 + sqrt(lit(1.0) + lit(4.0) / (sb1 * sb1)))
    val z2 = when(okN && g2.isNotNull,
      ((lit(1.0) - lit(2.0) / (lit(9.0) * aA)) -
        cbrt((lit(1.0) - lit(2.0) / aA) /
          (lit(1.0) + xStd * sqrt(lit(2.0) / (aA - 4.0))))) /
        sqrt(lit(2.0) / (lit(9.0) * aA)))
    m.select(col("n"), round(g1, 6).as("skew"),
      round(g2, 6).as("kurt_excess"),
      round(z1, 6).as("z_skew"), round(z2, 6).as("z_kurt"),
      round(z1 * z1 + z2 * z2, 6).as("k2"))
  }

  // ----------------------------------------------------- Chow break test
  /** Chow structural-break test (1960) for a simple OLS y ~ x at a FIXED
    * breakpoint: F = ((SSR_pooled − SSR₁ − SSR₂)/2) /
    * ((SSR₁+SSR₂)/(n−4)) ~ F(2, n−4) — did the line's level or slope
    * change at x = breakX? The hypothesis-test companion to
    * [[EventAnalytics.changePoint]]'s break-locator (which finds the
    * point; this prices a PRE-declared one, the valid-inference way).
    *
    * DETERMINISM AND SCALE: three decimal-moment OLS blocks (pooled and
    * both segments) off ONE conditional aggregate — one scan; each SSR
    * is a fixed IEEE shape. Segments need ≥ 3 points and positive
    * x-variance each; degenerate splits null loudly. Returns one row:
    * (n, n_left, n_right, f_stat) 6dp. */
  def chowTest(df: DataFrame, xCol: Column, yCol: Column,
               breakX: Double): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 6)
    val x = xCol.cast("double"); val y = yCol.cast("double")
    val left = x < breakX
    def block(tag: String, cond: Column) = Seq(
      sum(when(cond, 1L).otherwise(0L)).as(s"__n$tag"),
      sum(when(cond, x.cast(dt))).cast("double").as(s"__sx$tag"),
      sum(when(cond, y.cast(dt))).cast("double").as(s"__sy$tag"),
      sum(when(cond, (x * x).cast(dt))).cast("double").as(s"__sxx$tag"),
      sum(when(cond, (x * y).cast(dt))).cast("double").as(s"__sxy$tag"),
      sum(when(cond, (y * y).cast(dt))).cast("double").as(s"__syy$tag"))
    val m = df.filter(x.isNotNull && y.isNotNull)
      .agg((block("p", lit(true)) ++ block("l", left) ++
        block("r", !left)).head,
        (block("p", lit(true)) ++ block("l", left) ++
          block("r", !left)).tail: _*)
    def ssr(tag: String): Column = {
      val n = col(s"__n$tag").cast("double")
      val sxx = col(s"__sxx$tag") - col(s"__sx$tag") * col(s"__sx$tag") / n
      val sxy = col(s"__sxy$tag") - col(s"__sx$tag") * col(s"__sy$tag") / n
      val syy = col(s"__syy$tag") - col(s"__sy$tag") * col(s"__sy$tag") / n
      when(sxx > 0.0, syy - sxy * sxy / sxx)
    }
    val nD = col("__np").cast("double")
    val ok = col("__nl") >= 3L && col("__nr") >= 3L
    val sP = ssr("p"); val sL = ssr("l"); val sR = ssr("r")
    val f = when(ok && sL + sR > 0.0,
      ((sP - sL - sR) / 2.0) / ((sL + sR) / (nD - 4.0)))
    m.select(col("__np").as("n"), col("__nl").as("n_left"),
      col("__nr").as("n_right"), round(f, 6).as("f_stat"))
  }

  // ------------------------------------------ Cook's distance census
  /** Cook's distance census for a simple OLS y ~ x: per point
    * D_i = e_i²·h_i / (2·s²·(1−h_i)²) with leverage
    * h_i = 1/n + (x_i−x̄)²/S_xx — how much the fitted line moves if the
    * point drops. Reports the count above the 4/n rule of thumb, the
    * max D, and the argmax point's tie id — the influence screen
    * [[robustOutlierStats]]' marginal rules can't do (a point can be
    * inlier in x AND y yet steer the slope).
    *
    * DETERMINISM AND SCALE: one decimal-moment aggregate broadcasts
    * (a, b, s², S_xx) back; D_i is a fixed IEEE shape per row — both
    * engines compute identical doubles, so the max election filters on
    * equality and breaks ties by MIN(tie). Degenerate fits (n < 4,
    * zero x-variance, zero SSR) return the n-row but null census.
    * Returns one row: (n, n_influential, max_cooks, top_tie) 6dp. */
  def cooksDistanceCensus(df: DataFrame, xCol: Column, yCol: Column,
                          tieCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 6)
    val base = df.filter(xCol.isNotNull && yCol.isNotNull)
      .select(xCol.cast("double").as("__x"), yCol.cast("double").as("__y"),
        tieCol.cast("long").as("__tie"))
    val m = base.agg(count(lit(1)).as("__n"),
      sum(col("__x").cast(dt)).cast("double").as("__sx"),
      sum(col("__y").cast(dt)).cast("double").as("__sy"),
      sum((col("__x") * col("__x")).cast(dt)).cast("double").as("__sxx"),
      sum((col("__x") * col("__y")).cast(dt)).cast("double").as("__sxy"),
      sum((col("__y") * col("__y")).cast(dt)).cast("double").as("__syy"))
    val nD = col("__n").cast("double")
    val sxxC = col("__sxx") - col("__sx") * col("__sx") / nD
    val sxyC = col("__sxy") - col("__sx") * col("__sy") / nD
    val syyC = col("__syy") - col("__sy") * col("__sy") / nD
    val fit = m.select(col("__n"), col("__sx"), col("__sy"),
      when(col("__n") >= 4L && sxxC > 0.0, sxyC / sxxC).as("__b"),
      sxxC.as("__sxxc"),
      when(col("__n") >= 4L && sxxC > 0.0,
        (syyC - sxyC * sxyC / sxxC) / (nD - 2.0)).as("__s2"))
    val j = base.crossJoin(broadcast(fit))
    val n2 = col("__n").cast("double")
    val mean = col("__sx") / n2
    val aInt = col("__sy") / n2 - col("__b") * mean
    val withD = j
      .withColumn("__h", lit(1.0) / n2 +
        (col("__x") - mean) * (col("__x") - mean) / col("__sxxc"))
      .withColumn("__e", col("__y") - (aInt + col("__b") * col("__x")))
      .withColumn("__d",
        when(col("__s2") > 0.0 && col("__h") < 1.0,
          col("__e") * col("__e") * col("__h") /
            (lit(2.0) * col("__s2") *
              (lit(1.0) - col("__h")) * (lit(1.0) - col("__h")))))
    val agg = withD.agg(first(col("__n")).as("n"),
      sum(when(col("__d") > lit(4.0) / n2, 1L).otherwise(0L))
        .as("n_influential"),
      max(col("__d")).as("__mx"))
    val top = withD.join(broadcast(agg.select(col("__mx"))),
        col("__d") === col("__mx"))
      .agg(min(col("__tie")).as("top_tie"))
    agg.crossJoin(top)
      .select(col("n"), col("n_influential"),
        round(col("__mx"), 6).as("max_cooks"), col("top_tie"))
  }

  // --------------------------------------------- Breusch–Pagan test
  /** Breusch–Pagan heteroscedasticity test (1979), single-regressor LM
    * form: regress the squared OLS residuals on x; BP = n·R² ~ χ²₁ —
    * does the error VARIANCE drift with x (fan-shaped residuals), the
    * assumption [[linearFit]]'s plain standard errors lean on.
    *
    * DETERMINISM AND SCALE: pass 1 is one decimal-moment aggregate for
    * (a, b); pass 2 re-scans with the BROADCAST fit and accumulates the
    * auxiliary moments of z = e² (R² = S_xz²/(S_xx·S_zz) needs no
    * second regression); each term is a fixed IEEE shape cast
    * DECIMAL(38,6). Degenerate (zero x- or z-variance) nulls loudly.
    * Returns one row: (n, slope, bp_stat) 6dp. */
  def breuschPagan(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 6)
    val base = df.filter(xCol.isNotNull && yCol.isNotNull)
      .select(xCol.cast("double").as("__x"), yCol.cast("double").as("__y"))
    val m = base.agg(count(lit(1)).as("__n"),
      sum(col("__x").cast(dt)).cast("double").as("__sx"),
      sum(col("__y").cast(dt)).cast("double").as("__sy"),
      sum((col("__x") * col("__x")).cast(dt)).cast("double").as("__sxx"),
      sum((col("__x") * col("__y")).cast(dt)).cast("double").as("__sxy"))
    val nD = col("__n").cast("double")
    val sxxC = col("__sxx") - col("__sx") * col("__sx") / nD
    val sxyC = col("__sxy") - col("__sx") * col("__sy") / nD
    val fit = m.select(col("__n"), col("__sx"), col("__sy"),
      when(col("__n") >= 3L && sxxC > 0.0, sxyC / sxxC).as("__b"))
    val j = base.crossJoin(broadcast(fit))
    val n2 = col("__n").cast("double")
    val aInt = col("__sy") / n2 - col("__b") * (col("__sx") / n2)
    val e = col("__y") - (aInt + col("__b") * col("__x"))
    val z = e * e
    val aux = j.agg(first(col("__n")).as("n"),
      first(col("__b")).as("__b"),
      sum(col("__x").cast(dt)).cast("double").as("__ax"),
      sum(z.cast(dt)).cast("double").as("__az"),
      sum((col("__x") * col("__x")).cast(dt)).cast("double").as("__axx"),
      sum((col("__x") * z).cast(dt)).cast("double").as("__axz"),
      sum((z * z).cast(dt)).cast("double").as("__azz"))
    val n3 = col("n").cast("double")
    val vxx = col("__axx") - col("__ax") * col("__ax") / n3
    val vxz = col("__axz") - col("__ax") * col("__az") / n3
    val vzz = col("__azz") - col("__az") * col("__az") / n3
    aux.select(col("n"), round(col("__b"), 6).as("slope"),
      round(when(vxx > 0.0 && vzz > 0.0,
        n3 * (vxz * vxz / (vxx * vzz))), 6).as("bp_stat"))
  }

  // --------------------------------------- variance-homogeneity panel
  /** Cochran's C and Hartley's F_max quick screens (Cochran 1941,
    * Hartley 1950): C = max s²ᵢ / Σs²ᵢ and F_max = max s²ᵢ / min s²ᵢ
    * over group variances — the one-scan triage in front of
    * [[bartlettTest]]'s likelihood ratio (C catches ONE wild group,
    * F_max the extremes' ratio). Reports the offending group.
    *
    * DETERMINISM AND SCALE: one decimal-moment groupBy; each s² is a
    * fixed IEEE shape, identical on both engines, so the max/min
    * ELECTIONS compare equal doubles (ties break to the MIN group
    * string). Groups need n ≥ 2; a zero min-variance nulls F_max
    * loudly. Returns one row:
    * (n_groups, n, max_group, cochran_c, hartley_fmax) 6dp. */
  def variancePanel(df: DataFrame, groupCol: Column,
                    valueCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 6)
    val x = valueCol.cast("double")
    val g = df.filter(x.isNotNull && groupCol.isNotNull)
      .groupBy(groupCol.cast("string").as("__g"))
      .agg(count(lit(1)).as("__n"), sum(x.cast(dt)).as("__s"),
        sum((x * x).cast(dt)).as("__ss"))
      .filter(col("__n") >= 2L)
    val nD = col("__n").cast("double")
    val s2 = (col("__ss").cast("double") -
      col("__s").cast("double") * col("__s").cast("double") / nD) /
      (nD - 1.0)
    val withV = g.select(col("__g"), col("__n"), s2.as("__v"))
    val tot = withV.agg(count(lit(1)).as("n_groups"), sum(col("__n")).as("n"),
      sum(col("__v").cast(DecimalType(28, 12))).cast("double").as("__sv"),
      max(col("__v")).as("__mx"), min(col("__v")).as("__mn"))
    val top = withV.crossJoin(broadcast(tot.select(col("__mx"))))
      .filter(col("__v") === col("__mx"))
      .agg(min(col("__g")).as("max_group"))
    tot.crossJoin(top)
      .select(col("n_groups"), col("n"), col("max_group"),
        round(when(col("__sv") > 0.0, col("__mx") / col("__sv")), 6)
          .as("cochran_c"),
        round(when(col("__mn") > 0.0, col("__mx") / col("__mn")), 6)
          .as("hartley_fmax"))
  }

  // ------------------------------------------------- Levene (mean) test
  /** Levene's variance-homogeneity test, classic mean-centered form
    * (Levene 1960): one-way ANOVA on |x − x̄_g| — more powerful than
    * [[brownForsythe]]'s median centering under near-normality (BF is
    * the robust default; run both when the tails are unknown).
    *
    * DETERMINISM AND SCALE: group means come from one decimal-moment
    * rollup and broadcast back; the deviations feed [[oneWayAnova]]'s
    * exact-moment machinery unchanged. Returns [[oneWayAnova]]'s row:
    * (n_groups, n, f_stat, ...). */
  def leveneTest(df: DataFrame, groupCol: Column, valueCol: Column,
                 scale: Int = 6): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 6)
    val x = valueCol.cast("double")
    val base = df.filter(x.isNotNull && groupCol.isNotNull)
      .select(groupCol.as("__g"), x.as("__x"))
    val means = base.groupBy("__g")
      .agg(count(lit(1)).as("__n"), sum(col("__x").cast(dt)).as("__s"))
      .select(col("__g"),
        (col("__s").cast("double") / col("__n").cast("double"))
          .as("__mean"))
    oneWayAnova(base.join(broadcast(means), Seq("__g")),
      col("__g"), abs(col("__x") - col("__mean")), scale)
  }

  // ------------------------------------- Stuart–Maxwell (3 categories)
  /** Stuart–Maxwell marginal-homogeneity test for PAIRED 3-category
    * ratings (Stuart 1955, Maxwell 1970): did the category distribution
    * shift between the two sides? With d_i = row_i − col_i margins and
    * m_ij = n_ij + n_ji, χ² = (m₂₃d₁² + m₁₃d₂² + m₁₂d₃²)/
    * (m₁₂m₁₃ + m₁₂m₂₃ + m₁₃m₂₃) ~ χ²₂ — the 3-level omnibus
    * [[mcnemar]] gives for 2 and [[mcnemarBowker]] decomposes pairwise.
    *
    * DETERMINISM AND SCALE: the whole χ² is ONE exact integer rational
    * on pair counts (the doubled-m̄ cancellation). A value outside the
    * declared 3 categories RAISES; a zero denominator (two empty
    * off-diagonals) nulls loudly. Returns one row:
    * (n, d1, d2, d3, chi2, dof). */
  def stuartMaxwell3(df: DataFrame, rowCol: Column, colCol: Column,
                     cats: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt0 = DecimalType(38, 0)
    require(cats.size == 3 && cats.distinct.size == 3,
      s"exactly 3 distinct categories: $cats")
    def idx(c: Column): Column = {
      val s = c.cast("string")
      when(s === cats(0), 1).when(s === cats(1), 2)
        .when(s === cats(2), 3)
        .otherwise(raise_error(concat(
          lit(s"stuartMaxwell3: category outside $cats: "), s)))
    }
    val m = df.select(idx(rowCol).as("__r"), idx(colCol).as("__c"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__r") === 1, 1L).otherwise(0L)).as("__r1"),
        sum(when(col("__r") === 2, 1L).otherwise(0L)).as("__r2"),
        sum(when(col("__r") === 3, 1L).otherwise(0L)).as("__r3"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).as("__c1"),
        sum(when(col("__c") === 2, 1L).otherwise(0L)).as("__c2"),
        sum(when(col("__c") === 3, 1L).otherwise(0L)).as("__c3"),
        sum(when(col("__r") === 1 && col("__c") === 2, 1L)
          .when(col("__r") === 2 && col("__c") === 1, 1L)
          .otherwise(0L)).as("__m12"),
        sum(when(col("__r") === 1 && col("__c") === 3, 1L)
          .when(col("__r") === 3 && col("__c") === 1, 1L)
          .otherwise(0L)).as("__m13"),
        sum(when(col("__r") === 2 && col("__c") === 3, 1L)
          .when(col("__r") === 3 && col("__c") === 2, 1L)
          .otherwise(0L)).as("__m23"))
    val d1 = col("__r1") - col("__c1")
    val d2 = col("__r2") - col("__c2")
    val d3 = col("__r3") - col("__c3")
    val num = col("__m23").cast(dt0) * d1 * d1 +
      col("__m13").cast(dt0) * d2 * d2 + col("__m12").cast(dt0) * d3 * d3
    val den = col("__m12").cast(dt0) * col("__m13") +
      col("__m12").cast(dt0) * col("__m23") +
      col("__m13").cast(dt0) * col("__m23")
    m.select(col("n"), d1.as("d1"), d2.as("d2"), d3.as("d3"),
      round(when(den > lit(0).cast(dt0),
        num.cast("double") / den.cast("double")), 6).as("chi2"),
      lit(2L).as("dof"))
  }

  // --------------------------------------- negative binomial (MoM) fit
  /** Negative-binomial method-of-moments fit per group: with sample
    * mean m and variance v, r̂ = m²/(v−m) and p̂ = m/v — the "how
    * overdispersed, in NB units" sequel to [[dispersionIndex]]'s
    * var/mean ratio (r̂ → ∞ recovers Poisson). Underdispersed groups
    * (v ≤ m) null the NB parameters loudly — the model doesn't exist
    * there.
    *
    * DETERMINISM AND SCALE: one decimal-moment groupBy; r̂/p̂ are fixed
    * IEEE shapes. Returns per group:
    * (group, n, mean, variance, nb_r, nb_p) 6dp. */
  def negBinomFit(df: DataFrame, groupCol: Column,
                  valueCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 6)
    val v = valueCol.cast("double")
    val g = df.filter(v.isNotNull && groupCol.isNotNull)
      .groupBy(groupCol.as("group"))
      .agg(count(lit(1)).as("n"), sum(v.cast(dt)).cast("double").as("__s"),
        sum((v * v).cast(dt)).cast("double").as("__ss"))
      .filter(col("n") >= 2L)
    val nD = col("n").cast("double")
    val mean = col("__s") / nD
    val vr = (col("__ss") - col("__s") * col("__s") / nD) / (nD - 1.0)
    g.select(col("group"), col("n"), round(mean, 6).as("mean"),
      round(vr, 6).as("variance"),
      round(when(vr > mean, mean * mean / (vr - mean)), 6).as("nb_r"),
      round(when(vr > mean, mean / vr), 6).as("nb_p"))
  }

  // ---------------------------------------------- Poissonness plot fit
  /** Hoaglin's Poissonness plot (1980): for count data, φ(k) =
    * ln(k!·n_k/N) is LINEAR in k with slope ln λ iff the data are
    * Poisson; the fitted slope recovers λ̂ = e^slope and curvature
    * flags the mixture/overdispersion [[negBinomFit]] then quantifies.
    *
    * DETERMINISM AND SCALE: n_k comes from one count-grain rollup
    * joined to the BOUNDED 0..maxK grid whose ln k! values are
    * DRIVER-COMPUTED literals (sequential Σln i — the same doubles ship
    * into the oracle as a VALUES list, the q35 centroid discipline);
    * counts above maxK simply don't plot (N still counts them —
    * document, don't drop silently: n_over reports the tail). The OLS
    * runs over ≤ maxK+1 points with DECIMAL(28,12) moments. Returns one
    * row: (n_total, n_over, n_points, slope, lambda_hat, intercept)
    * 6dp. */
  def poissonnessPlot(df: DataFrame, valueCol: Column,
                      maxK: Int = 20): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dd = DecimalType(28, 12)
    require(maxK >= 2 && maxK <= 170, s"maxK in [2,170]: $maxK")
    val spark = df.sparkSession
    import spark.implicits._
    val y = valueCol.cast("long")
    val counts = df.filter(y.isNotNull && y >= 0L)
      .groupBy(y.as("k")).agg(count(lit(1)).as("__nk"))
    val tot = counts.agg(sum(col("__nk")).as("n_total"),
      sum(when(col("k") > maxK.toLong, col("__nk")).otherwise(0L))
        .as("n_over"))
    val grid = lnFactGrid(maxK).toDF("k", "__lnf")
    val pts = counts.join(broadcast(grid), Seq("k"))
      .crossJoin(broadcast(tot))
      .select(col("k").cast("double").as("__x"),
        (col("__lnf") + log(col("__nk").cast("double")) -
          log(col("n_total").cast("double"))).as("__phi"))
    val m = pts.agg(count(lit(1)).as("n_points"),
      sum(col("__x").cast(dd)).cast("double").as("__sx"),
      sum(col("__phi").cast(dd)).cast("double").as("__sy"),
      sum((col("__x") * col("__x")).cast(dd)).cast("double").as("__sxx"),
      sum((col("__x") * col("__phi")).cast(dd)).cast("double").as("__sxy"))
    val kD = col("n_points").cast("double")
    val num = col("__sxy") - col("__sx") * col("__sy") / kD
    val den = col("__sxx") - col("__sx") * col("__sx") / kD
    val slope = when(col("n_points") >= 2L && den > 0.0, num / den)
    tot.crossJoin(m)
      .select(col("n_total"), col("n_over"), col("n_points"),
        round(slope, 6).as("slope"),
        round(exp(slope), 6).as("lambda_hat"),
        round(col("__sy") / kD - slope * (col("__sx") / kD), 6)
          .as("intercept"))
  }

  /** ln k! for k = 0..maxK by the sequential left-fold — the literal
    * grid both engines share (rendered into oracle VALUES). */
  private[graft] def lnFactGrid(maxK: Int): Seq[(Long, Double)] = {
    var acc = 0.0
    (0 to maxK).map { k =>
      if (k >= 2) acc += math.log(k.toDouble)
      k.toLong -> acc
    }
  }

  // --------------------------------- Cameron–Trivedi overdispersion
  /** Cameron–Trivedi overdispersion score test (1990), intercept-only
    * form: T = Σ[(y−ȳ)² − y] / √(2·n·ȳ²) ~ N(0,1) under Poisson — the
    * one-number "is Poisson even plausible" gate in front of
    * [[negBinomFit]] (large positive T ⇒ overdispersed).
    *
    * DETERMINISM AND SCALE: one decimal-moment aggregate; the numerator
    * collapses to (Σy² − S²/n) − S on raw moments — integers when the
    * counts are (the df filter keeps y ≥ 0 integral inputs intact).
    * Returns one row: (n, mean, t_stat) 6dp. */
  def cameronTrivedi(df: DataFrame, valueCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 6)
    val v = valueCol.cast("double")
    val m = df.filter(v.isNotNull)
      .agg(count(lit(1)).as("n"), sum(v.cast(dt)).cast("double").as("__s"),
        sum((v * v).cast(dt)).cast("double").as("__ss"))
    val nD = col("n").cast("double")
    val mean = col("__s") / nD
    val num = (col("__ss") - col("__s") * col("__s") / nD) - col("__s")
    val den = sqrt(lit(2.0) * nD * mean * mean)
    m.select(col("n"), round(mean, 6).as("mean"),
      round(when(col("n") >= 2L && den > 0.0, num / den), 6).as("t_stat"))
  }

  // ------------------------------------------- Horvitz–Thompson total
  /** Horvitz–Thompson estimator of a population total from a
    * deterministic stratified md5 sample (Horvitz & Thompson 1952):
    * T̂ = Σ_{sampled} y/π_stratum — the design-unbiased total under
    * KNOWN inclusion probabilities, reported beside the TRUE total and
    * the relative error (a planted-truth calibration of the
    * [[graft.pipeline.Curation.sampleByRate]] sampling machinery
    * itself).
    *
    * DETERMINISM AND SCALE: the sample is the md5-threshold draw
    * (engine-replayable by construction); both totals are DECIMAL(38,6)
    * sums; y/π is one fixed IEEE shape per sampled row summed as
    * DECIMAL(28,12). Totals report at 2dp (the rollSpread magnitude
    * lesson — corpus totals overflow a 6dp round's 16-digit budget; a
    * .005 midpoint is non-dyadic, so the 2dp round can never tie),
    * rel_err at 6dp. Returns one row:
    * (n_pop, n_sampled, true_total, ht_total, rel_err). */
  def horvitzThompson(df: DataFrame, keyCol: Column, salt: String,
                      stratumCol: Column, rates: Seq[(String, Double)],
                      defaultRate: Double, valueCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(rates.nonEmpty && (rates.map(_._2) :+ defaultRate)
      .forall(r => r > 0.0 && r <= 1.0), "rates in (0,1]")
    val v = valueCol.cast("double")
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (s0, r)) =>
      when(stratumCol.cast("string") === s0, r).otherwise(acc)
    }
    val h = substring(md5(concat(lit(salt),
      coalesce(keyCol.cast("string"), lit("")))), 1, 8)
    val base = df.filter(v.isNotNull)
      .select(v.as("__y"), rate.as("__r"), h.as("__h"))
    val kept = graft.pipeline.Curation.keepCondition(col("__h"),
      col("__r"))
    val m = base.agg(count(lit(1)).as("n_pop"),
      sum(col("__y").cast(DecimalType(38, 6))).cast("double")
        .as("__true"),
      sum(when(kept, 1L).otherwise(0L)).as("n_sampled"),
      sum(when(kept, (col("__y") / col("__r"))
        .cast(DecimalType(28, 12)))).cast("double").as("__ht"))
    m.select(col("n_pop"), col("n_sampled"),
      round(col("__true"), 2).as("true_total"),
      round(col("__ht"), 2).as("ht_total"),
      round(when(col("__true") =!= 0.0,
        (col("__ht") - col("__true")) / col("__true")), 6).as("rel_err"))
  }

  // --------------------------------------------- jackknife ratio SE
  /** Delete-one jackknife standard error for the ratio R = Σx/Σy: each
    * row's pseudo-ratio θ₍ᵢ₎ = (Σx−xᵢ)/(Σy−yᵢ) is a broadcast-totals
    * closed form, and se² = (n−1)/n · Σ(θ₍ᵢ₎−θ̄)² — the resampling-free
    * cross-check of [[ratioMetricCi]]'s delta method (they should agree
    * to first order; a gap flags influential units).
    *
    * DETERMINISM AND SCALE: totals broadcast; the moments accumulate
    * the CENTERED pseudo-values d₍ᵢ₎ = θ₍ᵢ₎ − R (shift-invariant
    * variance) — centering matters twice: it kills the catastrophic
    * Σθ² − (Σθ)²/n cancellation AND keeps the per-row decimal casts at
    * tiny magnitudes where DuckDB's float-multiply double→decimal
    * conversion cannot flip a .5 boundary (raw θ² casts diverged by
    * ~2e-6 at sf0.01, measured — the sub-4e15 corollary of the q375
    * bound: an ARBITRARY double near a boundary misrounds with
    * probability ~ulp(|v|·10^s)). A row whose removal zeroes Σy RAISES.
    * Returns one row: (n, ratio, se_jack) 6dp. */
  def jackknifeRatio(df: DataFrame, numCol: Column,
                     denCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dd = DecimalType(28, 12)
    val x = numCol.cast("double"); val y = denCol.cast("double")
    val base = df.filter(x.isNotNull && y.isNotNull)
      .select(x.as("__x"), y.as("__y"))
    val tot = base.agg(count(lit(1)).as("n"),
      sum(col("__x").cast(DecimalType(38, 6))).cast("double").as("__sx"),
      sum(col("__y").cast(DecimalType(38, 6))).cast("double").as("__sy"))
    val denLoo = col("__sy") - col("__y")
    val theta = when(denLoo === 0.0,
      raise_error(lit("jackknifeRatio: delete-one denominator is zero")))
      .otherwise((col("__sx") - col("__x")) / denLoo)
    val dCent = theta - col("__sx") / col("__sy")
    val m = base.crossJoin(broadcast(tot))
      .agg(first(col("n")).as("n"), first(col("__sx")).as("__sx"),
        first(col("__sy")).as("__sy"),
        sum(dCent.cast(dd)).cast("double").as("__sd"),
        sum((dCent * dCent).cast(dd)).cast("double").as("__sdd"))
    val nD = col("n").cast("double")
    val varJ = (nD - 1.0) / nD *
      (col("__sdd") - col("__sd") * col("__sd") / nD)
    m.select(col("n"),
      round(when(col("__sy") =!= 0.0, col("__sx") / col("__sy")), 6)
        .as("ratio"),
      round(when(col("n") >= 2L && varJ >= 0.0, sqrt(varJ)), 6)
        .as("se_jack"))
  }

  // --------------------------------------------- information-gain panel
  /** Information gain (mutual information) of each candidate feature
    * against a label, with the gain ratio IG/H(feature) that penalizes
    * high-cardinality features (Quinlan 1986) — the feature-screening
    * panel in front of a tree model, [[mutualInformation]] swept over a
    * feature list in ONE pass.
    *
    * DETERMINISM AND SCALE: one union of per-feature projections feeds
    * one (feature, a, b) cell rollup; the MI and entropy cells are the
    * [[mutualInformation]] DECIMAL(28,12) shapes keyed by feature.
    * Returns per feature: (feature, n, mi, h_feature, gain_ratio) 6dp. */
  def infoGainPanel(df: DataFrame, labelCol: Column,
                    features: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(features.nonEmpty, "at least one feature")
    val base = features.map { f =>
      df.filter(labelCol.isNotNull && col(f).isNotNull)
        .select(lit(f).as("feature"), col(f).cast("string").as("__a"),
          labelCol.cast("string").as("__b"))
    }.reduce(_ unionByName _)
    val cells = base.groupBy("feature", "__a", "__b")
      .agg(count(lit(1)).as("__c"))
    val ma = cells.groupBy("feature", "__a").agg(sum(col("__c")).as("__ca"))
    val mb = cells.groupBy("feature", "__b").agg(sum(col("__c")).as("__cb"))
    val tot = cells.groupBy("feature").agg(sum(col("__c")).as("__n"))
    val nD = col("__n").cast("double")
    val miTerm = (col("__c").cast("double") / nD *
      log(nD * col("__c").cast("double") /
        (col("__ca").cast("double") * col("__cb").cast("double"))))
      .cast(DecimalType(28, 12))
    val mi = cells.join(ma, Seq("feature", "__a"))
      .join(mb, Seq("feature", "__b"))
      .join(broadcast(tot), "feature")
      .groupBy("feature")
      .agg(first(col("__n")).as("n"),
        sum(miTerm).cast("double").as("__mi"))
    val hTerm = (-(col("__ca").cast("double") / nD) *
      log(col("__ca").cast("double") / nD)).cast(DecimalType(28, 12))
    val hf = ma.join(broadcast(tot), "feature")
      .groupBy("feature")
      .agg(sum(hTerm).cast("double").as("__hf"))
    mi.join(hf, "feature")
      .select(col("feature"), col("n"), round(col("__mi"), 6).as("mi"),
        round(col("__hf"), 6).as("h_feature"),
        round(when(col("__hf") > 0.0, col("__mi") / col("__hf")), 6)
          .as("gain_ratio"))
  }

  // --------------------------------------------- Sobel mediation test
  /** Sobel's mediation z (Sobel 1982) for the x → m → y path: a is the
    * OLS slope of m ~ x, b the m-coefficient of y ~ m + x, and
    * z = a·b / √(a²·se_b² + b²·se_a²) — "does the indirect effect
    * survive its own noise", the closed-form screen before a bootstrap
    * mediation analysis.
    *
    * DETERMINISM AND SCALE: ALL nine cross-moments of (x, m, y) come
    * from ONE DECIMAL(38,6) aggregate; both regressions and both
    * standard errors are inlined fixed IEEE shapes (the 2×2 normal-
    * equation solve of [[Finance.grangerPair]]). Degenerate designs
    * (n < 4, singular moments, zero residual variance) null loudly.
    * Returns one row: (n, a_path, b_path, indirect, sobel_z) 6dp. */
  def sobelMediation(df: DataFrame, xCol: Column, mCol: Column,
                     yCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 6)
    val x = xCol.cast("double"); val mm = mCol.cast("double")
    val y = yCol.cast("double")
    val agg = df.filter(x.isNotNull && mm.isNotNull && y.isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(x.cast(dt)).cast("double").as("__sx"),
        sum(mm.cast(dt)).cast("double").as("__sm"),
        sum(y.cast(dt)).cast("double").as("__sy"),
        sum((x * x).cast(dt)).cast("double").as("__sxx"),
        sum((mm * mm).cast(dt)).cast("double").as("__smm"),
        sum((y * y).cast(dt)).cast("double").as("__syy"),
        sum((x * mm).cast(dt)).cast("double").as("__sxm"),
        sum((x * y).cast(dt)).cast("double").as("__sxy"),
        sum((mm * y).cast(dt)).cast("double").as("__smy"))
    val nD = col("n").cast("double")
    def c(sab: String, sa: String, sb: String) =
      col(sab) - col(sa) * col(sb) / nD
    val cxx = c("__sxx", "__sx", "__sx")
    val cmm = c("__smm", "__sm", "__sm")
    val cyy = c("__syy", "__sy", "__sy")
    val cxm = c("__sxm", "__sx", "__sm")
    val cxy = c("__sxy", "__sx", "__sy")
    val cmy = c("__smy", "__sm", "__sy")
    val okA = col("n") >= 4L && cxx > 0.0
    val aPath = when(okA, cxm / cxx)
    val ssrA = cmm - aPath * cxm
    val seA2 = when(ssrA > 0.0, ssrA / (nD - 2.0) / cxx)
    val det = cmm * cxx - cxm * cxm
    val okB = col("n") >= 4L && det > 0.0
    val bPath = when(okB, (cmy * cxx - cxy * cxm) / det)
    val cPrime = when(okB, (cxy * cmm - cmy * cxm) / det)
    val ssrB = cyy - bPath * cmy - cPrime * cxy
    val seB2 = when(ssrB > 0.0, ssrB / (nD - 3.0) * (cxx / det))
    val z = aPath * bPath /
      sqrt(aPath * aPath * seB2 + bPath * bPath * seA2)
    agg.select(col("n"), round(aPath, 6).as("a_path"),
      round(bPath, 6).as("b_path"),
      round(aPath * bPath, 6).as("indirect"),
      round(when(seA2 > 0.0 && seB2 > 0.0, z), 6).as("sobel_z"))
  }

  // ------------------------------------------------------- E-value
  /** VanderWeele–Ding E-value (2017) for an observed risk ratio: the
    * minimum strength of unmeasured confounding (on the RR scale, with
    * both exposure and outcome) needed to explain the association away,
    * E = RR* + √(RR*(RR*−1)) with RR* = max(RR, 1/RR) — the one-number
    * sensitivity analysis every observational claim should carry.
    *
    * DETERMINISM AND SCALE: the 2×2 is one exact-count aggregate; RR is
    * a ratio of two integer rationals and E one fixed IEEE shape. An
    * empty margin or a zero unexposed rate nulls loudly. Returns one
    * row: (n, p_exposed, p_unexposed, rr, e_value) 6dp. */
  def eValueRR(df: DataFrame, exposureCol: Column,
               outcomeCol: Column): DataFrame = {
    val m = df.filter(exposureCol.isNotNull && outcomeCol.isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(when(exposureCol && outcomeCol, 1L).otherwise(0L)).as("__a"),
        sum(when(exposureCol && !outcomeCol, 1L).otherwise(0L)).as("__b"),
        sum(when(!exposureCol && outcomeCol, 1L).otherwise(0L)).as("__c"),
        sum(when(!exposureCol && !outcomeCol, 1L).otherwise(0L)).as("__d"))
    val p1 = col("__a").cast("double") /
      (col("__a") + col("__b")).cast("double")
    val p0 = col("__c").cast("double") /
      (col("__c") + col("__d")).cast("double")
    val ok = col("__a") + col("__b") > 0L && col("__c") + col("__d") > 0L &&
      col("__c") > 0L && col("__a") > 0L
    val rr = when(ok, p1 / p0)
    val rrStar = greatest(rr, lit(1.0) / rr)
    m.select(col("n"), round(when(col("__a") + col("__b") > 0L, p1), 6)
        .as("p_exposed"),
      round(when(col("__c") + col("__d") > 0L, p0), 6).as("p_unexposed"),
      round(rr, 6).as("rr"),
      round(rrStar + sqrt(rrStar * (rrStar - 1.0)), 6).as("e_value"))
  }

  // ---------------------------------------- indirect standardization
  /** Indirectly standardized event ratio per group (the SMR form): with
    * global per-stratum rates r_s = e_s/n_s, each group's expected
    * count is E_g = Σ_s n_gs·r_s and SMR = O_g/E_g — "how does this
    * group compare once its stratum mix is priced in", the
    * stratum-confounding fix a raw rate comparison lacks.
    *
    * DETERMINISM AND SCALE: one (group, stratum) rollup + one stratum
    * rollup broadcast back; each expectation term n_gs·e_s/n_s is a
    * fixed IEEE shape cast DECIMAL(28,12) before the order-free sum;
    * O is exact integer. E = 0 nulls loudly. Returns per group:
    * (group, n, observed, expected, smr) 6dp. */
  def smrIndirect(df: DataFrame, groupCol: Column, stratumCol: Column,
                  eventCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cells = df.filter(groupCol.isNotNull && stratumCol.isNotNull &&
        eventCol.isNotNull)
      .groupBy(groupCol.as("group"), stratumCol.as("__s"))
      .agg(count(lit(1)).as("__n"),
        sum(when(eventCol, 1L).otherwise(0L)).as("__e"))
    val strata = cells.groupBy("__s")
      .agg(sum(col("__n")).as("__ns"), sum(col("__e")).as("__es"))
    val term = (col("__n").cast("double") * col("__es").cast("double") /
      col("__ns").cast("double")).cast(DecimalType(28, 12))
    cells.join(broadcast(strata), "__s")
      .groupBy("group")
      .agg(sum(col("__n")).as("n"), sum(col("__e")).as("observed"),
        sum(term).cast("double").as("__exp"))
      .select(col("group"), col("n"), col("observed"),
        round(col("__exp"), 6).as("expected"),
        round(when(col("__exp") > 0.0,
          col("observed").cast("double") / col("__exp")), 6).as("smr"))
  }

  // ------------------------------------------- attributable fraction
  /** Risk difference and population attributable fraction from a 2×2:
    * AR = p₁ − p₀ (excess risk among the exposed) and
    * PAF = (p_t − p₀)/p_t (the share of ALL cases the exposure
    * accounts for, Levin 1953) — the public-health bottom line beside
    * [[eValueRR]]'s sensitivity number.
    *
    * DETERMINISM AND SCALE: one exact-count aggregate; every output is
    * a ratio of integer rationals. Empty margins null loudly. Returns
    * one row: (n, p_exposed, p_unexposed, risk_diff, paf) 6dp. */
  def attributableRisk(df: DataFrame, exposureCol: Column,
                       outcomeCol: Column): DataFrame = {
    val m = df.filter(exposureCol.isNotNull && outcomeCol.isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(when(exposureCol && outcomeCol, 1L).otherwise(0L)).as("__a"),
        sum(when(exposureCol && !outcomeCol, 1L).otherwise(0L)).as("__b"),
        sum(when(!exposureCol && outcomeCol, 1L).otherwise(0L)).as("__c"),
        sum(when(!exposureCol && !outcomeCol, 1L).otherwise(0L)).as("__d"))
    val p1 = when(col("__a") + col("__b") > 0L,
      col("__a").cast("double") / (col("__a") + col("__b")).cast("double"))
    val p0 = when(col("__c") + col("__d") > 0L,
      col("__c").cast("double") / (col("__c") + col("__d")).cast("double"))
    val pt = (col("__a") + col("__c")).cast("double") /
      col("n").cast("double")
    m.select(col("n"), round(p1, 6).as("p_exposed"),
      round(p0, 6).as("p_unexposed"),
      round(p1 - p0, 6).as("risk_diff"),
      round(when(col("n") > 0L && pt > 0.0, (pt - p0) / pt), 6).as("paf"))
  }
}
