package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Ops

/** Batch event analytics over (user, type, timestamp) logs: ordered funnels,
  * cohort retention, and event-type association rules — the product-analytics
  * companions to the streaming operators in [[graft.streaming.Streams]]
  * (q39's gap sessionization is the batch/stream bridge).
  *
  * Time discipline: every comparison runs on integer MICROSECONDS
  * (`unix_micros`), and calendar bucketing is pure integer day/week-index
  * arithmetic (days since epoch, Monday-aligned weeks) — no engine calendar
  * semantics anywhere, so the DuckDB oracle reproduces each bucket exactly
  * (`epoch_us(ts) // 1000000 // 86400`-style), at any scale.
  */
object EventAnalytics {

  /** Microseconds since epoch of `tsCol` — the one timestamp projection every
    * operator here compares on (DuckDB: `epoch_us(ts)`; exact floor from the
    * parquet nanos on both engines). */
  def micros(tsCol: Column): Column = unix_micros(tsCol)

  /** Days since epoch (UTC), integer floor of the micros. */
  def dayIndex(tsCol: Column): Column =
    floor(micros(tsCol) / lit(86400000000L)).cast("long")

  /** Monday-aligned week index: 1970-01-01 was a Thursday, so day 0 sits in
    * the week that started day -3 — `(day + 3) div 7` shifts the origin to
    * the preceding Monday. Pure integer arithmetic, no calendar. */
  def weekIndex(tsCol: Column): Column =
    floor((dayIndex(tsCol) + lit(3)) / lit(7)).cast("long")

  // ----------------------------------------------------------------- funnel
  /** Ordered funnel: for each user, stage k counts only if an event of
    * `stages(k)` happened STRICTLY AFTER the user's stage-(k-1) completion
    * time (min qualifying time, the standard strict-sequence funnel). Returns
    * one row per stage: (stage_idx, stage, n_users).
    *
    * Plan: stage 0 is one user-keyed aggregate; each later stage is one
    * co-keyed join (user) of that stage's events against the previous
    * completion times plus a re-aggregate — k-1 hash joins all sharing the
    * user-key partitioning, no windows, no per-user event sorting. At 100 TB
    * the per-stage relations shrink monotonically (each carries only users
    * still in the funnel), and AQE broadcasts the survivor side as it
    * under-runs the threshold.
    */
  def funnel(df: DataFrame, userCol: String, typeCol: String, tsCol: String,
             stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val us = micros(col(tsCol))
    val byType = stages.zipWithIndex.map { case (st, _) =>
      df.filter(col(typeCol) === st)
        .select(col(userCol).as("__u"), us.as("__t"))
    }
    // completion times per stage, folded left: t_k = min t over stage-k
    // events with __t > t_{k-1}
    val completions = byType.tail.foldLeft(
      Seq(byType.head.groupBy("__u").agg(min(col("__t")).as("__t")))) {
      case (acc, ev) =>
        val prev = acc.last.select(col("__u"), col("__t").as("__tp"))
        acc :+ ev.join(prev, Seq("__u"))
          .filter(col("__t") > col("__tp"))
          .groupBy("__u").agg(min(col("__t")).as("__t"))
    }
    completions.zipWithIndex.map { case (c, i) =>
      c.agg(count(lit(1)).as("n_users"))
        .select(lit(i).as("stage_idx"), lit(stages(i)).as("stage"),
          col("n_users"))
    }.reduce(_.unionByName(_))
  }

  // ------------------------------------------------- time-boxed funnel
  /** Windowed funnel (anchored variant): like [[funnel]], but every later
    * stage must also land within `windowUs` of the user's ANCHOR — their
    * earliest stage-0 completion. This is the deterministic anchored-first
    * reading of ClickHouse's windowFunnel (which maximizes depth over all
    * anchors); anchoring at the earliest stage-0 event keeps the same
    * greedy-min fold as [[funnel]] — k−1 co-keyed joins, no windows, no
    * per-user sorting — with one extra bound per join. */
  def windowFunnel(df: DataFrame, userCol: String, typeCol: String,
                   tsCol: String, stages: Seq[String],
                   windowUs: Long): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    require(windowUs > 0, s"windowUs must be > 0: $windowUs")
    val us = micros(col(tsCol))
    val byType = stages.map(st =>
      df.filter(col(typeCol) === st)
        .select(col(userCol).as("__u"), us.as("__t")))
    val s0 = byType.head.groupBy("__u").agg(min(col("__t")).as("__t"))
      .withColumn("__anchor", col("__t"))
    val completions = byType.tail.foldLeft(Seq(s0)) { case (acc, ev) =>
      val prev = acc.last
        .select(col("__u"), col("__t").as("__tp"), col("__anchor"))
      acc :+ ev.join(prev, Seq("__u"))
        .filter(col("__t") > col("__tp") &&
          col("__t") <= col("__anchor") + lit(windowUs))
        .groupBy("__u").agg(min(col("__t")).as("__t"),
          min(col("__anchor")).as("__anchor"))
    }
    completions.zipWithIndex.map { case (c, i) =>
      c.agg(count(lit(1)).as("n_users"))
        .select(lit(i).as("stage_idx"), lit(stages(i)).as("stage"),
          col("n_users"))
    }.reduce(_.unionByName(_))
  }

  // ------------------------------------------------- forecast accuracy
  /** Seasonal-forecast accuracy summary over the last `horizon` days of the
    * zero-filled daily series: MAE of the seasonal-naive forecast
    * (lag `season`), MAE of the random-walk naive (lag 1, the MASE
    * denominator), and MASE = their ratio — Hyndman's scale-free forecast
    * skill score. Absolute errors are INTEGERS (counts), so both MAEs are
    * exact sums with one final division each; MASE is one further division
    * (null when the naive MAE is 0). Windows run over the calendar-bounded
    * daily spine only. Output (one row): n_days, mae_model, mae_naive,
    * mase (6dp each). */
  def forecastAccuracy(df: DataFrame, tsCol: String, season: Int = 7,
                       horizon: Int = 28): DataFrame = {
    require(season >= 1 && horizon >= 1, "season and horizon must be >= 1")
    val daily = resampleDaily(df, tsCol)
    val w = Window.orderBy(col("day"))
    val lagged = daily.select(col("day"), col("n"),
      lag(col("n"), season).over(w).as("__ps"),
      lag(col("n"), 1).over(w).as("__p1"))
    val hi = daily.agg(max(col("day")).as("__hi"))
    val tail = lagged.crossJoin(broadcast(hi))
      .filter(col("day") > col("__hi") - horizon &&
        col("__ps").isNotNull && col("__p1").isNotNull)
    val agg = tail.agg(count(lit(1)).as("n_days"),
      sum(abs(col("n") - col("__ps"))).as("__sm"),
      sum(abs(col("n") - col("__p1"))).as("__sn"))
    agg.select(col("n_days"),
      round(col("__sm").cast("double") / col("n_days").cast("double"), 6)
        .as("mae_model"),
      round(col("__sn").cast("double") / col("n_days").cast("double"), 6)
        .as("mae_naive"),
      round(when(col("__sn") > 0,
        col("__sm").cast("double") / col("__sn").cast("double")), 6)
        .as("mase"))
  }

  // ------------------------------------------------ seasonality strength
  /** Weekday-seasonality strength of the daily count series: fit the
    * 7-level weekday-mean model on the zero-filled spine and report
    * 1 − var(residual)/var(series) — the R² of pure weekly seasonality
    * (STL's "strength of seasonality" in its simplest exact form).
    * Weekday means are one IEEE division from decimal-exact sums;
    * residual moments re-enter DECIMAL(28,12) (the q194 discipline);
    * variances are population (the ratio is normalization-invariant).
    * Output (one row): n_days, var_daily, var_resid, strength (6dp). */
  def seasonalityStrength(df: DataFrame, tsCol: String): DataFrame = {
    val daily = resampleDaily(df, tsCol)
      .withColumn("__wd", pmod(col("day") + 3, lit(7)))
    val prof = daily.groupBy("__wd")
      .agg((sum(col("n").cast("decimal(18,0)")).cast("double") /
        count(lit(1)).cast("double")).as("__m"))
    val r = daily.join(broadcast(prof), Seq("__wd"))
      .select(col("n"), (col("n").cast("double") - col("__m")).as("__r"))
    val s = r.agg(count(lit(1)).as("n_days"),
      sum(col("n").cast("decimal(18,0)")).cast("double").as("__sn"),
      sum((col("n").cast("decimal(18,0)") * col("n"))).cast("double")
        .as("__snn"),
      sum(col("__r").cast("decimal(28,12)")).cast("double").as("__sr"),
      sum((col("__r") * col("__r")).cast("decimal(28,12)")).cast("double")
        .as("__srr"))
    val nD = col("n_days").cast("double")
    val varDaily = (nD * col("__snn") - col("__sn") * col("__sn")) / (nD * nD)
    val varResid = (nD * col("__srr") - col("__sr") * col("__sr")) / (nD * nD)
    s.select(col("n_days"), round(varDaily, 6).as("var_daily"),
      round(varResid, 6).as("var_resid"),
      round(when(varDaily > 0, lit(1.0) - varResid / varDaily), 6)
        .as("strength"))
  }

  // ------------------------------------------------------ 2-D histogram
  /** Dashboard heatmap cells: counts over the (value-bin × hour-of-day)
    * grid, ZERO-FILLED via one bins×24 spine cross join (a heatmap with
    * missing cells lies). Value bins are [lo, hi) equal-width with edge
    * clamping (the q233 PSI binning); hour is pure integer µs arithmetic.
    * One aggregate at grid grain — output bounded by bins·24 forever. */
  def histogram2d(df: DataFrame, valueCol: String, tsCol: String,
                  lo: Double, hi: Double, nBins: Int): DataFrame = {
    require(nBins >= 1 && hi > lo, "bad binning")
    val width = (hi - lo) / nBins
    val bin = least(greatest(floor((col(valueCol).cast("double") - lo) /
      width), lit(0.0)), lit((nBins - 1).toDouble)).cast("long")
    val hour = pmod(floor(micros(col(tsCol)) / lit(3600000000L)), lit(24))
      .cast("long")
    val cells = df.filter(col(valueCol).isNotNull)
      .groupBy(bin.as("bin"), hour.as("hour"))
      .agg(count(lit(1)).as("n"))
    val spark = df.sparkSession
    val spine = spark.range(nBins).select(col("id").as("bin"))
      .crossJoin(spark.range(24).select(col("id").as("hour")))
    spine.join(cells, Seq("bin", "hour"), "left")
      .select(col("bin"), col("hour"), coalesce(col("n"), lit(0L)).as("n"))
  }

  // ---------------------------------------------------- freshness report
  /** Data-freshness report per slice: latest event micros, integer lag
    * minutes behind the corpus maximum, and a staleness flag — the
    * first-page ops dashboard for a partitioned ingest. One slice-keyed
    * aggregate plus one broadcast scalar; all integer µs arithmetic. */
  def freshnessReport(df: DataFrame, groupCol: String, tsCol: String,
                      staleMinutes: Long = 60): DataFrame = {
    require(staleMinutes > 0, s"staleMinutes must be > 0: $staleMinutes")
    val us = micros(col(tsCol))
    val per = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_events"), max(us).as("last_us"))
    val global = per.agg(max(col("last_us")).as("__gmax"))
    per.crossJoin(broadcast(global))
      .select(col(groupCol), col("n_events"), col("last_us"),
        floor((col("__gmax") - col("last_us")) / lit(60000000L)).cast("long")
          .as("lag_minutes"))
      .withColumn("stale", col("lag_minutes") >= staleMinutes)
  }

  // ---------------------------------------------------- cumulative users
  /** User-growth series: per day, the count of users whose FIRST activity
    * is that day (new_users) and the running total (cum_users) — the
    * registration-growth board. The running distinct-count is NOT a
    * windowed distinct over events: first-activity day is one user-keyed
    * aggregate, the cumulation is a prefix sum over the calendar-bounded
    * day spine. Gap days report 0 new users and a flat cumulative. */
  def cumulativeUsers(df: DataFrame, userCol: String,
                      tsCol: String): DataFrame = {
    val day = dayIndex(col(tsCol))
    val newPerDay = df.select(col(userCol).as("__u"), day.as("day"))
      .groupBy("__u").agg(min(col("day")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("new_users"))
    val spine = df.agg(min(day).as("__lo"), max(day).as("__hi"))
      .select(explode(sequence(col("__lo"), col("__hi"))).as("day"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(newPerDay, Seq("day"), "left")
      .select(col("day"), coalesce(col("new_users"), lit(0L)).as("new_users"))
      .withColumn("cum_users", sum(col("new_users")).over(w))
  }

  // -------------------------------------------------------------- retention
  /** Weekly cohort retention: cohort = the user's first-activity week (the
    * integer [[weekIndex]]), one row per (cohort_week, week_offset) with the
    * distinct-user count active that many weeks after their cohort week.
    * Offset 0 rows equal the cohort sizes.
    *
    * Two user-keyed aggregates (first week, then distinct (user, week)
    * pairs) and one co-keyed join — the classic triangle without any
    * calendar function. Distinct-user counts shuffle (cohort, offset) keys
    * only.
    */
  def retentionCohorts(df: DataFrame, userCol: String,
                       tsCol: String): DataFrame = {
    val wk = weekIndex(col(tsCol))
    val active = df.select(col(userCol).as("__u"), wk.as("__wk")).distinct()
    val cohort = active.groupBy("__u").agg(min(col("__wk")).as("cohort_week"))
    active.join(cohort, Seq("__u"))
      .groupBy(col("cohort_week"),
        (col("__wk") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  // ------------------------------------------------- rolling active users
  /** Engagement series: per day-index, the distinct users active that day
    * (dau) and within the trailing `windowDays` window ending that day
    * (wau). The windowed distinct-count is NOT a window function: each
    * distinct (user, day) activation explodes to the `windowDays` window
    * ends it belongs to — a bounded constant fan-out of the (already
    * day-deduped) activation relation — and a plain distinct count per end
    * day. No per-day sort, no state beyond (user, day) grain; rows carry
    * window ends past the last activity day by design (a window ending
    * there still contains those users).
    */
  def rollingActiveUsers(df: DataFrame, userCol: String, tsCol: String,
                         windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1)
    val active = df.select(col(userCol).as("__u"),
      dayIndex(col(tsCol)).as("__d")).distinct()
    val dau = active.groupBy(col("__d").as("day"))
      .agg(count(lit(1)).as("dau"))
    val wau = active
      .select(col("__u"),
        explode(sequence(col("__d"), col("__d") + lit(windowDays - 1)))
          .as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
    wau.join(dau, Seq("day"), "left")
      .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"), col("wau"))
  }

  // --------------------------------------------------- conversion windows
  /** Temporal conversion: for each `fromType` event, did a `toType` event by
    * the SAME user land STRICTLY AFTER it and within `withinSec` seconds?
    * Returns one row per day-index: (day, n_from, n_unconverted) — the
    * abandonment report. Split into semi/anti halves of ONE user-keyed hash
    * join with the time band as residual predicate (per-user event lists
    * bound the probe; never a cartesian, never a window), then two
    * day-keyed aggregates.
    */
  def conversionWithin(df: DataFrame, userCol: String, typeCol: String,
                       tsCol: String, fromType: String, toType: String,
                       withinSec: Long): DataFrame = {
    require(withinSec > 0)
    val from = df.filter(col(typeCol) === fromType)
      .select(col(userCol).as("__u"), micros(col(tsCol)).as("__t"))
    val to = df.filter(col(typeCol) === toType)
      .select(col(userCol).as("__u2"), micros(col(tsCol)).as("__t2"))
    val cond = col("__u") === col("__u2") && col("__t2") > col("__t") &&
      col("__t2") <= col("__t") + lit(withinSec * 1000000L)
    val day = floor(col("__t") / lit(86400000000L)).cast("long").as("day")
    val all = from.select(day).groupBy("day").agg(count(lit(1)).as("n_from"))
    val lost = from.join(to, cond, "left_anti")
      .select(day).groupBy("day").agg(count(lit(1)).as("n_unconverted"))
    all.join(lost, Seq("day"), "left")
      .select(col("day"), col("n_from"),
        coalesce(col("n_unconverted"), lit(0L)).as("n_unconverted"))
  }

  // ------------------------------------------------- period-over-period
  /** Per-week event counts with the percent change vs the previous PRESENT
    * week (weeks use the integer [[weekIndex]]; gaps compare against the
    * prior row, not a zero-filled week). The lag window runs over the
    * AGGREGATED week relation — bounded by the calendar (thousands of rows
    * for decades), never by the event log.
    */
  def weekOverWeek(df: DataFrame, tsCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("week"))
    df.select(weekIndex(col(tsCol)).as("week"))
      .groupBy("week").agg(count(lit(1)).as("n"))
      .withColumn("pct_change",
        round((col("n") - lag(col("n"), 1).over(w)) /
          lag(col("n"), 1).over(w).cast("double"), 6))
  }

  // ----------------------------------------------------------- resampling
  /** Daily event counts with ZERO-FILLED gaps: the continuous day spine
    * materializes from one (min, max) aggregate exploded row-locally —
    * bounded by the calendar span, never the event log — and left-joins
    * the per-day counts. The time-series resample step before any
    * differencing/correlation work. */
  def resampleDaily(df: DataFrame, tsCol: String): DataFrame = {
    val counts = df.select(dayIndex(col(tsCol)).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n"))
    val spine = counts.agg(min(col("day")).as("__lo"), max(col("day")).as("__hi"))
      .select(explode(sequence(col("__lo"), col("__hi"))).as("day"))
    spine.join(counts, Seq("day"), "left")
      .select(col("day"), coalesce(col("n"), lit(0L)).as("n"))
  }

  // ------------------------------------------------ EWMA daily smoothing
  /** Exponentially-weighted moving average of the zero-filled daily count
    * series (the [[resampleDaily]] spine) — the standard smoothed-trend /
    * anomaly-baseline signal. α is fixed at ½ and the memory truncates at
    * `maxLag` days, which makes every weight a POWER OF TWO (wᵢ = 2^−(i+1))
    * — each product count·wᵢ is an exact double (exponent shift), the
    * ≤ maxLag+1-term sum stays in exact dyadic arithmetic (counts < 2^40
    * leave 13+ mantissa bits of headroom at maxLag ≤ 12), and the
    * normalizer Σ available wᵢ is dyadic too: the whole smoother is
    * BIT-IDENTICAL in any engine, with one final IEEE division (6dp). At
    * the series head fewer lags exist; the normalizer adapts (standard
    * `adjust=true` EWM semantics). One unpartitioned window over the
    * CALENDAR-BOUNDED spine (the q119/q122 discipline: days, never events
    * — ~36,500 rows per century; per-entity series would partition by the
    * entity). Returns (day, n, ewma). */
  def ewmaDaily(df: DataFrame, tsCol: String, maxLag: Int = 8): DataFrame = {
    require(maxLag >= 1 && maxLag <= 12, s"maxLag must be in [1,12]: $maxLag")
    val spine = resampleDaily(df, tsCol)
    val w = Window.orderBy(col("day"))
    val lags = (0 to maxLag).map { i =>
      (lag(col("n"), i).over(w), math.pow(2.0, -(i + 1)))
    }
    val num = lags.map { case (c, wi) =>
      when(c.isNotNull, c.cast("double") * wi).otherwise(0.0)
    }.reduce(_ + _)
    val den = lags.map { case (c, wi) =>
      when(c.isNotNull, wi).otherwise(0.0)
    }.reduce(_ + _)
    spine.select(col("day"), col("n"), round(num / den, 6).as("ewma"))
  }

  // ------------------------------------------------- top session journeys
  /** Top-k session paths: the [[sessionStats]] gap cascade (same micros +
    * (us, id) tie rule, so the session boundaries are byte-identical to
    * q124's), each session folded to its ordered `typeCol` journey string
    * (the groupConcat discipline — in-session array_sort on (us, id)
    * structs, bounded by a session's events), then one combinable path
    * count and a TakeOrdered top-k cutoff (n DESC, path ASC) — the global
    * sort never materializes. The path vocabulary is what shuffles, never
    * the event log twice. Returns (path, n_sessions). */
  def topSessionPaths(df: DataFrame, userCol: String, idCol: String,
                      tsCol: String, typeCol: String, gapMinutes: Int,
                      k: Int): DataFrame = {
    require(gapMinutes > 0 && k >= 1)
    val w = Window.partitionBy(col(userCol))
      .orderBy(col("__us").asc, col(idCol).asc)
    val gapUs = gapMinutes * 60000000L
    val sess = df.select(col(userCol), col(idCol), col(typeCol),
        micros(col(tsCol)).as("__us"))
      .withColumn("__prev", lag(col("__us"), 1).over(w))
      .withColumn("__new", when(col("__prev").isNull ||
        col("__us") - col("__prev") > gapUs, 1L).otherwise(0L))
      .withColumn("__session", sum(col("__new")).over(w))
    val paths = sess.groupBy(col(userCol), col("__session"))
      .agg(array_join(transform(array_sort(collect_list(struct(
        col("__us"), col(idCol).as("__id"), col(typeCol).as("__t")))),
        s => s.getField("__t")), ">").as("path"))
    paths.groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc).limit(k)
  }

  // ------------------------------------------------- batch sessionization
  /** Batch gap sessionization: a user's events sort by (micros, id — the
    * deterministic tie rule), a session breaks where the gap exceeds
    * `gapMinutes`, and each session aggregates to one row (user, session,
    * n_events, start_us, end_us, duration_us). Tied timestamps always land
    * in the same session whichever sorts first, so the output is
    * engine-independent. One window per user — bounded by a user's events,
    * never the log ([[graft.streaming.Streams]]' q39 sessionizer is the
    * unbounded-stream sibling; this is its batch/backfill face). */
  def sessionStats(df: DataFrame, userCol: String, idCol: String,
                   tsCol: String, gapMinutes: Int): DataFrame = {
    require(gapMinutes > 0)
    val w = Window.partitionBy(col(userCol))
      .orderBy(col("__us").asc, col(idCol).asc)
    val gapUs = gapMinutes * 60000000L
    df.select(col(userCol), col(idCol), micros(col(tsCol)).as("__us"))
      .withColumn("__prev", lag(col("__us"), 1).over(w))
      .withColumn("__new", when(col("__prev").isNull ||
        col("__us") - col("__prev") > gapUs, 1L).otherwise(0L))
      .withColumn("session", sum(col("__new")).over(w))
      .groupBy(col(userCol), col("session"))
      .agg(count(lit(1)).as("n_events"),
        min(col("__us")).as("start_us"),
        max(col("__us")).as("end_us"))
      .withColumn("duration_us", col("end_us") - col("start_us"))
  }

  /** First-order Markov transition matrix over per-user event-type
    * sequences: for every observed (src → dst) adjacent pair, its count and
    * the row-normalized probability p = n / n_src (6dp — exact counts, one
    * IEEE division). The lead window is per user (bounded); the pair
    * relation aggregates to the type-vocabulary square, and the row totals
    * broadcast back. The behavior model behind next-event prediction and
    * anomaly scoring. */
  def transitionMatrix(df: DataFrame, userCol: String, idCol: String,
                       tsCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(micros(col(tsCol)).asc, col(idCol).asc)
    val pairs = df.select(col(typeCol).as("src"),
        lead(col(typeCol), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
    val counts = pairs.groupBy("src", "dst").agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("src").agg(sum(col("n")).as("__t"))
    counts.join(broadcast(totals), Seq("src"))
      .select(col("src"), col("dst"), col("n"),
        round(col("n").cast("double") / col("__t").cast("double"), 6).as("p"))
  }

  /** Lag-`k` autocorrelation of the zero-filled daily count series
    * ([[resampleDaily]]): Pearson r between (n_t, n_{t+k}) — the
    * seasonality/trend probe that follows a resample. The pair relation is
    * one lead window over the calendar-bounded spine (never the event log),
    * and every sum is an exact integer summed as DECIMAL (counts), so r is
    * exact integer arithmetic finished by one fixed IEEE closed form,
    * rounded 6dp. Returns one row: (n_pairs, r). */
  def autocorrDaily(df: DataFrame, tsCol: String, lag: Int): DataFrame = {
    require(lag > 0, s"lag must be positive: $lag")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
    val pairs = resampleDaily(df, tsCol)
      .select(col("n").as("__x"), lead(col("n"), lag).over(w).as("__y"))
      .filter(col("__y").isNotNull)
    def d(c: String) = col(c).cast("double")
    pairs.agg(count(lit(1)).as("n_pairs"),
        sum(col("__x").cast("decimal(18,0)")).as("__sx"),
        sum(col("__y").cast("decimal(18,0)")).as("__sy"),
        sum(col("__x").cast("decimal(18,0)") * col("__y")).as("__sxy"),
        sum(col("__x").cast("decimal(18,0)") * col("__x")).as("__sxx"),
        sum(col("__y").cast("decimal(18,0)") * col("__y")).as("__syy"))
      .select(col("n_pairs"),
        round((d("n_pairs") * d("__sxy") - d("__sx") * d("__sy")) /
          (sqrt(d("n_pairs") * d("__sxx") - d("__sx") * d("__sx")) *
            sqrt(d("n_pairs") * d("__syy") - d("__sy") * d("__sy"))), 6)
          .as("r"))
  }

  /** CUSUM-style change point of the zero-filled daily series: with C_i the
    * running count at 1-based day position i over n days totalling T, the
    * scaled drift D_i = n·C_i − i·T is EXACT integer arithmetic (zero when
    * the rate is constant, maximal where the level shifts). The change
    * point is the day maximizing |D_i| (earliest-day tiebreak — a
    * TakeOrdered over the calendar-bounded spine), reported with the
    * normalized statistic |D|/(n·T), 6dp. Returns one row: (change_day,
    * n_days, stat). */
  def changePoint(df: DataFrame, tsCol: String): DataFrame = {
    val daily = resampleDaily(df, tsCol)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
    val c = daily.select(col("day"),
      row_number().over(w).as("__i"), sum(col("n")).over(w).as("__c"))
    val tot = daily.agg(sum(col("n")).as("__t"), count(lit(1)).as("__nd"))
    c.crossJoin(broadcast(tot))
      .select(col("day"), col("__nd"), col("__t"),
        abs(col("__nd") * col("__c") - col("__i") * col("__t")).as("__d"))
      .orderBy(col("__d").desc, col("day").asc).limit(1)
      .select(col("day").as("change_day"), col("__nd").as("n_days"),
        round(col("__d").cast("double") /
          (col("__nd").cast("double") * col("__t").cast("double")), 6)
          .as("stat"))
  }

  // ------------------------------------------------ CUSUM control chart
  /** One-sided CUSUM control chart (Page 1954): the sequential recursion
    * S_i = max(0, S_{i−1} + (x_i − k)) with alarm when S_i > h — turned
    * into PURE relational algebra by the reflection identity
    * S_i = P_i − min(0, min_{j≤i} P_j) with P the running sum of
    * (x − k): the reset-at-zero loop becomes one running sum and one
    * running min over the same ordered window. [[changePoint]] answers
    * the retrospective "where did the level shift?"; this is the ONLINE
    * monitor ("is it drifting NOW, and since when?").
    *
    * All arithmetic is exact integers when x, k, h are integral (counts
    * and thresholds are), so both windows and the alarm comparison are
    * engine-exact at any scale. The caller supplies the per-row slack
    * and threshold columns (typically a broadcast scalar — a
    * data-derived k must be integer, e.g. the ceiling mean). The ordered
    * windows run over the caller's series grain (a bounded rollup like
    * the q119 daily spine — never raw events). Returns
    * (ord, value, cusum, alarm). */
  def cusumAlarms(df: DataFrame, ordCol: Column, valueCol: Column,
                  slack: Column, threshold: Column): DataFrame = {
    val run = Window.orderBy(col("__o"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(ordCol.as("__o"), valueCol.cast("long").as("__x"),
        slack.cast("long").as("__k"), threshold.cast("long").as("__h"))
      .withColumn("__p", sum(col("__x") - col("__k")).over(run))
      .withColumn("__m", least(lit(0L), min(col("__p")).over(run)))
      .select(col("__o").as("ord"), col("__x").as("value"),
        (col("__p") - col("__m")).as("cusum"),
        (col("__p") - col("__m") > col("__h")).as("alarm"))
  }

  // ------------------------------------------------ inter-arrival analysis
  /** Median inter-arrival gap per event type: consecutive same-(user, type)
    * micros deltas (one per-user-per-type lag window, bounded), summarized
    * by the LOWER MEDIAN — an order statistic, a data element, byte-exact
    * cross-engine with no arithmetic anywhere (the q43/q97 discipline).
    * Returns (type, n_gaps, med_gap_us) — the cadence fingerprint that
    * separates heartbeat traffic from human traffic. */
  def interArrivalMedian(df: DataFrame, userCol: String, idCol: String,
                         tsCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol), col(typeCol))
      .orderBy(col("__us").asc, col(idCol).asc)
    val gaps = df.select(col(typeCol), col(idCol), col(userCol),
        micros(col(tsCol)).as("__us"))
      .withColumn("__gap", col("__us") - lag(col("__us"), 1).over(w))
      .filter(col("__gap").isNotNull)
    val n = gaps.groupBy(typeCol).agg(count(lit(1)).as("n_gaps"))
    Stats.groupLowerMedian(gaps, Seq(typeCol), "__gap", "med_gap_us")
      .join(broadcast(n), Seq(typeCol))
      .select(col(typeCol), col("n_gaps"), col("med_gap_us"))
  }

  // -------------------------------------------------------- weekly churn
  /** Weekly churn: of the users active in integer week w, the fraction with
    * no activity in week w+1. The distinct (user, week) relation self-joins
    * co-keyed (one shuffle at user-week grain — never the raw log); the
    * final week is dropped (no w+1 evidence). Rates are exact counts
    * finished by one IEEE division, 6dp. Returns (week, n_active,
    * n_churned, churn_rate). */
  def weeklyChurn(df: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val wk = df.select(col(userCol).as("__u"),
      weekIndex(col(tsCol)).as("week")).distinct()
    val nxt = wk.select(col("__u"), (col("week") - 1).as("week"))
    val churned = wk.join(nxt, Seq("__u", "week"), "left_anti")
      .groupBy("week").agg(count(lit(1)).as("n_churned"))
    val active = wk.groupBy("week").agg(count(lit(1)).as("n_active"))
    val maxw = wk.agg(max(col("week")).as("__mx"))
    active.join(churned, Seq("week"), "left")
      .crossJoin(broadcast(maxw)).filter(col("week") < col("__mx"))
      .select(col("week"), col("n_active"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"),
        round(coalesce(col("n_churned"), lit(0L)).cast("double") /
          col("n_active").cast("double"), 6).as("churn_rate"))
  }

  /** Top-`k` event-type trigrams over per-user ordered sequences (two leads
    * on one per-user window; the (us, id) tie rule), counted into the
    * type-vocabulary cube and cut with a TakeOrdered top-k — the dominant
    * behavioral paths. Ties break on the trigram text. */
  def eventTrigrams(df: DataFrame, userCol: String, idCol: String,
                    tsCol: String, typeCol: String, k: Int): DataFrame = {
    require(k > 0)
    val w = Window.partitionBy(col(userCol))
      .orderBy(micros(col(tsCol)).asc, col(idCol).asc)
    df.select(col(typeCol).as("t1"),
        lead(col(typeCol), 1).over(w).as("t2"),
        lead(col(typeCol), 2).over(w).as("t3"))
      .filter(col("t2").isNotNull && col("t3").isNotNull)
      .groupBy("t1", "t2", "t3").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t1").asc, col("t2").asc, col("t3").asc)
      .limit(k)
  }

  // ---------------------------------------------------------- burstiness
  /** Per-group burstiness of the daily series: the Fano factor (index of
    * dispersion) var/mean of zero-filled daily counts — ≈1 is Poisson,
    * higher flags bursts/incidents, lower flags rate-limited traffic. Each
    * group's day spine explodes from its own (min, max) aggregate
    * (calendar-bounded), counts sum as DECIMAL (exact), and the factor is
    * one fixed IEEE closed form, 6dp. Returns (group, n_days, mean_daily,
    * fano). */
  def burstiness(df: DataFrame, groupCol: String, tsCol: String): DataFrame = {
    val counts = df.select(col(groupCol).as("g"), dayIndex(col(tsCol)).as("day"))
      .groupBy("g", "day").agg(count(lit(1)).as("n"))
    val spine = counts.groupBy("g")
      .agg(min(col("day")).as("__lo"), max(col("day")).as("__hi"))
      .select(col("g"), explode(sequence(col("__lo"), col("__hi"))).as("day"))
    val daily = spine.join(counts, Seq("g", "day"), "left")
      .select(col("g"), coalesce(col("n"), lit(0L)).as("n"))
    val nd = col("n_days").cast("double")
    val s = col("__s").cast("double")
    val p = col("__p").cast("double")
    daily.groupBy("g").agg(count(lit(1)).as("n_days"),
        sum(col("n").cast("decimal(18,0)")).as("__s"),
        sum(col("n").cast("decimal(18,0)") * col("n")).as("__p"))
      .select(col("g").as(groupCol), col("n_days"),
        round(s / nd, 6).as("mean_daily"),
        round((nd * p - s * s) / (nd * nd) / (s / nd), 6).as("fano"))
  }

  // ------------------------------------------- co-occurrence cosine matrix
  /** Item-item cosine similarity over the user-level basket: for each
    * unordered type pair, cos = n_both / √(n_a·n_b) on the implicit binary
    * user-vectors — [[associationRules]]' symmetric, marginal-normalized
    * sibling (lift ranks rules, cosine ranks neighbors). Same scale shape:
    * the DISTINCT (user, type) basket self-joins co-keyed on user, marginals
    * broadcast. n_a·n_b stays below 2^53 for exact DOUBLE conversion
    * (documented bound: marginals ≤ ~9.4e7 each), so the one sqrt+divide
    * is identical in any engine; 6dp. Returns (item_a, item_b, n_both,
    * cosine) with item_a < item_b.
    *
    * Scale guard — `maxBasket`: the self-join emits |basket|²/2 pairs from
    * ONE task per user (the join keys on user), so an unbounded basket —
    * a 10⁵-item power user — would push 5·10⁹ rows through a single join
    * key. Baskets larger than `maxBasket` are therefore truncated to their
    * `maxBasket` items FIRST in (md5("cc|"||item), item) order — a
    * deterministic, engine-reproducible uniform draw (the capPerGroup
    * discipline), never first-k-by-arrival. Marginals are computed on the
    * SAME capped relation, so cosine stays internally consistent on the
    * capped bipartite graph. Exactness contract: results are EXACT whenever
    * every basket has ≤ maxBasket items (any vocabulary-bounded typeCol,
    * and part-basket data at tested scales); beyond that each power
    * basket contributes a fixed-size uniform subsample — at most
    * maxBasket²/2 ≈ 5·10⁵ pairs per user at the default 1024. */
  def cooccurrenceCosine(df: DataFrame, userCol: String, typeCol: String,
                         minUsers: Long = 1L,
                         maxBasket: Int = 1024): DataFrame = {
    require(maxBasket >= 2, s"maxBasket must be >= 2: $maxBasket")
    // (r16 negative A/B, recorded as a guard-rail: rewriting the pair
    // stage as a per-user collect_list + row-local slice/posexplode
    // enumeration — the copurchaseEdges form — measured WORSE here,
    // q185 5.4 -> 6.2 s: at basket sizes beyond the copurchase tier's
    // ≤7 items the generator's per-element array slices out-allocate
    // the codegen'd self-join it replaced. The join form stays.)
    val basket = cappedBasket(df, userCol, typeCol, maxBasket)
    val marg = basket.groupBy(col("__ty")).agg(count(lit(1)).as("__n"))
    val pairs = basket.join(
        basket.select(col("__u"), col("__ty").as("__ty2")), Seq("__u"))
      .filter(col("__ty") < col("__ty2"))
      .groupBy(col("__ty").as("item_a"), col("__ty2").as("item_b"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= minUsers)
    pairs
      .join(broadcast(marg.select(col("__ty").as("item_a"), col("__n").as("__na"))),
        Seq("item_a"))
      .join(broadcast(marg.select(col("__ty").as("item_b"), col("__n").as("__nb"))),
        Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("n_both"),
        round(col("n_both").cast("double") /
          sqrt((col("__na") * col("__nb")).cast("double")), 6).as("cosine"))
  }

  /** The DISTINCT (user, item) basket, truncated to each user's first
    * `maxBasket` items in (md5("cc|"||user||"|"||item), item) order — the
    * deterministic draw shared by [[cooccurrenceCosine]] and
    * [[recommendTopK]]'s pair stage. The hash is salted with the USER so
    * the draw is an independent subsample per basket: an item-only hash
    * would correlate truncation perfectly across users — when the cap
    * binds, every power basket keeps the same item subset and high-hash
    * items vanish from the pair corpus entirely, biasing co-occurrence
    * counts instead of thinning them uniformly. The rank window partitions
    * on user — the same key the downstream self-join shuffles on, so AQE
    * reuses the exchange. Null handling: nulls hash as "" so the DRAW
    * never inherits engine-dependent null ordering; the residual
    * null-vs-""-item hash collision then breaks on an explicit isNull flag
    * (false < true in every engine) — a raw `item ASC` tiebreak would
    * re-import Spark-nulls-first vs SQL-nulls-last divergence on exactly
    * that tie. */
  private def cappedBasket(df: DataFrame, userCol: String, typeCol: String,
                           maxBasket: Int): DataFrame = {
    val b = df.select(col(userCol).as("__u"), col(typeCol).as("__ty"))
      .distinct()
    if (maxBasket == Int.MaxValue) b
    else {
      val w = Window.partitionBy(col("__u")).orderBy(
        md5(concat(lit("cc|"),
          coalesce(col("__u").cast("string"), lit("")), lit("|"),
          coalesce(col("__ty").cast("string"), lit("")))).asc,
        col("__ty").isNull.asc, col("__ty").asc)
      // exchange barrier ABOVE the window (r15 optimization, guide §2.4):
      // the capped relation has three consumers (both self-join sides +
      // the marginals), and a window is not an exchange — without the
      // barrier each consumer re-ran the md5 draw + sort; with it they
      // all read ONE reused u-keyed exchange, which is also exactly the
      // partitioning the pair self-join needs
      b.withColumn("__br", row_number().over(w))
        .filter(col("__br") <= maxBasket).drop("__br")
        .repartition(col("__u"))
    }
  }

  // ------------------------------------------------------ association rules
  /** Event-type association rules over the user-level basket: for every
    * ordered pair (a, b) of distinct event types a user can hold,
    * support = P(a ∧ b), confidence = P(b | a), lift = confidence / P(b) —
    * exact integer counts, fixed-shape IEEE division, 6dp round (the
    * engine-independence discipline). Returns (antecedent, consequent,
    * n_both, support, confidence, lift).
    *
    * The pair relation self-joins the DISTINCT (user, type) basket co-keyed
    * on user — baskets are bounded by the type vocabulary (tiny vs the event
    * log), so the join fans out per-user pairs, never raw events; type
    * marginals broadcast. `maxBasket` is [[cooccurrenceCosine]]'s
    * deterministic md5-order cap on the quadratic stage, here as a guard
    * against an UNBOUNDED typeCol (items, urls): for a genuinely
    * vocabulary-bounded typeCol the cap can never bind, so support/
    * confidence/lift stay exact by construction — not fixture luck.
    */
  def associationRules(df: DataFrame, userCol: String, typeCol: String,
                       minUsers: Long = 1L,
                       maxBasket: Int = 1024): DataFrame = {
    require(maxBasket >= 2, s"maxBasket must be >= 2: $maxBasket")
    val basket = cappedBasket(df, userCol, typeCol, maxBasket)
    val nUsers = basket.select(col("__u")).distinct()
      .agg(count(lit(1)).as("__nu"))
    val marg = basket.groupBy(col("__ty").as("consequent"))
      .agg(count(lit(1)).as("__nb"))
    val pairs = basket.join(
        basket.select(col("__u"), col("__ty").as("__ty2")), Seq("__u"))
      .filter(col("__ty") =!= col("__ty2"))
      .groupBy(col("__ty").as("antecedent"), col("__ty2").as("consequent"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= minUsers)
    val withA = pairs.join(
      marg.select(col("consequent").as("antecedent"), col("__nb").as("__na")),
      Seq("antecedent"))
    withA.join(marg, Seq("consequent")).crossJoin(broadcast(nUsers))
      .select(col("antecedent"), col("consequent"), col("n_both"),
        round(col("n_both") / col("__nu").cast("double"), 6).as("support"),
        round(col("n_both") / col("__na").cast("double"), 6).as("confidence"),
        round((col("n_both") / col("__na").cast("double")) /
          (col("__nb") / col("__nu").cast("double")), 6).as("lift"))
  }

  // ---------------------------------------------------- entry / exit paths
  /** Session landing/parting behavior: sessionize exactly like
    * [[sessionStats]] (gap rule, (ts, id) tie order), take each session's
    * FIRST and LAST event type, and count sessions per (entry, exit) pair —
    * the "where do journeys start and end" rollup behind funnel design.
    * Same scale shape as sessionStats: one per-user window (bounded by a
    * user's events, never the log), one per-session aggregate, and a final
    * rollup bounded by the type-vocabulary square. Returns
    * (entry_type, exit_type, n_sessions). */
  def entryExitPaths(df: DataFrame, userCol: String, idCol: String,
                     tsCol: String, typeCol: String,
                     gapMinutes: Int): DataFrame = {
    require(gapMinutes > 0)
    val w = Window.partitionBy(col(userCol))
      .orderBy(col("__us").asc, col(idCol).asc)
    val gapUs = gapMinutes * 60000000L
    val sessions = df
      .select(col(userCol), col(idCol), col(typeCol), micros(col(tsCol)).as("__us"))
      .withColumn("__prev", lag(col("__us"), 1).over(w))
      .withColumn("__new", when(col("__prev").isNull ||
        col("__us") - col("__prev") > gapUs, 1L).otherwise(0L))
      .withColumn("session", sum(col("__new")).over(w))
    // first/last as min_by/max_by over the (ts, id) total order — ONE
    // aggregate after the one sessionizing window, instead of a second
    // row-number window pass over the full event relation
    sessions
      .groupBy(col(userCol), col("session"))
      .agg(min_by(col(typeCol), struct(col("__us"), col(idCol))).as("entry_type"),
        max_by(col(typeCol), struct(col("__us"), col(idCol))).as("exit_type"))
      .groupBy("entry_type", "exit_type")
      .agg(count(lit(1)).as("n_sessions"))
  }

  // ------------------------------------------------- rolling daily anomaly
  /** Days whose zero-filled daily count breaks `sigmas`·σ of the TRAILING
    * `window`-day mean (full windows only) — the operational anomaly gate
    * over a [[burstiness]]-style per-group spine. The test is pure INTEGER
    * arithmetic: with w-day sums ss = Σn and pp = Σn², flag iff
    * (w·n − ss)² > sigmas²·(w·pp − ss²) — bit-identical in any engine, no
    * rounding anywhere near the gate. The reported z-score
    * (w·n − ss)/√(w·pp − ss²) is one correctly-rounded IEEE sqrt + divide,
    * 6dp. Rolling sums are per-group windows over the calendar-bounded
    * spine (never the event log). Returns
    * (group, day, n, mean_7d, z) for anomalous days only. */
  def rollingDailyAnomalies(df: DataFrame, groupCol: String, tsCol: String,
                            window: Int = 7, sigmas: Int = 2): DataFrame = {
    require(window >= 2 && sigmas >= 1)
    val counts = df.select(col(groupCol).as("g"), dayIndex(col(tsCol)).as("day"))
      .groupBy("g", "day").agg(count(lit(1)).as("n"))
    val spine = counts.groupBy("g")
      .agg(min(col("day")).as("__lo"), max(col("day")).as("__hi"))
      .select(col("g"), explode(sequence(col("__lo"), col("__hi"))).as("day"))
    val daily = spine.join(counts, Seq("g", "day"), "left")
      .select(col("g"), col("day"), coalesce(col("n"), lit(0L)).as("n"))
    val w = Window.partitionBy(col("g")).orderBy(col("day").asc)
      .rowsBetween(-(window - 1), Window.currentRow)
    val armed = daily
      .withColumn("__w", count(lit(1)).over(w))
      .withColumn("__ss", sum(col("n")).over(w))
      .withColumn("__pp", sum(col("n") * col("n")).over(w))
      .filter(col("__w") === window)
    val dev = lit(window.toLong) * col("n") - col("__ss")
    val varN = lit(window.toLong) * col("__pp") - col("__ss") * col("__ss")
    armed.filter(dev * dev > lit(sigmas.toLong * sigmas) * varN)
      .select(col("g").as(groupCol), col("day"), col("n"),
        round(col("__ss").cast("double") / window, 6).as("mean_win"),
        round(dev.cast("double") / sqrt(varN.cast("double")), 6).as("z"))
  }

  // ------------------------------------------------------ RFM segmentation
  /** RFM (recency / frequency / monetary) segmentation of a transaction
    * log: per key, days since last activity (vs the corpus max day),
    * transaction count, and decimal-exact amount sum, each bucketed 1..4 by
    * the corpus quartiles — the classic customer-value grid. Bucketing is
    * the q93 discipline: ONE percentile aggregate over the per-key relation,
    * boundaries rounded 4dp and broadcast back, bucket = 1 + Σ(v > q) as a
    * pure projection — never a global ntile sort (which would collapse to a
    * single partition at scale). Returns one row per key:
    * (key, recency, frequency, monetary, r_bucket, f_bucket, m_bucket). */
  def rfmBuckets(df: DataFrame, keyCol: String, tsCol: String,
                 amountCol: String): DataFrame = {
    val perKey = df.groupBy(col(keyCol).as("key"))
      .agg(max(dayIndex(col(tsCol))).as("__last"),
        count(lit(1)).as("frequency"),
        sum(col(amountCol).cast("decimal(38,6)")).cast("double").as("monetary"))
    val mx = perKey.agg(max(col("__last")).as("__mx"))
    // materialize the per-key relation once: both the percentile
    // aggregate and the bucket projection read it, and each reference
    // would otherwise replay the transaction-log aggregate
    val rec = Ops.materialize(perKey.crossJoin(broadcast(mx))
      .select(col("key"), (col("__mx") - col("__last")).as("recency"),
        col("frequency"), col("monetary")))
    val qs = Seq(0.25, 0.5, 0.75)
    def pct(c: String) = expr(s"percentile($c, array(${qs.mkString(", ")}))")
    val boundNames = for (d <- Seq("r", "f", "m"); i <- qs.indices) yield s"__$d$i"
    val bounds = rec.agg(pct("recency").as("__qr"), pct("frequency").as("__qf"),
        pct("monetary").as("__qm"))
      .select(Seq("r", "f", "m").zip(Seq("__qr", "__qf", "__qm")).flatMap {
        case (d, q) => qs.indices.map(i =>
          round(element_at(col(q), i + 1), 4).as(s"__$d$i"))
      }: _*)
    // a NULL dimension keeps a NULL bucket (all-null amounts): folding it
    // into bucket 1 would silently misfile the key — and diverge from SQL,
    // where 1 + NULL stays NULL
    def bucket(v: String, d: String) =
      when(col(v).isNull, lit(null)).otherwise(
        qs.indices.map(i => when(col(v) > col(s"__$d$i"), 1).otherwise(0))
          .reduce(_ + _) + lit(1))
    rec.crossJoin(broadcast(bounds))
      .withColumn("r_bucket", bucket("recency", "r"))
      .withColumn("f_bucket", bucket("frequency", "f"))
      .withColumn("m_bucket", bucket("monetary", "m"))
      .drop(boundNames: _*)
  }

  // ----------------------------------------------------- survival curve
  /** User-lifetime survival curve: the share of users whose observed
    * lifetime (last active week − first active week) is at least w, for
    * every w from 0 to the maximum — the retention-planning face of q129's
    * churn. Lifetimes aggregate once at user grain; the curve is a reverse
    * running sum over the CALENDAR-BOUNDED week spine (the q138 precedent:
    * a global window is fine when its input is the spine, never the log).
    * Exact integers, one IEEE division, 6dp. Returns
    * (weeks, n_surviving, share). */
  def survivalCurve(df: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val lt = df.select(col(userCol).as("u"), weekIndex(col(tsCol)).as("wk"))
      .groupBy("u").agg((max(col("wk")) - min(col("wk"))).as("lifetime"))
    val cnt = lt.groupBy("lifetime").agg(count(lit(1)).as("n"))
    val spine = cnt.agg(max(col("lifetime")).as("__mx"))
      .select(explode(sequence(lit(0L), col("__mx"))).as("weeks"))
    val total = lt.agg(count(lit(1)).as("__t"))
    val rev = Window.orderBy(col("weeks").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(cnt, spine("weeks") === cnt("lifetime"), "left")
      .select(col("weeks"), coalesce(col("n"), lit(0L)).as("n"))
      .withColumn("n_surviving", sum(col("n")).over(rev))
      .crossJoin(broadcast(total))
      .select(col("weeks"), col("n_surviving"),
        round(col("n_surviving").cast("double") / col("__t").cast("double"), 6)
          .as("share"))
  }

  // ------------------------------------------- stepped-decay activity score
  /** Recency-weighted per-key activity score with STEPPED exponential
    * decay: an event `k` full half-lives before the corpus max day weighs
    * 2^−k (capped at `maxSteps`). The engagement score behind "recently
    * active" ranking — and, deliberately, decay WITHOUT libm: every weight
    * is an exact power of two carried as the INTEGER 2^(maxSteps−k), so
    * per-key scores are exact integer sums (order-independent across any
    * partitioning — a float Σ of pow() terms would be neither), finished
    * by one exact 2^−maxSteps scaling. Engine-independent to the last bit.
    * Returns (key, n_events, score_units, score) — score = units/2^maxSteps
    * rounded 6dp; rank on score_units for exact order. */
  def decayedActivityScore(df: DataFrame, keyCol: String, tsCol: String,
                           halfLifeDays: Int = 7, maxSteps: Int = 40): DataFrame = {
    require(halfLifeDays > 0 && maxSteps >= 1 && maxSteps <= 62)
    // null timestamps carry no recency evidence: drop them up front so
    // n_events and score_units count the same rows
    val days = df.filter(col(tsCol).isNotNull)
      .select(col(keyCol).as("key"), dayIndex(col(tsCol)).as("__day"))
    val mx = days.agg(max(col("__day")).as("__mx"))
    // integer floor division throughout — `/` on Columns is double division
    val steps = expr(
      s"least((__mx - __day) div ${halfLifeDays}L, ${maxSteps}L)").cast("int")
    days.crossJoin(broadcast(mx))
      .withColumn("__k", steps)
      .select(col("key"), expr(s"shiftleft(1L, $maxSteps - __k)").as("__u"))
      .groupBy("key")
      .agg(count(lit(1)).as("n_events"), sum(col("__u")).as("score_units"))
      .withColumn("score", round(col("score_units").cast("double") /
        lit(math.pow(2.0, maxSteps)), 6))
  }

  // ------------------------------------------------------- weekday profile
  /** Per-group day-of-week profile: event counts by weekday (0 = Monday …
    * 6 = Sunday, from the integer day index — epoch day 0 is a Thursday,
    * so dow = (day + 3) mod 7; never a locale-dependent calendar function;
    * pmod keeps pre-1970 days positive where SQL `%` would go negative —
    * mirror with a pmod-shaped oracle if the data predates the epoch),
    * each with its share of the group's events and the seasonality index
    * 7·n/total (1.0 = flat). One aggregate bounded by 7·|groups| rows;
    * group totals broadcast back. Exact counts, fixed-shape IEEE division,
    * 6dp. Returns (group, dow, n, share, idx). */
  def weekdayProfile(df: DataFrame, groupCol: String, tsCol: String): DataFrame = {
    val counts = df.select(col(groupCol).as("g"),
        pmod(dayIndex(col(tsCol)) + lit(3L), lit(7L)).as("dow"))
      .groupBy("g", "dow").agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("g").agg(sum(col("n")).as("__t"))
    counts.join(broadcast(totals), Seq("g"))
      .select(col("g").as(groupCol), col("dow"), col("n"),
        round(col("n").cast("double") / col("__t").cast("double"), 6).as("share"),
        round(lit(7.0) * col("n").cast("double") / col("__t").cast("double"), 6).as("idx"))
  }

  // -------------------------------------------------------- SCD-2 history
  /** Slowly-changing-dimension (type 2) history build from an event-shaped
    * change log: per key, order the log by (µs, id), collapse CONSECUTIVE
    * rows carrying the same attribute value into one run, and emit one row
    * per run with its validity interval — `valid_from` = the run's first µs,
    * `valid_to` = the next run's first µs (NULL while current), `version` =
    * the run ordinal, `is_current` on the last run. The warehouse-history
    * primitive behind every "what did this look like on date D" query.
    *
    * Three window passes, ALL over the same key partitioning (one exchange,
    * per-key sort bounded by a key's own log, never the corpus): change
    * flag via lag, run ordinal via running sum, and valid_to via lead on
    * the collapsed runs. Integer-µs time discipline throughout.
    * Returns (key, attr value, valid_from, valid_to, version, is_current).
    */
  def scdHistory(df: DataFrame, keyCol: String, idCol: String,
                 tsCol: String, attrCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("__us").asc, col(idCol).asc)
    val runs = df
      .select(col(keyCol), col(idCol), col(attrCol), micros(col(tsCol)).as("__us"))
      // null-safe change test: a NULL attribute value starts/continues runs
      // exactly like any other value (<=> never returns NULL)
      .withColumn("__chg", when(lag(col(attrCol), 1).over(w).isNull &&
          lag(col("__us"), 1).over(w).isNull, 1L)
        .otherwise(when(col(attrCol) <=> lag(col(attrCol), 1).over(w), 0L)
          .otherwise(1L)))
      .withColumn("__run", sum(col("__chg")).over(w))
      .filter(col("__chg") === 1L) // run starts only
    val wr = Window.partitionBy(col(keyCol)).orderBy(col("__run").asc)
    runs
      .withColumn("valid_to", lead(col("__us"), 1).over(wr))
      .select(col(keyCol), col(attrCol),
        col("__us").as("valid_from"), col("valid_to"),
        col("__run").as("version"),
        col("valid_to").isNull.as("is_current"))
  }

  // ------------------------------------------------------- activity streaks
  /** Longest consecutive-active-day streak per key — the gaps-and-islands
    * classic. Distinct (key, day) activations get a per-key row_number by
    * day; `day − row_number` is constant exactly within a consecutive run,
    * so one aggregate per (key, island) yields each streak's length and
    * span, and a per-key argmax (longest, earliest-start tiebreak) picks
    * the best. One exchange on the key; windows sort only a key's own
    * distinct days. Returns (key, streak_days, start_day, end_day). */
  def longestStreaks(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val active = df.select(col(keyCol), dayIndex(col(tsCol)).as("__day")).distinct()
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__day").asc)
    val islands = active
      .withColumn("__isl", col("__day") - row_number().over(w))
      .groupBy(col(keyCol), col("__isl"))
      .agg(count(lit(1)).as("len"), min(col("__day")).as("start_day"),
        max(col("__day")).as("end_day"))
    islands.groupBy(col(keyCol))
      .agg(max_by(struct(col("len"), col("start_day"), col("end_day")),
        // longest wins; among equals the EARLIEST start (negated for max_by)
        struct(col("len"), (-col("start_day")).as("s"))).as("__best"))
      .select(col(keyCol), col("__best.len").as("streak_days"),
        col("__best.start_day").as("start_day"),
        col("__best.end_day").as("end_day"))
  }

  // ------------------------------------------------- time-weighted average
  /** Time-weighted average of a value that holds until the next observation
    * (TWAP-style): per key, each observation is weighted by the INTEGER
    * day-count until the key's next observation (ties broken by id; the
    * last observation has no interval and drops out). The kernel is
    * integer-exact — value scaled to cents (`scale`=2 → ×100, one
    * round-half-up off the 2dp double image) times integer days, summed as
    * BIGINT; the single IEEE division at the end reports 6dp. One per-key
    * window (lead) sharing the key exchange with the final aggregate.
    * Returns (key, n_intervals, span_days, twa). */
  def timeWeightedAvg(df: DataFrame, keyCol: String, idCol: String,
                      tsCol: String, valueCol: String,
                      scale: Int = 2): DataFrame = {
    val mult = math.round(math.pow(10, scale))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("__day").asc, col(idCol).asc)
    df.select(col(keyCol), col(idCol), dayIndex(col(tsCol)).as("__day"),
        round(col(valueCol) * mult, 0).cast("long").as("__cents"))
      .withColumn("__next", lead(col("__day"), 1).over(w))
      .filter(col("__next").isNotNull)
      .withColumn("__wt", col("__next") - col("__day"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("__wt")).as("span_days"),
        round((sum(col("__cents") * col("__wt")).cast("double") /
          sum(col("__wt")).cast("double")) / mult, 6).as("twa"))
      .filter(col("span_days") > 0)
  }

  // --------------------------------------------------- last-touch attribution
  /** Last-touch attribution: every conversion event (`convType`) is credited
    * to the user's MOST RECENT preceding non-conversion event type (the
    * marketing-attribution standard; conversions with no prior touch credit
    * the `"(none)"` bucket), rolled up to one row per touch type with the
    * conversion count and the decimal-exact summed conversion value.
    *
    * One per-user window — `last(touch, ignoreNulls)` over ROWS UNBOUNDED
    * PRECEDING .. 1 PRECEDING on the (µs, id) total order — so the frame
    * walk is a single pass over each user's own events (never the log), then
    * one vocabulary-bounded rollup. Returns (touch_type, n_conv, total_value).
    */
  def lastTouchAttribution(df: DataFrame, userCol: String, idCol: String,
                           tsCol: String, typeCol: String, convType: String,
                           valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col("__us").asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(userCol), col(idCol), col(typeCol), col(valueCol),
        micros(col(tsCol)).as("__us"))
      .withColumn("__touch", last(
        when(col(typeCol) =!= convType, col(typeCol)), ignoreNulls = true).over(w))
      .filter(col(typeCol) === convType)
      .groupBy(coalesce(col("__touch"), lit("(none)")).as("touch_type"))
      .agg(count(lit(1)).as("n_conv"),
        sum(col(valueCol).cast("decimal(38,6)")).cast("double").as("total_value"))
  }

  // --------------------------------------------------------- adoption curve
  /** Cumulative adoption: per calendar day (the integer day-index spine from
    * first to last activity), how many users have had their FIRST activity
    * on or before that day, and the share of the eventual total. One
    * user-keyed aggregate (first day), one day-keyed count, and a running
    * sum over the calendar-bounded spine (the q151 global-window-over-spine
    * precedent: the window's partition is the spine, days, not the data).
    * Returns (day, n_new, cum_users, pct_of_total). */
  def adoptionCurve(df: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val firstDay = df.select(col(userCol).as("__u"), dayIndex(col(tsCol)).as("__d"))
      .groupBy("__u").agg(min(col("__d")).as("__d"))
    val perDay = firstDay.groupBy(col("__d").as("day"))
      .agg(count(lit(1)).as("n_new"))
    val spine = perDay.agg(min(col("day")).as("__lo"), max(col("day")).as("__hi"))
      .select(explode(sequence(col("__lo"), col("__hi"))).as("day"))
    val w = Window.orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = firstDay.agg(count(lit(1)).as("__t"))
    spine.join(perDay, Seq("day"), "left")
      .select(col("day"), coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("cum_users", sum(col("n_new")).over(w))
      .crossJoin(broadcast(total))
      .select(col("day"), col("n_new"), col("cum_users"),
        round(col("cum_users").cast("double") / col("__t").cast("double"), 6)
          .as("pct_of_total"))
  }

  // ---------------------------------------------- point-in-time features
  /** Point-in-time trailing feature join (the feature-store pattern): for
    * every anchor event (`anchorType`), the count of each `featureTypes`
    * event by the same user in the trailing window `(t − windowSec, t)` —
    * STRICTLY before the anchor instant, so the feature is leak-free for
    * training. One per-user RANGE window on the µs order per feature type
    * (all sharing the single user exchange + sort) — each frame walk is
    * bounded by a user's own events; there is no purchases×events join to
    * blow up on a hot user. Returns the anchor rows
    * (id, user, µs ts) + one `n_<type>` column per feature type. */
  def pitTrailingCounts(df: DataFrame, userCol: String, idCol: String,
                        tsCol: String, typeCol: String, anchorType: String,
                        featureTypes: Seq[String],
                        windowSec: Long): DataFrame = {
    require(featureTypes.nonEmpty && windowSec > 0)
    val w = Window.partitionBy(col(userCol)).orderBy(col("__us").asc)
      .rangeBetween(-windowSec * 1000000L + 1, -1)
    val base = df.select(col(userCol), col(idCol), col(typeCol),
      micros(col(tsCol)).as("__us"))
    val withCounts = featureTypes.foldLeft(base) { (acc, ft) =>
      acc.withColumn(s"n_$ft",
        sum(when(col(typeCol) === ft, 1L).otherwise(0L)).over(w))
    }
    withCounts.filter(col(typeCol) === anchorType)
      .select(col(idCol) +: col(userCol) +: col("__us").as("anchor_us") +:
        featureTypes.map(ft => coalesce(col(s"n_$ft"), lit(0L)).as(s"n_$ft")): _*)
  }

  // -------------------------------------------------------- stage latency
  /** Conversion latency between two funnel stages, per weekly cohort of the
    * FIRST-stage completion: for each user, t0 = first `fromType` event and
    * t1 = first `toType` event strictly after t0 (the [[funnel]] rule);
    * completing users report into their t0-week cohort with the LOWER-MEDIAN
    * latency in seconds — an order statistic (a data element), byte-identical
    * cross-engine, no interpolation. Two user-keyed aggregates + one co-keyed
    * join + the per-cohort median window. Returns
    * (cohort_week, n_completed, med_latency_s). */
  def stageLatency(df: DataFrame, userCol: String, typeCol: String,
                   tsCol: String, fromType: String, toType: String): DataFrame = {
    val us = micros(col(tsCol))
    val first = df.filter(col(typeCol) === fromType)
      .select(col(userCol).as("__u"), us.as("__t0"))
      .groupBy("__u").agg(min(col("__t0")).as("__t0"))
    val completed = df.filter(col(typeCol) === toType)
      .select(col(userCol).as("__u"), us.as("__t1"))
      .join(first, Seq("__u"))
      .filter(col("__t1") > col("__t0"))
      .groupBy("__u").agg(min(col("__t1")).as("__t1"), min(col("__t0")).as("__t0"))
      .select(col("__u"),
        floor((floor(col("__t0") / lit(86400000000L)) + lit(3)) / lit(7))
          .cast("long").as("cohort_week"),
        floor((col("__t1") - col("__t0")) / lit(1000000L)).cast("long")
          .as("__lat"))
    Stats.groupLowerMedian(completed, Seq("cohort_week"), "__lat", "med_latency_s")
      .join(completed.groupBy("cohort_week").agg(count(lit(1)).as("n_completed")),
        Seq("cohort_week"))
      .select(col("cohort_week"), col("n_completed"), col("med_latency_s"))
  }

  // ----------------------------------------------------------- cohort LTV
  /** Cohort lifetime value: customers cohort by their FIRST-order week, and
    * each (cohort_week, week_offset) cell reports the decimal-exact revenue
    * plus the running cumulative LTV of that cohort. Same triangle as
    * [[retentionCohorts]] with money instead of presence; the cumulative
    * window partitions by cohort and walks its bounded offsets. Returns
    * (cohort_week, week_offset, revenue, cum_revenue). */
  def cohortLtv(df: DataFrame, keyCol: String, tsCol: String,
                amountCol: String): DataFrame = {
    val wk = weekIndex(col(tsCol))
    val txns = df.select(col(keyCol).as("__k"), wk.as("__wk"),
      col(amountCol).cast("decimal(38,6)").as("__amt"))
    val cohort = txns.groupBy("__k").agg(min(col("__wk")).as("cohort_week"))
    val cells = txns.join(cohort, Seq("__k"))
      .groupBy(col("cohort_week"), (col("__wk") - col("cohort_week")).as("week_offset"))
      .agg(sum(col("__amt")).as("__rev"))
    val w = Window.partitionBy(col("cohort_week")).orderBy(col("week_offset").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("__cum", sum(col("__rev")).over(w))
      .select(col("cohort_week"), col("week_offset"),
        col("__rev").cast("double").as("revenue"),
        col("__cum").cast("double").as("cum_revenue"))
  }

  // -------------------------------------------------- item-based recommender
  /** Item-based collaborative-filtering top-k: score(user, item) = Σ over
    * the user's basket of cosine(owned, item), over each item's
    * `maxNeighbors` most-similar items, excluding items already owned.
    * The classic Sarwar et al. (WWW'01) item-kNN — the workhorse
    * "customers also bought" model, here as one declarative plan.
    *
    * DETERMINISM: pair cosines round to 6dp and accumulate as
    * DECIMAL(18,6) — the score sum is exact and shuffle-order-independent,
    * so the (score DESC, item ASC) ranking is engine-identical.
    *
    * 100 TB shape: the similarity matrix prunes to `maxNeighbors` rows per
    * item BEFORE the basket join (per-item rank over the support-floored
    * pair relation — bounded fan-out of basket × maxNeighbors candidate
    * rows, never basket × catalog); the candidate aggregate and the rank
    * window both key on the user. The owned-item exclusion is the same
    * co-keyed anti join. The quadratic pair stage inherits
    * [[cooccurrenceCosine]]'s `maxBasket` deterministic cap (a 10⁵-item
    * power basket would otherwise emit 5·10⁹ pairs from one join key);
    * the LINEAR stages — scoring fan-out (basket × maxNeighbors) and the
    * owned-item anti join — keep the FULL basket, so a power user is
    * still scored against, and excluded from, everything they own.
    *
    * GROWTH LAW (the r14 sf1 watch item — q185's 5.3× at 10× data): the
    * pair stage emits C(min(B, maxBasket), 2) rows per user — QUADRATIC
    * in basket density B until the cap, constant beyond, always linear
    * in users at fixed density (ScaleStress: circulant closed forms at
    * B=32 vs B=64 — 2× density ⇒ ~4× pair mass, measured). No cosine
    * floor can cut that shuffle (cosine exists only AFTER the pair
    * counts); what `minSim` > 0 prunes is everything DOWNSTREAM of it —
    * the per-item neighbor rank window and the basket × neighbor scoring
    * fan-out, the stages whose row counts grow with co-occurrence
    * density. Default 0.0 keeps the exact historical semantics (and the
    * untouched plan). Returns (user, item, score, rank ≤ k). */
  def recommendTopK(df: DataFrame, userCol: String, itemCol: String,
                    k: Int, minUsers: Long = 2L,
                    maxNeighbors: Int = 20,
                    maxBasket: Int = 1024,
                    minSim: Double = 0.0): DataFrame = {
    require(k >= 1 && maxNeighbors >= 1, s"bad bounds: k=$k maxNeighbors=$maxNeighbors")
    require(minSim >= 0.0 && minSim <= 1.0, s"minSim out of [0,1]: $minSim")
    // Eager cut of the distinct basket (r16, guide §7.2): the scoring
    // join, the owned-item anti join, AND the whole pair stage (via
    // cooccurrenceCosine) each re-derived the caller's input relation +
    // distinct from scratch — for q185 that is three orders⋈lineitem
    // joins. The basket is the relation every stage shuffles anyway; one
    // materialization replaces three derivations.
    val basket = Ops.materialize(
      df.select(col(userCol).as("__u"), col(itemCol).as("__i")).distinct())
    val simsAll = cooccurrenceCosine(basket, "__u", "__i", minUsers, maxBasket)
    val sims = (if (minSim > 0.0) simsAll.filter(col("cosine") >= minSim)
      else simsAll)
      .select(col("item_a"), col("item_b"),
        col("cosine").cast("decimal(18,6)").as("__sim"))
    // expand to both directions IN ONE PASS (r15 optimization): the union
    // of two selects re-executed the whole pair aggregate per branch (its
    // exchange was reused but the post-exchange final agg + marginal join
    // ran twice — one full read of the pair shuffle each); explode reads
    // it once and doubles rows in-task
    val directed = sims.select(explode(array(
        struct(col("item_a").as("__i"), col("item_b").as("__j"), col("__sim")),
        struct(col("item_b").as("__i"), col("item_a").as("__j"), col("__sim"))))
        .as("__d"))
      .select(col("__d.__i").as("__i"), col("__d.__j").as("__j"),
        col("__d.__sim").as("__sim"))
    val wNbr = Window.partitionBy(col("__i"))
      .orderBy(col("__sim").desc, col("__j").asc)
    val nbrs = directed.withColumn("__r", row_number().over(wNbr))
      .filter(col("__r") <= maxNeighbors).drop("__r")
    val scored = basket.join(nbrs, Seq("__i"))
      .groupBy(col("__u"), col("__j"))
      .agg(sum(col("__sim")).as("__score"))
      .join(basket.select(col("__u"), col("__i").as("__j")),
        Seq("__u", "__j"), "anti")
    val wTop = Window.partitionBy(col("__u"))
      .orderBy(col("__score").desc, col("__j").asc)
    scored.withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("__u").as("user"), col("__j").as("item"),
        col("__score").cast("double").as("score"), col("rank"))
  }

  // ------------------------------------------------------ daily unique report
  /** Per-day activity report pairing the exact distinct-user count with an
    * HLL++ approximation and its in-tolerance flag — the q43 discipline: the
    * sketch output itself is engine-specific, so what ships (and what an
    * oracle checks) is each engine's own |approx − exact| ≤ rtol·exact
    * verdict plus the exact values. At 100 TB the exact distinct is the
    * expensive half (one user-keyed shuffle per day partition); the HLL
    * column is the one you'd keep in a rollup cube — this report is how a
    * pipeline certifies the sketch before trusting it downstream.
    * Returns (day, n_events, n_users, hll_ok). */
  def dailyUniqueReport(df: DataFrame, userCol: String, tsCol: String,
                        rtol: Double = 0.10): DataFrame =
    df.select(dayIndex(col(tsCol)).as("day"), col(userCol).as("__u"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("__u")).as("n_users"),
        approx_count_distinct(col("__u")).as("__hll"))
      .select(col("day"), col("n_events"), col("n_users"),
        (abs(col("__hll") - col("n_users")) <=
          greatest(lit(rtol) * col("n_users"), lit(5.0))).as("hll_ok"))

  // ----------------------------------------------------- SCD-2 dimension join
  /** Point-in-time dimension lookup against an SCD-2 history (the
    * [[scdHistory]] output shape): each fact row joins the version whose
    * [valid_from, valid_to) interval contains its event time — the
    * composed primitive behind every "state at time of purchase" feature.
    * The join is EQUI on the entity key (co-partitioned at scale, never a
    * blind range join) with the interval test as a residual filter; a key's
    * version count bounds the fan-out. SCD intervals are disjoint, so each
    * fact matches at most one version; facts before the first version drop
    * (inner). `factUs`/dim bounds are integer µs. */
  def scdLookup(facts: DataFrame, factKeyCol: String, factUs: Column,
                dim: DataFrame, dimKeyCol: String,
                fromCol: String = "valid_from",
                toCol: String = "valid_to"): DataFrame = {
    val f = facts.withColumn("__fus", factUs)
    f.join(dim, f(factKeyCol) === dim(dimKeyCol) &&
      col("__fus") >= dim(fromCol) &&
      (dim(toCol).isNull || col("__fus") < dim(toCol)))
  }

  // --------------------------------------------------- daily snapshot ffill
  /** Per-key daily snapshot with carry-forward: each (key, day) reports the
    * key's last observed `valueCol` on or before that day — the feature-
    * store "as-of daily" materialization. Day's last observation is an
    * argmax by (µs, id) — a data element, deterministic under ties; the
    * spine spans each key's first active day through the corpus' last day
    * (a silent key keeps reporting its last state); the fill is ONE
    * last(ignoreNulls) frame over the key-partitioned day order. Row count
    * is Σ_key span_days — the spine explode is per key, bounded by the
    * calendar, never |keys| × |events|. Returns (key, day, value). */
  def dailySnapshotFfill(df: DataFrame, keyCol: String, idCol: String,
                         tsCol: String, valueCol: String): DataFrame = {
    val obs = df.select(col(keyCol).as("key"), dayIndex(col(tsCol)).as("day"),
        micros(col(tsCol)).as("__us"), col(idCol).as("__id"),
        col(valueCol).as("__v"))
      .groupBy("key", "day")
      .agg(max_by(col("__v"), struct(col("__us"), col("__id"))).as("__v"))
    val lo = obs.groupBy("key").agg(min(col("day")).as("__lo"))
    val hi = obs.agg(max(col("day")).as("__hi"))
    val spine = lo.crossJoin(broadcast(hi))
      .select(col("key"), explode(sequence(col("__lo"), col("__hi"))).as("day"))
    val w = Window.partitionBy(col("key")).orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(obs, Seq("key", "day"), "left")
      .withColumn("value", last(col("__v"), ignoreNulls = true).over(w))
      .select(col("key"), col("day"), col("value"))
  }

  // ----------------------------------------------------------- activity gaps
  /** Data-freshness gap report: for each key, the runs of ≥ `minGapDays`
    * consecutive silent days between two active days — the inverse of
    * [[longestStreaks]]' islands, and the check a pipeline runs before
    * trusting "no data = no activity". One lag over each key's DISTINCT
    * active days (bounded by the calendar, never raw events); all integer
    * day arithmetic. Returns (key, gap_start, gap_end, gap_days). */
  def activityGaps(df: DataFrame, keyCol: String, tsCol: String,
                   minGapDays: Int): DataFrame = {
    require(minGapDays >= 1, s"minGapDays must be >= 1: $minGapDays")
    val active = df.select(col(keyCol).as("key"), dayIndex(col(tsCol)).as("__day"))
      .distinct()
    val w = Window.partitionBy(col("key")).orderBy(col("__day").asc)
    active
      .withColumn("__prev", lag(col("__day"), 1).over(w))
      .filter(col("__prev").isNotNull &&
        col("__day") - col("__prev") - 1 >= minGapDays)
      .select(col("key"), (col("__prev") + 1).as("gap_start"),
        (col("__day") - 1).as("gap_end"),
        (col("__day") - col("__prev") - 1).as("gap_days"))
  }

  // -------------------------------------------------------- Markov backtest
  /** Next-event prediction backtest: a first-order Markov model trained on
    * transitions completing before `splitUs` (per antecedent, the modal
    * successor — count DESC, type ASC deterministic election) is scored on
    * transitions completing at/after the split. The honest-evaluation
    * pattern every "smart default" feature needs before shipping.
    * Counts are exact integers; accuracy is one division, 6dp. Antecedents
    * unseen in training drop (no model to score). Transition extraction is
    * ONE per-user window ([[transitionMatrix]]'s shape); the model relation
    * is type-vocabulary-bounded and broadcasts.
    * Returns (prev_type, predicted, n_test, n_correct, accuracy). */
  def markovBacktest(df: DataFrame, userCol: String, idCol: String,
                     tsCol: String, typeCol: String, splitUs: Long): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col("__us").asc, col(idCol).asc)
    val pairs = df
      .select(col(userCol), col(idCol), col(typeCol).as("__next"),
        micros(col(tsCol)).as("__us"))
      .withColumn("__prev", lag(col("__next"), 1).over(w))
      .filter(col("__prev").isNotNull)
    val model = pairs.filter(col("__us") < splitUs)
      .groupBy(col("__prev"), col("__next")).agg(count(lit(1)).as("__n"))
      .groupBy(col("__prev"))
      .agg(min_by(col("__next"), struct((-col("__n")).as("__neg"), col("__next")))
        .as("predicted"))
    pairs.filter(col("__us") >= splitUs)
      .join(broadcast(model), Seq("__prev"))
      .groupBy(col("__prev").as("prev_type"), col("predicted"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("__next") === col("predicted"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("prev_type"), col("predicted"), col("n_test"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n_test").cast("double"), 6)
          .as("accuracy"))
  }

  // ---------------------------------------------------- linear attribution
  /** Linear (equal-credit) multi-touch attribution: each purchase's value
    * splits equally across the user's touches since their previous purchase
    * — [[lastTouchAttribution]]'s fairer sibling. Touch→purchase assignment
    * is a REVERSED per-user frame walk (first purchase id at-or-after each
    * touch), never a touches×purchases join; per-touch credit is
    * round(value/n, 6) cast DECIMAL(18,6), so the rollup is exact and
    * order-independent (Σ credits ≈ value to rounding, by design).
    * Returns (touch_type, n_touches, total_credit). */
  def linearAttribution(df: DataFrame, userCol: String, idCol: String,
                        tsCol: String, typeCol: String,
                        convType: String, valueCol: String): DataFrame = {
    val wFwd = Window.partitionBy(col(userCol))
      .orderBy(col("__us").asc, col(idCol).asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val isConv = col(typeCol) === convType
    val tagged = df
      .select(col(userCol), col(idCol), col(typeCol), col(valueCol),
        micros(col(tsCol)).as("__us"))
      .withColumn("__conv_id",
        min(when(isConv, col(idCol))).over(wFwd))
    val touches = tagged.filter(!isConv && col("__conv_id").isNotNull)
    // the conversion's value joins by its id (never a min_by window whose
    // null-ordering semantics would carry the correctness burden)
    val convVals = df.filter(isConv)
      .select(col(idCol).as("__conv_id"), col(valueCol).as("__v"))
    val perConv = touches.groupBy(col("__conv_id"))
      .agg(count(lit(1)).as("__n"))
      .join(convVals, Seq("__conv_id"))
    touches.join(perConv, Seq("__conv_id"))
      .select(col(typeCol).as("touch_type"),
        round(col("__v") / col("__n"), 6).cast("decimal(18,6)").as("__credit"))
      .groupBy("touch_type")
      .agg(count(lit(1)).as("n_touches"),
        sum(col("__credit")).cast("double").as("total_credit"))
  }

  // --------------------------------------------- position-based attribution
  /** U-shaped (position-based) attribution: 40% of each conversion's value
    * to the first touch, 40% to the last, the remaining 20% split evenly
    * among the middles (n=1 → 100%, n=2 → 50/50) — the industry-standard
    * complement to [[linearAttribution]], same conversion-assignment fold
    * (forward-min window to the next conversion, value joined by id), plus
    * one per-conversion position window (bounded by touches per
    * conversion). Credits round to 6dp then re-enter DECIMAL so the
    * per-type totals are shuffle-order-exact. */
  def positionAttribution(df: DataFrame, userCol: String, idCol: String,
                          tsCol: String, typeCol: String,
                          convType: String, valueCol: String): DataFrame = {
    val wFwd = Window.partitionBy(col(userCol))
      .orderBy(col("__us").asc, col(idCol).asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val isConv = col(typeCol) === convType
    val tagged = df
      .select(col(userCol), col(idCol), col(typeCol), col(valueCol),
        micros(col(tsCol)).as("__us"))
      .withColumn("__conv_id", min(when(isConv, col(idCol))).over(wFwd))
    val touches = tagged.filter(!isConv && col("__conv_id").isNotNull)
    val convVals = df.filter(isConv)
      .select(col(idCol).as("__conv_id"), col(valueCol).as("__v"))
    val perConv = touches.groupBy(col("__conv_id"))
      .agg(count(lit(1)).as("__n"))
      .join(convVals, Seq("__conv_id"))
    val wPos = Window.partitionBy(col("__conv_id"))
      .orderBy(col("__us").asc, col(idCol).asc)
    val credit = when(col("__n") === 1, col("__v"))
      .when(col("__n") === 2, col("__v") * lit(0.5))
      .otherwise(when(col("__pos") === 1 || col("__pos") === col("__n"),
          col("__v") * lit(0.4))
        .otherwise(col("__v") * lit(0.2) / (col("__n") - 2)))
    touches.withColumn("__pos", row_number().over(wPos))
      .join(perConv, Seq("__conv_id"))
      .select(col(typeCol).as("touch_type"),
        round(credit, 6).cast("decimal(18,6)").as("__credit"))
      .groupBy("touch_type")
      .agg(count(lit(1)).as("n_touches"),
        sum(col("__credit")).cast("double").as("total_credit"))
  }

  // ------------------------------------------------- seasonal-naive forecast
  /** Seasonal-naive backtest over the daily event-count series: the
    * prediction for day d is the actual of day d − `season`, evaluated over
    * the final `horizon` days — the baseline every real forecaster must
    * beat, and the pipeline's drift alarm when |err| jumps. Counts are
    * integers, so actual/predicted/abs_err are all exact.
    *
    * The series is the zero-filled day spine ([[resampleDaily]]'s contract:
    * silence is a 0, not a missing row), its length bounded by the calendar
    * (≤ ~4k rows for a decade) — the lag window is single-partition BY
    * DESIGN over this bounded aggregate, never over raw events.
    * Returns (day, actual, predicted, abs_err) for the backtest window. */
  def seasonalNaiveBacktest(df: DataFrame, tsCol: String,
                            season: Int = 7, horizon: Int = 28): DataFrame = {
    require(season >= 1 && horizon >= 1, s"bad bounds: $season/$horizon")
    val daily = resampleDaily(df, tsCol) // (day, n) zero-filled spine
    val wLag = Window.orderBy(col("day").asc)
    val maxDay = daily.agg(max(col("day")).as("__mx"))
    daily
      .withColumn("predicted", lag(col("n"), season).over(wLag))
      .crossJoin(broadcast(maxDay))
      .filter(col("day") > col("__mx") - horizon && col("predicted").isNotNull)
      .select(col("day"), col("n").as("actual"), col("predicted"),
        abs(col("n") - col("predicted")).as("abs_err"))
  }

  // -------------------------------------------------------- interval union
  /** Per-key union length of (possibly overlapping) intervals — the
    * gaps-and-islands merge behind session coverage / SLA downtime /
    * "seconds of content consumed": intervals sort per key, an island
    * breaks where a start clears the running max of prior ends, islands
    * aggregate to (min start, max end), and coverage is the exact integer
    * sum of island lengths. One key-partitioned window chain — scales as
    * every per-key window here does; no interval self-join ever happens.
    * startUs/endUs are integer µs. Returns per key:
    * (n_intervals, n_islands, covered_us). */
  def intervalUnion(df: DataFrame, keyCol: String, startUs: Column,
                    endUs: Column, idCol: String): DataFrame = {
    val base = df.select(col(keyCol).as("__k"), startUs.as("__s"),
      endUs.as("__e"), col(idCol).as("__id"))
    val order = Window.partitionBy(col("__k"))
      .orderBy(col("__s"), col("__e"), col("__id"))
    val prevMax = max(col("__e")).over(
      order.rowsBetween(Window.unboundedPreceding, -1))
    val flagged = base
      .withColumn("__new",
        when(prevMax.isNull || col("__s") > prevMax, 1L).otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(
        order.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy(col("__k"), col("__island"))
      .agg(count(lit(1)).as("__n"), min(col("__s")).as("__is"),
        max(col("__e")).as("__ie"))
      .groupBy(col("__k").as(keyCol))
      .agg(sum(col("__n")).as("n_intervals"),
        count(lit(1)).as("n_islands"),
        sum(col("__ie") - col("__is")).as("covered_us"))
  }

  // --------------------------------------------------- rapid-repeat audit
  /** Double-fire detection: within each key group (e.g. user × event
    * type), adjacent events along (ts, id) closer than `windowSec` apart
    * are flagged as suspected duplicate submissions — the telemetry-dedup
    * audit a pipeline runs before trusting raw event counts. One exchange
    * on the key; each key's own events sort locally; the gap is an exact
    * integer µs difference with one final /1e6. Emits the LATER event of
    * each adjacent close pair:
    * (keyCols..., prev_event_id, event_id, gap_sec). */
  def rapidRepeats(df: DataFrame, keyCols: Seq[String], tsCol: String,
                   idCol: String, windowSec: Long): DataFrame = {
    require(keyCols.nonEmpty, "key columns required")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__us").asc, col(idCol).asc)
    df.select(keyCols.map(col) :+ unix_micros(col(tsCol)).as("__us") :+
        col(idCol): _*)
      .withColumn("__pus", lag(col("__us"), 1).over(w))
      .withColumn("prev_event_id", lag(col(idCol), 1).over(w))
      .filter(col("__pus").isNotNull &&
        col("__us") - col("__pus") <= windowSec * 1000000L)
      .select(keyCols.map(col) :+ col("prev_event_id") :+ col(idCol) :+
        round((col("__us") - col("__pus")) / 1000000.0, 6).as("gap_sec"): _*)
  }

  // ------------------------------------------- seasonal residual outliers
  /** Weekday-seasonal anomaly report: the [[seasonalityStrength]] model
    * (per-weekday means over the zero-filled daily series) turned into a
    * per-day detector — days whose residual exceeds `k`× the MAD of all
    * residuals are flagged. Residuals round to 6dp BEFORE the MAD and the
    * gate, so every comparison runs on engine-identical values; the MAD
    * itself is a DATA ELEMENT (lower median of |residual|, rank-picked,
    * zero arithmetic). All relations are calendar-sized rollups. Returns
    * flagged days: (day, n, expected, resid, score = resid/mad, 6dp). */
  def seasonalResidualOutliers(df: DataFrame, tsCol: String,
                               k: Double = 3.0): DataFrame = {
    val daily = resampleDaily(df, tsCol)
      .withColumn("__wd", pmod(col("day") + 3, lit(7)))
    val prof = daily.groupBy("__wd")
      .agg((sum(col("n").cast("decimal(18,0)")).cast("double") /
        count(lit(1)).cast("double")).as("__m"))
    val r = daily.join(broadcast(prof), Seq("__wd"))
      .select(col("day"), col("n"), round(col("__m"), 6).as("expected"),
        round(col("n").cast("double") - col("__m"), 6).as("resid"))
    // lower median of |resid| over the calendar-sized residual relation
    val w = Window.orderBy(col("__a").asc, col("day").asc)
    val mad = r
      .select(abs(col("resid")).as("__a"), col("day"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__c", count(lit(1)).over(Window.partitionBy(lit(1))))
      .filter(col("__rn") === expr("(__c + 1) div 2"))
      .select(col("__a").as("__mad"))
    r.crossJoin(broadcast(mad))
      .filter(abs(col("resid")) > lit(k) * col("__mad") && col("__mad") > 0.0)
      .select(col("day"), col("n"), col("expected"), col("resid"),
        round(col("resid") / col("__mad"), 6).as("score"))
  }

  // --------------------------------------------------- Shapley attribution
  /** Shapley-value channel attribution for the coalition "reach" game:
    * v(S) = converting users whose pre-conversion touch set ⊆ S. That
    * game is the c(m)-weighted sum of unanimity games u_m over the
    * observed touch sets m, and Shapley is linear with φ_i(u_m) = 1/|m|
    * for i ∈ m — so the exact Shapley value collapses analytically to
    * φ_i = Σ_{users: i ∈ touches} 1/|touches|, no 2^n subset enumeration
    * (the scaladoc IS the derivation; an enumerating oracle must agree).
    * Touches are DISTINCT channel types strictly before the user's FIRST
    * `convType` event. Credits are integers at LCM scale (`lcm(1..k)`
    * divides every |touches| ≤ k), so φ is exact until the one final
    * division. Returns per channel:
    * (channel, n_users, phi, share = φ_i/Σφ). */
  def shapleyAttribution(df: DataFrame, userCol: String, tsCol: String,
                         typeCol: String, convType: String,
                         channels: Seq[String]): DataFrame = {
    require(channels.nonEmpty && channels.size <= 12, "1..12 channels")
    require(!channels.contains(convType), "convType cannot be a channel")
    val lcm = (1 to channels.size).foldLeft(1L) { (a, b) =>
      a / BigInt(a).gcd(BigInt(b)).toLong * b
    }
    val conv = df.filter(col(typeCol) === convType)
      .groupBy(col(userCol).as("__u"))
      .agg(min(micros(col(tsCol))).as("__cus"))
    val touches = df.filter(col(typeCol).isInCollection(channels))
      .select(col(userCol).as("__u"), col(typeCol).as("channel"),
        micros(col(tsCol)).as("__us"))
      .join(conv, Seq("__u"))
      .filter(col("__us") < col("__cus"))
      .select(col("__u"), col("channel")).distinct()
    val sized = touches
      .join(touches.groupBy("__u").agg(count(lit(1)).as("__nt")), Seq("__u"))
      .withColumn("__credit", expr(s"${lcm}L div __nt")) // exact: __nt | lcm
    val perChannel = sized.groupBy("channel")
      .agg(count(lit(1)).as("n_users"), sum(col("__credit")).as("__num"))
    val tot = perChannel.agg(sum(col("__num")).as("__tot"))
    perChannel.crossJoin(broadcast(tot))
      .select(col("channel"), col("n_users"),
        round(col("__num").cast("double") / lit(lcm.toDouble), 6).as("phi"),
        round(col("__num").cast("double") / col("__tot").cast("double"), 6)
          .as("share"))
  }

  // ----------------------------------------------------- DAU/PAU stickiness
  /** Stickiness report over `periodDays`-day periods (30 ≈ the DAU/MAU
    * metric, computed on data-relative integer periods so both engines
    * bucket identically): per period, the distinct-user count (PAU), the
    * mean daily active users over the period's ACTIVE days, and
    * stickiness = mean DAU / PAU. Everything up to the two final
    * divisions is an exact integer from one (user, day) distinct grain.
    * Returns (period, n_days, pau, mean_dau, stickiness). */
  def stickiness(df: DataFrame, userCol: String, tsCol: String,
                 periodDays: Int = 30): DataFrame = {
    require(periodDays >= 1, s"periodDays must be >= 1: $periodDays")
    val a = df.select(col(userCol).as("__u"),
        dayIndex(col(tsCol)).as("__d")).distinct()
    val withP = a.withColumn("__p", expr(s"__d div $periodDays"))
    val dau = withP.groupBy("__p", "__d").agg(count(lit(1)).as("__dau"))
      .groupBy("__p").agg(count(lit(1)).as("n_days"),
        sum(col("__dau")).as("__sdau"))
    val pau = withP.groupBy("__p")
      .agg(countDistinct(col("__u")).as("pau"))
    dau.join(pau, Seq("__p"))
      .select(col("__p").as("period"), col("n_days"), col("pau"),
        round(col("__sdau").cast("double") / col("n_days").cast("double"), 6)
          .as("mean_dau"),
        round((col("__sdau").cast("double") / col("n_days").cast("double")) /
          col("pau").cast("double"), 6).as("stickiness"))
  }

  // ------------------------------------------------- linear interpolation
  /** Linear gap interpolation per key: null values take the straight line
    * between the key's nearest non-null neighbors in (ts, id) order,
    * weighted by exact integer µs distances — the numeric companion to
    * forward-fill (sensor gaps, price marks). The interpolant is ONE
    * fixed-shape double expression over integer cents/µs
    * (prev + (next−prev)·Δ₁/Δ₂, then /100), 6dp; non-null values pass
    * through byte-identical; boundary nulls (no neighbor on one side)
    * stay null, flagged. One key exchange, two frame scans. Returns the
    * input grain: (keyCol, idCol, value_filled, interpolated). */
  def interpolateLinear(df: DataFrame, keyCol: String, tsCol: String,
                        idCol: String, valueCol: Column): DataFrame = {
    val base = df.select(col(keyCol), col(idCol),
      micros(col(tsCol)).as("__us"), valueCol.as("__v"),
      round(valueCol * 100, 0).cast("long").as("__c"))
    val order = Window.partitionBy(col(keyCol))
      .orderBy(col("__us").asc, col(idCol).asc)
    val before = order.rowsBetween(Window.unboundedPreceding, -1)
    val after = order.rowsBetween(1, Window.unboundedFollowing)
    val known = when(col("__v").isNotNull, struct(col("__us"), col("__c")))
    val filled = base
      .withColumn("__p", last(known, ignoreNulls = true).over(before))
      .withColumn("__n", first(known, ignoreNulls = true).over(after))
    val interp = (col("__p.__c").cast("double") +
      (col("__n.__c") - col("__p.__c")).cast("double") *
        (col("__us") - col("__p.__us")).cast("double") /
        (col("__n.__us") - col("__p.__us")).cast("double")) / 100.0
    filled.select(col(keyCol), col(idCol),
      when(col("__v").isNotNull, col("__v"))
        .otherwise(when(col("__p").isNotNull && col("__n").isNotNull,
          // zero-width gap (both neighbors at this µs): take the left value
          when(col("__n.__us") === col("__p.__us"),
            round(col("__p.__c") / 100.0, 6)).otherwise(round(interp, 6))))
        .as("value_filled"),
      (col("__v").isNull && col("__p").isNotNull && col("__n").isNotNull)
        .as("interpolated"))
  }

  // --------------------------------------------- classical decomposition
  /** Classical additive decomposition of the zero-filled daily count
    * series: trend = centered 7-day moving average (full windows only),
    * seasonal = per-weekday mean of the detrended series, residual = the
    * rest. Exactness: the detrended value is carried as the INTEGER
    * 7n − Σ₇ (7× its real value), so the weekday seasonal is the
    * fixed-shape division Σ(7n−Σ₇) / (7·count) of exact integers, and
    * trend/residual are mirrored one-shot double closed forms, 6dp. The
    * seasonal is the UNCENTERED classical estimate (detrending already
    * leaves it near mean-zero; documented divergence from textbook
    * centering, which would need an order-dependent 7-double sum).
    * Windows run on the calendar-sized rollup. Returns (day, n, trend,
    * seasonal, resid) for days with a full centered window. */
  def classicalDecomposition(df: DataFrame, tsCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val w7 = Window.orderBy(col("day").asc).rowsBetween(-3, 3)
    val t = resampleDaily(df, tsCol)
      .withColumn("__c7", count(lit(1)).over(w7))
      .withColumn("__s7", sum(col("n")).over(w7))
      .filter(col("__c7") === 7)
      .withColumn("__wd", pmod(col("day") + 3, lit(7)))
      .withColumn("__dn", lit(7) * col("n") - col("__s7"))
    val praw = t.groupBy("__wd")
      .agg((sum(col("__dn").cast(DecimalType(38, 0))).cast("double") /
        (lit(7.0) * count(lit(1)).cast("double"))).as("__raw"))
    t.join(broadcast(praw), Seq("__wd"))
      .select(col("day"), col("n"),
        round(col("__s7").cast("double") / 7.0, 6).as("trend"),
        round(col("__raw"), 6).as("seasonal"),
        round(col("n").cast("double") -
          col("__s7").cast("double") / 7.0 - col("__raw"), 6).as("resid"))
  }

  // ------------------------------------------------------ lead-lag matrix
  /** Lead-lag correlation screen between per-type daily series: for every
    * ordered type pair (a, b), the Pearson correlation of a's count on
    * day t against b's count on day t+`lagDays` — a positive off-diagonal
    * says a LEADS b (funnels, error cascades, halo effects). Both series
    * zero-fill over the global day spine × type grid, so every pair
    * correlates over the same aligned days; moments are exact
    * DECIMAL(38,0) integers and each corr is one closed form, 6dp. All
    * relations are (types × calendar)-sized rollups. Returns
    * (type_a, type_b, n_days, corr). */
  def leadLagMatrix(df: DataFrame, tsCol: String, typeCol: String,
                    lagDays: Int = 1): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(lagDays >= 0, s"lagDays must be >= 0: $lagDays")
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val counts = df
      .select(col(typeCol).as("__t"), dayIndex(col(tsCol)).as("day"))
      .groupBy("__t", "day").agg(count(lit(1)).as("__n"))
    val spine = counts.agg(min(col("day")).as("__lo"), max(col("day")).as("__hi"))
      .select(explode(sequence(col("__lo"), col("__hi"))).as("day"))
      .crossJoin(counts.select(col("__t")).distinct())
    val filled = spine.join(counts, Seq("__t", "day"), "left")
      .select(col("__t"), col("day"), coalesce(col("__n"), lit(0L)).as("x"))
    val a = filled.select(col("__t").as("type_a"), col("day"), col("x").as("xa"))
    val b = filled.select(col("__t").as("type_b"),
      (col("day") - lagDays).as("day"), col("x").as("xb"))
    a.join(b, Seq("day"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_days"),
        sum(dec(col("xa"))).as("__sx"), sum(dec(col("xb"))).as("__sy"),
        sum(dec(col("xa")) * dec(col("xa"))).as("__sxx"),
        sum(dec(col("xb")) * dec(col("xb"))).as("__syy"),
        sum(dec(col("xa")) * dec(col("xb"))).as("__sxy"))
      .select(col("type_a"), col("type_b"), col("n_days"), {
        val nd = col("n_days").cast("double")
        def d(c: Column) = c.cast("double")
        val den = (nd * d(col("__sxx")) - d(col("__sx")) * d(col("__sx"))) *
          (nd * d(col("__syy")) - d(col("__sy")) * d(col("__sy")))
        when(den > 0.0,
          round((nd * d(col("__sxy")) - d(col("__sx")) * d(col("__sy"))) /
            sqrt(den), 6)).as("corr")
      })
  }

  // ------------------------------------------------ rolling daily correlation
  /** Trailing `windowDays`-day Pearson correlation between the daily event
    * COUNT and the daily VALUE total (volume-vs-revenue coupling drift —
    * a decoupling flags instrumentation or pricing anomalies). The raw
    * relation collapses to a daily rollup first (count + exact cents);
    * the trailing window then runs on that calendar-sized series (the
    * q283 discipline: single-partition windows only ever see rollups).
    * Window moments are exact DECIMAL(38,0) integers; corr is one
    * fixed-shape double closed form, 6dp; only full windows emit.
    * Returns (day, n_events, corr). */
  def rollingDailyCorr(df: DataFrame, tsCol: String, valueCol: Column,
                       windowDays: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(windowDays >= 2, s"windowDays must be >= 2: $windowDays")
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val daily = df.filter(valueCol.isNotNull)
      .select(dayIndex(col(tsCol)).as("day"),
        round(valueCol * 100, 0).cast("long").as("__c"))
      .groupBy("day")
      .agg(count(lit(1)).as("__x"), sum(col("__c")).as("__y"))
    val w = Window.orderBy(col("day").asc)
      .rowsBetween(-(windowDays - 1), Window.currentRow)
    val nd = lit(windowDays).cast("double")
    def d(c: Column) = c.cast("double")
    val (sx, sy) = (sum(dec(col("__x"))).over(w), sum(dec(col("__y"))).over(w))
    val sxx = sum(dec(col("__x")) * dec(col("__x"))).over(w)
    val syy = sum(dec(col("__y")) * dec(col("__y"))).over(w)
    val sxy = sum(dec(col("__x")) * dec(col("__y"))).over(w)
    val den = (nd * d(sxx) - d(sx) * d(sx)) * (nd * d(syy) - d(sy) * d(sy))
    daily
      .select(col("day"), col("__x").as("n_events"),
        count(lit(1)).over(w).as("__cnt"),
        when(den > 0.0,
          round((nd * d(sxy) - d(sx) * d(sy)) / sqrt(den), 6)).as("corr"))
      .filter(col("__cnt") === windowDays)
      .drop("__cnt")
  }
  /** Loud distinct-duration gate for the survival family ([[kaplanMeier]],
    * [[nelsonAalen]], [[kmGreenwood]], [[cumulativeIncidence]],
    * [[logRank]], [[weightedLogRank]]; [[restrictedMeanSurvival]] and
    * [[kmMedianSurvival]] inherit through the gated [[kaplanMeier]] /
    * [[kmGreenwood]] curves they consume): each of these windows a
    * keyless cumulative sum over the DISTINCT-duration rollup, so the
    * documented contract — bucket continuous durations to a bounded grain
    * first — must REFUSE, not silently single-partition-sort, when a raw
    * micro-grain duration column arrives at 100× data. Mechanism is the
    * shared [[graft.operators.DomainGate]] (one combinable count,
    * broadcast back, raise fused into every column AND a pruning-proof
    * filter); the message names the day-grain remedy. */
  private def gateDurationCells(cells: DataFrame, cntCol: String, op: String,
                                limit: Long = 100000L): DataFrame = {
    require(cells.columns.contains(cntCol), s"missing $cntCol")
    graft.operators.DomainGate(cells, limit, nv =>
      concat(lit(s"$op: "), nv.cast("string"),
        lit(s" distinct durations exceed $limit — bucket durations to a " +
          "coarser grain (e.g. whole days, not micros) before the " +
          "survival rollup (the kaplanMeier duration-grain contract)")))
  }

  /** The shared (duration)-grain event/censor rollup of the KM family —
    * UNGATED. Callers gate the windowed path via [[gateDurationCells]]
    * and compute their 1-row totals off THIS relation: a combinable
    * count is safe at any cardinality, and reading it ungated avoids a
    * second lazy re-evaluation of the gate's own count (the raise still
    * fires — every output row flows through the gated window path). */
  private def survivalCells(df: DataFrame, durationCol: Column,
                            eventCol: Column): DataFrame =
    df.select(durationCol.cast("long").as("duration"),
        eventCol.as("__e"))
      .filter(col("duration").isNotNull && col("duration") >= 0)
      .groupBy("duration")
      .agg(sum(when(col("__e"), 1L).otherwise(0L)).as("n_events"),
        sum(when(col("__e"), 0L).otherwise(1L)).as("n_censored"))

  // ------------------------------------------- Kaplan-Meier product-limit
  /** Kaplan-Meier survival estimator with right-censoring — the
    * censoring-aware sequel to [[survivalCurve]] (which treats every
    * observed lifetime as complete): at each distinct duration t with
    * d_t events among n_t still at risk, S(t) = Π_{u ≤ t} (1 − d_u/n_u);
    * censored subjects leave the risk set without contributing an event
    * (Kaplan & Meier 1958).
    *
    * DETERMINISM: d and n are exact integers off one duration-grain
    * rollup; the product is exp of the running sum of ln(1 − d/n) terms
    * carried in DECIMAL(28,12) (the PSI/JSD discipline: rounding each
    * IEEE term to a fixed grain makes the SUM order-independent and
    * engine-identical), finished by one exp + 6dp round. A duration where
    * everyone at risk dies is an ABSORBING zero carried as an explicit
    * running flag (a −∞ ln term would be nulled by the decimal cast).
    *
    * Cardinality contract: the running window is over DISTINCT durations
    * (bucket continuous durations first — the rocAuc discipline;
    * ENFORCED: above 10⁵ distinct durations [[gateDurationCells]] RAISES
    * naming the day-grain remedy).
    * `eventCol`: true = event observed, false = right-censored. Returns
    * (duration, n_at_risk, n_events, n_censored, survival). */
  def kaplanMeier(df: DataFrame, durationCol: Column,
                  eventCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val raw = survivalCells(df, durationCol, eventCol)
    val perT = gateDurationCells(raw, "n_events", "kaplanMeier")
    val total = raw.agg(sum(col("n_events") + col("n_censored")).as("__N"))
    val wPrev = Window.orderBy(col("duration"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.orderBy(col("duration"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perT.crossJoin(broadcast(total))
      .withColumn("n_at_risk",
        col("__N") - coalesce(sum(col("n_events") + col("n_censored"))
          .over(wPrev), lit(0L)))
      .withColumn("__term",
        when(col("n_events") > 0 && col("n_events") < col("n_at_risk"),
          log(lit(1.0) - col("n_events").cast("double") /
            col("n_at_risk").cast("double")).cast(DecimalType(28, 12)))
          .otherwise(lit(0.0).cast(DecimalType(28, 12))))
      // a duration where everyone at risk dies is an ABSORBING zero: the
      // ln term would be −∞ (and a decimal cast would silently null it),
      // so the zero is carried as an explicit running flag instead
      .withColumn("__dead",
        max(when(col("n_events") === col("n_at_risk"), 1).otherwise(0))
          .over(wRun))
      .withColumn("survival",
        round(when(col("__dead") === 1, lit(0.0))
          .otherwise(exp(sum(col("__term")).over(wRun).cast("double"))), 6))
      .select(col("duration"), col("n_at_risk"), col("n_events"),
        col("n_censored"), col("survival"))
  }
  // ------------------------------------------- Nelson-Aalen cumulative hazard
  /** Nelson-Aalen cumulative-hazard estimator — [[kaplanMeier]]'s additive
    * sibling (Nelson 1972, Aalen 1978): H(t) = Σ_{u ≤ t} d_u / n_u, with
    * the same right-censoring risk-set semantics. Preferred over
    * −ln(KM) when hazards are the modeling target (additive over time,
    * no absorbing-zero special case).
    *
    * DETERMINISM: each d/n term is ONE IEEE division of exact integers
    * rounded to DECIMAL(28,12) before the running sum (the PSI/JSD
    * discipline — order-independent, engine-identical), finished 6dp.
    * Also emits the Aalen variance Σ d_u/n_u² under the same discipline.
    *
    * Scale: identical shape to kaplanMeier — one duration-grain rollup
    * (bucket continuous durations first; ENFORCED via
    * [[gateDurationCells]]), one broadcast total, one
    * running window over the DISTINCT-duration relation. Returns
    * (duration, n_at_risk, n_events, n_censored, cum_hazard, var_hazard). */
  def nelsonAalen(df: DataFrame, durationCol: Column,
                  eventCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val raw = survivalCells(df, durationCol, eventCol)
    val perT = gateDurationCells(raw, "n_events", "nelsonAalen")
    val total = raw.agg(sum(col("n_events") + col("n_censored")).as("__N"))
    val wPrev = Window.orderBy(col("duration"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.orderBy(col("duration"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perT.crossJoin(broadcast(total))
      .withColumn("n_at_risk",
        col("__N") - coalesce(sum(col("n_events") + col("n_censored"))
          .over(wPrev), lit(0L)))
      .withColumn("__term",
        (col("n_events").cast("double") / col("n_at_risk").cast("double"))
          .cast(DecimalType(28, 12)))
      .withColumn("__vterm",
        (col("n_events").cast("double") /
          (col("n_at_risk") * col("n_at_risk")).cast("double"))
          .cast(DecimalType(28, 12)))
      .withColumn("cum_hazard",
        round(sum(col("__term")).over(wRun).cast("double"), 6))
      .withColumn("var_hazard",
        round(sum(col("__vterm")).over(wRun).cast("double"), 6))
      .select(col("duration"), col("n_at_risk"), col("n_events"),
        col("n_censored"), col("cum_hazard"), col("var_hazard"))
  }

  // --------------------------------- Kaplan-Meier with Greenwood variance
  /** [[kaplanMeier]] plus the Greenwood (1926) standard error:
    * Var(Ŝ(t)) = Ŝ(t)²·Σ_{u≤t} d_u/(n_u(n_u−d_u)) — the error band every
    * published survival curve carries.
    *
    * Same determinism/scale shape as kaplanMeier (one duration-grain
    * rollup, broadcast total, running windows over DISTINCT durations;
    * ln and d/(n(n−d)) terms rounded to DECIMAL(28,12) before their
    * running sums). The n(n−d) product runs in DECIMAL (two 10-digit
    * risk sets overflow a long); at an absorbing zero (d = n) survival
    * is 0 and the SE reports null (the variance term is infinite).
    * Returns (duration, n_at_risk, n_events, n_censored, survival,
    * greenwood_se). */
  def kmGreenwood(df: DataFrame, durationCol: Column,
                  eventCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val raw = survivalCells(df, durationCol, eventCol)
    val perT = gateDurationCells(raw, "n_events", "kmGreenwood")
    val total = raw.agg(sum(col("n_events") + col("n_censored")).as("__N"))
    val wPrev = Window.orderBy(col("duration"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.orderBy(col("duration"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nd = col("n_at_risk").cast(DecimalType(38, 0)) *
      (col("n_at_risk") - col("n_events"))
    perT.crossJoin(broadcast(total))
      .withColumn("n_at_risk",
        col("__N") - coalesce(sum(col("n_events") + col("n_censored"))
          .over(wPrev), lit(0L)))
      .withColumn("__term",
        when(col("n_events") > 0 && col("n_events") < col("n_at_risk"),
          log(lit(1.0) - col("n_events").cast("double") /
            col("n_at_risk").cast("double")).cast(DecimalType(28, 12)))
          .otherwise(lit(0.0).cast(DecimalType(28, 12))))
      .withColumn("__gterm",
        when(col("n_events") > 0 && col("n_events") < col("n_at_risk"),
          (col("n_events").cast("double") / nd.cast("double"))
            .cast(DecimalType(28, 12)))
          .otherwise(lit(0.0).cast(DecimalType(28, 12))))
      .withColumn("__dead",
        max(when(col("n_events") === col("n_at_risk"), 1).otherwise(0))
          .over(wRun))
      .withColumn("survival",
        round(when(col("__dead") === 1, lit(0.0))
          .otherwise(exp(sum(col("__term")).over(wRun).cast("double"))), 6))
      .withColumn("greenwood_se",
        round(when(col("__dead") === 1, lit(null).cast("double"))
          .otherwise(exp(sum(col("__term")).over(wRun).cast("double")) *
            sqrt(sum(col("__gterm")).over(wRun).cast("double"))), 6))
      .select(col("duration"), col("n_at_risk"), col("n_events"),
        col("n_censored"), col("survival"), col("greenwood_se"))
  }

  // ------------------------------------------------ median survival time
  /** Median survival with a Greenwood-band interval: the smallest
    * duration where Ŝ(t) ≤ ½ (a DATA ELEMENT off the [[kmGreenwood]]
    * curve), bracketed by the first crossings of the ±1.96·SE bands —
    * ci_lo = min t with Ŝ−1.96·SE ≤ ½ (the optimistic band crosses
    * first), ci_hi = min t with Ŝ+1.96·SE ≤ ½. The one-row "how long do
    * they stay" readout over the full q332/q400 curves.
    *
    * DETERMINISM: the gates compare the 6dp-ROUNDED survival/SE columns
    * (already engine-identical), so each bound is a min over a filtered
    * duration-grain relation — byte-identical anywhere. Curves that
    * never cross report null (not "infinity"). Returns one row:
    * (n, median_t, ci_lo_t, ci_hi_t). */
  def kmMedianSurvival(df: DataFrame, durationCol: Column,
                       eventCol: Column): DataFrame = {
    val km = kmGreenwood(df, durationCol, eventCol)
    km.agg(
      sum(col("n_events") + col("n_censored")).as("n"),
      min(when(col("survival") <= 0.5, col("duration"))).as("median_t"),
      // the absorbing zero (S = 0, SE null — infinite variance term)
      // trivially crosses both bands
      min(when((col("greenwood_se").isNotNull &&
        col("survival") - lit(1.96) * col("greenwood_se") <= 0.5) ||
        col("survival") === 0.0,
        col("duration"))).as("ci_lo_t"),
      min(when((col("greenwood_se").isNotNull &&
        col("survival") + lit(1.96) * col("greenwood_se") <= 0.5) ||
        col("survival") === 0.0,
        col("duration"))).as("ci_hi_t"))
  }

  // ------------------------------------- cumulative incidence (competing)
  /** Aalen-Johansen cumulative incidence under competing risks: with
    * cause 0 = right-censored and causes 1..K competing events,
    * CIF_k(t) = Σ_{u≤t} Ŝ(u⁻)·d_{k,u}/n_u — the probability of failing
    * FROM CAUSE k by t, which naive per-cause KM overstates (1−KM treats
    * competitors as censoring). Ŝ is the all-cause Kaplan-Meier.
    *
    * DETERMINISM: the [[kaplanMeier]] discipline — exact integer risk
    * sets off ONE duration-grain rollup; Ŝ(u⁻) is exp of the
    * previous-rows decimal ln sum (absorbing zero carried as a flag);
    * each CIF increment Ŝ(u⁻)·d/n is one fixed IEEE shape rounded to
    * DECIMAL(28,12) before the per-cause running sum (window PARTITIONED
    * BY CAUSE over the duration grain). Cardinality contract: distinct
    * durations bounded (bucket first — ENFORCED via
    * [[gateDurationCells]]); cause vocabulary bounded. Returns
    * (duration, cause, n_at_risk, n_events, cif) for causes ≥ 1. */
  def cumulativeIncidence(df: DataFrame, durationCol: Column,
                          causeCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val base = df.select(durationCol.cast("long").as("duration"),
        causeCol.cast("long").as("__k"))
      .filter(col("duration").isNotNull && col("duration") >= 0 &&
        col("__k").isNotNull && col("__k") >= 0)
    val raw = base.groupBy("duration")
      .agg(count(lit(1)).as("__c"),
        sum(when(col("__k") > 0, 1L).otherwise(0L)).as("__d"))
    val perT = gateDurationCells(raw, "__c", "cumulativeIncidence")
    // 1-row totals read the UNGATED rollup (combinable at any
    // cardinality; the windowed path stays gated — the survivalCells
    // discipline)
    val total = raw.agg(sum(col("__c")).as("__N"))
    val wPrev = Window.orderBy(col("duration"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val surv = perT.crossJoin(broadcast(total))
      .withColumn("n_at_risk",
        col("__N") - coalesce(sum(col("__c")).over(wPrev), lit(0L)))
      .withColumn("__term",
        when(col("__d") > 0 && col("__d") < col("n_at_risk"),
          log(lit(1.0) - col("__d").cast("double") /
            col("n_at_risk").cast("double")).cast(DecimalType(28, 12)))
          .otherwise(lit(0.0).cast(DecimalType(28, 12))))
      // S(u-) = survival strictly BEFORE u; dead-before flag absorbs
      .withColumn("__deadPrev",
        coalesce(max(when(col("__d") === col("n_at_risk"), 1).otherwise(0))
          .over(wPrev), lit(0)))
      .withColumn("__sPrev",
        when(col("__deadPrev") === 1, lit(0.0))
          .otherwise(exp(coalesce(sum(col("__term")).over(wPrev)
            .cast("double"), lit(0.0)))))
      .select(col("duration"), col("n_at_risk"), col("__sPrev"))
    val perTC = base.filter(col("__k") > 0)
      .groupBy(col("duration"), col("__k").as("cause"))
      .agg(count(lit(1)).as("n_events"))
    val wCause = Window.partitionBy(col("cause")).orderBy(col("duration"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perTC.join(surv, Seq("duration"))
      .withColumn("__inc",
        (col("__sPrev") * col("n_events").cast("double") /
          col("n_at_risk").cast("double")).cast(DecimalType(28, 12)))
      .withColumn("cif", round(sum(col("__inc")).over(wCause)
        .cast("double"), 6))
      .select(col("duration"), col("cause"), col("n_at_risk"),
        col("n_events"), col("cif"))
  }

  // --------------------------------------- SPC rules (Western Electric)
  /** Western Electric control-chart flags over the zero-filled daily
    * count series: with μ/σ the series' own (population) moments,
    * rule 1 fires where |x−μ| ≥ 3σ (closed boundary — a point exactly ON
    * the 3σ limit flags; the band convention below makes the same call)
    * and rule 2 where ≥ 2 of 3 consecutive
    * points sit beyond 2σ on the SAME side — the monitoring companion to
    * [[cusum]]-style drift alarms (q384 catches slow drifts; WE rules
    * catch spikes and short runs).
    *
    * DETERMINISM: μ and σ come from decimal-exact integer moments,
    * ROUNDED 6dp and broadcast (all flags compare against the rounded
    * limits — engine-identical gates); rule 2 is one lag window over the
    * calendar-bounded spine. Returns per day:
    * (day, n, z_band, rule1, rule2) with z_band ∈ {−3..3} the signed
    * σ-band index (capped), flags boolean. */
  def spcRules(df: DataFrame, tsCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val daily = resampleDaily(df, tsCol)
    val m = daily.agg(count(lit(1)).as("__nd"),
        sum(col("n").cast(DecimalType(38, 0))).as("__s"),
        sum(col("n").cast(DecimalType(38, 0)) * col("n")).as("__ss"))
      .select(
        round(col("__s").cast("double") / col("__nd").cast("double"), 6)
          .as("__mu"),
        round(sqrt((col("__nd").cast("double") * col("__ss").cast("double") -
          col("__s").cast("double") * col("__s").cast("double")) /
          (col("__nd").cast("double") * col("__nd").cast("double"))), 6)
          .as("__sigma"))
    val dev = col("n").cast("double") - col("__mu")
    val band = when(col("__sigma") > 0.0,
      signum(dev) * least(floor(abs(dev) / col("__sigma")), lit(3.0)))
      .otherwise(lit(0.0)).cast("long")
    val w = Window.orderBy(col("day"))
    val flagged = daily.crossJoin(broadcast(m))
      .withColumn("z_band", band)
      .withColumn("__beyond2", when(col("z_band") >= 2, 1L)
        .when(col("z_band") <= -2, -1L).otherwise(0L))
    // rule 2: within this point and its two predecessors, >= 2 beyond 2
    // sigma on the same side
    val b0 = col("__beyond2")
    val b1 = lag(col("__beyond2"), 1).over(w)
    val b2 = lag(col("__beyond2"), 2).over(w)
    def pos(c: Column) = when(c === 1L, 1L).otherwise(0L)
    def neg(c: Column) = when(c === -1L, 1L).otherwise(0L)
    flagged
      .withColumn("rule1", abs(col("z_band")) >= 3)
      .withColumn("rule2",
        (pos(b0) + pos(coalesce(b1, lit(0L))) + pos(coalesce(b2, lit(0L)))
          >= 2L) ||
        (neg(b0) + neg(coalesce(b1, lit(0L))) + neg(coalesce(b2, lit(0L)))
          >= 2L))
      .select(col("day"), col("n"), col("z_band"), col("rule1"),
        col("rule2"))
  }

  // ------------------------------------------------ Ljung-Box portmanteau
  /** Ljung-Box Q test (Ljung & Box 1978) over the zero-filled daily count
    * series: Q = n(n+2)·Σ_{k=1..h} ρ̂²_k/(n−k) — "is there ANY
    * autocorrelation in the first h lags", the portmanteau gate behind
    * [[autocorrDaily]]'s single lag.
    *
    * DETERMINISM — integer micro-units end to end: the 6dp-rounded mean
    * scales to an exact long M, deviations X_t = x_t·10⁶ − M are exact
    * longs, every Σ X_aX_b accumulates as DECIMAL(38,0) (cast before
    * multiplying), ρ_k is one IEEE division, each ρ²/(n−k) term rounds
    * to DECIMAL(28,12) before the lag sum. Lag pairs come from ONE equi
    * join on day+k over the calendar-bounded spine (lags exploded, never
    * h sequential passes). Contract: x·10⁶ fits a long (daily counts
    * < ~9·10¹²). Returns one row: (n_days, n_lags, q_stat). */
  def ljungBox(df: DataFrame, tsCol: String, maxLag: Int = 7): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(maxLag >= 1, s"maxLag must be >= 1: $maxLag")
    val daily = resampleDaily(df, tsCol)
    val m = daily.agg(count(lit(1)).as("__nd"),
        sum(col("n").cast(DecimalType(38, 6))).as("__s"))
      .select(col("__nd"),
        round(round(col("__s").cast("double") /
          col("__nd").cast("double"), 6) * 1e6, 0).cast("long").as("__m"))
    val dev = daily.crossJoin(broadcast(m))
      .select(col("day"), (col("n") * 1000000L - col("__m")).as("__x"),
        col("__nd"))
    val den = dev.agg(sum(col("__x").cast(DecimalType(38, 0)) * col("__x"))
      .as("__den"), max(col("__nd")).as("n_days"))
    val lagged = dev.select(col("day"), col("__x"),
        explode(sequence(lit(1), lit(maxLag))).as("__k"))
      .withColumn("__dayk", col("day") + col("__k"))
    val num = lagged.as("a").join(
        dev.select(col("day").as("__dayk"), col("__x").as("__xb")), Seq("__dayk"))
      .groupBy(col("__k"))
      .agg(sum(col("__x").cast(DecimalType(38, 0)) * col("__xb")).as("__num"))
    val terms = num.crossJoin(broadcast(den))
      .select(((col("__num").cast("double") / col("__den").cast("double")) *
        (col("__num").cast("double") / col("__den").cast("double")) /
        (col("n_days") - col("__k")).cast("double"))
        .cast(DecimalType(28, 12)).as("__t"),
        col("n_days"))
    terms.agg(max(col("n_days")).as("n_days"), count(lit(1)).as("n_lags"),
        sum(col("__t")).as("__q"))
      .select(col("n_days"), col("n_lags"),
        round(col("n_days").cast("double") *
          (col("n_days") + 2L).cast("double") *
          col("__q").cast("double"), 6).as("q_stat"))
  }

  // --------------------------------------------------------- log-rank test
  /** Two-group log-rank (Mantel-Cox) test over right-censored durations —
    * the standard "do these survival curves differ" gate (Mantel 1966).
    * At each distinct duration t with d_t total events among n_t at risk
    * (n_At of them in group A): E_A += d_t·n_At/n_t and
    * V += d_t·(n_At/n_t)·(1 − n_At/n_t)·(n_t − d_t)/(n_t − 1);
    * χ² = (O_A − E_A)²/V. Censored subjects leave the risk sets without
    * contributing events; single-subject times contribute no variance
    * (the n_t = 1 guard).
    *
    * DETERMINISM: O and the risk sets are exact integers off ONE
    * (duration)-grain rollup with per-group conditional sums; each E/V
    * term is fixed-shape IEEE on those integers rounded to
    * DECIMAL(28,12) before the sums; χ² is one final fixed-shape
    * division, 6dp. Scale: one shuffle to the distinct-duration relation
    * (bucket continuous durations first — ENFORCED via
    * [[gateDurationCells]]), two running windows, one 1-row aggregate —
    * group-count independent of the row count. Returns ONE row
    * (n_a, n_b, o_a, e_a, o_b, e_b, chi2). */
  def logRank(df: DataFrame, durationCol: Column, eventCol: Column,
              groupACol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val raw = df.select(durationCol.cast("long").as("duration"),
        eventCol.as("__e"), groupACol.as("__a"))
      .filter(col("duration").isNotNull && col("duration") >= 0)
      .groupBy("duration")
      .agg(sum(when(col("__a") && col("__e"), 1L).otherwise(0L)).as("da"),
        sum(when(!col("__a") && col("__e"), 1L).otherwise(0L)).as("db"),
        sum(when(col("__a"), 1L).otherwise(0L)).as("ta"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("tb"))
    val perT = gateDurationCells(raw, "da", "logRank")
    // 1-row totals read the UNGATED rollup (the survivalCells discipline)
    val tot = raw.agg(sum(col("ta")).as("__NA"), sum(col("tb")).as("__NB"))
    val wPrev = Window.orderBy(col("duration"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val risk = perT.crossJoin(broadcast(tot))
      .withColumn("na",
        col("__NA") - coalesce(sum(col("ta")).over(wPrev), lit(0L)))
      .withColumn("nb",
        col("__NB") - coalesce(sum(col("tb")).over(wPrev), lit(0L)))
      .withColumn("nt", col("na") + col("nb"))
      .withColumn("dt", col("da") + col("db"))
    val eTerm = (col("dt").cast("double") * col("na").cast("double") /
      col("nt").cast("double")).cast(DecimalType(28, 12))
    val vTerm = when(col("nt") > 1,
      (col("dt").cast("double") *
        (col("na").cast("double") / col("nt").cast("double")) *
        (col("nb").cast("double") / col("nt").cast("double")) *
        ((col("nt") - col("dt")).cast("double") /
          (col("nt") - lit(1L)).cast("double"))).cast(DecimalType(28, 12)))
      .otherwise(lit(0.0).cast(DecimalType(28, 12)))
    risk
      .agg(max(col("__NA")).as("n_a"), max(col("__NB")).as("n_b"),
        sum(col("da")).as("o_a"),
        sum(eTerm).as("__ea"),
        sum(col("db")).as("o_b"),
        sum(col("dt").cast("double").cast(DecimalType(28, 12)) - eTerm)
          .as("__eb"),
        sum(vTerm).as("__v"))
      .select(col("n_a"), col("n_b"), col("o_a"),
        round(col("__ea").cast("double"), 6).as("e_a"),
        col("o_b"), round(col("__eb").cast("double"), 6).as("e_b"),
        round(when(col("__v") > 0,
          pow(col("o_a").cast("double") - col("__ea").cast("double"), 2) /
            col("__v").cast("double")).otherwise(lit(0.0)), 6).as("chi2"))
  }

  // ----------------------------------------------- Allan deviation
  /** Allan deviation of the zero-filled daily count series over an
    * averaging-time grid (Allan 1966): for each τ, the RMS of adjacent
    * τ-day block-mean differences, ADEV(τ) = √(Σ(m_{b+1}−m_b)²/(2(M−1)))
    * — the drift-vs-noise ladder (white noise falls as τ^−1/2, random
    * walk RISES; [[hurstDaily]]'s engineering cousin, reading the same
    * spine).
    *
    * DETERMINISM AND SCALE: complete τ-blocks of exact integer counts;
    * adjacent diffs are integers in a τ-partitioned lag over the
    * calendar-bounded block relation; ADEV(τ)² = Σd²/(τ²·2(M−1)) is ONE
    * exact integer rational per τ, then one √. Fewer than 2 complete
    * blocks null loudly. Returns per τ: (tau, n_blocks, adev) 6dp. */
  def allanDeviationDaily(df: DataFrame, tsCol: String,
                          taus: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    // STRICTLY increasing: a duplicated tau would duplicate its block
    // rows, making the lag window's (tau, __b) order key non-total and
    // the adjacent diffs shuffle-order dependent
    require(taus.nonEmpty && taus == taus.distinct.sorted && taus.head >= 1,
      s"taus must be strictly increasing positive: $taus")
    val daily = resampleDaily(df, tsCol)
    val based = daily.crossJoin(broadcast(
        daily.agg(min(col("day")).as("__d0"))))
      .select((col("day") - col("__d0")).as("__t"), col("n"))
    val blocks = taus.map { s =>
      based.select(lit(s.toLong).as("tau"),
          expr(s"__t div $s").as("__b"), col("n"))
        .groupBy("tau", "__b")
        .agg(count(lit(1)).as("__cnt"), sum(col("n")).as("__s"))
        .filter(col("__cnt") === s.toLong)
    }.reduce(_ unionByName _)
    val wLag = Window.partitionBy(col("tau")).orderBy(col("__b"))
    val diffs = blocks
      .withColumn("__d", col("__s") - lag(col("__s"), 1).over(wLag))
    val agg = diffs.groupBy("tau")
      .agg(count(lit(1)).as("n_blocks"),
        sum((col("__d") * col("__d")).cast(dt)).as("__dd"))
    val m1 = (col("n_blocks") - 1L).cast("double")
    agg.select(col("tau"), col("n_blocks"),
        round(when(col("n_blocks") >= 2L,
          sqrt(col("__dd").cast("double") /
            (col("tau").cast("double") * col("tau").cast("double") *
              lit(2.0) * m1))), 6).as("adev"))
      .orderBy("tau")
  }

  // ------------------------------------------- Bass diffusion fit
  /** Bass diffusion model fit by the discrete OLS form (Bass 1969):
    * daily NEW adopters n_t regressed on the prior cumulative N_{t−1}
    * and N_{t−1}² — n = a + bN + cN² with a = pm, b = q−p, c = −q/m —
    * then m̂ (market size), p̂ (innovation) and q̂ (imitation) recovered
    * from the quadratic's positive root. THE adoption-forecast
    * primitive behind "when does growth saturate".
    *
    * DETERMINISM AND SCALE: first-seen days are one user-grain min;
    * the regression runs on the calendar-bounded spine with exact
    * integer (N, N²) regressors and DECIMAL(38,0) normal-equation
    * moments (the [[Finance.grangerPair]] 2-regressor solve). A
    * non-concave fit (c ≥ 0 or negative discriminant or m̂ ≤ 0) nulls
    * the recovered parameters loudly — the raw coefficients still
    * report. Returns one row:
    * (n_days, coef_a, coef_b, coef_c, m_hat, p_hat, q_hat) 6dp. */
  def bassDiffusionFit(df: DataFrame, userCol: String,
                       tsCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val firstDay = df.select(col(userCol).as("__u"),
        dayIndex(col(tsCol)).as("__d"))
      .groupBy("__u").agg(min(col("__d")).as("__d"))
    val perDay = firstDay.groupBy(col("__d").as("day"))
      .agg(count(lit(1)).as("__new"))
    val spine = perDay.agg(min(col("day")).as("__lo"),
        max(col("day")).as("__hi"))
      .select(explode(sequence(col("__lo"), col("__hi"))).as("day"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rows = spine.join(perDay, Seq("day"), "left")
      .select(col("day"), coalesce(col("__new"), lit(0L)).as("__y"))
      .withColumn("__cum", sum(col("__y")).over(w))
      .withColumn("__nPrev", col("__cum") - col("__y"))
      .select(col("__y"), col("__nPrev").as("__z1"),
        (col("__nPrev") * col("__nPrev")).as("__z2"))
    val m = rows.agg(count(lit(1)).as("n_days"),
      sum(col("__y").cast(dt)).as("__sw"),
      sum(col("__z1").cast(dt)).as("__s1"),
      sum(col("__z2").cast(dt)).as("__s2"),
      sum(col("__z1").cast(dt) * col("__z1")).as("__s11"),
      sum(col("__z2").cast(dt) * col("__z2")).as("__s22"),
      sum(col("__z1").cast(dt) * col("__z2")).as("__s12"),
      sum(col("__z1").cast(dt) * col("__y")).as("__s1w"),
      sum(col("__z2").cast(dt) * col("__y")).as("__s2w"))
    val nD = col("n_days").cast("double")
    def d(c: String) = col(c).cast("double")
    val c11 = d("__s11") - d("__s1") * d("__s1") / nD
    val c22 = d("__s22") - d("__s2") * d("__s2") / nD
    val c12 = d("__s12") - d("__s1") * d("__s2") / nD
    val c1w = d("__s1w") - d("__s1") * d("__sw") / nD
    val c2w = d("__s2w") - d("__s2") * d("__sw") / nD
    val det = c11 * c22 - c12 * c12
    val ok = col("n_days") >= 4L && det > 0.0
    val bB = when(ok, (c1w * c22 - c2w * c12) / det)
    val cC = when(ok, (c2w * c11 - c1w * c12) / det)
    val aA = d("__sw") / nD - bB * (d("__s1") / nD) -
      cC * (d("__s2") / nD)
    val disc = bB * bB - lit(4.0) * cC * aA
    val mHat = when(cC < 0.0 && disc >= 0.0,
      (-bB - sqrt(disc)) / (lit(2.0) * cC))
    val pHat = when(mHat > 0.0, aA / mHat)
    m.select(col("n_days"), round(aA, 6).as("coef_a"),
      round(bB, 6).as("coef_b"), round(cC, 6).as("coef_c"),
      round(when(mHat > 0.0, mHat), 6).as("m_hat"),
      round(pHat, 6).as("p_hat"),
      round(pHat + bB, 6).as("q_hat"))
  }

  // ------------------------------------------- Holt linear backtest
  /** One-step-ahead backtest of Holt's linear (double exponential)
    * smoothing on the daily count series, α = β = ½ (Holt 1957): with
    * l₀ = y₀, b₀ = y₁−y₀, each day forecasts f_t = l_{t−1} + b_{t−1},
    * then updates l_t = ½y_t + ½(l_{t−1}+b_{t−1}),
    * b_t = ½(l_t−l_{t−1}) + ½b_{t−1} — the level+trend upgrade of
    * [[ewmaDaily]] and the honest error series behind
    * [[forecastAccuracy]]-style summaries.
    *
    * DETERMINISM AND SCALE: the recursion is inherently sequential, so
    * it runs DRIVER-LOCAL on the collected calendar-bounded spine (the
    * [[Similarity.kmeansCentroids]] bounded-collect contract; ≤ 3660
    * days enforced — a century of days would still be one small array).
    * Every step is the same fixed IEEE shape an unrolled recursive
    * oracle computes; halving constants keep early steps exactly
    * dyadic. Returns per day t ≥ 1: (t, n, forecast, error) 6dp. */
  def holtLinearBacktest(df: DataFrame, tsCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val daily = resampleDaily(df, tsCol).orderBy("day")
      .select(col("n")).collect().map(_.getLong(0))
    require(daily.length >= 2, "holtLinearBacktest needs >= 2 days")
    require(daily.length <= 3660,
      s"calendar spine too long for the bounded-collect contract: " +
        s"${daily.length}")
    var l = daily(0).toDouble
    var b = daily(1).toDouble - daily(0).toDouble
    val rows = (1 until daily.length).map { t =>
      val y = daily(t).toDouble
      val f = l + b
      val e = y - f
      val lNew = 0.5 * y + 0.5 * (l + b)
      val bNew = 0.5 * (lNew - l) + 0.5 * b
      l = lNew; b = bNew
      (t.toLong, daily(t), f, e)
    }
    rows.toDF("t", "n", "__f", "__e")
      .select(col("t"), col("n"), round(col("__f"), 6).as("forecast"),
        round(col("__e"), 6).as("error"))
  }

  // --------------------------------- detrended fluctuation analysis
  /** DFA of the daily count series (Peng et al. 1994): integrate the
    * demeaned series into a profile, detrend each complete s-day block
    * by its own OLS line, F(s) = √(mean block residual variance); the
    * log-log slope α of F against s is the long-memory exponent (α = 0.5
    * uncorrelated, > 0.5 persistent) — trend-robust where
    * [[hurstDaily]]'s R/S is not.
    *
    * DETERMINISM AND SCALE: the profile scales by N to stay integer
    * (P_t = N·C_t − (t+1)·T — the KPSS discipline), block OLS moments
    * are DECIMAL(38,0) integer sums (x = 1..s within block), per-block
    * SSR is a fixed IEEE shape, F rescales by /N once; α is a 3-point
    * ln–ln OLS over the bounded size grid. Block sizes must leave ≥ 1
    * complete block (the 30-day-spine lesson: sizes ≤ 16). Returns per
    * size: (block_size, n_blocks, fluct, alpha) 6dp (α repeated — the
    * headline number rides every row). */
  def dfaDaily(df: DataFrame, tsCol: String,
               sizes: Seq[Int] = Seq(4, 8, 16)): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    // STRICTLY increasing (the allanDeviationDaily duplicate-tau hazard)
    require(sizes.size >= 2 && sizes == sizes.distinct.sorted &&
      sizes.head >= 2,
      s"need >= 2 strictly increasing block sizes >= 2: $sizes")
    val daily = resampleDaily(df, tsCol)
    val tot = daily.agg(min(col("day")).as("__d0"),
      count(lit(1)).as("__nd"), sum(col("n")).as("__tt"))
    val wCum = Window.orderBy(col("__t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prof = daily.crossJoin(broadcast(tot))
      .select((col("day") - col("__d0")).as("__t"), col("n"),
        col("__nd"), col("__tt"))
      .withColumn("__c", sum(col("n")).over(wCum))
      .withColumn("__p", col("__nd").cast(dt) * col("__c") -
        (col("__t") + 1L).cast(dt) * col("__tt"))
    val blocks = sizes.map { s =>
      prof.select(lit(s.toLong).as("block_size"),
        expr(s"__t div $s").as("__b"),
        (expr(s"__t % $s") + 1L).as("__x"), col("__p"), col("__nd"))
    }.reduce(_ unionByName _)
    val perBlock = blocks.groupBy("block_size", "__b")
      .agg(count(lit(1)).as("__cnt"), first(col("__nd")).as("__nd"),
        sum(col("__x")).as("__sx"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__p")).as("__sy"),
        sum(col("__x").cast(dt) * col("__p")).as("__sxy"),
        sum(col("__p") * col("__p")).as("__syy"))
      .filter(col("__cnt") === col("block_size"))
    val nB = col("__cnt").cast("double")
    def d(c: String) = col(c).cast("double")
    val sxxC = d("__sxx") - d("__sx") * d("__sx") / nB
    val sxyC = d("__sxy") - d("__sx") * d("__sy") / nB
    val syyC = d("__syy") - d("__sy") * d("__sy") / nB
    val ssr = syyC - sxyC * sxyC / sxxC
    val perSize = perBlock
      .withColumn("__ssr", when(sxxC > 0.0, ssr))
      .groupBy("block_size")
      .agg(count(lit(1)).as("n_blocks"), first(col("__nd")).as("__nd"),
        sum(col("__ssr").cast(DecimalType(38, 6))).cast("double")
          .as("__sssr"))
      .withColumn("__f",
        sqrt(col("__sssr") / col("n_blocks").cast("double") /
          col("block_size").cast("double")) /
          col("__nd").cast("double"))
    val alpha = {
      val dd = DecimalType(28, 12)
      val lx = log(col("block_size").cast("double"))
      val ly = log(col("__f"))
      val m = perSize.filter(col("__f") > 0.0)
        .agg(count(lit(1)).as("__k"),
          sum(lx.cast(dd)).cast("double").as("__slx"),
          sum(ly.cast(dd)).cast("double").as("__sly"),
          sum((lx * lx).cast(dd)).cast("double").as("__slxx"),
          sum((lx * ly).cast(dd)).cast("double").as("__slxy"))
      val kD = col("__k").cast("double")
      val num = col("__slxy") - col("__slx") * col("__sly") / kD
      val den = col("__slxx") - col("__slx") * col("__slx") / kD
      m.select(when(col("__k") >= 2L && den > 0.0, num / den).as("__a"))
    }
    perSize.crossJoin(broadcast(alpha))
      .select(col("block_size"), col("n_blocks"),
        round(col("__f"), 6).as("fluct"),
        round(col("__a"), 6).as("alpha"))
      .orderBy("block_size")
  }

  // --------------------------------------------- weighted log-rank
  /** Weighted log-rank test (the Gehan–Breslow / Tarone–Ware family):
    * Z = Σ w_t·(d_At − E_t) / √(Σ w_t²·V_t) with w_t = n_t (gehan —
    * early differences dominate) or √n_t (tarone-ware — the compromise);
    * w ≡ 1 recovers [[logRank]]. Run beside the unweighted test when
    * hazards may cross: each weighting sees a different alternative.
    *
    * DETERMINISM AND SCALE: the [[logRank]] scaffold verbatim — one
    * (duration)-grain rollup (gated via [[gateDurationCells]]), one
    * running window, exact risk-set
    * integers; each w·(d−E) and w²·V term is fixed-shape IEEE cast
    * DECIMAL(28,12) before the sums. Weights enter NORMALIZED by the
    * total risk set N (w = n_t/N, so w ≤ 1 and w²·V ≤ V — z is
    * scale-invariant, and the Gehan variance term can never overflow
    * the decimal's 16 integer digits, which raw w = n_t did around
    * N ≈ 1e8). Zero variance reports null z and chi2. Returns ONE row:
    * (n_a, n_b, o_a, o_b, z_stat, chi2). */
  def weightedLogRank(df: DataFrame, durationCol: Column, eventCol: Column,
                      groupACol: Column,
                      weighting: String = "gehan"): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(Set("gehan", "tarone-ware")(weighting),
      s"weighting must be gehan|tarone-ware: $weighting")
    val raw = df.select(durationCol.cast("long").as("duration"),
        eventCol.as("__e"), groupACol.as("__a"))
      .filter(col("duration").isNotNull && col("duration") >= 0)
      .groupBy("duration")
      .agg(sum(when(col("__a") && col("__e"), 1L).otherwise(0L)).as("da"),
        sum(when(!col("__a") && col("__e"), 1L).otherwise(0L)).as("db"),
        sum(when(col("__a"), 1L).otherwise(0L)).as("ta"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("tb"))
    val perT = gateDurationCells(raw, "da", "weightedLogRank")
    // 1-row totals read the UNGATED rollup (the survivalCells discipline)
    val tot = raw.agg(sum(col("ta")).as("__NA"), sum(col("tb")).as("__NB"))
    val wPrev = Window.orderBy(col("duration"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val risk = perT.crossJoin(broadcast(tot))
      .withColumn("na",
        col("__NA") - coalesce(sum(col("ta")).over(wPrev), lit(0L)))
      .withColumn("nb",
        col("__NB") - coalesce(sum(col("tb")).over(wPrev), lit(0L)))
      .withColumn("nt", col("na") + col("nb"))
      .withColumn("dt", col("da") + col("db"))
    val nTotD = (col("__NA") + col("__NB")).cast("double")
    val w = if (weighting == "gehan") col("nt").cast("double") / nTotD
      else sqrt(col("nt").cast("double") / nTotD)
    val eT = col("dt").cast("double") * col("na").cast("double") /
      col("nt").cast("double")
    val numTerm = (w * (col("da").cast("double") - eT))
      .cast(DecimalType(28, 12))
    val vT = when(col("nt") > 1,
      col("dt").cast("double") *
        (col("na").cast("double") / col("nt").cast("double")) *
        (col("nb").cast("double") / col("nt").cast("double")) *
        ((col("nt") - col("dt")).cast("double") /
          (col("nt") - lit(1L)).cast("double"))).otherwise(lit(0.0))
    val varTerm = (w * w * vT).cast(DecimalType(28, 12))
    risk
      .agg(max(col("__NA")).as("n_a"), max(col("__NB")).as("n_b"),
        sum(col("da")).as("o_a"), sum(col("db")).as("o_b"),
        sum(numTerm).as("__num"), sum(varTerm).as("__v"))
      .select(col("n_a"), col("n_b"), col("o_a"), col("o_b"),
        round(when(col("__v").cast("double") > 0.0,
          col("__num").cast("double") /
            sqrt(col("__v").cast("double"))), 6).as("z_stat"),
        round(when(col("__v").cast("double") > 0.0,
          col("__num").cast("double") * col("__num").cast("double") /
            col("__v").cast("double")), 6).as("chi2"))
  }

  // ---------------------------------------------------- business-day span
  /** Business days (Mon-Fri) in the half-open day-index interval
    * [startDay, endDay) — pure closed-form integer arithmetic on the
    * epoch-day grain, NEVER a calendar explode or a locale function:
    * g(d) = 5·⌊d/7⌋ + min(d mod 7, 2) + max(d mod 7 − 4, 0) counts
    * business days in [0, d) (epoch day 0 = Thursday; the q283
    * (day+3) mod 7 weekday convention), and the span is g(end) − g(start).
    * Contract: day indexes ≥ 0 (epoch days always are). Exact BIGINT in
    * any engine; negative when end < start (a signed span, by design). */
  def businessDaysBetween(startDay: Column, endDay: Column): Column = {
    def g(d: Column): Column =
      lit(5L) * ((d - pmod(d, lit(7L))) / lit(7L)).cast("long") +
        least(pmod(d, lit(7L)), lit(2L)) +
        greatest(pmod(d, lit(7L)) - lit(4L), lit(0L))
    g(endDay) - g(startDay)
  }
  // ------------------------------------------- Markov removal attribution
  /** Data-driven (Markov removal-effect) channel attribution — the model
    * that replaced last-touch in marketing analytics (Anderl et al. 2014):
    * build the first-order journey chain START → touches → CONV/NULL,
    * then each channel's credit is its REMOVAL EFFECT — how much k-step
    * conversion probability disappears when journeys through it are
    * killed — normalized across channels.
    *
    * The absorbing-chain solve is a `rounds`-step truncated power
    * iteration, and the round count is part of the CONTRACT (the q156
    * lesson: an oracle unrolls the same rounds; removal zeroes a
    * channel's value every round, which kills exactly the mass that
    * passes through it). ALL variants (full + one per channel) iterate
    * together as one (variant, state)-keyed relation — one loop, one
    * plan, no driver collect. Each round's Σ p·a terms round to
    * DECIMAL(28,12) before the sum (the PSI discipline); p stays the
    * exact rational c/t inside the term.
    *
    * Journey contract: touches are `typeCol` events ≠ `convValue`
    * STRICTLY BEFORE the user's first conversion (ties on ts break by
    * `tieCol`); users with no touches drop; the state relation is
    * channels + {__start, __conv, __null} — vocabulary-bounded, so every
    * round is a join over a tiny relation however large the event log.
    * Returns per channel:
    * (channel, p_conv, p_conv_removed, removal_effect, attribution). */
  def markovAttribution(df: DataFrame, userCol: String, tsCol: String,
                        tieCol: String, typeCol: String, convValue: String,
                        rounds: Int = 8): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(rounds >= 1 && rounds <= 20, s"rounds out of range: $rounds")
    val ev = df.select(col(userCol).as("u"), unix_micros(col(tsCol)).as("us"),
      col(tieCol).as("tie"), col(typeCol).as("ch"))
    val conv = ev.filter(col("ch") === convValue)
      .groupBy("u").agg(min(col("us")).as("cus"))
    val touches = ev.filter(col("ch") =!= convValue)
      .join(conv, Seq("u"), "left")
      .filter(col("cus").isNull || col("us") < col("cus"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("u")).orderBy(col("us").asc, col("tie").asc)))
    val nTouch = touches.groupBy("u")
      .agg(max(col("__rn")).as("__n"), first(col("cus"), ignoreNulls = true)
        .as("__cus"))
    val startE = touches.filter(col("__rn") === 1)
      .select(lit("__start").as("from_state"), col("ch").as("to_state"))
    val midE = touches.select(col("u"), col("__rn"), col("ch"))
      .join(touches.select(col("u"), (col("__rn") - 1).as("__rn"),
        col("ch").as("__next")), Seq("u", "__rn"))
      .select(col("ch").as("from_state"), col("__next").as("to_state"))
    val endE = touches.join(nTouch, Seq("u"))
      .filter(col("__rn") === col("__n"))
      .select(col("ch").as("from_state"),
        when(col("__cus").isNotNull, "__conv").otherwise("__null")
          .as("to_state"))
    val trans = startE.unionByName(midE).unionByName(endE)
      .groupBy("from_state", "to_state").agg(count(lit(1)).as("c"))
      .withColumn("t", sum(col("c")).over(
        Window.partitionBy(col("from_state"))))
    val channels = ev.filter(col("ch") =!= convValue)
      .select(col("ch")).distinct()
    val variants = channels.select(col("ch").as("variant"))
      .unionByName(channels.limit(1).select(lit("full").as("variant")))
    val states = trans.select(col("from_state").as("state"))
      .unionByName(trans.select(col("to_state").as("state"))).distinct()
    // the iterate lives at (variants × states) cardinality — single-digit
    // kilobytes however large the event log — so the whole loop runs as
    // ONE task per round: both fixed relations collapse to one partition
    // and materialize once (an 8-round lineage of re-derived journey
    // scans would otherwise re-run the log each round), and every
    // round-side join broadcasts.
    val transS = Ops.materialize(trans.repartition(1))
    val spine = Ops.materialize(variants.crossJoin(broadcast(states))
      .repartition(1))
    var a = spine.withColumn("v",
      when(col("state") === "__conv", 1.0).otherwise(0.0))
    for (_ <- 1 to rounds) {
      val nxt = transS.join(broadcast(a.withColumnRenamed("state", "to_state")),
          Seq("to_state"))
        .groupBy(col("variant"), col("from_state").as("state"))
        .agg(sum((col("c").cast("double") / col("t").cast("double") *
          col("v")).cast(DecimalType(28, 12))).cast("double").as("__agg"))
      a = spine.join(broadcast(nxt), Seq("variant", "state"), "left")
        .withColumn("v",
          when(col("state") === "__conv", 1.0)
            .when(col("state") === "__null", 0.0)
            .when(col("state") === col("variant"), 0.0)
            .otherwise(coalesce(col("__agg"), lit(0.0))))
        .drop("__agg")
    }
    val atStart = a.filter(col("state") === "__start")
      .select(col("variant"), col("v"))
    val full = atStart.filter(col("variant") === "full")
      .select(col("v").as("__pf"))
    val wAll = Window.partitionBy(lit(1))
    atStart.filter(col("variant") =!= "full")
      .crossJoin(broadcast(full))
      .withColumn("__re",
        when(col("__pf") > 0, lit(1.0) - col("v") / col("__pf")))
      .select(col("variant").as("channel"),
        round(col("__pf"), 6).as("p_conv"),
        round(col("v"), 6).as("p_conv_removed"),
        round(col("__re"), 6).as("removal_effect"),
        when(sum(col("__re")).over(wAll) > 0,
          round(col("__re") / sum(col("__re")).over(wAll), 6))
          .as("attribution"))
  }
  // --------------------------------------- restricted mean survival time
  /** Restricted mean survival time at horizon τ — the single-number
    * summary of [[kaplanMeier]] (the average survival duration capped at
    * τ, robust where median survival is undefined): the step-function
    * integral RMST(τ) = Σ S(t_{i−1})·(min(t_i, τ) − t_{i−1}) over the KM
    * curve's event grid plus the final plateau to τ.
    *
    * Each rectangle term is S (already 6dp from [[kaplanMeier]]) × an
    * integer width, rounded to DECIMAL(28,12) before the sum — exact
    * under any order. Durations beyond τ contribute nothing (their
    * segments clamp to zero width). The segment lag window runs over the
    * SAME distinct-duration relation the KM curve does — its bound is
    * inherited from [[kaplanMeier]]'s [[gateDurationCells]] gate (the
    * curve raises before this window ever sees an unbounded grid).
    * Returns one row: (tau, n_subjects, rmst). */
  def restrictedMeanSurvival(df: DataFrame, durationCol: Column,
                             eventCol: Column, tau: Long): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(tau >= 1, s"tau must be >= 1: $tau")
    val km = kaplanMeier(df, durationCol, eventCol)
    val n = km.agg(sum(col("n_events") + col("n_censored")).as("__n"))
    val w = Window.orderBy(col("duration"))
    // S is left-continuous: the survival BEFORE the first event time is 1
    val seg = km
      .withColumn("__prevT", coalesce(lag(col("duration"), 1).over(w),
        lit(0L)))
      .withColumn("__prevS", coalesce(lag(col("survival"), 1).over(w),
        lit(1.0)))
      .withColumn("__w",
        greatest(least(col("duration"), lit(tau)) -
          least(col("__prevT"), lit(tau)), lit(0L)))
      .withColumn("__term",
        (col("__prevS") * col("__w").cast("double"))
          .cast(DecimalType(28, 12)))
    val lastSeg = km.orderBy(col("duration").desc).limit(1)
      .select(((lit(tau) - least(col("duration"), lit(tau))).cast("double") *
        col("survival")).cast(DecimalType(28, 12)).as("__tail"))
    seg.agg(sum(col("__term")).as("__body"))
      .crossJoin(broadcast(lastSeg))
      .crossJoin(broadcast(n))
      .select(lit(tau).as("tau"), col("__n").as("n_subjects"),
        round((col("__body") + col("__tail")).cast("double"), 6).as("rmst"))
  }
  // ------------------------------------------------- frequent sequences
  /** Frequent contiguous event sequences (the PrefixSpan-family question
    * restricted to CONTIGUOUS n-grams — the restriction is what makes the
    * mining one window pass instead of a lattice search, documented):
    * per-user event streams ordered by (ts, tie) yield their length-`n`
    * runs, and a sequence's support is the number of DISTINCT users that
    * exhibit it at least once. Exact integers; one per-user window over
    * the event stream + one sequence-keyed rollup. Returns
    * (sequence "a>b>c", support ≥ minSupport). */
  def frequentSequences(df: DataFrame, userCol: String, tsCol: String,
                        tieCol: String, typeCol: String, n: Int,
                        minSupport: Long = 1L): DataFrame = {
    require(n >= 2 && n <= 8, s"n out of range: $n")
    val w = Window.partitionBy(col("__u"))
      .orderBy(col("__us").asc, col("__tie").asc)
    val base = df.select(col(userCol).as("__u"),
      unix_micros(col(tsCol)).as("__us"), col(tieCol).as("__tie"),
      col(typeCol).as("__t"))
    val withLeads = (1 until n).foldLeft(base) { (acc, i) =>
      acc.withColumn(s"__t$i", lead(col("__t"), i).over(w))
    }
    val parts = col("__t") +: (1 until n).map(i => col(s"__t$i"))
    withLeads
      .filter(parts.map(_.isNotNull).reduce(_ && _))
      .select(col("__u"), concat_ws(">", parts: _*).as("sequence"))
      .distinct()
      .groupBy("sequence").agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
  }

  // ------------------------------------------------- Mann-Kendall trend
  /** Mann-Kendall monotone-trend test (Mann 1945; Kendall 1975) on the
    * zero-filled daily count series ([[resampleDaily]]):
    * S = Σᵢ<ⱼ sign(xⱼ − xᵢ), Var(S) = [n(n−1)(2n+5) − Σₜ t(t−1)(2t+5)]/18
    * over tie groups of the VALUE, z = (S∓1)/√Var — the nonparametric
    * "is this series drifting" gate next to [[changePoint]] (where) and
    * [[theilSenTrend]]'s slope (how fast).
    *
    * DETERMINISM AND SCALE: S comes from the day-PAIR relation — a
    * broadcast inequality self-join of the CALENDAR-BOUNDED spine (days²,
    * independent of event volume; the one documented nested-loop join);
    * counts are exact integers, the tie sum is DECIMAL(38,0) (a tie group
    * above ~2.1M days would overflow 2^63 — the kruskal rule), z is one
    * fixed IEEE shape, 6dp. Returns one row: (n_days, s_stat, var_s, z). */
  def mannKendallDaily(df: DataFrame, tsCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val daily = resampleDaily(df, tsCol)
    val a = daily.select(col("day").as("da"), col("n").as("xa"))
    val b = daily.select(col("day").as("db"), col("n").as("xb"))
    val s = a.join(broadcast(b), col("da") < col("db"))
      .agg(sum(signum((col("xb") - col("xa")).cast("double")).cast("long"))
        .as("__s"))
    val ties = daily.groupBy(col("n")).agg(count(lit(1)).as("__t"))
      .agg(count(lit(1)).as("__nv"), sum(col("__t")).as("__nd"),
        sum(col("__t").cast(dt) * (col("__t") - 1L) *
          (col("__t") * 2L + 5L)).as("__tsum"))
    val m = s.crossJoin(broadcast(ties))
    val nD = col("__nd").cast("double")
    val v = (nD * (nD - lit(1.0)) * (lit(2.0) * nD + lit(5.0)) -
      col("__tsum").cast("double")) / lit(18.0)
    val sD = col("__s").cast("double")
    m.select(col("__nd").as("n_days"), col("__s").as("s_stat"),
      round(v, 6).as("var_s"),
      round(when(v > 0.0,
        when(col("__s") > 0, (sD - lit(1.0)) / sqrt(v))
          .when(col("__s") < 0, (sD + lit(1.0)) / sqrt(v))
          .otherwise(lit(0.0))), 6).as("z"))
  }

  // ---------------------------------------------- Wald-Wolfowitz runs test
  /** Runs test for randomness (Wald & Wolfowitz 1940) of the daily count
    * series against its own MEDIAN: days classify as above (>) or
    * not-above the lower-median DATA ELEMENT (the repo's order-statistic
    * discipline — never an interpolated mean, so the cut is byte-identical
    * in any engine); R = number of sign runs in day order;
    * E[R] = 1 + 2n₁n₂/n, Var = 2n₁n₂(2n₁n₂−n)/(n²(n−1)), z = (R−E)/√Var —
    * the "is the drift pattern clustered or alternating" companion to
    * [[mannKendallDaily]].
    *
    * Scale: the lag window and the median rank window run on the
    * calendar-bounded spine (never events). Degenerate families (n₁ = 0
    * or n₂ = 0, or n < 2) report null z. Returns one row:
    * (n_days, n_above, n_below, runs, z). */
  def runsTestDaily(df: DataFrame, tsCol: String): DataFrame = {
    val daily = resampleDaily(df, tsCol)
    val wRank = Window.orderBy(col("n").asc, col("day").asc)
    val med = daily
      .withColumn("__rn", row_number().over(wRank))
      .crossJoin(broadcast(daily.agg(count(lit(1)).as("__nd"))))
      .filter(col("__rn") === ((col("__nd") + lit(1L)) / lit(2L)).cast("long"))
      .select(col("n").as("__med"))
    val flagged = daily.crossJoin(broadcast(med))
      .select(col("day"), (col("n") > col("__med")).as("__b"))
    val wDay = Window.orderBy(col("day"))
    val runs = flagged
      .withColumn("__new",
        when(lag(col("__b"), 1).over(wDay).isNull ||
          lag(col("__b"), 1).over(wDay) =!= col("__b"), 1L).otherwise(0L))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("__b"), 1L).otherwise(0L)).as("n_above"),
        sum(when(!col("__b"), 1L).otherwise(0L)).as("n_below"),
        sum(col("__new")).as("runs"))
    val n1 = col("n_above").cast("double"); val n2 = col("n_below").cast("double")
    val nD = col("n_days").cast("double")
    val e = lit(1.0) + lit(2.0) * n1 * n2 / nD
    val v = lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - nD) /
      (nD * nD * (nD - lit(1.0)))
    runs.select(col("n_days"), col("n_above"), col("n_below"), col("runs"),
      round(when(col("n_above") > 0 && col("n_below") > 0 &&
        col("n_days") > 1 && v > 0.0,
        (col("runs").cast("double") - e) / sqrt(v)), 6).as("z"))
  }

  // ----------------------------------------------- variance-ratio test
  /** Lo-MacKinlay variance ratio (Lo & MacKinlay 1988) of the daily count
    * series: VR(k) = Var(x_t − x_{t−k}) / (k·Var(x_t − x_{t−1})) — the
    * random-walk diagnostic (VR ≈ 1 under i.i.d. increments; < 1 mean
    * reversion, > 1 trending), the returns-side sibling of
    * [[autocorrDaily]].
    *
    * DETERMINISM: both difference series are integer-exact lag windows
    * over the calendar-bounded spine; population variances accumulate as
    * DECIMAL(38,0) sums of integer squares; the ratio is one fixed IEEE
    * shape, 6dp. Returns one row: (n1, nk, var_1, var_k, vr). */
  def varianceRatioDaily(df: DataFrame, tsCol: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(k >= 2, s"k must be >= 2: $k")
    val dt = DecimalType(38, 0)
    val w = Window.orderBy(col("day"))
    val diffs = resampleDaily(df, tsCol)
      .select((col("n") - lag(col("n"), 1).over(w)).as("__d1"),
        (col("n") - lag(col("n"), k).over(w)).as("__dk"))
    def varOf(c: String, nOut: String, sOut: String, ssOut: String) = Seq(
      sum(when(col(c).isNotNull, 1L).otherwise(0L)).as(nOut),
      sum(col(c).cast(dt)).as(sOut),
      sum(col(c).cast(dt) * col(c)).as(ssOut))
    val aggs = varOf("__d1", "n1", "__s1", "__ss1") ++
      varOf("__dk", "nk", "__sk", "__ssk")
    val m = diffs.agg(aggs.head, aggs.tail: _*)
    def popVar(nc: String, sc: String, ssc: String): Column = {
      val n = col(nc).cast("double")
      (n * col(ssc).cast("double") -
        col(sc).cast("double") * col(sc).cast("double")) / (n * n)
    }
    val v1 = popVar("n1", "__s1", "__ss1")
    val vk = popVar("nk", "__sk", "__ssk")
    m.select(col("n1"), col("nk"),
      round(v1, 6).as("var_1"), round(vk, 6).as("var_k"),
      round(when(col("n1") > 0 && col("nk") > 0 && v1 > 0.0,
        vk / (lit(k.toDouble) * v1)), 6).as("vr"))
  }

  // ------------------------------------------------- peak concurrency
  /** Per-day peak concurrency of an interval relation (sessions, jobs,
    * calls): how many intervals were simultaneously open at the day's
    * busiest instant. The capacity-planning readout over [[q124]]-style
    * sessionization.
    *
    * SCALE SHAPE — never a global timeline sort, and never a whole DAY
    * on one task either: intervals explode to the SUB-DAY buckets they
    * touch (default 24/day — bounded by interval length; sessions span
    * ~1); each bucket's CARRY-IN is a projection off the same exploded
    * relation; +1/−1 boundary points cumulate in a window PARTITIONED
    * BY BUCKET (a hot day's points split across `subBuckets` tasks —
    * the knob for hotter grains); bucket peaks roll up to the day max,
    * which is exact because concurrency is piecewise constant and every
    * active instant lies in a touched bucket. Tie policy (part of the
    * semantic): at equal timestamps ends process before starts — [a,b)
    * intervals, back-to-back sessions never overlap.
    * Peak_bucket = carry-in + max(0, running max); peak_day = max over
    * buckets; carried_in (day grain) = the day's first bucket's carry.
    * Inputs are integer MICROSECONDS (the [[micros]] projection — the
    * module's time discipline). Returns (day, carried_in, peak) per
    * touched day. */
  def peakConcurrency(intervals: DataFrame, startUsCol: Column,
                      endUsCol: Column, subBuckets: Int = 24): DataFrame = {
    val dayUs = 86400000000L
    require(subBuckets >= 1 && dayUs % subBuckets == 0,
      s"subBuckets must divide the day: $subBuckets")
    val bUs = dayUs / subBuckets
    val iv = intervals.select(startUsCol.cast("long").as("__s"),
        endUsCol.cast("long").as("__e"))
      .filter(col("__s").isNotNull && col("__e").isNotNull &&
        col("__e") >= col("__s"))
    // Column./ is double division; micros are positive, so the long cast
    // truncation IS the floor bucket index (the brownForsythe precedent)
    def bOf(c: Column): Column = (c / bUs).cast("long")
    // [a,b) occupancy: an end landing EXACTLY on a bucket boundary does
    // not touch that bucket (its last occupied instant is e-1), so the
    // touch range tops out at bOf(e-1) — greatest(.., s) keeps the
    // zero-length [a,a) row on its own bucket (it emits the day but
    // contributes no concurrency, so it gets no +1/-1 points either).
    val touched = iv.select(col("__s"), col("__e"),
      explode(sequence(bOf(col("__s")),
        bOf(greatest(col("__e") - 1, col("__s"))))).as("__b"))
    val carried = touched.groupBy("__b")
      .agg(sum(when(bOf(col("__s")) < col("__b"), 1L).otherwise(0L))
        .as("__car"))
    val open = iv.filter(col("__e") > col("__s"))
    val points = open.select(col("__s").as("__ts"), lit(1L).as("__d"))
      // a boundary-exact end belongs to the PREVIOUS bucket's close: the
      // interval never occupies bOf(e) and is not in its carry, so its
      // -1 there would deflate that bucket's running sum — drop it (the
      // open interval holds to its last bucket's end, where no later
      // point in that bucket can observe the decrement anyway)
      .union(open.filter(pmod(col("__e"), lit(bUs)) =!= 0L)
        .select(col("__e"), lit(-1L)))
      .select(bOf(col("__ts")).as("__b"), col("__ts"), col("__d"))
    val wB = Window.partitionBy(col("__b"))
      .orderBy(col("__ts").asc, col("__d").asc) // -1 before +1 at ties
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val peaks = points
      .withColumn("__run", sum(col("__d")).over(wB))
      .groupBy("__b").agg(greatest(max(col("__run")), lit(0L)).as("__pk"))
    carried.join(peaks, Seq("__b"), "left")
      .select((col("__b") / subBuckets).cast("long").as("day"),
        col("__b"), (col("__car") + coalesce(col("__pk"), lit(0L)))
          .as("__bpk"), col("__car"))
      .groupBy("day")
      .agg(
        // an interval spanning the day boundary necessarily touches the
        // day's first bucket, so its carry IS the day-grain carry-in
        coalesce(max(when(pmod(col("__b"), lit(subBuckets.toLong)) === 0,
          col("__car"))), lit(0L)).as("carried_in"),
        max(col("__bpk")).as("peak"))
  }

  // --------------------------------------------- transition entropy rate
  /** Empirical entropy rate of the event-type transition chain:
    * H = Σᵢ wᵢ·Hᵢ with Hᵢ = −Σⱼ pᵢⱼ·ln pᵢⱼ the per-state next-step
    * entropy and wᵢ the state's share of observed transitions — "how
    * predictable is the next event", the one-number summary of
    * [[transitionMatrix]] (perplexity = e^H is its branching factor).
    *
    * DETERMINISM: transition counts are exact integers off the per-user
    * ordered window ([[transitionMatrix]]'s shape); H rewrites to
    * Σᵢⱼ nᵢⱼ·(−ln pᵢⱼ)/N, so each −ln p term is ONE libm call rounded to
    * DECIMAL(28,12) before the integer-weighted sums (PSI discipline);
    * H is a ratio of decimal-exact sums, 6dp. Scale: the window
    * partitions per user; everything after is vocabulary-sized.
    * Returns one row: (n_states, n_transitions, entropy_rate, perplexity). */
  def transitionEntropy(df: DataFrame, userCol: String, idCol: String,
                        tsCol: String, typeCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy(col(userCol))
      .orderBy(micros(col(tsCol)).asc, col(idCol).asc)
    val counts = df.select(col(typeCol).as("__src"),
        lead(col(typeCol), 1).over(w).as("__dst"))
      .filter(col("__dst").isNotNull)
      .groupBy("__src", "__dst").agg(count(lit(1)).as("__n"))
    val rows = counts.groupBy("__src").agg(sum(col("__n")).as("__rt"))
    // width-budgeted multiply: (18,12) x (19,0) = precision 38 EXACTLY, so
    // BOTH engines keep scale 12 — a (28,12) x long product passes Spark's
    // 38-precision cap and silently drops to scale 6 where DuckDB keeps 12
    // (caught by the hand spec; |ln p| <= ~709 fits 6 integer digits)
    val terms = counts.join(broadcast(rows), Seq("__src"))
      .select(col("__src"),
        (-log(col("__n").cast("double") / col("__rt").cast("double")))
          .cast(DecimalType(18, 12)).as("__term"),
        col("__n"))
    terms.agg(count_distinct(col("__src")).as("n_states"),
        sum(col("__n")).as("n_transitions"),
        sum(col("__term") * col("__n").cast(DecimalType(19, 0))).as("__ht"))
      .select(col("n_states"), col("n_transitions"),
        round(col("__ht").cast("double") /
          col("n_transitions").cast("double"), 6).as("entropy_rate"),
        round(exp(col("__ht").cast("double") /
          col("n_transitions").cast("double")), 6).as("perplexity"))
  }

  // ------------------------------------------------- turning points test
  /** Turning-points test for randomness of the zero-filled daily count
    * series: a day t is a turning point when it is a STRICT local max or
    * min (both adjacent differences nonzero with opposite signs — the
    * integer-count adaptation of the classic continuous definition; flat
    * shoulders don't count). Under i.i.d., E[T] = 2(n−2)/3 and
    * Var[T] = (16n−29)/90 (Kendall & Stuart), z = (T−E)/√Var — the
    * local-oscillation companion to [[runsTestDaily]] (level clustering)
    * and [[mannKendallDaily]] (monotone drift).
    *
    * DETERMINISM AND SCALE: two integer lag windows over the
    * calendar-bounded spine (days, never events); T is an exact integer
    * count; z is one fixed IEEE shape, 6dp. Returns one row:
    * (n_days, turning_points, z). */
  def turningPointsDaily(df: DataFrame, tsCol: String): DataFrame = {
    val w = Window.orderBy(col("day"))
    // sign logic, never the diff product — two ~1e12-count diffs would
    // overflow a long product at extreme scale
    val d1 = col("n") - lag(col("n"), 1).over(w)
    val d2 = lead(col("n"), 1).over(w) - col("n")
    val flags = resampleDaily(df, tsCol)
      .select(((d1 > 0L && d2 < 0L) || (d1 < 0L && d2 > 0L)).as("__tp"))
    val agg = flags.agg(count(lit(1)).as("n_days"),
      sum(when(col("__tp"), 1L).otherwise(0L)).as("turning_points"))
    val nD = col("n_days").cast("double")
    val e = lit(2.0) * (nD - 2.0) / 3.0
    val v = (lit(16.0) * nD - 29.0) / 90.0
    agg.select(col("n_days"), col("turning_points"),
      round(when(col("n_days") >= 3L && v > 0.0,
        (col("turning_points").cast("double") - e) / sqrt(v)), 6).as("z"))
  }

  // --------------------------------------------------- Cox-Stuart trend
  /** Cox–Stuart sign test for trend (Cox & Stuart 1955) on the zero-filled
    * daily count series: pair day i with day i+m (m = n div 2, the middle
    * day dropped when n is odd), count S⁺ = #(later > earlier) and
    * S⁻ = #(later < earlier); under no trend S⁺ ~ Binomial(n', ½) over the
    * n' = S⁺+S⁻ untied pairs, z = (S⁺ − n'/2)/√(n'/4). The
    * assumption-free quick screen in front of [[theilSenTrend]]'s slope
    * estimate (this tests SIGN only; Theil–Sen sizes the drift).
    *
    * DETERMINISM AND SCALE: ONE self-equi-join of the calendar-bounded
    * spine on day+m (integer key, no window at all); exact integer
    * counts; z is one fixed IEEE shape, 6dp. Returns one row:
    * (n_days, n_pairs, s_plus, s_minus, z). */
  def coxStuartDaily(df: DataFrame, tsCol: String): DataFrame = {
    val daily = resampleDaily(df, tsCol)
    val meta = daily.agg(count(lit(1)).as("__nd"), min(col("day")).as("__d0"))
    val half = daily.crossJoin(broadcast(meta))
      .select(col("n"), col("__nd"),
        (col("__nd") / lit(2L)).cast("long").as("__m"),
        (col("day") - col("__d0")).as("__i"))
    val early = half.filter(col("__i") < col("__m"))
      .select(col("__i").as("__k"), col("n").as("__n1"), col("__nd"))
    val late = half.filter(col("__i") >= col("__nd") - col("__m"))
      .select((col("__i") - (col("__nd") - col("__m"))).as("__k"),
        col("n").as("__n2"))
    val agg = early.join(late, "__k")
      .agg(first(col("__nd")).as("n_days"), count(lit(1)).as("n_pairs"),
        sum(when(col("__n2") > col("__n1"), 1L).otherwise(0L)).as("s_plus"),
        sum(when(col("__n2") < col("__n1"), 1L).otherwise(0L))
          .as("s_minus"))
    val np = (col("s_plus") + col("s_minus")).cast("double")
    agg.select(col("n_days"), col("n_pairs"), col("s_plus"),
      col("s_minus"),
      round(when(col("s_plus") + col("s_minus") > 0L,
        (col("s_plus").cast("double") - np / 2.0) / sqrt(np / 4.0)), 6)
        .as("z"))
  }

  // ------------------------------------------------ Hurst exponent (R/S)
  /** Rescaled-range (R/S) Hurst exponent of the zero-filled daily count
    * series (Hurst 1951; Mandelbrot & Wallis 1969): for each block size s
    * in `sizes`, split the spine into consecutive complete blocks of s
    * days; per block, R = max−min of the cumulative deviations from the
    * block mean and S = population std; H is the OLS slope of
    * ln(mean R/S) on ln(s). H ≈ ½ for a memoryless series, > ½ for
    * long-range persistence — the long-memory companion to
    * [[autocorrDaily]]'s short lags.
    *
    * DETERMINISM AND SCALE: blocks key on day div s, so every window
    * partitions by block (keyed, never global); counts are integers, so
    * block sums/cumsums are exact and S² is the exact-moment closed form;
    * the per-row cumdev = cumsum − t·mean is one fixed IEEE shape on
    * identical inputs. Per-size means average ≥1-block floats (6dp);
    * the final slope fits ln-ln over |sizes| points. Returns one row per
    * size — (block_size, n_blocks, mean_rs 6dp) — plus the shared h 6dp.
    */
  def hurstDaily(df: DataFrame, tsCol: String,
                 sizes: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    require(sizes.size >= 2 && sizes.forall(_ >= 2),
      s"need >= 2 block sizes, each >= 2: $sizes")
    val daily = resampleDaily(df, tsCol)
      .crossJoin(broadcast(resampleDaily(df, tsCol)
        .agg(min(col("day")).as("__d0"))))
      .select((col("day") - col("__d0")).as("__t"), col("n"))
    import org.apache.spark.sql.types.DecimalType
    val dt = DecimalType(38, 0)
    val szDf = sizes.foldLeft[Option[DataFrame]](None) { (acc, s) =>
      val blk = daily.select(lit(s).cast("long").as("block_size"),
        (col("__t") / lit(s.toLong)).cast("long").as("__b"),
        (col("__t") % lit(s.toLong)).as("__i"), col("n"))
      Some(acc.fold(blk)(_.unionAll(blk)))
    }.get
    val wCum = Window.partitionBy(col("block_size"), col("__b"))
      .orderBy(col("__i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wBlk = Window.partitionBy(col("block_size"), col("__b"))
    val rows = szDf
      .withColumn("__cs", sum(col("n")).over(wCum))
      .withColumn("__sum", sum(col("n")).over(wBlk))
      .withColumn("__ss", sum(col("n").cast(dt) * col("n")).over(wBlk))
      .withColumn("__cnt", count(lit(1)).over(wBlk))
      .filter(col("__cnt") === col("block_size"))
    val sD = col("block_size").cast("double")
    val mean = col("__sum").cast("double") / sD
    val cumdev = col("__cs").cast("double") -
      (col("__i") + 1L).cast("double") * mean
    val s2 = (col("__ss").cast("double") -
      col("__sum").cast("double") * col("__sum").cast("double") / sD) / sD
    val perBlock = rows
      .withColumn("__cd", cumdev)
      .groupBy(col("block_size"), col("__b"), col("__cnt"))
      .agg(greatest(max(col("__cd")), lit(0.0)).as("__hi"),
        least(min(col("__cd")), lit(0.0)).as("__lo"),
        first(s2).as("__s2"))
      .filter(col("__s2") > 0.0)
      .select(col("block_size"),
        ((col("__hi") - col("__lo")) / sqrt(col("__s2"))).as("__rs"))
    val perSize = perBlock.groupBy("block_size")
      .agg(count(lit(1)).as("n_blocks"), avg(col("__rs")).as("__mrs"))
    val fit = perSize
      .select(log(col("block_size").cast("double")).as("__x"),
        log(col("__mrs")).as("__y"))
      .agg(count(lit(1)).as("__k"), sum(col("__x")).as("__sx"),
        sum(col("__y")).as("__sy"), sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__x") * col("__y")).as("__sxy"))
    val kD = col("__k").cast("double")
    val h = (kD * col("__sxy") - col("__sx") * col("__sy")) /
      (kD * col("__sxx") - col("__sx") * col("__sx"))
    perSize.crossJoin(broadcast(fit.select(
        round(when(col("__k") >= 2L, h), 6).as("h"))))
      .select(col("block_size"), col("n_blocks"),
        round(col("__mrs"), 6).as("mean_rs"), col("h"))
      .orderBy("block_size")
  }

  // ----------------------------------------------------- periodogram
  /** Discrete periodogram of the zero-filled daily count series at
    * frequencies k = 1..maxK: normalized power
    * p_k = (c_k² + s_k²) / (n·ȳ)² with c_k = Σ_t y_t·cos(2πkt/n),
    * s_k = Σ_t y_t·sin(2πkt/n) — the frequency-domain seasonality scan
    * (a weekly cycle spikes at period ≈ 7) complementing
    * [[seasonalityStrength]]'s fixed weekly decomposition.
    *
    * DETERMINISM AND SCALE: the spine (calendar-bounded) cross-joins a
    * broadcast k-relation, so the work is n·maxK rows with ONE groupBy —
    * no window. The trig arguments are identical integer-derived doubles
    * on every engine; the float sums are order-sensitive only below the
    * 6dp round of the (n·ȳ)²-NORMALIZED power (p_k ≤ 1, accumulated
    * error ~1e−12). Returns maxK rows: (k, period 2dp, norm_power 6dp).
    */
  def periodogramDaily(df: DataFrame, tsCol: String,
                       maxK: Int = 30): DataFrame = {
    require(maxK >= 1 && maxK <= 1000, s"maxK must be in [1,1000]: $maxK")
    val daily = resampleDaily(df, tsCol)
    val spine = daily
      .crossJoin(broadcast(daily.agg(min(col("day")).as("__d0"),
        count(lit(1)).as("__nd"), sum(col("n")).as("__tot"))))
      .select((col("day") - col("__d0")).as("__t"), col("n"),
        col("__nd"), col("__tot"))
    val ks = spine.sparkSession.range(1, maxK + 1)
      .select(col("id").as("k"))
    val arg = lit(2.0 * math.Pi) * col("k").cast("double") *
      col("__t").cast("double") / col("__nd").cast("double")
    val agg = spine.crossJoin(broadcast(ks))
      .groupBy("k")
      .agg(first(col("__nd")).as("__nd"), first(col("__tot")).as("__tot"),
        sum(col("n").cast("double") * cos(arg)).as("__c"),
        sum(col("n").cast("double") * sin(arg)).as("__s"))
    val den = col("__tot").cast("double") * col("__tot").cast("double")
    agg.select(col("k"),
      round(col("__nd").cast("double") / col("k").cast("double"), 2)
        .as("period"),
      round(when(col("__tot") > 0L,
        (col("__c") * col("__c") + col("__s") * col("__s")) / den), 6)
        .as("norm_power"))
      .orderBy("k")
  }
}
