package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational / dataflow operators with the semantics of the reference's
  * `process.py` / `fntools.py` (reubano/meza), re-expressed as pure
  * `DataFrame => DataFrame` functions so Catalyst sees one declarative plan.
  *
  * Design notes for scale (100 TB posture):
  *   - every op returns a lazy plan; no action, no collect, no driver loop;
  *   - narrow ops (cut/tfilter/grep/hash/fill-constant) stay inside
  *     whole-stage codegen and push filters/pruning into the scan;
  *   - wide ops (unique/group/pivot/sort) shuffle on their keys exactly once
  *     and rely on AQE for partition coalescing and skew handling;
  *   - ordered "stream position" semantics from the reference (ffill, everseen)
  *     require an explicit ordering column — on a cluster there is no implicit
  *     row order, so the caller names one (reference: generator order).
  */
object Ops {

  /** Starved-scan fanout for operators whose MAP-SIDE work dominates
    * (optimization guide §2.5, "input skew: one huge unsplittable file ...
    * repartition immediately after the read"): the driver's testdata ships
    * each table as one single-row-group parquet file, so Spark plans
    * exactly one scan task and the operator's per-row work (wide decimal
    * partial aggregation, hashing, shingling) serializes on one core. When
    * the input plans fewer partitions than half the session's cores, fan
    * rows out round-robin so that work parallelizes. Deliberately NOT a
    * blanket Tables seam: an exchange before a strongly-reducing aggregate
    * ships raw rows where map-side combine would have shipped group rows
    * (guide §2.3, "aggregate before you shuffle" — measured 0.9 → 4.3 s
    * on q01), so only operators whose measured map cost exceeds the
    * exchange opt in. Scale-adaptive: a production multi-file table plans
    * >= cores/2 splits and passes through untouched. */
  private[graft] def fanoutScan(df: DataFrame): DataFrame =
    if (starved(df)) df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else df

  /** [[fanoutScan]] keyed on the consumer's own grouping columns: same
    * gate (no-op at any real multi-split layout), but the exchange is a
    * hash repartition that the downstream groupBy/window on the same keys
    * absorbs (EnsureRequirements adds no second shuffle), and it avoids
    * the local sort every KEYLESS repartition pays (SPARK-23207 /
    * `sortBeforeRepartition`) — measured the difference between a win and
    * a loss on the finance bar rollup. */
  private[graft] def fanoutScanBy(df: DataFrame, keys: Column*): DataFrame =
    if (starved(df)) df.repartition(keys: _*) else df

  /** The fanout gate: at least 4 cores, and an input planning fewer
    * partitions than half of them. */
  private def starved(df: DataFrame): Boolean = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    cores >= 4 && df.rdd.getNumPartitions * 2 < cores
  }

  // ---------------------------------------------------------- lineage cut
  /** The one lineage cut: eagerly materializes `df` and returns a relation
    * whose plan is a scan of the stored rows, so every later consumer reads
    * that copy instead of replaying `df`'s upstream. Callers cut where a
    * relation has several plan consumers that would otherwise each
    * re-derive it, or where an iterate's lineage would grow per round.
    *
    * The mode is worked out, not configured: with
    * `sparkContext.setCheckpointDir` set the cut is a RELIABLE checkpoint
    * (files in the dir; survives executor loss — the mode for long jobs on
    * a cluster), otherwise a localCheckpoint (executor block storage:
    * faster, but a lost executor aborts the job — acceptable in local mode
    * and for short jobs; rerun).
    *
    * Eager, because the point of a cut is to run the upstream ONCE, here,
    * before the relation fans out to its consumers; the returned plan
    * then carries the materialized size that AQE and broadcast planning
    * read.
    *
    * Reclaiming: local blocks fall to the ContextCleaner as references
    * drop. Reliable files are deleted by the ContextCleaner only under
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (default
    * false), so an iterate names the generation each cut supersedes —
    * `superseded`, the cuts no plan still to run reads once `df` is
    * materialized — and they go to [[release]] right after the cut. A
    * non-iterative reliable cut needs that conf to be reclaimed before
    * the application ends. */
  private[graft] def materialize(df: DataFrame, superseded: DataFrame*): DataFrame = {
    val cut =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
      else df.localCheckpoint(true)
    superseded.foreach(release)
    cut
  }

  /** Deletes the reliable checkpoint directory behind a [[materialize]]
    * result (or a projection of one). Call it only once no plan still to
    * run reads the cut — an iterate's previous generation, after the next
    * generation materialized. A local cut, or a relation that is not a
    * cut, is left alone. Best-effort: a failed delete leaves the files. */
  private[graft] def release(df: DataFrame): Unit = {
    def cutOf(p: LogicalPlan): Option[LogicalRDD] = p match {
      case r: LogicalRDD => Some(r)
      case Project(_, child) => cutOf(child)
      case _ => None
    }
    cutOf(df.queryExecution.analyzed).flatMap(_.rdd.getCheckpointFile).foreach { f =>
      val path = new Path(f)
      try path.getFileSystem(df.sparkSession.sessionState.newHadoopConf()).delete(path, true)
      catch { case _: java.io.IOException => () }
    }
  }

  // ---------------------------------------------------------------- P1: cut
  /** Select or exclude columns; `prune` drops rows left all-null.
    * Reference: process.cut, meza/process.py:901-934 (dfilter fntools.py:589-614). */
  def cut(df: DataFrame, fields: Seq[String], exclude: Boolean = false,
          prune: Boolean = false): DataFrame = {
    val kept: Seq[String] =
      if (exclude) df.columns.filterNot(fields.contains).toSeq else fields
    val out = df.select(kept.map(col).toSeq: _*)
    if (prune) out.na.drop("all") else out
  }

  // ------------------------------------------------------------ P2: tfilter
  /** Filter on a predicate over one field (missing key => null into pred).
    * Reference: process.tfilter, meza/process.py:813-848. */
  def tfilter(df: DataFrame, field: String, pred: Column => Column,
              inverse: Boolean = false): DataFrame = {
    val p = pred(col(field))
    df.filter(if (inverse) !coalesce(p, lit(false)) else p)
  }

  // --------------------------------------------------------------- P3: grep
  /** One grep rule: regex OR substring over some fields (callable rules from
    * the reference map to arbitrary `Column => Column` predicates). */
  sealed trait GrepRule { def fields: Seq[String]; def toPred(f: String): Column }
  final case class Regex(pattern: String, fields: Seq[String]) extends GrepRule {
    def toPred(f: String): Column = col(f).cast(StringType).rlike(pattern)
  }
  final case class Substr(s: String, fields: Seq[String]) extends GrepRule {
    def toPred(f: String): Column = col(f).cast(StringType).contains(s)
  }
  final case class PredRule(p: Column => Column, fields: Seq[String]) extends GrepRule {
    def toPred(f: String): Column = p(col(f))
  }

  /** Multi-rule pattern filter; `inverse` negates. Field combination is
    * pinned by the reference's own test_grep (tests/test_process.py:
    * 222-246): with `anyMatch` a rule passes when ANY of its fields match;
    * without it, ALL of the rule's fields must match. Across rules the
    * reference's inner-loop `break` makes only the LAST rule decide
    * (process.py:1020-1031 — an upstream scoping quirk its tests never
    * exercise: all are single-rule); we implement the docstring's stated
    * multi-rule semantics instead: all rules (AND) when anyMatch=false,
    * any rule (OR) when true. */
  def grep(df: DataFrame, rules: Seq[GrepRule], anyMatch: Boolean = false,
           inverse: Boolean = false): DataFrame = {
    def ruleCol(r: GrepRule): Column = {
      val fieldPreds = r.fields.map(f => coalesce(r.toPred(f), lit(false)))
      if (anyMatch) fieldPreds.reduce(_ || _) else fieldPreds.reduce(_ && _)
    }
    val combined =
      if (anyMatch) rules.map(ruleCol).reduce(_ || _)
      else rules.map(ruleCol).reduce(_ && _)
    df.filter(if (inverse) !combined else combined)
  }

  // ------------------------------------------------------------- P4: unique
  /** Dedupe rows by a subset of fields. The reference keeps a bounded 4096-row
    * LRU window (meza/process.py:851-898) purely as a memory bound for a
    * single-threaded generator; on Spark the exact shuffle-backed dedupe is
    * both correct and scalable (hash-partition on the key, spill via Tungsten),
    * so we intentionally implement exact semantics. */
  def unique(df: DataFrame, fields: Seq[String] = Nil): DataFrame =
    if (fields.isEmpty) df.dropDuplicates() else df.dropDuplicates(fields)

  // --------------------------------------------------------------- P5: hash
  /** Replace chosen fields by their hex digest.
    * Reference: process.hash, meza/process.py:1038-1070. */
  def hashFields(df: DataFrame, fields: Seq[String], algo: String = "md5"): DataFrame = {
    def h(c: Column): Column = algo match {
      case "md5"    => md5(c.cast(StringType))
      case "sha1"   => sha1(c.cast(StringType))
      case "sha256" => sha2(c.cast(StringType), 256)
      case "sha384" => sha2(c.cast(StringType), 384)
      case "sha512" => sha2(c.cast(StringType), 512)
      case other    => throw new IllegalArgumentException(s"unsupported algo $other")
    }
    fields.foldLeft(df)((d, f) => d.withColumn(f, h(col(f))))
  }

  // ---------------------------------------------------------- P6: fillempty
  /** Null-fill with a constant for chosen fields.
    * Reference: process.fillempty(value=...), meza/process.py:361-431. */
  def fillConstant(df: DataFrame, value: Any, fields: Seq[String]): DataFrame =
    fields.foldLeft(df)((d, f) =>
      d.withColumn(f, coalesce(col(f), lit(value).cast(d.schema(f).dataType))))

  /** Null-fill from another column (reference `fill_with=`). */
  def fillFromColumn(df: DataFrame, field: String, from: String): DataFrame =
    df.withColumn(field, coalesce(col(field), col(from)))

  /** Forward-fill (`method='front'`) / backward-fill (`method='back'`) over an
    * explicit ordering, optionally within partitions, optionally only `limit`
    * consecutive nulls. The reference's stream order becomes `orderBy(ord)`;
    * backward fill materializes the whole stream in the reference
    * (process.py:378-381) — here it is just the mirrored window frame.
    * Reference: meza/process.py:361-431, fntools.fill fntools.py:906-994. */
  def fillDirectional(df: DataFrame, fields: Seq[String], ord: Seq[String],
                      partitionBy: Seq[String] = Nil, back: Boolean = false,
                      limit: Option[Int] = None): DataFrame = {
    val ordCols = if (back) ord.map(col(_).desc) else ord.map(col(_).asc)
    val base = Window.partitionBy(partitionBy.map(col): _*).orderBy(ordCols: _*)
    val frame = limit match {
      case Some(k) => base.rowsBetween(-k.toLong, 0)
      case None    => base.rowsBetween(Window.unboundedPreceding, 0)
    }
    fields.foldLeft(df)((d, f) =>
      d.withColumn(f, last(col(f), ignoreNulls = true).over(frame)))
  }

  // ------------------------------------------------------- P7/P8: prepend / peek
  /** Push rows onto the front of a stream. DataFrames are unordered relations,
    * so "front" only matters under a later orderBy; this is the unionByName
    * equivalent. Reference: process.prepend, meza/process.py:603-631. */
  def prepend(df: DataFrame, rows: DataFrame): DataFrame =
    rows.unionByName(df, allowMissingColumns = true)

  /** First n rows without consuming the stream — DataFrames re-evaluate, so
    * nothing is ever consumed. Reference: process.peek, meza/process.py:634-667. */
  def peek(df: DataFrame, n: Int = 5): Array[Row] = df.head(n)

  // --------------------------------------------------------------- O1: sort
  /** Sort by keys; the reference materializes and sorts in RAM
    * (process.py:36) — here it is a range-partitioned distributed sort. */
  def sortBy(df: DataFrame, keys: Seq[String], desc: Boolean = false): DataFrame =
    df.orderBy(keys.map(k => if (desc) col(k).desc else col(k).asc): _*)

  /** Rank-at-scale facade over
    * [[graft.pipeline.Stats.distributedRank]]: appends `rnOut` = exact
    * 1-based row_number per `partCols` over (`scoreCol` asc-nulls-first |
    * desc-nulls-last, `tieCols` asc) and optionally `cumOut` = the
    * inclusive running BIGINT sum of `weightCol` in that order — the
    * same numbers as a single-partition window, computed with pivot-cell
    * classification + cell-PARTITIONED windows (O(|parts|·grid) driver
    * seams, never a global sort). Contract (see the engine scaladoc):
    * bounded `partCols` vocabulary, numeric `scoreCol`, deterministic
    * input lineage, and (scoreCol, tieCols) total within partition where
    * rank ties matter. */
  def rankBy(df: DataFrame, scoreCol: String, desc: Boolean = false,
             tieCols: Seq[String] = Nil, partCols: Seq[String] = Nil,
             weightCol: Option[String] = None, rnOut: String = "rank",
             cumOut: Option[String] = None): DataFrame =
    graft.pipeline.Stats.distributedRank(df, partCols, scoreCol, desc,
      tieCols, weightCol, rnOut, cumOut)

  // ------------------------------------------------------------- O2: slicing
  /** head/limit — reference readers' first_row / it.islice idiom
    * (meza/io.py:456-479). */
  def headRows(df: DataFrame, n: Int): DataFrame = df.limit(n)

  /** All but the last k rows under an explicit ordering (reference negative
    * `last_row`, meza/io.py:469-479 deque idiom). Needs a total order to be
    * well-defined on a cluster: `ord` must uniquely order rows (boundary
    * ties are all dropped together, and null ordering keys are dropped).
    *
    * Scale shape: the cutoff (k-th largest ordering tuple) comes from a
    * top-k (`TakeOrderedAndProject` — per-partition top-k, never a global
    * single-partition window), broadcast back as a one-row relation; the
    * keep pass is then an embarrassingly parallel range filter. */
  def dropTail(df: DataFrame, k: Int, ord: Seq[String]): DataFrame = {
    require(ord.nonEmpty, "dropTail needs at least one ordering column")
    if (k <= 0) return df
    val key = struct(ord.map(col): _*)
    val cut = df.select(key.as("__k")).orderBy(col("__k").desc).limit(k)
      .agg(min(col("__k")).as("__cut"))
    df.crossJoin(broadcast(cut))
      .filter(key < col("__cut"))
      .drop("__cut")
  }

  // ---------------------------------------------------------------- O4: everseen
  /** Running extrema: `pad=true` emits the cumulative min/max on every row
    * (cummin/cummax); `pad=false` keeps only rows that set a new extremum.
    * Reference: fntools.op_everseen, meza/fntools.py:1190-1218. */
  def everseen(df: DataFrame, field: String, ord: Seq[String],
               partitionBy: Seq[String] = Nil, op: String = "min",
               pad: Boolean = true): DataFrame = {
    val w = Window.partitionBy(partitionBy.map(col): _*)
      .orderBy(ord.map(col(_).asc): _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val runCol = op match {
      case "min" => min(col(field)).over(w)
      case "max" => max(col(field)).over(w)
      case other => throw new IllegalArgumentException(s"op must be min|max, got $other")
    }
    val out = df.withColumn(s"${field}_running", runCol)
    if (pad) out
    else out.filter(col(field) === col(s"${field}_running")).drop(s"${field}_running")
  }

  // ------------------------------------------------------------------ S13: concat
  /** Union-all concat of many record streams with ragged schemas — missing
    * columns become nulls. Reference: io.join (meza/io.py:1695-1722) and the
    * it.chain idiom (examples/usage.py:348-357). */
  def concat(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  // ---------------------------------------------------------------- J1: join
  /** The reference's only join: cartesian product merging each dict pair,
    * right side winning on column-name clashes (meza/process.py:785-810
    * `map(merge, it.product(*records))`). Shared column names resolve
    * right-biased; disjoint schemas give the plain cross product. */
  def productJoin(left: DataFrame, right: DataFrame): DataFrame = {
    val clash = left.columns.toSet.intersect(right.columns.toSet)
    val l = clash.foldLeft(left)((d, c) => d.withColumnRenamed(c, s"__l_$c"))
    val joined = l.crossJoin(right)
    clash.foldLeft(joined)((d, c) => d.drop(s"__l_$c"))
  }

  /** Capability uplift over the reference: real equi joins. Catalyst picks
    * broadcast vs sort-merge; callers pass `broadcastRight=true` for small
    * dimension tables to force the cheap plan at any scale. */
  def equiJoin(left: DataFrame, right: DataFrame, on: Seq[String],
               how: String = "inner", broadcastRight: Boolean = false): DataFrame =
    left.join(if (broadcastRight) broadcast(right) else right, on, how)

  // ------------------------------------------------------------- as-of join
  /** As-of join (capability uplift; neither meza nor stock Spark has one),
    * with pandas-merge_asof-style directions:
    *   - "backward" (default): the latest right row with rightTime <=
    *     leftTime within the same key;
    *   - "forward": the earliest right row with rightTime >= leftTime;
    *   - "nearest": whichever of the two is closer in time; an exact
    *     distance tie resolves backward.
    * Composed from built-ins per the preference order — tag the streams,
    * union, and take `last`/`first(..., ignoreNulls)` over a
    * (key)-partitioned window ordered by (time, side): one shuffle on the
    * key, no custom physical operator needed ("nearest" computes both
    * frames over the same exchange — two sorts, one shuffle). The side
    * ordering makes a right row at exactly leftTime eligible in every
    * direction. Unmatched left rows drop (inner semantics). "nearest"
    * distances compare exactly: timestamps as unix_micros longs (never
    * double seconds — the /1e6 rounding could flip an exact sub-second
    * tie), integral times as longs; fractional numeric times fall back to
    * double. Left and right time columns must be the same kind. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               leftTime: String, rightTime: String,
               rightPayload: Seq[String],
               direction: String = "backward"): DataFrame = {
    require(Set("backward", "forward", "nearest")(direction),
      s"asofJoin direction must be backward/forward/nearest, got '$direction'")
    val payload = struct(rightPayload.map(col): _*)
    val rv = struct(col(rightTime).as("__rt"), payload.as("__p"))
    val l = left.withColumn("__t", col(leftTime)).withColumn("__side", lit(1))
      .withColumn("__rv", lit(null).cast(right.select(rv).schema.head.dataType))
    val r = right.select(
      col(key), col(rightTime).as("__t"), lit(0).as("__side"), rv.as("__rv"))
    val unioned = l.select((l.columns.filterNot(Set("__t", "__side", "__rv").contains)
        .map(col) ++ Seq(col("__t"), col("__side"), col("__rv"))).toSeq: _*)
      .unionByName(r, allowMissingColumns = true)
    val wB = Window.partitionBy(col(key))
      .orderBy(col("__t").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wF = Window.partitionBy(col(key))
      .orderBy(col("__t").asc, col("__side").desc)
      .rowsBetween(0, Window.unboundedFollowing)
    val b = last(col("__rv"), ignoreNulls = true).over(wB)
    val f = first(col("__rv"), ignoreNulls = true).over(wF)
    val m = direction match {
      case "backward" => b
      case "forward"  => f
      case "nearest" =>
        // identical window expressions dedup in WindowExec — b and f each
        // compute once despite appearing in both the pick and the value
        val toNum: Column => Column =
          left.select(col(leftTime)).schema.head.dataType match {
            case TimestampType => c => unix_micros(c)
            case LongType | IntegerType | ShortType | ByteType => c => c.cast("long")
            case _ => c => c.cast("double")
          }
        val lt = toNum(col("__t"))
        val pickB = f.isNull || (b.isNotNull &&
          (lt - toNum(b.getField("__rt"))) <= (toNum(f.getField("__rt")) - lt))
        when(pickB, b).otherwise(f)
    }
    unioned.withColumn("__m", m)
      .filter(col("__side") === 1 && col("__m").isNotNull)
      .withColumn("__match", col("__m").getField("__p"))
      .drop("__t", "__side", "__rv", "__m")
  }

  // ------------------------------------------------------------ range join
  /** Range (interval-containment) join: every left row matched to every
    * interval row whose [startCol, endCol] contains its numeric key
    * (capability uplift — meza has no joins beyond the product, and stock
    * Spark plans a pure-inequality join as BroadcastNestedLoopJoin: an
    * O(rows × intervals) compare loop that dies at scale).
    *
    * Scale shape: each interval EXPLODES into the `bucketWidth`-sized
    * buckets it covers, each left row computes its one bucket, and the
    * match becomes a bucket-keyed EQUI join (hash-partitioned or broadcast
    * — Catalyst's choice) followed by the residual containment filter.
    * Candidates per row = the intervals overlapping its bucket, not all
    * intervals. Pick bucketWidth ≈ the typical interval length so an
    * interval explodes into O(1) buckets; a row matches each containing
    * interval exactly once (its single bucket meets each interval's copy
    * list at most once — no dedup pass needed).
    *
    * Keys must be numeric (timestamps join as epoch seconds/micros).
    * Column names must be disjoint between the two inputs, as with the
    * other join helpers. */
  def rangeJoin(left: DataFrame, keyCol: String, intervals: DataFrame,
                startCol: String, endCol: String, bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val b = intervals.withColumn("__b",
      explode(sequence(floor(col(startCol) / bucketWidth).cast("long"),
        floor(col(endCol) / bucketWidth).cast("long"))))
    val l = left.withColumn("__b", floor(col(keyCol) / bucketWidth).cast("long"))
    l.join(b, Seq("__b"))
      .filter(col(keyCol) >= col(startCol) && col(keyCol) <= col(endCol))
      .drop("__b")
  }

  // ------------------------------------------------- FD / key-shape audit
  /** Functional-dependency audit: does `lhs → rhs` hold? One aggregate at
    * lhs grain counting distinct rhs values, one bounded roll-up — the
    * data-quality check behind join-key and primary-key assumptions
    * (`n_violating = 0` ⟺ the dependency holds; `max_rhs_variants` sizes
    * the worst offender). Exact counts, one IEEE division, 6dp. Returns one
    * row: (n_groups, n_violating, max_rhs_variants, violation_rate). */
  def fdViolations(df: DataFrame, lhs: Seq[String], rhs: String): DataFrame = {
    require(lhs.nonEmpty)
    df.filter(lhs.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(lhs.map(col): _*)
      .agg(countDistinct(col(rhs)).as("__d"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("__d") > 1, 1L).otherwise(0L)).as("n_violating"),
        max(col("__d")).as("max_rhs_variants"))
      .select(col("n_groups"), col("n_violating"), col("max_rhs_variants"),
        round(col("n_violating").cast("double") /
          col("n_groups").cast("double"), 6).as("violation_rate"))
  }

  // -------------------------------------------------------------- upsert
  /** Keep-latest merge (corpus refresh / SCD-1): union `base` with
    * `updates` and keep, per `key`, the row with the highest `versionCol`
    * — ties break to `updates` (the incoming batch wins a same-version
    * clash, matching MERGE semantics). One key-partitioned window over
    * ≤ base+update copies of each key: shuffles on the merge key only,
    * no join, scales with the hottest KEY's row count (bounded by the
    * number of batches carrying it, not corpus size). Schemas may differ;
    * missing columns null-fill (`unionByName(allowMissingColumns)`).
    *
    * Within-batch tie rule: if ONE input carries the same key at the same
    * version more than once, the window's final ordering key — a 64-bit
    * hash of the whole row rendered as JSON with nulls kept — picks the
    * survivor deterministically (byte-identical duplicate rows tie
    * harmlessly: every candidate is the same row). The JSON render is
    * load-bearing: hashing the columns directly would let xxhash64 SKIP
    * null inputs (seed passthrough), making (NULL, "x") and ("x", NULL)
    * collide and the survivor arrival-order-dependent again. Without any
    * tiebreak, row_number breaks such ties in partition-arrival order and
    * the survivor could change run to run. */
  def upsert(base: DataFrame, updates: DataFrame, key: String,
             versionCol: String): DataFrame = {
    val tagged = base.withColumn("__src", lit(0))
      .unionByName(updates.withColumn("__src", lit(1)), allowMissingColumns = true)
    val rowJson = to_json(
      struct(tagged.columns.filterNot(_ == "__src").map(c => col(c)).toSeq: _*),
      java.util.Map.of("ignoreNullFields", "false"))
    val rowHash = xxhash64(rowJson)
    val w = Window.partitionBy(col(key))
      .orderBy(col(versionCol).desc, col("__src").desc, rowHash.asc)
    tagged.withColumn("__rnk", row_number().over(w))
      .filter(col("__rnk") === 1)
      .drop("__rnk", "__src")
  }

  /** Interval-overlap join: every pair of rows from `a` and `b` whose
    * [lo, hi] intervals overlap (`aLo <= bHi && bLo <= aHi`). Same
    * bucketization as [[rangeJoin]] — BOTH sides explode into covering
    * buckets and meet in a bucket-keyed equi join — plus the
    * canonical-bucket rule that makes the output exact: an overlapping
    * pair co-occurs in every bucket the overlap spans, so it is emitted
    * only in the bucket where the overlap STARTS (`max(aLo, bLo)`, which
    * lies inside both intervals whenever they overlap). One row per
    * overlapping pair, no dedup pass, no nested-loop scan. */
  def intervalJoin(a: DataFrame, aLo: String, aHi: String,
                   b: DataFrame, bLo: String, bHi: String,
                   bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    def bucketed(df: DataFrame, lo: String, hi: String) =
      df.withColumn("__b", explode(sequence(
        floor(col(lo) / bucketWidth).cast("long"),
        floor(col(hi) / bucketWidth).cast("long"))))
    bucketed(a, aLo, aHi).join(bucketed(b, bLo, bHi), Seq("__b"))
      .filter(col(aLo) <= col(bHi) && col(bLo) <= col(aHi))
      .filter(col("__b") ===
        floor(greatest(col(aLo), col(bLo)) / bucketWidth).cast("long"))
      .drop("__b")
  }

  // ----------------------------------------------------------- A1: aggregate
  /** Whole-stream aggregate of one column; the reference returns the first
    * record with that column replaced by the aggregate
    * (meza/process.py:513-553) — we carry the other columns via first(). */
  def aggregateCol(df: DataFrame, key: String, op: String): DataFrame = {
    val agg = opCol(op, col(key)).as(key)
    val others = df.columns.filterNot(_ == key)
      .map(c => first(col(c)).as(c))
    df.agg(agg, others.toSeq: _*)
      .select(df.columns.map(col).toSeq: _*)
  }

  private def opCol(op: String, c: Column): Column = op match {
    case "sum"   => sum(c)
    // exact decimal-summed double: order-independent under shuffle
    case "dsum"  => sum(c.cast(DecimalType(24, 6))).cast(DoubleType)
    case "min"   => min(c)
    case "max"   => max(c)
    case "mean"  => avg(c)
    case "count" => count(c)
    case "first" => first(c)
    case other   => throw new IllegalArgumentException(s"unknown op $other")
  }

  // ------------------------------------------------------- A2: merge-as-agg
  /** Column-wise combine across all records — e.g. per-column sums
    * (reference process.merge with pred/op, meza/process.py:434-510,
    * kernel fntools.combine fntools.py:997-1055). */
  def mergeAgg(df: DataFrame, fields: Seq[String], op: String = "sum"): DataFrame =
    df.agg(opCol(op, col(fields.head)).as(fields.head),
      fields.tail.map(f => opCol(op, col(f)).as(f)): _*)

  // -------------------------------------------------------------- A3: group
  /** Group by key(s) and aggregate named columns. The reference sorts then
    * itertools.groupby's (meza/process.py:556-600); Spark hash-aggregates with
    * map-side partials — same semantics, no global sort. `aggs` maps output
    * name -> (op, input column). */
  def groupAgg(df: DataFrame, keys: Seq[String],
               aggs: Seq[(String, (String, String))]): DataFrame = {
    val cols = aggs.map { case (out, (op, in)) => opCol(op, col(in)).as(out) }
    df.groupBy(keys.map(col): _*).agg(cols.head, cols.tail: _*)
  }

  /** Generic-aggregator escape hatch: collect each group to an array of
    * structs (the reference's default `aggregator=list`). Bounded groups only
    * — at 100 TB an unbounded collect_list per key is a skew hazard, so this
    * mirrors the reference's explicit materialization points. */
  def groupCollect(df: DataFrame, keys: Seq[String], sortWithin: Seq[String] = Nil): DataFrame = {
    val payload = struct(df.columns.map(col).toSeq: _*)
    val collected = df.groupBy(keys.map(col): _*)
      .agg(collect_list(payload).as("rows"))
    if (sortWithin.nonEmpty) collected.withColumn("rows", array_sort(col("rows")))
    else collected
  }

  // -------------------------------------------------------------- A4: pivot
  /** Spreadsheet pivot: group by `rows`, one output column per distinct value
    * of `column`, aggregating `data` with `op`. Passing `values` explicitly
    * avoids Spark's extra distinct-scan job AND makes the output schema
    * deterministic — both matter at scale. Reference: process.pivot,
    * meza/process.py:670-745. */
  def pivot(df: DataFrame, rows: Seq[String], column: String, data: String,
            op: String = "sum", values: Seq[Any] = Nil,
            fillValue: Option[Any] = None): DataFrame = {
    val grouped = df.groupBy(rows.map(col): _*)
    val piv = if (values.nonEmpty) grouped.pivot(column, values) else grouped.pivot(column)
    val out = piv.agg(opCol(op, col(data)))
    val pivoted = out.columns.filterNot(rows.contains)
    fillValue match {
      case Some(v: Long)   => out.na.fill(v, pivoted)
      case Some(v: Int)    => out.na.fill(v.toLong, pivoted)
      case Some(v: Double) => out.na.fill(v, pivoted)
      case Some(v: String) => out.na.fill(v, pivoted)
      case Some(other)     => out.na.fill(other.toString, pivoted)
      case None            => out
    }
  }

  // ---------------------------------------------------------- A5: normalize
  /** Inverse of pivot (melt): chosen `fields` become (`column`, `data`)
    * key/value rows. Reference: process.normalize, meza/process.py:748-782. */
  def normalize(df: DataFrame, fields: Seq[String], column: String,
                data: String, keep: Seq[String],
                castTo: Option[DataType] = None): DataFrame = {
    val dataType = castTo.getOrElse(df.schema(fields.head).dataType)
    val exploded = explode(array(fields.map(f =>
      struct(lit(f).as("k"), col(f).cast(dataType).as("v"))): _*)).as("kv")
    df.select(keep.map(col) :+ exploded: _*)
      .select(keep.map(col) :+ col("kv.k").as(column) :+ col("kv.v").as(data): _*)
  }

  // --------------------------------------------------------- P9: json_recode
  /** Normalize values to JSON-representable forms: dates/timestamps → ISO
    * strings, decimals → doubles (reference process.json_recode,
    * meza/process.py:118-158; CustomEncoder fntools.py:231-246). */
  def jsonRecode(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case DateType => date_format(col(f.name), "yyyy-MM-dd").as(f.name)
        case TimestampType => date_format(col(f.name), "yyyy-MM-dd'T'HH:mm:ss").as(f.name)
        case _: DecimalType => col(f.name).cast(DoubleType).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toSeq: _*)
  }

  // ------------------------------------------------------------ P10: flatten
  /** Flatten nested structs into `parent_child` columns (reference
    * fntools.flatten, meza/fntools.py:1058-1105 — meza has no nested types,
    * so flattening IS its nested-data story; on Spark we flatten real
    * StructTypes recursively). */
  def flatten(df: DataFrame, sep: String = "_"): DataFrame = {
    def expand(prefix: String, dt: StructType): Seq[Column] =
      dt.fields.toSeq.flatMap { f =>
        val path = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
        val name = path.replace(".", sep)
        f.dataType match {
          case s: StructType => expand(path, s)
          case _ => Seq(col(path).as(name))
        }
      }
    df.select(expand("", df.schema): _*)
  }

  // ---------------------------------------------- trailing-window features
  /** Trailing event-time window features: for every row, the count and
    * decimal-exact sum of `valueCol` over rows of the same partition whose
    * timestamp lies in (t - trailingSeconds, t] — second granularity,
    * current row included, ties (same second) share one frame. The
    * feature-engineering staple (per-user activity in the last hour).
    *
    * NOT the obvious sliding RANGE frame: Spark re-aggregates a frame from
    * scratch every time its LOWER bound moves (SlidingWindowFunctionFrame
    * has no retract), so a hot entity pays O(rows x frame) — measured 77 s
    * for one 1M-row user with ~36k-row frames. Instead, trailing =
    * cumulative(t) - cumulative(t - T): two GROWING frames (lower bound
    * pinned at unboundedPreceding), which Spark evaluates incrementally in
    * O(rows) — same measured case drops to seconds. Both windows share one
    * exchange and one sort (identical partitioning/ordering); RANGE frames
    * give every tie row the full-second cumulative, so the subtraction is
    * exactly the (t-T, t] frame, and decimal cumulative minus decimal
    * cumulative stays exact (no double drift). The trade the cumulative
    * form makes: the running sum spans the entity's WHOLE history, not one
    * frame, so its decimal(38,6) accumulator caps the per-entity lifetime
    * |sum| at ~1e32 — beyond that Spark yields NULL (non-ANSI), a
    * documented envelope rather than a silent wrap. A hot key still
    * concentrates its sort in one partition — pre-split such entities
    * upstream if one entity alone exceeds an executor.
    * Appends epoch_s, n_trail, sum_trail. */
  def trailingWindowAgg(df: DataFrame, partCols: Seq[String], tsCol: String,
                        valueCol: String, trailingSeconds: Long): DataFrame = {
    require(trailingSeconds >= 1, "trailingSeconds must be >= 1")
    val parts = partCols.map(col)
    def grow(hi: Long) = Window.partitionBy(parts: _*)
      .orderBy(col("epoch_s")).rangeBetween(Window.unboundedPreceding, hi)
    val wCum = grow(Window.currentRow)
    val wPrev = grow(-trailingSeconds)
    // input cast at (28,6) so the Sum accumulator widens to the full
    // decimal(38,6) — the widest exact envelope (~1e32 lifetime sum)
    val dec = DecimalType(28, 6)
    val zero = lit(0).cast(dec)
    df.withColumn("epoch_s", unix_timestamp(col(tsCol)))
      .withColumn("__cn", count(lit(1)).over(wCum))
      .withColumn("__cv", sum(col(valueCol).cast(dec)).over(wCum))
      .withColumn("__pn", count(lit(1)).over(wPrev))
      .withColumn("__pv", sum(col(valueCol).cast(dec)).over(wPrev))
      .withColumn("n_trail", col("__cn") - col("__pn"))
      .withColumn("sum_trail",
        (col("__cv") - coalesce(col("__pv"), zero)).cast("double"))
      .drop("__cn", "__cv", "__pn", "__pv")
  }

  // ------------------------------------------------------ fuzzy string join
  /** Fuzzy (edit-distance) string join: every (left value, right value)
    * pair with levenshtein <= maxDist — entity resolution over misspelled
    * names/titles/urls. Exact output, never a cartesian product.
    *
    * Candidates come from a length-split hybrid of two published schemes,
    * both exact-complete (every true match is a candidate; an explicit
    * levenshtein verifies each candidate):
    *
    * **Short strings (length <= 32, maxDist <= 2): deletion neighborhood**
    * (FastSS, Bocek et al. 2007). If ed(a,b) <= k, an alignment with s
    * substitutions, i insertions, d deletions (s+i+d <= k) leaves the
    * matched characters equal and in order — so deleting the d+s touched
    * chars from a and the i+s touched chars from b (each <= k deletions)
    * yields the SAME string. Both sides explode their <= k-deletion
    * variants (~ 1 + n + n(n-1)/2, <= 529 rows at n=32, k=2) and match on
    * ONE equi join whose key is a near-whole string. That key stays
    * selective even when the corpus shares long literal prefixes
    * (Customer#0000..., https://www...) — the regime where positional
    * segment blocking degenerates toward the cross product, because every
    * string carries the identical segment at the identical position.
    *
    * **Long strings (length > 32) or maxDist >= 3: segment pigeonhole**
    * (PassJoin-style). The deletion neighborhood is O(n^k) per row, so
    * past ~32 chars it explodes; contiguous segments do the opposite — a
    * left string's k+1 segments (each ~n/(k+1) chars) cannot all be
    * touched by <= k edits, so a true match contains one segment verbatim
    * within a +-k shift. Left emits k+1 (segIdx, leftLen, segment) keys;
    * right emits candidate substrings (a bounded (2k+1)(k+1)(2k+1) ~ 75-row
    * explode at k=2); one equi join matches them. Long segments are
    * selective precisely where deletion variants are not.
    *
    * Both regimes are one explode + one equi join + exact verification —
    * no global statistics pass, no cartesian. The split is on LEFT length;
    * the right feeds each regime filtered to the lengths that could match
    * (+-k), so every pair is covered exactly once up to the final
    * distinct. Returns distinct (lval, rval, dist); join back on the
    * values to recover payloads. */
  def fuzzyJoin(left: DataFrame, right: DataFrame,
                leftCol: String, rightCol: String, maxDist: Int = 2): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val k = maxDist
    val l = left.select(col(leftCol).cast("string").as("lval"))
      .filter(col("lval").isNotNull && length(col("lval")) > 0).distinct()
    val r = right.select(col(rightCol).cast("string").as("rval"))
      .filter(col("rval").isNotNull && length(col("rval")) > 0).distinct()

    val candidates =
      if (k <= 2) {
        val short = deletionCandidates(
          l.filter(length(col("lval")) <= FuzzyShortMax),
          r.filter(length(col("rval")) <= FuzzyShortMax + k), k)
        val long = segmentCandidates(
          l.filter(length(col("lval")) > FuzzyShortMax),
          r.filter(length(col("rval")) > FuzzyShortMax - k), k)
        short.union(long)
      } else {
        // k >= 3: segment blocking throughout; strings of length <= k have
        // degenerate segments and pair against the tiny <= 2k length band
        val seg = segmentCandidates(l.filter(length(col("lval")) > k), r, k)
        val shortPairs = l.filter(length(col("lval")) <= k)
          .crossJoin(r.filter(length(col("rval")) <= 2 * k))
          .select(col("lval"), col("rval"))
        seg.union(shortPairs)
      }

    candidates.distinct()
      .filter(abs(length(col("lval")) - length(col("rval"))) <= k)
      .withColumn("dist", levenshtein(col("lval"), col("rval")))
      .filter(col("dist") <= k)
  }

  /** Length bound for the deletion-neighborhood regime: n=32, k=2 caps the
    * per-row variant array at 529 short strings; beyond it the O(n^2)
    * neighborhood costs more than segment blocking saves. */
  private val FuzzyShortMax = 32

  /** All distinct <= k-deletion variants of each value (native kernel,
    * functions.FuzzyExprs), matched on one equi join over the variant's
    * xxhash64 — an 8-byte shuffle key instead of a near-whole string; a
    * hash collision only adds a candidate the levenshtein verify drops
    * (k <= 2). */
  private def deletionCandidates(l: DataFrame, r: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 2, s"deletion neighborhood supports k<=2, got $k")
    import graft.functions.FuzzyExprs.deletionVariants
    def side(df: DataFrame, v: String): DataFrame =
      df.select(col(v), explode(deletionVariants(col(v), k)).as("__vs"))
        .select(col(v), xxhash64(col("__vs")).as("__v"))
    side(l, "lval").join(side(r, "rval"), Seq("__v"))
      .select(col("lval"), col("rval"))
  }

  /** PassJoin-style segment pigeonhole candidates (any k). */
  private def segmentCandidates(l: DataFrame, r: DataFrame, k: Int): DataFrame = {
    // segment i of a length-n string: [i*n div (k+1), (i+1)*n div (k+1))
    val lSegs = l.filter(length(col("lval")) > k)
      .select(col("lval"), explode(expr(
        s"""transform(sequence(0, $k), i -> struct(
           |  i AS si, length(lval) AS ln,
           |  substr(lval, (i * length(lval)) div ${k + 1} + 1,
           |         ((i + 1) * length(lval)) div ${k + 1} - (i * length(lval)) div ${k + 1}) AS seg))""".stripMargin)).as("s"))
      .select(col("lval"), col("s.si"), col("s.ln"), col("s.seg"))

    // right probes: for each candidate left length and segment index, the
    // substrings at the segment's position shifted by at most k
    val rProbes = r.select(col("rval"), explode(expr(
      s"""flatten(flatten(
         |  transform(sequence(greatest(${k + 1}, length(rval) - $k), length(rval) + $k), ll ->
         |    transform(sequence(0, $k), i ->
         |      CASE WHEN least(length(rval) - (((i + 1) * ll) div ${k + 1} - (i * ll) div ${k + 1}),
         |                     (i * ll) div ${k + 1} + $k)
         |                >= greatest(0, (i * ll) div ${k + 1} - $k)
         |      THEN transform(sequence(greatest(0, (i * ll) div ${k + 1} - $k),
         |                              least(length(rval) - (((i + 1) * ll) div ${k + 1} - (i * ll) div ${k + 1}),
         |                                    (i * ll) div ${k + 1} + $k)), p ->
         |             struct(i AS si, ll AS ln,
         |                    substr(rval, p + 1,
         |                           ((i + 1) * ll) div ${k + 1} - (i * ll) div ${k + 1}) AS seg))
         |      ELSE array() END))))""".stripMargin)).as("s"))
      .select(col("rval"), col("s.si"), col("s.ln"), col("s.seg"))

    lSegs.join(rProbes, Seq("si", "ln", "seg"))
      .select(col("lval"), col("rval"))
  }

  // ----------------------------------------------------- column profiling
  /** Per-column profile report: one output row per requested column with
    * row count, non-null count, exact distinct count, and (for numeric
    * columns) min/max plus a decimal-exact sum — the completeness /
    * cardinality / range report a pipeline runs before trusting a new
    * source (detect_types' statistical sibling).
    *
    * One aggregation pass over the table computes every column's stats at
    * once; the multi-column COUNT(DISTINCT) makes Catalyst plan an Expand
    * (one duplicated row per distinct column), so a P-column profile scans
    * the table once but shuffles ~P×rows — the standard Spark multi-distinct
    * shape. Profile the columns you need, not `df.columns`, on a 100 TB
    * table. Non-numeric columns carry NULL min/max/sum (numeric stats in
    * their native type would not survive a typed union; strings get
    * cardinality, which is the actionable part). */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile requires at least one column")
    val numeric = df.schema.fields.collect {
      case f if cols.contains(f.name) && f.dataType.isInstanceOf[NumericType] => f.name
    }.toSet
    val aggs = count(lit(1)).as("__n") +: cols.flatMap { c =>
      val base = Seq(count(col(c)).as(s"__nn_$c"),
        countDistinct(col(c)).as(s"__nd_$c"))
      if (numeric(c)) base ++ Seq(
        min(col(c)).cast("double").as(s"__mn_$c"),
        max(col(c)).cast("double").as(s"__mx_$c"),
        sum(col(c).cast(DecimalType(28, 6))).cast("double").as(s"__sm_$c"))
      else base
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      struct(lit(c).as("col_name"), col("__n").as("n_rows"),
        col(s"__nn_$c").as("n_nonnull"), col(s"__nd_$c").as("n_distinct"),
        (if (numeric(c)) col(s"__mn_$c") else lit(null).cast("double")).as("min_num"),
        (if (numeric(c)) col(s"__mx_$c") else lit(null).cast("double")).as("max_num"),
        (if (numeric(c)) col(s"__sm_$c") else lit(null).cast("double")).as("sum_num"))
    }
    one.select(explode(array(rows: _*)).as("p")).select(col("p.*"))
  }

  // ------------------------------------------------ incremental aggregation
  /** Mergeable per-key aggregate state: (key..., n, sum_dec, mn, mx) — the
    * shard-side half of incremental ETL. The sum accumulates in
    * DECIMAL(28,6), so shard states merge exactly (order-independent) and
    * [[mergePartialAggregates]] of any sharding equals the direct aggregate
    * bit-for-bit — the property that makes daily partials + a merge
    * equivalent to a full recompute at 100 TB. */
  def partialAggregate(df: DataFrame, keyCols: Seq[String],
                       valueCol: String): DataFrame = {
    require(keyCols.nonEmpty, "key columns required")
    df.groupBy(keyCols.map(col): _*)
      .agg(count(col(valueCol)).as("n"),
        sum(col(valueCol).cast(DecimalType(28, 6))).as("sum_dec"),
        min(col(valueCol)).as("mn"), max(col(valueCol)).as("mx"))
  }

  /** Merge shard states from [[partialAggregate]]: counts and decimal sums
    * add, extremes fold — one union + one keyed aggregate, no rescan of the
    * raw data. */
  def mergePartialAggregates(parts: Seq[DataFrame],
                             keyCols: Seq[String]): DataFrame = {
    require(parts.nonEmpty, "no partials to merge")
    parts.reduce(_ unionByName _)
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("n")).as("n"), sum(col("sum_dec")).as("sum_dec"),
        min(col("mn")).as("mn"), max(col("mx")).as("mx"))
  }

  // ----------------------------------------------------------- CDC apply
  /** Apply a change log to a base snapshot: each key's latest instruction
    * wins — 'U' upserts the carried row, 'D' deletes it; untouched base
    * rows pass through. The base participates as version `baseVersion`;
    * election is ONE key-partitioned rank by (version DESC, op DESC,
    * change-over-base DESC) — the third key makes a change row beat the
    * base row even at an equal version, so a log that violates the
    * "versions above baseVersion" contract still resolves
    * deterministically (change wins) instead of arbitrarily; equal
    * versions WITHIN the log fall back to U-over-D then arbitrary (the
    * CDC producer's uniqueness contract). The classic merge-into realized
    * as union + window: one shuffle on the key, no per-row lookups. */
  def cdcApply(base: DataFrame, changes: DataFrame, keyCol: String,
               versionCol: String, opCol: String,
               baseVersion: Long = 0L): DataFrame = {
    val payload = base.columns.filterNot(_ == keyCol)
    require(payload.nonEmpty, "base needs payload columns")
    val b = base.select(col(keyCol) +: payload.map(col) :+
      lit(baseVersion).as("__v") :+ lit("U").as("__op") :+
      lit(0).as("__src"): _*)
    val c = changes.select(col(keyCol) +: payload.map(col) :+
      col(versionCol).cast("long").as("__v") :+ col(opCol).as("__op") :+
      lit(1).as("__src"): _*)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("__v").desc, col("__op").desc, col("__src").desc)
    b.unionByName(c)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("__op") === "U")
      .select(col(keyCol) +: payload.map(col): _*)
  }

  /** Schema/distribution drift between two snapshots of the same logical
    * table: [[profile]] runs on each side (one aggregate pass per snapshot,
    * the per-column relation stays |cols| rows) and the column-keyed join
    * reports null-rate and distinct-cardinality movement — the check a
    * pipeline runs before accepting a new data drop against the previous
    * one. Ratios are single IEEE divisions of exact counts, 6dp. */
  def profileDrift(before: DataFrame, after: DataFrame,
                   cols: Seq[String]): DataFrame = {
    def side(df: DataFrame, tag: String) =
      profile(df, cols).select(col("col_name"),
        col("n_rows").as(s"rows_$tag"), col("n_nonnull").as(s"nn_$tag"),
        col("n_distinct").as(s"nd_$tag"))
    // empty snapshots / all-null columns report null, not a divide error
    def ratio(num: Column, den: Column) =
      when(den > 0, round(num.cast("double") / den.cast("double"), 6))
    def nullRate(tag: String) =
      ratio(col(s"rows_$tag") - col(s"nn_$tag"), col(s"rows_$tag"))
    side(before, "before").join(side(after, "after"), Seq("col_name"))
      .select(col("col_name"),
        nullRate("before").as("null_rate_before"),
        nullRate("after").as("null_rate_after"),
        col("nd_before").as("distinct_before"),
        col("nd_after").as("distinct_after"),
        ratio(col("nd_after"), col("nd_before")).as("distinct_ratio"))
  }

  // ------------------------------------------------------------- histogram
  /** Equal-width histogram over [lo, hi]: bin i covers
    * [lo + i*width, lo + (i+1)*width), the last bin closed at hi (the
    * numpy convention), width = (hi-lo)/nBins. The distribution report a
    * pipeline runs after [[profile]] before trusting a new numeric source.
    *
    * One map-side-combinable aggregate on <= nBins keys — the cheapest
    * possible shuffle at any scale. Binning is pure IEEE arithmetic
    * (subtract/divide/floor — no transcendentals), so any engine computing
    * the same expression bins identically. Values outside [lo, hi] and
    * NULLs are excluded by contract (pin the range from [[profile]]'s
    * min/max when full coverage matters); empty bins are absent from the
    * output (sparse) — at nBins in the thousands a dense join against
    * `sequence(0, nBins-1)` is the caller's one-liner. */
  def histogram(df: DataFrame, valueCol: String, nBins: Int,
                lo: Double, hi: Double): DataFrame = {
    require(nBins > 0, "nBins must be positive")
    require(hi > lo, "need hi > lo")
    val width = (hi - lo) / nBins
    val x = col(valueCol).cast("double")
    val bin = when(x === lit(hi), lit(nBins - 1))
      .otherwise(floor((x - lit(lo)) / lit(width)).cast("int"))
    df.filter(x.isNotNull && x >= lit(lo) && x <= lit(hi))
      .groupBy(bin.as("bin_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("bin_id"),
        (lit(lo) + col("bin_id") * lit(width)).as("bin_lo"),
        (lit(lo) + (col("bin_id") + 1) * lit(width)).as("bin_hi"),
        col("n"))
  }

  // ------------------------------------------------------ correlation matrix
  /** Pearson correlation for every column pair in ONE aggregation pass —
    * [[profile]]'s relationship sibling (which inputs are redundant, which
    * quality signals co-move). Complete-case: rows with a NULL in any
    * requested column are dropped, so every pair shares one n.
    *
    * Determinism contract (the reason this is not `df.stat.corr`): naive
    * double sums are partial-aggregation-order-dependent. Here each
    * product is computed once per row in double (deterministic IEEE),
    * cast to DECIMAL(38,6), and summed EXACTLY; the closed form
    * (n·Σxy − ΣxΣy) / (√(n·Σx² − (Σx)²) · √(n·Σy² − (Σy)²)) then runs on
    * the cast-back doubles — all correctly-rounded IEEE ops — and rounds
    * to 6dp. For inputs whose pairwise products carry <= 6 decimals within
    * double's exact-integer range (money/quantity decimals: the profiling
    * case), the sums are bit-exact in any engine; the 6dp round absorbs
    * the last-ulp cast wobble elsewhere. Constant columns yield NULL
    * (zero variance has no correlation — not 0, not an error).
    *
    * P columns = P(P+1)/2 + P + 1 accumulators in one map-side-combinable
    * aggregate — profile-scale P (dozens), one corpus scan, no Expand. */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "corrMatrix needs at least two columns")
    require(cols.distinct.size == cols.size, "duplicate columns")
    val dec = DecimalType(38, 6)
    def d(c: String) = col(c).cast("double")
    // project to the correlated columns BEFORE the fanout exchange (guide
    // §2.3), then parallelize the 1 + k + k(k+1)/2 decimal partial
    // aggregates — the whole cost of this operator is map-side
    val complete = fanoutScan(
      df.filter(cols.map(col(_).isNotNull).reduce(_ && _))
        .select(cols.map(col): _*))
    val pairIdx = for (i <- cols.indices; j <- i until cols.size) yield (i, j)
    val aggs = count(lit(1)).cast("double").as("__n") +:
      (cols.map(c => sum(d(c).cast(dec)).cast("double").as(s"__s_$c")) ++
        pairIdx.map { case (i, j) =>
          sum((d(cols(i)) * d(cols(j))).cast(dec)).cast("double")
            .as(s"__p_${i}_$j")
        })
    val one = complete.agg(aggs.head, aggs.tail: _*)
    val outs = for ((i, j) <- pairIdx if i < j) yield {
      val (cx, cy) = (cols(i), cols(j))
      val n = col("__n")
      val sx = col(s"__s_$cx"); val sy = col(s"__s_$cy")
      val sxy = col(s"__p_${i}_$j")
      val sxx = col(s"__p_${i}_$i"); val syy = col(s"__p_${j}_$j")
      val num = n * sxy - sx * sy
      val den = sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)
      struct(lit(cx).as("col_x"), lit(cy).as("col_y"),
        when(den === 0.0, lit(null).cast("double"))
          .otherwise(round(num / den, 6)).as("corr"))
    }
    one.select(explode(array(outs: _*)).as("p")).select(col("p.*"))
  }

  // ------------------------------------------- skew-safe two-phase aggregate
  /** Salted group-aggregate for skewed keys: phase 1 aggregates on
    * (keys, salt) — spreading one hot key over `saltBuckets` reducers —
    * phase 2 merges the partials. Works for the algebraic ops (sum/dsum/
    * count/min/max). At 100 TB this is the difference between one straggler
    * executor and uniform load; AQE skew handling covers joins, this covers
    * aggregation. */
  def saltedGroupAgg(df: DataFrame, keys: Seq[String],
                     aggs: Seq[(String, (String, String))],
                     saltBuckets: Int = 16): DataFrame = {
    require(saltBuckets > 0)
    val salted = df.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)))
    val partialCols = aggs.map { case (out, (op, in)) =>
      val c = col(in)
      (op match {
        case "sum" => sum(c)
        case "dsum" => sum(c.cast(DecimalType(24, 6)))
        case "count" => count(c)
        case "min" => min(c)
        case "max" => max(c)
        case other => throw new IllegalArgumentException(
          s"saltedGroupAgg supports algebraic ops only, got $other")
      }).as(s"__p_$out")
    }
    val partial = salted.groupBy((keys :+ "__salt").map(col): _*)
      .agg(partialCols.head, partialCols.tail: _*)
    val finalCols = aggs.map { case (out, (op, _)) =>
      val p = col(s"__p_$out")
      (op match {
        case "sum" => sum(p)
        case "dsum" => sum(p).cast(DoubleType)
        case "count" => sum(p)
        case "min" => min(p)
        case "max" => max(p)
      }).as(out)
    }
    partial.groupBy(keys.map(col): _*).agg(finalCols.head, finalCols.tail: _*)
  }

  // ------------------------------------------------- ordered group concat
  /** Per-group ordered string aggregation (SQL `string_agg(v, sep ORDER BY
    * ord)`): values collect as (ord-keys, value) structs, sort INSIDE the
    * group's array (array_sort on structs orders by fields left-to-right),
    * then join with `sep`. Deterministic whenever the ord-key prefix is
    * unique per row (pass the row's id as the last ord column to force it).
    *
    * Scale contract: one hash aggregate with map-side partial collects —
    * the group's concatenation must fit in one task's row, so this is for
    * bounded groups (per-customer orders, per-doc sentences), not
    * unbounded logs; cap upstream with capPerGroup when in doubt.
    */
  def groupConcat(df: DataFrame, keys: Seq[String], valueCol: String,
                  ordCols: Seq[String], sep: String,
                  out: String = "concat"): DataFrame = {
    require(keys.nonEmpty && ordCols.nonEmpty)
    val packed = struct((ordCols.map(col) :+ col(valueCol).as("__v")): _*)
    df.groupBy(keys.map(col): _*)
      .agg(concat_ws(sep,
        transform(array_sort(collect_list(packed)), x => x.getField("__v")))
        .as(out))
  }

  // ------------------------------------------------------- heavy hitters
  /** Skew diagnostics: the k heaviest keys by row count, ties broken by the
    * key columns ascending — one map-side-combinable aggregate and a
    * TakeOrdered top-k cutoff (no global sort, no window). Run this before
    * choosing a partitioning/salting strategy for a new 100 TB key.
    */
  def heavyHitters(df: DataFrame, keys: Seq[String], k: Int): DataFrame = {
    require(keys.nonEmpty && k > 0)
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc +: keys.map(col(_).asc): _*)
      .limit(k)
  }

  // ---------------------------------------------------- diversified top-k
  /** Global top-`k` by `scoreCol` descending with AT MOST `perGroup` rows
    * per group — retrieval-style diversity (best results overall, but no
    * single customer/domain/cluster dominates). Per-group rank first
    * (row_number over the group partition, `idCol` ascending tiebreak),
    * then a TakeOrdered cutoff over the survivors: the global sort never
    * materializes, and the window partitions are per-group (bounded),
    * never global.
    */
  def diversifiedTopK(df: DataFrame, scoreCol: String, groupCols: Seq[String],
                      idCol: String, k: Int, perGroup: Int): DataFrame = {
    require(k > 0 && perGroup > 0 && groupCols.nonEmpty)
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= perGroup).drop("__rn")
      .orderBy(col(scoreCol).desc, col(idCol).asc)
      .limit(k)
  }

  // -------------------------------------------------------------- O3: split
  /** Partition a dataset into files by key value and/or bounded chunk size —
    * the reference writes suffix-named chunks (meza/process.py:937-971);
    * on Spark this is the partitioned-write path, which is also the 100 TB
    * layout primitive (hive-style partition dirs + bounded file sizes). */
  def splitWrite(df: DataFrame, path: String, key: Option[String] = None,
                 maxRecordsPerFile: Option[Long] = None): Unit = {
    var w = df.write.mode("overwrite")
    maxRecordsPerFile.foreach(n => w = w.option("maxRecordsPerFile", n.toString))
    key match {
      case Some(k) => w.partitionBy(k).parquet(path)
      case None    => w.parquet(path)
    }
  }

  // --------------------------------------------------------- snapshot diff
  /** Row-level diff of two snapshots of the same logical table — the
    * data-reconciliation op behind "what changed between yesterday's drop
    * and today's": one FULL OUTER join on the key classifies every key as
    * added / removed / changed / unchanged, with a per-row count of
    * columns whose values differ (null-safe compare, so null→value and
    * value→null both count). Complements the aggregate-level
    * [[graft.pipeline.Stats.profile]]/profileDrift: that reports
    * distribution movement, this names the keys. One key-keyed shuffle;
    * payload width bounds the compare, never row count.
    * Returns (key, change_type, n_cols_changed). */
  def tableDiff(before: DataFrame, after: DataFrame,
                keyCol: String): DataFrame = {
    val payload = before.columns.filterNot(_ == keyCol).toSeq
    require(payload.nonEmpty, "need payload columns")
    require(after.columns.sorted.sameElements(before.columns.sorted),
      "snapshots must share a schema")
    val b = before.select(col(keyCol) +: lit(1).as("__inb") +:
      payload.map(c => col(c).as(s"__b_$c")): _*)
    val a = after.select(col(keyCol) +: lit(1).as("__ina") +:
      payload.map(c => col(c).as(s"__a_$c")): _*)
    val nChanged = payload.map(c =>
      when(!(col(s"__b_$c") <=> col(s"__a_$c")), 1L).otherwise(0L))
      .reduce(_ + _)
    b.join(a, Seq(keyCol), "full_outer")
      .select(col(keyCol),
        when(col("__inb").isNull, "added")
          .when(col("__ina").isNull, "removed")
          .when(nChanged > 0, "changed")
          .otherwise("unchanged").as("change_type"),
        when(col("__inb").isNotNull && col("__ina").isNotNull, nChanged)
          .otherwise(lit(null)).as("n_cols_changed"))
  }

  /** Per-column Shannon entropy profile — `profile`'s information-theoretic
    * sibling: for each listed column, the distinct-value count and the
    * entropy (nats) of its value distribution. Low entropy flags
    * near-constant columns (dead features, broken joins); entropy ≈ ln n
    * flags key-like columns — the two ends every schema audit looks for.
    *
    * Shape: columns melt row-locally to (col_name, value) pairs (one
    * bounded |cols|× explode — the q19 normalize idiom), ONE combinable
    * groupBy counts the cells, and each column's entropy finishes on its
    * own cell relation via the telescoping form H = ln N − (Σ c·ln c)/N
    * (the charEntropy discipline: integer counts in, each c·ln c cast
    * DECIMAL(28,12) at the source, exact under any merge order). Nulls are
    * excluded (missingness is `profile`'s job). Values compare as strings
    * — entropy only needs identity, not type. Returns
    * (col_name, n_values, n_distinct, entropy). */
  /** Key-skew report — run BEFORE shuffling on a candidate key: one row of
    * (n_rows, n_keys, max_count, max_share, top10_share, gini) says
    * whether a groupBy/join on `keyCol` will hot-spot an executor (the
    * decision input for [[saltedGroupAgg]] / AQE skew hints). Null keys
    * count (a null-keyed shuffle hot-spots like any other).
    *
    * Scale shape: the key relation GROWS with the key domain (this
    * operator's whole purpose is keys you SUSPECT are huge), so it is
    * never sorted in one task. One combinable key count, then ONE
    * [[graft.pipeline.Stats.distributedRank]] pass (desc by count, key-asc
    * tiebreak — exactly [[graft.pipeline.Stats.giniIndex]]'s discipline)
    * feeds BOTH rank consumers: top-10 share = Σ n over desc-rank ≤ 10,
    * and the Gini ascending Σ rₐ·n telescopes from the SAME desc ranks
    * (rₐ = K+1−r_d, a row_number permutation, so
    * Σ rₐ·n = (K+1)·N − Σ r_d·n — exact in DECIMAL(38,0); rank ties among
    * equal counts commute in both sums). Because every output is
    * tie-ORDER-invariant, the head tiebreak is a deterministic NUMERIC
    * hash of the key (xxhash64): that is what lets distributedRank
    * SUBDIVIDE the giant count-tie cells a mostly-unique key domain
    * produces — a STRING key column alone would leave the whole
    * count=1 tie cell to one window task (the subdivision grid needs a
    * numeric head tiebreak; the raw key stays as the final total-order
    * column). Shares are fixed IEEE 6dp. */
  def keySkewReport(df: DataFrame, keyCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    // slim (score, ties) column order lets distributedRank's internal
    // checkpoint serve its final pass directly (no rollup re-derivation)
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("__n"))
      .withColumn("__kh", xxhash64(col(keyCol)))
      .select(col("__n"), col("__kh"), col(keyCol))
    val ranked = graft.pipeline.Stats.distributedRank(counts, Seq.empty,
      "__n", desc = true, tieCols = Seq("__kh", keyCol), weightCol = None,
      rnOut = "__rd")
    ranked.agg(sum(col("__n")).as("n_rows"), count(lit(1)).as("n_keys"),
        max(col("__n")).as("max_count"),
        sum(when(col("__rd") <= 10, col("__n")).otherwise(0L)).as("__top10"),
        sum(col("__rd").cast(dec) * col("__n")).as("__rdn"))
      .select(col("n_rows"), col("n_keys"), col("max_count"),
        round(col("max_count").cast("double") /
          col("n_rows").cast("double"), 6).as("max_share"),
        round(col("__top10").cast("double") /
          col("n_rows").cast("double"), 6).as("top10_share"), {
          // Σ rₐ·n = (K+1)·N − Σ r_d·n, all integer-exact in decimal
          val rs = (col("n_keys").cast(dec) + lit(1L).cast(dec)) *
            col("n_rows").cast(dec) - col("__rdn")
          round(lit(2.0) * rs.cast("double") /
            (col("n_keys").cast("double") * col("n_rows").cast("double")) -
            (col("n_keys").cast("double") + 1.0) /
              col("n_keys").cast("double"), 6).as("gini")
        })
  }

  /** Numeric column profile — count, decimal-exact mean, min/max, and the
    * exact quartiles per listed column, in one melted pass (the
    * [[columnEntropy]] shape: bounded row-local melt, one combinable
    * grouping). Quartiles use the exact `percentile` aggregate, which
    * buffers a value→count map per column in its final task —
    * [[graft.pipeline.TextAnalysis.aboveQuantile]]'s documented
    * bounded-distinct-cardinality contract applies; profile unbounded
    * continuous columns with the approx variant instead. Returns
    * (col_name, n, mean, min, p25, p50, p75, max), mean/quartiles 6dp. */
  def numericProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "at least one column")
    val melted = df.select(explode(array(cols.map(c =>
      struct(lit(c).as("c"), col(c).cast("double").as("v"))): _*)).as("kv"))
      .select(col("kv.c").as("col_name"), col("kv.v").as("v"))
      .filter(col("v").isNotNull)
    melted.groupBy("col_name")
      .agg(count(lit(1)).as("n"),
        round(sum(col("v").cast("decimal(38,12)")).cast("double") /
          count(lit(1)), 6).as("mean"),
        min(col("v")).as("min"), max(col("v")).as("max"),
        expr("percentile(v, array(0.25, 0.5, 0.75))").as("__q"))
      .select(col("col_name"), col("n"), col("mean"), col("min"),
        round(element_at(col("__q"), 1), 6).as("p25"),
        round(element_at(col("__q"), 2), 6).as("p50"),
        round(element_at(col("__q"), 3), 6).as("p75"),
        col("max"))
  }

  def columnEntropy(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "at least one column")
    val melted = df.select(explode(array(cols.map(c =>
      struct(lit(c).as("c"), col(c).cast("string").as("v"))): _*)).as("kv"))
      .select(col("kv.c").as("col_name"), col("kv.v").as("value"))
      .filter(col("value").isNotNull)
    val cells = melted.groupBy("col_name", "value")
      .agg(count(lit(1)).as("__c"))
    val cD = col("__c").cast("double")
    cells.groupBy("col_name")
      .agg(sum(col("__c")).as("n_values"),
        count(lit(1)).as("n_distinct"),
        round(log(sum(col("__c")).cast("double")) -
          sum((cD * log(cD)).cast("decimal(28,12)")).cast("double") /
            sum(col("__c")).cast("double"), 6).as("entropy"))
  }

  // ---------------------------------------------------- monotonicity audit
  /** Sequence-quality audit: count adjacent-pair violations of per-key
    * monotonicity (nondecreasing, or strictly increasing with `strict`) in
    * `valueCol` along `orderCols` — the sanity gate for cumulative
    * counters, version stamps, and event clocks before an as-of/ffill
    * consumer trusts them. One per-key lag window, one summary row:
    * n_keys, n_rows, n_violations, n_keys_violating. */
  def monotonicAudit(df: DataFrame, keyCols: Seq[String],
                     orderCols: Seq[String], valueCol: String,
                     strict: Boolean = false): DataFrame = {
    require(keyCols.nonEmpty && orderCols.nonEmpty, "keys and order required")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val prev = lag(col(valueCol), 1).over(w)
    val bad = if (strict) col(valueCol) <= prev else col(valueCol) < prev
    df.withColumn("__bad",
        when(prev.isNotNull && bad, 1L).otherwise(0L))
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n"), sum(col("__bad")).as("__v"))
      .agg(count(lit(1)).as("n_keys"), sum(col("__n")).as("n_rows"),
        sum(col("__v")).as("n_violations"),
        sum(when(col("__v") > 0, 1L).otherwise(0L)).as("n_keys_violating"))
  }

  // ------------------------------------------------ column fingerprints
  /** Row-aligned column-content fingerprints: per column, the SUM of
    * 52-bit md5(rowkey ∥ value) draws — order-independent (sum), alignment-
    * aware (the rowkey rides inside the hash), so two columns fingerprint
    * equal iff they hold identical values on identical rows (mod
    * astronomically unlikely sum collisions). The schema-dedup /
    * copied-column detector for wide warehouse tables: one melted pass,
    * output bounded by the column count. Columns must stringify stably
    * (strings/integers; floats format engine-differently and belong
    * behind an explicit round). Output: column_name, n_nonnull,
    * fingerprint. */
  def columnFingerprints(df: DataFrame, rowKey: Column,
                         cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "at least one column")
    val melted = df.select(explode(array(cols.map(c =>
      struct(lit(c).as("c"),
        org.apache.spark.sql.functions.concat(rowKey.cast("string"),
          lit("|"), coalesce(col(c).cast("string"), lit("<NULL>"))).as("kv"),
        col(c).isNull.as("nul"))): _*))
      .as("e"))
      .select(col("e.c").as("column_name"),
        conv(substring(md5(col("e.kv")), 1, 13), 16, 10).cast("long")
          .as("__h"),
        col("e.nul").as("__isnull"))
    // the 52-bit draws sum past long range on big tables: accumulate in
    // DECIMAL(38,0) (exact, order-independent) and fold back mod 2^62 —
    // still a uniform fingerprint, still long-typed for the gate
    melted.groupBy("column_name")
      .agg(sum(when(!col("__isnull"), 1L).otherwise(0L)).as("n_nonnull"),
        pmod(sum(col("__h").cast("decimal(38,0)")),
          lit(4611686018427387904L)).cast("long").as("fingerprint"))
  }

  // -------------------------------------------------- shuffle sizing advisor
  /** Shuffle/partition sizing advisor: estimate the table's in-flight bytes
    * from SCHEMA-DERIVED fixed widths plus measured string/binary lengths
    * (one aggregate — no sampling, no rand), and recommend a partition
    * count for a target partition size as pure integer ceiling division.
    * This is the planning input for `spark.sql.shuffle.partitions` /
    * `files.maxPartitionBytes` the SCALE.md sizing notes reason about —
    * as a query, so the driver gates it. Width model is the unencoded
    * row: 8B integral/floating/timestamp, 4B int/date, 16B decimal,
    * strings/binary at measured length (compression and page overheads
    * intentionally excluded — the advisor targets shuffle bytes, which
    * are row-wise). Output (one row): n_rows, fixed_bytes_per_row,
    * string_bytes, est_bytes, recommended_partitions (≥ 1). */
  def shuffleAdvisor(df: DataFrame, targetBytes: Long): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be > 0: $targetBytes")
    val (fixed, varCols) = df.schema.fields.foldLeft((0L, Seq.empty[String])) {
      case ((f, ss), fld) => fld.dataType match {
        case LongType | DoubleType | TimestampType => (f + 8, ss)
        case IntegerType | FloatType | DateType => (f + 4, ss)
        case ShortType => (f + 2, ss)
        case ByteType | BooleanType => (f + 1, ss)
        case _: DecimalType => (f + 16, ss)
        case StringType | BinaryType => (f, ss :+ fld.name)
        case _ => (f + 16, ss) // nested: coarse fixed default
      }
    }
    val varLen = if (varCols.isEmpty) lit(0L)
      else varCols.map(c => coalesce(length(col(c)).cast("long"), lit(0L)))
        .reduce(_ + _)
    df.agg(count(lit(1)).as("n_rows"), sum(varLen).as("__v"))
      .select(col("n_rows"), lit(fixed).as("fixed_bytes_per_row"),
        coalesce(col("__v"), lit(0L)).as("string_bytes"),
        (col("n_rows") * lit(fixed) + coalesce(col("__v"), lit(0L)))
          .as("est_bytes"))
      .withColumn("recommended_partitions",
        greatest(lit(1L), expr(s"(est_bytes + ${targetBytes - 1}) div $targetBytes")))
  }

  // ------------------------------------------------- join-size estimation
  /** Optimizer-style equi-join cardinality estimate from per-side key
    * statistics, checked against the truth: est = n_a·n_b / max(d_a, d_b)
    * (the uniform-key textbook formula every cost-based optimizer starts
    * from), alongside the actual join count — the ratio is the skew
    * signal that tells an engineer whether AQE/salting will matter on
    * this key. Two per-side aggregates + the real join's count; the
    * estimate is integer/one-division exact. Output (one row): n_a, n_b,
    * d_a, d_b, est_rows, actual_rows, ratio (6dp). */
  def joinSizeEstimate(a: DataFrame, keyA: Column,
                       b: DataFrame, keyB: Column): DataFrame = {
    val sa = a.filter(keyA.isNotNull).select(keyA.as("__k"))
    val sb = b.filter(keyB.isNotNull).select(keyB.as("__k"))
    val statsA = sa.agg(count(lit(1)).as("n_a"),
      countDistinct(col("__k")).as("d_a"))
    val statsB = sb.agg(count(lit(1)).as("n_b"),
      countDistinct(col("__k")).as("d_b"))
    val actual = sa.join(sb, Seq("__k")).agg(count(lit(1)).as("actual_rows"))
    val est = round(col("n_a").cast("double") * col("n_b").cast("double") /
      greatest(col("d_a"), col("d_b")).cast("double"), 1)
    statsA.crossJoin(statsB).crossJoin(actual)
      .select(col("n_a"), col("n_b"), col("d_a"), col("d_b"),
        est.as("est_rows"), col("actual_rows"),
        round(est / col("actual_rows").cast("double"), 6).as("ratio"))
  }

  /** CBO-style join-ORDER advisor for the chain A ⋈(k1) B ⋈(k2) C: both
    * cross-product-free orders are costed with the [[joinSizeEstimate]]
    * uniform-key formula (cost = estimated intermediate + final rows; the
    * final estimate is order-invariant, so the intermediate decides) and
    * compared against the ACTUAL intermediate/final counts — the
    * join-reorder decision signal, with truth attached. All stats are
    * exact integers; estimates are fixed-shape doubles rounded to 1dp
    * BEFORE the choice election, so the chosen flag cannot flip on an
    * ulp. Returns two rows: (join_order, est_mid, est_final, cost,
    * actual_mid, actual_final, chosen). */
  def joinOrderAdvisor(a: DataFrame, keyA: Column,
                       b: DataFrame, keyB1: Column, keyB2: Column,
                       c: DataFrame, keyC: Column): DataFrame = {
    val sa = a.filter(keyA.isNotNull).select(keyA.as("__ka"))
    val sb = b.filter(keyB1.isNotNull && keyB2.isNotNull)
      .select(keyB1.as("__kb1"), keyB2.as("__kb2"))
    val sc = c.filter(keyC.isNotNull).select(keyC.as("__kc"))
    val ab = sa.join(sb, col("__ka") === col("__kb1"))
    val st = sa.agg(count(lit(1)).as("n_a"),
        countDistinct(col("__ka")).as("d_a1"))
      .crossJoin(sb.agg(count(lit(1)).as("n_b"),
        countDistinct(col("__kb1")).as("d_b1"),
        countDistinct(col("__kb2")).as("d_b2")))
      .crossJoin(sc.agg(count(lit(1)).as("n_c"),
        countDistinct(col("__kc")).as("d_c2")))
      .crossJoin(ab.agg(count(lit(1)).as("act_ab")))
      .crossJoin(sb.join(sc, col("__kb2") === col("__kc"))
        .agg(count(lit(1)).as("act_bc")))
      .crossJoin(ab.join(sc, col("__kb2") === col("__kc"))
        .agg(count(lit(1)).as("act_final")))
    def d(n: String) = col(n).cast("double")
    val eab = d("n_a") * d("n_b") /
      greatest(col("d_a1"), col("d_b1")).cast("double")
    val ebc = d("n_b") * d("n_c") /
      greatest(col("d_b2"), col("d_c2")).cast("double")
    val rows = st
      .withColumn("__eab", eab)
      .withColumn("__ebc", ebc)
      .withColumn("__efin", col("__eab") * d("n_c") /
        greatest(col("d_b2"), col("d_c2")).cast("double"))
      .selectExpr("stack(2, " +
        "'AB_then_C', round(__eab, 1), round(__efin, 1), " +
        "round(__eab + __efin, 1), act_ab, act_final, " +
        "'BC_then_A', round(__ebc, 1), round(__efin, 1), " +
        "round(__ebc + __efin, 1), act_bc, act_final) AS " +
        "(join_order, est_mid, est_final, cost, actual_mid, actual_final)")
    rows.withColumn("chosen", row_number().over(
      Window.orderBy(col("cost").asc, col("join_order").asc)) === 1)
  }

  // ---------------------------------------------------------- FIFO matching
  /** FIFO lot matching as a SET-BASED operation: per key, sells consume
    * buys in arrival order. The sequential "walk the lots" loop becomes
    * pure relational algebra via cumulative-quantity intervals — buy i
    * covers (B_{i-1}, B_i] on the key's cumulative axis, sell j covers
    * (S_{j-1}, S_j], and FIFO matches are EXACTLY the interval overlaps:
    * matched(i,j) = min(B_i,S_j) − max(B_{i-1},S_{j-1}) where positive.
    * The cost basis is PURE INTEGER arithmetic: the lot cost arrives in
    * cents, the per-unit cost is (cents · 10⁴) div qty — micro-cents,
    * truncated once per lot — and every matched term is an exact long
    * product, so per-key totals are shuffle-order-exact and engine-exact.
    * (A double unit cost — even 6dp-rounded — put round()’s near-boundary
    * engine differences on the hash gate: 1-3 parts in 800 flipped the
    * 6th decimal between Spark’s BigDecimal rounding and DuckDB’s
    * float-multiply rounding.)
    *
    * Scale: two per-(key, side) cumulative windows (bounded by the key's
    * row count) and ONE key-equi join with a range residual — never a
    * cross product; per-key match cardinality is O(buys + sells) because
    * consecutive intervals overlap chain-like, not all-pairs. Oversold
    * keys simply leave the excess unmatched (matched_qty < sell_qty).
    * Output per key: n_matches, matched_qty, sell_qty, cogs (6dp). */
  def fifoMatch(df: DataFrame, keyCol: String, orderCols: Seq[String],
                qty: Column, isSell: Column, lotCostCents: Column): DataFrame = {
    require(orderCols.nonEmpty, "FIFO needs a deterministic arrival order")
    // qty semantics after the long cast: ZERO drops silently (a 0-qty lot
    // would null the per-unit division and its cost would silently VANISH
    // from cogs because sum() skips nulls; a fractional 0.5 casts to 0 and
    // drops too — oracles must mirror the POST-cast guard). NEGATIVE qty
    // FAILS the job: a negative sell is a return/correction feed the FIFO
    // interval model cannot represent (it inverts the [lo, hi) interval),
    // and silently dropping it would produce a clean-looking cost basis
    // from corrupt input — callers must pre-validate or pre-net returns.
    val base = df.select(Seq(col(keyCol).as("__k"), qty.cast("long").as("__q"),
      isSell.as("__s"), lotCostCents.cast("long").as("__cc")) ++
      orderCols.map(col): _*)
      .withColumn("__q", when(col("__q") < 0, raise_error(
          org.apache.spark.sql.functions.concat(
            lit("fifoMatch: negative quantity for key "),
            col("__k").cast("string"),
            lit(" - pre-validate or pre-net return/correction rows")))
        .cast("long")).otherwise(col("__q")))
      .filter(col("__q") > 0)
    val w = Window.partitionBy(col("__k"), col("__s"))
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = base.withColumn("__hi", sum(col("__q")).over(w))
      .withColumn("__lo", col("__hi") - col("__q"))
    val buys = cum.filter(!col("__s"))
      .select(col("__k"), col("__lo").as("__blo"), col("__hi").as("__bhi"),
        expr("(__cc * 10000) div __q").as("__pu")) // micro-cents per unit
    val sells = cum.filter(col("__s"))
      .select(col("__k").as("__sk"), col("__lo").as("__slo"),
        col("__hi").as("__shi"))
    val sellTot = cum.filter(col("__s")).groupBy(col("__k"))
      .agg(sum(col("__q")).as("sell_qty"))
    val overlap = least(col("__bhi"), col("__shi")) -
      greatest(col("__blo"), col("__slo"))
    val matched = buys.join(sells,
        col("__k") === col("__sk") && col("__blo") < col("__shi") &&
          col("__slo") < col("__bhi"))
      .groupBy(col("__k"))
      .agg(count(lit(1)).as("n_matches"), sum(overlap).as("matched_qty"),
        sum(overlap * col("__pu")).as("__cogs"))
    sellTot.join(matched, Seq("__k"), "left")
      .select(col("__k").as(keyCol),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("matched_qty"), lit(0L)).as("matched_qty"),
        col("sell_qty"),
        round(coalesce(col("__cogs"), lit(0L)).cast("double") /
          lit(1000000.0), 6).as("cogs"))
  }

  // --------------------------------------------------------------- skyline
  /** Pareto frontier (skyline) on two maximize-dimensions: keep rows no
    * other row dominates (other ≥ on both, > on at least one). The classic
    * multi-criteria shortlist — "longest AND most token-rich documents"
    * with no weighting function.
    *
    * Scale: never the O(n²) dominance self-join. One aggregate collapses
    * the data to the per-x max-y relation (bounded by |distinct x|, i.e.
    * the x value DOMAIN, not the row count), a descending running-max sweep
    * over that bounded relation finds the frontier x-groups, and one
    * broadcast semi-ish join pulls the surviving rows back out. Rows tied
    * on both dimensions all survive (neither strictly dominates).
    *
    * The bounded-x-domain contract is ENFORCED, not just documented (the
    * gateValueCells discipline): an x domain above `xDomainLimit` distinct
    * values RAISES loudly before the keyless sweep window runs — a
    * continuous double x would otherwise silently single-partition-sort
    * the whole domain. Remedy in the message: bucket/round x first. */
  def skyline(df: DataFrame, xCol: String, yCol: String,
              xDomainLimit: Long = 1000000L): DataFrame = {
    val gx0 = df.groupBy(col(xCol)).agg(max(col(yCol)).as("__ymax"))
    // shared DomainGate mechanism: the raise rides BOTH columns of the
    // sweep relation, so no projection can prune the gate away (costs
    // one extra combinable count scan of the rollup — the documented
    // DomainGate trade)
    val gx = DomainGate(gx0, xDomainLimit, nx =>
      org.apache.spark.sql.functions.concat(
        lit("skyline: "), nx.cast("string"),
        lit(s" distinct x values exceed $xDomainLimit — bucket or round " +
          "the x dimension to a bounded grain first (the sweep window is " +
          "x-domain-sized)")))
    // per-x rows are DISTINCT x values: the sweep window is over the bounded
    // x domain (partitionless by construction, like the q119 day spine)
    val w = Window.orderBy(col(xCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val surv = gx.withColumn("__dom", max(col("__ymax")).over(w))
      .filter(col("__dom").isNull || col("__dom") < col("__ymax"))
      .select(col(xCol).as("__x"), col("__ymax"))
    df.join(broadcast(surv),
      col(xCol) === col("__x") && col(yCol) === col("__ymax"))
      .drop("__x", "__ymax")
  }
  // ------------------------------------------------------ skew-safe join
  /** Salted equi join for skewed probe keys — the join-side sibling of
    * [[saltedGroupAgg]]: the BUILD side replicates `saltBuckets` times
    * (once per salt value) and each PROBE row picks one salt via
    * `probeSaltCol` (a deterministic hash of probe columns, caller-chosen
    * so hot-key rows spread), so one hot key's probe rows land on
    * `saltBuckets` reducers instead of one straggler. The result is
    * EXACTLY the plain inner join — salting only re-routes rows — which
    * is what the oracle runs.
    *
    * Use when AQE's skew split can't help (e.g. the skew is in a single
    * key of a shuffle-hash join, or the join feeds a co-keyed window).
    * Build-side cost is saltBuckets× replication — size it like a
    * broadcast decision. */
  def saltedJoin(probe: DataFrame, build: DataFrame, keys: Seq[String],
                 probeSaltCol: Column, saltBuckets: Int = 16): DataFrame = {
    require(keys.nonEmpty && saltBuckets > 0)
    val b = build.withColumn("__salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    // coalesce(, 0): a null probeSaltCol would make pmod null and the
    // equi join silently DROP the row — the plain join on `keys` keeps it,
    // and the contract is exact equivalence; bucket 0 preserves it
    probe.withColumn("__salt",
        coalesce(pmod(probeSaltCol, lit(saltBuckets)), lit(0)).cast("int"))
      .join(b, keys :+ "__salt")
      .drop("__salt")
  }

  // ---------------------------------------------------- weighted quantiles
  /** Exact weighted quantiles per group with integer weights: for each
    * q = num/den, the smallest value whose cumulative weight w satisfies
    * w·den ≥ num·W (the lower/type-1 weighted quantile — no
    * interpolation, and the boundary compare is cross-multiplied integers,
    * never a float threshold). The weighted-median/decile primitive for
    * "half the TOKENS sit below this quality score" questions where
    * row-count quantiles mislead.
    *
    * Values collapse to a per-(group, value) weight rollup first (the
    * rocAuc cardinality discipline: bound continuous values by rounding),
    * one running-sum window per group, then each quantile picks its
    * crossing row with a min aggregate. Returns
    * groupCols + (q_num, q_den, value, total_weight). */
  def weightedQuantiles(df: DataFrame, groupCols: Seq[String],
                        valueCol: String, weightCol: Column,
                        qs: Seq[(Int, Int)]): DataFrame = {
    require(groupCols.nonEmpty && qs.nonEmpty)
    require(qs.forall { case (n, d) => n > 0 && n <= d },
      s"quantiles must be rationals in (0, 1]: $qs")
    val g = groupCols.map(col)
    val perVal = df.select(g ++ Seq(col(valueCol).as("__v"),
        weightCol.cast("long").as("__w")): _*)
      .filter(col("__w") > 0)
      .groupBy(g :+ col("__v"): _*).agg(sum(col("__w")).as("__w"))
    val wRun = Window.partitionBy(g: _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(g: _*)
    val cum = perVal
      .withColumn("__cum", sum(col("__w")).over(wRun))
      .withColumn("total_weight", sum(col("__w")).over(wAll))
    val qRel = explode(array(qs.map { case (n, d) =>
      struct(lit(n).as("q_num"), lit(d).as("q_den")) }: _*)).as("__q")
    cum.select((g ++ Seq(col("__v"), col("__cum"), col("total_weight"),
        qRel)): _*)
      .select((g ++ Seq(col("__v"), col("__cum"), col("total_weight"),
        col("__q.q_num").as("q_num"), col("__q.q_den").as("q_den"))): _*)
      .filter(col("__cum") * col("q_den") >= col("q_num") * col("total_weight"))
      .groupBy(g ++ Seq(col("q_num"), col("q_den"), col("total_weight")): _*)
      .agg(min(col("__v")).as("value"))
      .select(g ++ Seq(col("q_num"), col("q_den"), col("value"),
        col("total_weight")): _*)
  }
}
