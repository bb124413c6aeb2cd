package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Exact path: brute-force cosine top-k — the correctness baseline, O(n·q),
  * embarrassingly parallel (queries broadcast, no shuffle until top-k).
  * Scale path: random-hyperplane LSH — per-row signatures (no shuffle),
  * candidates meet in hash buckets, exact re-rank only within buckets.
  *
  * Dot products use `zip_with`/`aggregate` over built-ins — codegen'd, no
  * UDF. Vectors are cast elementwise to double for stable math.
  */
object Similarity {

  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Composed higher-order forms (interpreted lambdas — reference semantics,
    * fine for small data); the hot paths use the native codegen'd kernels in
    * graft.functions.VectorExprs (same math, same accumulation order). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))

  def dot(a: Column, b: Column): Column = graft.functions.VectorExprs.dotProduct(a, b)

  def cosine(a: Column, b: Column): Column = graft.functions.VectorExprs.cosineSim(a, b)

  /** Exact top-k neighbors for every query vector: broadcast the (small)
    * query set against the corpus, rank per query. One shuffle (the window
    * by qid); corpus is never replicated beyond |queries| multiplier. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val joined = corpus
      .select(col(idCol).as("nn_id"), toDouble(col(vecCol)).as("v"))
      .crossJoin(broadcast(queries.select(col(qidCol).as("qid"), toDouble(col(qvecCol)).as("qv"))))
      .filter(col("nn_id") =!= col("qid"))
      .select(col("qid"), col("nn_id"), cosine(col("v"), col("qv")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nn_id").asc)
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Deterministic pseudo-random hyperplanes: plane p, dim d coefficient
    * derived from a hash — reproducible across engines/runs with no RNG. */
  private def planeCoef(p: Int, d: Int, seed: Long): Double = {
    val h = scala.util.hashing.MurmurHash3.productHash((seed, p, d))
    (h.toDouble / Int.MaxValue) // in [-1, 1]
  }

  /** nPlanes-bit signature: bit p = sign of <v, plane_p>. Per-row native
    * codegen'd kernel (one vector traversal for all planes — the composed
    * `aggregate(zip_with(...))` form ran nTables × nPlanes interpreted
    * array-folds per row and dominated the ANN bench); planes are constants
    * embedded in the generated code. Accepts float or double arrays ONLY
    * (unlike the composed HOF form, which cast any numeric element) —
    * pre-cast integer vectors with `toDouble(vec)`. */
  def hyperplaneSignature(vec: Column, dim: Int, nPlanes: Int = 16,
                          seed: Long = 42L): Column = {
    val planes = (0 until nPlanes).map(p => (0 until dim).map(d => planeCoef(p, d, seed)))
    graft.functions.VectorExprs.hyperplaneSignature(vec, planes)
  }

  /** The nTables independent plane sets (deterministic, no RNG). */
  private def planeTables(dim: Int, nPlanes: Int, nTables: Int,
                          seed: Long): Seq[Seq[Seq[Double]]] =
    (0 until nTables).map { t =>
      (0 until nPlanes).map(p => (0 until dim).map(d => planeCoef(p, d, seed + t)))
    }

  /** 60-bit integer from the first 15 md5 nibbles of an ASCII salt —
    * the Scala-side twin of [[graft.pipeline.Dedup.md5h60]]'s column
    * form (q232/q30 decode), so plane coefficients derived from it are
    * REPLAYABLE by any engine with an md5() (DuckDB rebuilds the exact
    * value from the same salt string). */
  private def md5h60Local(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.parseLong(
      d.map(b => f"$b%02x").mkString.substring(0, 15), 16)
  }

  /** The default geometry of [[embeddingNearDupPairs]] and the fixed
    * arithmetic of its md5-seeded replay mode, as NAMED constants so a
    * dual-engine replay (q47) derives its SQL literals from the same
    * values the Spark call uses — a default change on either side then
    * breaks the compile or the oracle loudly instead of silently
    * desynchronizing the replay. */
  object EmbLshDefaults {
    val NPlanes = 12
    val NTables = 16
    val Seed = 42L
    val MaxBucket = 4096
    /** 2^20 — [[quantizeVec]]'s exact integer grid. */
    val QuantGrid = 1048576L
    /** coefficient = (md5h60 mod CoefMod) − CoefShift ∈ [−1000, 1000]. */
    val CoefMod = 2001L
    val CoefShift = 1000L
  }

  /** md5-seeded INTEGER-valued plane tables (the q30 salted-minima
    * discipline brought to hyperplanes): coefficient (t, p, d) =
    * (md5h60("hp{seed}|{t}|{p}|{d}") mod 2001) − 1000 ∈ [−1000, 1000].
    * Paired with [[quantizeVec]]'s 2^20 integer grid, every projection
    * is a sum of 64 exact integer-valued doubles (≤ 2^40 ≪ 2^53), so
    * the sign — hence the full signature, bucket, and candidate set —
    * is bit-identical in ANY engine that replays the arithmetic.
    * Production paths keep the MurmurHash-derived real-valued planes
    * (this mode exists to make the banded pipeline STRUCTURE
    * cross-engine checkable, not to replace them). */
  private[graft] def md5PlaneTables(dim: Int, nPlanes: Int, nTables: Int,
                                    seed: Long): Seq[Seq[Seq[Double]]] =
    (0 until nTables).map { t =>
      (0 until nPlanes).map { p =>
        (0 until dim).map(d =>
          ((md5h60Local(s"hp$seed|$t|$p|$d") % EmbLshDefaults.CoefMod) -
            EmbLshDefaults.CoefShift).toDouble)
      }
    }

  /** Exact 2^20 integer quantization for the md5-seeded replay mode:
    * floor(x · 2^20) per element (float→double exact, the power-of-two
    * product exact, floor exact — no rounding anywhere an engine could
    * disagree on), returned as integer-valued doubles for the signature
    * kernel. Affects candidate RECALL only (the exact-cosine verify runs
    * on the ORIGINAL vectors); at |x| ≲ 1 the grid error is ~1e-6. */
  private[graft] def quantizeVec(v: Column): Column =
    transform(v, x =>
      floor(x * lit(EmbLshDefaults.QuantGrid.toDouble)).cast("double"))

  /** The (qid, nn_id) candidate pairs the multiprobe LSH would re-rank —
    * exposed so recall/candidate-fraction can be asserted without running
    * the re-rank. This IS the sublinear part: everything downstream of it
    * touches only these pairs. */
  def annCandidates(corpus: DataFrame, queries: DataFrame, dim: Int,
                    nPlanes: Int = 13, nTables: Int = 64, mProbe: Int = 5,
                    seed: Long = 42L,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val tables = planeTables(dim, nPlanes, nTables, seed)

    val sigCorpus = corpus.select(col(idCol).as("nn_id"),
        posexplode(graft.functions.VectorExprs.tableSignatures(col(vecCol), tables))
          .as(Seq("tbl", "sig")))

    val probes = queries.select(col(qidCol).as("qid"),
        posexplode(graft.functions.VectorExprs.multiprobeTableSignatures(
          col(qvecCol), tables, mProbe)).as(Seq("tbl", "parr")))
      .select(col("qid"), col("tbl"), explode(col("parr")).as("probe"))

    sigCorpus.join(broadcast(probes),
        col("sig") === col("probe") && sigCorpus("tbl") === probes("tbl"))
      .filter(col("nn_id") =!= col("qid"))
      .select(col("qid"), col("nn_id"))
      .distinct()
  }

  /** ANN top-k via multi-table hyperplane LSH with query-directed multiprobe
    * (Lv et al., VLDB'07): `nTables` independent plane sets; per table, the
    * query probes its own bucket plus every flip-subset of the `mProbe`
    * planes with the smallest |projection| — the bits most likely to differ
    * for a true neighbor. The union of candidates is re-ranked by exact
    * cosine. Defaults tuned on the testdata embeddings (uniform unit
    * vectors, the LSH-hardest case): recall@5 ≈ 0.86 touching ~27% of the
    * corpus at n=500; gain grows as n^0.25 with corpus size (ρ ≈ 0.75 at
    * 5th-NN cosine 0.29 — see SCALE.md).
    *
    * 100 TB shape: the exploded signature relation carries ONLY
    * (id, table, sig) — 3 longs/row, never the vector (a ×nTables explode of
    * the embedding column would multiply the corpus bytes; signatures don't).
    * Vectors re-join only for candidate re-ranking: one broadcast-hash probe
    * join, one distinct on (qid, id) pairs, one id-keyed join against the
    * corpus, one window per qid. All signature math is a single codegen'd
    * corpus traversal ([[graft.functions.TableSignatures]]).
    */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
              nPlanes: Int = 13, nTables: Int = 64, mProbe: Int = 5,
              seed: Long = 42L,
              idCol: String = "vec_id", vecCol: String = "embedding",
              qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {

    val cands = annCandidates(corpus, queries, dim, nPlanes, nTables, mProbe,
        seed, idCol, vecCol, qidCol, qvecCol)
      .join(corpus.select(col(idCol).as("nn_id"), toDouble(col(vecCol)).as("v")), "nn_id")
      .join(broadcast(queries.select(col(qidCol).as("qid"), toDouble(col(qvecCol)).as("qv"))), "qid")
      .select(col("qid"), col("nn_id"), cosine(col("v"), col("qv")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nn_id").asc)
    cands.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Deterministic pseudo-random unit centroids for IVF init — the naive
    * baseline [[kmeansCentroids]] is measured against (kept for that spec
    * and as a data-independent fallback). */
  /** Pairwise cosine similarity between per-label centroids — the
    * "how far apart are my sources/clusters" report over an embedding
    * column, oracle-checkable end to end (unlike the LSH paths, which are
    * engine-specific by nature).
    *
    * Determinism discipline: centroid components are decimal-exact sums
    * (DECIMAL(38,12) — per-value round-to-nearest on a dyadic double can
    * never tie at scale 12, so both engines round identically; order of
    * addition is then irrelevant) divided once in IEEE; the pair dot / norm
    * sums re-apply the same cast. Plan: one posexplode + (label, idx)
    * aggregate — corpus scans once, state is labels × dim — then the tiny
    * centroid relation self-joins on idx. Output (label_a < label_b,
    * cos 6dp-rounded).
    */
  def labelCentroidCosines(df: DataFrame, labelCol: String,
                           vecCol: String): DataFrame = {
    val comp = df.select(col(labelCol).as("__l"),
        posexplode(col(vecCol)).as(Seq("__i", "__v")))
      .groupBy("__l", "__i")
      .agg(count(lit(1)).as("__n"),
        sum(col("__v").cast("double").cast("decimal(38,12)"))
          .cast("double").as("__s"))
      .select(col("__l"), col("__i"),
        (col("__s") / col("__n").cast("double")).as("__c"))
    val norms = comp.groupBy("__l")
      .agg(sum((col("__c") * col("__c")).cast("decimal(38,12)"))
        .cast("double").as("__nm"))
    val a = comp.select(col("__l").as("label_a"), col("__i"), col("__c").as("__ca"))
    val b = comp.select(col("__l").as("label_b"), col("__i"), col("__c").as("__cb"))
    a.join(b, Seq("__i")).filter(col("label_a") < col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(sum((col("__ca") * col("__cb")).cast("decimal(38,12)"))
        .cast("double").as("__dot"))
      .join(norms.select(col("__l").as("label_a"), col("__nm").as("__na")), Seq("label_a"))
      .join(norms.select(col("__l").as("label_b"), col("__nm").as("__nb")), Seq("label_b"))
      .select(col("label_a"), col("label_b"),
        round(col("__dot") / (sqrt(col("__na")) * sqrt(col("__nb"))), 6).as("cos"))
  }

  def pseudoCentroids(nCentroids: Int, dim: Int, seed: Long = 7L): Seq[(Int, Seq[Double])] =
    (0 until nCentroids).map { c =>
      val raw = (0 until dim).map(d => planeCoef(c, d, seed))
      val n = math.sqrt(raw.map(x => x * x).sum)
      c -> raw.map(_ / n)
    }

  /** Spherical k-means (Lloyd's, cosine objective) on a corpus sample: ONE
    * bounded Spark job collects the `sampleN` lowest-id vectors (TakeOrdered
    * — sampleN×dim doubles on the driver REGARDLESS of corpus size), the
    * iterations run driver-local on that sample, and the result is a small
    * centroid literal list that broadcasts into [[ivfAssign]]/[[ivfTopK]]
    * exactly like [[pseudoCentroids]]. Centroids now sit where the data
    * actually clusters, so fixed-nProbe recall rises and partition sizes
    * even out (see the PipelineSpec recall comparison). Deterministic: id-
    * ordered sample, evenly-spaced init, fixed iteration count; empty
    * clusters keep their previous centroid. */
  def kmeansCentroids(corpus: DataFrame, nCentroids: Int, iters: Int = 8,
                      sampleN: Int = 2048, idCol: String = "vec_id",
                      vecCol: String = "embedding"): Seq[(Int, Seq[Double])] = {
    val sample: Array[Array[Double]] = corpus
      .orderBy(col(idCol)).limit(sampleN)
      .select(toDouble(col(vecCol)).as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "kmeansCentroids: empty corpus sample")
    val k = math.min(nCentroids, sample.length)
    val dim = sample(0).length
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    val unit = sample.map(normalize)
    var cents = Array.tabulate(k)(i => unit((i.toLong * unit.length / k).toInt).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      unit.foreach { v =>
        var bi = 0; var best = Double.NegativeInfinity; var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < dim) { d += v(i) * cents(c)(i); i += 1 }
          if (d > best) { best = d; bi = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(bi)(i) += v(i); i += 1 }
        counts(bi) += 1
      }
      cents = Array.tabulate(k)(c => if (counts(c) == 0) cents(c) else normalize(sums(c)))
      it += 1
    }
    cents.toSeq.zipWithIndex.map { case (v, i) => i -> v.toSeq }
  }

  /** IVF-style ANN: corpus is partitioned by nearest of C centroids (here a
    * deterministic sample of corpus vectors); queries probe the nProbe
    * nearest centroids and scan only those partitions. The assignment is a
    * broadcast of C centroid literals — at 100 TB the assignment pass is one
    * linear scan and the probe pass touches ~nProbe/C of the data. */
  def ivfAssign(corpus: DataFrame, centroids: Seq[(Int, Seq[Double])],
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val scored = array(centroids.map { case (cid, cvec) =>
      struct((-dot(toDouble(col(vecCol)), typedLit(cvec)) /
        (norm(toDouble(col(vecCol))) * typedLit(math.sqrt(cvec.map(x => x * x).sum)))).as("negcos"),
        lit(cid).as("cid"))
    }: _*)
    corpus.withColumn("centroid", sort_array(scored).getItem(0).getField("cid"))
  }

  /** IVF search: corpus pre-assigned to centroid partitions (ivfAssign);
    * each query probes its nProbe nearest centroids and exact-reranks only
    * those partitions — the probe pass touches ~nProbe/C of the corpus. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              centroids: Seq[(Int, Seq[Double])], k: Int, nProbe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding",
              qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val assigned = ivfAssign(corpus, centroids, idCol, vecCol)
      .select(col(idCol).as("nn_id"), toDouble(col(vecCol)).as("v"), col("centroid"))
    // probe order = the EXACT assignment score (-cos incl. the query-norm
    // division), not raw dot: k-means centroids are not unit-norm, so a
    // dot ordering can differ from the cos ordering — under the matched
    // metric, probe #1 is BY CONSTRUCTION the bucket this vector would be
    // assigned to (the planted-recall gates q34/q50 rely on this)
    def probeList(vec: Column): Column = {
      val scored = array(centroids.map { case (cid, cvec) =>
        struct((-dot(toDouble(vec), typedLit(cvec)) /
          (norm(toDouble(vec)) * typedLit(math.sqrt(cvec.map(x => x * x).sum)))).as("negcos"),
          lit(cid).as("cid"))
      }: _*)
      transform(slice(sort_array(scored), 1, nProbe), p => p.getField("cid"))
    }
    val probes = queries.select(col(qidCol).as("qid"), toDouble(col(qvecCol)).as("qv"),
      explode(probeList(col(qvecCol))).as("centroid"))
    val cands = assigned.join(broadcast(probes), "centroid")
      .filter(col("nn_id") =!= col("qid"))
      .select(col("qid"), col("nn_id"), cosine(col("v"), col("qv")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nn_id").asc)
    cands.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Near-duplicate embedding pairs at cosine >= threshold via multi-table
    * hyperplane LSH banding — the SCALE path whose bounded oracle baseline
    * is [[cosineNearDupPairs]] (q32). Two vectors become a candidate pair
    * when at least one of `nTables` independent plane sets assigns them the
    * same nPlanes-bit signature (P per table = (1-θ/π)^nPlanes, so genuine
    * near-dups at cosine ≥ .9 collide with ~0.94 probability at 12 planes ×
    * 16 tables, while the background corpus rarely does); candidates verify
    * with exact cosine. 100 TB shape mirrors minhashDedup fully: LSH runs
    * over DISTINCT vectors — identical embeddings (crawl copies) collapse
    * behind an md5(vector-bytes) groupBy before banding, so a duplicate
    * cluster costs the LSH nothing and expands to its complete true pair
    * set afterward, un-suppressed by the cap; the exploded relation
    * carries (fingerprint, rep-id, table, sig) — never the vector;
    * candidates meet in one (table, sig) shuffle with the same
    * first-maxBucket-pair + successor-chain skew guard; vectors re-join
    * only for verification.
    *
    * `md5Seeded = true` swaps the plane coefficients for
    * [[md5PlaneTables]]' integer grid over [[quantizeVec]]'d vectors —
    * bit-replayable cross-engine (q47's oracle rebuilds signatures,
    * buckets, candidates, and the cosine verify end to end); the
    * verification cosine always runs on the ORIGINAL vectors. */
  def embeddingNearDupPairs(emb: DataFrame, threshold: Double, dim: Int,
                            nPlanes: Int = EmbLshDefaults.NPlanes,
                            nTables: Int = EmbLshDefaults.NTables,
                            seed: Long = EmbLshDefaults.Seed,
                            maxBucket: Int = EmbLshDefaults.MaxBucket,
                            idCol: String = "vec_id", vecCol: String = "embedding",
                            md5Seeded: Boolean = false): DataFrame = {
    val tables = if (md5Seeded) md5PlaneTables(dim, nPlanes, nTables, seed)
      else planeTables(dim, nPlanes, nTables, seed)
    val base = emb.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
      .withColumn("fp", md5(to_json(col("v"))))
      .repartition(col("fp"))
    val reps = base.groupBy(col("fp"))
      .agg(min(col("id")).as("rid"), first(col("v")).as("v"))
    val sigIn = if (md5Seeded) quantizeVec(col("v")) else col("v")
    val ranked = reps
      .select(col("fp"), col("rid"), posexplode(
        graft.functions.VectorExprs.tableSignatures(sigIn, tables)).as(Seq("tbl", "sig")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("tbl"), col("sig")).orderBy(col("rid"))))
      .hint("merge")
    val candFps = ranked.as("a").join(ranked.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.sig") === col("b.sig") &&
          ((col("a.rn") < col("b.rn") && col("b.rn") <= maxBucket) ||
            col("b.rn") === col("a.rn") + 1))
      .select(col("a.fp").as("fp_a"), col("b.fp").as("fp_b"))
      .distinct()
    val verified = candFps
      .join(reps.select(col("fp").as("fp_a"), col("v").as("va")), "fp_a")
      .join(reps.select(col("fp").as("fp_b"), col("v").as("vb")), "fp_b")
      .select(col("fp_a"), col("fp_b"), cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
    val cross = Dedup.expandCross(verified, base.select(col("fp"), col("id")), "cos")
    // identical vectors: cosine computed by the same kernel on the shared
    // vector (not a lit(1.0)) so FP behavior matches the unguarded form
    val within = base.as("x").join(base.as("y"),
        col("x.fp") === col("y.fp") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        cosine(col("x.v"), col("y.v")).as("cos"))
      .filter(col("cos") >= threshold)
    cross.union(within)
  }

  /** Exact near-duplicate pairs by cosine >= threshold, pairwise WITHIN a
    * required blocking key (mirrors [[Dedup.ngramJaccardPairs]]): the
    * explicit `blockCol` is the guard that makes a silent whole-corpus
    * O(n^2) impossible to express — a caller who truly wants the bounded
    * brute-force baseline must say so with a constant block. The repartition
    * on the block is an exchange barrier: both self-join sides reuse one
    * shuffle and arrive co-partitioned on `blk`, so the equi-join adds no
    * further exchange. */
  def cosineNearDupPairs(emb: DataFrame, threshold: Double, blockCol: Column,
                         idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = emb.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"),
        blockCol.as("blk"))
      .repartition(col("blk"))
    v.as("a").join(v.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosine(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  // ---------------------------------------------------- product quantization
  /** Deterministic per-subspace codebooks for [[pqEncode]] — the same
    * hash-derived construction as [[pseudoCentroids]] (engine-reproducible,
    * no RNG), one `k`-centroid codebook per `subDim`-wide subspace.
    * Returns (subspace, centroidId, centroid). */
  def pqCodebooks(nSub: Int, subDim: Int, k: Int,
                  seed: Long = 11L): Seq[(Int, Int, Seq[Double])] =
    for { m <- 0 until nSub; c <- 0 until k }
      yield (m, c, (0 until subDim).toSeq.map(d => planeCoef(c, m * subDim + d, seed)))

  /** Product-quantization encoding (Jégou et al., PAMI'11): split each
    * vector into `nSub` contiguous `subDim`-wide subvectors and replace each
    * with the id of its nearest codebook centroid (squared L2, centroid-id
    * tie-break) — the memory-bound ANN representation (a 64-dim float vector
    * compresses to `nSub` bytes, so a re-rank table for 10^11 vectors fits
    * where raw vectors never would).
    *
    * 100 TB shape: the codebooks are plan literals (they broadcast inside
    * the generated code, like [[ivfAssign]]'s centroids); encoding is one
    * stateless projection — zero shuffles, zero joins. The squared-distance
    * folds run in subvector index order on both engines, so the argmin is
    * engine-exact (sqrt-free; monotone under DuckDB's `list_distance`).
    * Returns one row per (id, subspace) with the chosen `code`.
    */
  def pqEncode(corpus: DataFrame, nSub: Int, subDim: Int, k: Int,
               seed: Long = 11L,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cb = pqCodebooks(nSub, subDim, k, seed)
      .groupBy(_._1).map { case (m, rows) =>
        m -> rows.sortBy(_._2).map(_._3)
      }
    val v = toDouble(col(vecCol))
    def dist2(sub: Column, cent: Seq[Double]): Column =
      aggregate(zip_with(sub, array(cent.map(lit): _*), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    val perSub = (0 until nSub).map { m =>
      val sub = slice(v, m * subDim + 1, subDim)
      val best = array_min(array((0 until k).map { c =>
        struct(dist2(sub, cb(m)(c)).as("d"), lit(c).as("cid"))
      }: _*))
      struct(lit(m).as("subspace"), best.getField("cid").as("code"))
    }
    corpus.select(col(idCol), explode(array(perSub: _*)).as("__mc"))
      .select(col(idCol), col("__mc.subspace").as("subspace"),
        col("__mc.code").as("code"))
  }

  /** ADC (asymmetric distance computation) top-k over [[pqEncode]]'d codes:
    * each query precomputes its per-(subspace, centroid) squared-distance
    * lookup table (nSub·k rows/query — a broadcast literal relation), probes
    * the code relation on (subspace, code), and sums the table entries —
    * queries touch nSub bytes per corpus vector, never the vectors.
    *
    * DETERMINISM: each LUT entry is the fixed IEEE shape
    * (⟨v,v⟩ − 2⟨v,c⟩) + ‖c‖² over in-order dot folds, cast DECIMAL(28,12) at
    * the source — the per-candidate sum over subspaces is then exact and
    * shuffle-order-independent, so ranks are engine-identical (‖c‖² is a
    * plan literal both engines parse to the same double).
    * Returns (qid, nn_id, rank ≤ topK). */
  def pqSearchTopK(corpus: DataFrame, queries: DataFrame, nSub: Int,
                   subDim: Int, k: Int, topK: Int, seed: Long = 11L,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    import graft.functions.VectorExprs
    import org.apache.spark.sql.types.DecimalType
    val cb = pqCodebooks(nSub, subDim, k, seed)
      .groupBy(_._1).map { case (m, rows) => m -> rows.sortBy(_._2).map(_._3) }
    val codes = pqEncode(corpus, nSub, subDim, k, seed, idCol, vecCol)
    val qv = toDouble(col(qvecCol))
    val lutRows = for { m <- 0 until nSub; c <- 0 until k } yield {
      val vm = slice(qv, m * subDim + 1, subDim)
      val cent = array(cb(m)(c).map(lit): _*)
      val cn2 = lit(cb(m)(c).map(x => x * x).sum)
      struct(lit(m).as("m"), lit(c).as("cid"),
        ((VectorExprs.dotProduct(vm, vm) -
          lit(2.0) * VectorExprs.dotProduct(vm, cent)) + cn2)
          .cast(DecimalType(28, 12)).as("d"))
    }
    val lut = queries.select(col(qidCol).as("qid"),
        explode(array(lutRows: _*)).as("__l"))
      .select(col("qid"), col("__l.m").as("subspace"),
        col("__l.cid").as("code"), col("__l.d").as("__d"))
    val adc = codes.join(broadcast(lut), Seq("subspace", "code"))
      .filter(col(idCol) =!= col("qid"))
      .groupBy(col("qid"), col(idCol).as("nn_id"))
      .agg(sum(col("__d")).as("__dist"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("__dist").asc, col("nn_id").asc)
    adc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("nn_id"), col("rank"))
  }

  // ----------------------------------------------------- semantic dedup
  /** SemDeDup-style embedding-space deduplication (Abbas et al., 2023 —
    * public): vectors partition into k-means cells ([[ivfAssign]] against
    * broadcast centroid literals), pairwise cosine runs only WITHIN a
    * cell, and of any near-duplicate pair the larger id drops — keeping
    * one representative per semantic ball, greedily by id (deterministic;
    * the paper keeps an arbitrary member). Byte-identical payloads always
    * collapse to their min id (even degenerate zero vectors, whose cosine
    * is NaN) — the explicit contract that lets the pair join run on
    * DISTINCT vectors only. Cross-cell duplicates are
    * missed by design — that is the approximation that makes the method
    * linear-ish: cost is Σ m_c² over cell sizes, bounded by growing k with
    * the corpus (k ∝ N keeps E[m²] flat) — never the corpus-wide O(N²).
    * At 100 TB the cell relation shuffles once on `centroid`; vectors
    * never replicate beyond their one cell.
    *
    * Returns the kept rows: (idCol, centroid). */
  def semanticDedup(emb: DataFrame, centroids: Seq[(Int, Seq[Double])],
                    threshold: Double, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val assigned = ivfAssign(emb, centroids, idCol, vecCol)
      .select(col(idCol), toDouble(col(vecCol)).as("__v"), col("centroid"))
    // distinct-vector collapse before the quadratic term (the house rule,
    // cf. minhashDedup/embeddingNearDupPairs): byte-identical payloads
    // carry their min id — non-representative copies always drop (their
    // representative is a smaller-id exact duplicate), and a
    // representative's fate depends only on OTHER families' reps, so the
    // pairwise relation shrinks from corpus size to distinct-vector size.
    // A 20x-replicated corpus costs 400x less in the pair join.
    val reps = assigned.groupBy(col("__v"), col("centroid"))
      .agg(min(col(idCol)).as("__rep"))
    val a = reps.select(col("__rep").as("__ida"), col("__v").as("__va"),
      col("centroid"))
    val b = reps.select(col("__rep").as("__idb"), col("__v").as("__vb"),
      col("centroid"))
    val drops = a.join(b, "centroid")
      .filter(col("__idb") < col("__ida") &&
        cosine(col("__va"), col("__vb")) >= threshold)
      .select(col("__ida")).distinct()
    reps.join(drops, col("__rep") === drops("__ida"), "left_anti")
      .select(col("__rep").as(idCol), col("centroid"))
  }

  // ------------------------------------------------------- triplet mining
  /** Contrastive training-pair mining over an embedded corpus — the
    * (anchor, positive, negative) triplets a representation-learning run
    * consumes. Positives are within-cell near-duplicates (the
    * [[semanticDedup]] pair relation: cos >= threshold, anchor = smaller
    * id); the negative is drawn DETERMINISTICALLY by hash: anchor's md5
    * picks one of the OTHER k-means cells and takes that cell's min-id
    * vector — semantically distant with high probability (different cell
    * ⇒ different region of the space), reproducible in any engine, and
    * scalable because the negative lookup is a broadcast join against the
    * C-row cell-minimum relation, never a corpus-sized shuffle. Cells are
    * never empty when C ≤ corpus size under ivfAssign's argmax, but a
    * missing cell yields a null negative (left join) rather than a
    * dropped pair. Returns (anchor, positive, negative, cos_ap). */
  def mineTriplets(emb: DataFrame, centroids: Seq[(Int, Seq[Double])],
                   threshold: Double, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val nCells = centroids.size
    require(nCells >= 2, "need at least two cells for cross-cell negatives")
    val assigned = ivfAssign(emb, centroids, idCol, vecCol)
      .select(col(idCol), toDouble(col(vecCol)).as("__v"), col("centroid"))
    val a = assigned.select(col(idCol).as("anchor"), col("__v").as("__va"),
      col("centroid"))
    val b = assigned.select(col(idCol).as("positive"), col("__v").as("__vb"),
      col("centroid"))
    val pairs = a.join(b, "centroid")
      .filter(col("anchor") < col("positive") &&
        cosine(col("__va"), col("__vb")) >= threshold)
      .select(col("anchor"), col("positive"),
        round(cosine(col("__va"), col("__vb")), 6).as("cos_ap"),
        col("centroid"))
    val cellMin = assigned.groupBy(col("centroid").as("__nc"))
      .agg(min(col(idCol)).as("negative"))
    val draw = conv(substring(md5(concat(lit("trip"),
      col("anchor").cast("string"))), 1, 8), 16, 10).cast("long")
    val negCell = pmod(col("centroid") + lit(1) +
      pmod(draw, lit(nCells - 1)), lit(nCells))
    pairs.withColumn("__nc", negCell.cast("int"))
      .join(broadcast(cellMin), Seq("__nc"), "left")
      .select(col("anchor"), col("positive"), col("negative"), col("cos_ap"))
  }

  // ------------------------------------- centroid separation (silhouette)
  /** Centroid-based silhouette per label — the embedding-space cluster
    * quality report (is each label's region separated from its nearest
    * neighbor label?): for every vector, a = distance to its OWN label
    * centroid, b = distance to the nearest OTHER centroid, s = (b−a)/
    * max(a,b) ∈ [−1, 1]; the per-label mean is the separation score
    * (point-pair silhouette replaced by centroid distance — O(n·labels)
    * instead of O(n²), the same substitution SemDeDup makes).
    *
    * Determinism: centroids are decimal-exact means (q108); each squared
    * difference casts DECIMAL(28,12) so per-(vector, centroid) distance
    * sums are exact; s-terms cast DECIMAL(28,12) before the label mean.
    * The label × dim centroid relation broadcasts; the only corpus-keyed
    * work is one (vector, label) distance aggregate — bounded by
    * |labels|× the triple relation, the per-label-centroid contract
    * (labels are a vocabulary, not a key space). Degenerate points
    * (a = b = 0) score 0. Returns (labelCol, n, separation). */
  def centroidSeparation(df: DataFrame, idCol: String, labelCol: String,
                         vecCol: String): DataFrame = {
    val xs = df.select(col(idCol).as("__id"), col(labelCol).as("__l"),
        posexplode(col(vecCol)).as(Seq("__d0", "__xf")))
      .select(col("__id"), col("__l"), (col("__d0") + 1).as("__i"),
        col("__xf").cast("double").as("__x"))
    val c = xs.groupBy(col("__l").as("__cl"), col("__i"))
      .agg((sum(col("__x").cast("decimal(38,12)")).cast("double") /
        count(lit(1)).cast("double")).as("__c"))
    val d = xs.join(broadcast(c), Seq("__i"))
      .groupBy(col("__id"), col("__l"), col("__cl"))
      .agg(sqrt(sum(((col("__x") - col("__c")) * (col("__x") - col("__c")))
        .cast("decimal(28,12)")).cast("double")).as("__dist"))
    val own = d.filter(col("__l") === col("__cl"))
      .select(col("__id"), col("__l"), col("__dist").as("__a"))
    val other = d.filter(col("__l") =!= col("__cl"))
      .groupBy("__id").agg(min(col("__dist")).as("__b"))
    val s = when(greatest(col("__a"), col("__b")) > 0.0,
      (col("__b") - col("__a")) / greatest(col("__a"), col("__b")))
      .otherwise(lit(0.0)).cast("decimal(28,12)")
    own.join(other, Seq("__id"))
      .select(col("__l"), s.as("__s"))
      .groupBy(col("__l").as(labelCol))
      .agg(count(lit(1)).as("n"),
        round(sum(col("__s")).cast("double") /
          count(lit(1)).cast("double"), 6).as("separation"))
  }

  // ---------------------------------------- top principal direction (PCA)
  /** Top principal direction of the (uncentered) embedding matrix by power
    * iteration — the dominant axis of an embedding space (drift tracking,
    * anisotropy/"rogue dimension" checks, whitening prep). Uncentered =
    * the top right-singular vector of X itself; subtract the q108 centroid
    * upstream when the mean matters.
    *
    * The d×d Gram matrix is NEVER materialized: each iteration computes
    * X·(Xᵀv) as two vocabulary-shaped aggregates — s = Xᵀv per row (one
    * co-keyed join of the (id, dim, x) triples with the d-row v relation,
    * broadcast), then t_dim = Σ x·s (one combinable groupBy on dim). State
    * is O(n + d), work is O(nnz·iters): the shape that survives 10⁹ rows ×
    * 10³ dims, where materializing d² cells per row would not.
    *
    * Determinism (the q194/q228 discipline): every product casts
    * DECIMAL(28,12) at the source so the big sums are exact under any
    * merge order; each iteration renormalizes with one IEEE sqrt/divide
    * and re-quantizes v to 12dp — v is therefore bit-identical on every
    * engine at every iteration, and so is the final loading vector. v₀ is
    * the all-ones vector (exact; converges to the dominant direction for
    * any v₀ not orthogonal to it).
    *
    * Like connectedComponents, each round's d-row v MATERIALIZES
    * ([[graft.operators.Ops.materialize]]): v appears twice in the next
    * round's lineage (the s join and the norm), so without the cut the
    * plan doubles per round — linear recompute is the price of a d-row
    * write. Returns
    * (dim [1-based], loading) with loading rounded 6dp. */
  def topPrincipalComponent(df: DataFrame, idCol: String, vecCol: String,
                            iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 8, s"iters must be in [1,8]: $iters")
    val x = df.select(col(idCol).as("__id"),
        posexplode(col(vecCol)).as(Seq("__d0", "__xf")))
      .select(col("__id"), (col("__d0") + 1).as("dim"),
        col("__xf").cast("double").as("__x"))
    var v: DataFrame = x.select(col("dim")).distinct()
      .withColumn("__v", lit(1.0))
    for (i <- 1 to iters) {
      val s = x.join(broadcast(v), Seq("dim"))
        .groupBy("__id")
        .agg(sum((col("__x") * col("__v")).cast("decimal(28,12)"))
          .cast("double").as("__s"))
      val t = x.join(s, Seq("__id"))
        .groupBy("dim")
        .agg(sum((col("__x") * col("__s")).cast("decimal(28,12)"))
          .cast("double").as("__t"))
      val nrm = t.agg(
        sqrt(sum((col("__t") * col("__t")).cast("decimal(38,12)"))
          .cast("double")).as("__n"))
      val vNext = t.crossJoin(broadcast(nrm))
        .select(col("dim"), round(col("__t") / col("__n"), 12).as("__v"))
      // the final round stays lazy so the caller's plan composes; earlier
      // rounds cut eagerly to keep lineage linear, each cut superseding
      // the previous round's
      v = if (i < iters) graft.operators.Ops.materialize(vNext, v) else vNext
    }
    v.select(col("dim"), round(col("__v"), 6).as("loading"))
  }
  // ---------------------------------------------------- corpus diversity
  /** Mean pairwise cosine within each group WITHOUT the O(n²) pair join —
    * the corpus-diversity probe ("how redundant are this source's
    * embeddings"): for unit vectors, Σ_{i≠j} uᵢ·uⱼ = ‖Σu‖² − Σ‖uᵢ‖², and
    * Σ‖uᵢ‖² is n exactly (each ‖u‖² is 1 to an ulp), so
    * mean_cos = (‖Σu‖² − n)/(n·(n−1)) from ONE per-(group, dim) sum.
    *
    * Determinism: the labelCentroidCosines discipline — unit components
    * sum in DECIMAL(38,12) per (group, dim) (order-irrelevant), the
    * squared-component sum re-applies the cast, one IEEE finish, 6dp.
    * Zero-norm vectors are dropped (no direction, no evidence); groups
    * with n < 2 report null. State is groups × dim — corpus scans once.
    * Returns (group, n, mean_cos). */
  def groupDiversity(df: DataFrame, idCol: String, groupCol: String,
                     vecCol: String): DataFrame = {
    val ex = df.select(col(idCol).as("__id"), col(groupCol).as("__g"),
        posexplode(col(vecCol)).as(Seq("__i", "__v0")))
      .select(col("__id"), col("__g"), col("__i"),
        col("__v0").cast("double").as("__v"))
    val n2 = ex.groupBy("__id", "__g")
      .agg(sum((col("__v") * col("__v")).cast("decimal(38,12)"))
        .cast("double").as("__n2"))
      .filter(col("__n2") > 0)
    val unitSum = ex.join(n2, Seq("__id", "__g"))
      .groupBy("__g", "__i")
      .agg(sum((col("__v") / sqrt(col("__n2"))).cast("decimal(38,12)"))
        .cast("double").as("__s"))
    val s2 = unitSum.groupBy("__g")
      .agg(sum((col("__s") * col("__s")).cast("decimal(38,12)"))
        .cast("double").as("__s2"))
    n2.groupBy("__g").agg(count(lit(1)).as("n"))
      .join(s2, Seq("__g"))
      .select(col("__g").as("group"), col("n"),
        when(col("n") > 1,
          round((col("__s2") - col("n").cast("double")) /
            (col("n").cast("double") * (col("n") - 1).cast("double")), 6))
          .as("mean_cos"))
  }
  // ------------------------------------------------ per-dim standardize
  /** Per-dimension z-standardization of an embedding column (the
    * whitening-lite feature prep before distance work when dimensions
    * carry wildly different scales): z = (x − μ_d)/σ_d with population
    * moments per dimension. Emits the LONG form (id, dim [1-based], z) —
    * the join-ready shape the [[topPrincipalComponent]] machinery eats —
    * rather than rebuilding arrays (array re-assembly is one
    * sort_array/group away when a caller wants it).
    *
    * Determinism: μ and σ² come from DECIMAL(38,12) component sums (the
    * labelCentroidCosines discipline), z is one mirrored IEEE shape,
    * 6dp. Zero-variance dimensions report null z (no scale, no signal).
    * State is dims × 2; the corpus scans once. */
  def standardizeEmbeddings(df: DataFrame, idCol: String,
                            vecCol: String): DataFrame = {
    val x = df.select(col(idCol).as("id"),
        posexplode(col(vecCol)).as(Seq("__d0", "__xf")))
      .select(col("id"), (col("__d0") + 1).as("dim"),
        col("__xf").cast("double").as("__x"))
    val mom = x.groupBy("dim")
      .agg(count(lit(1)).as("__n"),
        sum(col("__x").cast("decimal(38,12)")).cast("double").as("__s1"),
        sum((col("__x") * col("__x")).cast("decimal(38,12)"))
          .cast("double").as("__s2"))
      .select(col("dim"),
        (col("__s1") / col("__n").cast("double")).as("__mu"),
        (col("__s2") / col("__n").cast("double") -
          (col("__s1") / col("__n").cast("double")) *
            (col("__s1") / col("__n").cast("double"))).as("__var"))
    x.join(broadcast(mom), Seq("dim"))
      .select(col("id"), col("dim"),
        when(col("__var") > 0,
          round((col("__x") - col("__mu")) / sqrt(col("__var")), 6))
          .as("z"))
  }

  // --------------------------------------------- anisotropy / PR report
  /** Embedding-space anisotropy report: per-dimension CENTERED variance
    * λ_d feeds the participation ratio PR = (Σλ)²/Σλ² — the effective
    * number of active dimensions (PR ≈ d is isotropic, PR ≈ 1 is a
    * rogue-dimension collapse; Gao et al.'s representation-degeneration
    * check without an SVD). λ terms round to DECIMAL(28,12) before the
    * Σλ/Σλ² sums; the top dimension is a deterministic (λ DESC, dim ASC)
    * election. One (dim) rollup; corpus scans once. Returns one row:
    * (n_dims, total_var, participation_ratio, top_dim, top_dim_share). */
  def participationRatio(df: DataFrame, vecCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val x = df.select(posexplode(col(vecCol)).as(Seq("__d0", "__xf")))
      .select((col("__d0") + 1).as("dim"), col("__xf").cast("double").as("__x"))
    val lam = x.groupBy("dim")
      .agg(count(lit(1)).as("__n"),
        sum(col("__x").cast("decimal(38,12)")).cast("double").as("__s1"),
        sum((col("__x") * col("__x")).cast("decimal(38,12)"))
          .cast("double").as("__s2"))
      .select(col("dim"),
        (col("__s2") / col("__n").cast("double") -
          (col("__s1") / col("__n").cast("double")) *
            (col("__s1") / col("__n").cast("double"))).as("__lam"))
    val top = lam.orderBy(col("__lam").desc, col("dim").asc).limit(1)
      .select(col("dim").as("top_dim"), col("__lam").as("__topLam"))
    lam.agg(count(lit(1)).as("n_dims"),
        sum(col("__lam").cast(DecimalType(28, 12))).cast("double").as("__sl"),
        sum((col("__lam") * col("__lam")).cast(DecimalType(28, 12)))
          .cast("double").as("__sl2"))
      .crossJoin(broadcast(top))
      .select(col("n_dims"), round(col("__sl"), 6).as("total_var"),
        when(col("__sl2") > 0,
          round(col("__sl") * col("__sl") / col("__sl2"), 6))
          .as("participation_ratio"),
        col("top_dim"),
        when(col("__sl") > 0, round(col("__topLam") / col("__sl"), 6))
          .as("top_dim_share"))
  }

  /** Per-row sorted (cosine-distance, cid) array against a literal
    * centroid list — the [[ivfAssign]] score shape with d = 1 + negcos,
    * shared by the cluster-quality indices below. Row-LOCAL: the
    * centroids are inlined literals, no join, no shuffle. */
  private def sortedCentroidDists(vecCol: Column,
      centroids: Seq[(Int, Seq[Double])]): Column = {
    val v = toDouble(vecCol)
    val scored = array(centroids.map { case (cid, cvec) =>
      struct((lit(1.0) + (-dot(v, typedLit(cvec)) /
        (norm(v) * typedLit(math.sqrt(cvec.map(x => x * x).sum)))))
        .as("d"), lit(cid).as("cid"))
    }: _*)
    sort_array(scored)
  }

  // --------------------------------------------- simplified silhouette
  /** Simplified (centroid-based) silhouette over a fixed centroid list:
    * per vector a = cosine distance to its own (nearest) centroid,
    * b = distance to the best OTHER centroid, s = (b − a)/max(a, b);
    * the corpus mean answers "are these clusters real" without the
    * O(n²) pairwise full silhouette.
    *
    * DETERMINISM AND SCALE: the distance array is row-LOCAL against the
    * literal centroids ([[ivfAssign]]'s exact score shape, (d, cid)
    * sort-order election) — zero shuffle before the single aggregate;
    * per-row s is fixed IEEE, summed as DECIMAL(28,12); a vector
    * equidistant at 0 from both nearest centroids contributes s = 0
    * (the max(a,b) = 0 degenerate, documented). Returns one row:
    * (n_vectors, n_clusters, silhouette) 6dp. */
  def simplifiedSilhouette(corpus: DataFrame,
      centroids: Seq[(Int, Seq[Double])],
      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(centroids.size >= 2, "need at least 2 centroids")
    val sorted = sortedCentroidDists(col(vecCol), centroids)
    val a = sorted.getItem(0).getField("d")
    val b = sorted.getItem(1).getField("d")
    val s = when(greatest(a, b) > 0.0, (b - a) / greatest(a, b))
      .otherwise(lit(0.0))
    corpus.agg(count(lit(1)).as("n_vectors"),
        sum(s.cast(DecimalType(28, 12))).as("__s"))
      .select(col("n_vectors"), lit(centroids.size).as("n_clusters"),
        round(col("__s").cast("double") /
          col("n_vectors").cast("double"), 6).as("silhouette"))
  }

  // ------------------------------------------------ Davies–Bouldin index
  /** Davies–Bouldin index (1979) over a fixed centroid list, cosine-
    * distance variant: S_i the mean distance of cluster i's members to
    * their centroid, M_ij the centroid-centroid distance,
    * DB = mean_i max_{j≠i} (S_i + S_j)/M_ij — lower is better-separated;
    * the compactness-vs-separation complement to
    * [[simplifiedSilhouette]]'s per-point view.
    *
    * DETERMINISM AND SCALE: assignment is the row-local literal-centroid
    * election; S_i comes from ONE groupBy over the assigned rows
    * (DECIMAL(28,12) distance sums); the pair relation is the bounded
    * k² centroid cross join, both sides computed from the SAME literal
    * values. Only NONEMPTY clusters enter (an empty cluster has no S;
    * n_clusters_used reports how many did); coincident centroids
    * (M = 0) are excluded from the max by the M > 0 guard. Returns one
    * row: (n_vectors, n_clusters_used, db_index) 6dp. */
  def daviesBouldin(corpus: DataFrame, centroids: Seq[(Int, Seq[Double])],
      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(centroids.size >= 2, "need at least 2 centroids")
    val spark = corpus.sparkSession
    import spark.implicits._
    val sorted = sortedCentroidDists(col(vecCol), centroids)
    val perCluster = corpus
      .select(sorted.getItem(0).getField("cid").as("cid"),
        sorted.getItem(0).getField("d").as("__d"))
      .groupBy("cid")
      .agg(count(lit(1)).as("__n"),
        sum(col("__d").cast(DecimalType(28, 12))).as("__sd"))
      .select(col("cid"), col("__n"),
        (col("__sd").cast("double") / col("__n").cast("double")).as("__s"))
    val cents = centroids.map { case (cid, v) =>
      (cid, v, math.sqrt(v.map(x => x * x).sum)) }
      .toDF("cid", "cv", "cnorm")
    val pairs = cents.select(col("cid").as("ci"), col("cv").as("cvi"),
        col("cnorm").as("cni"))
      .crossJoin(cents.select(col("cid").as("cj"), col("cv").as("cvj"),
        col("cnorm").as("cnj")))
      .filter(col("ci") =!= col("cj"))
      .select(col("ci"), col("cj"),
        (lit(1.0) + (-dot(col("cvi"), col("cvj")) /
          (col("cni") * col("cnj")))).as("__m"))
    val si = perCluster.select(col("cid").as("ci"), col("__s").as("__si"))
    val sj = perCluster.select(col("cid").as("cj"), col("__s").as("__sj"))
    val ratios = pairs.join(broadcast(si), Seq("ci"))
      .join(broadcast(sj), Seq("cj"))
      .groupBy("ci")
      .agg(max(when(col("__m") > 0.0,
        (col("__si") + col("__sj")) / col("__m"))).as("__r"))
    val tot = corpus.agg(count(lit(1)).as("n_vectors"))
    ratios.agg(count(lit(1)).as("n_clusters_used"),
        sum(col("__r").cast(DecimalType(28, 12))).as("__sr"))
      .crossJoin(broadcast(tot))
      .select(col("n_vectors"), col("n_clusters_used"),
        round(col("__sr").cast("double") /
          col("n_clusters_used").cast("double"), 6).as("db_index"))
  }

  // ---------------------------------------------------- Xie–Beni index
  /** Xie–Beni separation index (1991), spherical variant: with squared
    * point-to-centroid distance 2·d (unit-sphere identity
    * ‖v̂−c‖² = 2(1−cos)) and squared centroid separation 2·m,
    * XB = Σ 2·d_own / (n · min_{i≠j} 2·m_ij) — compactness per unit of
    * the WORST-case separation, the pessimist's [[daviesBouldin]].
    *
    * DETERMINISM AND SCALE: the numerator is one row-local aggregate
    * (DECIMAL(28,12)); the min separation is over the bounded literal
    * k² pair relation. Coincident centroids (min = 0) null loudly.
    * Returns one row: (n_vectors, min_separation, xie_beni) 6dp. */
  def xieBeni(corpus: DataFrame, centroids: Seq[(Int, Seq[Double])],
      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(centroids.size >= 2, "need at least 2 centroids")
    val spark = corpus.sparkSession
    import spark.implicits._
    val sorted = sortedCentroidDists(col(vecCol), centroids)
    val w = corpus
      .select((lit(2.0) * sorted.getItem(0).getField("d")).as("__w"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("__w").cast(DecimalType(28, 12))).as("__sw"))
    val cents = centroids.map { case (cid, v) =>
      (cid, v, math.sqrt(v.map(x => x * x).sum)) }
      .toDF("cid", "cv", "cnorm")
    val minSep = cents.select(col("cid").as("ci"), col("cv").as("cvi"),
        col("cnorm").as("cni"))
      .crossJoin(cents.select(col("cid").as("cj"), col("cv").as("cvj"),
        col("cnorm").as("cnj")))
      .filter(col("ci") =!= col("cj"))
      .agg(min(lit(2.0) * (lit(1.0) + (-dot(col("cvi"), col("cvj")) /
        (col("cni") * col("cnj"))))).as("__ms"))
    w.crossJoin(broadcast(minSep))
      .select(col("n_vectors"), round(col("__ms"), 6).as("min_separation"),
        round(when(col("__ms") > 0.0, col("__sw").cast("double") /
          (col("n_vectors").cast("double") * col("__ms"))), 6)
          .as("xie_beni"))
  }

  // ----------------------------------------------- cluster balance report
  /** Assignment balance over a fixed centroid list: nonempty-cluster
    * count, the largest cluster's share, and the normalized assignment
    * entropy H/ln(k_used) — the partition-skew gate an IVF index must
    * pass BEFORE [[ivfTopK]]'s probe cost makes sense (one hot partition
    * = brute force in disguise).
    *
    * DETERMINISM AND SCALE: assignment is row-local; sizes are exact
    * integers off ONE groupBy; max share is an exact rational; entropy
    * cells −(n_i/N)·ln(n_i/N) cast DECIMAL(28,12) (the [[TextAnalysis
    * .hillNumbers]] discipline). A single nonempty cluster nulls the
    * normalized entropy (ln 1 = 0). Returns one row:
    * (n_vectors, n_clusters_used, max_share, balance_entropy) 6dp. */
  def clusterBalance(corpus: DataFrame,
      centroids: Seq[(Int, Seq[Double])],
      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(centroids.size >= 2, "need at least 2 centroids")
    val sorted = sortedCentroidDists(col(vecCol), centroids)
    val sizes = corpus
      .select(sorted.getItem(0).getField("cid").as("cid"))
      .groupBy("cid").agg(count(lit(1)).as("__n"))
    val tot = sizes.agg(sum(col("__n")).as("n_vectors"))
    val p = col("__n").cast("double") / col("n_vectors").cast("double")
    sizes.crossJoin(broadcast(tot))
      .agg(first(col("n_vectors")).as("n_vectors"),
        count(lit(1)).as("n_clusters_used"),
        max(col("__n")).as("__mx"),
        sum((-p * log(p)).cast(DecimalType(28, 12))).cast("double")
          .as("__h"))
      .select(col("n_vectors"), col("n_clusters_used"),
        round(col("__mx").cast("double") /
          col("n_vectors").cast("double"), 6).as("max_share"),
        round(when(col("n_clusters_used") >= 2L, col("__h") /
          log(col("n_clusters_used").cast("double"))), 6)
          .as("balance_entropy"))
  }
}
