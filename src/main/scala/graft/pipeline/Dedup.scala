package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Ops

/** Deduplication family for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard. All are single logical plans built from
  * codegen'd built-ins.
  *
  * Scale design (100 TB):
  *   - exact dedup shuffles once on the content hash (not the content);
  *   - MinHash/SimHash signatures are computed per-row with zero shuffle;
  *     candidate generation shuffles on (band, bucket) — the only quadratic
  *     risk is bucket skew, and verification only touches candidate pairs;
  *   - brute-force pairwise paths exist for oracle-checked correctness and
  *     require an explicit blocking column so they can never silently go
  *     O(n^2) over a whole corpus.
  */
object Dedup {

  // ------------------------------------------------------------ shingling
  /** Word n-gram shingles of a text column (n=1 → distinct word set).
    * Native single-pass kernel; `wordShinglesComposed` is the equivalent
    * built-in form (set-equal output, spec-pinned). */
  def wordShingles(text: Column, n: Int): Column =
    graft.functions.SketchExprs.wordShingles(text, n)

  def wordShinglesComposed(text: Column, n: Int): Column = {
    val toks = split(trim(lower(text)), "\\s+")
    val grams =
      if (n == 1) toks
      else when(size(toks) < n, array(concat_ws(" ", toks)))
        .otherwise(transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
    array_distinct(grams)
  }

  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  // ---------------------------------------------------------- exact dedup
  /** Exact dedup on a fingerprint: one row per distinct content, keeping the
    * minimum id, with the duplicate count. Hash-shuffle on the 128-bit
    * fingerprint, never on the (possibly huge) content itself. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Duplicate-cluster size distribution — the corpus-health histogram
    * behind dedup planning (how much mass sits in how-big clusters):
    * cluster_size → (n_clusters, n_docs). Two count aggregates over the
    * fingerprint relation; the second groups the first's output (bounded by
    * the distinct sizes), content never shuffles. */
  def dupClusterSizes(df: DataFrame, textCol: String): DataFrame =
    df.select(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))

  /** Pairwise content overlap between groups (sources, crawls, snapshot
    * dates): the distinct (group, fingerprint) relation self-joins co-keyed
    * on the fingerprint — [[TextAnalysis.vocabOverlap]]'s shape at content
    * grain — giving shared-document counts and Jaccard per group pair.
    * Text never joins; only 128-bit fingerprints shuffle. The forensic
    * that finds mirrored/recrawled sources before they double-count. */
  def contentOverlapMatrix(df: DataFrame, groupCol: String,
                           textCol: String): DataFrame = {
    val b = df.select(col(groupCol).as("__g"),
      TextAnalysis.fingerprint(col(textCol)).as("__fp")).distinct()
    val sizes = b.groupBy("__g").agg(count(lit(1)).as("__n"))
    val pairs = b.join(b.select(col("__g").as("__g2"), col("__fp")), Seq("__fp"))
      .filter(col("__g") < col("__g2"))
      .groupBy(col("__g").as("src_a"), col("__g2").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(sizes.select(col("__g").as("src_a"), col("__n").as("__na")), Seq("src_a"))
      .join(sizes.select(col("__g").as("src_b"), col("__n").as("__nb")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        round(col("n_shared") /
          (col("__na") + col("__nb") - col("n_shared")).cast("double"), 6)
          .as("jaccard"))
  }

  // -------------------------------------------------------- MinHash + LSH
  /** numHashes minhash values per row: h_i = min over shingles of
    * xxhash64(shingle, i). Banded into `bands` buckets for LSH.
    * `maxBucket` is the per-(band,bucket) skew guard: the first maxBucket
    * members of a bucket pair fully; members past the cap only chain to
    * their immediate neighbor (linear candidates — see minhashDedup). */
  final case class MinHashConfig(numHashes: Int = 64, bands: Int = 16,
      shingleN: Int = 3, threshold: Double = 0.7, maxBucket: Int = 4096,
      md5Seeded: Boolean = false) {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(maxBucket >= 2, "maxBucket must allow at least one pair")
    def rowsPerBand: Int = numHashes / bands
  }

  /** 60-bit integer from the first 15 md5 nibbles — the q232/q29 decode
    * discipline that makes a hash ENGINE-REPLAYABLE (DuckDB reproduces
    * the exact value from its own md5). Production paths keep xxhash64
    * (codegen'd, ~6x faster); md5-seeded mode exists so the FULL banded
    * pipeline can run under a dual-engine oracle (q30/q31). */
  private[graft] def md5h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Kirsch-Mitzenmacher double hashing: two string hashes per shingle
    * (h1, h2); the i-th hash function is h1 + i*h2. */
  def shingleHashPairs(shingles: Column): Column =
    transform(shingles, s => struct(xxhash64(s).as("h1"), xxhash64(s, lit(1)).as("h2")))

  /** Signature from precomputed hash pairs — pure bit ops (h1 XOR rotl(h2,i):
    * overflow-free under ANSI mode, unlike multiply-add). Keep the pairs in
    * their own column behind an exchange barrier (see minhashDedup): inlined
    * into this lambda they would be re-evaluated once per hash function
    * (CollapseProject), turning 2 string hashes per shingle into
    * 2*numHashes. */
  def minhashSignatureFromPairs(pairs: Column, cfg: MinHashConfig): Column =
    array((0 until cfg.numHashes).map { i =>
      array_min(transform(pairs, p => {
        val h2 = p.getField("h2")
        val rot = if (i == 0) h2
          else shiftleft(h2, i).bitwiseOR(shiftrightunsigned(h2, 64 - i))
        p.getField("h1").bitwiseXOR(rot)
      }))
    }: _*)

  def minhashSignature(shingles: Column, cfg: MinHashConfig): Column =
    minhashSignatureFromPairs(shingleHashPairs(shingles), cfg)

  /** One (band, bucket) row per band: bucket = hash of that signature
    * slice (md5 of the JSON rendering in md5-seeded mode — DuckDB rebuilds
    * the identical string from array_to_string). */
  private def bandBuckets(sig: Column, cfg: MinHashConfig): Column =
    array((0 until cfg.bands).map { b =>
      val sl = slice(sig, b * cfg.rowsPerBand + 1, cfg.rowsPerBand)
      struct(lit(b).as("band"),
        (if (cfg.md5Seeded) md5(to_json(sl)).cast("string")
         else xxhash64(sl).cast("string")).as("bucket"))
    }: _*)

  /** Candidate pairs whose signatures collide in >=1 band, then exact-Jaccard
    * verified against `threshold`. Returns (id_a, id_b, jaccard) with
    * id_a < id_b.
    *
    * LSH runs over DISTINCT shingle sets, not rows — a dedup operator's
    * input is by definition duplicate-heavy, and row-level banding puts
    * every copy of a text in the same bucket of every band (quadratic in
    * the copy count before any verification). Signatures and jaccard both
    * depend only on the shingle SET, so rows group by a set fingerprint
    * (md5 of the sorted set — the same equate-by-hash the exact-dedup path
    * uses), one representative per set runs the banded LSH + verification,
    * and pairs expand afterward: within-set pairs at jaccard 1.0 (genuine
    * duplicates, output-bounded), cross-set pairs carrying the verified
    * representative jaccard. Identical-copy clusters therefore cost the
    * LSH NOTHING regardless of size; see simhashDedup for the measured
    * counterpart (94M -> 237k candidates at 20x replication).
    *
    * Skew guard for near-identical-but-distinct sets: members of a
    * (band,bucket) are ranked by a window (its exchange+sort is the same
    * key the self-join needs); (a,b) pair iff a precedes b within the
    * first maxBucket members (full pairing for normal buckets) OR b is a's
    * immediate successor (chains an oversized bucket's tail — candidates
    * linear past the cap, reachability preserved). The merge hint pins the
    * sort-merge shape a non-broadcastable 100 TB corpus gets anyway.
    *
    * Shingling computes once per exchange consumer behind the fp-keyed
    * repartition barrier (without one, CollapseProject re-derives it from
    * raw text at every use — measured 365s -> ~10s at sf0.1); the groupBy
    * and both expansion joins reuse the same fp partitioning; the hp
    * column feeds the native signature kernel exactly once. */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    // ONE shingling pass, then an eager cut of the distinct-set relation
    // (r16; guide §7.2): the former per-row `base` had five plan consumers
    // (the set groupBy, both within-pair self-join sides, both expansion
    // joins), and column pruning specializes each subtree below its
    // exchange — neither exchange reuse nor AQE's stage cache unifies
    // them, so shingling re-ran per consumer (4 full-corpus map stages in
    // q70's profile). Grouping member ids into a sorted array gives the
    // groupBy a SINGLE consumer for the raw corpus, and the cut pins the
    // distinct-set relation (fp, rid, ids, sh) — bounded by the distinct
    // corpus, the same data the old plan shuffled — for the sig/verify/
    // expansion consumers. Within-set pairs come from the ids array by
    // the posexplode+slice successor enumeration (the copurchaseEdges
    // form) instead of a self-join: identical (x.id < y.id) pairs.
    val grouped = Ops.materialize(df.select(col(idCol).as("id"),
        wordShingles(col(textCol), cfg.shingleN).as("sh"))
      .withColumn("fp", md5(to_json(array_sort(col("sh")))))
      .repartition(col("fp"))
      .groupBy(col("fp"))
      .agg(min(col("id")).as("rid"), sort_array(collect_list(col("id"))).as("ids"),
        first(col("sh")).as("sh")))
    val reps0 = grouped.select(col("fp"), col("rid"), col("sh"))
    // md5-seeded mode: numHashes independent salted md5 minima (the q371
    // signature, oracle-replayable) through the native kernel — the
    // composed transform/array_min form ran 64 interpreted lambdas per
    // row re-rendering hex + parsing base-16 per shingle (measured: the
    // whole cost of q30); production: the native KM kernel
    val sigs =
      if (cfg.md5Seeded) reps0.select(col("fp"), col("rid"),
        graft.functions.SketchExprs.md5MinhashSignature(col("sh"),
          cfg.numHashes).as("sig"))
      else reps0.withColumn("hp", shingleHashPairs(col("sh")))
        .select(col("fp"), col("rid"),
          graft.functions.SketchExprs.minhashSignature(col("hp"),
            cfg.numHashes).as("sig"))
    val reps = reps0
    val banded = sigs.select(col("fp"), col("rid"),
        explode(bandBuckets(col("sig"), cfg)).as("bb"))
      .select(col("fp"), col("rid"), col("bb.band"), col("bb.bucket"))

    val ranked = banded.withColumn("rn", row_number().over(
      Window.partitionBy(col("band"), col("bucket")).orderBy(col("rid"))))
      .hint("merge")
    val candFps = ranked.as("a").join(ranked.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          ((col("a.rn") < col("b.rn") && col("b.rn") <= cfg.maxBucket) ||
            col("b.rn") === col("a.rn") + 1))
      .select(col("a.fp").as("fp_a"), col("b.fp").as("fp_b"))
      .distinct()

    val verified = candFps
      .join(reps.select(col("fp").as("fp_a"), col("sh").as("sh_a")), "fp_a")
      .join(reps.select(col("fp").as("fp_b"), col("sh").as("sh_b")), "fp_b")
      .select(col("fp_a"), col("fp_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= cfg.threshold)

    val members = grouped.select(col("fp"), explode(col("ids")).as("id"))
    val cross = expandCross(verified, members, "jaccard")
    cross.union(withinPairs(grouped, lit(1.0).as("jaccard")))
  }

  /** Within-set pairs of a dedup's distinct-set relation, from each set's
    * sorted `ids` array: slice(ids, i+2, n-i-1) enumerates exactly the
    * successors of the i-th (0-based) element, and equal successors are
    * dropped — the same strict id_a < id_b pairs a self-join on
    * `x.id < y.id` produces, so a duplicated id emits no self-pair. Every
    * pair carries `metric`, the set's exact-duplicate score (genuine
    * duplicates, output-bounded). */
  private def withinPairs(grouped: DataFrame, metric: Column): DataFrame =
    grouped.filter(size(col("ids")) >= 2)
      .select(posexplode(col("ids")).as(Seq("__i", "id_a")), col("ids"))
      .select(col("id_a"), explode(expr(
        "slice(ids, __i + 2, size(ids) - __i - 1)")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), metric)

  /** Cross-corpus near-dup pairs: documents of `corpus` that are MinHash
    * near-duplicates of any document in `reference` — fuzzy decontamination
    * (drop training docs near-dup to an eval set), the doc-level
    * complement of [[Curation.contamination]]'s exact n-gram overlap.
    * Returns (corpus_id, ref_id, jaccard).
    *
    * Implementation: ids map to even (corpus) / odd (reference), the union
    * runs the ONE audited [[minhashDedup]] path (distinct-set collapse,
    * banding, skew guards, exact verification — nothing re-derived), and
    * same-side pairs drop on parity. Ids must be non-negative and under
    * 2^62 (the doubling must not overflow). */
  def crossCorpusNearDups(corpus: DataFrame, reference: DataFrame,
                          idCol: String, textCol: String,
                          cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    val a = corpus.select((col(idCol).cast("long") * 2).as("id"),
      col(textCol).as("text"))
    val b = reference.select((col(idCol).cast("long") * 2 + 1).as("id"),
      col(textCol).as("text"))
    minhashDedup(a.union(b), "id", "text", cfg)
      .filter(pmod(col("id_a"), lit(2)) =!= pmod(col("id_b"), lit(2)))
      .select(
        // shiftright, not `/ 2`: Divide coerces long -> double, which
        // corrupts ids past 2^53 (inside the documented 2^62 domain)
        shiftright(when(pmod(col("id_a"), lit(2)) === 0, col("id_a"))
          .otherwise(col("id_b")), 1).as("corpus_id"),
        shiftright(when(pmod(col("id_a"), lit(2)) === 1, col("id_a"))
          .otherwise(col("id_b")), 1).as("ref_id"),
        col("jaccard"))
  }

  // ---------------------------------------------------------------- SimHash
  /** Hamming distance between two simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash signature of a text column — the ONE tokenize+hash+fold shared
    * by the batch (simhashDedup) and streaming (Streams.nearDupStream)
    * paths, so tokenization changes cannot diverge between them.
    * md5Seeded folds 60-bit md5 token hashes instead (the q29 replayable
    * form — same native fold kernel, oracle-reproducible hashes). */
  private[graft] def simhashSig(text: Column,
                                md5Seeded: Boolean = false): Column = {
    val toks = split(trim(lower(text)), "\\s+")
    graft.functions.SketchExprs.simhash64(
      // md5-seeded: the native per-array kernel (one MessageDigest pass)
      // instead of an interpreted per-token md5h60 transform lambda
      if (md5Seeded) graft.functions.SketchExprs.md5H60Array(toks)
      else transform(toks, t => xxhash64(t)))
  }

  /** The 4x16-bit (band, bucket) structs of a simhash — shared banding. */
  private[graft] def simhashBandArray(sh: Column): Column =
    array((0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(sh, b * 16).bitwiseAND(lit(0xFFFFL)).as("bucket"))
    }: _*)

  /** Expand verified distinct-fingerprint pairs (fp_a, fp_b, score) to
    * member-id pairs — the shared cross-expansion tail of the
    * collapse/expand dedup paths (minhash, simhash, embedding).
    * `members` must carry (fp, id); the score column passes through. */
  private[pipeline] def expandCross(verified: DataFrame, members: DataFrame,
                                    scoreCol: String): DataFrame =
    verified
      .join(members.select(col("fp").as("fp_a"), col("id").as("ia")), "fp_a")
      .join(members.select(col("fp").as("fp_b"), col("id").as("ib")), "fp_b")
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col(scoreCol))

  /** Near-dup pairs by SimHash: 4x16-bit band LSH for candidates (the
    * pigeonhole guarantee: hamming <= 3 forces at least one identical
    * band), verified by exact hamming <= maxHamming.
    *
    * LSH runs over DISTINCT signatures, not rows: duplicated corpora
    * (boilerplate, crawl copies) put every copy of a text in the same
    * bucket of every band, so row-level banding goes quadratic in the copy
    * count — measured 94M candidates for 100k docs at 20x replication,
    * where distinct-signature banding yields 237k and then expands to the
    * same exact pair set (within-signature pairs at hamming 0 + cross-
    * signature pairs carrying the verified hamming). One groupBy on the
    * signature, banding over unique signatures with the same first-
    * maxBucket + successor-chain skew guard as minhashDedup, and two
    * sh-keyed expansion joins that reuse the barrier's co-partitioning. */
  def simhashDedup(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 4096,
                   md5Seeded: Boolean = false): DataFrame = {
    // native single-pass kernel (references the token hashes exactly once,
    // so no CollapseProject blowup). ONE tokenize+hash pass, then an eager
    // cut of the distinct-signature relation (r16, the minhashDedup
    // treatment): the former per-row `sigs` had five plan consumers whose
    // pruned subtrees never unify, so the text pass re-ran per consumer;
    // grouping member ids into a sorted array leaves the raw corpus with a
    // SINGLE consumer and the cut pins (sh, rid, ids) — |distinct sigs|
    // rows — for banding and expansion. Within-signature pairs enumerate
    // from the ids array (the copurchaseEdges posexplode+slice form) —
    // identical (x.id < y.id) pairs to the former self-join.
    val grouped = Ops.materialize(df.select(col(idCol).as("id"),
        simhashSig(col(textCol), md5Seeded).as("sh"))
      .repartition(col("sh"))
      .groupBy(col("sh"))
      .agg(min(col("id")).as("rid"), sort_array(collect_list(col("id"))).as("ids")))
    val reps = grouped.select(col("sh"), col("rid"))
    val banded = reps.select(col("rid"), col("sh"),
        explode(simhashBandArray(col("sh"))).as("bb"))
      .select(col("rid"), col("sh"), col("bb.band"), col("bb.bucket"))
    val ranked = banded.withColumn("rn", row_number().over(
        Window.partitionBy(col("band"), col("bucket")).orderBy(col("rid"))))
      .hint("merge")
    val verified = ranked.as("a").join(ranked.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          ((col("a.rn") < col("b.rn") && col("b.rn") <= maxBucket) ||
            col("b.rn") === col("a.rn") + 1))
      .select(col("a.sh").as("fp_a"), col("b.sh").as("fp_b"))
      .distinct()
      .withColumn("hamming", hamming(col("fp_a"), col("fp_b")))
      .filter(col("hamming") <= maxHamming)
    val cross = expandCross(verified,
      grouped.select(col("sh").as("fp"), explode(col("ids")).as("id")), "hamming")
    cross.union(withinPairs(grouped, lit(0).as("hamming")))
  }

  /** 64-bit SimHash of whitespace tokens as one LongType column: bit b is
    * set iff the sum over tokens of (+1 if bit b of xxhash64(token) else -1)
    * is positive. Row-local expression, zero shuffle; the 64 constant bit
    * positions unroll at codegen time. */
  def simhash(text: Column): Column =
    simhashFromHashes(transform(split(trim(lower(text)), "\\s+"), t => xxhash64(t)))

  /** SimHash from precomputed token hashes (keep the hashes in their own
    * persisted column on hot paths — see simhashDedup). */
  def simhashFromHashes(hashes: Column): Column =
    (0 until 64).map { b =>
      when(
        aggregate(hashes, lit(0L), (acc, h) =>
          acc + when(shiftrightunsigned(h, b).bitwiseAND(lit(1L)) === 1L, lit(1L))
            .otherwise(lit(-1L))) > 0,
        lit(1L << b)).otherwise(lit(0L))
    }.reduce((a, c) => a.bitwiseOR(c))

  // -------------------------------------------- pair resolution (clusters)
  /** Connected components over a near-dup pair list: resolves the pairwise
    * output of any dedup path (minhash/simhash/cosine/jaccard) into
    * clusters so a pipeline can keep one document per component. Returns
    * (id, cluster) for every id appearing in a pair, where cluster = the
    * minimum id reachable in the component, plus is_keep = (id == cluster)
    * — the canonical keep-list rule.
    *
    * Algorithm: min-label propagation WITH pointer jumping — each round a
    * node takes the least of its own label, its neighbors' labels (one
    * shuffle join + aggregation on the edge list), and its label's label
    * (one self-join). The jump doubles the distance information travels,
    * so rounds needed = O(log diameter): a 10^6-long chain — the shape the
    * LSH skew guard deliberately emits for capped buckets — converges in
    * ~20 rounds where plain propagation would need 10^6. Same hop-doubling
    * idea as GraphFrames' alternating-star CC. Lineage is cut per round
    * with [[graft.operators.Ops.materialize]] — an iterative fixed point
    * cannot be one declarative plan — and each round releases the
    * previous round's cut. At 100 TB each round is a plain
    * keyed shuffle — no driver-side data beyond the convergence count. */
  def connectedComponents(pairs: DataFrame, srcCol: String = "id_a",
                          dstCol: String = "id_b", maxIter: Int = 50): DataFrame = {
    // materialize the symmetric edge list once — every propagation round
    // joins it, and without the checkpoint each round's action would
    // re-execute the whole upstream pair-generation pipeline
    val sym = Ops.materialize(pairs.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .union(pairs.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .distinct())
    var labels = Ops.materialize(sym.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id")))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = sym.join(labels, sym("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("cluster")).as("nbr"))
      // pointer jump: the label of my label (labels always contains every
      // cluster id, because cluster ids are node ids)
      val jump = labels.as("x").join(labels.as("y"), col("x.cluster") === col("y.id"))
        .select(col("x.id").as("jid"), col("y.cluster").as("jcluster"))
      // the changed flag rides along INSIDE the round's checkpoint (the old
      // label is still in scope pre-projection), so convergence is a
      // short-circuit scan of materialized blocks — not the extra
      // next-vs-labels join + full count an earlier version paid per round
      val next = Ops.materialize(labels
        .join(nbrMin, labels("id") === nbrMin("src"), "left")
        .join(jump, labels("id") === jump("jid"))
        .select(col("id"), col("cluster").as("old"),
          least(col("cluster"), coalesce(col("nbr"), col("cluster")),
            col("jcluster")).as("next_cluster"))
        .select(col("id"), col("next_cluster").as("cluster"),
          (col("next_cluster") =!= col("old")).as("changed")), labels)
      converged = next.filter(col("changed")).isEmpty
      labels = next.select(col("id"), col("cluster"))
      i += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    labels.withColumn("is_keep", col("id") === col("cluster"))
  }

  /** Cluster near-dup pairs and elect the BEST member of each cluster to
    * keep — the production keep rule (retain the highest-quality copy)
    * where [[connectedComponents]]' bare is_keep retains the minimum id.
    * `scores` carries (idCol, scoreCol); keep = highest score, ties to the
    * lowest id. Returns (id, cluster, score, keep_id, is_keep).
    *
    * The election is a map-side-combinable `min(struct(-score, id))` per
    * cluster — no window, so one giant cluster costs an aggregation, not a
    * single-partition sort. Members absent from `scores` are excluded from
    * both the election and the output (inner join — the caller's score
    * relation defines the electorate). */
  def keepBestPerCluster(pairs: DataFrame, scores: DataFrame,
                         idCol: String, scoreCol: String,
                         srcCol: String = "id_a", dstCol: String = "id_b"): DataFrame = {
    val labeled = connectedComponents(pairs, srcCol, dstCol)
      .select(col("id"), col("cluster"))
      .join(scores.select(col(idCol).cast("long").as("id"),
        col(scoreCol).cast("double").as("score")), Seq("id"))
    val best = labeled.groupBy(col("cluster"))
      .agg(min(struct((-col("score")).as("ns"), col("id"))).as("m"))
      .select(col("cluster"), col("m.id").as("keep_id"))
    labeled.join(best, "cluster")
      .select(col("id"), col("cluster"), col("score"), col("keep_id"),
        (col("id") === col("keep_id")).as("is_keep"))
  }

  // -------------------------------------------------------- n-gram Jaccard
  /** Exact pairwise n-gram Jaccard within a blocking key (length bucket,
    * source, LSH bucket, ...). The explicit block prevents accidental
    * whole-corpus O(n^2); near-dups land in the same/adjacent block because
    * Jaccard >= t forces similar sizes.
    *
    * This is the deliberately SIMPLE member of the family: one exchange
    * barrier on the block, one co-partitioned self-join, exact jaccard per
    * in-block pair. Duplicate-heavy corpora should use [[minhashDedup]] /
    * [[simhashDedup]], whose distinct-set banding collapses copies before
    * any pairing — here the block is the guard, and in-block work is the
    * contract (a distinct-set variant was measured 1.7x slower on the
    * small blocks this op is for). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCol: Column, n: Int = 3,
                        threshold: Double = 0.8): DataFrame = {
    // exchange barrier keyed on the blocking column: both self-join sides
    // reuse one shuffle AND arrive hash-partitioned on blk, so the equi-join
    // needs no further exchange; nothing stays cached after the query.
    val base = df.select(col(idCol).as("id"),
        wordShingles(col(textCol), n).as("sh"), blockCol.as("blk"))
      .repartition(col("blk"))
    base.as("a").join(base.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        jaccard(col("a.sh"), col("b.sh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Blocked containment (asymmetric-Jaccard) pairs: |A∩B|/|A| ≥ threshold
    * — near-SUBSET detection where symmetric Jaccard goes blind (a quote
    * inside a long page, a truncated mirror, a doc swallowed by an
    * aggregator: J can be ~0 while containment is 1). Same required-block
    * contract and single blk-keyed exchange as [[ngramJaccardPairs]]; both
    * orientations score (A⊂B and B⊂A are different facts), each pair
    * emitted once with the two containments side by side. The block is
    * all-pairs INSIDE, so it must be a real selective key (a URL host, a
    * near-dup cluster) — for a whole-corpus or hot-block-prone scan use
    * [[containmentJoinPrefix]], which needs no block at all. Returns
    * (id_a, id_b, containment_a_in_b, containment_b_in_a). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       blockCol: Column, n: Int = 3,
                       threshold: Double = 0.5): DataFrame = {
    val base = df.select(col(idCol).as("id"),
        wordShingles(col(textCol), n).as("sh"), blockCol.as("blk"))
      .repartition(col("blk"))
    val inter = size(array_intersect(col("a.sh"), col("b.sh"))).cast("double")
    val cab = inter / size(col("a.sh")).cast("double")
    val cba = inter / size(col("b.sh")).cast("double")
    base.as("a").join(base.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(cab, 6).as("containment_a_in_b"),
        round(cba, 6).as("containment_b_in_a"))
      .filter(col("containment_a_in_b") >= threshold ||
        col("containment_b_in_a") >= threshold)
  }

  // ---------------------------------------------- prefix-filter set-sim join
  /** Exact all-pairs set-similarity self-join WITHOUT a block column — the
    * AllPairs/PPJoin prefix-filtering algorithm (Bayardo et al., WWW'07;
    * public): order every document's distinct tokens by (global frequency
    * ASC, token ASC) — one total order for the whole corpus — and index
    * only each document's first n − ceil(τ·n) + 1 tokens. Two sets with
    * Jaccard ≥ τ MUST share their smallest common token inside both
    * prefixes (if all overlap sat in A's suffix of ceil(τ·n)−1 tokens, the
    * overlap — which is ≥ ceil(τ·n) — could not fit), so the token-keyed
    * candidate join is LOSSLESS while touching only the rarest slice of
    * each document. Candidates then verify by exact set Jaccard with the
    * integer cross-multiply gate q·|∩| ≥ p·|∪| (τ = p/q — no float
    * boundary).
    *
    * Scale: this is THE whole-corpus exact-Jaccard join that
    * [[ngramJaccardPairs]]' required `blockCol` refuses to run naively.
    * Cost is governed by prefix-token bucket sizes: prefixes hold each
    * corpus' RAREST tokens (frequency-ascending order), so hot tokens
    * never enter the join; the frequency relation is one token-keyed
    * aggregate, the prefix selection one per-doc rank over the
    * (doc → token) relation, candidates one equi join. τ bounds the
    * prefix at (1−τ)·n + 1 tokens per doc — higher thresholds index less.
    *
    * Returns (id_a < id_b, n_inter, n_union) for every pair with
    * Jaccard ≥ p/q. `tokensCol` is the per-row feature set (tokens,
    * shingles — [[wordShingles]] pairs naturally); duplicates collapse. */
  def setSimJoinPrefix(df: DataFrame, idCol: String, tokensCol: Column,
                       tauNum: Int, tauDen: Int): DataFrame = {
    require(tauNum > 0 && tauDen >= tauNum, "need 0 < tau <= 1")
    val toks = df.select(col(idCol).as("__id"),
      array_distinct(tokensCol).as("__tk"))
    val docTok = toks.select(col("__id"), size(col("__tk")).as("__n"),
      explode(col("__tk")).as("__t"))
    val freq = docTok.groupBy("__t").agg(count(lit(1)).as("__f"))
    // prefix = the ceil'd complement: n - ceil(p*n/q) + 1 rarest tokens
    val prefixLen = col("__n") - floor((col("__n") * tauNum + tauDen - 1)
      / lit(tauDen)).cast("long") + lit(1L)
    val ranked = docTok.join(freq, "__t")
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("__id")).orderBy(col("__f"), col("__t"))))
      .filter(col("__r") <= prefixLen)
      .select(col("__id"), col("__t"))
    val cands = ranked.as("pa").join(ranked.as("pb"),
        col("pa.__t") === col("pb.__t") && col("pa.__id") < col("pb.__id"))
      .select(col("pa.__id").as("id_a"), col("pb.__id").as("id_b"))
      .distinct()
    val sets = toks.select(col("__id"), col("__tk"))
    cands
      .join(sets.select(col("__id").as("id_a"), col("__tk").as("__ta")), "id_a")
      .join(sets.select(col("__id").as("id_b"), col("__tk").as("__tb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("__ta"), col("__tb"))).as("n_inter"),
        (size(col("__ta")) + size(col("__tb")) -
          size(array_intersect(col("__ta"), col("__tb")))).as("n_union"))
      .filter(col("n_inter") * tauDen >= col("n_union") * tauNum)
  }

  // ------------------------------------- prefix-filter containment join
  /** Exact whole-corpus CONTAINMENT self-join without a block column —
    * the asymmetric (PPJoin-style, Bayardo et al. WWW'07; public) variant
    * of [[setSimJoinPrefix]] that [[containmentPairs]]' required block
    * refuses to run naively. Emits every pair where EITHER orientation
    * reaches τ = tauNum/tauDen; since I/|A| ≥ τ or I/|B| ≥ τ iff
    * I ≥ τ·min(|A|,|B|), the required overlap is bounded by the SMALLER
    * set, so only the smaller side needs a prefix: order tokens by
    * (global frequency ASC, token ASC) and index each doc's
    * n − ceil(τ·n) + 1 rarest tokens; the LARGER side indexes all its
    * tokens (the overlap lands anywhere in the container). A qualifying
    * pair must share a token between the smaller doc's prefix and the
    * larger doc's full set (pigeonhole on the smaller suffix), so the
    * token-keyed candidate join is LOSSLESS. Verification is the exact
    * integer gate I·tauDen ≥ tauNum·min(|A|,|B|) — no float boundary.
    *
    * Scale: the full-side index does carry hot tokens, but a hot token
    * almost never survives into any PREFIX (frequency-ascending order),
    * so hot buckets pair a huge full side with a near-empty prefix side —
    * the quadratic hot-block blowup the source-blocked plan had is
    * structurally gone. Empty token sets never pair (containment over ∅
    * is undefined; they are filtered at the door).
    *
    * Returns (id_a < id_b, containment_a_in_b, containment_b_in_a),
    * containments rounded 6dp (a = the LOWER id, matching
    * [[containmentPairs]]' output shape). */
  def containmentJoinPrefix(df: DataFrame, idCol: String, tokensCol: Column,
                            tauNum: Int, tauDen: Int): DataFrame = {
    require(tauNum > 0 && tauDen >= tauNum, "need 0 < tau <= 1")
    val toks = df.select(col(idCol).as("__id"),
        array_distinct(tokensCol).as("__tk"))
      .filter(size(col("__tk")) > 0)
    val docTok = toks.select(col("__id"), size(col("__tk")).as("__n"),
      explode(col("__tk")).as("__t"))
    val freq = docTok.groupBy("__t").agg(count(lit(1)).as("__f"))
    // smaller-side prefix: n - ceil(tau*n) + 1 rarest tokens
    val prefixLen = col("__n") - floor((col("__n") * tauNum + tauDen - 1)
      / lit(tauDen)).cast("long") + lit(1L)
    val pref = docTok.join(freq, "__t")
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("__id")).orderBy(col("__f"), col("__t"))))
      .filter(col("__r") <= prefixLen)
      .select(col("__id"), col("__n"), col("__t"))
    val full = docTok
    val cands = pref.as("pa").join(full.as("pb"),
        col("pa.__t") === col("pb.__t") &&
          (col("pa.__n") < col("pb.__n") ||
            (col("pa.__n") === col("pb.__n") &&
              col("pa.__id") =!= col("pb.__id"))))
      .select(least(col("pa.__id"), col("pb.__id")).as("id_a"),
        greatest(col("pa.__id"), col("pb.__id")).as("id_b"))
      .distinct()
    val sets = toks
    val inter = size(array_intersect(col("__ta"), col("__tb")))
    cands
      .join(sets.select(col("__id").as("id_a"), col("__tk").as("__ta")),
        "id_a")
      .join(sets.select(col("__id").as("id_b"), col("__tk").as("__tb")),
        "id_b")
      .filter(inter * tauDen >=
        least(size(col("__ta")), size(col("__tb"))) * tauNum)
      .select(col("id_a"), col("id_b"),
        round(inter.cast("double") / size(col("__ta")).cast("double"), 6)
          .as("containment_a_in_b"),
        round(inter.cast("double") / size(col("__tb")).cast("double"), 6)
          .as("containment_b_in_a"))
  }
}
