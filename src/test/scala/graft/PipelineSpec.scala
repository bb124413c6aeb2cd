package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Curation, Dedup, MediaFixtures, Multimodal, Similarity, Stats, Web, TextAnalysis => TA}

/** Training-data pipeline operators: text analysis, dedup family,
  * similarity search, multimodal plumbing.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------ text analysis
  test("token counting: whitespace and BPE-ish") {
    val df = Seq("the quick  brown fox", "hello, world! 42").toDF("text")
    val got = df.select(
      TA.tokenCount(col("text")).as("ws"),
      TA.bpeTokenCount(col("text")).as("bpe")).collect()
    assert(got(0).getInt(0) == 4 && got(0).getInt(1) == 4)
    // "hello" "," "world" "!" "42"
    assert(got(1).getInt(0) == 3 && got(1).getInt(1) == 5)
  }

  test("quality score is bounded and orders garbage below prose") {
    val df = Seq(
      "the cat sat on the mat and it was a fine day for all of us to rest",
      "!!! ### $$$ %%% ^^^ &&&",
      "x").toDF("text")
    val scores = df.select(TA.qualityScore(col("text"))).as[Double].collect()
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
    assert(scores(0) > scores(1) && scores(0) > scores(2))
  }

  test("langId picks the profile language; und when nothing matches") {
    val df = Seq(
      "the cat is in the house and it is warm",
      "el perro es un animal que vive en la casa",
      "der Hund ist ein Tier und das ist gut",
      "le chat est un animal et il est dans la maison",
      "zzz qqq www").toDF("text")
    val got = df.select(TA.langId(col("text"))).as[String].collect().toSeq
    assert(got == Seq("en", "es", "de", "fr", "und"))
  }

  test("native langId kernel matches the composed argmax on real documents") {
    val docs = Tables.documents(spark, sf0001)
    val diff = docs.select(
      TA.langId(col("text")).as("kern"),
      TA.langIdComposed(col("text")).as("comp"))
      .filter(col("kern") =!= col("comp")).count()
    assert(diff == 0L, s"$diff rows diverge between kernel and composed langId")
  }

  test("fingerprint is normalization-invariant") {
    val df = Seq(("a", "The  Quick Fox"), ("b", "the quick fox"),
      ("c", "another doc")).toDF("id", "text")
    val fps = df.select(col("id"), TA.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fps("a") == fps("b"))
    assert(fps("a") != fps("c"))
  }

  // ------------------------------------------------------------------- dedup
  test("exactDedup groups planted duplicates, keeps min id") {
    val df = Seq((1L, "same doc"), (2L, "Same  DOC"), (3L, "different"))
      .toDF("doc_id", "text")
    val got = Dedup.exactDedup(df, "doc_id", "text").orderBy("keep_id").collect()
    assert(got.length == 2)
    assert(got(0).getLong(1) == 1L && got(0).getLong(2) == 2L)
    assert(got(1).getLong(1) == 3L && got(1).getLong(2) == 1L)
  }

  test("dupClusterSizes: planted triple + pair + singles land in the right buckets") {
    val df = Seq((1L, "aaa"), (2L, "aaa"), (3L, "aaa"), (4L, "bbb"),
      (5L, "bbb"), (6L, "ccc")).toDF("doc_id", "text")
    val got = pipeline.Dedup.dupClusterSizes(df, "text")
      .orderBy("cluster_size")
      .select("cluster_size", "n_clusters", "n_docs")
      .as[(Long, Long, Long)].collect.toSeq
    assert(got == Seq((1L, 1L, 1L), (2L, 1L, 2L), (3L, 1L, 3L)))
  }

  test("contentOverlapMatrix: shared fingerprints count once per group pair") {
    val df = Seq(("s1", "x"), ("s1", "y"), ("s1", "y"), // in-group dup collapses
      ("s2", "y"), ("s2", "z"), ("s3", "q")).toDF("source", "text")
    val got = pipeline.Dedup.contentOverlapMatrix(df, "source", "text")
      .select("src_a", "src_b", "n_shared", "jaccard")
      .as[(String, String, Long, Double)].collect.toSeq
    // only (s1, s2) overlap: |A|=2, |B|=2, shared {y}=1 -> 1/3
    assert(got == Seq(("s1", "s2", 1L, 0.333333)))
  }

  test("minhashDedup finds a planted near-duplicate and skips unrelated docs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val nearDup = base.replace("kappa", "kappa2")
    val other = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen"
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val got = Dedup.minhashDedup(df, "doc_id", "text",
      Dedup.MinHashConfig(numHashes = 64, bands = 16, shingleN = 3, threshold = 0.5))
      .collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(got.head.getDouble(2) > 0.5 && got.head.getDouble(2) < 1.0)
  }

  test("minhash: an identical-copy cluster expands to ALL true pairs at zero LSH cost") {
    val boiler = "exactly the same boilerplate text repeated in every row of this block"
    val normal = (1 to 40).map(i =>
      (i.toLong, s"unique document number $i talking about topic$i and nothing else at all"))
    val poisoned = (1000 to 1200).map(i => (i.toLong, boiler))
    val df = (normal ++ poisoned).toDF("doc_id", "text")
    // 201 byte-identical docs collapse to ONE distinct shingle set before
    // banding, then expand to the complete C(201,2) true-duplicate pair set
    // — output-bounded work, and the cap (which guards candidate
    // generation among DISTINCT sets) neither applies nor suppresses pairs.
    val got = Dedup.minhashDedup(df, "doc_id", "text",
      Dedup.MinHashConfig(64, 16, 3, 0.8, maxBucket = 16)).collect()
    val cluster = got.filter(r => r.getLong(0) >= 1000L && r.getLong(1) >= 1000L)
    assert(cluster.length == 201 * 200 / 2, s"expected all 20100 true pairs, got ${cluster.length}")
    assert(cluster.forall(_.getDouble(2) == 1.0))
  }

  test("minhash/simhash within-set pairs: a duplicated id emits no self-pair") {
    // ids [5, 5, 7] share one text, so one fingerprint: the strict
    // x.id < y.id rule pairs each 5 with the 7, and never 5 with itself
    val text = "the same short document text under one fingerprint for all rows"
    val df = Seq((5L, text), (5L, text), (7L, text)).toDF("doc_id", "text")
    def pairs(out: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(pairs(Dedup.minhashDedup(df, "doc_id", "text")) == Seq((5L, 7L), (5L, 7L)))
    assert(pairs(Dedup.simhashDedup(df, "doc_id", "text")) == Seq((5L, 7L), (5L, 7L)))
  }

  test("keepBestPerCluster elects max score with min-id ties; unscored members drop") {
    // chain {1,2,3} (scores 5,9,9 -> keep 2: max score, tie to lower id);
    // pair {10,11} (equal scores -> keep 10); pair {20,21} where 21 has no
    // score row -> 21 drops from electorate and output, 20 keeps
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("id_a", "id_b")
    val scores = Seq((1L, 5.0), (2L, 9.0), (3L, 9.0), (10L, 4.0), (11L, 4.0),
      (20L, 1.0)).toDF("doc_id", "score")
    val got = Dedup.keepBestPerCluster(pairs, scores, "doc_id", "score")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getBoolean(4)))
    assert(got.toSeq == Seq(
      (1L, 1L, 2L, false), (2L, 1L, 2L, true), (3L, 1L, 2L, false),
      (10L, 10L, 10L, true), (11L, 10L, 10L, false),
      (20L, 20L, 20L, true)))
  }

  test("crossCorpusNearDups keeps only cross-side pairs, oriented and id-safe") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val nearDup = base.replace("kappa", "kappa2")
    val other = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen"
    // corpus: 1=base, 2=ALSO base (same-side dup — must NOT appear), 3=other
    // reference: 1=nearDup (id collides with corpus id 1 — must not matter),
    //            7=verbatim copy of base (within-set branch), 9=unrelated
    val corpus = Seq((1L, base), (2L, base), (3L, other)).toDF("doc_id", "text")
    val refs = Seq((1L, nearDup), (7L, base), (9L, "totally unrelated words here"))
      .toDF("doc_id", "text")
    val got = Dedup.crossCorpusNearDups(corpus, refs, "doc_id", "text",
        Dedup.MinHashConfig(numHashes = 64, bands = 16, shingleN = 3, threshold = 0.5))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val pairs = got.map(t => (t._1, t._2)).toSet
    // corpus 1 and 2 each match ref 1 (near-dup) and ref 7 (verbatim)
    assert(pairs == Set((1L, 1L), (1L, 7L), (2L, 1L), (2L, 7L)),
      s"got $pairs")
    assert(got.filter(t => t._2 == 7L).forall(_._3 == 1.0))
    assert(got.filter(t => t._2 == 1L).forall(t => t._3 > 0.5 && t._3 < 1.0))
  }

  test("minhash skew guard: near-identical DISTINCT docs stay candidate-bounded") {
    val common = (1 to 40).map(i => s"w$i").mkString(" ")
    // 201 docs sharing a 40-token prefix, one unique suffix token each:
    // pairwise jaccard = 38/40 = 0.95, but every shingle SET is distinct,
    // so the guard is what stands between the bucket and C(201,2) pairs.
    val docs = (1000 to 1200).map(i => (i.toLong, s"$common uniq$i"))
    val df = docs.toDF("doc_id", "text")
    val capped = Dedup.minhashDedup(df, "doc_id", "text",
      Dedup.MinHashConfig(64, 16, 3, 0.8, maxBucket = 16)).count()
    val uncapped = Dedup.minhashDedup(df, "doc_id", "text",
      Dedup.MinHashConfig(64, 16, 3, 0.8)).count()
    info(s"capped pairs = $capped, uncapped = $uncapped (max ${201 * 200 / 2})")
    assert(uncapped > 15000L, s"near-identical docs should pair broadly uncapped: $uncapped")
    assert(capped < uncapped / 5, s"cap did not bound candidates: $capped vs $uncapped")
  }

  test("connectedComponents resolves pair lists into min-label clusters and a keep-list") {
    // two chains and an isolated pair: {1,2,3,4} via chain, {10,11}, {20,21,22}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (21L, 20L), (21L, 22L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.toSeq == Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (4L, 1L, false),
      (10L, 10L, true), (11L, 10L, false),
      (20L, 20L, true), (21L, 20L, false), (22L, 20L, false)))
  }

  test("connectedComponents uses reliable checkpoints when a checkpoint dir is set") {
    // with sc.setCheckpointDir configured the per-round lineage cut is a
    // fault-tolerant checkpoint (survives executor loss); results identical
    withCheckpointDir { dir =>
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
      val got = Dedup.connectedComponents(pairs).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      assert(got.toSeq == Seq(
        (1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
        (10L, 10L, true), (11L, 10L, false)))
      // reliable checkpoints actually landed on disk
      val wrote = java.nio.file.Files.walk(dir)
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "expected reliable checkpoint files under the configured dir")
    }
  }

  test("connectedComponents converges on a long chain (pointer jumping, O(log d) rounds)") {
    // a 500-node chain is exactly what the LSH skew guard emits past the
    // cap; plain min-propagation would need 500 rounds — pointer jumping
    // must resolve it within the default budget
    val chain = (1 to 499).map(i => (i.toLong, i.toLong + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(chain).collect()
    assert(got.length == 500)
    assert(got.forall(_.getLong(1) == 1L), "every chain node must label to the min id")
    assert(got.count(_.getBoolean(2)) == 1)
  }

  test("simhash: identical texts 0 hamming, near texts small, unrelated large") {
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = a.replace("lazy", "sleepy")
    val c = "completely unrelated words about spacecraft navigation systems"
    val df = Seq(a, a, b, c).toDF("text")
    val sh = df.select(Dedup.simhash(col("text"))).as[Long].collect()
    assert(sh(0) == sh(1))
    assert(java.lang.Long.bitCount(sh(0) ^ sh(2)) <= 12)
    assert(java.lang.Long.bitCount(sh(0) ^ sh(3)) > 12)
  }

  test("simhashDedup returns verified pairs under the hamming cap") {
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val df = Seq((1L, a), (2L, a), (3L, "unrelated spacecraft navigation text entirely"))
      .toDF("doc_id", "text")
    val got = Dedup.simhashDedup(df, "doc_id", "text", maxHamming = 3).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(got.head.getInt(2) == 0 || got.head.getLong(2) == 0L)
  }

  test("ngramJaccardPairs with min-shingle blocking matches exact jaccard") {
    val a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val df = Seq((1L, a), (2L, a), (3L, "q1 q2 q3 q4 q5")).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(df, "doc_id", "text",
      blockCol = array_min(Dedup.wordShingles(col("text"), 3)), n = 3, threshold = 0.8)
      .collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet ==
      Set((1L, 2L, 1.0)))
  }

  // -------------------------------------------------------------- similarity
  test("cosine matches hand computation") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(0.0f, 2.0f)), (Seq(1.0f, 1.0f), Seq(1.0f, 1.0f)))
      .toDF("a", "b")
    val got = df.select(round(Similarity.cosine(
      Similarity.toDouble(col("a")), Similarity.toDouble(col("b"))), 9)).as[Double].collect()
    assert(got(0) == 0.0)
    assert(got(1) == 1.0)
  }

  test("bruteForceTopK ranks the planted nearest neighbor first") {
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val got = Similarity.bruteForceTopK(corpus, queries, k = 2).orderBy("rank").collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(1L, 2L))
  }

  test("annTopK recall@5 >= 0.8 with candidate fraction well below 1") {
    // sf0.01: 500 uniform unit vectors — the LSH-hardest case (5th-NN cosine
    // ~0.29). Defaults were tuned for recall ~0.86 touching ~27% of corpus.
    val emb = Tables.embeddings(spark, sf001)
    val n = emb.count()
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val nQ = queries.count()
    val exact = Similarity.bruteForceTopK(emb, queries, 5)
      .select("qid", "nn_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annTopK(emb, queries, 5, dim = 64)
    val annRows = ann.collect()
    assert(annRows.nonEmpty)
    // structural: ranks start at 1 and are contiguous per query
    val byQ = annRows.groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      assert(rows.map(_.getInt(3)).sorted.toSeq == (1 to rows.length).toSeq)
    }
    val hits = annRows.count(r => exact.contains((r.getLong(0), r.getLong(1))))
    val recall = hits.toDouble / exact.size
    val candPairs = Similarity.annCandidates(emb, queries, dim = 64).count()
    val frac = candPairs.toDouble / (n * nQ)
    info(f"ANN recall@5 = $recall%.3f, candidate fraction = $frac%.3f over ${exact.size} exact pairs")
    assert(recall >= 0.8, s"recall@5 below target: $recall")
    assert(frac < 0.5, s"candidate fraction not sublinear: $frac")
  }

  test("ivfTopK with full probing equals brute force; partial probing recalls") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val centroids = Similarity.pseudoCentroids(16, 64)
    val exact = Similarity.bruteForceTopK(emb, queries, 5)
      .select("qid", "nn_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // probing ALL centroids scans the whole corpus -> identical to brute force
    val full = Similarity.ivfTopK(emb, queries, centroids, 5, nProbe = 16)
      .select("qid", "nn_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact)
    // partial probing trades recall for touching ~nProbe/16 of the corpus
    val part = Similarity.ivfTopK(emb, queries, centroids, 5, nProbe = 6)
      .select("qid", "nn_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = part.count(exact.contains).toDouble / exact.size
    info(s"IVF recall@5 with 6/16 probes = $recall")
    assert(recall > 0.2)
  }

  test("embeddingNearDupPairs (LSH) finds planted near-duplicates, no background noise") {
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("embedding"))
    val n = emb.count()
    // plant a near-identical copy of every vector (deterministic ±0.1%
    // perturbation -> cosine ~0.9999) under vec_id + 1e6. NOTE the salt
    // lateral-resolves to the NEW alias (vec_id + 1e6) — fine here (any
    // deterministic salt perturbs), but q47's oracle-replayed twin must
    // rename the source column first (the SimilarityQueries lesson)
    val planted = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        x + (pmod(xxhash64(col("vec_id"), i), lit(1000)).cast("double") - 500.0) / 500000.0)
        .as("embedding"))
    val pairs = Similarity.embeddingNearDupPairs(emb.union(planted), 0.9, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = pairs.count { case (a, b) => b == a + 1000000L }
    val recall = found.toDouble / n
    info(f"planted-pair recall = $recall%.3f over $n pairs; total pairs ${pairs.size}")
    assert(recall >= 0.9, s"LSH missed too many planted near-dups: $recall")
    // uniform random vectors have no genuine 0.9-cosine pairs: everything
    // verified is a planted pair
    assert(pairs.size == found, "unexpected background pairs above threshold")
  }

  test("md5PlaneTables: coefficients pin to the salt's md5 (the q47 " +
    "replay contract); quantizeVec is exact integer-valued") {
    // hand-computed (md5h60("hp42|t|p|d") % 2001) - 1000 — if the Scala
    // derivation drifts (salt format, nibble count, mod), q47's oracle
    // replay silently diverges; pin three corners of the grid
    val tables = Similarity.md5PlaneTables(64, 12, 16, 42L)
    assert(tables(0)(0)(0) == 68.0)
    assert(tables(15)(11)(63) == 46.0)
    assert(tables(3)(7)(42) == -591.0)
    assert(tables.flatten.flatten.forall(c =>
      c == math.rint(c) && math.abs(c) <= 1000.0))
    // quantizeVec: floor(x·2^20) as integer-valued doubles, exact on
    // dyadic inputs, floor (not truncate) on negatives
    val q = Seq((1L, Array(0.5f, -0.5f, 0.0f, -1.5e-6f)))
      .toDF("id", "v")
      .select(Similarity.quantizeVec(transform(col("v"),
        x => x.cast("double"))).as("q"))
      .collect().head.getSeq[Double](0)
    assert(q == Seq(524288.0, -524288.0, 0.0, -2.0), s"quantize: $q")
  }

  test("embeddingNearDupPairs: identical-vector cluster returns ALL pairs despite a tiny cap") {
    // 30 copies of one vector + unrelated background; maxBucket=4 would
    // suppress pairs under row-level banding, but identical vectors
    // collapse to one fingerprint before the LSH and expand afterward
    val one = emb30(30)
    val pairs = Similarity.embeddingNearDupPairs(one, 0.99, dim = 8,
        nPlanes = 6, nTables = 4, maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cluster = pairs.filter { case (a, b) => a < 1000 && b < 1000 }
    assert(cluster.size == 30 * 29 / 2, s"expected all 435 true pairs, got ${cluster.size}")
  }

  private def emb30(n: Int) = {
    val v = Array.tabulate(8)(i => (i + 1).toFloat / 10f)
    val dup = (1 to n).map(i => (i.toLong, v))
    val bg = (1000 to 1020).map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 7) % 17 - 8).toFloat / 8f)))
    (dup ++ bg).toDF("vec_id", "embedding")
  }

  test("k-means centroids: IVF recall at nProbe=4 materially above pseudo-centroids") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(emb, queries, 5)
      .select("qid", "nn_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(cents: Seq[(Int, Seq[Double])]): Double = {
      val got = Similarity.ivfTopK(emb, queries, cents, 5, nProbe = 4)
        .select("qid", "nn_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.count(exact.contains).toDouble / exact.size
    }
    val rPseudo = recall(Similarity.pseudoCentroids(16, 64))
    val rKmeans = recall(Similarity.kmeansCentroids(emb, 16))
    info(f"IVF recall@5, nProbe=4/16: pseudo=$rPseudo%.3f kmeans=$rKmeans%.3f")
    assert(rKmeans > rPseudo, f"k-means recall $rKmeans%.3f not above pseudo $rPseudo%.3f")
    // determinism: same sample, same init, same centroids
    assert(Similarity.kmeansCentroids(emb, 16) == Similarity.kmeansCentroids(emb, 16))
  }

  test("ivfAssign covers every row with a valid centroid") {
    val emb = Tables.embeddings(spark, sf0001)
    val centroids = Similarity.pseudoCentroids(16, 64)
    val got = Similarity.ivfAssign(emb, centroids)
    assert(got.count() == emb.count())
    val ids = got.select("centroid").distinct().as[Int].collect()
    assert(ids.forall(c => c >= 0 && c < 16))
    assert(ids.length > 1, "degenerate assignment: single centroid")
  }

  // ---------------------------------------------------------------- curation
  test("hashSplit: deterministic, stable under corpus growth, fractions respected") {
    import graft.pipeline.Curation
    val fr = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)
    val small = spark.range(1000).toDF("id")
    val big = spark.range(10000).toDF("id")
    val bigSplits = Curation.hashSplit(big, col("id"), "s1", fr)
    val counts = bigSplits.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("train") - 8000.0) < 300, s"train fraction off: $counts")
    assert(math.abs(counts("valid") - 1000.0) < 150, s"valid fraction off: $counts")
    // stability: the first 1000 ids get identical labels whether the corpus
    // has 1k or 10k rows (incremental curation must not re-deal)
    val a = Curation.hashSplit(small, col("id"), "s1", fr)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = bigSplits.filter(col("id") < 1000)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b, "labels must be stable under corpus growth")
    // a different salt re-deals
    val c = Curation.hashSplit(small, col("id"), "s2", fr)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a != c, "salt must change the deal")
  }

  test("packSequences: per-shard concat-and-chunk assignment") {
    import graft.pipeline.Curation
    // one shard, budget 5: docs of 3,3,3 tokens start at 0,3,6 -> seqs 0,0,1
    val docs = Seq((0L, "a b c"), (1L, "d e f"), (2L, "g h i"))
      .toDF("doc_id", "text")
    val got = Curation.packSequences(docs, "doc_id", "text", tokenBudget = 5, numShards = 1)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((0L, 0L, 0L), (1L, 0L, 3L), (2L, 1L, 6L)), got.mkString(","))
    // two shards: odd/even ids pack independently from offset 0
    val sharded = Curation.packSequences(docs, "doc_id", "text", tokenBudget = 5, numShards = 2)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(sharded.toSeq == Seq((0L, 0L, 0L), (1L, 1L, 0L), (2L, 0L, 3L)), sharded.mkString(","))
  }

  test("curate: language + quality gate, then exact-dedup keep-list") {
    import graft.pipeline.Curation
    val en = "the cat and the dog are in the house and it is warm for all of them today"
    val docs = Seq(
      (1L, en),                      // kept
      (2L, en),                      // exact dup of 1 -> dropped
      (3L, "el perro y el gato en la casa es un una de que por"), // es -> dropped
      (4L, "zz")                     // low quality -> dropped
    ).toDF("doc_id", "text")
    val got = Curation.curate(docs, "doc_id", "text", "en", 0.5)
      .select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(1L), s"expected only doc 1 kept, got $got")
  }

  test("repetition stats: repeated tokens, duplicate lines, top bigram") {
    import graft.pipeline.Curation
    val df = Seq((1L, "a a a b"), (2L, "header\nbody\nheader")).toDF("id", "text")
    val top = Curation.topNgram(col("text"), 2)
    val got = df.orderBy("id").select(
      Curation.repeatedTokenRatio(col("text")),
      Curation.dupLineFraction(col("text")),
      top.getField("gram"), top.getField("n"),
      Curation.topNgramCharFraction(top, col("text"))).collect()
    // "a a a b": 4 tokens, 2 distinct -> 0.5; bigrams "a a","a a","a b" ->
    // top ("a a", 2); chars 2*3/7
    assert(got(0).getDouble(0) == 0.5)
    assert(got(0).getDouble(1) == 0.0)
    assert(got(0).getString(2) == "a a" && got(0).getLong(3) == 2L)
    assert(got(0).getDouble(4) == math.rint(6.0 / 7.0 * 1e6) / 1e6)
    // 3 lines, 2 distinct -> 1/3 duplicate lines
    assert(got(1).getDouble(1) == math.rint(1.0 / 3.0 * 1e6) / 1e6)
    // bigrams "b c"x2, "c a"x2, "a b"x1 — ties at max count 2 break to the
    // lexicographically smallest gram "b c"
    val tie = Seq("b c a b c a").toDF("text")
      .select(Curation.topNgram(col("text"), 2)).collect()(0).getStruct(0)
    assert(tie.getString(0) == "b c" && tie.getLong(1) == 2L)
  }

  test("PII redaction: emails, IPv4s, phones; order prevents half-eaten matches") {
    import graft.pipeline.Curation
    val df = Seq(
      "mail bob.smith+x@corp.example.org or 192.168.0.1 or +1-555-0142-999 end",
      "no pii here at all").toDF("text")
    val got = df.select(
      Curation.piiEmailCount(col("text")),
      Curation.piiIpCount(col("text")),
      Curation.piiPhoneCount(col("text")),
      Curation.piiRedact(col("text"))).collect()
    assert(got(0).getInt(0) == 1 && got(0).getInt(1) == 1 && got(0).getInt(2) == 1)
    assert(got(0).getString(3) == "mail <EMAIL> or <IP> or <PHONE> end")
    assert(got(1).getInt(0) == 0 && got(1).getInt(1) == 0 && got(1).getInt(2) == 0)
    assert(got(1).getString(3) == "no pii here at all")
  }

  test("contamination: corpus docs sharing an n-gram with the benchmark") {
    import graft.pipeline.Curation
    val bench = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "x alpha beta gamma y"),          // shares 3-grams
      (11L, "nothing in common here at all"),
      (12L, "alpha beta gamma delta q")       // shares 2 distinct 3-grams
    ).toDF("doc_id", "text")
    val got = Curation.contamination(corpus, bench, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((10L, 1L), (12L, 2L)), got.mkString(","))
  }

  test("sampleByRate: deterministic, rate-proportional, salt re-deals") {
    import graft.pipeline.Curation
    val df = spark.range(10000).toDF("id")
    val kept = Curation.sampleByRate(df, col("id"), "s1", lit(0.3)).count()
    assert(math.abs(kept - 3000.0) < 200, s"rate 0.3 kept $kept")
    assert(Curation.sampleByRate(df, col("id"), "s1", lit(0.0)).count() == 0)
    assert(Curation.sampleByRate(df, col("id"), "s1", lit(1.0)).count() == 10000)
    // deterministic: same salt -> same set; different salt -> different set
    val a = Curation.sampleByRate(df, col("id"), "s1", lit(0.3))
      .as[Long].collect().toSet
    val b = Curation.sampleByRate(df, col("id"), "s1", lit(0.3))
      .as[Long].collect().toSet
    val c = Curation.sampleByRate(df, col("id"), "s2", lit(0.3))
      .as[Long].collect().toSet
    assert(a == b && a != c)
    // per-group mixture: group rates actually differ
    val g = df.withColumn("grp", when(col("id") < 5000, "hot").otherwise("cold"))
    val m = Curation.mixtureSample(g, col("id"), "s1", col("grp"),
        Seq("hot" -> 0.8), defaultRate = 0.1)
      .groupBy("grp").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(m("hot") - 4000.0) < 250, s"hot: $m")
    assert(math.abs(m("cold") - 500.0) < 150, s"cold: $m")
  }

  test("sampleByRate boundaries: negative rate keeps nothing, rate>=1 keeps all incl. ffffffff") {
    import graft.pipeline.Curation
    val df = spark.range(1000).toDF("id")
    // a negative (data-dependent) rate must clamp to 0, not invert the filter
    assert(Curation.sampleByRate(df, col("id"), "s1", lit(-0.5)).count() == 0)
    assert(Curation.sampleByRate(df, col("id"), "s1", lit(2.0)).count() == 1000)
    // the keep predicate on the adversarial draw 'ffffffff': kept at rate>=1
    // (strict < alone would drop it), dropped at any rate < 1
    val edge = Seq("ffffffff", "00000000", "7fffffff").toDF("h")
    val got = edge.select(col("h"),
        Curation.keepCondition(col("h"), lit(1.0)).as("k1"),
        Curation.keepCondition(col("h"), lit(0.9999)).as("k99"),
        Curation.keepCondition(col("h"), lit(-1.0)).as("kneg"))
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))
    assert(got.forall(_._2), s"rate 1.0 must keep every draw: ${got.mkString(",")}")
    assert(got.forall(!_._4), s"negative rate must drop every draw: ${got.mkString(",")}")
    assert(!got.find(_._1 == "ffffffff").get._3, "rate<1 drops the top draw")
    assert(got.find(_._1 == "00000000").get._3, "rate<1 keeps the bottom draw")
  }

  test("splitLabel: null keys hash as empty string, not the last label") {
    import graft.pipeline.Curation
    val fr = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)
    val nullKey = Seq((1L, null.asInstanceOf[String]), (2L, "")).toDF("id", "k")
      .select(Curation.splitLabel(col("k"), "graft-v1", fr).as("split"))
      .as[String].collect()
    assert(nullKey(0) != null && nullKey(0) == nullKey(1),
      s"null key must deal like empty string, got ${nullKey.mkString(",")}")
  }

  test("topNgramCharFraction: empty/space-only docs score 0.0, not null") {
    import graft.pipeline.Curation
    // "" and "   " normalize to length 0 — unguarded, the division yields
    // null (or errors under ANSI). (Other pure-whitespace docs like "\n\t"
    // normalize to " " and legitimately score 1.0 — not the zero case.)
    val top = Curation.topNgram(col("text"), 2)
    val got = Seq("", "   ").toDF("text")
      .select(Curation.topNgramCharFraction(top, col("text"))).collect()
    assert(got.forall(r => !r.isNullAt(0) && r.getDouble(0) == 0.0),
      got.mkString(","))
  }

  test("chunkByTokens: full coverage, overlap, short tail, one-chunk docs") {
    import graft.pipeline.Curation
    // 10 tokens, window 4, stride 3 -> chunks at 1,4,7 (ceil(6/3)=2 extra)
    val docs = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (2L, "a b c")).toDF("doc_id", "text")
    val got = Curation.chunkByTokens(docs, "doc_id", "text", window = 4, stride = 3)
      .orderBy("doc_id", "chunk_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(got.toSeq == Seq((1L, 0, 1, 4), (1L, 1, 4, 4), (1L, 2, 7, 4),
      (2L, 0, 1, 3)), got.mkString(","))
    // every token index is covered by some chunk; consecutive chunks
    // overlap by window - stride
    val covered = got.filter(_._1 == 1L)
      .flatMap(c => c._3 until (c._3 + c._4)).toSet
    assert(covered == (1 to 10).toSet)
    // exact boundary: nTok - window a multiple of stride adds no empty chunk
    val exact = Seq((3L, (1 to 7).map(i => s"x$i").mkString(" ")))
      .toDF("doc_id", "text")
    val g3 = Curation.chunkByTokens(exact, "doc_id", "text", 4, 3)
      .collect().map(r => (r.getInt(1), r.getInt(3))).sorted
    assert(g3.toSeq == Seq((0, 4), (1, 4)))
  }

  test("boilerplateStats: token gate, terminal punctuation, doc-level keep") {
    import graft.pipeline.Curation
    val docs = Seq(
      // 2 surviving lines (first + last), nav line dropped -> keep
      (1L, "this line has enough tokens to pass.\nHome | About\nshort no punct line here\nanother fine closing sentence ends right here."),
      // lorem ipsum poisons the doc even though lines survive
      (2L, "this line has enough tokens to pass.\nlorem ipsum in a long enough line to survive.\nanother fine closing sentence ends right here."),
      // brace leak
      (3L, "this line has enough tokens to pass.\nvar f = function() { return; }\nanother fine closing sentence ends right here."),
      // only one surviving line -> dropped by minKeptLines
      (4L, "this line has enough tokens to pass.\nmenu")).toDF("doc_id", "text")
    val got = Curation.boilerplateStats(docs, "doc_id", "text",
        minTokens = 5, minKeptLines = 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getBoolean(4)))
    assert(got.toSeq == Seq((1L, 4, 2, true), (2L, 3, 3, false),
      (3L, 3, 2, false), (4L, 2, 1, false)), got.mkString(","))
  }

  test("charEntropy: degenerate 0, two-symbol ln 2, uniform ln k, order-free") {
    val df = Seq("aaaa", "abab", "abcd", "", "   ").toDF("text")
    val got = df.select(TA.charEntropy(col("text"))).as[Double].collect()
    assert(got(0) == 0.0)
    assert(math.abs(got(1) - math.log(2)) < 1e-6, s"got ${got(1)}")
    assert(math.abs(got(2) - math.log(4)) < 1e-6)
    assert(got(3) == 0.0 && got(4) == 0.0)
    // permutation invariance: entropy sees the distribution, not the order
    val p = Seq("aabb", "abab", "bbaa").toDF("text")
      .select(TA.charEntropy(col("text"))).as[Double].collect()
    assert(p.distinct.length == 1)
  }

  test("aboveQuantile keeps exactly the rows at/above the exact interpolated percentile") {
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    // R-7 p25 of 1..100 = 1 + 0.25*99 = 25.75 -> rows 26..100 survive
    val got = TA.aboveQuantile(df, "v", 0.25)
      .select("id").as[Long].collect().toSet
    assert(got == (26L to 100L).toSet)
    // threshold column rides along
    val thr = TA.aboveQuantile(df, "v", 0.25).select("threshold")
      .distinct().as[Double].collect()
    assert(thr.toSeq == Seq(25.75))
  }

  test("approxAboveQuantile: sketch threshold within rank tolerance of exact; gate consistent") {
    // the bounded-memory variant for unquantized scores: GK returns a DATA
    // value whose rank is within n/accuracy of the true quantile
    val df = (1 to 1000).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    val rows = TA.approxAboveQuantile(df, "v", 0.25, accuracy = 100)
      .select("id", "threshold").collect()
    val thr = rows.head.getDouble(1)
    // true p25 rank = 250; accuracy 100 over n=1000 -> rank error <= 10
    assert(thr >= 240.0 && thr <= 261.0, s"threshold $thr outside rank tolerance")
    // every kept row is at/above the broadcast threshold, none below kept
    val kept = rows.map(_.getLong(0)).toSet
    assert(kept == (thr.toLong to 1000L).toSet, s"gate inconsistent at $thr")
  }

  test("tfidfTopTerms: corpus-wide terms rank below distinctive ones") {
    // "common" appears in every doc (df=3), each distinctive term in one
    val docs = Seq(
      (1L, "common alpha alpha"),
      (2L, "common beta"),
      (3L, "common gamma gamma gamma")).toDF("doc_id", "text")
    val got = TA.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getString(2))).toMap
    // rank 1 is always the distinctive term: tf*(4/2) vs common's tf*(4/4)
    assert(got((1L, 1)) == "alpha" && got((2L, 1)) == "beta" && got((3L, 1)) == "gamma")
    assert(got((1L, 2)) == "common" && got((2L, 2)) == "common")
    // scores: alpha = 2*(3+1)/(1+1) = 4.0; common in doc1 = 1*(4)/(4) = 1.0
    val rows = TA.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .filter(col("doc_id") === 1L).orderBy("rnk")
      .select("score").as[Double].collect()
    assert(rows.toSeq == Seq(4.0, 1.0), rows.mkString(","))
  }

  test("capPerGroup: exact rank semantics, deterministic, rescue-safe") {
    import graft.pipeline.Curation
    import org.apache.spark.sql.expressions.Window
    // 3 groups of very different sizes; k=4
    val df = (Seq.tabulate(200)(i => ("big", i.toLong)) ++
      Seq.tabulate(20)(i => ("mid", (1000 + i).toLong)) ++
      Seq.tabulate(3)(i => ("tiny", (2000 + i).toLong))).toDF("g", "id")
    val got = Curation.capPerGroup(df, "g", "id", "s1", k = 4)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // oracle: plain window rank over the same draw
    val h = substring(md5(concat(lit("s1"), col("id").cast("string"))), 1, 8)
    val want = df.withColumn("h", h)
      .withColumn("rnk", row_number().over(
        Window.partitionBy("g").orderBy(col("h"), col("id"))))
      .filter(col("rnk") <= 4).select("g", "id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == want)
    assert(got.count(_._1 == "big") == 4 && got.count(_._1 == "mid") == 4)
    // groups under k keep everything
    assert(got.count(_._1 == "tiny") == 3)
    // a tiny oversample forces the under-fill rescue path on 'big' and the
    // result must STILL be exact
    val rescued = Curation.capPerGroup(df, "g", "id", "s1", k = 4, oversample = 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rescued == want)
    // NULL group keys form their own capped group — an equi join on the raw
    // nullable column would silently drop every one of these rows
    val withNulls = (Seq.tabulate(10)(i => (null: String, i.toLong)) ++
      Seq.tabulate(10)(i => ("g", (100 + i).toLong))).toDF("g", "id")
    val nulled = Curation.capPerGroup(withNulls, "g", "id", "s1", k = 4)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1)))
    assert(nulled.count(_._1.isEmpty) == 4 && nulled.count(_._1.contains("g")) == 4,
      nulled.mkString(","))
  }

  test("dedupLines: corpus-frequent lines stripped, rare lines kept") {
    import graft.pipeline.Curation
    // "footer" appears in all 5 docs, "rare" in one; maxDocs=3
    val docs = Seq.tabulate(5)(i =>
      (i.toLong, s"unique content line $i\nfooter\n" +
        (if (i == 0) "rare line\n" else "") + s"second unique $i"))
      .toDF("doc_id", "text")
    val got = Curation.dedupLines(docs, "doc_id", "text", maxDocs = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(got.toSeq == Seq((0L, 4, 1), (1L, 3, 1), (2L, 3, 1), (3L, 3, 1), (4L, 3, 1)),
      got.mkString(","))
    // duplicate lines WITHIN one doc don't count as corpus frequency
    val one = Seq((0L, "same\nsame\nsame\nother")).toDF("doc_id", "text")
    val g1 = Curation.dedupLines(one, "doc_id", "text", maxDocs = 2)
      .collect().map(r => (r.getInt(1), r.getInt(2)))
    assert(g1.toSeq == Seq((4, 0)))
  }

  test("dedupLines: anti-join strip path emits rows identical to the broadcast path") {
    import graft.pipeline.Curation
    // includes an all-boilerplate doc (id 9): it must survive reassembly
    // with zero kept lines on BOTH paths, cleaned_hash = md5("")
    val docs = (Seq.tabulate(9)(i =>
      (i.toLong, s"unique content line $i\nfooter\nsubscribe now\nsecond unique $i")) :+
      (9L, "footer\nsubscribe now"))
      .toDF("doc_id", "text")
    def rows(limit: Long) =
      Curation.dedupLines(docs, "doc_id", "text", maxDocs = 3, broadcastLimit = limit)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSeq
    val broadcastPath = rows(Long.MaxValue)
    val antiJoinPath = rows(0L)
    assert(broadcastPath == antiJoinPath,
      s"paths diverge:\n$broadcastPath\n$antiJoinPath")
    assert(broadcastPath(9) ==
      ((9L, 2, 2, java.security.MessageDigest.getInstance("MD5")
        .digest("".getBytes).map("%02x".format(_)).mkString)),
      broadcastPath(9).toString)
  }

  test("dedupSegments: a NULL-id doc keeps its own segments on both strip paths") {
    import graft.pipeline.Curation
    // the anti-join path reassembles via a NULL-SAFE join — an equi join
    // would never match the null key and report every segment removed
    val docs = Seq(
      (Some(1L), "unique one\nfooter"), (Some(2L), "unique two\nfooter"),
      (Some(3L), "unique three\nfooter"), (None, "null doc line\nfooter"))
      .toDF("doc_id", "text")
    def rows(limit: Long) =
      Curation.dedupLines(docs, "doc_id", "text", maxDocs = 2, broadcastLimit = limit)
        .orderBy(col("doc_id").asc_nulls_first).collect()
        .map(r => (Option(r.get(0)), r.getInt(1), r.getInt(2))).toSeq
    val bc = rows(Long.MaxValue)
    val aj = rows(-1L)
    assert(bc == aj, s"paths diverge on null ids:\n$bc\n$aj")
    assert(bc.head == ((None, 2, 1)), s"null-id doc must keep its unique line: ${bc.head}")
  }

  test("cap/topK per group: a literal sentinel-looking group value is NOT the null group") {
    import graft.pipeline.Curation
    // a genuine group whose VALUE is " <null>" (or any other sentinel) must
    // get its own k-cap, separate from the real NULL group's
    val tricky = (Seq.tabulate(6)(i => (null: String, i.toLong)) ++
      Seq.tabulate(6)(i => (" <null>", (100 + i).toLong)) ++
      Seq.tabulate(6)(i => ("", (200 + i).toLong)))
      .toDF("g", "id")
    val capped = Curation.capPerGroup(tricky, "g", "id", "s1", k = 4)
      .collect().map(r => Option(r.getString(0)))
    assert(capped.length == 12 && capped.count(_.isEmpty) == 4 &&
      capped.count(_.contains(" <null>")) == 4 && capped.count(_.contains("")) == 4,
      capped.mkString(","))
    val scored = tricky.withColumn("score", col("id").cast("double"))
    val topped = Curation.topKPerGroup(scored, "g", "score", "id", k = 4)
      .collect().map(r => Option(r.getString(0)))
    assert(topped.length == 12 && topped.count(_.isEmpty) == 4 &&
      topped.count(_.contains(" <null>")) == 4 && topped.count(_.contains("")) == 4,
      topped.mkString(","))
  }

  test("Web.urlParts: userinfo/port stripped, PSL two-level suffixes, IPs, non-URLs") {
    import graft.pipeline.Web
    val rows = Seq(
      "https://user:pw@WWW.Example.CO.UK:8443/a/b?q=1#f",
      "http://deep.cdn.static.example.com/x",
      "https://example.org",
      "http://192.168.3.7/raw",
      "http://localhost:9090/health",
      "not a url at all").toDF("url")
    val got = Web.withUrlParts(rows, "url")
      .select("scheme", "host", "registered_domain", "path")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(got(0) == (("https", "www.example.co.uk", "example.co.uk", "/a/b")))
    assert(got(1) == (("http", "deep.cdn.static.example.com", "example.com", "/x")))
    assert(got(2) == (("https", "example.org", "example.org", "")))
    assert(got(3) == (("http", "192.168.3.7", "192.168.3.7", "/raw")))
    assert(got(4) == (("http", "localhost", "localhost", "/health")))
    assert(got(5) == (("", "", "", "")), s"non-URL must yield empty parts: ${got(5)}")
  }

  test("weightedSample: equals the A-ES reference draw; nonpositive weights never win") {
    import graft.pipeline.Curation
    val rows = (1 to 200).map(i => (i.toLong, (i % 37).toLong + (if (i % 5 == 0) 500L else 1L))) ++
      Seq((900L, 0L), (901L, -3L)) // must never be sampled, however large the draw
    val df = rows.toDF("id", "w")
    val got = Curation.weightedSample(df, col("id"), "spec-salt", col("w"), 30)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = rows.filter(_._2 > 0).map { case (id, w) =>
      val v = java.lang.Long.parseLong(md5hex("spec-salt" + id).substring(0, 8), 16)
      val u = (v + 0.5) / 4294967296.0
      val pr = BigDecimal(math.pow(u, 1.0 / w))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, w, pr)
    }.sortBy { case (id, _, pr) => (-pr, id.toString) }.take(30)
      .map { case (id, w, _) => (id, w) }.toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    assert(!got.exists(_._1 >= 900L), "nonpositive-weight rows leaked in")
    // heavy weights dominate: the 500-weight class should fill most slots
    assert(got.count(_._2 >= 500L) >= 20, s"heavy rows underrepresented: $got")
  }

  test("domainBlocklistFilter: hierarchical suffix match, never substring, case-normalized") {
    import graft.pipeline.Web
    val deepHost = ("a." * 13) + "bad.com"          // 15 labels, blocked via 2-label suffix
    val thirteen = (1 to 13).map("l" + _).mkString(".") // unmatchable: > MaxBlocklistLabels
    val rows = Seq(
      ("https://ads.example.com/a", "exact"),
      ("https://x.y.ads.example.com/b", "under"),
      ("https://notads.example.com/c", "substring-trap"),
      ("https://sub.BAD.Com/d", "case"),
      (s"https://$deepHost/e", "deep"),
      (s"https://$thirteen/f", "thirteen-labels"),
      ("no scheme here", "hostless")).toDF("url", "tag")
    val bl = Seq("ads.example.com", "  Bad.COM ", thirteen, "", "   ").toDF("dom")
    val kept = Web.domainBlocklistFilter(rows, "url", bl, "dom")
      .select("tag").as[String].collect().toSet
    assert(kept == Set("substring-trap", "thirteen-labels", "hostless"),
      s"kept: $kept")
  }

  test("normalizeUrl: variants of one page share a canonical key; distinct pages don't") {
    import graft.pipeline.Web
    val urls = Seq(
      "https://WWW.Example.com:443/page/7/?utm_source=x&b=2&a=1#top",
      "https://user:pw@www.example.com/page/7?a=1&b=2&fbclid=zzz",
      "http://example.com:8080/page/7?a=1",   // non-default port survives
      "http://example.com:80/page/7?a=1",     // default port dropped
      "plain text not a url  ").toDF("url")
    val got = Web.withUrlParts(urls, "url")  // exercises coexistence
      .select(Web.normalizeUrl(col("url")).as("c")).as[String].collect()
    assert(got(0) == "https://www.example.com/page/7?a=1&b=2")
    assert(got(0) == got(1), s"${got(0)} vs ${got(1)}")
    assert(got(2) == "http://example.com:8080/page/7?a=1")
    assert(got(3) == "http://example.com/page/7?a=1")
    assert(got(4) == "plain text not a url", "non-URL must pass through trimmed")
  }

  test("stripTags: script/style/comment content vanishes; entities decode once; whitespace collapses") {
    import graft.pipeline.Web
    val html = """<html><head><style>p { hidden: 1; }</style></head><body>
      |<!-- secret comment --><h1>Title</h1>
      |<script>var hidden = "secret";</script>
      |<p>A &amp;&amp; B &lt;ok&gt;,&nbsp;&quot;q&quot; &#39;s &amp;lt;</p></body></html>""".stripMargin
    val got = Seq(html).toDF("h").select(Web.stripTags(col("h"))).as[String].collect().head
    assert(got == """Title A && B <ok>, "q" 's &lt;""", s"got: $got")
    assert(!got.contains("hidden") && !got.contains("secret"))
  }

  test("sentences: terminal runs split, punctuation normalized away, blanks dropped") {
    val got = Seq("One two. Three four!   Five?! Six... Seven the end.")
      .toDF("t").select(TA.sentences(col("t"))).as[Seq[String]].collect().head
    assert(got == Seq("One two", "Three four", "Five", "Six", "Seven the end"), got.toString)
    val empty = Seq("").toDF("t").select(TA.sentences(col("t"))).as[Seq[String]].collect().head
    assert(empty.isEmpty)
  }

  test("vocabulary: deterministic ranking, exact coverage fractions, empty-token guard") {
    val docs = Seq("b b b a a c", "a  b", "   ").toDF("text")
    // counts: a=3, b=4, c=1; total occurrences = 8; blank doc contributes 0
    val got = TA.vocabulary(docs, "text", topV = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1, "b", 4L, 0.5), (2, "a", 3L, 0.875)), got.mkString(","))
  }

  test("duplicatePassages: alignment-independent at stride 1; aligned-only at larger strides") {
    import graft.pipeline.Curation
    val shared = (1 to 12).map(i => s"p$i").mkString(" ")  // 12-token run
    val docs = Seq(
      (1L, "x1 x2 x3 " + shared),            // run at offset 4
      (2L, "y1 " + shared + " y2 y3"),       // run at offset 2
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12 z13 z14 z15"))
      .toDF("doc_id", "text")
    val got = Curation.duplicatePassages(docs, "doc_id", "text",
      window = 10, stride = 1, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    // 12-token run, 10-token window -> 3 windows fully inside, per carrier
    assert(got.count(_._1 == 1L) == 3 && got.count(_._1 == 2L) == 3 &&
      !got.exists(_._1 == 3L), got.mkString(","))
    // stride 4: the carriers' runs start at different offsets -> the
    // aligned-only mode misses them (the documented trade)
    val aligned = Curation.duplicatePassages(docs, "doc_id", "text",
      window = 10, stride = 4, minDocs = 2).count()
    assert(aligned == 0, s"stride-4 mode should miss unaligned runs, got $aligned")
  }

  test("dupNgramCharFraction: count*len over duplicated grams; overlap convention can exceed 1") {
    import graft.pipeline.Curation
    // bigrams of "a b a b a b": "a b"x3 + "b a"x2 -> dup chars 3*3 + 2*3 = 15
    // over normalized length 11 = 1.363636
    val got = Seq("a b a b a b", "all unique words here now")
      .toDF("t").select(Curation.dupNgramCharFraction(col("t"), 2)).as[Double].collect()
    assert(got(0) == 1.363636, got(0).toString)
    assert(got(1) == 0.0)
  }

  test("gopherQuality: each rule trips independently; composite keep") {
    import graft.pipeline.Curation
    val good = (("w" * 5 + " ") * 60) + "the and of that"  // 64 words, mwl 5ish
    val docs = Seq(
      (1L, good),                                        // passes all rules
      (2L, "the of " + ("w " * 10)),                     // too few words
      (3L, good + " ##### ### ## # " + ("#### " * 10)),  // symbol ratio
      (4L, ("• x\n" * 9) + "the and of plain tail line"), // bullet lines
      (5L, ("12345 " * 60) + "the and")                  // alpha fraction
    ).toDF("doc_id", "text")
    val got = Curation.gopherQuality(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(8))).toMap
    assert(got(1L), "good doc must pass")
    assert(!got(2L) && !got(3L) && !got(4L) && !got(5L),
      s"rule-tripping docs must fail: $got")
    // empty text: zero words, guarded divisions, keep = false
    val empty = Curation.gopherQuality(Seq((9L, "   ")).toDF("doc_id", "text"),
      "doc_id", "text").collect().head
    assert(empty.getInt(1) == 0 && !empty.getBoolean(8))
  }

  test("corpusDelta classifies added/removed/changed/unchanged on fingerprints") {
    import graft.pipeline.Curation
    val cur = Seq((1L, "alpha text"), (2L, "beta text"), (4L, "new doc")).toDF("id", "t")
    val prev = Seq((1L, "ALPHA   text"), (2L, "beta text old"), (3L, "gone doc")).toDF("id", "t")
    val got = Curation.corpusDelta(cur, prev, "id", "t")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    // id 1: fingerprints equal after normalization (case/whitespace) -> unchanged
    assert(got.toSeq == Seq((1L, "unchanged"), (2L, "changed"),
      (3L, "removed"), (4L, "added")), got.mkString(","))
  }

  // -------------------------------------------------------------- multimodal
  test("image decode is a real codec: PNG fixture round-trips exact dimensions") {
    // genuine PNG bytes via ImageIO — decodeBytes must recover true w/h
    val img = new java.awt.image.BufferedImage(5, 3,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 3).foreach(y => (0 until 5).foreach(x => img.setRGB(x, y, x * 40 + y * 80)))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val media = Seq((7L, "image", bos.toByteArray)).toDF("media_id", "kind", "payload")
    val row = Multimodal.decode(media).head()
    val meta = row.getStruct(1)
    assert(meta.getAs[Int]("width") == 5 && meta.getAs[Int]("height") == 3)
    assert(meta.getAs[Long]("durationMs") == 0L)
    // features = luminance histogram normalized to sum 1
    val feats = row.getSeq[Float](2)
    assert(feats.length == 16 && math.abs(feats.map(_.toDouble).sum - 1.0) < 1e-5)
    // undecodable "image" bytes fall back to the deterministic fake
    val junk = Seq((8L, "image", Array[Byte](1, 2, 3))).toDF("media_id", "kind", "payload")
    assert(Multimodal.decode(junk).head().getStruct(1).getAs[Int]("width") >= 64)
  }

  test("audio decode is a real codec: WAV fixture round-trips rate/channels/duration") {
    // genuine RIFF/WAVE bytes via the JDK's own writer — decodeBytes must
    // recover the true format metadata and an RMS envelope
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val sr = 16000f; val nFrames = 1600 // exactly 100 ms, stereo
    val pcm = new Array[Byte](nFrames * 4)
    (0 until nFrames).foreach { i =>
      val s = (math.sin(i * 0.05) * 12000).toInt.toShort
      pcm(i * 4) = (s & 0xFF).toByte; pcm(i * 4 + 1) = (s >> 8).toByte
      pcm(i * 4 + 2) = (s & 0xFF).toByte; pcm(i * 4 + 3) = (s >> 8).toByte
    }
    val fmt = new AudioFormat(sr, 16, 2, true, false)
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, nFrames)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    val media = Seq((9L, "audio", bos.toByteArray)).toDF("media_id", "kind", "payload")
    val row = Multimodal.decode(media).head()
    val meta = row.getStruct(1)
    assert(meta.getAs[String]("kind") == "audio")
    assert(meta.getAs[Int]("sampleRateHz") == 16000)
    assert(meta.getAs[Int]("channels") == 2)
    assert(meta.getAs[Long]("durationMs") == 100L)
    assert(meta.getAs[Int]("width") == 0 && meta.getAs[Int]("height") == 0)
    val feats = row.getSeq[Float](2)
    // a full-scale-ish sine has RMS ~ 12000/32768/sqrt(2) in every window
    assert(feats.length == 16 && feats.forall(f => f > 0.2f && f < 0.3f),
      s"expected a flat ~0.26 RMS envelope, got ${feats.mkString(",")}")
    // undecodable "audio" bytes fall back to the deterministic fake
    val junk = Seq((10L, "audio", Array[Byte](1, 2, 3))).toDF("media_id", "kind", "payload")
    val junkMeta = Multimodal.decode(junk).head().getStruct(1)
    assert(junkMeta.getAs[Int]("width") >= 64 && junkMeta.getAs[Int]("sampleRateHz") == 0)
  }

  test("wavPayload fixtures are genuine WAVs: codec metadata matches the generator") {
    val bytes = MediaFixtures.wavPayload(4L, "some doc text")
    // id 4 -> 160 + (4%7)*80 = 480 samples at 8kHz mono = 60 ms
    val media = Seq((4L, "audio", bytes)).toDF("media_id", "kind", "payload")
    val meta = Multimodal.decode(media).head().getStruct(1)
    assert(meta.getAs[Int]("sampleRateHz") == 8000)
    assert(meta.getAs[Int]("channels") == 1)
    assert(meta.getAs[Long]("durationMs") == 60L)
    // hash-noise samples: every window carries energy
    val feats = Multimodal.decode(media).head().getSeq[Float](2)
    assert(feats.forall(_ > 0.1f), s"noise envelope should be non-degenerate: ${feats.mkString(",")}")
  }

  test("video container metadata is real: MP4 box walk and AVI avih header") {
    // mp4Payload renders a genuine ISO BMFF layout; the parser must recover
    // the id-seeded dimensions and mvhd duration exactly
    val mp4 = MediaFixtures.mp4Payload(7L, "video doc")
    // id 7 -> w = 160 + (7%5)*80 = 320, h = 120 + (7%3)*60 = 180,
    // durMs = 500 + (7%11)*250 = 2250
    val media = Seq((7L, "video", mp4)).toDF("media_id", "kind", "payload")
    val row = Multimodal.decode(media).head()
    val meta = row.getStruct(1)
    assert(meta.getAs[String]("kind") == "video")
    assert(meta.getAs[Int]("width") == 320 && meta.getAs[Int]("height") == 180)
    assert(meta.getAs[Long]("durationMs") == 2250L)
    // features: byte-value histogram normalized to sum 1
    val feats = row.getSeq[Float](2)
    assert(feats.length == 16 && math.abs(feats.map(_.toDouble).sum - 1.0) < 1e-5)

    // hand-built AVI: RIFF/AVI LIST hdrl avih with 25fps, 100 frames, 640x480
    val avih = java.nio.ByteBuffer.allocate(40).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(40000).putInt(0).putInt(0).putInt(0) // usPerFrame ..
      .putInt(100).putInt(0).putInt(1).putInt(0)   // totalFrames, streams
      .putInt(640).putInt(480).array()
    val hdrl = java.nio.ByteBuffer.allocate(12 + 8 + 40).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hdrl.put("LIST".getBytes("ASCII")).putInt(4 + 8 + 40).put("hdrl".getBytes("ASCII"))
    hdrl.put("avih".getBytes("ASCII")).putInt(40).put(avih)
    val body = hdrl.array()
    val avi = java.nio.ByteBuffer.allocate(12 + body.length).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("ASCII")).putInt(4 + body.length).put("AVI ".getBytes("ASCII"))
      .put(body).array()
    assert(Multimodal.parseAvi(avi).contains((640, 480, 4000L)))

    // junk video bytes still fall back to the deterministic fake
    val junk = Seq((8L, "video", "not a container".getBytes("UTF-8")))
      .toDF("media_id", "kind", "payload")
    assert(Multimodal.decode(junk).head().getStruct(1).getAs[Int]("width") >= 64)
  }

  test("multimodal decode plumbing: schema, determinism, partition mapping") {
    val media = MediaFixtures.asMediaTable(Tables.documents(spark, sf0001).limit(50))
    val decoded = Multimodal.decode(media)
    assert(decoded.columns.toSet == Set("mediaId", "meta", "features"))
    assert(decoded.count() == 50)
    val row = decoded.orderBy("mediaId").head()
    val again = Multimodal.decode(media).orderBy("mediaId").head()
    assert(row == again, "decode must be deterministic")
    val meta = row.getStruct(1)
    // doc 0 is an image row with a real PNG payload: id 0 -> 4x4
    assert(meta.getAs[String]("kind") == "image")
    assert(meta.getAs[Long]("sizeBytes") > 0)
    assert(meta.getAs[Int]("width") == 4 && meta.getAs[Int]("height") == 4)
    // all three kinds present, image dims bounded by the png generator
    val kinds = decoded.select(col("meta.kind")).distinct().as[String].collect().toSet
    assert(kinds == Set("image", "audio", "video"))
    val dims = decoded.filter(col("meta.kind") === "image")
      .select(col("meta.width"), col("meta.height")).collect()
    assert(dims.forall(r => r.getInt(0) >= 4 && r.getInt(0) <= 16 &&
      r.getInt(1) >= 4 && r.getInt(1) <= 10))
  }

  test("sampleFrames slices bounded frame windows from binary payloads") {
    val media = MediaFixtures.asMediaTable(Tables.documents(spark, sf0001).limit(10))
    val framed = Multimodal.sampleFrames(media, "payload", frameLen = 16, stride = 32)
    val counts = framed.select("n_frames").as[Int].collect()
    assert(counts.forall(n => n >= 1 && n <= 8))
  }

  test("materializedMediaTable synthesizes payloads ONCE per sf dir (q36 times decode)") {
    val before = MediaFixtures.renders.get()
    val a = MediaFixtures.materializedMediaTable(spark, sf0001).count()
    val afterFirst = MediaFixtures.renders.get()
    val b = MediaFixtures.materializedMediaTable(spark, sf0001).count()
    assert(a == b && a > 0)
    // second call reads the memoized parquet — no new render plan is built
    assert(MediaFixtures.renders.get() == afterFirst,
      "repeat call must not re-synthesize payloads")
    assert(afterFirst - before <= 1, "first call renders at most once")
  }

  test("resizeImages: real bilinear rescale + PNG re-encode; non-images pass through") {
    import spark.implicits._
    val img = new java.awt.image.BufferedImage(40, 30,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 30).foreach(y => (0 until 40).foreach(x => img.setRGB(x, y, x * 6 + y * 8)))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val junkAudio = Array[Byte](9, 9, 9)
    val media = Seq((1L, "image", bos.toByteArray), (2L, "audio", junkAudio))
      .toDF("media_id", "kind", "payload")
    val out = Multimodal.resizeImages(media, targetW = 10, targetH = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Array[Byte]]("payload"), r.getBoolean(3)))).toMap
    val (resizedBytes, wasResized) = out(1L)
    assert(wasResized)
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(resizedBytes))
    assert(back.getWidth == 10 && back.getHeight == 8)
    // downscale of a gradient keeps non-trivial pixel content
    assert((0 until 8).exists(y => back.getRGB(0, y) != back.getRGB(9, y)))
    val (audioBytes, audioResized) = out(2L)
    assert(!audioResized && audioBytes.toSeq == junkAudio.toSeq)
  }

  test("resizeImages: undecodable image bytes pass through unflagged") {
    import spark.implicits._
    val junk = Seq((3L, "image", Array[Byte](1, 2, 3)))
      .toDF("media_id", "kind", "payload")
    val r = Multimodal.resizeImages(junk, 4, 4).head()
    assert(!r.getBoolean(3) && r.getAs[Array[Byte]]("payload").toSeq == Seq[Byte](1, 2, 3))
  }

  test("lmPerplexityScore: hand-computed add-one bigram NLL; short docs null") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "a")).toDF("doc_id", "text")
    val out = TA.lmPerplexityScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2))))).toMap
    // V=2; c2: "a b"->2, "b a"->1; c1: a->2, b->1
    // nll = -(2*ln(3/4) + ln(2/3))/3 = 0.326943
    assert(out(1L)._1 == Some(3L))
    assert(out(1L)._2 == Some(0.326943))
    assert(out(2L) == ((None, None)))
  }

  test("jsDivergence: hand-computed two-doc case; identical corpora -> 0") {
    val df = Seq(("a", "x x y"), ("b", "x z")).toDF("src", "text")
    val r = TA.jsDivergence(df, "src", "text", "a", "b").collect()(0)
    assert(r.getAs[Long]("n_tokens_a") == 3 &&
      r.getAs[Long]("n_tokens_b") == 2)
    // p=(2/3,1/3,0), q=(1/2,0,1/2): jsd = 0.294784 (hand/numpy)
    assert(r.getAs[Double]("jsd") == 0.294784)
    val same = Seq(("a", "x y z"), ("b", "x y z")).toDF("src", "text")
    assert(TA.jsDivergence(same, "src", "text", "a", "b")
      .collect()(0).getAs[Double]("jsd") == 0.0)
  }

  test("textRankKeywords: the hub token out-ranks its spokes; composition " +
    "equals pageRank on the explicit skip-gram graph") {
    val docs = Seq("hub x", "hub y", "hub z").toDF("text")
    val got = TA.textRankKeywords(docs, "text", window = 2, iters = 3, k = 4)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.length == 4 && got.head._1 == "hub",
      s"hub must rank first: ${got.toSeq}")
    assert(got.tail.forall(_._2 < got.head._2), "spokes rank strictly below")
    val edges = Seq(("hub", "x"), ("x", "hub"), ("hub", "y"), ("y", "hub"),
      ("hub", "z"), ("z", "hub")).toDF("src", "dst")
    val direct = graft.pipeline.Graph.pageRank(edges, "src", "dst", 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { case (tok, rm) => assert(direct(tok) == rm,
      s"composition diverged for $tok") }
  }

  test("centroidSeparation: separated clusters score the hand-computed mean") {
    // A: (0,0), (2,0) centroid (1,0); B: (10,0), (12,0) centroid (11,0)
    val df = Seq((1L, 0, Seq(0f, 0f)), (2L, 0, Seq(2f, 0f)),
      (3L, 1, Seq(10f, 0f)), (4L, 1, Seq(12f, 0f)))
      .toDF("id", "label", "vec")
    val got = Similarity.centroidSeparation(df, "id", "label", "vec")
      .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    def r12(x: Double) =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    def r6(x: BigDecimal) =
      x.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // a=1 for every point; b = 11, 9 per cluster side
    val expect = r6((r12(10.0 / 11) + r12(8.0 / 9)) / 2)
    assert(got(0) == expect && got(1) == expect, s"got $got, want $expect")
  }

  test("vocabularyByGroup: per-group ranks, (count, token) tiebreak, topK cut") {
    val docs = Seq(("a", "x x x y y z"), ("a", "y w"), ("b", "q q r"))
      .toDF("src", "text")
    val got = TA.vocabularyByGroup(docs, "src", "text", topK = 2)
      .orderBy("src", "rank").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
    // a: x=3, y=3 -> tie breaks on token asc; b: q=2, r=1
    assert(got.toSeq == Seq(("a", 1, "x", 3L), ("a", 2, "y", 3L),
      ("b", 1, "q", 2L), ("b", 2, "r", 1L)))
  }

  test("containmentPairs: a subset scores 1.0 one way while Jaccard is blind") {
    // fragment = first 4 words of doc 1: every fragment shingle appears in
    // the original, so containment(frag in orig) = 1.0 while J ~ 3/8
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "s"),
      (2L, "alpha beta gamma delta", "s"),
      (3L, "totally unrelated words here", "s")).toDF("doc_id", "text", "src")
    val got = Dedup.containmentPairs(docs, "doc_id", "text",
        blockCol = col("src"), n = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.keySet == Set((1L, 2L)), s"unexpected pairs: ${got.keySet}")
    // 8 shingles in doc1, 2 in doc2, both of doc2's appear in doc1
    assert(got((1L, 2L)) == ((0.25, 1.0)))
  }

  test("topPrincipalComponent: converges onto a planted dominant axis with " +
    "the closed-form 3-round value") {
    val df = Seq((1L, Seq(2.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("id", "vec")
    val got = Similarity.topPrincipalComponent(df, "id", "vec", iters = 3)
      .orderBy("dim").select("loading").as[Double].collect.toSeq
    // Gram = diag(4, 1); from v0 = (1,1): v3 = (64, 1)/sqrt(4097)
    assert(math.abs(got(0) - 64.0 / math.sqrt(4097)) < 1e-6)
    assert(math.abs(got(1) - 1.0 / math.sqrt(4097)) < 1e-6)
    // unit norm up to the 6dp output rounding
    assert(math.abs(got.map(x => x * x).sum - 1.0) < 1e-5)
  }

  test("leakageSafeSplit: cluster members share one split; singletons draw " +
    "on their own id") {
    import graft.pipeline.Curation
    val docs = (1L to 6L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val fr = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)
    val got = Curation.leakageSafeSplit(docs, "id", edges, "s1", fr)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(Seq(1L, 2L, 3L).map(got(_)._1).distinct == Seq(1L),
      "one cluster label for the connected trio")
    assert(Seq(1L, 2L, 3L).map(got(_)._2).distinct.size == 1,
      "near-dups never straddle splits")
    Seq(4L, 5L, 6L).foreach { id =>
      assert(got(id)._1 == id, "singleton cluster = own id")
    }
    // the draw IS splitLabel on the cluster key
    val expected = docs.select(col("id"),
      Curation.splitLabel(col("id"), "s1", fr).as("sp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L)._2 == expected(1L) && got(4L)._2 == expected(4L))
  }

  test("extractFrames: AVI demux + JPEG decode report fixture-true frames") {
    val media = MediaFixtures.asMediaTable(
      Tables.documents(spark, sf0001).filter(col("doc_id") < 60))
    val got = Multimodal.extractFrames(media, step = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getInt(3), r.getInt(4), r.getInt(5)))
    assert(got.nonEmpty)
    got.foreach { case (id, idx, pts, w, h, nb) =>
      // AVI fixtures are doc_id % 3 == 2 with (doc_id/3) % 2 == 1
      assert(id % 3 == 2 && (id / 3) % 2 == 1, s"non-AVI id $id produced frames")
      assert(idx % 2 == 0 && idx < 2 + id % 3)
      assert(pts == idx * 40000L)           // 25 fps avih clock
      assert(w == 8 + (id % 5).toInt * 3 && h == 8 + (id % 3).toInt * 5)
      assert(nb > 0)
    }
    // step = 1 yields every frame: exactly nFrames = 2 + id%3 rows per AVI
    val all = Multimodal.extractFrames(media, step = 1)
      .groupBy("media_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    all.foreach { case (id, n) => assert(n == 2 + id % 3) }
  }

  test("canonicalizeUrl: case, ports, userinfo, tracking params, sorting") {
    val cases = Seq(
      "HTTPS://Example.COM:443/a/1?utm_source=x&b=2&a=1#frag" ->
        "https://example.com/a/1?a=1&b=2",
      "http://user:pw@Blog.Example.org:80/p/2?gclid=1&z=9&y=2" ->
        "http://blog.example.org/p/2?y=2&z=9",
      "https://cdn.example.io:8443/x/3" -> "https://cdn.example.io:8443/x/3",
      "http://Example.net?ref=home" -> "http://example.net/",
      "https://a.example.com/p?utm_campaign=c&utm_medium=m" ->
        "https://a.example.com/p")
    val df = cases.map(_._1).toDF("url")
    val got = df.select(col("url"), Web.canonicalizeUrl(col("url")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) =>
      assert(got(in) == want, s"$in -> ${got(in)} (want $want)") }
  }

  test("GraftExtensions.registerAll wires the SQL surface into a live session") {
    // the shared test session was built WITHOUT .withExtensions
    GraftExtensions.registerAll(spark)
    Seq("a b c d").toDF("text").createOrReplaceTempView("ra_docs")
    val r = spark.sql("SELECT size(word_shingles(text, 2)) AS n, " +
      "CAST(lenient_date('2024-1-5') AS STRING) AS d FROM ra_docs")
      .collect()(0)
    assert(r.getInt(0) == 3 && r.getString(1) == "2024-01-05")
    GraftExtensions.registerAll(spark) // idempotent re-registration
    assert(spark.sql("SELECT size(word_shingles('x y', 2)) AS n")
      .collect()(0).getInt(0) == 1)
  }

  test("bm25TopDocs: tf saturation and length normalization behave") {
    val docs = Seq(
      (1L, "query match once plus filler filler filler filler"),
      (2L, "query query query query query query query query"),
      (3L, "query match"),
      (4L, "nothing relevant here at all in this document")
    ).toDF("id", "text")
    val got = TA.bm25TopDocs(docs, "id", "text", Seq("query"), k = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // short doc with the term beats the long one; repetition saturates:
    // doc2's 8 occurrences can't reach 8x doc3's single-occurrence score
    assert(got(3L) > got(1L) && got(3L) > 0)
    assert(got(2L) < 8 * got(3L) && got(2L) > got(1L))
    assert(got(4L) == 0.0)
  }

  test("classificationReport: hand-computed confusion on 3 classes") {
    // y/p pairs: class 0 tp=2 fn=1(pred 1); class 1 tp=1 fp=1 fn=0;
    // class 2 never true but predicted once (fp=1, precision 0, recall null)
    val df = Seq((0L, 0L), (0L, 0L), (0L, 1L), (1L, 1L), (1L, 2L))
      .toDF("y", "p")
    val got = Stats.classificationReport(df, col("y"), col("p"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)), Option(r.get(5)), Option(r.get(6))))).toMap
    assert(got(0L)._1 == 2 && got(0L)._2 == 0 && got(0L)._3 == 1)
    assert(got(0L)._4.contains(1.0) && got(0L)._5.contains(0.666667))
    assert(got(1L)._1 == 1 && got(1L)._2 == 1 && got(1L)._3 == 1)
    assert(got(1L)._4.contains(0.5) && got(1L)._5.contains(0.5) &&
      got(1L)._6.contains(0.5))
    assert(got(2L)._1 == 0 && got(2L)._2 == 1 && got(2L)._3 == 0)
    assert(got(2L)._4.contains(0.0) && got(2L)._5.isEmpty && got(2L)._6.isEmpty)
  }

  test("dpNoisyCounts: deterministic across layouts, clamped at zero") {
    val df = (1 to 50).map(i => s"g${i % 5}").toDF("g")
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.dpNoisyCounts(d, "g", epsilon = 1.0).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
          r.getLong(3)))).toMap
    val a = run(df)
    assert(a.values.forall(_._1 == 10))
    assert(a.values.forall(v => v._3 >= 0))
    a.foreach { case (_, (n, noise, rel)) =>
      assert(rel == math.max(0L, math.round(n + noise)) ||
        math.abs(n + noise - math.rint(n + noise)) < 1e-9)
    }
    assert(run(df.repartition(7)) == a, "noise must be layout-independent")
    // tiny epsilon -> huge noise scale; clamp keeps releases non-negative
    val tiny = Stats.dpNoisyCounts(df, "g", epsilon = 0.001).collect()
    tiny.foreach(r => assert(r.getLong(3) >= 0))
  }

  test("tokenBudgetAllocation: cap, two-pass redistribution, exact fill") {
    import spark.implicits._
    // T=1110, B=555, W=4: pass1 ideal (138,138,277) caps A,B at (10,100);
    // leftover 168 all flows to C's capacity -> C gets 277+168=445;
    // total alloc == B exactly
    val d = Seq(("A", 10L, 1L), ("B", 100L, 1L), ("C", 1000L, 2L))
      .toDF("domain", "tokens", "weight")
    val r = Curation.tokenBudgetAllocation(d, "domain", col("tokens"),
        col("weight"), budgetNum = 1, budgetDen = 2)
      .collect().map(x => x.getString(0) ->
        (x.getLong(3), x.getDouble(4), x.getBoolean(5))).toMap
    assert(r("A") == ((10L, 1.0, true)))
    assert(r("B") == ((100L, 1.0, true)))
    assert(r("C") == ((445L, 0.445, false)))
    assert(r.values.map(_._1).sum == 555L)
    // budget = whole corpus: everything fills, zero dust
    val full = Curation.tokenBudgetAllocation(d, "domain", col("tokens"),
        col("weight"), budgetNum = 1, budgetDen = 1)
      .collect().map(x => x.getString(0) -> (x.getLong(3), x.getBoolean(5)))
      .toMap
    assert(full == Map("A" -> ((10L, true)), "B" -> ((100L, true)),
      "C" -> ((1000L, true))))
  }

  test("balancedShards: per-group descending round-robin with group offset") {
    import spark.implicits._
    // fanout 2: grp0 weights (40,30,20,10) -> shards 0,1,0,1;
    // grp1 weights (35,25,15,5) -> offset 1 -> shards 1,0,1,0;
    // totals land perfectly balanced at 90/90
    val docs = Seq((0L, 40L), (2L, 30L), (4L, 20L), (6L, 10L),
      (1L, 35L), (3L, 25L), (5L, 15L), (7L, 5L)).toDF("doc_id", "w")
    val a = Curation.balancedShards(docs, "doc_id", col("w"),
      numShards = 2, fanout = 2)
    val byId = a.collect().map(x => x.getLong(0) ->
      (x.getLong(1), x.getInt(2), x.getLong(3))).toMap
    assert(byId(0L) == ((0L, 1, 0L)) && byId(2L) == ((0L, 2, 1L)))
    assert(byId(1L) == ((1L, 1, 1L)) && byId(3L) == ((1L, 2, 0L)))
    val totals = a.groupBy("shard").agg(sum(col("weight")).as("t"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(totals == Map(0L -> 90L, 1L -> 90L))
  }
  test("groupDiversity: identity pairs, orthogonal, opposite, zero-norm drop") {
    import spark.implicits._
    val df = Seq(
      (1L, "same", Seq(1.0f, 0.0f)), (2L, "same", Seq(1.0f, 0.0f)),
      (3L, "orth", Seq(3.0f, 0.0f)), (4L, "orth", Seq(0.0f, 4.0f)),
      (5L, "anti", Seq(1.0f, 0.0f)), (6L, "anti", Seq(-1.0f, 0.0f)),
      (7L, "solo", Seq(1.0f, 0.0f)), (8L, "solo", Seq(0.0f, 0.0f)))
      .toDF("vec_id", "label", "vec")
    val r = Similarity.groupDiversity(df, "vec_id", "label", "vec")
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), if (x.isNullAt(2)) null else x.getDouble(2))).toMap
    assert(r("same") == ((2L, 1.0)))
    assert(r("orth") == ((2L, 0.0)))   // normalization kills the scales
    assert(r("anti") == ((2L, -1.0)))
    assert(r("solo") == ((1L, null)))  // the zero vector dropped -> n = 1
  }
  test("standardizeEmbeddings: per-dim moments; zero-variance dim nulls") {
    import spark.implicits._
    val df = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f, 2.0f)),
      (3L, Seq(5.0f, 2.0f))).toDF("vec_id", "vec")
    val r = Similarity.standardizeEmbeddings(df, "vec_id", "vec")
      .collect().map(x => (x.getLong(0), x.getInt(1)) ->
        (if (x.isNullAt(2)) null else x.getDouble(2))).toMap
    val z = math.round(2.0 / math.sqrt(8.0 / 3.0) * 1e6) / 1e6
    assert(r((1L, 1)) == -z && r((2L, 1)) == 0.0 && r((3L, 1)) == z)
    assert(r((1L, 2)) == null && r((3L, 2)) == null)
  }

  test("participationRatio: collapsed space -> 1; isotropic 2D -> 2") {
    import spark.implicits._
    val collapsed = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f, 2.0f)),
      (3L, Seq(5.0f, 2.0f))).toDF("vec_id", "vec")
    val c = Similarity.participationRatio(collapsed, "vec").collect().head
    assert(c.getLong(0) == 2L && c.getDouble(2) == 1.0)
    assert(c.getInt(3) == 1 && c.getDouble(4) == 1.0)
    val iso = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(-1.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.0f, -1.0f))).toDF("vec_id", "vec")
    val i = Similarity.participationRatio(iso, "vec").collect().head
    assert(i.getDouble(2) == 2.0 && i.getDouble(1) == 1.0)
  }

  // shared hand setup for the cluster-quality indices: unit axes
  // centroids, one vector exactly on c0, one at cos (0.6, 0.8)
  private val cqCentroids = Seq(0 -> Seq(1.0, 0.0), 1 -> Seq(0.0, 1.0))
  private def cqCorpus = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.6, 0.8)))
    .toDF("vec_id", "embedding")

  test("simplifiedSilhouette: hand a/b ratios on axis centroids") {
    // v1: a=0 b=1 -> s=1; v2: a=.2 b=.4 -> s=.5; mean .75
    val r = Similarity.simplifiedSilhouette(cqCorpus, cqCentroids)
      .collect()(0)
    assert(r.getLong(0) == 2L && r.getInt(1) == 2)
    assert(r.getDouble(2) == 0.75, s"sil: $r")
  }

  test("daviesBouldin: hand S/M ratios; singleton clusters") {
    // S0=0, S1=.2, M=1 -> ratios .2,.2 -> DB=.2
    val r = Similarity.daviesBouldin(cqCorpus, cqCentroids).collect()(0)
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 0.2, s"db: $r")
  }

  test("xieBeni: W over worst-case separation") {
    // W = 0 + .4 = .4; min sep = 2 -> XB = .4/(2*2) = .1
    val r = Similarity.xieBeni(cqCorpus, cqCentroids).collect()(0)
    assert(r.getLong(0) == 2L && r.getDouble(1) == 2.0)
    assert(r.getDouble(2) == 0.1, s"xb: $r")
  }

  test("clusterBalance: even split scores entropy 1") {
    val r = Similarity.clusterBalance(cqCorpus, cqCentroids).collect()(0)
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 0.5 && r.getDouble(3) == 1.0, s"cb: $r")
  }
}
