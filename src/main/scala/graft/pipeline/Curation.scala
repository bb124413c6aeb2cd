package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines: deterministic
  * held-out splits, fixed-token-budget sequence packing, and the composed
  * quality→language→dedup curation pass.
  *
  * Everything here is deterministic and engine-independent by construction
  * (md5 / arithmetic / windowed sums — no RNG, no engine-specific hashes),
  * so every operator is oracle-checkable against DuckDB, and a re-run over
  * a grown corpus keeps prior assignments stable (the property that matters
  * when a 100 TB corpus is curated incrementally).
  */
object Curation {

  // --------------------------------------------------------- hash splitting
  /** Deterministic split label ("train"/"valid"/"test"/...) from a stable
    * key: the first 8 hex chars of md5(salt ++ key) compared against
    * cumulative-fraction thresholds AS HEX STRINGS — fixed-width lowercase
    * hex compares lexicographically exactly as the underlying 32-bit value,
    * so the same expression runs in any engine with md5 (the DuckDB oracle
    * mirrors it verbatim). Rows never shuffle: label assignment is a pure
    * per-row projection; changing `salt` re-deals the split, adding rows
    * never moves existing ones.
    *
    * Null keys hash as the empty string — deterministic and uniform with
    * the rest of the deal (without the coalesce a null key would null every
    * `when` and silently fall through to the LAST label, skewing held-out
    * splits).
    *
    * Fractions must be positive and sum to 1 (the last label absorbs the
    * hex tail so the union is exhaustive). */
  def splitLabel(key: Column, salt: String, fractions: Seq[(String, Double)]): Column = {
    require(fractions.nonEmpty, "at least one split fraction")
    require(fractions.forall(_._2 > 0), "fractions must be positive")
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9, "fractions must sum to 1")
    val h = substring(md5(concat(lit(salt), coalesce(key.cast("string"), lit("")))), 1, 8)
    val cuts = fractions.scanLeft(0.0)(_ + _._2).tail
    val cases = fractions.init.zip(cuts.init).map { case ((name, _), cum) =>
      (name, f"${math.min((cum * 4294967296.0).toLong, 0xFFFFFFFFL)}%08x")
    }
    cases.foldRight(lit(fractions.last._1): Column) { case ((name, hex), rest) =>
      when(h < lit(hex), lit(name)).otherwise(rest)
    }
  }

  /** [[splitLabel]] attached as a `split` column. */
  def hashSplit(df: DataFrame, key: Column, salt: String,
                fractions: Seq[(String, Double)]): DataFrame =
    df.withColumn("split", splitLabel(key, salt, fractions))

  /** Leakage-safe train/valid/test split: near-duplicate documents must
    * land in the SAME split (a test doc whose near-copy sits in train is
    * eval contamination — the split-level complement of
    * [[Curation.contamination]]), so the split key is the near-dup CLUSTER,
    * not the document. `edges` is any near-dup pair relation (n-gram
    * Jaccard, MinHash-verified, SemDeDup cells); clusters come from
    * [[graft.pipeline.Dedup.connectedComponents]] (pointer-jumping, O(log
    * diameter) rounds), singletons — docs in no pair — form their own
    * cluster keyed by their id (same key domain: cluster labels ARE doc
    * ids, the min reachable id). The assignment is then [[splitLabel]]'s
    * deterministic md5 draw on the cluster key: reproducible on any
    * engine, stable under corpus growth that doesn't touch a cluster.
    * One left join of ids against the (bounded, paired-docs-only) label
    * relation — the corpus never reshuffles. Returns `docs` columns +
    * (cluster, split). */
  def leakageSafeSplit(docs: DataFrame, idCol: String, edges: DataFrame,
                       salt: String,
                       fractions: Seq[(String, Double)]): DataFrame = {
    val labels = Dedup.connectedComponents(edges)
      .select(col("id").as(idCol), col("cluster").as("__cl"))
    docs.join(labels, Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("__cl"), col(idCol)))
      .drop("__cl")
      .withColumn("split", splitLabel(col("cluster"), salt, fractions))
  }

  // ------------------------------------------------------- sequence packing
  /** Pack documents into fixed-token-budget training sequences, GPT-style:
    * concatenate in id order and cut every `tokenBudget` tokens — a doc
    * belongs to the sequence its FIRST token lands in. Packing runs
    * independently per shard (`shard = id % numShards`), which is what
    * makes it scale: each shard's running token sum is one window over its
    * own partition, so numShards bounds both parallelism and the largest
    * sort — there is no global single-partition window at 100 TB. The
    * global sequence key is (shard, seq_in_shard).
    *
    * Returns (id, shard, seq_in_shard, tok_start, n_tokens) where
    * tok_start is the doc's offset in its shard's concatenated stream. */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    tokenBudget: Int, numShards: Int): DataFrame = {
    require(tokenBudget > 0 && numShards > 0)
    val id = col(idCol)
    val nTok = TextAnalysis.tokenCount(col(textCol))
    val w = Window.partitionBy(col("shard")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(id.as("id"), pmod(id, lit(numShards)).as("shard"), nTok.as("n_tokens"))
      .withColumn("tok_start", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("seq_in_shard", floor(col("tok_start") / tokenBudget))
      .select(col("id"), col("shard"), col("seq_in_shard"),
        col("tok_start"), col("n_tokens"))
  }

  // ---------------------------------------------------- repetition filters
  /** Non-distinct word n-grams of lowercased text (repetition filters need
    * counts, so no dedup — contrast [[Dedup.wordShingles]]); fewer than `n`
    * tokens yields one whole-doc gram. */
  def ngramsAll(text: Column, n: Int): Column = {
    val toks = split(trim(lower(text)), "\\s+")
    if (n == 1) toks
    else when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
  }

  /** Gopher-style repetition signal: share of tokens that are repeats of an
    * earlier token (1 - distinct/total). */
  def repeatedTokenRatio(text: Column): Column = {
    val toks = split(trim(lower(text)), "\\s+")
    round(lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks), 6)
  }

  /** Share of lines that are duplicates of an earlier line (boilerplate
    * headers/footers signal). Single-line docs score 0. */
  def dupLineFraction(text: Column): Column = {
    val lines = split(text, "\n")
    round(lit(1.0) - size(array_distinct(lines)).cast("double") / size(lines), 6)
  }

  /** The eight "required words" of the Gopher document-quality rules —
    * a kept document must contain at least two of them. */
  val GopherRequiredWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher document-quality rule set (Rae et al. 2021, §A1.1) as one
    * row-local projection: per document, every rule's signal plus the
    * composite keep decision —
    *
    *   - word count in [minWords, maxWords]
    *   - mean word length in [3, 10]
    *   - symbol-to-word ratio ('#' and '...' occurrences / words) <= 0.1
    *   - <= 90% of lines starting with a bullet ('-', '*', '•')
    *   - <= 30% of lines ending with an ellipsis
    *   - >= 80% of words containing an alphabetic character
    *   - >= 2 of the eight [[GopherRequiredWords]]
    *
    * Every signal is arithmetic over split/replace/regexp built-ins
    * (RE2-compatible patterns, exact integer-ratio divisions) — zero
    * shuffle, fully codegen'd, DuckDB-mirrorable; the repetition-based
    * companion rules live in [[repeatedTokenRatio]]/[[topNgram]]. Returns
    * (doc_id, n_words, mean_word_len, symbol_ratio, bullet_line_frac,
    * ellipsis_line_frac, alpha_word_frac, n_required_words, keep). */
  def gopherQuality(docs: DataFrame, idCol: String, textCol: String,
                    minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val t = col(textCol)
    val toks = filter(split(trim(lower(t)), "\\s+"), x => x =!= "")
    val nw = size(toks)
    val mwl = when(nw > 0,
      round(length(regexp_replace(trim(t), "\\s+", "")).cast("double") / nw, 6))
      .otherwise(lit(0.0))
    val nSymbols = (length(t) - length(replace(t, lit("#"), lit("")))) +
      (length(t) - length(replace(t, lit("..."), lit("")))) / 3
    val symbolRatio = when(nw > 0,
      round(nSymbols.cast("double") / nw, 6)).otherwise(lit(0.0))
    val lines = split(t, "\n")
    val bulletFrac = round(size(filter(lines,
      l => trim(l).rlike("^[-*•]"))).cast("double") / size(lines), 6)
    val ellipsisFrac = round(size(filter(lines,
      l => l.rlike("(\\.\\.\\.|…)\\s*$"))).cast("double") / size(lines), 6)
    val alphaFrac = when(nw > 0, round(size(filter(toks,
      x => x.rlike("[a-z]"))).cast("double") / nw, 6)).otherwise(lit(0.0))
    val nReq = size(array_intersect(array_distinct(toks),
      typedLit(GopherRequiredWords)))
    docs.select(col(idCol).as("doc_id"),
      nw.as("n_words"), mwl.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"), bulletFrac.as("bullet_line_frac"),
      ellipsisFrac.as("ellipsis_line_frac"), alphaFrac.as("alpha_word_frac"),
      nReq.as("n_required_words"),
      (nw >= minWords && nw <= maxWords &&
        mwl >= 3.0 && mwl <= 10.0 &&
        symbolRatio <= 0.1 &&
        bulletFrac <= 0.9 && ellipsisFrac <= 0.3 &&
        alphaFrac >= 0.8 && nReq >= 2).as("keep"))
  }

  /** (gram, n) of the most frequent word n-gram: sort the gram array, then
    * one run-length fold — a pure row-local expression, zero shuffle (the
    * explode+groupBy alternative would shuffle every gram of every doc on
    * doc id). Ties break to the lexicographically smallest gram (the fold
    * keeps the FIRST max-count run of the ascending sort). */
  def topNgram(text: Column, n: Int): Column = {
    val sorted = array_sort(ngramsAll(text, n))
    val init = struct(lit("").as("cur"), lit(0L).as("curn"),
      lit("").as("best"), lit(0L).as("bestn"))
    aggregate(sorted, init, (acc, g) => {
      val curn = when(g === acc.getField("cur"), acc.getField("curn") + lit(1L))
        .otherwise(lit(1L))
      val better = curn > acc.getField("bestn")
      struct(g.as("cur"), curn.as("curn"),
        when(better, g).otherwise(acc.getField("best")).as("best"),
        when(better, curn).otherwise(acc.getField("bestn")).as("bestn"))
    }, acc => struct(acc.getField("best").as("gram"), acc.getField("bestn").as("n")))
  }

  /** Fraction of the normalized text's characters covered by ALL n-grams
    * occurring more than once (Gopher's "duplicate n-gram character
    * fraction", the n=5..10 companion of [[topNgram]]'s top-gram rule):
    * Σ over duplicated grams of count·len(gram), over the normalized
    * length. Same overlap convention as [[topNgramCharFraction]] — each
    * occurrence counts its full span, so degenerate docs can exceed 1.
    * One sorted run-length fold, row-local, zero shuffle: the telescoping
    * delta adds 2·len on a run's second member and len on each later one,
    * so duplicated runs accumulate count·len without a second pass.
    * Empty text scores 0. */
  def dupNgramCharFraction(text: Column, n: Int): Column = {
    val sorted = array_sort(ngramsAll(text, n))
    val dupChars = aggregate(sorted,
      struct(lit("").as("cur"), lit(0L).as("m"), lit(0L).as("acc")),
      (st, g) => {
        val m = when(g === st.getField("cur"), st.getField("m") + 1L)
          .otherwise(lit(1L))
        val delta = when(m === 2L, lit(2L) * length(g))
          .when(m > 2L, length(g).cast("long"))
          .otherwise(lit(0L))
        struct(g.as("cur"), m.as("m"), (st.getField("acc") + delta).as("acc"))
      },
      st => st.getField("acc"))
    val normLen = length(regexp_replace(lower(trim(text)), "\\s+", " "))
    when(normLen > 0, round(dupChars.cast("double") / normLen, 6))
      .otherwise(lit(0.0))
  }

  /** Fraction of the normalized text's characters covered by occurrences of
    * the most frequent n-gram (Gopher's "top n-gram character fraction";
    * overlapping occurrences can push it past 1 for degenerate docs).
    * Empty/whitespace-only text scores 0.0 (the unguarded division by a
    * zero-length normalization would yield null — or error under ANSI). */
  def topNgramCharFraction(top: Column, text: Column): Column = {
    val normLen = length(regexp_replace(lower(trim(text)), "\\s+", " "))
    when(normLen > 0,
      round(top.getField("n") * length(top.getField("gram")).cast("double") / normLen, 6))
      .otherwise(lit(0.0))
  }

  // ---------------------------------------------------- context chunking
  /** Split documents into fixed-token windows with overlap (RAG / context-
    * window prep): chunk `i` covers tokens `[i*stride+1, i*stride+window]`,
    * so `stride < window` overlaps consecutive chunks by `window - stride`
    * tokens. Chunk count is `1 + ceil(max(0, nTok - window) / stride)` —
    * every token is covered and only the last chunk may run short. A pure
    * row-local explode: no shuffle, embarrassingly parallel at 100 TB.
    * Emits (doc_id, chunk_id, tok_start, n_tokens, chunk_hash) where
    * chunk_hash = md5 of the space-joined window — chunk identity travels
    * as 32 bytes, never as text. The per-window hashing is a native kernel
    * (functions.ChunkExprs.tokenWindowHashes): tokens join into ONE byte
    * buffer per document and each window digests a byte RANGE of it —
    * byte-identical to md5(concat_ws(" ", slice(...))) without the
    * per-position window copy that dominated the stride-1 bench. */
  def chunkByTokens(docs: DataFrame, idCol: String, textCol: String,
                    window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      "need 0 < stride <= window")
    val toks = TextAnalysis.tokens(col(textCol))
    docs.select(col(idCol).as("doc_id"),
        explode(graft.functions.ChunkExprs.tokenWindowHashes(
          toks, window, stride)).as("__c"))
      .select(col("doc_id"), col("__c.chunk_id").as("chunk_id"),
        col("__c.tok_start").as("tok_start"),
        col("__c.n_tokens").as("n_tokens"),
        col("__c.chunk_hash").as("chunk_hash"))
  }

  // ---------------------------------------------- duplicate passages
  /** Cross-document duplicated-passage detection — the passage-level
    * member of the dedup family (between q63's line level and q26's doc
    * level): every `window`-token contiguous run that appears in at least
    * `minDocs` DISTINCT documents is reported, with its position in each.
    *
    * With the default `stride = 1` this is EXACT for the "shared passage
    * of >= window tokens" semantic (the suffix-array substring-dedup rule
    * from the deduplication literature, re-expressed Spark-shaped): every
    * token position starts a window, so a shared run of w >= window
    * tokens yields w − window + 1 identical window hashes in every
    * carrier regardless of alignment. `stride > 1` is the cheaper
    * ALIGNED-ONLY mode (detects stride-aligned duplication — shared
    * prefixes, fixed templates) — explode factor drops from ~n_tokens to
    * ~n_tokens/stride.
    *
    * 100 TB shape: one explode to (doc, pos, 32-byte window hash) — text
    * never shuffles; the frequency aggregate is map-side combinable on
    * the hash; carriers re-join on the hash key (broadcast when the
    * duplicated set is small, co-keyed shuffle otherwise). Short tail
    * windows are excluded (they hash differently per doc and would read
    * as spuriously unique). Returns (doc_id, tok_start, chunk_hash,
    * n_docs). */
  def duplicatePassages(docs: DataFrame, idCol: String, textCol: String,
                        window: Int = 50, stride: Int = 1,
                        minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, "a passage needs at least two carriers")
    val full = chunkByTokens(docs, idCol, textCol, window, stride)
      .filter(col("n_tokens") === window)
    val freq = full.groupBy("chunk_hash")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
    full.join(freq, "chunk_hash")
      .select(col("doc_id"), col("tok_start"), col("chunk_hash"), col("n_docs"))
  }

  // ------------------------------------------------- boilerplate filtering
  /** A line survives the C4-style boilerplate pass iff it has at least
    * `minTokens` whitespace tokens AND ends with terminal punctuation
    * (period / ! / ? / closing quote) — the heuristic that strips nav bars,
    * cookie banners, and menu fragments from web text. RE2-compatible so
    * the DuckDB oracle runs the identical pattern. */
  val TerminalPunctRe = "[.!?\"']\\s*$"

  /** The surviving lines of a document, in order. Row-local. */
  def keptLines(text: Column, minTokens: Int = 5): Column =
    filter(split(text, "\n"), l =>
      size(split(trim(l), "\\s+")) >= minTokens && l.rlike(TerminalPunctRe))

  /** C4-style document hygiene: per-doc line stats plus the doc-level keep
    * decision — a doc survives iff at least `minKeptLines` lines survive the
    * line pass, it contains no "lorem ipsum" placeholder, and no curly brace
    * (the C4 code/JS-leak heuristic). Every signal is a row-local expression
    * (zero shuffle); the cleaned text travels as an md5, not as content.
    * Downstream use: `.filter(col("keep"))` before tokenization. */
  def boilerplateStats(docs: DataFrame, idCol: String, textCol: String,
                       minTokens: Int = 5, minKeptLines: Int = 3): DataFrame = {
    val t = col(textCol)
    val kept = keptLines(t, minTokens)
    docs.select(col(idCol).as("doc_id"),
      size(split(t, "\n")).as("n_lines"),
      size(kept).as("n_kept_lines"),
      md5(concat_ws("\n", kept)).as("kept_hash"),
      (size(kept) >= minKeptLines &&
        !lower(t).contains("lorem ipsum") &&
        !t.contains("{")).as("keep"))
  }

  // ------------------------------------------------------- PII scrubbing
  /** Conservative PII patterns, deliberately RE2-compatible (no lookaround,
    * no backrefs) so the same pattern runs in Spark (java.util.regex) and
    * any RE2-based engine (the DuckDB oracle) with identical semantics. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  val PhoneRe = "\\+\\d[\\d-]{7,}\\d"

  def piiEmailCount(c: Column): Column = size(regexp_extract_all(c, lit(EmailRe), lit(0)))
  def piiIpCount(c: Column): Column = size(regexp_extract_all(c, lit(Ipv4Re), lit(0)))
  def piiPhoneCount(c: Column): Column = size(regexp_extract_all(c, lit(PhoneRe), lit(0)))

  /** Redact PII in place: emails, then IPv4s, then international-format
    * phone numbers. ORDER MATTERS and is part of the contract — emails go
    * first so an address's host digits can't be half-eaten as a phone/IP,
    * and the replacement tokens contain no digits so later passes cannot
    * re-match earlier redactions. Per-row, zero shuffle, codegen'd. */
  def piiRedact(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, lit(EmailRe), lit("<EMAIL>")),
        lit(Ipv4Re), lit("<IP>")),
      lit(PhoneRe), lit("<PHONE>"))

  // ------------------------------------------------- contamination check
  /** Benchmark-contamination check: which corpus docs share at least one
    * word `n`-gram with the (small) benchmark set, and how many distinct
    * grams they share. 100 TB shape: the benchmark's distinct grams
    * BROADCAST (a benchmark suite is KBs-MBs); the corpus side is a per-row
    * shingle explode feeding a broadcast-hash join — the full corpus never
    * shuffles, and the only exchange is the doc-id aggregation over HIT
    * rows (rare by construction). */
  def contamination(corpus: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int = 5): DataFrame = {
    val benchGrams = bench
      .select(explode(Dedup.wordShingles(col(textCol), n)).as("gram")).distinct()
    corpus.select(col(idCol).as("doc_id"),
        explode(Dedup.wordShingles(col(textCol), n)).as("gram"))
      .join(broadcast(benchGrams), "gram")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
  }

  /** Per-document n-gram novelty against a reference corpus: the fraction
    * of the doc's DISTINCT word n-grams absent from the reference's gram
    * set — [[contamination]]'s complement (that flags overlap; this scores
    * originality/memorization risk). Grams travel as md5 (16 bytes however
    * long the gram text), the reference side is a distinct-gram relation
    * joined left — broadcast when the reference is small, co-keyed shuffle
    * otherwise (AQE decides) — and the per-doc fraction is one aggregate.
    * Returns (doc_id, n_grams, n_novel, novelty 6dp). */
  def ngramNovelty(corpus: DataFrame, ref: DataFrame, idCol: String,
                   textCol: String, n: Int = 3): DataFrame = {
    val refGrams = ref
      .select(explode(Dedup.wordShingles(col(textCol), n)).as("gram"))
      .select(md5(col("gram")).as("__g")).distinct()
      .withColumn("__seen", lit(1))
    corpus.select(col(idCol).as("doc_id"),
        explode(Dedup.wordShingles(col(textCol), n)).as("gram"))
      .select(col("doc_id"), md5(col("gram")).as("__g"))
      .join(refGrams, Seq("__g"), "left")
      .groupBy("doc_id").agg(count(lit(1)).as("n_grams"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel") / col("n_grams").cast("double"), 6))
  }

  // ---------------------------------------------------- mixture sampling
  /** Deterministic per-row sampling at a data-dependent rate: keep a row iff
    * md5(salt ++ key) (first 8 hex chars, i.e. a uniform 32-bit draw) falls
    * under `rate` — the [[splitLabel]] trick with a per-row threshold, so a
    * corpus-mixture policy (per-source rates, temperature sampling) is one
    * stateless filter: no shuffle, stable under corpus growth, re-dealable
    * by salt. Rates clamp to [0, 1] at BOTH ends (a data-dependent rate —
    * temperature sampling — can go negative; unclamped, the negative long
    * renders as unsigned 64-bit hex and would silently keep ~all rows), and
    * rate >= 1.0 short-circuits to keep-everything, including the
    * one-in-2^32 'ffffffff' hash that a strict `<` compare would drop.
    * Null keys hash as the empty string, same as [[splitLabel]]. */
  def sampleByRate(df: DataFrame, keyCol: Column, salt: String,
                   rateCol: Column): DataFrame = {
    val h = substring(md5(concat(lit(salt), coalesce(keyCol.cast("string"), lit("")))), 1, 8)
    df.filter(keepCondition(h, rateCol))
  }

  /** The keep predicate of [[sampleByRate]], on an already-drawn 8-hex-char
    * uniform value — split out so the boundary cases (negative rate, the
    * 'ffffffff' fixed point at rate 1.0) are directly testable. */
  private[graft] def keepCondition(hashHex: Column, rateCol: Column): Column = {
    val r = least(greatest(rateCol, lit(0.0)), lit(1.0))
    val capped = least(floor(r * lit(4294967296.0)),
      lit(4294967295.0)).cast("long")
    val hexCut = lpad(lower(conv(capped.cast("string"), 10, 16)), 8, "0")
    r >= 1.0 || hashHex < hexCut
  }

  /** Deterministic weighted sample WITHOUT replacement: the k rows with
    * the largest u^(1/w) survive, u drawn uniform from md5(salt ++ key) —
    * the Efraimidis–Spirakis A-ES scheme, under which row i's inclusion
    * odds are proportional-to-size without replacement. The quality-/
    * length-weighted corpus subsetting step ([[sampleByRate]] keeps a
    * FRACTION per group; this keeps an exact COUNT, importance-weighted),
    * re-dealable by salt, reproducible across runs.
    *
    * Scale shape: the priority is a row-local expression and the top-k is
    * a TakeOrdered cutoff — map-side partial top-k per partition, no
    * global sort, no window. Rows with weight <= 0 or NULL are never
    * sampled (A-ES is undefined there; a zero-weight row must not be able
    * to win). The priority is rounded to 9 decimals with the key string
    * as tiebreaker, so the selection is stable under last-ulp `pow`
    * differences across engines/libms — the same cross-engine rounding
    * discipline as the entropy/TF-IDF queries. */
  def weightedSample(df: DataFrame, keyCol: Column, salt: String,
                     weightCol: Column, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val keyStr = coalesce(keyCol.cast("string"), lit(""))
    val v = conv(substring(md5(concat(lit(salt), keyStr)), 1, 8), 16, 10)
      .cast("double")
    val u = (v + lit(0.5)) / lit(4294967296.0)
    val w = weightCol.cast("double")
    val priority = round(pow(u, lit(1.0) / w), 9)
    df.filter(w.isNotNull && w > 0)
      .withColumn("__aes", priority)
      .withColumn("__tie", keyStr)
      .orderBy(col("__aes").desc, col("__tie").asc)
      .limit(k)
      .drop("__aes", "__tie")
  }

  /** Per-group mixture sampling: each group (source, domain, language...)
    * keeps a different deterministic fraction. Groups absent from `rates`
    * use `defaultRate`. */
  def mixtureSample(df: DataFrame, keyCol: Column, salt: String,
                    groupCol: Column, rates: Seq[(String, Double)],
                    defaultRate: Double): DataFrame = {
    val rateCol = rates.foldRight(lit(defaultRate): Column) {
      case ((g, r), rest) => when(groupCol === g, lit(r)).otherwise(rest)
    }
    sampleByRate(df, keyCol, salt, rateCol)
  }

  /** [[mixtureSample]] with DATA-DRIVEN rates: hit a global `budget` of
    * weight (tokens, bytes, rows) split across groups by target `shares`,
    * when the per-group rate is unknown until the corpus is measured — the
    * "rebalance 100 TB of crawl into a target source mixture" step that
    * precedes every pretraining run. rate_g = min(1, budget·share_g / W_g)
    * with W_g = Σ weight over the group (a share can only DOWN-sample; a
    * group under its allocation keeps everything — single-pass, no
    * redistribution of the shortfall).
    *
    * Weights sum exactly (long addition); the rate is one fixed-shape IEEE
    * expression of that exact sum, so the oracle reproduces the draw
    * bit-for-bit. One small per-group aggregate broadcast back, then the
    * [[sampleByRate]] projection — the fact table never shuffles. The kept
    * rows carry the applied rate as `rateOut`.
    */
  def budgetedMixtureSample(df: DataFrame, keyCol: Column, salt: String,
                            groupCol: Column, weightCol: Column,
                            budget: Double, shares: Seq[(String, Double)],
                            defaultShare: Double,
                            rateOut: String = "sample_rate"): DataFrame = {
    require(budget > 0 && defaultShare >= 0 && shares.forall(_._2 >= 0))
    val shareCol = shares.foldRight(lit(defaultShare): Column) {
      case ((g, v), rest) => when(col("__g") === g, lit(v)).otherwise(rest)
    }
    val totals = df.groupBy(groupCol.as("__g"))
      .agg(sum(weightCol.cast("long")).as("__w"))
    val rates = totals.select(col("__g"),
      least(lit(1.0), lit(budget) * shareCol / col("__w").cast("double"))
        .as(rateOut))
    // null-safe equality: a null group key must meet its own totals row
    // (plain === would silently drop every null-group row at the join)
    val joined = df.join(broadcast(rates), groupCol <=> col("__g"), "inner")
      .drop("__g")
    sampleByRate(joined, keyCol, salt, col(rateOut))
  }

  // ---------------------------------------------------- per-group capping
  /** Cap each group (domain, source, license bucket...) at `k` rows, chosen
    * deterministically: the k rows with the SMALLEST md5(salt ++ key) draw
    * survive — the C4/RefinedWeb "max documents per domain" rule, re-dealable
    * by salt, reproducible across runs.
    *
    * Semantics: exactly `row_number() OVER (PARTITION BY group ORDER BY
    * draw, key) <= k` (the DuckDB oracle runs that verbatim). The
    * implementation avoids ranking whole mega-groups: per-group counts
    * (map-side combinable) set a hash cutoff of `oversample·k/n`, the rank
    * window runs over the ~oversample·k survivors of each large group
    * (small groups skip the filter), and any group whose draw under-fills —
    * possible only through an astronomically unlikely hash clump, but
    * possible — falls back to ranking its full row set, so the result is
    * ALWAYS exact, not probably-exact. At 100 TB the window partition is
    * thus bounded by oversample·k, not by the hottest domain's size.
    *
    * NULL group keys form their own capped group (like a window's NULL
    * partition), not silently dropped: the internal joins run on the
    * (coalesced key, is-null flag) PAIR — never on the raw nullable column
    * (an equi join on a nullable key would discard every null-group row),
    * and never on a sentinel string (a genuine group value equal to any
    * sentinel would silently share the null group's cap). */
  def capPerGroup(df: DataFrame, groupCol: String, keyCol: String,
                  salt: String, k: Int, oversample: Int = 8): DataFrame = {
    require(k > 0 && oversample > 0)
    val h = substring(md5(concat(lit(salt),
      coalesce(col(keyCol).cast("string"), lit("")))), 1, 8)
    val withH = df.withColumn("__h", h)
      .withColumn("__g", coalesce(col(groupCol).cast("string"), lit("")))
      .withColumn("__gn", col(groupCol).isNull)
    val counts = withH.groupBy("__g", "__gn").agg(count(lit(1)).as("__n"))
    val j = withH.join(counts, Seq("__g", "__gn"))
    val cut = least(floor(lit(oversample.toDouble * k) / col("__n") * 4294967296.0),
      lit(4294967295.0)).cast("long")
    val cutHex = lpad(lower(conv(cut.cast("string"), 10, 16)), 8, "0")
    val keep = col("__n") <= oversample.toLong * k || col("__h") < cutHex
    // exactness rescue: a large group whose draw under-filled ranks its
    // full row set instead (processes ~zero rows in practice); the
    // broadcast left-join marker folds the rescue into the same scan —
    // branching into left_anti + left_semi unions would re-scan the input
    val under = j.filter(keep).groupBy("__g", "__gn").agg(count(lit(1)).as("__s"))
      .filter(col("__s") < k).select(col("__g"), col("__gn"), lit(1).as("__u"))
    val candidates = j.join(broadcast(under), Seq("__g", "__gn"), "left")
      .filter(keep || col("__u").isNotNull)
    val w = Window.partitionBy(col("__g"), col("__gn")).orderBy(col("__h"), col(keyCol))
    candidates.withColumn("__rnk", row_number().over(w))
      .filter(col("__rnk") <= k)
      .drop("__h", "__n", "__rnk", "__g", "__gn", "__u")
  }

  // ---------------------------------------------- per-group top-k by score
  /** The k HIGHEST-`scoreCol` rows of each group, ties to the smallest
    * `keyCol` — "the 10 best documents per domain by quality". Semantics:
    * exactly `row_number() OVER (PARTITION BY group ORDER BY score DESC,
    * key ASC) <= k`.
    *
    * Scale shape (generalizes [[capPerGroup]]'s cutoff from the uniform
    * md5 draw to ARBITRARY scores): a per-group score threshold is read
    * from a DETERMINISTIC sample — the rows whose md5(key) draw falls
    * under ~4096/n_g, a pure function of the data — whose sorted scores
    * give the empirical quantile with a 4× safety margin; only rows
    * at/above the threshold reach the rank window (expected survivors
    * ~4·oversample·k per group). Any group the sample misjudges falls
    * back to ranking its full row set, so the output is EXACT: every
    * global top-k row scores at least the k-th survivor's score, hence
    * survives the prune whenever ≥ k rows do. Determinism is load-bearing,
    * not a nicety — the threshold subtree evaluates once under the rescue
    * count and once under the candidate filter, and an order-sensitive
    * sketch (approx_percentile's Greenwald-Khanna summaries merge in
    * task-completion order) could hand the two evaluations different
    * thresholds and break the rescue's exactness guarantee; the md5-draw
    * sample is identical on every evaluation by construction. NULL group
    * keys form their own group, carried as the (coalesced key, is-null
    * flag) pair like capPerGroup — no sentinel a genuine value could
    * collide with; NULL scores never place. */
  def topKPerGroup(df: DataFrame, groupCol: String, scoreCol: String,
                   keyCol: String, k: Int, oversample: Int = 8): DataFrame = {
    require(k > 0 && oversample > 0)
    val sampleTarget = 4096.0
    // Eager cut at the top (guide §7.2 duplicated subtrees / §5 lineage
    // cut): this relation has FIVE plan consumers (counts, the sample
    // aggregate, the under-filled probe, the candidate filter, and the
    // final window's input), and column pruning specializes each subtree
    // below its scan, so neither exchange reuse nor AQE's stage cache
    // unifies them — the caller's score expression (often the expensive
    // part: q67's quality score) re-evaluated per consumer, 5 full-corpus
    // passes. A group-keyed repartition barrier measured NO win (the
    // pruned Projects below it keep the subtrees non-identical); the
    // materialization is what collapses the passes to one, keyed so the
    // downstream groupBys and the rank window inherit the partitioning.
    // The caller projects its input to (group, score, key [+ output
    // columns]) by contract, so the cut is a narrow relation, not raw rows.
    val withG = graft.operators.Ops.materialize(df.withColumn("__g",
        coalesce(col(groupCol).cast("string"), lit("")))
      .withColumn("__gn", col(groupCol).isNull)
      .repartition(col("__g"), col("__gn")))
    val counts = withG.groupBy("__g", "__gn").agg(count(lit(1)).as("__n"))
    val j0 = withG.join(counts, Seq("__g", "__gn"))
    val drawHex = substring(md5(concat(lit("tkpg:"),
      coalesce(col(keyCol).cast("string"), lit("")))), 1, 8)
    val inSample = keepCondition(drawHex,
      least(lit(1.0), lit(sampleTarget) / col("__n")))
    val samples = j0.filter(inSample).groupBy("__g", "__gn").agg(
      sort_array(collect_list(col(scoreCol)), asc = false).as("__ss"),
      count(col(scoreCol)).as("__m"), first(col("__n")).as("__sn"))
    // sample index whose score bounds a group tail of ~4·oversample·k rows
    val idx = least(col("__m"), greatest(lit(1L),
      ceil(lit(4.0 * oversample * k) * col("__m") / col("__sn")).cast("long"))).cast("int")
    val stats = samples
      .withColumn("__t", when(col("__m") > 0, element_at(col("__ss"), idx)))
      .select("__g", "__gn", "__t")
    // LEFT join + null-threshold pass-through: a group whose sample holds
    // no usable score (possible only via all-null scores) must not vanish
    // in the join — it ranks its full row set
    val j = j0.join(stats, Seq("__g", "__gn"), "left")
    val keep = col("__t").isNull || col(scoreCol) >= col("__t")
    val under = j.filter(keep).groupBy("__g", "__gn").agg(count(lit(1)).as("__s"))
      .filter(col("__s") < k).select(col("__g"), col("__gn"), lit(1).as("__u"))
    // one scan decides both paths: a row is a candidate if it survives the
    // prune OR its group is marked under-filled (broadcast left-join
    // marker — branching into left_anti + left_semi unions would scan the
    // input twice more, re-evaluating the caller's score expressions)
    val candidates = j.join(broadcast(under), Seq("__g", "__gn"), "left")
      .filter(keep || col("__u").isNotNull)
    val w = Window.partitionBy(col("__g"), col("__gn"))
      .orderBy(col(scoreCol).desc, col(keyCol).asc)
    candidates.withColumn("__rnk", row_number().over(w))
      .filter(col("__rnk") <= k)
      .drop("__g", "__gn", "__t", "__u", "__rnk")
  }

  // ------------------------------------------------- corpus line dedup
  /** RefinedWeb-style corpus-frequency line removal: a line whose content
    * occurs in MORE THAN `maxDocs` distinct documents is boilerplate
    * (copyright footers, nav bars, subscribe prompts) and is stripped from
    * every document. Returns (doc_id, n_lines, n_removed, cleaned_hash).
    *
    * Two strip paths, chosen by the MEASURED boilerplate-set size (the
    * frequency aggregate — lines shuffling ONCE as md5 hashes, 32 bytes,
    * text never shuffles — is shared work; it persists, one count() picks
    * the path, and the same materialized set feeds either):
    *
    *   - `<= broadcastLimit` distinct boilerplate lines: the set collapses
    *     to one array row and BROADCASTS; the strip is a row-local
    *     `array_contains` probe — zero text shuffle, the cheap path for the
    *     common case (a curated corpus has thousands of boilerplate lines,
    *     not millions).
    *   - above the limit: a RefinedWeb-scale corpus (millions of high-
    *     frequency lines) would blow up the single-row aggregate, the
    *     multi-GB broadcast, and the O(|boiler|) linear probe together — so
    *     documents `posexplode` into (doc, pos, line) rows, a LEFT ANTI
    *     join on the line md5 drops boilerplate, and the survivors
    *     re-aggregate by doc sorted on pos. Costs one extra keyed text
    *     shuffle; every piece of state is a plain keyed relation, nothing
    *     single-row. (Hot boilerplate keys sit on the anti join's PROBE
    *     side — AQE's skew-join split applies; the build side is distinct
    *     hashes, unskewed by construction.)
    *
    * Both paths are exact and emit identical rows (spec-pinned at the
    * forced threshold; PlanSpec pins each path's join shape). */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
                 maxDocs: Int, broadcastLimit: Long = 65536): DataFrame =
    dedupSegments(docs, idCol, textCol, c => split(c, "\n"),
      maxDocs, broadcastLimit)
      .withColumnRenamed("n_segments", "n_lines")

  /** [[dedupLines]] generalized to ANY row-local segmenter — pass
    * [[TextAnalysis.sentences]] for CCNet-style sentence-level corpus
    * dedup, or a custom splitter (paragraphs, code blocks). Same two strip
    * paths, same exactness; returns (doc_id, n_segments, n_removed,
    * cleaned_hash) where cleaned_hash is the md5 of the surviving
    * segments joined with newlines, in order.
    *
    * `idCol` must identify each document uniquely — one output row per
    * input row, and uniqueness includes the null key: AT MOST ONE document
    * may carry a NULL id (two null-id docs would merge in the reassembly
    * aggregation like any other duplicate id). That single null-id doc is
    * handled correctly — the reassembly join is null-safe, so it keeps its
    * own segments rather than losing all of them to a never-matching equi
    * join. */
  def dedupSegments(docs: DataFrame, idCol: String, textCol: String,
                    segmenter: Column => Column, maxDocs: Int,
                    broadcastLimit: Long = 65536): DataFrame = {
    require(maxDocs > 0)
    val segs = segmenter(col(textCol))
    val boilerHashes = docs
      .select(explode(array_distinct(segs)).as("seg"))
      .groupBy(md5(col("seg")).as("lh")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") > maxDocs)
      .select("lh")
      .persist()
    val nBoiler = boilerHashes.count()
    // the literal path collects to the DRIVER, so it is hard-capped at 2^20
    // hashes (~32 MB of plan literal) no matter how high a caller raises
    // broadcastLimit — beyond that the anti-join path engages regardless
    val litCap = math.min(broadcastLimit, 1L << 20)
    if (nBoiler <= litCap) {
      // bounded driver collect (<= litCap 32-byte hashes, ~2 MB at the
      // default cap — a documented bounded seam like the DetectTypes
      // sample): the set ships as one plan literal, the strip is a pure
      // row-local probe with NO join, and the cache is freed eagerly —
      // repeated calls (benches, tests, batch pipelines) pin nothing
      val arr = boilerHashes.collect().map(_.getString(0)).sorted.toSeq
      boilerHashes.unpersist(false)
      val kept = filter(segs, l => !array_contains(typedLit(arr), md5(l)))
      docs.select(col(idCol).as("doc_id"),
        size(segs).as("n_segments"),
        (size(segs) - size(kept)).as("n_removed"),
        md5(concat_ws("\n", kept)).as("cleaned_hash"))
    } else {
      // web-scale path: the boiler relation stays persisted for the one
      // lazy consumer below — 32 bytes/row of hash-only state, a
      // deliberate trade against re-scanning the whole corpus; the cache
      // lives until the session ends (this path is the once-per-corpus
      // big job, not a loop body)
      val exploded = docs
        .select(col(idCol).as("doc_id"), posexplode(segs).as(Seq("pos", "seg")))
        .withColumn("lh", md5(col("seg")))
      val keptAgg = exploded.join(boilerHashes, Seq("lh"), "left_anti")
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("pos"), col("seg")))).as("__ks"))
        .withColumnRenamed("doc_id", "__did")
      // docs whose every segment was boilerplate vanish from the groupBy —
      // the NULL-SAFE left join from the per-doc base keeps them (and
      // null-id docs) with zero survivors
      docs.select(col(idCol).as("doc_id"), size(segs).as("n_segments"))
        .join(keptAgg, col("doc_id") <=> col("__did"), "left")
        .select(col("doc_id"), col("n_segments"),
          (col("n_segments") - coalesce(size(col("__ks")), lit(0))).as("n_removed"),
          md5(coalesce(concat_ws("\n",
            transform(col("__ks"), s => s.getField("seg"))), lit("")))
            .as("cleaned_hash"))
    }
  }

  // ------------------------------------------------- incremental refresh
  /** Content-aware diff of two corpus snapshots, the primitive behind
    * incremental curation ("process only what changed since the last
    * crawl"): per document id, compare content FINGERPRINTS (md5 of the
    * normalized text — never the text) and classify:
    *
    *   - `added`     — id only in `current`
    *   - `removed`   — id only in `previous`
    *   - `changed`   — id in both, fingerprints differ
    *   - `unchanged` — id in both, fingerprints equal
    *
    * Returns (doc_id, status, fp_current, fp_previous). One id-keyed
    * full-outer shuffle join carrying (id, 32-byte fp) per side — text
    * never shuffles, and downstream passes re-curate only the
    * added/changed slice (typically a sliver of a 100 TB corpus), which is
    * what makes re-crawls affordable. */
  def corpusDelta(current: DataFrame, previous: DataFrame,
                  idCol: String, textCol: String): DataFrame = {
    def fps(df: DataFrame, side: String) = df.select(
      col(idCol).as("doc_id"),
      TextAnalysis.fingerprint(col(textCol)).as(s"fp_$side"))
    fps(current, "current")
      .join(fps(previous, "previous"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("fp_previous").isNull, lit("added"))
          .when(col("fp_current").isNull, lit("removed"))
          .when(col("fp_current") === col("fp_previous"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("fp_current"), col("fp_previous"))
  }

  // --------------------------------------------------- stratified sampling
  /** Deterministic stratified sample: the first ceil(n_g·pct/100) rows of
    * each stratum in md5(salt‖"|"‖id) order — every stratum keeps its
    * share, tiny strata survive (ceil ≥ 1), and the draw is reproducible on
    * any cluster with no RNG state (the q51/q57 hash discipline: adding rows
    * to one stratum never changes another's picks). The target count is
    * PURE INTEGER arithmetic, `(n·pct + 99) div 100` — a float fraction
    * would make ceil(0.2·25) engine-dependent (IEEE 0.2·25 > 5). Per-stratum
    * counts broadcast back; the rank window partitions by stratum and sorts
    * the hash, so hot strata sort once and nothing global materializes. The
    * id-ascending tiebreak makes md5 collisions harmless. */
  def stratifiedSample(df: DataFrame, strataCols: Seq[String], idCol: String,
                       pct: Int, salt: String = "s"): DataFrame = {
    require(pct > 0 && pct <= 100 && strataCols.nonEmpty)
    val h = md5(concat_ws("|", lit(salt), col(idCol).cast("string")))
    val counts = df.groupBy(strataCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy(strataCols.map(col): _*)
      .orderBy(h.asc, col(idCol).asc)
    df.join(broadcast(counts), strataCols)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= expr(s"(__n * $pct + 99) div 100"))
      .drop("__rn", "__n")
  }

  // ------------------------------------------------------- curation compose
  /** The composed curation pass a training-data pipeline runs before
    * tokenization: language filter → quality filter → exact dedup (keep the
    * minimum id per content fingerprint). Per-row filters run BEFORE the
    * dedup shuffle, so at 100 TB the only exchange carries the already-
    * curated survivors' (fingerprint, id) — never full text, never
    * discarded rows. Returns the kept documents with their predicted
    * language and quality score. */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             lang: String, minQuality: Double): DataFrame = {
    // fp-keyed exchange barrier (the codebase's standard collapse/expand
    // pattern): langId/quality/fingerprint compute ONCE, and both consumers
    // — the keep-list aggregate and the semi join — reuse the same shuffle
    // (ReusedExchange), already co-partitioned on fp
    val scored = docs.select(col(idCol).as("doc_id"),
        TextAnalysis.langId(col(textCol)).as("lang"),
        TextAnalysis.qualityScore(col(textCol)).as("quality"),
        TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .filter(col("lang") === lang && col("quality") >= minQuality)
      .repartition(col("fp"))
    val keep = scored.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    scored.join(keep, Seq("fp", "doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), col("quality"))
  }

  // --------------------------------------------------- budget-greedy trim
  /** Deterministic "best docs until the token budget" trimming: within each
    * shard (shard = id mod numShards, the [[packSequences]] scale
    * contract), docs are taken best-score-first (ties to the smaller id)
    * while the shard's EXCLUSIVE running weight stays under
    * budget / numShards — so a doc is kept iff everything strictly better
    * than it still left room. Sharding is what scales it: the only window
    * runs per shard, there is no global sort, and the shard budgets sum to
    * the global one (a doc's keep decision depends only on better docs in
    * ITS shard — the documented approximation vs a global greedy, same
    * trade as packSequences). Returns kept rows:
    * (id, shard, weight, score). */
  def trimToBudget(docs: DataFrame, idCol: String, weightCol: Column,
                   scoreCol: Column, budget: Long, numShards: Int): DataFrame = {
    require(budget > 0 && numShards > 0)
    val id = col(idCol)
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("score").desc, col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(id.as("id"), pmod(id, lit(numShards)).as("shard"),
        weightCol.as("weight"), scoreCol.as("score"))
      .withColumn("__before", sum(col("weight")).over(w) - col("weight"))
      .filter(col("__before") < lit(budget / numShards))
      .select(col("id"), col("shard"), col("weight"), col("score"))
  }

  // ------------------------------------------------ curriculum interleave
  /** Quality-curriculum source interleave: rank docs within each source by
    * (score DESC, id), so ordering the corpus by (rank, source) yields a
    * round-robin mix of sources front-loaded with each source's best docs
    * - the pretraining data-order that avoids both source clumping and
    * quality cliffs. The rank is ONE source-keyed window; the global order
    * is a SORT KEY, not a computed position - a 100 TB write just
    * range-partitions on (rank, source), so no single-partition window
    * ever exists. Returns (id, source, rank_in_source, score). */
  def curriculumInterleave(docs: DataFrame, idCol: String, sourceCol: String,
                           scoreCol: Column): DataFrame = {
    // window binds the PROJECTED names (the repo's q202/q203 lesson)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("id"))
    docs.select(col(idCol).as("id"), col(sourceCol).as("source"),
        scoreCol.as("score"))
      .withColumn("rank_in_source", row_number().over(w))
  }

  // ------------------------------------------- eval-set apportionment
  /** Largest-remainder (Hamilton) apportionment of a k-item eval set
    * across groups, proportional to group size: quota_g = k·n_g, base =
    * quota // N, and the k − Σbase leftover seats go to the largest
    * remainders (quota mod N, ties to the smaller group key) — the
    * deterministic integer answer to "build a 10k-doc eval set matching
    * the corpus source mix", with Σ alloc = k exactly (floats can't
    * guarantee that). The windows run over the |groups| relation (bounded
    * by construction, the q207 discipline), never the corpus. Returns
    * (group, n_rows, n_alloc). */
  def allocateEvalSet(df: DataFrame, groupCol: String, k: Long): DataFrame = {
    require(k >= 0)
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_rows"))
    val total = counts.agg(sum(col("n_rows")).as("__N"))
    val w = Window.orderBy((col("__quota") % col("__N")).desc, col(groupCol))
    counts.crossJoin(broadcast(total))
      .withColumn("__quota", col("n_rows") * k)
      .withColumn("__base", floor(col("__quota") / col("__N")).cast("long"))
      .withColumn("__rank", row_number().over(w))
      .withColumn("__leftover",
        lit(k) - sum(col("__base")).over(
          Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      .withColumn("n_alloc",
        col("__base") + when(col("__rank") <= col("__leftover"), 1L)
          .otherwise(0L))
      .select(col(groupCol), col("n_rows"), col("n_alloc"))
  }
  // ------------------------------------------- mixture token-budget fill
  /** Two-pass water-filling token allocation across domains — the mixture
    * planner behind "sample this corpus to num/den of its tokens at these
    * target weights" (the DoReMi-style reweighting step before
    * [[mixtureSample]] executes per-row): budget B = (ΣT·num) div den;
    * pass 1 gives each domain min(tokens_d, (B·w_d) div W); pass 2
    * redistributes the undistributed remainder proportionally to the
    * UN-CAPPED domains' residual capacity, capped again. Exactly two
    * passes are the CONTRACT (deterministic, an oracle unrolls the same
    * two); the post-pass-2 dust (< #domains tokens + whatever exceeds
    * total capacity) stays unallocated by design.
    *
    * All arithmetic is integer: weights are integral, every division is a
    * single `div` on DECIMAL(38,0) products (B·w_d passes 2^63 at corpus
    * scale) of NON-NEGATIVE terms — floor (DuckDB) and truncate (Spark)
    * agree. Everything runs at domain cardinality; the corpus itself is
    * one (domain) rollup away and never re-shuffles. Returns per domain:
    * (domain, tokens, weight, alloc_tokens, rate, filled). */
  def tokenBudgetAllocation(domains: DataFrame, domainCol: String,
                            tokensCol: Column, weightCol: Column,
                            budgetNum: Int, budgetDen: Int): DataFrame = {
    require(budgetNum >= 0 && budgetDen > 0 && budgetNum <= budgetDen,
      s"budget fraction out of range: $budgetNum/$budgetDen")
    val base = domains.select(col(domainCol).as("domain"),
      tokensCol.cast("long").as("tokens"), weightCol.cast("long").as("weight"))
    val tot = base.agg(sum(col("tokens")).as("__T"), sum(col("weight")).as("__W"))
      .select(expr(s"(CAST(__T AS DECIMAL(38,0)) * $budgetNum) div $budgetDen")
        .as("__B"), col("__W"))
    val p1 = base.crossJoin(broadcast(tot))
      .withColumn("__a1",
        least(col("tokens"),
          expr("(CAST(__B AS DECIMAL(38,0)) * weight) div __W")))
    val left = p1.agg((first(col("__B")) - sum(col("__a1"))).as("__L"),
      sum(col("tokens") - col("__a1")).as("__C"))
    p1.crossJoin(broadcast(left))
      .withColumn("alloc_tokens",
        col("__a1") + when(col("__C") > 0,
          least(col("tokens") - col("__a1"),
            expr("(CAST(__L AS DECIMAL(38,0)) * (tokens - __a1)) div __C")))
          .otherwise(lit(0L)))
      .select(col("domain"), col("tokens"), col("weight"), col("alloc_tokens"),
        when(col("tokens") > 0, round(col("alloc_tokens").cast("double") /
          col("tokens").cast("double"), 6)).as("rate"),
        (col("alloc_tokens") === col("tokens")).as("filled"))
  }

  // ------------------------------------------------- balanced shard plan
  /** Deterministic weight-balanced shard assignment — the manifest step
    * that splits a curated corpus into `numShards` training files of
    * near-equal token mass. Docs first scatter into `fanout` hash groups
    * (id mod fanout — each group a random-ish sample of the weight
    * distribution), then each group round-robins its docs over the shards
    * in (weight DESC, id ASC) order with a per-group offset so no shard
    * systematically receives every group's heaviest doc.
    *
    * 100 TB shape: the ONLY window is rank-within-group — `fanout` bounds
    * the largest sort partition at n/fanout rows, the packSequences
    * discipline; there is no global sort. Balance follows from LPT-style
    * descending round-robin within strata: per group the spread between
    * two shards is at most one doc's weight. Returns per doc:
    * (id, grp, rank_in_grp, shard, weight). */
  def balancedShards(docs: DataFrame, idCol: String, weightCol: Column,
                     numShards: Int, fanout: Int = 64): DataFrame = {
    require(numShards >= 1 && fanout >= 1, s"bad bounds: $numShards/$fanout")
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("weight").desc, col("id").asc)
    docs.select(col(idCol).as("id"), weightCol.cast("long").as("weight"))
      .withColumn("grp", pmod(col("id"), lit(fanout.toLong)))
      .withColumn("rank_in_grp", row_number().over(w))
      .withColumn("shard",
        pmod(col("rank_in_grp") - 1 + col("grp"), lit(numShards.toLong)))
      .select(col("id"), col("grp"), col("rank_in_grp"), col("shard"),
        col("weight"))
  }
  // ---------------------------------------------- contrastive negatives
  /** Deterministic hash-slot negative sampling for contrastive training
    * pairs: for each query holding positives, draw `2k` candidate ids
    * from the [0, |universe|) doc-id space via fixed multiplicative
    * hashing ((q·1000003 + slot·40503) mod n — exact in 64-bit for query
    * ids below ~9·10¹², documented), drop candidates that are positives
    * of that query, dedup within-query collisions to their FIRST slot,
    * and ship the first k survivors in slot order. A query whose
    * positives swallow more than k of its 2k draws under-fills —
    * documented, not an error (the mixtureSample short-circuit
    * discipline). `universe` must carry a DENSE 0..n−1 id column (a
    * dense-rank build step or the [[balancedShards]] manifest produces
    * one).
    *
    * 100 TB shape: candidates are |queries|·2k rows, co-keyed with the
    * positives on (query, doc) for one anti join; the only window is
    * rank-within-query over ≤ 2k rows; the corpus itself never joins.
    * Returns (query, slot, doc_neg, rank ≤ k). */
  def negativeSample(positives: DataFrame, queryCol: String, docCol: String,
                     universe: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val m = universe.agg(count(lit(1)).as("__m"))
    val queries = positives.select(col(queryCol).cast("long").as("query"))
      .distinct()
    val cands = queries
      .select(col("query"),
        explode(sequence(lit(1), lit(2 * k))).as("slot"))
      .crossJoin(broadcast(m))
      .withColumn("doc_neg",
        pmod(col("query") * lit(1000003L) + col("slot") * lit(40503L),
          col("__m")))
      .groupBy(col("query"), col("doc_neg"))
      .agg(min(col("slot")).as("slot"))
    val w = Window.partitionBy(col("query")).orderBy(col("slot").asc)
    cands
      .join(positives.select(col(queryCol).cast("long").as("query"),
          col(docCol).cast("long").as("doc_neg")),
        Seq("query", "doc_neg"), "anti")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query"), col("slot"), col("doc_neg"), col("rank"))
  }
}
