package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline surface
  * (SURVEY §7.6): tokenization, per-document statistics, quality scoring,
  * language identification, token counting.
  *
  * All built from codegen'd `functions._` (no UDFs); every computed ratio is
  * a single double division of exact integer counts, so results are
  * bit-reproducible across engines (DuckDB-oracle safe).
  *
  * Scale: every operator here is embarrassingly parallel per-document
  * (narrow transformations only — no shuffle until the caller aggregates).
  */
object TextOps {

  /** Whitespace tokenizer — the corpus is single-space separated. */
  def tokens(text: Column): Column = split(text, " ")

  /** Stopword list (corpus function words). */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "on")

  /** Per-document statistics: char/token counts, distinct tokens,
    * mean token length.
    */
  def stats(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    docs.select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      size(t).as("n_tokens"),
      size(array_distinct(t)).as("n_distinct"),
      // mean token length = (chars - separators) / tokens; one double
      // division of exact ints → deterministic
      round(
        (length(col("text")) - (size(t) - lit(1))).cast("double") / size(t).cast("double"),
        6).as("mean_token_len"))
  }

  /** Quality scoring: stopword ratio, lexical diversity, length checks →
    * a 0-3 integer score and a bucket label. Thresholds are exact
    * comparisons on deterministically-computed ratios.
    *
    * `keyName` selects the carried-through identifier column (default
    * `doc_id`; rollup callers pass their grouping column instead of
    * re-joining it on afterwards — the scoring itself is one narrow scan
    * either way).
    */
  def quality(docs: DataFrame, keyName: String = "doc_id"): DataFrame = {
    val t = tokens(col("text"))
    val nTok = size(t)
    val stopCnt = size(filter(t, w => w.isInCollection(Stopwords)))
    val stopRatio = stopCnt.cast("double") / nTok.cast("double")
    val diversity = size(array_distinct(t)).cast("double") / nTok.cast("double")
    val score = (when(nTok >= 20 && nTok <= 1000, 1).otherwise(0)
      + when(stopRatio >= lit(0.02) && stopRatio <= lit(0.5), 1).otherwise(0)
      + when(diversity >= lit(0.2), 1).otherwise(0))
    docs.select(
      col(keyName),
      nTok.as("n_tokens"),
      stopCnt.as("stop_cnt"),
      round(stopRatio, 6).as("stop_ratio"),
      round(diversity, 6).as("diversity"),
      score.as("quality_score"),
      when(score >= 3, "high")
        .when(score === 2, "medium")
        .otherwise("low")
        .as("quality_bucket"))
  }

  /** Marker-token sets per language for the language-ID heuristic.
    * A real deployment would use character n-gram profiles; the mechanism
    * (per-class token scoring + deterministic arg-max) is the same.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "value", "row", "fast"),
    "fr" -> Seq("le", "la", "les", "est", "table"),
    "de" -> Seq("der", "die", "das", "und", "hash"),
    "es" -> Seq("el", "la", "los", "es", "query"),
    "zh" -> Seq("de", "shi", "le", "zai", "scan"))

  /** Language ID: count marker tokens per class, predict the arg-max with
    * a fixed tie-break order (declaration order above).
    */
  def langId(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val scored = docs.select(
      (Seq(col("doc_id"), col("lang")) ++ LangMarkers.map { case (l, markers) =>
        size(filter(t, w => w.isInCollection(markers))).as(s"s_$l")
      }): _*)
    val langs = LangMarkers.map(_._1)
    // arg-max with declaration-order tie-break: first lang whose score is
    // >= all others wins
    val pred = langs
      .foldLeft(when(lit(false), "")) { (acc, l) =>
        val isMax = langs
          .filter(_ != l)
          .map(o => col(s"s_$l") >= col(s"s_$o"))
          .reduce(_ && _)
        acc.when(isMax, l)
      }
      .otherwise(langs.head)
    scored.withColumn("pred_lang", pred)
  }

  /** Corpus-level language-ID summary: docs + marker-match rate per
    * (actual, predicted) pair.
    */
  def langIdSummary(docs: DataFrame): DataFrame =
    langId(docs)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      // round 15: ≤ langs² rows — collapse before the final sort
      .transform(graft.core.Spread.collapseBounded(_, "langIdSummary.collapse"))
      .orderBy(col("lang"), col("pred_lang"))

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken MOSS
    * scheme): k-gram rolling hashes over the raw characters, then the
    * minimum of every w-hash window; the distinct window-minima are the
    * document's fingerprints. Near-dup docs share most fingerprints, and
    * any sufficiently long shared substring is guaranteed to contribute at
    * least one.
    *
    * The k-gram hash is a plain base-257 polynomial over char codes —
    * k = 5 keeps it inside exact int64 (127·257⁴ · 5 < 2⁶³), so no modulus
    * is needed and the same arithmetic is expressible in the DuckDB oracle.
    *
    * WARNING — fixture-scale only: as a single nested column expression,
    * the window-minima lambda re-evaluates the whole hash transform per
    * slice (interpreted HOFs have no subexpression reuse) — O(len²·k)
    * per row. Production path: [[winnowSummary]], which stages the hash
    * array into its own bound column first.
    */
  def winnowFingerprints(text: Column, k: Int = 5, w: Int = 4): Column = {
    require(k >= 2 && k <= 7, "base-257 polynomial must stay inside exact int64")
    val base = 257L
    // hash of the k-gram starting at 0-based offset i (substr is 1-based):
    // Σ_j ascii(text[i+j]) · 257^(k-1-j)
    def kgramHash(i: Column): Column =
      (0 until k)
        .map { j =>
          val pow = math.pow(base.toDouble, (k - 1 - j).toDouble).toLong
          ascii(text.substr(i + lit(j + 1), lit(1))).cast("long") * lit(pow)
        }
        .reduce(_ + _)
    val hashes = transform(sequence(lit(0), length(text) - lit(k)), kgramHash(_))
    // window minima over every w consecutive hashes, deduplicated
    val mins = array_distinct(
      transform(
        sequence(lit(0), size(hashes) - lit(w)),
        p => array_min(slice(hashes, p + lit(1), lit(w)))))
    when(length(text) >= k + w - 1, mins).otherwise(array().cast("array<bigint>"))
  }

  /** Per-doc winnowing summary (`doc_id, n_fp, min_fp, max_fp`) — the
    * verify-facing shape; the raw fingerprint sets feed near-dup joins the
    * same way shingles do.
    *
    * Runs on the NATIVE kernel ([[graft.functions.WinnowFingerprintsExpr]]):
    * the whole pass — rolling hash, window minima, dedup — is one compiled
    * O(len) loop inside whole-stage codegen. The HOF formulation this
    * replaced needed a persist barrier between its hash and minima stages
    * (interpreted lambdas re-evaluate nested expressions per element — the
    * one-shot form was O(len²·k), 625 s at sf0.01; see
    * [[winnowFingerprints]], kept as the spec-pinned cross-check), and even
    * barriered, the interpreted hash fill cost ~10 s/sf0.1 re-paid on every
    * cache release (PERF.md §"Round 4 (final): analytics additions under
    * 4× replication"). Native kernel: no barrier,
    * no transient cache, measured ~0.3 s at sf0.1 full-projection.
    */
  def winnowSummary(docs: DataFrame, k: Int = 5, w: Int = 4): DataFrame = {
    docs
      .select(
        col("doc_id"),
        // null text → empty set, matching the staged form's `when` guard
        coalesce(
          graft.functions.GraftFunctions.winnowFp(col("text"), k, w),
          array().cast("array<bigint>")).as("fp"))
      .select(
        col("doc_id"),
        size(col("fp")).as("n_fp"),
        array_min(col("fp")).as("min_fp"),
        array_max(col("fp")).as("max_fp"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic stratified train/val/test assignment — the standard
    * reproducible-split primitive for a training pipeline: bucket =
    * `hash60("split:" doc_id) mod 100`, `< trainPct` → train,
    * `< trainPct + valPct` → val, else test. Hash-based (not random): the
    * assignment is stable across runs, engines (DuckDB oracle), cluster
    * sizes, and re-partitioning — adding documents never reshuffles
    * existing ones. Narrow per-row transform; no shuffle.
    */
  /** The split a doc_id lands in — a pure hash of the id, so consumers
    * that already carry doc_id (e.g. the cached shingle relation) can
    * compute it map-side instead of joining [[datasetSplit]] back on.
    */
  def splitExpr(docId: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    require(trainPct + valPct <= 100, "train + val must leave room for test")
    val bucket = pmod(
      graft.functions.PortableHash.hash60(concat(lit("split:"), docId.cast("string"))),
      lit(100L))
    when(bucket < trainPct, "train")
      .when(bucket < trainPct + valPct, "val")
      .otherwise("test")
  }

  def datasetSplit(docs: DataFrame, trainPct: Int = 80, valPct: Int = 10): DataFrame =
    docs.withColumn("split", splitExpr(col("doc_id"), trainPct, valPct))

  /** Split summary per (lang, split): doc + token counts. */
  def splitSummary(docs: DataFrame, trainPct: Int = 80, valPct: Int = 10): DataFrame =
    datasetSplit(docs, trainPct, valPct)
      .select(col("lang"), col("split"), size(tokens(col("text"))).as("nt"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("sum_tokens"))
      // round 15: ≤ langs×3 rows — collapse before the final sort
      .transform(graft.core.Spread.collapseBounded(_, "splitSummary.collapse"))
      .orderBy(col("lang"), col("split"))

  /** Train/val/test leakage audit — decontamination semantics ACROSS the
    * pipeline's own splits: an eval doc is leaked when it shares at least
    * one word `n`-gram with a doc of the reference split (the PaLM/GPT-3
    * n-gram contamination rule; hash splits assign per doc_id, so
    * near-copies land across boundaries and quietly inflate held-out
    * metrics). One row per directed pair (train→val, train→test,
    * val→test): distinct shared n-grams, leaked eval-doc count, the eval
    * split's total docs, and the leak fraction.
    *
    * Scale shape: rides the session-cached dedup shingle relation (8-byte
    * gram hashes — text never shuffles); the split is a map-side hash of
    * doc_id ([[splitExpr]]), never a join back to the corpus. One
    * gram-keyed aggregation reduces to per-gram split flags, one join
    * back on the gram hash + a doc-keyed aggregation flags leaked docs,
    * and the pair summary is three 1-row aggregates exploded to 3 rows.
    */
  def splitLeakage(
      docs: DataFrame,
      n: Int = 8,
      trainPct: Int = 80,
      valPct: Int = 10): DataFrame = {
    val tagged = DedupOps
      .shingleRows(docs, n)
      .withColumn("split", splitExpr(col("doc_id"), trainPct, valPct))
    // round 15 (guide §2.4, one exchange for two consumers): perGram is
    // read by BOTH `shared` (all three flags) and `leaks` (train/val
    // flags only) — without a barrier, column pruning specializes the two
    // partial-aggregate subtrees (leaks' drops in_test), the exchanges
    // stop being canonically equal, and ReuseExchange can't kick in: the
    // full gram-keyed aggregation over the corpus shingle stream ran
    // TWICE per execution (profiled: two ~0.24 s aggregate stages per
    // warm rep at sf0.1). Persisting the ≤|gram vocabulary|-row flag
    // relation runs it once; warm bench reps skip it entirely via the
    // CacheManager's canonicalized-plan match.
    val perGram = DedupOps.registerCache(
      tagged
        .groupBy(col("h"))
        .agg(
          max(when(col("split") === "train", 1).otherwise(0)).as("in_train"),
          max(when(col("split") === "val", 1).otherwise(0)).as("in_val"),
          max(when(col("split") === "test", 1).otherwise(0)).as("in_test"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val shared = perGram.agg(
      sum((col("in_train") * col("in_val")).cast("long")).as("sf_tv"),
      sum((col("in_train") * col("in_test")).cast("long")).as("sf_tt"),
      sum((col("in_val") * col("in_test")).cast("long")).as("sf_vt"))
    // round 14 (guide §2.3, filter/project before the exchange): the leak
    // sums only read val/test docs (train rows aggregate to nothing) and
    // only the in_train/in_val flags (a gram flagged neither contributes 0
    // to both any_* maxima, and a doc whose grams all drop lands on
    // any_train = any_val = 0 — outside every `=== 1` sum either way), so
    // both join sides shrink BEFORE the h-keyed shuffle: the probe side by
    // ~the train share (80 %), the build side to the flagged grams.
    // Result-identical by the argument above.
    val leaks = tagged
      .filter(col("split") =!= "train")
      .select(col("doc_id"), col("split"), col("h"))
      .join(
        perGram
          .filter(col("in_train") === 1 || col("in_val") === 1)
          .select(col("h"), col("in_train"), col("in_val")),
        Seq("h"))
      .groupBy(col("doc_id"), col("split"))
      .agg(max(col("in_train")).as("any_train"), max(col("in_val")).as("any_val"))
      .agg(
        sum(when(col("split") === "val" && col("any_train") === 1, 1L).otherwise(0L))
          .as("ld_tv"),
        sum(when(col("split") === "test" && col("any_train") === 1, 1L).otherwise(0L))
          .as("ld_tt"),
        sum(when(col("split") === "test" && col("any_val") === 1, 1L).otherwise(0L))
          .as("ld_vt"))
    val totals = docs
      .select(splitExpr(col("doc_id"), trainPct, valPct).as("split"))
      .agg(
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("tot_val"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("tot_test"))
    def pairRow(tag: String, sf: String, ld: String, tot: String): Column =
      struct(
        lit(tag).as("pair"),
        col(sf).as("n_shared_grams"),
        col(ld).as("n_leaked"),
        col(tot).as("n_eval"))
    shared
      .crossJoin(broadcast(leaks))
      .crossJoin(broadcast(totals))
      .select(explode(array(
        pairRow("train->val", "sf_tv", "ld_tv", "tot_val"),
        pairRow("train->test", "sf_tt", "ld_tt", "tot_test"),
        pairRow("val->test", "sf_vt", "ld_vt", "tot_test"))).as("p"))
      .select(
        col("p.pair").as("pair"),
        col("p.n_shared_grams").as("n_shared_grams"),
        col("p.n_leaked").as("n_leaked"),
        col("p.n_eval").as("n_eval"),
        // NULL rather than NaN/Inf for an empty eval split (the
        // joinSizeEstimate guard, mirrored in the oracle's CASE)
        when(
          col("p.n_eval") > 0,
          round(col("p.n_leaked").cast("double") / col("p.n_eval").cast("double"), 6))
          .as("leak_ratio"))
      .orderBy(col("pair"))
  }

  /** Top-k tokens per language by frequency (corpus heavy-hitters):
    * group-by count with map-side partials, then a per-language rank
    * window — Spark's WindowGroupLimit prunes to k before the full sort,
    * the same top-k-without-global-sort shape as the knn queries.
    * Deterministic tie-break on the token string.
    */
  def topTerms(docs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("tok"))
    docs
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      // round 15: ≤ langs×k rows (WindowGroupLimit pre-prunes map-side) —
      // collapse before the final sort
      .transform(graft.core.Spread.collapseBounded(_, "topTerms.collapse"))
      .orderBy(col("lang"), col("rank"))
  }

  /** Gopher-style repetition signals per document (Rae et al. 2021 §A1.1,
    * the filters a training pipeline runs before dedup): the fraction of
    * word bigrams taken by the single most frequent bigram, and the
    * fraction of word 5-grams that are repeats of an earlier 5-gram.
    * Output `(doc_id, n_tokens, top_bigram_n, top_bigram_frac,
    * dup_5gram_frac)`; docs too short for an n-gram score 0.
    *
    * Runs on the NATIVE kernel ([[graft.functions.RepetitionStatsExpr]]):
    * both signals come from one compiled pass over the text bytes — a
    * narrow per-row map, no explode, no shuffle, no persist barrier. The
    * declarative formulation this replaced (kept as the spec-pinned
    * cross-check in [[repetitionSignalsDeclarative]]) shuffled one row
    * per bigram OCCURRENCE through two keyed aggregations plus a join —
    * ~2 exchange rows per corpus token that the kernel never emits — and
    * needed a tokenize persist barrier against HOF lambda re-splitting.
    */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    val r = graft.functions.GraftFunctions.repetitionStats(col("text"))
    docs
      .select(col("doc_id"), r.as("r"))
      .select(
        col("doc_id"),
        col("r.n_tokens").as("n_tokens"),
        col("r.top_bigram_n").as("top_bigram_n"),
        round(
          when(
            col("r.n_bigrams") > 0,
            col("r.top_bigram_n").cast("double") / col("r.n_bigrams").cast("double"))
            .otherwise(lit(0.0)),
          6).as("top_bigram_frac"),
        round(
          when(
            col("r.n_5grams") > 0,
            lit(1.0) -
              col("r.n_distinct_5").cast("double") / col("r.n_5grams").cast("double"))
            .otherwise(lit(0.0)),
          6).as("dup_5gram_frac"))
      .orderBy(col("doc_id"))
  }

  /** Declarative twin of [[repetitionSignals]] — HOF n-grams + explode +
    * two keyed aggregations; the cross-engine-obvious formulation, kept
    * for the native-kernel equivalence spec (`TextSpec`), not a query
    * path (it shuffles per bigram occurrence and needs the tokenize
    * persist barrier against the HOF-inlining trap).
    */
  def repetitionSignalsDeclarative(docs: DataFrame): DataFrame = {
    val tokenized = DedupOps.registerCache(
      docs
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    def grams(width: Int): Column =
      when(
        size(col("tk")) >= width,
        transform(
          sequence(lit(1), size(col("tk")) - lit(width - 1)),
          i => concat_ws(" ", slice(col("tk"), i, lit(width)))))
        .otherwise(array().cast("array<string>"))
    val perDoc = tokenized.select(
      col("doc_id"),
      size(col("tk")).as("n_tokens"),
      size(grams(5)).as("n_5grams"),
      size(array_distinct(grams(5))).as("n_distinct_5"))
    val bgCounts = tokenized
      .select(col("doc_id"), explode(grams(2)).as("bg"))
      .groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("n"))
    val bgAgg = bgCounts
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("top_bigram_n"), sum(col("n")).as("n_bigrams"))
    perDoc
      .join(bgAgg, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_tokens"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
        round(
          coalesce(
            col("top_bigram_n").cast("double") / col("n_bigrams").cast("double"),
            lit(0.0)),
          6).as("top_bigram_frac"),
        round(
          when(
            col("n_5grams") > 0,
            lit(1.0) -
              col("n_distinct_5").cast("double") / col("n_5grams").cast("double"))
            .otherwise(lit(0.0)),
          6).as("dup_5gram_frac"))
      .orderBy(col("doc_id"))
  }

  /** Overlapping-window document chunking — the splitting step of RAG /
    * long-context pretraining prep: token windows of `chunkSize` with
    * `overlap` tokens shared between neighbors (stride =
    * chunkSize − overlap), each chunk fingerprinted (portable hash60 of
    * its joined tokens — chunk-level dedup keys). Output
    * `(doc_id, chunk_id, n_chunk_tokens, chunk_hash)`.
    *
    * Pure per-document transform: chunk boundaries are arithmetic on the
    * cached token array (persist barrier against lambda re-tokenization),
    * one generator per doc — no shuffle until a downstream aggregation.
    */
  def chunkDocs(docs: DataFrame, chunkSize: Int = 64, overlap: Int = 16): DataFrame = {
    require(overlap < chunkSize, "overlap must be smaller than the chunk")
    val stride = chunkSize - overlap
    val tokenized = DedupOps.registerCache(
      docs
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val n = size(col("tk"))
    // chunks needed so every token is covered: 1 for n <= chunkSize, else
    // 1 + ceil((n - chunkSize) / stride) — exact integer arithmetic
    val nChunks = when(n <= chunkSize, lit(1)).otherwise(
      ((n - lit(chunkSize - stride + 1)).cast("double") / lit(stride.toDouble))
        .cast("int") + lit(1))
    tokenized
      .select(
        col("doc_id"),
        posexplode(
          transform(
            sequence(lit(0), nChunks - 1),
            k => slice(col("tk"), k * lit(stride) + 1, lit(chunkSize)))))
      .select(
        col("doc_id"),
        col("pos").as("chunk_id"),
        size(col("col")).as("n_chunk_tokens"),
        graft.functions.PortableHash.hash60(concat_ws(" ", col("col"))).as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Greedy sequence packing — the context-window batching step of LLM
    * data prep: within each (lang, shard) stream, documents in doc_id
    * order fill fixed `binTokens` budgets; a doc starts a new bin when the
    * running total before it crosses the budget. Output one row per bin:
    * `(lang, shard, bin, n_docs, sum_tokens)`.
    *
    * Scale: packing is inherently sequential, so the corpus is first
    * split into `nShards` deterministic hash shards per language (the way
    * production packers parallelize); each window partition is
    * corpus/(langs·shards) and shard count scales with the cluster. The
    * running total is one windowed cumsum; bin id is an exact power-of-two
    * division (2048 = 2¹¹, so `cum/binTokens` is exact in double).
    */
  def packSequences(docs: DataFrame, binTokens: Int = 2048, nShards: Int = 8): DataFrame = {
    require((binTokens & (binTokens - 1)) == 0, "binTokens must be a power of two (exact division)")
    val shard = pmod(
      graft.functions.PortableHash.hash60(concat(lit("shard:"), col("doc_id").cast("string"))),
      lit(nShards.toLong))
    val w = Window
      .partitionBy(col("lang"), col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("lang"), shard.as("shard"), size(tokens(col("text"))).as("nt"))
      .withColumn("cum", sum(col("nt")).over(w) - col("nt")) // tokens before this doc
      .withColumn("bin", (col("cum") / lit(binTokens)).cast("long"))
      .groupBy(col("lang"), col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("sum_tokens"))
      // round 15: ≤ langs×shards×bins rows — collapse before the sort
      .transform(graft.core.Spread.collapseBounded(_, "packSequences.collapse"))
      .orderBy(col("lang"), col("shard"), col("bin"))
  }

  /** Unigram language-model scoring — the cheap perplexity proxy a
    * curation pipeline uses to rank documents: train the unigram model on
    * the corpus itself (`p(w) = n_w / N`), then score each doc by its
    * average negative log-likelihood `ln N − (Σ ln n_w)/n_d`.
    *
    * Determinism: per-token `ln n_w` is quantized to integer nano-units
    * before summing, so the aggregation is exact integer arithmetic in any
    * partitioning/order (the float-sum nondeterminism trap); the ~1e-9
    * quantization never reaches the 6-decimal output. Scale shape: one
    * token-count aggregation, a vocab equi-join (zipf-small relation —
    * AQE broadcasts it), and a 1-row broadcast for the corpus total.
    */
  def unigramNll(docs: DataFrame): DataFrame =
    // presentation order for the user-facing query; internal consumers
    // (lmBuckets) take the unordered core so a corpus-cardinality sort
    // never lands inside their cached relations
    unigramNllCore(docs).orderBy(col("doc_id"))

  private[operators] def unigramNllCore(docs: DataFrame): DataFrame = {
    // persist barrier: the exploded token relation feeds BOTH the vocab
    // aggregation and the scoring join — unpersisted, the tokenize+explode
    // lineage (the expensive narrow stage) runs twice (same rule as
    // shingleRows / repetitionSignals)
    val toks = DedupOps.registerCache(
      docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("n_w"))
    val total = vocab.agg(sum(col("n_w")).as("n_total"))
    toks
      .join(vocab, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(round(log(col("n_w")) * lit(1e9)).cast("long")).as("sum_lnq"))
      .crossJoin(broadcast(total))
      .select(
        col("doc_id"),
        col("n_tokens"),
        round(
          log(col("n_total")) -
            col("sum_lnq").cast("double") / lit(1e9) / col("n_tokens").cast("double"),
          6).as("avg_nll"))
  }

  /** Bigram-LM negative log-likelihood per document with add-one
    * smoothing — the sequence-aware upgrade of [[unigramNll]] (a doc of
    * common words in an unusual ORDER now scores high): per-bigram
    * `−ln P(w₂|w₁) = ln(c(w₁·) + V) − ln(c(w₁w₂) + 1)`, averaged over
    * the doc's bigrams. History counts `c(w₁·)` aggregate over the same
    * bigram relation (Σ_w₂ c₁₂), `V` = corpus distinct-token vocabulary.
    *
    * Determinism: both logs quantize to integer nano-units per distinct
    * count (the docEntropy guard), so per-doc sums are exact integers.
    * Scale: the exploded bigram relation fills once (session cache) and
    * feeds the bigram counts, the history counts, and the scoring join —
    * all keyed shuffles on token strings; V broadcasts as one row.
    */
  def bigramNll(docs: DataFrame): DataFrame = {
    val tk = tokens(col("text"))
    val bgArr = adjacentBigrams(tk)
    val bgs = DedupOps.registerCache(
      docs
        .select(col("doc_id"), explode(bgArr).as("bg"))
        .withColumn("w1", split(col("bg"), " ").getItem(0))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val bgCnt = bgs.groupBy(col("bg")).agg(count(lit(1)).as("c12"))
    val histCnt = bgs.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = docs
      .select(explode(tk).as("tok"))
      .agg(count_distinct(col("tok")).as("v_size"))
    bgs
      .join(bgCnt, Seq("bg"))
      .join(histCnt, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(
          round(log(col("c1") + col("v_size")) * lit(1e9)).cast("long") -
            round(log(col("c12") + lit(1L)) * lit(1e9)).cast("long")).as("sum_nll_nano"))
      .select(
        col("doc_id"),
        col("n_bigrams"),
        col("sum_nll_nano"),
        round(
          col("sum_nll_nano").cast("double") / lit(1e9) / col("n_bigrams").cast("double"),
          6).as("avg_nll"))
      .orderBy(col("doc_id"))
  }

  /** Token counting per language: whitespace tokens, alphabetic regex
    * tokens, and a BPE-ish fixed-width subword count (`[a-z]{1,4}` chunks —
    * greedy left-to-right, identical semantics in Java regex and RE2).
    */
  /** Sequence-length distribution + padding overhead — the capacity-
    * planning summary a pretraining pipeline reads before choosing a
    * context length: documents bucketed by power-of-two token count
    * (`bucket = bit_length(n_tokens)`, so bucket b covers
    * [2^(b−1), 2^b)), with per-bucket doc/token totals and the padding
    * cost of packing each doc into `maxLen`-token sequences
    * (`ceil(nt/maxLen)` sequences, `seqs·maxLen − nt` pad tokens). All
    * integer arithmetic; the one ratio is a final rounded division.
    *
    * Scale shape: narrow per-doc projection (the bit-length bucket is a
    * `bin()` string length — integer-exact, no float log2) into a
    * ≤ ~30-key aggregation — map-side combined, bounded state.
    */
  def seqLenHistogram(docs: DataFrame, maxLen: Int = 512): DataFrame = {
    val nt = size(tokens(col("text")))
    docs
      .select(nt.cast("long").as("nt"))
      .withColumn("len_bucket", length(bin(col("nt"))).cast("int"))
      // `div`, not `/`: Column./ on longs is double division
      .withColumn("n_seqs", expr(s"(nt + ${maxLen - 1}) div ${maxLen}"))
      .groupBy(col("len_bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("total_tokens"),
        sum(col("n_seqs")).as("total_seqs"),
        sum(col("n_seqs") * lit(maxLen.toLong) - col("nt")).as("pad_tokens"))
      // round 15: ≤ ~30 bit-length buckets — collapse before the sort
      .transform(graft.core.Spread.collapseBounded(_, "seqLenHistogram.collapse"))
      .withColumn(
        "pad_frac",
        round(
          col("pad_tokens").cast("double") /
            (col("total_seqs") * lit(maxLen.toLong)).cast("double"),
          6))
      .orderBy(col("len_bucket"))
  }

  def tokenCounts(docs: DataFrame): DataFrame =
    docs
      .select(
        col("lang"),
        size(tokens(col("text"))).as("ws"),
        size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).as("alpha"),
        size(regexp_extract_all(col("text"), lit("[a-z]{1,4}"), lit(0))).as("bpe"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("alpha")).as("alpha_tokens"),
        sum(col("bpe")).as("bpe_tokens"))
      // round 15: ≤ langs rows — collapse before the final sort
      .transform(graft.core.Spread.collapseBounded(_, "tokenCounts.collapse"))
      .orderBy(col("lang"))

  /** Adjacent-token bigrams of a token array as "w1 w2" strings (empty
    * array below 2 tokens) — shared by [[bigramNll]] and [[pmiBigrams]].
    */
  private[operators] def adjacentBigrams(tk: Column): Column =
    when(
      size(tk) >= 2,
      transform(
        sequence(lit(1), size(tk) - 1),
        i => concat(element_at(tk, i), lit(" "), element_at(tk, i + 1))))
      .otherwise(array().cast("array<string>"))

  /** Top-k adjacent-bigram collocations by pointwise mutual information —
    * the classic `PMI(w1,w2) = ln(P(w1,w2) / (P(w1)·P(w2)))` over corpus
    * unigram/bigram frequencies, thresholded at `minCount` occurrences (the
    * standard guard against PMI's low-count bias toward hapax pairs).
    *
    * Scale shape (round 9 — ONE corpus scan): unigrams and bigrams explode
    * from a single tokenize pass as tagged `(kind, key)` rows into one
    * map-side-combined count aggregation (vocabulary-bounded after the
    * combine), persisted via the session registry — the previous
    * formulation re-tokenized the corpus for the unigram relation, the
    * bigram relation, and both totals (5 scans; this query was the
    * slowest on the board at 2.98 s). Both totals come from one pass over
    * the cached counts, the count filter runs BEFORE the marginal joins
    * (prunes the pair relation first), two equi-joins on token strings
    * (AQE broadcasts the vocab side when small), and a
    * TakeOrderedAndProject top-k — no global sort. Determinism: rows
    * order by the ROUNDED pmi (ties broken by the pair itself), so the
    * top-k set can't flip on a last-ulp `ln` difference across engines.
    */
  def pmiBigrams(docs: DataFrame, minCount: Long = 5L, topK: Int = 20): DataFrame = {
    val tk = tokens(col("text"))
    val counted = DedupOps.registerCache(
      docs
        .select(tk.as("tk"))
        .select(explode(concat(
          transform(col("tk"), w => struct(lit(1).as("kind"), w.as("key"))),
          transform(adjacentBigrams(col("tk")), b => struct(lit(2).as("kind"), b.as("key")))))
          .as("e"))
        .select(col("e.kind").as("kind"), col("e.key").as("key"))
        .groupBy(col("kind"), col("key"))
        .agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val uc = counted.filter(col("kind") === 1).select(col("key").as("w"), col("c"))
    val pc = counted
      .filter(col("kind") === 2)
      .select(col("key").as("bg"), col("c").as("n_pair"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
    // both corpus totals from ONE pass over the cached counts
    val tot = counted.groupBy().agg(
      sum(when(col("kind") === 2, col("c"))).cast("double").as("tp"),
      sum(when(col("kind") === 1, col("c"))).cast("double").as("t"))
    pc.filter(col("n_pair") >= minCount)
      .join(uc.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uc.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(tot))
      // identical division sequence in the DuckDB oracle — the ratio is
      // built stepwise so both engines evaluate the same IEEE ops
      .select(
        col("w1"),
        col("w2"),
        col("n_pair"),
        round(
          log(
            (col("n_pair").cast("double") / col("tp")) /
              (col("c1").cast("double") / col("t")) /
              (col("c2").cast("double") / col("t"))),
          6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Per-language Zipf fit: OLS of `ln(term frequency)` on `ln(rank)` over
    * the frequency-ranked vocabulary (slope ≈ −1 is Zipf's law; the
    * deviation is a corpus-health signal — synthetic or heavily-templated
    * text flattens the head, boilerplate steepens it).
    *
    * Rank without a vocabulary-scale window sort: the vocabulary grows with
    * the corpus (Heaps' law), so `row_number() OVER (PARTITION BY lang)`
    * is exactly the few-partition dimension-scale sort this engine's
    * rank queries forbid — [[RankOps.rowsAboveRank]] with cut 0 recovers
    * the exact 1-based rank from bounded per-bin windows instead
    * (leading order column `-count`, term string as the unique tiebreak).
    *
    * Determinism: both logs quantize to integer nano-units per term and
    * the five sufficient sums run in DECIMAL(38,0) (the
    * [[ProfileOps.olsByGroup]] discipline) — exact at any parallelism;
    * float only in the per-language closed-form finish. Output slope/r2
    * are unit-free (the nano scale cancels); the intercept divides the
    * scale back out.
    */
  def zipfSlope(docs: DataFrame): DataFrame = {
    val tc = docs
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .withColumn("negc", -col("c"))
    val ranked = RankOps.rowsAboveRank(tc, Seq("lang"), Seq("negc", "tok"), lit(0L))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val agg = ranked
      .select(
        col("lang"),
        dec(round(log(col("gr_pos")) * lit(1e9)).cast("long")).as("x"),
        dec(round(log(col("c")) * lit(1e9)).cast("long")).as("y"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"))
    val dbl = (c: Column) => c.cast("double")
    val num = dbl(col("n") * col("sxy") - col("sx") * col("sy"))
    val dxx = dbl(col("n") * col("sxx") - col("sx") * col("sx"))
    val dyy = dbl(col("n") * col("syy") - col("sy") * col("sy"))
    val slope = num / dxx
    agg.select(
      col("lang"),
      col("n").cast("bigint").as("n_terms"),
      round(slope, 6).as("slope"),
      round((dbl(col("sy")) - slope * dbl(col("sx"))) / dbl(col("n")) / lit(1e9), 6)
        .as("intercept"),
      round(num * num / (dxx * dyy), 6).as("r2"))
      .orderBy(col("lang"))
  }

  /** Per-document keyword extraction: top-`k` terms by TF-IDF
    * (`tf(d,w) · ln(N / df(w))` — raw counts, no length normalization:
    * the classic form). The score is computed as an exact integer —
    * `tf × nano(ln(N/df))` — so ranking and output are bit-reproducible
    * across engines (the [[unigramNll]] nano-log discipline); ties break
    * on the term string.
    *
    * Scale shape: one (doc, term) count aggregation (map-side combined),
    * document frequencies as a vocabulary-bounded rollup of that relation
    * joined back on the term (AQE broadcasts the df side when small), the
    * corpus size as a 1-row broadcast, and the per-doc top-k as a
    * `row_number <= k` filter — WindowGroupLimit prunes to k rows per doc
    * map-side, and the window partitions by doc_id (millions of tiny
    * partitions, never a single-task sort).
    */
  def docKeywords(docs: DataFrame, k: Int = 3): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("nd"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("nano").desc, col("w"))
    tf.join(df, Seq("w"))
      .crossJoin(broadcast(n))
      .select(
        col("doc_id"),
        col("w"),
        (col("tf") *
          round(log(col("nd").cast("double") / col("df")) * lit(1e9)).cast("long"))
          .as("nano"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(
        col("doc_id"),
        col("rk"),
        col("w").as("term"),
        round(col("nano").cast("double") / lit(1e9), 6).as("tfidf"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Per-source lexical diversity: type-token ratio (distinct terms /
    * total tokens) and hapax share (terms occurring once / distinct
    * terms) — the corpus-mixing health check a pretraining pipeline runs
    * per source before weighting (a template-heavy source shows low TTR;
    * OCR noise or ID-bearing text shows a high hapax share).
    *
    * Scale shape: one (source, term) count aggregation with map-side
    * combine (vocabulary-bounded output), one per-source rollup —
    * integer-exact until the two final rounded divisions.
    */
  /** Per-source Jensen-Shannon divergence from the corpus token
    * distribution — the "which source is least like the mixture?" gauge a
    * mixture planner reads before reweighting (0 = identical to the
    * corpus, ln 2 = disjoint support).
    *
    * One tokenize + (source, tok) count, then everything happens on the
    * vocabulary-bounded side: per-source and per-token marginals are
    * grouped rollups of the count relation, densified to the full
    * source × vocab grid (both bounded — a missing (s, t) cell still owes
    * its ½·q·ln(q/m) half, which a sparse join would drop). Each cell's
    * term is quantized to integer NANOS before the per-source sum (the
    * merge-order-free accumulation convention). Output per source:
    * `(source, n_tokens, jsd)` in nats.
    */
  def sourceDivergence(docs: DataFrame): DataFrame = {
    val tc = docs
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val srcTot = tc.groupBy(col("source")).agg(sum(col("c")).as("t_s"))
    val tokTot = tc.groupBy(col("tok")).agg(sum(col("c")).as("c_t"))
    val nTot = tokTot.agg(sum(col("c_t")).as("n"))
    val dense = srcTot
      .crossJoin(tokTot)
      .crossJoin(nTot)
      .join(tc, Seq("source", "tok"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val dbl = (c: Column) => c.cast("double")
    val p = dbl(col("c")) / dbl(col("t_s"))
    val q = dbl(col("c_t")) / dbl(col("n"))
    val m = (p + q) / lit(2.0)
    val term = when(col("c") > 0L, lit(0.5) * p * log(p / m)).otherwise(lit(0.0)) +
      lit(0.5) * q * log(q / m)
    dense
      .select(col("source"), col("t_s"),
        round(term * lit(1e9)).cast("bigint").as("nano"))
      .groupBy(col("source"))
      .agg(max(col("t_s")).as("n_tokens"), sum(col("nano")).as("jsd_n"))
      // round 15: ≤ sources rows — collapse before the final sort; probe
      // the documents scan (the agg sits above the mixture joins)
      .transform(graft.core.Spread.collapseBounded(
        _, "sourceDivergence.collapse", probe = Some(docs)))
      .select(col("source"), col("n_tokens"),
        round(dbl(col("jsd_n")) / lit(1e9), 6).as("jsd"))
      .orderBy(col("source"))
  }

  def sourceLexicalDiversity(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_terms"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      // round 15: ≤ sources rows — collapse before the final sort
      .transform(graft.core.Spread.collapseBounded(
        _, "sourceLexicalDiversity.collapse"))
      .select(
        col("source"),
        col("n_tokens"),
        col("n_terms"),
        col("n_hapax"),
        round(col("n_terms").cast("double") / col("n_tokens").cast("double"), 6).as("ttr"),
        round(col("n_hapax").cast("double") / col("n_terms").cast("double"), 6)
          .as("hapax_share"))
      .orderBy(col("source"))
}
