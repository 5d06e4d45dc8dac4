package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Deduplication operators for the training-data pipeline surface
  * (SURVEY §7.6): exact, content-fingerprint, n-gram Jaccard, MinHash+LSH
  * banding, and SimHash.
  *
  * Scale design: exact/fingerprint dedup are single hash-shuffles on a
  * digest (never on the full text at the exchange — the digest is computed
  * map-side). Pairwise similarity never materializes the O(n²) cross join:
  * candidates come from an equi-join on shared shingles (or LSH band
  * buckets), which Spark executes as a shuffled hash join keyed by
  * shingle/bucket.
  */
object DedupOps {

  /** Exact dedup groups: one row per distinct text, keeping the smallest
    * doc_id as the canonical survivor (standard keep-first policy).
    *
    * Keys the aggregation on the md5 digest computed map-side, not the
    * raw text: the exchange hashes/compares 16-byte keys instead of
    * multi-KB documents (grouping is identical up to an md5 collision,
    * ~2⁻¹²⁸ — the digest IS the output column anyway).
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"), col("text_md5"))
      .orderBy(col("keep_id"))

  /** Survivor view: drop all but the canonical copy of each exact group.
    * Equivalent to `row_number() over (partition by text order by doc_id)=1`
    * — partitioned by the digest so the window sort compares 16-byte keys.
    */
  def exactSurvivors(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    docs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Per-source duplication audit — which source is internally redundant,
    * and how much of it also appears verbatim in OTHER sources? The
    * curation question behind "should we even keep crawling this feed".
    * Per source: `n_internal_excess` counts copies beyond the first of
    * each within-source text group; `n_cross` counts docs whose exact
    * text also occurs in at least one other source.
    *
    * Scale shape: the corpus reduces map-side to (source, 16-byte md5)
    * groups; the source-spread relation and the final rollup aggregate
    * and join DIGESTS only — document text never shuffles (the
    * [[fingerprint]] design note). The (source, h) relation feeds both
    * the spread count and the join probe, so it is cached per-query.
    */
  def dupRateBySource(docs: DataFrame): DataFrame = {
    val sh = registerCache(docs
      .select(col("source"), md5(col("text")).as("h"))
      .groupBy(col("source"), col("h"))
      .agg(count(lit(1)).as("c_sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val hh = sh.groupBy(col("h")).agg(count(lit(1)).as("n_src"))
    val dbl = (c: Column) => c.cast("double")
    sh.join(hh, Seq("h"))
      .groupBy(col("source"))
      .agg(
        sum(col("c_sh")).as("n_docs"),
        sum(col("c_sh") - lit(1L)).as("n_internal_excess"),
        sum(when(col("n_src") > 1L, col("c_sh")).otherwise(0L)).as("n_cross"))
      // round 15: ≤ sources rows — collapse before the final sort; probe
      // the cached (source, h) relation (the agg sits above the hh join)
      .transform(graft.core.Spread.collapseBounded(
        _, "dupRateBySource.collapse", probe = Some(sh)))
      .select(
        col("source"), col("n_docs"), col("n_internal_excess"), col("n_cross"),
        round(dbl(col("n_internal_excess")) / dbl(col("n_docs")), 6).as("internal_share"),
        round(dbl(col("n_cross")) / dbl(col("n_docs")), 6).as("cross_share"))
      .orderBy(col("source"))
  }

  /** Content fingerprint: md5 of the whitespace-normalized, lowercased
    * text — catches dups that differ only in spacing/case. The digest is
    * computed map-side so the dedup shuffle moves 16-byte keys, not
    * documents.
    */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(text, "\\s+", "")))

  def fingerprintDedup(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"), col("fp"))
      .orderBy(col("keep_id"))

  /** Distinct word n-gram shingles of a token array (standard shingling for
    * near-dup detection). Docs shorter than n shingle to empty.
    */
  def shingles(tokens: Column, n: Int): Column =
    when(
      size(tokens) >= n,
      array_distinct(
        transform(
          sequence(lit(1), size(tokens) - lit(n - 1)),
          i => concat_ws(" ", slice(tokens, i, lit(n))))))
      .otherwise(array().cast("array<string>"))

  /** Persisted-relation registry, two lifecycles:
    *
    *  - TRANSIENT (`shingleCaches`): per-query intermediate relations —
    *    released by harnesses (Verify, Bench, tests) via
    *    [[releaseShingleCaches]] after each query.
    *  - SESSION (`sessionShingleCaches`): the shingle corpus itself,
    *    keyed by (canonicalized input plan, n). Six dedup-family queries
    *    share the same (documents, 3) corpus; refilling it per query cost
    *    ~1.2 s each in the r3 bench. One live corpus per key survives the
    *    per-query release and is evicted only by [[releaseAllCaches]]
    *    (tools sweeping over many synthetic corpora call that per round so
    *    distinct keys can't accumulate).
    */
  private val shingleCaches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  // keyed by the OWNING SparkSession too: canonicalized plans normalize
  // expr-ids, so two sessions scanning the same files would otherwise
  // collide and the second would receive a DataFrame bound to a (possibly
  // stopped) foreign session
  private val sessionShingleCaches = scala.collection.mutable.Map
    .empty[(org.apache.spark.sql.SparkSession,
            org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int), DataFrame]
  // derived session-scoped relations (e.g. the jaccard pair relation),
  // keyed by (session, canonicalized input plan, op tag)
  private val sessionRelations = scala.collection.mutable.Map
    .empty[(org.apache.spark.sql.SparkSession,
            org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String), DataFrame]
  private val sessionBacking = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  // session-scoped DERIVED VALUES (not relations): bounded driver-side
  // results keyed by (session, canonicalized source plan, op tag) — e.g.
  // RankOps' ntile cut keys (≤ dims×(k−1) scalars). Same lifecycle as the
  // session relations: reps of one bench sweep reuse them, and the same
  // staleness trade applies (same files + same plan ⇒ same value).
  // ConcurrentHashMap, NOT the synchronized mutable.Map the relation caches
  // use: sessionValue computes run full Spark jobs, and holding the global
  // DedupOps lock across a distributed job would serialize every concurrent
  // cache/memo user behind it. The key carries a data-version fingerprint
  // (file paths + sizes + mtimes of the leaf relations) so a mid-session
  // overwrite of the underlying files misses the memo instead of silently
  // returning stale ranks.
  private val sessionValues = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession,
     org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String, Long), Any]()

  /** Unpersist every TRANSIENT cache registered since the last release.
    * Blocking: async unpersist lets dead cache blocks pile up across a
    * long bench/verify session (measured: with ~70 queries the storage
    * backlog turns into GC pauses that land on UNRELATED queries —
    * q18_big_orders swung 0.6 → 4 s purely by its position in the run).
    * Session-scoped shingle corpora stay cached — see [[releaseAllCaches]].
    */
  def releaseShingleCaches(): Unit = synchronized {
    shingleCaches.foreach(_.unpersist(blocking = true))
    shingleCaches.clear()
  }

  /** Full release: transient caches AND the session-scoped shingle
    * corpora. For session teardown and for tools that rebuild a different
    * corpus per measurement round.
    */
  def releaseAllCaches(): Unit = synchronized {
    releaseShingleCaches()
    // a backing relation may belong to an already-stopped test session —
    // releasing the survivors must not abort on it
    sessionBacking.foreach(df => try df.unpersist(blocking = true) catch { case NonFatal(_) => () })
    sessionBacking.clear()
    sessionShingleCaches.clear()
    sessionRelations.clear()
    sessionValues.clear()
  }

  /** Fingerprint of the leaf file relations feeding `df`: a hash over the
    * sorted (path, length, modificationTime) of every input file. Included
    * in the [[sessionValue]] memo key so two reads of the same plan over
    * CHANGED files can't alias. Driver-only metadata — the FileIndex
    * listing is already cached by the analyzed relation, so this is a
    * driver-memory walk, not an object-store LIST per call.
    */
  private def dataVersion(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val files: Seq[(String, Long, Long)] = df.queryExecution.analyzed.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.listFiles(Nil, Nil).flatMap(_.files)
            .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        case _ => Seq.empty[(String, Long, Long)]
      }
    }.flatten.sortBy(t => (t._1, t._2, t._3))
    files.foldLeft(1125899906842597L) { case (h, (p, len, mt)) =>
      ((h * 31 + p.hashCode) * 31 + len) * 31 + mt
    }
  }

  /** Memoize a bounded driver-side value derived from `source` (session
    * lifecycle — evicted by [[releaseAllCaches]]). The compute runs OUTSIDE
    * any lock (putIfAbsent publication): a racing duplicate compute is
    * idempotent and strictly cheaper than serializing every memo user
    * behind one global lock while Spark jobs run.
    *
    * Contract notes: `compute` must not return null (rejected eagerly with
    * a descriptive error — ConcurrentHashMap can't hold null values); the
    * data-version fingerprint covers FILE-BACKED leaf relations only
    * (HadoopFsRelation), so a non-file source (in-memory test frames,
    * JDBC) keys on the canonicalized plan alone and a mid-session mutation
    * of such a source would not invalidate the memo.
    */
  private[graft] def sessionValue[T](source: DataFrame, tag: String)(compute: => T): T = {
    val key = (source.sparkSession, source.queryExecution.analyzed.canonicalized,
      tag, dataVersion(source))
    val cached = sessionValues.get(key)
    if (cached != null) cached.asInstanceOf[T]
    else {
      val v = compute
      require(v != null, s"sessionValue compute for tag '$tag' returned null")
      val prev = sessionValues.putIfAbsent(key, v)
      (if (prev != null) prev else v).asInstanceOf[T]
    }
  }

  /** Register an externally-persisted relation for the same release
    * lifecycle (used by ClusterOps for its final label generation and by
    * query modules with multi-consumer intermediate relations).
    */
  private[graft] def registerCache(df: DataFrame): DataFrame = synchronized {
    shingleCaches += df
    df
  }

  /** `(doc_id, nsh, h)` exploded long form — one row per (doc, shingle),
    * with the shingle mapped to its portable 60-bit hash at cache-fill
    * time. Every downstream consumer (Jaccard join keys, MinHash
    * signatures) operates in hash space: exchanges move 8-byte longs
    * instead of ~25-byte shingle strings, sorts use Spark's radix path,
    * and the md5 is computed exactly once per shingle occurrence. The
    * DuckDB oracles apply the identical hash ([[graft.functions
    * .PortableHash.hash60Sql]]), so results stay cross-engine bit-exact by
    * construction; vs raw string-set semantics the only divergence is a
    * 60-bit collision (~2⁻⁶⁰ per shingle pair — the standard shingle-
    * hashing trade every production near-dup pipeline makes).
    *
    * Persisted: the downstream self-join would otherwise evaluate the
    * interpreted higher-order shingle expression 2-3× per row per side
    * (Catalyst inlines the projection into the explode's pushed-down
    * `size(..) > 0` filter). Spark's CacheManager keys on the logical plan,
    * so repeated calls share one entry; size is O(corpus tokens). Released
    * via [[releaseShingleCaches]].
    */
  private[graft] def shingleRows(docs: DataFrame, n: Int): DataFrame = synchronized {
    // session-scoped: every dedup-family query over the same (docs, n)
    // reuses one cached corpus instead of refilling per query
    val key = (docs.sparkSession, docs.queryExecution.analyzed.canonicalized, n)
    sessionShingleCaches.getOrElseUpdate(key, {
      // Tokenize behind its own cache barrier: otherwise Catalyst inlines
      // `split(text)` into the shingle lambda and the text is re-tokenized
      // once per shingle position (~90× blow-up).
      // Round 14 NOTE: a Spread.respread here was tried and REVERTED on
      // measurement — the fill parallelizes (2×) but the fill amortizes
      // across the session, while the cores-partitioned cache taxes every
      // WARM consumer that re-aggregates from it (vocab_growth +0.25 s,
      // split_leakage +0.05 s per rep: a 32-task stage over a tiny cache
      // pays the local ~0.3-0.45 s scheduling floor that a 1-partition
      // read avoids). At scale the respread was a no-op anyway, so the
      // revert costs the 100 TB shape nothing.
      val tokenized = docs
        .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val rows = tokenized
        .select(col("doc_id"), shingles(col("tk"), n).as("sh"))
        .select(col("doc_id"), size(col("sh")).as("nsh"), explode(col("sh")).as("s"))
        .select(
          col("doc_id"),
          col("nsh"),
          graft.functions.PortableHash.hash60(col("s")).as("h"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      sessionBacking += tokenized
      sessionBacking += rows
      rows
    })
  }

  /** Pairwise n-gram Jaccard similarity ≥ `minJaccard`. Output
    * `(a_id, b_id, inter, na, nb, jaccard)`, a_id < b_id — exact over the
    * hashed shingle sets ([[shingleRows]]; the oracle hashes identically,
    * so the comparison is bit-exact cross-engine).
    *
    * Two-phase prefix-filtered set-similarity join (Chaudhuri et al. 2006 /
    * Xiao et al. PPJoin 2008), the fix for round 1's hot-shingle hazard:
    *
    *  1. CANDIDATES from a self-join on PREFIXES only: each doc's shingles
    *     are sorted by (global document frequency ASC, hash) and only
    *     the first `|x| − ⌈t·|x|⌉ + 1` participate. Pigeonhole (prefix
    *     lemma): any pair with J ≥ t has overlap O ≥ ⌈t·max(|x|,|y|)⌉, so
    *     its RAREST common shingle sits inside both prefixes — recall is
    *     exact, no df cap heuristic needed. A corpus-hot shingle
    *     ("terms of service" boilerplate) lands at the END of the df-sorted
    *     order and only enters a prefix for docs that consist almost
    *     entirely of even hotter shingles — the quadratic join key the
    *     round-1 review flagged disappears organically.
    *  2. LENGTH FILTER on surviving candidates: J ≥ t forces
    *     min(|x|,|y|) ≥ t·max(|x|,|y|) (inter ≤ min, union ≥ max), so
    *     size-incompatible pairs drop before the expensive verify (~25%
    *     of candidates at t = 0.5 on the documents corpus). The εcomparison
    *     margin covers the output's round-to-6-decimals boundary.
    *  3. EXACT intersection counts from the FULL shingle sets, but only
    *     for surviving candidate pairs (join fan-out bounded by
    *     |candidates| · set size, not by df²).
    *
    * At t = 0.5 prefixes are ~half of each set: candidate fan-out drops
    * ~4× even on uniform data, and Σ df(s)² blow-up on skew is bounded by
    * prefix membership rather than raw frequency.
    */
  def jaccardPairs(docs: DataFrame, n: Int, minJaccard: Double): DataFrame =
    // session-scoped like the shingle corpus itself: four downstream
    // queries (clusters, survivors, pagerank, editdist) all consume the
    // SAME tiny pair relation — memoizing it here means the prefix-filter
    // + verify pipeline runs once per session per (docs, n, t), not once
    // per query. The first consuming query's action fills the cache while
    // its transient inputs (prefix relation) are still alive.
    sessionRelation(docs, s"jaccardPairs:$n:$minJaccard")(
      jaccardPairsUncached(docs, n, minJaccard))

  /** Memoize a session-scoped derived RELATION (persisted, released by
    * [[releaseAllCaches]]): the shared shape behind [[jaccardPairs]] and
    * [[graft.operators.ClusterOps.nearDupClusters]]'s converged labels.
    * `compute` runs OUTSIDE the lock (it may run Spark jobs — e.g. the
    * label-propagation fixpoint's per-round convergence counts), keeping
    * the global lock held for map bookkeeping only; a racing duplicate
    * compute loses the publication race and its cache entry is dropped.
    */
  private[graft] def sessionRelation(source: DataFrame, tag: String)(
      compute: => DataFrame): DataFrame = {
    val memoKey = (source.sparkSession, source.queryExecution.analyzed.canonicalized, tag)
    val hit = synchronized(sessionRelations.get(memoKey))
    hit match {
      case Some(cached) => cached
      case None =>
        val out = compute.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        synchronized {
          sessionRelations.get(memoKey) match {
            case Some(winner) =>
              out.unpersist(blocking = false)
              winner
            case None =>
              sessionBacking += out
              sessionRelations(memoKey) = out
              out
          }
        }
    }
  }

  private def jaccardPairsUncached(docs: DataFrame, n: Int, minJaccard: Double): DataFrame = {
    val sh = shingleRows(docs, n)
    // global shingle document frequency (rarest-first prefix order) as a
    // window count — one shuffle on h, no separate aggregate + join; the
    // prefix relation is persisted because the candidate self-join reads
    // it from both sides (its lineage carries two window passes)
    val wdf = Window.partitionBy(col("h"))
    val wdoc = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    val prefix = synchronized {
      val p = sh
        .withColumn("df", count(lit(1)).over(wdf))
        .withColumn("rn", row_number().over(wdoc))
        // ε inside the ceil: for non-dyadic t the double product can land
        // just ABOVE the true rational (0.1·30 → 3.0000000000000004), and
        // an overshot ceil would shorten the prefix below what the lemma
        // requires — silently dropping qualifying pairs. Subtracting 1e-6
        // only ever lengthens the prefix (recall-safe), same margin as the
        // length filter below.
        .filter(col("rn") <= col("nsh") - ceil(lit(minJaccard) * col("nsh") - lit(1e-6)) + lit(1))
        .select(col("doc_id"), col("nsh"), col("h"), col("rn"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      shingleCaches += p
      p
    }
    // Positional + suffix filter (PPJoin): the df-sorted shingle order is
    // GLOBAL, so any token the pair shares sits on the same side of any
    // other shared token in BOTH documents. Consequences, per pair:
    //  - every common token ranked before the LAST shared prefix token w
    //    lies inside both prefixes, i.e. is itself one of the join rows —
    //    common-before-w = cnt − 1 exactly;
    //  - common tokens after w number at most
    //    min(na − max_rn_a, nb − max_rn_b) (w's own ranks, same row);
    // so O ≤ cnt + min(na − max_rn_a, nb − max_rn_b) — a far tighter
    // bound than the per-row min-rank one (which degenerates to ~na when
    // the rarest shared token sits early). J ≥ t forces
    // O ≥ t·(na+nb)/(1+t); candidates whose bound misses it are dropped
    // BEFORE the verify join fans out their full shingle sets. (ε margin
    // as above: feasible Jaccard values are rationals with denominator
    // ≤ na+nb, so 1e-6 can never cross a boundary — recall stays exact,
    // the oracle unchanged.)
    val cand = prefix
      .toDF("a_id", "na", "h", "rn_a")
      .join(prefix.toDF("b_id", "nb", "h", "rn_b"), Seq("h"))
      .filter(col("a_id") < col("b_id"))
      .filter(
        least(col("na"), col("nb")).cast("double") >=
          (lit(minJaccard) - lit(1e-6)) * greatest(col("na"), col("nb")))
      .groupBy(col("a_id"), col("b_id"))
      .agg(
        count(lit(1)).as("cnt"),
        max(col("rn_a")).as("maxa"),
        max(col("rn_b")).as("maxb"),
        min(col("na")).as("cna"),
        min(col("nb")).as("cnb"))
      .filter(
        (col("cnt") + least(col("cna") - col("maxa"), col("cnb") - col("maxb")))
          .cast("double") >=
          lit(minJaccard) * (col("cna") + col("cnb")).cast("double") /
            lit(1 + minJaccard) - lit(1e-6))
      .select(col("a_id"), col("b_id"))
    val a = sh.toDF("a_id", "na", "h")
    val b = sh.toDF("b_id", "nb", "h")
    // SHUFFLE_HASH over sort-merge for the verify joins: the streamed side
    // is the |candidates| × set-size fan-out, and sorting it degrades
    // superlinearly once partitions spill (measured 4× corpus: SMJ 20 s vs
    // hash 9 s cold / 4 s warm — PERF.md §"Round 2: dedup pipeline
    // scale-up"). Both BUILD sides
    // are partition-bounded — candidate pairs (thin) and the exploded
    // shingle relation, each O(input/partitions) with keys that hash
    // uniformly — exactly the case where hash join beats paying n·log n
    // on the big side.
    cand
      .hint("SHUFFLE_HASH")
      .join(a, Seq("a_id"))
      .join(b.hint("SHUFFLE_HASH"), Seq("b_id", "h")) // (candidate, shared shingle)
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("inter"), min(col("na")).as("na"), min(col("nb")).as("nb"))
      .withColumn(
        "jaccard",
        round(
          col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")).cast("double"),
          6))
      .filter(col("jaccard") >= lit(minJaccard))
      .select(col("a_id"), col("b_id"), col("inter"), col("na"), col("nb"), col("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Benchmark decontamination — the step a training pipeline runs against
    * its eval suites: flag every training document sharing at least one
    * word `n`-gram with the held-out set (here: `doc_id % evalMod == 0`,
    * standing in for the benchmark corpus). Output per training doc:
    * `(doc_id, n_grams, n_contaminated, contaminated)` where
    * `n_contaminated` counts the doc's distinct n-grams that appear
    * anywhere in the eval set.
    *
    * Scale shape: n-grams live in portable-hash space ([[shingleRows]] —
    * 8-byte keys), and the eval side is `broadcast()` because benchmark
    * suites are fixed-size and tiny relative to the corpus (the same
    * justification as the nation×region broadcast) — the contamination
    * check is then a map-side hash probe per training n-gram, no shuffle
    * of the corpus at all. If the held-out side ever grows to corpus
    * scale, drop the hint and the same plan runs as a shuffled join.
    */
  /** Per-document n-gram novelty: the fraction of a doc's distinct word
    * `n`-grams that occur in NO other document — the memorization-risk /
    * boilerplate dial (novelty ≈ 1 → fully original text; low novelty →
    * the doc is assembled from corpus-common spans and dedup/span removal
    * will eat it). Output `(doc_id, n_grams, n_unique, novelty)`;
    * gram-less docs (< n tokens) report 0 grams and a NULL ratio.
    *
    * Scale shape: rides the session-cached shingle relation (8-byte
    * hashes, distinct per doc); one gram-keyed document-frequency
    * aggregation joined back on the hash; one doc-keyed rollup.
    */
  def ngramNovelty(docs: DataFrame, n: Int = 8): DataFrame = {
    val sh = shingleRows(docs, n)
    val dfreq = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val perDoc = sh
      .join(dfreq, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
    docs
      .select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        when(
          coalesce(col("n_grams"), lit(0L)) > 0,
          round(col("n_unique").cast("double") / col("n_grams").cast("double"), 6))
          .as("novelty"))
      .orderBy(col("doc_id"))
  }

  def decontaminate(docs: DataFrame, n: Int = 8, evalMod: Int = 50): DataFrame = {
    val sh = shingleRows(docs, n)
    val isEval = pmod(col("doc_id"), lit(evalMod.toLong)) === 0
    val evalGrams = sh.filter(isEval).select(col("h")).distinct()
    val train = sh.filter(!isEval)
    val perDoc = train.groupBy(col("doc_id")).agg(min(col("nsh")).as("n_grams"))
    val hits = train
      .join(broadcast(evalGrams), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_contaminated")) // shingle rows are distinct per doc
    docs
      .filter(!isEval)
      .select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_grams"), lit(0)).as("n_grams"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        when(coalesce(col("n_contaminated"), lit(0L)) > 0, 1).otherwise(0).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Incremental dedup — the production ingest shape: classify each
    * document of an incoming batch (`doc_id % batchMod == 0` stands in for
    * the arrival partition) against the existing base corpus as
    * `exact_dup` (byte-identical text exists in base), `near_dup` (an
    * n-gram Jaccard pair ≥ `minJaccard` links it to a base doc), or `new`.
    * Output `(doc_id, status)` for the batch.
    *
    * Plan shape: the exact check probes a base fingerprint index (md5 —
    * 16-byte join keys, text never shuffles); the near check is a FILTER
    * on the session-memoized [[jaccardPairs]] relation (batch↔base pairs
    * only), so in a session that already runs the dedup family the
    * candidate pipeline is not re-paid. At 100 TB a dedicated ingest
    * pipeline would restrict the PPJoin's candidate join to batch×base
    * sides (same prefix-filter machinery, one side ~1000× smaller); the
    * semantics here are that plan's output filtered from the symmetric
    * relation.
    */
  def incrementalStatus(
      docs: DataFrame,
      batchMod: Int = 5,
      n: Int = 3,
      minJaccard: Double = 0.5): DataFrame = {
    def isBatch(c: Column) = pmod(c, lit(batchMod.toLong)) === lit(0L)
    val nearIds = jaccardPairs(docs, n, minJaccard)
      .filter(isBatch(col("a_id")) =!= isBatch(col("b_id")))
      .select(when(isBatch(col("a_id")), col("a_id")).otherwise(col("b_id")).as("doc_id"))
      .distinct()
    val baseFp = docs
      .filter(!isBatch(col("doc_id")))
      .select(md5(col("text")).as("fp"))
      .distinct()
    docs
      .filter(isBatch(col("doc_id")))
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .join(baseFp.withColumn("is_exact", lit(1)), Seq("fp"), "left")
      .join(nearIds.withColumn("is_near", lit(1)), Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("is_exact") === 1, "exact_dup")
          .when(col("is_near") === 1, "near_dup")
          .otherwise("new")
          .as("status"))
      .orderBy(col("doc_id"))
  }

  /** Edit-distance verification over the Jaccard CANDIDATE pairs: exact
    * Levenshtein (codegen'd built-in) + a length-normalized similarity on
    * the pairs the shingle join already bounded — character-level evidence
    * the token-level Jaccard can't give (transpositions, in-word edits).
    *
    * Scale shape: Levenshtein is O(|a|·|b|) per pair, so it NEVER runs
    * corpus-wide — only on the candidate relation (output-bounded), with
    * the two text joins on doc_id. The same staged-verify rule as the
    * PPJoin pipeline: cheap bounded candidates, expensive exact kernel on
    * survivors only.
    */
  def editDistancePairs(docs: DataFrame, n: Int, minJaccard: Double): DataFrame = {
    val pairs = jaccardPairs(docs, n, minJaccard).select(col("a_id"), col("b_id"))
    val ta = docs.select(col("doc_id").as("a_id"), col("text").as("a_text"))
    val tb = docs.select(col("doc_id").as("b_id"), col("text").as("b_text"))
    pairs
      .join(ta, Seq("a_id"))
      .join(tb, Seq("b_id"))
      .select(
        col("a_id"),
        col("b_id"),
        levenshtein(col("a_text"), col("b_text")).cast("bigint").as("edit_dist"),
        round(
          lit(1.0) - levenshtein(col("a_text"), col("b_text")).cast("double") /
            greatest(length(col("a_text")), length(col("b_text"))).cast("double"),
          6).as("norm_sim"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** The `numPerm` fixed 60-bit xor constants defining the permutation
    * family: `h_j(s) = hash60(s) XOR C_j`, `C_j = hash60Local("perm:j")`.
    * One md5 per shingle total (not per seed); xor of 60-bit values stays
    * in [0, 2^60) — no overflow on either engine, so the DuckDB oracle
    * reproduces every component. Xor-by-constant is not min-wise
    * independent in theory; measured against per-seed md5 hashing on the
    * target corpus the estimate error is identical (mean |est − jaccard|
    * 0.032 vs 0.031 at j ≥ 0.3), and DedupSpec property-tests the estimates
    * against exact Jaccard.
    */
  def permConstants(numPerm: Int): Array[Long] =
    Array.tabulate(numPerm)(j => graft.functions.PortableHash.hash60Local(s"perm:$j"))

  /** MinHash signatures, WIDE form `(doc_id, mh0 … mh{numPerm−1})`: min
    * over shingles of `hash60(s) XOR C_seed`, all `numPerm` minima in one
    * aggregation over the shingle stream (one `min` column per seed —
    * every per-seed xor+min stays inside one codegen stage, and the
    * partial aggregation sees each shingle occurrence exactly once).
    *
    * Wide (not long/unpivoted) is the scale shape for everything
    * downstream: banding is a per-row projection of column slices and the
    * signature-agreement estimate is a per-row comparison of 2·numPerm
    * columns — neither needs the signature exploded back to numPerm rows
    * (the round-2/3 long form paid a collect_list re-aggregation for
    * banding and a seed-level join + re-aggregation for the estimate:
    * three avoidable shuffles).
    */
  def minhash(docs: DataFrame, n: Int, numPerm: Int): DataFrame = {
    val consts = permConstants(numPerm)
    val aggs = consts.toIndexedSeq.zipWithIndex.map { case (c, j) =>
      min(col("h").bitwiseXOR(lit(c))).as(s"mh$j")
    }
    shingleRows(docs, n)
      .groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash + LSH banding near-dup candidates: seeds are grouped into
    * `numPerm / rowsPerBand` bands; docs colliding on any full band become
    * candidates; the estimated Jaccard is the fraction of matching minhash
    * components. Output `(a_id, b_id, est_jaccard)` with est ≥ `minEst`.
    *
    * At scale this is the standard sub-quadratic path: the only join is an
    * equi-join on (band, band_key) buckets.
    */
  def minhashLsh(
      docs: DataFrame,
      n: Int,
      numPerm: Int,
      rowsPerBand: Int,
      minEst: Double): DataFrame = {
    // recall contract: every seed must land in a band — a trailing
    // numPerm % rowsPerBand remainder would be silently dropped from
    // banding (lost candidate recall with no warning), so reject the
    // config instead
    require(
      numPerm % rowsPerBand == 0,
      s"numPerm ($numPerm) must be a multiple of rowsPerBand ($rowsPerBand): " +
        "a partial trailing band would silently lose candidate recall")
    // the wide signature relation is read three times (banding + both
    // sides of the estimate) — persist it (one row per doc) rather than
    // re-hashing the shingle corpus thrice
    val mh = registerCache(
      minhash(docs, n, numPerm)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // band key: the band's minhash components serialized in seed order —
    // portable (the DuckDB oracle builds the identical string_agg), and
    // collision-free by construction, unlike a 64-bit hash of the struct
    // list. At the exchange this is a ≤ rowsPerBand·21-char key: still
    // map-side-small. Pure projection of the wide row — no re-aggregation.
    val nBands = numPerm / rowsPerBand
    val bandStructs = (0 until nBands).map { b =>
      val key = concat_ws(
        ",",
        (b * rowsPerBand until (b + 1) * rowsPerBand).map(j =>
          concat_ws(":", lit(j), col(s"mh$j"))): _*)
      struct(lit(b).as("band"), key.as("band_key"))
    }
    val bands = mh
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
    val cand = bands
      .toDF("a_id", "band", "band_key")
      .join(bands.toDF("b_id", "band", "band_key"), Seq("band", "band_key"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    // estimate = fraction of agreeing components, compared column-wise on
    // the wide rows: the candidate relation (bounded: actual near-dup
    // pairs + banding false positives) broadcasts onto the signatures —
    // no seed-level fan-out join, no re-aggregation
    val sigA = mh.select(col("doc_id").as("a_id") +:
      (0 until numPerm).map(j => col(s"mh$j").as(s"amh$j")): _*)
    val sigB = mh.select(col("doc_id").as("b_id") +:
      (0 until numPerm).map(j => col(s"mh$j").as(s"bmh$j")): _*)
    val matches = (0 until numPerm)
      .map(j => when(col(s"amh$j") === col(s"bmh$j"), 1).otherwise(0))
      .reduce(_ + _)
    // broadcast(cand) only — the candidate relation is the bounded banding
    // output (true pairs + false positives), small under normal near-dup
    // density. The cand⋈sigA product is NOT hinted: its size is
    // data-dependent (boilerplate-heavy corpora inflate it), so AQE picks
    // that join's strategy from runtime stats instead of a forced
    // broadcast that could OOM the driver
    broadcast(cand)
      .join(sigA, Seq("a_id"))
      .join(sigB, Seq("b_id"))
      .select(
        col("a_id"),
        col("b_id"),
        round(matches.cast("double") / lit(numPerm.toDouble), 6).as("est_jaccard"))
      .filter(col("est_jaccard") >= lit(minEst))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Token-span winnowing fingerprints (Schleimer et al.'s MOSS scheme
    * lifted from characters to word 3-grams): the per-position 3-gram
    * portable hashes, window-minimized over every `w` consecutive positions and
    * deduplicated. Two documents sharing any run of ≥ 3+w−1 tokens are
    * GUARANTEED to share a fingerprint. Character-level winnowing
    * ([[TextOps.winnowFingerprints]], the doc_winnow summary) is the wrong
    * key space for PAIR generation on a small-alphabet corpus — its
    * fingerprint domain collapses (sf0.01: 523 distinct values, hottest in
    * 80% of docs) and any join on it goes quadratic; the 60-bit shingle
    * hash domain cannot collapse.
    */
  private val WinnowW = 4

  /** 3-gram hash sequence per doc (positional, NOT distinct — winnowing
    * needs order). Guarded: sequence() runs descending when stop < start,
    * so an unguarded short doc would index negatively.
    */
  private def shingleHashSeq(text: Column): Column = {
    val tk = TextOps.tokens(text)
    when(
      size(tk) >= 3 + WinnowW - 1,
      transform(
        sequence(lit(1), size(tk) - lit(2)),
        i => graft.functions.PortableHash.hash60(concat_ws(" ", slice(tk, i, lit(3))))))
      .otherwise(array().cast("array<bigint>"))
  }

  /** Window minima over an ALREADY-MATERIALIZED hash-sequence column.
    * The two stages must sit on opposite sides of a persist barrier: fused
    * into one projection, Catalyst inlines the md5 chain into every window
    * position's slice and the interpreted hashing re-runs O(positions)
    * times per doc (measured 106 s cold at sf0.1 fused vs 10 s split).
    */
  private def winnowMins(hseq: Column, w: Int = WinnowW): Column =
    when(
      size(hseq) >= w,
      array_distinct(
        transform(
          sequence(lit(0), size(hseq) - lit(w)),
          p => array_min(slice(hseq, p + lit(1), lit(w))))))
      .otherwise(array().cast("array<bigint>"))

  /** Shared-substring near-dup pairs via token-span winnowing
    * fingerprints: containment
    * `|fp(a) ∩ fp(b)| / min(|fp(a)|, |fp(b)|)` is the substring-level
    * near-dup measure — high when one document's text largely appears
    * inside the other (the copy-with-additions case Jaccard under-scores).
    * Output `(a_id, b_id, n_shared, containment)` with containment ≥
    * `minContain`.
    *
    * Scale shape: same skeleton as the shingle pipeline — fingerprints
    * are 8-byte int64s, candidates come from a prefix-filtered equi-join,
    * and the winnowing density keeps per-doc fingerprint counts at
    * ~2/(w+1) of the shingle count. All intermediates are persisted
    * (multi-consumer) and released via [[releaseShingleCaches]].
    */
  def substringPairs(docs: DataFrame, minContain: Double = 0.8): DataFrame = {
    // TWO HOF barriers (same rule as shingleRows, one per interpreted
    // stage): hash sequence materialized first, window minima computed
    // from the cached arrays — fused, the md5 chain re-runs per window
    // position; exploded uncached, the whole thing re-runs per element
    val hseqRel = registerCache(
      docs
        .select(col("doc_id"), shingleHashSeq(col("text")).as("hseq"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val fpArrays = registerCache(
      hseqRel
        .select(col("doc_id"), winnowMins(col("hseq")).as("fp"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val u = registerCache(
      fpArrays
        .select(col("doc_id"), size(col("fp")).as("nf"), explode(col("fp")).as("f"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // Candidate generation must NOT self-join the raw fingerprint stream:
    // winnow minima concentrate under a small vocabulary (sf0.01: 523
    // distinct fps, hottest in 80% of docs), so Σ df² explodes — the
    // round-1 hot-key hazard in substring clothing. Prefix-filter instead,
    // on the pair's SMALLER set: O ≥ t·min(na,nb) = t·na when a is
    // smaller, so a's rarest common fingerprint sits inside a's df-sorted
    // prefix of na − ⌈t·na⌉ + 1 (pigeonhole), and it is ALWAYS in b's full
    // stream — joining prefix(smaller) × full catches every qualifying
    // pair exactly. A corpus-hot fingerprint only enters a prefix for docs
    // made almost entirely of hotter ones, so prefix df stays tiny and the
    // join fan-out is Σ df_prefix·df — linear-ish, not quadratic.
    val wdf = Window.partitionBy(col("f"))
    val wdoc = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("f"))
    val prefix = registerCache(
      u.withColumn("df", count(lit(1)).over(wdf))
        .withColumn("rn", row_number().over(wdoc))
        // ε inside the ceil, recall-safe direction (see jaccardPairs)
        .filter(col("rn") <= col("nf") - ceil(lit(minContain) * col("nf") - lit(1e-6)) + lit(1))
        .select(col("doc_id"), col("nf"), col("f"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val cand = prefix
      .toDF("p_id", "np", "f")
      .join(u.toDF("q_id", "nq", "f"), Seq("f"))
      .filter(col("p_id") =!= col("q_id") && col("np") <= col("nq"))
      .select(
        least(col("p_id"), col("q_id")).as("a_id"),
        greatest(col("p_id"), col("q_id")).as("b_id"))
      .distinct()
    // exact verify from the full fingerprint sets, fan-out bounded by
    // |candidates| · per-doc fingerprint count (SHUFFLE_HASH: same
    // partition-bounded build sides as the jaccard verify)
    val a = u.toDF("a_id", "na", "f")
    val b = u.toDF("b_id", "nb", "f")
    cand
      .hint("SHUFFLE_HASH")
      .join(a, Seq("a_id"))
      .join(b.hint("SHUFFLE_HASH"), Seq("b_id", "f"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared"), min(col("na")).as("na"), min(col("nb")).as("nb"))
      .withColumn(
        "containment",
        round(
          col("n_shared").cast("double") / least(col("na"), col("nb")).cast("double"),
          6))
      .filter(col("containment") >= lit(minContain))
      .select(col("a_id"), col("b_id"), col("n_shared"), col("containment"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** SimHash bit width: 60 (one portable hash60 per token). */
  val SimhashBits = 60

  /** 60-bit SimHash signature per document: per-token portable 60-bit hash
    * (oracle-reproducible — see [[graft.functions.PortableHash]]), each bit
    * votes ±1 weighted by term frequency; bit set where the vote is
    * positive. `(doc_id, simhash)`.
    *
    * One aggregation column per bit (60 codegen'd sums over the token rows)
    * instead of exploding 60 bit-rows per token — same math, 60× fewer
    * rows through the shuffle. The md5 hash is computed once per DISTINCT
    * token and joined back (Zipf: the vocabulary is orders of magnitude
    * smaller than the occurrence stream; AQE broadcasts it while it fits) —
    * measured ~30% off signature time vs hashing every occurrence, same
    * values so the oracle is untouched.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val votes = (0 until SimhashBits).map(b =>
      sum(expr(s"(shiftright(h, $b) & 1L) * 2 - 1")).as(s"v$b"))
    val sig = (0 until SimhashBits)
      .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    val toks = docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
    val vocab = toks
      .select(col("tok"))
      .distinct()
      .select(col("tok"), graft.functions.PortableHash.hash60(col("tok")).as("h"))
    toks
      .join(vocab, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs within `maxHamming` bits, candidates blocked on
    * equal 10-bit bands: a pair within Hamming distance 5 differs in at
    * most 5 of the 6 bands, so it must agree on at least one (pigeonhole) —
    * recall is exact for `maxHamming ≤ 5`.
    *
    * Band sizing at scale (round-1 review): 6 bands × 10 bits = 1024
    * bucket values per band, 4× fewer chance collisions per band than the
    * previous 8×8-bit scheme AND two fewer band tables — the candidate
    * set stays precision-bounded as the corpus grows (Manku et al.'s
    * block-permutation generalizes further if maxHamming must rise).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 5, "6-band blocking only guarantees recall for Hamming <= 5")
    val sig = simhash(docs)
    // persisted: both sides of the band self-join read this relation —
    // uncached, the whole signature lineage (token explode + vocab join +
    // 60-sum aggregation) would run once per side (6 rows per doc, tiny)
    val banded = registerCache(
      sig
        .select(
          col("doc_id"),
          col("simhash"),
          explode(sequence(lit(0), lit(5))).as("band"))
        .withColumn("band_val", expr("shiftright(simhash, band * 10) & 1023L"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val a = banded.toDF("a_id", "sim_a", "band", "band_val")
    val b = banded.toDF("b_id", "sim_b", "band", "band_val")
    a.join(b, Seq("band", "band_val"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("sim_a"), col("sim_b"))
      .distinct()
      .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)"))
      .filter(col("hamming") <= lit(maxHamming))
      .select(col("a_id"), col("b_id"), col("hamming"))
      .orderBy(col("a_id"), col("b_id"))
  }
}
