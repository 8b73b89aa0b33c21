package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Arms
import graft.functions.HashFunctions
import graft.sources.Tables

/** Deduplication operators for a training-data pipeline, over `documents`.
  *
  * Scale design (100 TB): every variant reduces to hash-partitioned
  * groupBy/equi-join on a fingerprint or LSH band key. All-pairs comparison is
  * never materialized — candidate generation is an equi-join on band keys, and
  * the exact verify stage only runs on candidates.
  */
object Dedup {

  private def norm(text: Column): Column = lower(trim(text))

  /** Normalized-text md5 fingerprint (hex string — matches SQL `md5()`). */
  def fingerprint(text: Column): Column = md5(norm(text))

  /** DUPLICATION INFLATION per source — the token multiplier a training
    * budget silently pays when NEAR-dedup is skipped (this corpus has
    * zero exact duplicates — measured — so the accounting that matters
    * is near-dup-aware): every document attributes its tokens to its
    * source; "kept" tokens are those of near-dup cluster REPRESENTATIVES
    * ([[nearDupGroups]]' min-id keepers, singletons keep themselves), so
    * a source whose documents are mostly near-copies of content kept
    * elsewhere shows its inflation. Integer sums end to end; the one
    * division guards the kept-nothing edge in both engines.
    *
    * Scale shape: the grouping is row 43's (LSH-banded candidates →
    * connected components — never all-pairs); the accounting adds one
    * doc-keyed join + a source-keyed aggregation. */
  def dupInflation(t: Tables): DataFrame = {
    val groups = nearDupGroups(t).select(col("doc_id"), col("group_id"))
    val toks = t.documents.select(col("doc_id"), col("source"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("_tok"))
    toks.join(groups, Seq("doc_id"))
      .withColumn("_kept", (col("doc_id") === col("group_id")).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("_tok")).as("n_tokens"),
        sum(col("_kept")).as("n_kept_docs"),
        sum(col("_kept") * col("_tok")).as("n_kept_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_kept_docs"), col("n_kept_tokens"),
        when(col("n_kept_tokens") > 0,
          round(col("n_tokens").cast("double") / col("n_kept_tokens"), 6))
          .as("inflation"))
      .orderBy("source")
  }

  /** B-BIT MINHASH AUDIT (Li & König, WWW 2010 — store only the lowest
    * b bits of each minhash component; b=1 is 64× smaller signatures):
    * for every VERIFIED near-dup pair ([[lshVerifiedPairs]] — exact
    * Jaccard ground truth attached), the full-width signature estimate
    * next to the bias-corrected 1-bit estimate Ĵ₁ = 2·A₁ − 1 (agreement
    * A₁ of the parity bits; E[A₁] = J + (1−J)/2, inverted). The sizing
    * read: if err_1bit ≈ err_full on your pair population, ship 1-bit
    * signatures and cut index storage 64× (Li & König's k·b tradeoff).
    *
    * Determinism: agreements are integer counts over the same fused
    * minhash kernel the whole family uses; estimates are exact 64ths;
    * the correction and the error columns derive from the ROUNDED
    * emitted values in both engines. Cost on top of the verified-pairs
    * plan: one signature projection + a pair-keyed join of two
    * 64-long arrays. */
  def bbitMinhashAudit(t: Tables, w: Int = 2, k: Int = 64): DataFrame = {
    val pairs = lshVerifiedPairs(t, w = w)
    val sigs = t.documents.select(col("doc_id"),
      HashFunctions.minhashSigText(col("text"), w, k).as("_sig"))
    def agree(a: Column, b: Column, bit: Boolean): Column = {
      val eq = zip_with(a, b, (x, y) =>
        when(if (bit) pmod(x, lit(2L)) === pmod(y, lit(2L)) else x === y, 1L)
          .otherwise(0L))
      aggregate(eq, lit(0L), (acc, v) => acc + v)
    }
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("_sig").as("_sa")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("_sig").as("_sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        round(agree(col("_sa"), col("_sb"), bit = false).cast("double") / k, 6)
          .as("est_full"),
        round(lit(2.0) * (agree(col("_sa"), col("_sb"), bit = true)
          .cast("double") / k) - lit(1.0), 6).as("est_1bit"))
      .withColumn("err_full", round(abs(col("est_full") - col("jaccard")), 6))
      .withColumn("err_1bit", round(abs(col("est_1bit") - col("jaccard")), 6))
      .orderBy("doc_a", "doc_b")
  }

  /** Exact dedup, group view: one row per distinct content fingerprint with
    * the surviving doc_id (min) and the duplicate count. Partial-aggregating
    * hash groupBy on the fingerprint — the canonical shuffle-safe dedup. */
  def exactGroups(t: Tables): DataFrame =
    t.documents
      .groupBy(fingerprint(col("text")).as("fp"))
      .agg(
        min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"))
      .orderBy("fp")

  /** Exact dedup, row view: the surviving rows themselves (left-semi join of
    * the corpus against the winner set — no row data moves through the agg). */
  def exactRows(t: Tables): DataFrame = {
    val withFp = t.documents.withColumn("fp", fingerprint(col("text")))
    val winners = withFp.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    withFp
      .join(winners, Seq("fp", "doc_id"), "left_semi")
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Word w-shingles of the normalized text, as strings. w=1 → token set.
    * A document with NO tokens yields an EMPTY shingle array (not a [""]
    * artifact from concat_ws) — matching the fused minhashText kernel's
    * all-sentinel signature for empty documents (property-tested).
    *
    * NOTE: this form embeds the tokenizer inside the per-position lambda,
    * which re-tokenizes once per shingle position — fine for literals and
    * tests; hot paths should project [[TextAnalysis.tokens]] into a column
    * first and call [[shinglesOfTokens]] on the attribute. */
  def shingles(text: Column, w: Int): Column =
    shinglesOfTokens(TextAnalysis.tokens(text), w)

  /** w-shingles over an ALREADY-MATERIALIZED token-array column. Pass an
    * attribute (a projected column), not a nested expression: every
    * reference of `toks` inside the transform lambda re-evaluates it per
    * element. */
  def shinglesOfTokens(toks: Column, w: Int): Column = {
    if (w <= 1) array_distinct(toks)
    else array_distinct(
      when(size(toks) === 0, array().cast("array<string>"))
        .when(size(toks) >= w,
          transform(sequence(lit(0), size(toks) - w),
            i => concat_ws(" ", slice(toks, i + 1, lit(w)))))
        .otherwise(array(concat_ws(" ", toks))))
  }

  /** MinHash + LSH near-duplicate candidate pairs.
    *
    * shingle → 64-long minhash signature (custom codegen'd expression) →
    * `bands` LSH band keys → explode → self-equi-join on (band, key) →
    * distinct pairs → exact signature-agreement estimate → threshold.
    *
    * The only shuffles are the band-key join and the final distinct — both
    * hash-partitioned on bounded keys; nothing is quadratic in corpus size.
    */
  def minhashCandidates(t: Tables, w: Int = 2, k: Int = 64, bands: Int = 16,
                        minEstJaccard: Double = 0.2,
                        maxBucketSize: Option[Long] = None): DataFrame =
    minhashCandidatesCore(t, w, k, bands, minEstJaccard, maxBucketSize)
      .orderBy("doc_a", "doc_b") // ordered for the driver's oracle dump only

  /** Drop LSH band buckets larger than `cap` before a band self-join. A
    * boilerplate-heavy corpus puts millions of near-identical documents
    * into ONE (band, band_key) bucket, and the self-join's pair fan-out is
    * quadratic IN THE BUCKET — AQE skew-split spreads the shuffle but not
    * the pair explosion, so a mega-bucket is a non-starter at 100 TB
    * regardless of partitioning. The cap is the standard production guard:
    * one count aggregation finds the (few) hot buckets, a broadcast
    * anti-join removes their band rows.
    *
    * RECALL TRADE (documented, spec-pinned): a pair whose ONLY collisions
    * are in dropped buckets is missed. With `bands` independent bands a
    * true near-dup pair collides in many bands w.h.p., so in practice hot-
    * bucket members still pair through their non-degenerate bands — and a
    * bucket over the cap is near-certainly boilerplate whose members also
    * share other bands. Exactness is restored by cap = ∞ (None). */
  private[graft] def dropHotBuckets(banded: DataFrame,
                                    maxBucketSize: Option[Long]): DataFrame =
    maxBucketSize match {
      case None => banded
      case Some(cap) =>
        val hot = banded.groupBy("band", "band_key")
          .agg(count(lit(1)).as("_bn"))
          .filter(col("_bn") > cap)
          .select("band", "band_key")
        banded.join(broadcast(hot), Seq("band", "band_key"), "left_anti")
    }

  /** [[dropHotBuckets]] over a RECOMPUTED-expensive band lineage (the fused
    * minhash kernel): persists the band rows so the hot-bucket count and
    * both sides of the caller's self-join share ONE materialization instead
    * of three full kernel recomputes (r8 ADVICE). The caller materializes
    * its (bounded, post-join) result via `localCheckpoint` and then calls
    * `release()` — a persist that outlives the call accumulates
    * block-manager residency across a long-lived session (round-4 finding).
    * Not used for stored-table band scans ([[DedupIndex.dedupeAgainstIndex]]),
    * where a rescan is a cheap bucketed file read and a cache would only
    * evict hotter blocks. */
  private def dropHotBucketsCached(
      banded: DataFrame, cap: Long): (DataFrame, () => Unit) = {
    val cached = banded.persist()
    (dropHotBuckets(cached, Some(cap)), () => { cached.unpersist(blocking = false); () })
  }

  /** Raw band-collision candidate pairs WITHOUT the signature-agreement
    * estimate — for consumers (recall evaluation) that need the candidate
    * set itself: skipping the estimate join halves the work when every
    * candidate is kept anyway (a 0.0 threshold through
    * [[minhashCandidatesCore]] still paid the k-array join per pair). */
  private[graft] def bandCandidatePairs(t: Tables, w: Int = 2, k: Int = 64,
                                        bands: Int = 16): DataFrame = {
    val banded = t.documents.select(
      col("doc_id"),
      posexplode(HashFunctions.bandKeys(
        HashFunctions.minhashSigText(col("text"), w, k), bands)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Unordered candidate pairs — consumers that don't need a total order
    * (e.g. [[nearDupGroups]]) use this to avoid a pointless global sort. */
  def minhashCandidatesCore(t: Tables, w: Int = 2, k: Int = 64, bands: Int = 16,
                            minEstJaccard: Double = 0.2,
                            maxBucketSize: Option[Long] = None): DataFrame = {
    val sigs = t.documents
      .select(
        col("doc_id"),
        // fused kernel: normalize+tokenize+shingle+minhash in one pass (the
        // compositional shingles()+minhashSig() form pays ~100× in per-
        // shingle array/string allocation, and this lineage is recomputed on
        // both sides of the self-join below)
        HashFunctions.minhashSigText(col("text"), w, k).as("sig"))
    val bandedRaw = sigs.select(
      col("doc_id"),
      posexplode(HashFunctions.bandKeys(col("sig"), bands)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")
    // cap set → cache the band rows (one kernel materialization shared by
    // the hot-bucket count + both join sides) and checkpoint the bounded
    // pair set so the cache is released before this function returns; cap
    // off (the default and every oracle path) → untouched lazy plan
    val (banded, release) = maxBucketSize match {
      case Some(cap) => dropHotBucketsCached(bandedRaw, cap)
      case None      => (bandedRaw, () => ())
    }
    val pairsLazy = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val pairs = maxBucketSize match {
      case Some(_) => val p = pairsLazy.localCheckpoint(); release(); p
      case None    => pairsLazy
    }
    // verify stage: estimated Jaccard = fraction of agreeing sig positions
    val est = pairs
      .join(sigs.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sig", "sig_a"), "doc_a")
      .join(sigs.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sig", "sig_b"), "doc_b")
      .withColumn("est_jaccard",
        round(size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / k, 6))
    est.filter(col("est_jaccard") >= minEstJaccard)
      .select("doc_a", "doc_b", "est_jaccard")
  }

  /** Spread a SMALL document frame across tasks before a per-row text
    * kernel (tokenize / shingle / gram / 64-hash minhash): a sub-split-size
    * corpus arrives as ONE scan task, so each kernel pass over it runs
    * serially while the rest of the box idles — measured as three
    * back-to-back ~0.8 s one-task stages in q_lsh_recall at sf0.1 (r19;
    * the same one-small-file disease as the SRP probe spread in
    * [[Similarity.embeddingNearDupsCore]]). Width is byte-derived (~1 task
    * per 128 KB of plan-stats bytes — these kernels are CPU-heavy per byte,
    * far finer than a 128 MB scan split — capped at the core count; an
    * explicit numbered repartition, so AQE never re-coalesces it). Above
    * [[Arms.KernelSpreadMaxBytes]] of stats the frame is left alone: the
    * scan is already wide and re-shuffling corpus text costs more than it
    * saves. Results are unchanged — partitioning never feeds any
    * downstream semantics. */
  private[graft] def kernelSpread(docs: DataFrame): DataFrame =
    if (!Arms.small("dedup.kernelSpread", docs, Arms.KernelSpreadMaxBytes)) docs
    else docs.repartition(math.max(1L, math.min(
      docs.sparkSession.sparkContext.defaultParallelism.toLong,
      Arms.statsBytes(docs) >> 17)).toInt, col("doc_id"))

  /** Exact token-set Jaccard similarity over the WHOLE corpus — the verify
    * stage for LSH candidates and a standalone exact near-dup pass. Runs on
    * the [[SetSimilarity]] engine (dictionary-encode → collapse identical
    * sets → candidate pairs → exact bitset verify), which replaces the naive
    * token self-join whose cost is quadratic in per-token document
    * frequency. `maxDf` optionally drops corpus-scale stopwords first
    * (changes the result; mirror it in any oracle). */
  def jaccardPairs(docs: DataFrame, minJaccard: Double,
                   maxDf: Option[Long] = None): DataFrame =
    SetSimilarity.jaccardSelfJoin(
      kernelSpread(docs).select(col("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(col("text")))).as("token")),
      minJaccard, maxDf)

  /** LSH recall/precision evaluation — the tuning harness for the
    * bands/rows trade: the banded MinHash CANDIDATE set (no estimate
    * threshold — the raw band-collision pairs) measured against the exact
    * shingle-Jaccard ≥ `minJaccard` ground truth computed by the
    * [[SetSimilarity]] engine over the SAME w-shingle sets. Emits one row:
    * pair counts, recall (true pairs surfaced) and precision (candidates
    * that are true) — the two numbers that decide whether to add bands
    * (recall short) or rows-per-band (verify stage overloaded).
    *
    * Scale shape: both pair sets are bucketed joins (band keys / PPJoin
    * prefixes), each checkpointed once (they feed a count AND the
    * intersection semi-join); the report is three 1-row aggregates
    * broadcast-crossed — nothing wider than a pair id ever shuffles, and
    * the exact side exists precisely because the set-similarity engine
    * makes corpus-scale exact Jaccard tractable. The exact ground truth is
    * still intentionally pair-complete over the evaluated documents, so at
    * corpus scale pass `samplePct` to run the harness on a deterministic
    * content-hash sample: docs with `pmod(xxhash64(doc_id), 100) < pct`
    * (the split machinery's hash — stable across runs and repartitioning,
    * and SQL-replayable for the oracle). Recall/precision are ratio
    * estimates, so a uniform document sample preserves them in
    * expectation; full-corpus remains the default for sf ≤ 0.1. */
  def lshRecallReport(t: Tables, w: Int = 2, k: Int = 64, bands: Int = 16,
                      minJaccard: Double = 0.5,
                      samplePct: Option[Int] = None): DataFrame = {
    val docs = kernelSpread(samplePct.fold(t.documents)(p =>
      t.documents.filter(pmod(xxhash64(col("doc_id")), lit(100)) < p)))
    val t2 = t.withTable("documents", docs)
    val truth = SetSimilarity.jaccardSelfJoin(
      docs.select(col("doc_id"),
          graft.operators.TextAnalysis.tokens(col("text")).as("_tk"))
        .select(col("doc_id"),
          explode(shinglesOfTokens(col("_tk"), w)).as("token")),
      minJaccard)
      .select("doc_a", "doc_b")
      .localCheckpoint()
    val cand = bandCandidatePairs(t2, w, k, bands)
      .localCheckpoint()
    val hit = truth.join(cand, Seq("doc_a", "doc_b"), "left_semi")
    truth.agg(count(lit(1)).as("n_true"))
      .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_candidates"))))
      .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
      .select(col("n_true"), col("n_candidates"), col("n_hit"),
        when(col("n_true") > 0,
          round(col("n_hit").cast("double") / col("n_true"), 6)).as("recall"),
        when(col("n_candidates") > 0,
          round(col("n_hit").cast("double") / col("n_candidates"), 6))
          .as("precision"))
  }

  /** Character n-gram Jaccard — same engine over sliding character grams
    * of the normalized text (robust to tokenization differences; the
    * classic fuzzy-dedup feature for noisy text). */
  def charNgramJaccardPairs(docs: DataFrame, n: Int, minJaccard: Double,
                            maxDf: Option[Long] = None): DataFrame =
    // fused extraction kernel: the compositional transform+substr form is
    // O(len²) per document (substr seeks from the string start per call) —
    // the kernel records code-point offsets once and is property-tested
    // equal to the compositional form (HashProperties)
    SetSimilarity.jaccardSelfJoin(
      kernelSpread(docs).select(col("doc_id"),
        explode(HashFunctions.charNgrams(col("text"), n)).as("token")),
      minJaccard, maxDf)

  /** Benchmark decontamination — the eval-hygiene pass of a training-data
    * pipeline: drop documents whose word w-shingle overlap with a (small)
    * benchmark corpus exceeds `maxOverlap`, so evaluation material never
    * leaks into training data.
    *
    * Scale shape: the benchmark shingle set is tiny (it's an eval set) and
    * arrives broadcast; the per-document hit count is one equi-join on the
    * shingle string plus two partial+final aggregations — linear in corpus
    * size, no self-join anywhere. Overlap is thresholded on the exact
    * (unrounded) ratio.
    *
    * @return surviving documents: (doc_id, n_shingles, n_hit, contamination)
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, w: Int = 3,
                    maxOverlap: Double = 0.05): DataFrame = {
    def shingleRows(d: DataFrame): DataFrame = d
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("_tk"))
      .select(col("doc_id"), explode(shinglesOfTokens(col("_tk"), w)).as("sh"))
    val dSh = shingleRows(docs)
    val bSh = shingleRows(benchmark).select("sh").distinct()
    // ONE pass over the corpus shingles: left-join the broadcast benchmark
    // set and count total + matched in the same aggregation (two consumers
    // of dSh would run the shingle extraction twice)
    val frac = col("n_hit").cast("double") / col("n_shingles")
    dSh.join(broadcast(bSh.withColumn("_b", lit(1))), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), count(col("_b")).as("n_hit"))
      .filter(frac <= maxOverlap)
      .select(col("doc_id"), col("n_shingles"), col("n_hit"),
        round(frac, 6).as("contamination"))
      .orderBy("doc_id")
  }

  /** The composed near-dup pipeline at its scale shape: MinHash-LSH
    * candidate generation (bounded candidate volume, equi-join on band
    * keys) followed by EXACT Jaccard verification of only those candidate
    * pairs — never an all-pairs exact pass. The verify is one join per pair
    * side against the per-document sorted shingle sets plus an
    * array-intersection ratio; cost is O(candidates · set size).
    *
    * `maxBucketSize` threads the LSH hot-bucket cap ([[dropHotBuckets]])
    * into the candidate stage — the boilerplate-mega-bucket guard every
    * band-join entry point needs at 100 TB. Default None = exact. */
  def lshVerifiedPairs(t: Tables, w: Int = 2, minEstJaccard: Double = 0.2,
                       minJaccard: Double = 0.5,
                       maxBucketSize: Option[Long] = None): DataFrame = {
    val cand = minhashCandidatesCore(t, w = w, minEstJaccard = minEstJaccard,
        maxBucketSize = maxBucketSize)
      .select("doc_a", "doc_b")
    // persisted for the ONE materializing execution below, and released
    // before this function returns — a persist that outlives the call
    // accumulates block-manager residency across a long-lived session
    // (round-4 finding). Both join sides consume the per-doc shingle sets;
    // without the cache the extraction runs once per side.
    val sets = t.documents
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("_tk"))
      .select(col("doc_id"), sort_array(shinglesOfTokens(col("_tk"), w)).as("_sh"))
      .persist()
    val inter = size(array_intersect(col("_sa"), col("_sb"))).cast("long")
    val j = col("n_common").cast("double") /
      (size(col("_sa")) + size(col("_sb")) - col("n_common"))
    val verified = cand
      .join(sets.select(col("doc_id").as("doc_a"), col("_sh").as("_sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("_sh").as("_sb")), "doc_b")
      .withColumn("n_common", inter)
      .filter(j >= minJaccard)
      .select(col("doc_a"), col("doc_b"), round(j, 6).as("jaccard"))
      // checkpointed so the final ORDER BY's range-partitioner sampling
      // pass re-reads this (small, post-threshold) pair set instead of
      // re-running the whole LSH candidate pipeline a second time
      .localCheckpoint()
    sets.unpersist(blocking = false)
    verified.orderBy("doc_a", "doc_b")
  }

  /** Excerpt/containment detection: LSH candidates scored by CONTAINMENT
    * — n_common / |smaller shingle set| — instead of Jaccard. A long
    * document quoting a short one wholesale scores ~1 here while the
    * pair's Jaccard stays low: exactly the asymmetric-duplication case
    * (boilerplate headers, quoted passages, excerpt re-posts) a
    * Jaccard-thresholded pass misses. Same bounded LSH candidate
    * machinery — only the verify formula changes; the candidate recall
    * limit (extreme asymmetry dilutes the MinHash estimate below the
    * band threshold) is the documented trade for never going all-pairs. */
  def containmentPairs(t: Tables, w: Int = 2, minEstJaccard: Double = 0.1,
                       minContainment: Double = 0.5,
                       maxBucketSize: Option[Long] = None): DataFrame =
    verifyContainment(t,
      minhashCandidatesCore(t, w = w, minEstJaccard = minEstJaccard,
        maxBucketSize = maxBucketSize).select("doc_a", "doc_b"),
      w, minContainment)

  /** Containment detection with WINNOWING-fingerprint candidates — the
    * recall fix for [[containmentPairs]]' documented limit: MinHash bands
    * estimate JACCARD, and a tiny excerpt inside a huge document dilutes
    * the estimate below any band threshold no matter how exact the copy.
    * Winnowed fingerprints are LOCAL (Schleimer/Wilkerson/Aiken 2003):
    * any shared token run of ≥ wWin+kWin−1 tokens (6 at the defaults)
    * yields at least one shared selected fingerprint REGARDLESS of the
    * containing document's size — so the tiny-excerpt pair surfaces as a
    * candidate, then the identical exact-containment verify scores it.
    *
    * Scale shape: candidates come from an fp-keyed equi-self-join over
    * the winnowed sets (density 2/(wWin+1) per document — a bounded
    * fraction of the corpus token count), never all-pairs; `maxDocsPerFp`
    * drops boilerplate mega-fingerprints shared by half the corpus (the
    * LSH hot-bucket cap's twin — same recall trade, same knob shape). */
  def containmentPairsWinnowed(t: Tables, w: Int = 2, kWin: Int = 3,
                               wWin: Int = 4, minContainment: Double = 0.5,
                               maxDocsPerFp: Option[Long] = None): DataFrame = {
    val fpRows = TextAnalysis.winnowedFpRows(t.documents, kWin, wWin)
      .localCheckpoint() // the cap aggregate + both join sides read it
    val capped = maxDocsPerFp.fold(fpRows) { m =>
      fpRows.join(
        fpRows.groupBy("fp").agg(countDistinct("doc_id").as("_nd"))
          .filter(col("_nd") <= m).select("fp"),
        Seq("fp"), "left_semi")
    }
    val cand = capped.select(col("doc_id").as("doc_a"), col("fp"))
      .join(capped.select(col("doc_id").as("doc_b"), col("fp")), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    val out = verifyContainment(t, cand, w, minContainment)
    fpRows.unpersist(blocking = false)
    out
  }

  /** The exact-containment verify shared by both candidate generators:
    * n_common / |smaller w-shingle set| ≥ threshold over the candidate
    * pairs only. */
  private def verifyContainment(t: Tables, cand: DataFrame, w: Int,
                                minContainment: Double): DataFrame = {
    val sets = t.documents
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("_tk"))
      .select(col("doc_id"), sort_array(shinglesOfTokens(col("_tk"), w)).as("_sh"))
      .persist()
    val c = col("n_common").cast("double") /
      least(size(col("_sa")), size(col("_sb")))
    // explicit partition counts on both join exchanges: the per-pair
    // array_intersect over full shingle sets is the expensive kernel
    // here, and AQE coalesced it onto TWO tasks at sf0.1 (5.6 task-sec
    // serialized — the r16 probe's finding) because the candidate-pair
    // bytes look tiny before the kernel runs
    val n = cand.sparkSession.sparkContext.defaultParallelism
    val scored = cand
      .repartition(n, col("doc_a"))
      .join(sets.select(col("doc_id").as("doc_a"), col("_sh").as("_sa")), "doc_a")
      .repartition(n, col("doc_b"))
      .join(sets.select(col("doc_id").as("doc_b"), col("_sh").as("_sb")), "doc_b")
      .withColumn("n_common", size(array_intersect(col("_sa"), col("_sb"))).cast("long"))
      .filter(c >= minContainment)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        round(c, 6).as("containment"))
      .localCheckpoint()
    sets.unpersist(blocking = false)
    scored.orderBy("doc_a", "doc_b")
  }

  /** Dedup observability: verified near-dup pair counts per SOURCE pair —
    * the report a corpus operator actually watches (which feeds duplicate
    * which; is a crawl re-ingesting another source). Pair order is
    * normalized (least/greatest) so (a,b) and (b,a) land in one bucket.
    * Cost is [[lshVerifiedPairs]] itself plus two broadcast-sized joins
    * to the (doc_id, source) projection and a source²-bounded count. */
  def nearDupRates(t: Tables, w: Int = 2, minEstJaccard: Double = 0.2,
                   minJaccard: Double = 0.5,
                   maxBucketSize: Option[Long] = None): DataFrame = {
    val src = t.documents.select(col("doc_id"), col("source"))
    lshVerifiedPairs(t, w, minEstJaccard, minJaccard, maxBucketSize)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("_sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("_sb")), "doc_b")
      .select(least(col("_sa"), col("_sb")).as("source_a"),
        greatest(col("_sa"), col("_sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  /** Transitive near-duplicate groups: LSH candidate pairs → connected
    * components → one group id (the component's min doc_id) per document.
    * Documents with no near-dup edges form singleton groups. Filtering
    * `doc_id === group_id` afterwards yields the canonical survivor set.
    * Edge count is bounded by the LSH candidate volume, not n².
    *
    * Components come from [[ConnectedComponents]] (alternating
    * large-star/small-star on plain DataFrames, with the bounded driver
    * union-find arm on small edge sets — the GraphX Pregel engine it
    * replaced paid ~12 Pregel/VertexRDD stages per call; GraphX stays the
    * spec's reference). */
  def nearDupGroups(t: Tables, w: Int = 2, minEstJaccard: Double = 0.5,
                    maxBucketSize: Option[Long] = None): DataFrame = {
    val pairs = minhashCandidatesCore(t, w = w, minEstJaccard = minEstJaccard,
      maxBucketSize = maxBucketSize)
    val components = ConnectedComponents.run(pairs.select("doc_a", "doc_b"))
      .toDF("doc_id", "group_id")
    t.documents.select("doc_id")
      .join(components, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("group_id"), col("doc_id")).as("group_id"))
      .orderBy("doc_id")
  }

  /** Near-dup cluster representative selection — the KEEP side of dedup
    * done right: instead of the min-id convention, each [[nearDupGroups]]
    * cluster keeps its highest-QUALITY member (longest text, doc_id
    * tiebreak) — the choice a production pipeline wants, since near-dup
    * clusters usually contain one full document plus truncated/boilerplate
    * variants.
    *
    * Argmax is expressed as two bounded aggregations (per-group max, then
    * min-id among the maxima) rather than a per-group sort or a struct
    * max_by — group-cardinality intermediates only, and every step is
    * plain ANSI SQL so the oracle re-derives it exactly on top of the
    * connected-components CTE. Scale: adds two group-keyed partial→final
    * aggregations and one group-keyed join to the [[nearDupGroups]] cost —
    * nothing new is corpus-quadratic. */
  def clusterRepresentatives(t: Tables, w: Int = 2,
                             minEstJaccard: Double = 0.5,
                             maxBucketSize: Option[Long] = None): DataFrame = {
    val sized = nearDupGroups(t, w, minEstJaccard,
        maxBucketSize = maxBucketSize)
      .join(t.documents.select(col("doc_id"), col("n_chars")), "doc_id")
    val best = sized.groupBy("group_id")
      .agg(count(lit(1)).as("n_members"), max("n_chars").as("_best"))
    sized.join(best, "group_id")
      .filter(col("n_chars") === col("_best"))
      .groupBy("group_id", "n_members", "_best")
      .agg(min("doc_id").as("kept_doc"))
      .select(col("group_id"), col("kept_doc"),
        col("n_members").cast("bigint").as("n_members"),
        col("_best").cast("bigint").as("kept_chars"))
      .orderBy("group_id")
  }

  /** Cross-source exact-duplicate overlap — the mirror-detection report:
    * for EVERY unordered source pair, how many distinct normalized-text
    * fingerprints occur in BOTH sources (0 when the pair shares nothing).
    * A high count flags mirrored / syndicated feeds that per-document
    * dedup only repairs after the fact; the pipeline answer is to drop or
    * downweight the source. Zero rows are part of the report — "these
    * feeds don't mirror each other" is the finding auditors act on, and
    * emitting the full pair matrix keeps the result non-vacuous on clean
    * corpora.
    *
    * Scale shape: dedup to distinct (fp, source) FIRST, so the per-
    * fingerprint self-join fan-out is bounded by the SOURCE count (a
    * catalog-sized constant), never by duplicate-group size — a
    * boilerplate fingerprint shared by a million docs contributes the
    * same ≤ sources² rows as one shared by two. One fp-keyed shuffle +
    * one pair-keyed count; the pair matrix is a broadcast self-join of
    * the source catalog (tens of rows); output is sources²-bounded. */
  def sourceOverlap(t: Tables): DataFrame = {
    val fpSrc = t.documents
      .select(fingerprint(col("text")).as("fp"), col("source"))
      .distinct()
    val shared = fpSrc.as("a")
      .join(fpSrc.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    val srcs = t.documents.select(col("source")).distinct()
    val pairs = broadcast(srcs.as("x"))
      .join(broadcast(srcs.as("y")), col("x.source") < col("y.source"))
      .select(col("x.source").as("source_a"), col("y.source").as("source_b"))
    pairs.join(shared, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .orderBy(col("n_shared").desc, col("source_a"), col("source_b"))
  }

  /** Cross-document duplicate SPAN localization — the position-level
    * variant of substring dedup (the observation behind Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better" — public
    * method; this is the tractable shingle-granular formulation, not a
    * suffix array): a position is duplicated when the `L`-token run
    * starting there appears in ≥ 2 DISTINCT documents; adjacent/overlapping
    * duplicated runs merge into maximal spans per document. The report
    * (doc_id, n_spans, dup_tokens, n_tokens, dup_frac) tells a pipeline
    * exactly how much of each document is boilerplate/syndication that
    * span-level surgery could remove where whole-doc dedup would either
    * keep the duplication or throw away novel text around it.
    *
    * Scale shape — LINEAR, never pairwise: one positioned-shingle scan, a
    * shingle-keyed count-distinct to find repeated runs, a semi-join back
    * on the shingle key to mark positions (the duplicated-shingle table,
    * not doc pairs), and per-DOCUMENT windows (partitioned by doc_id,
    * bounded by document length) for the classic interval merge: a new
    * span starts where the gap to the previous duplicated position
    * exceeds `L`. Documents shorter than `L` tokens cannot contain a run
    * and are excluded by construction. */
  def duplicateSpans(t: Tables, spanLen: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = t.documents
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("_tk"))
      .withColumn("n_tokens", size(col("_tk")))
      .filter(col("n_tokens") >= spanLen)
    // POSITIONED shingles (no distinct — a repeated run inside one doc is
    // two positions and both matter for coverage), collapsed to 64-bit
    // Karp–Rabin fingerprints BEFORE anything shuffles: the repeated-run
    // test only needs equality, and 8-byte keys beat ~50-byte run text
    // through both the count-distinct and the semi-join (the
    // splitLeakage treatment; the oracle re-derives the same kernel, so
    // collisions are shared semantics). The fused runFingerprints kernel
    // computes every position's fingerprint from one prefix-hash pass —
    // no n·w run-string materialization (spec-proven equal to
    // rollingHash64 over the concat_ws run).
    val sh = toks.select(col("doc_id"), col("n_tokens"),
      posexplode(HashFunctions.runFingerprints(col("_tk"), spanLen)))
      .withColumnRenamed("col", "f")
    val dupSh = sh.groupBy("f")
      .agg(countDistinct(col("doc_id")).as("_nd"))
      .filter(col("_nd") >= 2)
      .select("f")
    val marked = sh.join(dupSh, Seq("f"), "left_semi")
      .select("doc_id", "n_tokens", "pos")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val perSpan = marked
      .withColumn("_new",
        when(col("pos") - lag("pos", 1).over(w) <= spanLen, 0).otherwise(1))
      .withColumn("span_id", sum("_new").over(w))
      .groupBy("doc_id", "n_tokens", "span_id")
      .agg(min("pos").as("_s"), (max("pos") + spanLen).as("_e"))
    perSpan.groupBy("doc_id", "n_tokens")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("_e") - col("_s")).as("dup_tokens"))
      .select(col("doc_id"), col("n_spans"), col("dup_tokens"),
        col("n_tokens").cast("bigint").as("n_tokens"),
        round(col("dup_tokens").cast("double") / col("n_tokens"), 6).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** N-GRAM NOVELTY CURVE over ingestion order — for each doc_id-order
    * DECILE of the corpus, the average fraction of a document's distinct
    * w-shingles seen for the FIRST time at that document (first
    * occurrence = minimum doc_id over the shingle). Novelty falling
    * toward zero is the saturation signal a data-collection pipeline
    * watches: later crawl batches that mostly repeat earlier shingles
    * add tokens but no content. Complements the duplication family —
    * [[duplicateSpans]] localizes repeats; this tracks marginal novelty
    * over acquisition order.
    *
    * Scale shape: distinct per-doc shingles travel as 64-bit Karp–Rabin
    * fingerprints ([[graft.operators.Sampling.splitLeakage]]'s trade,
    * same shared-collision oracle treatment); one fp-keyed min
    * aggregation finds first owners, one fp join marks novelty, then
    * doc- and decile-keyed rollups. The decile index derives from the
    * broadcast max doc_id, not a global rank window. */
  def ngramNovelty(t: Tables, w: Int = 3): DataFrame = {
    // kernelSpread (r19): the tokenize+shingle+fingerprint pass runs twice
    // (the first-owner aggregation and the novelty join project different
    // columns, so their exchanges don't canonicalize equal and ReuseExchange
    // can't fire) and each pass ran as ONE ~0.6 s task on the single scan
    // split — spread both across the byte-derived width
    val sh = kernelSpread(t.documents)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("_tk"))
      .select(col("doc_id"),
        explode(shinglesOfTokens(col("_tk"), w)).as("s"))
      .select(col("doc_id"), HashFunctions.rollingHash64(col("s")).as("f"))
    val firstOwner = sh.groupBy("f").agg(min("doc_id").as("_first"))
    val perDoc = sh.join(firstOwner, "f")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("_n"),
        sum(when(col("doc_id") === col("_first"), 1L).otherwise(0L))
          .as("_novel"))
    val maxId = t.documents.agg(max("doc_id").as("_mx"))
    perDoc.crossJoin(broadcast(maxId))
      .withColumn("decile",
        least(floor(col("doc_id") * 10 / (col("_mx") + 1)), lit(9L)))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("_novel").cast("double") / col("_n")), 6)
          .as("avg_novelty"),
        round(sum("_novel").cast("double") / sum("_n"), 6)
          .as("novel_shingle_frac"))
      .orderBy("decile")
  }

  /** One surviving row per distinct fingerprint — the min-doc_id row — via
    * a single min_by aggregation: ONE exchange, no join. The previous form
    * (groupBy(fp).agg(min(doc_id)) + self-left-semi-join on (fp, doc_id))
    * paid two exchanges and a join per CONSUMER of the batch lineage
    * (guide §2.4: remove stages outright). doc_id is unique per row, so
    * min_by is deterministic and row-for-row equal to the join form
    * (spec-pinned in DedupSpec). Column order preserved. */
  private[graft] def keepMinPerFp(withFp: DataFrame): DataFrame = {
    val payload = withFp.columns.filter(_ != "fp")
    withFp.groupBy("fp")
      .agg(min_by(struct(payload.map(col): _*), col("doc_id")).as("_r"))
      .select(withFp.columns.map(c =>
        (if (c == "fp") col("fp") else col(s"_r.$c")).as(c)): _*)
  }

  /** (doc_id, sig) minhash signatures of a (doc_id, text, …) frame —
    * shared by the incremental paths and [[DedupIndex]]. */
  private[graft] def minhashSigs(d: DataFrame, w: Int, k: Int): DataFrame =
    d.select(col("doc_id"),
      HashFunctions.minhashSigText(col("text"), w, k).as("sig"))

  /** (doc_id, sig, band, band_key) LSH band rows of a signature frame. */
  private[graft] def minhashBandRows(sigFrame: DataFrame, bands: Int): DataFrame =
    sigFrame.select(col("doc_id"), col("sig"),
      posexplode(HashFunctions.bandKeys(col("sig"), bands)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")

  /** Fraction of agreeing minhash signature positions — the Jaccard
    * estimator shared by every candidate-verification stage. */
  private[operators] def sigAgreement(a: Column, b: Column, k: Int): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), m => m)).cast("double") / k

  /** Batch doc_ids whose candidate (batch, corpus) pairs survive EXACT
    * shingle-Jaccard verification — the false-positive guard on the MinHash
    * estimate (an estimator hit alone would silently discard novel
    * documents). Shingle extraction runs only on candidate-involved docs on
    * BOTH sides (left-semi prune), so cost is O(candidates · set size),
    * never a corpus rescan. */
  private[operators] def exactCrossVerifiedIds(cand: DataFrame, batch: DataFrame,
      corpus: DataFrame, w: Int, minJaccard: Double): DataFrame = {
    def sets(d: DataFrame, ids: DataFrame): DataFrame = d
      .join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("_tk"))
      .select(col("doc_id"), shinglesOfTokens(col("_tk"), w).as("_sh"))
    val bSets = sets(batch, cand.select("doc_id").distinct())
    val cSets = sets(corpus, cand.select(col("corp_id").as("doc_id")).distinct())
      .select(col("doc_id").as("corp_id"), col("_sh").as("_sb"))
    val nCommon = size(array_intersect(col("_sh"), col("_sb"))).cast("double")
    val j = nCommon / (size(col("_sh")) + size(col("_sb")) - nCommon)
    cand.join(bSets, "doc_id").join(cSets, "corp_id")
      .filter(j >= minJaccard)
      .select("doc_id").distinct()
  }

  /** Batch doc_ids dropped by the IN-BATCH near-dup pass: LSH band
    * self-join among the batch's own rows (larger id probes smaller),
    * signature-agreement estimate, exact shingle-Jaccard verify — a row is
    * dropped iff it verifies against a SMALLER-id row of the same batch.
    * Without this stage two near-identical (but not byte-identical)
    * documents arriving in the same batch would BOTH survive an
    * index-probe dedup — the one hole a batch-vs-corpus probe can't see.
    *
    * Greedy by id, not transitive-component: a row whose smaller near-dup
    * partner was itself dropped is still dropped. For training-data dedup
    * that over-drop is the safe direction (a duplicate must never be
    * re-admitted); the transitive-exact variant is [[nearDupGroups]]. The
    * batch side is small by definition, so the self-join is batch-bounded. */
  private[graft] def inBatchNearDupIds(batchSigs: DataFrame, batch: DataFrame,
      w: Int, k: Int, bands: Int, minEstJaccard: Double,
      minJaccard: Double): DataFrame = {
    val rows = minhashBandRows(batchSigs, bands)
    val cand = rows.as("a")
      .join(rows.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") > col("b.doc_id"))
      // estimate before the distinct, as in the cross stage: ids only shuffle
      .filter(sigAgreement(col("a.sig"), col("b.sig"), k) >= minEstJaccard)
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("corp_id"))
      .distinct()
    exactCrossVerifiedIds(cand, batch, batch, w, minJaccard)
  }

  /** Incremental dedup — the daily-ingest shape: which rows of a NEW batch
    * survive against an EXISTING corpus? Five passes, none quadratic:
    *
    *  1. in-batch exact: keep one row (min doc_id) per fingerprint;
    *  2. cross exact: anti-join the batch's fingerprints against the
    *     existing corpus' (this form rescans the corpus text; the stored-
    *     index form a daily 100 TB ingest actually runs is
    *     [[DedupIndex.dedupeAgainstIndex]], spec-asserted result-equal);
    *  3. in-batch near-dup ([[inBatchNearDupIds]]): band self-join + exact
    *     verify among the batch's own rows — two near-identical docs in
    *     one batch can't both survive;
    *  4. cross near-dup candidates: MinHash band keys of the batch
    *     equi-joined to band keys of the corpus — candidate volume is
    *     bounded by the BATCH size (the small side) times collision rate,
    *     never corpus² — thresholded on the signature-agreement estimate;
    *  5. exact verify (`minJaccard`): candidate pairs are confirmed by
    *     exact shingle Jaccard before a batch row is dropped — an
    *     estimator false positive must not silently discard a novel
    *     document. One final anti-join drops batch rows with a VERIFIED
    *     duplicate.
    *
    * Returns surviving batch rows (doc_id, lang, source). Deterministic:
    * every pass is a pure function of content. */
  def dedupeIncrement(existing: DataFrame, incoming: DataFrame, w: Int = 2,
                      k: Int = 64, bands: Int = 16,
                      minEstJaccard: Double = 0.5,
                      minJaccard: Double = 0.5,
                      maxBucketSize: Option[Long] = None): DataFrame = {
    val withFp = incoming.withColumn("fp", fingerprint(col("text")))
    val inBatch = keepMinPerFp(withFp)
    val crossExact = inBatch.join(
      existing.select(fingerprint(col("text")).as("fp")),
      Seq("fp"), "left_anti")

    val batchSigs = minhashSigs(crossExact.select("doc_id", "text"), w, k)
    val inBatchNear = inBatchNearDupIds(
      batchSigs, crossExact, w, k, bands, minEstJaccard, minJaccard)
    // cap (when set) drops hot CORPUS-side buckets only — the batch side is
    // small by definition, and a boilerplate mega-bucket in the existing
    // corpus would otherwise fan every matching batch row out bucket-wide.
    // ASYMMETRY OF THE MISS (r9 ADVICE): on this INGEST path a cap-induced
    // miss ADMITS a duplicate — a batch row whose only collisions with its
    // corpus twin fall in dropped buckets passes as novel — which is the
    // OPPOSITE of the "over-drop is the safe direction" invariant the
    // reporting paths document ([[inBatchNearDupIds]]). Weigh the cap
    // accordingly here: it trades bounded fan-out for (rare, multi-band-
    // protected) duplicate admits, not for lost novel docs.
    // The corpus band lineage is the full minhash kernel over `existing`;
    // with a cap it feeds the hot-bucket count AND the join probe side, so
    // persist it once (mirroring [[minhashCandidatesCore]]) instead of
    // recomputing the kernel per consumer, and release after the bounded
    // candidate set is checkpointed.
    val corpBandsRaw =
      minhashBandRows(minhashSigs(existing.select("doc_id", "text"), w, k), bands)
    val (corpBands, releaseCorp) = maxBucketSize match {
      case Some(cap) => dropHotBucketsCached(corpBandsRaw, cap)
      case None      => (corpBandsRaw, () => ())
    }
    val candLazy = minhashBandRows(batchSigs, bands).as("n")
      .join(corpBands.as("o"),
        col("n.band") === col("o.band") && col("n.band_key") === col("o.band_key"))
      // estimate BEFORE the distinct: runs map-side per collision, so only
      // id pairs (not 64-long signatures) reach the distinct's shuffle
      .filter(sigAgreement(col("n.sig"), col("o.sig"), k) >= minEstJaccard)
      .select(col("n.doc_id").as("doc_id"), col("o.doc_id").as("corp_id"))
      .distinct()
    val cand = maxBucketSize match {
      case Some(_) => val c = candLazy.localCheckpoint(); releaseCorp(); c
      case None    => candLazy
    }
    val verified = exactCrossVerifiedIds(cand, crossExact, existing, w, minJaccard)
    crossExact
      .join(verified, Seq("doc_id"), "left_anti")
      .join(inBatchNear, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Text similarity SEARCH — the text twin of the embedding ANN rows:
    * for each query document (doc_id < `nQueries`), the `topK` most
    * similar corpus documents by estimated Jaccard (minhash signature
    * agreement), with candidates from LSH band collisions only.
    *
    * Scale shape mirrors [[graft.operators.Similarity.lshTopK]]: the
    * corpus is banded ONCE; the bounded query band rows broadcast onto
    * them as a (band, band_key) equi-join — expected candidates per query
    * are collision-rate-bounded, never a corpus scan per query. Ranking
    * is a per-query window over the candidate set. The agreement estimate
    * is m/k with k=64 — a dyadic rational, exactly representable, so the
    * rank order is engine-exact (no ulp fragility). */
  def textSimSearch(t: Tables, nQueries: Long = 10, topK: Int = 5,
                    w: Int = 2, k: Int = 64, bands: Int = 16,
                    maxBucketSize: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sigs = minhashSigs(t.documents.select("doc_id", "text"), w, k)
    val bandedRaw = minhashBandRows(sigs, bands)
    // with a cap, `bandedRaw` (the full minhash kernel over the corpus)
    // feeds THREE consumers — the hot-bucket count, the corpus join side,
    // and the query band rows — so persist it once and release after the
    // bounded candidate set is checkpointed (r9 ADVICE; pattern:
    // [[minhashCandidatesCore]]). Uncapped, the lazy plan stays untouched.
    val (banded, release) = maxBucketSize match {
      case Some(_) =>
        val cached = bandedRaw.persist()
        (cached: DataFrame, () => { cached.unpersist(blocking = false); () })
      case None => (bandedRaw, () => ())
    }
    val qBands = banded.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("sig").as("_qsig"),
        col("band"), col("band_key"))
    // cap applies to the CORPUS side only (a hot bucket there multiplies
    // every colliding query's candidate fan-out); query band rows are kept
    // intact so a query in a boilerplate bucket still probes its other bands
    val candLazy = dropHotBuckets(banded, maxBucketSize)
      .join(broadcast(qBands), Seq("band", "band_key"))
      .filter(col("doc_id") =!= col("query_id"))
      // estimate map-side per collision; only (ids, est) reach the distinct
      .withColumn("est_jaccard", round(sigAgreement(col("sig"), col("_qsig"), k), 6))
      .select(col("query_id"), col("doc_id").as("neighbor_id"), col("est_jaccard"))
      .distinct()
    val cand = maxBucketSize match {
      case Some(_) => val c = candLazy.localCheckpoint(); release(); c
      case None    => candLazy
    }
    val rank = Window.partitionBy(col("query_id"))
      .orderBy(col("est_jaccard").desc, col("neighbor_id").asc)
    cand.withColumn("rn", row_number().over(rank))
      .filter(col("rn") <= topK)
      .select("query_id", "neighbor_id", "est_jaccard")
      .orderBy("query_id", "neighbor_id")
  }

  /** Dedup observability: the cluster-SIZE histogram of the transitive
    * near-dup groups — the first report run after a dedup pass (a fat
    * tail of giant clusters means boilerplate or a crawler loop, not
    * ordinary duplication). One aggregation over [[nearDupGroups]]'
    * output: component sizes, then (size, n_clusters); singletons
    * included, so the size-weighted sum equals the corpus count
    * (spec-asserted). */
  def dedupClusterSizes(t: Tables, w: Int = 2,
                        minEstJaccard: Double = 0.5,
                        maxBucketSize: Option[Long] = None): DataFrame =
    nearDupGroups(t, w, minEstJaccard, maxBucketSize = maxBucketSize)
      .groupBy("group_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")

  /** SimHash fingerprints: 64-bit near-dup signature per document (custom
    * codegen'd expression). Exact-equal simhash → near-identical token
    * multiset; grouping by fingerprint is the O(n) near-dup pass. */
  def simhashFingerprints(t: Tables): DataFrame =
    t.documents
      .select(
        col("doc_id"),
        HashFunctions.simhash64(TextAnalysis.tokens(col("text"))).as("simhash"))
      .orderBy("doc_id")

  /** SimHash near-dup PAIRS within Hamming distance `maxHamming`, found by
    * pigeonhole block banding (Manku/Jain/Sarma, WWW'07 "Detecting
    * Near-Duplicates for Web Crawling" — the public simhash-dedup
    * construction): a 64-bit fingerprint is split into `maxHamming + 1`
    * blocks, and any pair differing in ≤ `maxHamming` bits must agree on at
    * least one whole block, so an equi-join on (block index, block value)
    * generates EVERY qualifying pair — the banding is exact, not
    * approximate — and the XOR-popcount verify only runs on candidates.
    *
    * Scale shape: the fingerprint table is one narrow codegen'd corpus pass,
    * checkpointed once because it feeds both join sides; banding explodes to
    * exactly `(maxHamming+1)·n` rows; the candidate join is hash-partitioned
    * on the block key (never all-pairs). On low-entropy corpora a block
    * value can go hot exactly like a MinHash band bucket — the same
    * hot-bucket cap applies if needed (not wired here: real fingerprints
    * spread 16 bits of entropy per block). Verify is a single codegen'd
    * `bit_count(a XOR b)` per candidate; `distinct` collapses pairs that
    * agree on several blocks BEFORE emitting. */
  def simhashHammingPairs(t: Tables, maxHamming: Int = 3): DataFrame = {
    val nBlocks = maxHamming + 1
    val blockBits = 64 / nBlocks
    val fp = t.documents
      .select(
        col("doc_id"),
        HashFunctions.simhash64(TextAnalysis.tokens(col("text"))).as("simhash"))
      // feeds both sides of the self-join: one kernel pass, not two
      .localCheckpoint()
    val blocks = fp.select(
      col("doc_id"), col("simhash"),
      posexplode(array((0 until nBlocks).map(i =>
        shiftright(col("simhash"), i * blockBits)
          .bitwiseAND(lit((1L << blockBits) - 1))): _*)).as(Seq("blk", "bval")))
    blocks.as("a")
      .join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.bval") === col("b.bval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Cross-source similarity from MERGED MinHash signatures: the per-source
    * elementwise-min of its documents' signatures is exactly the signature
    * of the UNION of their shingle sets (min is associative), so one
    * corpus pass yields a sources×k sketch table and every source pair's
    * union-Jaccard estimate comes from comparing sketches — corpus-size-
    * independent after the scan. This mergeability is the property that
    * matters at 100 TB: per-partition partial mins combine map-side, the
    * shuffle carries sources×k rows, and the pairwise stage runs on a
    * table whose size never grows with the corpus. */
  def sourceSignatureSimilarity(t: Tables, w: Int = 2, k: Int = 64): DataFrame = {
    val merged = t.documents
      .select(col("source"),
        posexplode(HashFunctions.minhashSigText(col("text"), w, k))
          .as(Seq("j", "sv")))
      .groupBy("source", "j").agg(min("sv").as("sv"))
    merged.as("a")
      .join(merged.as("b"),
        col("a.j") === col("b.j") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(round(sum(when(col("a.sv") === col("b.sv"), 1L).otherwise(0L))
        .cast("double") / k, 6).as("est_union_jaccard"))
      .orderBy("source_a", "source_b")
  }
}
