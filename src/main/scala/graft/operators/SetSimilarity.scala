package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Exact all-pairs Jaccard set-similarity self-join.
  *
  * The naive formulation (explode elements, self-equi-join on the element,
  * count matches per pair) is quadratic in document frequency: a token held
  * by d documents contributes d²/2 join rows, so corpus-scale stopwords — or
  * a degenerate template corpus where EVERY token is hot (the driver's
  * `documents` table has a 31-token vocabulary with ~78% document frequency
  * across the board, measured at sf0.01/sf0.1) — blow the join up on exactly
  * the keys that carry no signal. This operator replaces it with the
  * standard exact set-similarity-join pipeline (PPJoin lineage — Xiao et al.,
  * "Efficient Similarity Joins for Near Duplicate Detection", WWW'08 —
  * public algorithm, implemented from the paper's ideas, not from any code):
  *
  *  1. **Dictionary-encode** elements to dense integer ids ordered by
  *     ascending document frequency (rare first), with an optional hot-token
  *     cutoff (`maxDf`).
  *  2. **Collapse identical sets**: group documents by their exact id-set;
  *     all similarity math runs once per distinct set, then expands back to
  *     document pairs (identical-set pairs are Jaccard 1.0 by definition).
  *     Semantics-preserving, and on template-heavy corpora it shrinks the
  *     quadratic core by the duplication factor.
  *  3. **Candidate generation**, adaptively:
  *     - *dense path* (distinct sets ≤ `denseMaxSets`): broadcast the
  *       collapsed sets and evaluate all set pairs with a codegen'd bitset
  *       kernel — ~S²/2 cheap popcount evaluations, no shuffle. Right when
  *       the collapsed problem fits one executor's memory (it's the regime
  *       where every element is hot, so filtering can't prune anyway).
  *     - *prefix path* (large S): PPJoin prefix filtering — two sets with
  *       Jaccard ≥ τ must share an element within the first
  *       |s| − ⌈τ·|s|⌉ + 1 elements of their df-ascending-sorted sets, so we
  *       equi-join on prefix elements only. Rare elements prune hardest,
  *       which is exactly the Zipfian large-corpus case.
  *  4. **Exact verify** on candidates: |a∩b| via multi-word bitset popcount
  *     when the (post-cutoff) vocabulary fits `maskMaxVocab` bits, else via
  *     sorted-id `array_intersect`. Exact arithmetic until the final
  *     division, so results hash-match a naive SQL oracle bit for bit.
  *
  * Both paths produce identical results (verification is exact); the choice
  * only trades candidate-generation cost. Output is always
  * `(doc_a, doc_b, jaccard)` with `doc_a < doc_b`, jaccard rounded to 6dp,
  * thresholded on the UNROUNDED value (oracle parity at the boundary).
  *
  * Cache lifecycle: the small derived tables (dictionary, per-doc sets,
  * members, set pairs) are persisted because the expansion and the final
  * sort's sampling pass would otherwise re-run the quadratic core. The
  * operator is EAGER so those caches never outlive the call: the
  * PRE-EXPANSION frames — the set-level pairs and the doc→set membership,
  * both strictly smaller than the expanded doc-pair output (that reduction
  * is exactly what the collapse step buys) — are materialized with
  * `localCheckpoint` (executor-local blocks, released by the
  * ContextCleaner when the returned plan is collected), every named cache
  * is unpersisted before returning, and the doc-pair expansion STREAMS
  * from the checkpointed blocks. Materializing the expansion itself would
  * pin Θ(output) rows in block-manager memory for the life of the result —
  * measured in round 4 to slow unrelated queries sharing the session ~8×.
  */
object SetSimilarity {

  /** All document pairs with token-set Jaccard ≥ `minJaccard`.
    *
    * @param elems       distinct `(doc_id, token)` element rows — callers
    *                    must pre-deduplicate (`array_distinct` before the
    *                    explode); document frequency is counted as one per
    *                    (doc, token)
    * @param minJaccard  inclusive threshold on the exact (unrounded) Jaccard
    * @param maxDf       drop tokens held by more than this many documents
    *                    before any pairing (None = keep all). This CHANGES
    *                    the result (Jaccard over the surviving tokens) and
    *                    must be mirrored in any oracle. Rare tokens carry
    *                    the near-dup signal; corpus-scale stopwords only
    *                    cost — the standard verify-stage trim.
    * @param denseMaxSets max collapsed-set count for the broadcast dense
    *                    path; above it, PPJoin prefix filtering runs instead
    * @param maskMaxVocab max dictionary size for the bitset verify kernel
    *                    (memory per set = vocab/8 bytes); larger
    *                    vocabularies verify via array_intersect
    * @param eager       materialize the result and release all intermediate
    *                    caches before returning (the default; see the cache-
    *                    lifecycle note above). `false` returns the fully
    *                    lazy plan WITH its intermediates still cached — a
    *                    plan-inspection/debugging hook; callers own the
    *                    caches (`spark.catalog.clearCache()`)
    * @param windowVocabMax max post-cutoff vocabulary size for the
    *                    single-task `row_number` dictionary; larger
    *                    vocabularies get distributed `zipWithIndex` ids
    *                    (identical values — see [[denseTokenIds]])
    */
  def jaccardSelfJoin(elems: DataFrame, minJaccard: Double,
                      maxDf: Option[Long] = None,
                      denseMaxSets: Long = 200000,
                      maskMaxVocab: Int = 4096,
                      eager: Boolean = true,
                      windowVocabMax: Long = 10000000L): DataFrame = {
    // 1. document frequency + optional hot-token cutoff. The join back to
    // `elems` is 1:1 per element row (no blow-up); AQE handles partition
    // skew on hot tokens.
    val dfc = elems.groupBy("token").agg(count(lit(1)).as("_df"))
    val kept = maxDf.fold(dfc)(m => dfc.filter(col("_df") <= m))

    // vocabulary size decides the id-assignment path AND the verify kernel;
    // collapsed-set count decides the candidate strategy. Tiny driver
    // actions over already-reduced aggregates — the same class of planning
    // statistic AQE collects.
    val vocab = kept.count()
    val dict = denseTokenIds(kept, vocab > windowVocabMax).persist()

    val enc = elems.join(dict, "token").select(col("doc_id"), col("_tok_id"))
    // persisted: members, the set-pair expansion, and the set build below
    // all branch from here — without the cache the whole element pipeline
    // (tokenize/gram + distinct + dictionary join) re-runs once per branch
    val perDoc = enc.groupBy("doc_id")
      .agg(sort_array(collect_set(col("_tok_id"))).as("ids"))
      .persist()

    // 2. collapse identical sets; `members` maps every doc to its set rep.
    // Materialized: it feeds both sides of the cross-set expansion AND both
    // sides of the intra-set pair join (4 consumers), and the final sort's
    // range-partitioner sampling pass re-executes every consumer once more.
    // Eager mode checkpoints it (linear in corpus size — one row per doc;
    // lineage truncated, so the element pipeline never re-runs after the
    // upstream caches are released below); lazy mode persists and leaves
    // the caches to the caller.
    val reps = perDoc.groupBy("ids")
      .agg(min("doc_id").as("set_id"), count(lit(1)).as("m"))
    val membersRaw = perDoc.join(reps.select("ids", "set_id"), "ids")
      .select("set_id", "doc_id")
    val members = if (eager) membersRaw.localCheckpoint() else membersRaw.persist()

    val useMask = vocab <= maskMaxVocab
    val nWords = ((vocab + 63) / 64).toInt.max(1)
    def maskOf(ids: Column): Column =
      transform(sequence(lit(0), lit(nWords - 1)), w =>
        aggregate(
          filter(ids, i => floor(i.cast("double") / 64.0).cast("int") === w),
          lit(0L),
          (acc, i) => acc.bitwiseOR(call_function("shiftleft", lit(1L), pmod(i, lit(64))))))

    // `repr` is the verify fingerprint: a fixed-width bitset for small
    // dictionaries, else the sorted id array itself (merge-intersection)
    val sets =
      (if (useMask) reps.select(col("set_id"), col("ids")).withColumn("repr", maskOf(col("ids")))
       else reps.select(col("set_id"), col("ids")).withColumn("repr", col("ids")))
        .persist()
    val nSets = sets.count()

    // 3. candidate set pairs
    val a = sets.select(col("set_id").as("set_a"), col("repr").as("repr_a"),
      size(col("ids")).as("sz_a"))
    val b = sets.select(col("set_id").as("set_b"), col("repr").as("repr_b"),
      size(col("ids")).as("sz_b"))
    // length filter (PPJoin family): J(a,b) ≤ min(|a|,|b|)/max(|a|,|b|), so
    // J ≥ τ needs the sizes within a factor 1/τ of each other. Two integer
    // comparisons ahead of the popcount kernel in the pair condition —
    // free when sizes are uniform (this corpus), and on a Zipfian corpus
    // it prunes the long-tail×head pairs before any bitset work.
    val lengthOk =
      col("sz_a").cast("double") >= lit(minJaccard) * col("sz_b") &&
        col("sz_b").cast("double") >= lit(minJaccard) * col("sz_a")
    val cand =
      if (nSets <= denseMaxSets)
        // the stream side arrives from a groupBy whose tiny output AQE
        // coalesces to ~1 partition — correct for the rows, catastrophic for
        // the S²/2 pair evaluations hiding behind them. An explicit
        // numbered repartition (which AQE never re-coalesces) spreads the
        // quadratic work across the cluster.
        a.repartition(elems.sparkSession.sparkContext.defaultParallelism)
          .join(broadcast(b), col("set_a") < col("set_b") && lengthOk)
      else {
        // PPJoin prefix: p = |s| − ⌈τ·|s|⌉ + 1, plus one slack element to be
        // robust to floating-point wobble in ⌈τ·|s|⌉ (verification is exact,
        // so extra candidates cost time, never correctness)
        val prefLen = greatest(
          (size(col("ids")) - ceil(lit(minJaccard) * size(col("ids"))) + lit(2)).cast("int"),
          lit(1))
        val pref = sets.select(col("set_id"),
          explode(slice(col("ids"), lit(1), prefLen)).as("_p"))
        pref.as("pa")
          .join(pref.as("pb"),
            col("pa._p") === col("pb._p") && col("pa.set_id") < col("pb.set_id"))
          .select(col("pa.set_id").as("set_a"), col("pb.set_id").as("set_b"))
          .distinct()
          .join(a, "set_a").join(b, "set_b")
          .filter(lengthOk) // cheap int pre-filter ahead of the verify kernel
      }

    // 4. exact verify. ONE fused kernel per pair — intersection and union
    // popcounts in a single pass, integer until the final division, so the
    // value is bit-for-bit `n_common / (|a| + |b| - n_common)` (oracle
    // parity). Fused matters doubly here: Catalyst pushes the filter into
    // the join condition and re-inlines the projection expression, so a
    // compositional per-word popcount sum would be evaluated up to 3× per
    // candidate (measured ~8× slower end to end). The `j > 0` conjunct
    // mirrors the naive formulation, which only ever pairs documents
    // sharing at least one element.
    val j =
      if (useMask) graft.functions.HashFunctions.maskJaccard(col("repr_a"), col("repr_b"))
      else graft.functions.HashFunctions.sortedJaccard(col("repr_a"), col("repr_b"))
    // materialized: the S²/2 candidate evaluation must not re-run when the
    // expansion's two join sides and the final ORDER BY's sampling pass
    // each walk the plan. Eager mode checkpoints the SET-level pairs —
    // post-threshold and pre-expansion, the smallest frame the quadratic
    // core produces — which truncates the lineage so every upstream cache
    // can be released before the caller ever executes the result.
    val setPairsRaw = cand
      .withColumn("_j", j)
      .filter(col("_j") >= minJaccard && col("_j") > 0.0)
      .select(col("set_a"), col("set_b"), round(col("_j"), 6).as("jaccard"))
    val setPairs = if (eager) setPairsRaw.localCheckpoint() else setPairsRaw.persist()

    // expand back to document pairs: cross-set pairs inherit the set-level
    // jaccard; same-set pairs are identical sets (jaccard exactly 1.0)
    val ma = members.select(col("set_id").as("set_a"), col("doc_id").as("da"))
    val mb = members.select(col("set_id").as("set_b"), col("doc_id").as("db"))
    val cross = setPairs.join(ma, "set_a").join(mb, "set_b")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("jaccard"))
    val intra = members.as("x")
      .join(members.as("y"),
        col("x.set_id") === col("y.set_id") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(1.0).as("jaccard"))
    val out = if (minJaccard <= 1.0) cross.union(intra) else cross
    if (!eager) return out.orderBy("doc_a", "doc_b")
    // eager: `members` and `setPairs` are already checkpointed above, so
    // the quadratic core can never re-run — release every named cache and
    // let the doc-pair expansion STREAM. The ORDER BY's sampling pass
    // re-reads the (small) checkpointed blocks, never the lineage, and the
    // Θ(output) expansion is never pinned in block-manager memory.
    Seq(dict, perDoc, sets).foreach(_.unpersist(blocking = false))
    out.orderBy("doc_a", "doc_b")
  }

  /** Dense integer token ids in (df asc, token asc) order over a
    * `(token, _df)` vocabulary frame.
    *
    * Small vocabularies — the common case; this table holds TERMS, not
    * documents — use one `row_number` window: a single task over a frame
    * that fits it. Past the caller's vocabulary threshold that single task
    * becomes the scale bottleneck, so the `distributed` path range-sorts
    * the vocabulary and assigns ids with `zipWithIndex`: per-partition
    * offsets from one lightweight count job, no single-task stage, and the
    * identical ids (the (df, token) sort order is total, so both paths are
    * deterministic). Ids stay Int because every verify kernel downstream is
    * int-array/bitset based; an >2³¹-term post-cutoff vocabulary is beyond
    * any text corpus and would need the kernels widened first. */
  private[graft] def denseTokenIds(kept: DataFrame, distributed: Boolean): DataFrame =
    if (!distributed) {
      kept.withColumn("_tok_id",
        (row_number().over(Window.orderBy(col("_df").asc, col("token").asc)) - 1)
          .cast("int"))
        .select("token", "_tok_id")
    } else {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
      val spark = kept.sparkSession
      val tokField = kept.schema("token")
      val sorted = kept.orderBy(col("_df").asc, col("token").asc).select("token")
      val ids = sorted.rdd.zipWithIndex.map { case (r, i) => Row(r.get(0), i.toInt) }
      spark.createDataFrame(ids,
        StructType(Seq(tokField.copy(name = "token"), StructField("_tok_id", IntegerType))))
    }

  /** Fuzzy string join (entity resolution over part names): pairs of
    * DISTINCT names within Levenshtein distance `maxDist`, candidates
    * blocked on a shared whitespace token. Blocking is part of the
    * operator's semantics (like the LSH band join): pairs sharing no
    * token are not compared — for catalog-style names ("adjective noun")
    * a ≤2-edit variant almost always preserves one token intact.
    *
    * Scale shape: identical strings COLLAPSE before any comparison (the
    * [[jaccardPairs]] lesson) — the join runs on the distinct-name table
    * with per-name member counts carried as payload, so a 100 TB catalog
    * with a bounded name vocabulary pays vocabulary², never corpus². The
    * token equi-join is hash-partitioned; the O(|a|·|b|) edit-distance
    * kernel (codegen'd `levenshtein`) runs only on candidates; `distinct`
    * collapses multi-token agreements BEFORE the verify. */
  def fuzzyNameJoin(t: Tables, maxDist: Int = 2): DataFrame = {
    val names = t.part
      .groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("n_parts"))
      // feeds the token explode AND both count joins — one aggregation pass
      .localCheckpoint()
    val toks = names.select(col("name"),
      explode(split(col("name"), " ")).as("tok"))
    val cand = toks.as("a")
      .join(toks.as("b"),
        col("a.tok") === col("b.tok") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
      .distinct()
    cand
      // THRESHOLD form: the banded O(maxDist·len) DP, returning −1 beyond
      // the bound — so the filter is `>= 0`, and the kept values are the
      // exact distances (identical output to the unbounded form; the
      // LevenshteinBandedRewrite rule installs the same rewrite for SQL
      // users who write the natural `<= k` predicate)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), maxDist))
      .filter(col("dist") >= 0)
      .join(names.select(col("name").as("name_a"), col("n_parts").as("n_parts_a")),
        Seq("name_a"))
      .join(names.select(col("name").as("name_b"), col("n_parts").as("n_parts_b")),
        Seq("name_b"))
      .select("name_a", "name_b", "dist", "n_parts_a", "n_parts_b")
      .orderBy("name_a", "name_b")
  }

  /** Jaro–Winkler fuzzy name matching — the record-linkage scorer
    * [[fuzzyNameJoin]]'s edit distance can't express: JW rewards shared
    * PREFIXES (the empirically right prior for human/product names, where
    * typos cluster at the end) and normalizes to [0,1] so one threshold
    * works across name lengths. Candidates come from the same shared-token
    * block as fuzzyNameJoin — never all-pairs — and the scorer is the
    * codegen'd [[graft.functions.HashImpl.jaroWinkler]] kernel, cross-checked
    * bit-for-bit against DuckDB's `jaro_winkler_similarity` (3000-pair
    * offline sweep + the oracle hash gate). The threshold compares the
    * ROUNDED score in both engines, so a last-ulp divergence cannot flip
    * a boundary row. */
  def jaroWinklerJoin(t: Tables, minSim: Double = 0.93): DataFrame = {
    val names = t.part.select(col("p_name").as("name")).distinct()
    val toks = names.select(col("name"),
      explode(split(col("name"), " ")).as("tok"))
    toks.as("a")
      .join(toks.as("b"),
        col("a.tok") === col("b.tok") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
      .distinct()
      .withColumn("jw", round(
        graft.functions.HashFunctions.jaroWinkler(col("name_a"), col("name_b")), 6))
      .filter(col("jw") >= minSim)
      .orderBy("name_a", "name_b")
  }
}
