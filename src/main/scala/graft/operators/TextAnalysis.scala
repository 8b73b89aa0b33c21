package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.HashFunctions
import graft.sources.Tables

/** Text-analysis operators for a training-data pipeline, over the
  * `documents` table. All per-document operators are embarrassingly parallel
  * narrow transformations (no shuffle); corpus-level ones (top terms) use
  * explode + partial-aggregating groupBy — never driver-side counting.
  */
object TextAnalysis {

  /** Whitespace tokenization of the normalized text. The empty-string guard
    * matters: `split("", "\\s+")` yields `[""]`, so without it empty or
    * whitespace-only documents would count one phantom token and "" could
    * rank as a top term. `array_remove`, not a `filter` lambda: it is
    * code-generated, so a projection that tokenizes stays in whole-stage
    * codegen. */
  def tokens(text: Column): Column =
    array_remove(split(lower(trim(text)), "\\s+"), "")

  /** A small English stopword list (enough for ratio features). */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "or", "to", "in", "is", "it")

  /** BPE-style pre-tokenization pattern (public GPT-2-style shape): letter
    * runs, digit runs, or single non-space symbols — the token count a BPE
    * tokenizer would start from, minus merges. */
  val BpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Per-document token/length statistics: whitespace tokens and a BPE-ish
    * regex token count. Token count is materialized once (lower projection)
    * instead of re-tokenizing for the avg_token_len denominator. */
  def textStats(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"), col("text"),
        size(tokens(col("text"))).as("_nt"))
      .select(
        col("doc_id"),
        length(col("text")).cast("bigint").as("n_chars_calc"),
        col("_nt").cast("bigint").as("n_tokens"),
        size(regexp_extract_all(col("text"), lit(BpeishPattern), lit(0)))
          .cast("bigint").as("n_tokens_bpeish"),
        round(
          length(regexp_replace(col("text"), "\\s+", "")).cast("double") /
            col("_nt"), 6).as("avg_token_len"))
      .orderBy("doc_id")

  /** Corpus-wide top terms: explode → hash agg (map-side partial) → top-k.
    * Distributed end to end; the LIMIT is the only driver-bound step. */
  def topTerms(t: Tables, k: Int = 25): DataFrame =
    t.documents
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)

  /** Quality scoring: stopword ratio, punctuation ratio, digit ratio, and a
    * blended score. Pure narrow projection — scales linearly.
    *
    * Two-stage projection on purpose: the token/regex COUNTS are
    * materialized as columns first, and the ratios/score read those
    * attributes. Inlining everything into one select re-evaluates the
    * tokenizer once per reference (~7× per row through the ratio and score
    * expressions — measured ~4× on the whole query); CollapseProject keeps
    * the split because collapsing would duplicate non-cheap expressions.
    * The arithmetic is identical, so oracle hashes are unchanged. */
  def qualityScore(t: Tables): DataFrame = {
    val toks = tokens(col("text"))
    val counted = t.documents.select(
      col("doc_id"),
      size(toks).as("_nt"),
      size(filter(toks, tk => tk.isin(Stopwords: _*))).as("_ns"),
      (length(col("text")) -
        length(regexp_replace(col("text"), "[\\.,!\\?;:]", ""))).as("_np"),
      (length(col("text")) -
        length(regexp_replace(col("text"), "[0-9]", ""))).as("_nd"),
      length(col("text")).as("_nc"))
    val stopRatio = col("_ns").cast("double") / col("_nt")
    val punctRatio = col("_np").cast("double") / greatest(col("_nc"), lit(1))
    val digitRatio = col("_nd").cast("double") / greatest(col("_nc"), lit(1))
    // Heuristic quality: long-enough docs with some stopwords, few digits.
    val score =
      least(col("_nt").cast("double") / 20.0, lit(1.0)) * 0.5 +
        least(stopRatio * 5.0, lit(1.0)) * 0.3 +
        (lit(1.0) - least(digitRatio * 10.0, lit(1.0))) * 0.2
    counted
      .select(
        col("doc_id"),
        col("_nt").cast("bigint").as("n_tokens"),
        col("_ns").cast("bigint").as("n_stop"),
        round(stopRatio, 6).as("stop_ratio"),
        round(punctRatio, 6).as("punct_ratio"),
        round(score, 6).as("quality"))
      .orderBy("doc_id")
  }

  /** Language identification via a character n-gram / stopword heuristic:
    * scores each candidate language by occurrences of its characteristic
    * trigrams and function words, picks the argmax (deterministic tie-break
    * on language code). Distributed narrow op; the profile table is a literal
    * (broadcast-free). */
  def languageId(t: Tables): DataFrame = {
    // fused single-pass marker scan (see graft.functions.TextImpl — the
    // one-regexp_replace-per-marker formulation costs 25 regex passes/row)
    val best = graft.functions.TextFunctions.langId(col("text"))
    t.documents
      .select(
        col("doc_id"),
        best.getField("lang_pred").as("lang_pred"),
        round(best.getField("lang_score"), 4).as("lang_score"))
      .orderBy("doc_id")
  }

  /** Language-ID confusion matrix: labeled `lang` vs detected `lang_pred`
    * counts — the accuracy report that tells you whether the heuristic
    * detector can be trusted per language before filtering on it. Narrow
    * detector map + one (langs²)-cardinality aggregation. */
  def langConfusion(t: Tables): DataFrame = {
    val best = graft.functions.TextFunctions.langId(col("text"))
    t.documents
      .select(col("lang"), best.getField("lang_pred").as("lang_pred"))
      .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "lang_pred")
  }

  /** Corpus-wide frequent terms via the SpaceSaving sketch — the scale path
    * for top-terms when the vocabulary is too large for an exact groupBy:
    * one partial+final aggregation pass with a bounded (capacity-sized)
    * buffer per partition, no per-term shuffle. Every term with frequency
    * > totalTokens/capacity is guaranteed present. */
  def topTermsSketch(t: Tables, capacity: Int = 64, k: Int = 25): DataFrame =
    t.documents
      .select(explode(tokens(col("text"))).as("token"))
      .agg(graft.functions.FreqItemsSketch.freqItems(col("token"), capacity).as("sketch"))
      .select(explode(slice(col("sketch"), 1, k)).as("e"))
      .select(col("e.item").as("token"), col("e.est_count").as("est_count"),
        col("e.max_err").as("max_err"))

  /** The ORACLE-ELIGIBLE verification form of [[topTermsSketch]] (r16
    * verdict item 5 — the q_approx_distinct contract-flag pattern): the
    * output ROWS are the exact top-k terms (deterministic, replayable as
    * plain SQL), and the SpaceSaving sketch runs beside them to earn a
    * pinned per-row flag. `sketch_ok` = 1 iff the SpaceSaving theorem
    * held for that term under this run's merge order: a term with true
    * count > n_tokens/capacity must be TRACKED, and any tracked term's
    * bounds must bracket the truth (est − err ≤ true ≤ est); terms at or
    * below the heavy-hitter threshold are exempt from presence (their
    * tracking IS merge-order-sensitive — the documented SpaceSaving
    * caveat — so pinning their presence would be flaky by construction).
    * The oracle replays the exact arm and pins the flag at 1. */
  def topTermsSketchVerified(t: Tables, capacity: Int = 64, k: Int = 25): DataFrame = {
    val toks = t.documents.select(explode(tokens(col("text"))).as("token"))
    val exact = toks.groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc).limit(k)
    val sk = toks
      .agg(graft.functions.FreqItemsSketch.freqItems(col("token"), capacity).as("sketch"))
      .select(explode(col("sketch")).as("e"))
      .select(col("e.item").as("token"), col("e.est_count").as("_est"),
        col("e.max_err").as("_err"))
    val total = toks.agg(count(lit(1)).as("_total"))
    exact.join(sk, Seq("token"), "left")
      .crossJoin(broadcast(total))
      .select(col("token"), col("n"),
        when(col("_est").isNull,
          // absent is allowed only at or below the guarantee threshold
          when(col("n") * capacity <= col("_total"), 1).otherwise(0))
          .otherwise(when(col("_est") - col("_err") <= col("n") &&
            col("n") <= col("_est"), 1).otherwise(0))
          .cast("int").as("sketch_ok"))
      .orderBy(col("n").desc, col("token").asc)
  }

  /** Document fingerprint: Karp–Rabin rolling hash of the normalized text
    * (a codegen'd kernel call — see [[graft.functions.HashImpl.rollingHash]]). */
  def fingerprints(t: Tables): DataFrame =
    t.documents
      .select(
        col("doc_id"),
        HashFunctions.rollingHash64(lower(trim(col("text")))).as("fingerprint"))
      .orderBy("doc_id")

  /** BPE merge learning (Sennrich, Haddow, Birch, "Neural Machine
    * Translation of Rare Words with Subword Units", ACL 2016 — public
    * algorithm): learn the first `nMerges` byte-pair-encoding merges over
    * the corpus. Each round counts adjacent symbol pairs weighted by word
    * frequency, merges the most frequent pair (count desc, then pair
    * lexicographic — deterministic, so the merge table is
    * oracle-checkable), and rewrites every word greedily left-to-right.
    * The output IS the tokenizer-training artifact: (merge_order, left,
    * right, pair_count).
    *
    * Scale shape — the production tokenizer-training shape: the corpus is
    * scanned ONCE into a (word, freq) vocabulary; every round after that
    * runs on the VOCABULARY table (bounded by distinct words, not corpus
    * size), and only the single argmax pair row crosses the driver per
    * round. Words are carried as a delimiter-framed symbol string
    * (` a  b ` — symbols never contain the
    * delimiter), so the greedy non-overlapping left-to-right merge IS
    * `replace(seq, ⟨a⟩⟨b⟩, ⟨ab⟩)` — the exact same primitive the SQL
    * oracle uses, making the two implementations semantically identical
    * by construction. Each round's vocabulary localCheckpoints so the
    * plan stays flat across rounds. */
  def bpeMerges(t: Tables, nMerges: Int = 8): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val words = t.documents
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    // initial symbols = characters; frame each as ⟨c⟩ and concatenate
    val vocab0 = words
      .withColumn("seq",
        concat(lit(BpeSep),
          array_join(array_remove(split(col("word"), ""), ""), BpeSep + BpeSep),
          lit(BpeSep)))
      .select("freq", "seq")
    learnMergesFromVocab(vocab0, nMerges)
      .toDF("merge_order", "lhs", "rhs", "pair_count")
      .orderBy("merge_order")
  }

  /** ASCII unit separator — absent from any text corpus; frames BPE
    * symbols so the greedy left-to-right merge is one `replace`. */
  private[graft] val BpeSep = "\u001f"
  private[graft] def bpeFramed(a: String, b: String) =
    s"$BpeSep$a$BpeSep$BpeSep$b$BpeSep"

  /** The merge-learning loop of [[bpeMerges]] over an arbitrary framed
    * (freq, seq) vocabulary — split out (r14) so the byte-level variant
    * ([[bpeByteFallback]]) trains over hex-byte initial symbols with the
    * IDENTICAL round arithmetic and argmax tie-break. */
  private def learnMergesFromVocab(vocab0: DataFrame,
                                   nMerges: Int): Seq[(Int, String, String, Long)] = {
    var vocab = vocab0.localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      val syms = array_remove(split(col("seq"), BpeSep), "")
      val top = vocab
        .select(col("freq"), syms.as("_sy"))
        .filter(size(col("_sy")) >= 2)
        .select(col("freq"), explode(transform(sequence(lit(1), size(col("_sy")) - 1),
          i => struct(element_at(col("_sy"), i).as("a"),
            element_at(col("_sy"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true // every word is a single symbol
      else {
        val (a, b, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, a, b, cnt))
        val next = vocab.withColumn("seq",
          call_function("replace", col("seq"), lit(bpeFramed(a, b)), lit(s"$BpeSep$a$b$BpeSep")))
          .localCheckpoint()
        vocab.unpersist(blocking = false)
        vocab = next
        r += 1
      }
    }
    vocab.unpersist(blocking = false)
    merges.toSeq
  }

  /** BPE ENCODING (Sennrich ACL'16, application half): tokenize the corpus
    * with the merges [[bpeMerges]] learned — the train→apply round trip a
    * tokenizer pipeline actually ships. Per document: word count, initial
    * symbol count (characters — the pre-merge token count), post-merge BPE
    * token count, and the compression ratio the merge table bought.
    *
    * Scale shape: merges are an nMerges-row driver list (bounded — this is
    * the tokenizer's merge table, the thing shipped to production); the
    * replace-chain applies over the DISTINCT-WORD vocabulary, not the
    * corpus — |V| rows through nMerges codegen'd `replace` columns — and
    * documents get their counts back through one word-keyed equi-join +
    * per-doc aggregation. A 100 TB corpus pays two linear scans (vocab
    * build, stats join) no matter how many merges the tokenizer has.
    */
  def bpeEncode(t: Tables, nMerges: Int = 8,
                trained: Option[Seq[(String, String)]] = None): DataFrame = {
    // a production tokenizer is TRAINED ONCE and shipped; `trained` is
    // that shape — the caller loads a persisted rank-ordered merge table
    // and the per-call training pass disappears (the from-scratch default
    // re-learns for self-contained use)
    val merges = trained.getOrElse(bpeMerges(t, nMerges).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq)
    val docWords = t.documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
    val vocab0 = docWords.select("word").distinct()
      .withColumn("seq",
        concat(lit(BpeSep),
          array_join(array_remove(split(col("word"), ""), ""), BpeSep + BpeSep),
          lit(BpeSep)))
    val encoded = merges.foldLeft(vocab0) { case (df, (a, b)) =>
      df.withColumn("seq",
        call_function("replace", col("seq"), lit(bpeFramed(a, b)), lit(s"$BpeSep$a$b$BpeSep")))
    }
      .select(col("word"), length(col("word")).cast("bigint").as("_nch"),
        size(array_remove(split(col("seq"), BpeSep), "")).cast("bigint").as("_nsym"))
    docWords.join(encoded, Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("_nch").as("n_chars_presplit"),
        sum("_nsym").as("n_bpe_tokens"))
      .withColumn("compression",
        round(col("n_chars_presplit").cast("double") / col("n_bpe_tokens"), 6))
      .orderBy("doc_id")
  }

  /** TOKENIZER FERTILITY per language (tokens-per-word — the multilingual
    * tokenizer-fairness audit: a language whose fertility is 2× pays 2×
    * the context budget and 2× the inference cost for the same content,
    * the classic under-represented-script failure). Rolls [[bpeEncode]]'s
    * per-document counts up by the `lang` column; same scale shape plus
    * one language-cardinality aggregation. */
  def tokenizerFertility(t: Tables, nMerges: Int = 8,
                         trained: Option[Seq[(String, String)]] = None): DataFrame =
    bpeEncode(t, nMerges, trained)
      .join(t.documents.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_bpe_tokens").as("n_bpe_tokens"),
        round(sum("n_bpe_tokens").cast("double") / sum("n_words"), 6)
          .as("fertility"),
        round(sum("n_chars_presplit").cast("double") / sum("n_bpe_tokens"), 6)
          .as("compression"))
      .orderBy("lang")

  /** BYTE-LEVEL BPE with fallback — the UNK-free encoding GPT-2-class
    * tokenizers actually ship (Radford et al. 2019: initial symbols are
    * the 256 BYTES, so every string decomposes losslessly and apply-time
    * characters unseen at train time fall back to raw byte symbols
    * instead of an UNK token). The r13 gap: [[bpeMerges]]/[[bpeEncode]]
    * train and apply CHARACTER-initial merges — a closed char alphabet —
    * so a tokenizer shipped from corpus A meets corpus B's unseen
    * characters with no symbol at all.
    *
    * The cross-lingual shipping scenario, made measurable: merges train
    * on the ENGLISH subcorpus only, then encode the FULL corpus, where
    * every non-English document carries a deterministic non-ASCII suffix
    * (" café 中" — multi-byte UTF-8, absent from the ASCII corpus; both
    * engines append the same suffix, so the oracle replays it). The
    * report contrasts, per language: `n_unk_words_closed` — words a
    * CLOSED char-vocab tokenizer (trained alphabet) cannot encode — vs
    * the byte path, which encodes everything by construction (no UNK
    * column exists because the count is structurally zero). Bytes
    * surface as 2-hex-digit symbols (`hex(encode(word))` split in
    * twos — the same primitive in both engines); merges learn over hex
    * pairs with [[bpeMerges]]' exact round arithmetic and tie-break.
    *
    * Scale shape — identical to [[bpeEncode]]: training runs on the
    * (bounded) distinct-word vocabulary of the training subcorpus, the
    * apply chain on the full corpus's vocabulary, documents re-join by
    * word; the trained alphabet is a driver-side constant (≤ charset
    * size — it IS the shipped tokenizer artifact, like the merge
    * table). */
  def bpeByteFallback(t: Tables, nMerges: Int = 8,
                      trained: Option[(Seq[(String, String)], Seq[String])] = None): DataFrame = {
    val docs2 = t.documents.select(col("doc_id"), col("lang"),
      concat(col("text"),
        when(col("lang") =!= "en", lit(" café 中")).otherwise(lit("")))
        .as("text"))
    val docWords = docs2
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("word"))
      .localCheckpoint() // train subcorpus + apply vocab + rollup read it
    def byteSeq(w: org.apache.spark.sql.Column) =
      concat(lit(BpeSep),
        array_join(regexp_extract_all(hex(encode(w, "UTF-8")), lit(".."), lit(0)),
          BpeSep + BpeSep),
        lit(BpeSep))
    // a tokenizer trains ONCE and ships: `trained` carries the persisted
    // (merge table, training alphabet) pair — the q_bpe_encode contract;
    // the from-scratch default re-learns for self-contained use
    val (merges, alphabet) = trained.getOrElse(trainByteBpe(t, nMerges))
    val vocab0 = docWords.select("word").distinct()
      .withColumn("seq", byteSeq(col("word")))
    val encoded = merges.foldLeft(vocab0) { case (df, (a, b)) =>
      df.withColumn("seq",
        call_function("replace", col("seq"), lit(bpeFramed(a, b)), lit(s"$BpeSep$a$b$BpeSep")))
    }
      .select(col("word"),
        length(encode(col("word"), "UTF-8")).cast("bigint").as("_nb"),
        size(array_remove(split(col("seq"), BpeSep), "")).cast("bigint").as("_nsym"),
        (size(array_except(array_remove(split(col("word"), ""), ""),
          array(alphabet.map(lit): _*))) > 0).as("_unk"))
    docWords.join(encoded, Seq("word"))
      .groupBy("lang")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(when(col("_unk"), 1L).otherwise(0L)).as("n_unk_words_closed"),
        sum("_nb").as("n_bytes"),
        sum("_nsym").as("n_bpe_tokens"),
        round(sum("_nb").cast("double") / sum("_nsym"), 6).as("compression"))
      .orderBy("lang")
  }

  /** Train the byte-level tokenizer artifact from scratch: the
    * rank-ordered hex-symbol merge table over the EN subcorpus (the
    * [[bpeByteFallback]] training path, shared verbatim) plus the
    * training-alphabet char set the closed-vocab UNK arm compares
    * against. Both halves ship together as one persisted artifact. */
  def trainByteBpe(t: Tables, nMerges: Int = 8): (Seq[(String, String)], Seq[String]) = {
    val docs2 = t.documents.select(col("lang"),
      concat(col("text"),
        when(col("lang") =!= "en", lit(" café 中")).otherwise(lit("")))
        .as("text"))
    val trainWords = docs2.filter(col("lang") === "en")
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .localCheckpoint() // merges + alphabet both read it
    val seq0 = concat(lit(BpeSep),
      array_join(regexp_extract_all(hex(encode(col("word"), "UTF-8")),
        lit(".."), lit(0)), BpeSep + BpeSep),
      lit(BpeSep))
    val m = learnMergesFromVocab(
      trainWords.select(col("freq"), seq0.as("seq")), nMerges)
      .map(x => (x._2, x._3))
    // the closed-vocab comparison arm's alphabet: every char the
    // char-level tokenizer saw in training (driver-side constant — the
    // shipped artifact, bounded by charset size)
    val a = trainWords
      .select(explode(array_remove(split(col("word"), ""), "")).as("c"))
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    (m, a)
  }

  /** The winnowing selection expressions over a tokenized frame: `_tk`
    * (token array, at least `k` tokens) → `_gh` (positioned k-shingle
    * hashes, each the `rollingHash64` of the shingle's `concat_ws(" ")`,
    * in one fused [[HashFunctions.runFingerprints]] pass) → selected
    * fingerprint array. Shared by [[winnowFingerprints]] and the
    * winnowed containment candidate generator
    * ([[Dedup.containmentPairs]]). */
  private def winnowExprs(k: Int, w: Int): (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val gh = HashFunctions.runFingerprints(col("_tk"), k)
    val sel = when(size(col("_gh")) >= w,
      array_distinct(transform(sequence(lit(0), size(col("_gh")) - w),
        j => array_min(slice(col("_gh"), j + 1, lit(w))))))
      .otherwise(array(array_min(col("_gh"))))
    (gh, sel)
  }

  /** One (doc_id, fp) row per selected winnowing fingerprint — the
    * candidate-generation feed for containment detection. Same selection
    * as [[winnowFingerprints]] (spec/oracle-pinned there); the SWA
    * guarantee carries over: any shared token run of ≥ w+k−1 tokens
    * yields at least one SHARED selected fingerprint, regardless of how
    * large the containing document is. */
  private[graft] def winnowedFpRows(docs: DataFrame, k: Int = 3,
                                    w: Int = 4): DataFrame = {
    val (gh, sel) = winnowExprs(k, w)
    // explicit-count spread before the per-doc gram-hash/min-select
    // kernels: a small corpus arrives as ONE parquet file and the whole
    // winnow pass ran single-task (r16 probe: 1.0 s of q_containment's
    // wall); AQE sizes from pre-kernel bytes and can't see the CPU
    docs.select(col("doc_id"), tokens(col("text")).as("_tk"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .filter(size(col("_tk")) >= k)
      .withColumn("_gh", gh)
      .select(col("doc_id"), explode(sel).as("fp"))
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    * 2003 — public algorithm, token-shingle variant): hash every
    * positioned `k`-token shingle (Karp–Rabin fold + mix64 — the
    * [[HashFunctions.rollingHash64]] kernel), then keep the MINIMUM hash
    * of every window of `w` consecutive shingle hashes. The winnowed set
    * is position-robust — insertions far from a match don't disturb the
    * selected fingerprints — with expected density 2/(w+1), and the
    * guarantee that any shared run of ≥ w+k−1 tokens yields at least one
    * shared fingerprint. Per document the report carries the selected
    * count, the density, and how many selected fingerprints also appear
    * in ANOTHER document's winnowed set — the mirror/plagiarism signal an
    * auditor reads.
    *
    * Scale shape — linear like [[graft.operators.Dedup.duplicateSpans]]:
    * shingle hashing and window minima are per-document array transforms
    * (no shuffle), the winnowed sets explode to (fp, doc) rows for ONE
    * fp-keyed count-distinct, and the shared counts come from a semi-join
    * back on the fp key — never a document pair join. Documents shorter
    * than `k` tokens have no shingles and are excluded by construction;
    * documents with fewer than `w` windows keep the global minimum (the
    * algorithm's boundary rule), so every included doc has ≥ 1
    * fingerprint. */
  def winnowFingerprints(t: Tables, k: Int = 3, w: Int = 4): DataFrame = {
    val (gh, sel) = winnowExprs(k, w)
    // kernelSpread (r19): the tokenize+gram-hash+winnow-select kernel ran
    // as ONE 0.8 s task on the single scan split of a sub-split corpus
    val perDoc = Dedup.kernelSpread(t.documents)
      .select(col("doc_id"), tokens(col("text")).as("_tk"))
      .filter(size(col("_tk")) >= k)
      .withColumn("_gh", gh)
      .select(col("doc_id"), size(col("_gh")).as("n_grams"), sel.as("_sel"))
      .localCheckpoint() // three consumers below; the hashing runs once
    val fpRows = perDoc.select(col("doc_id"), explode(col("_sel")).as("fp"))
    val sharedFps = fpRows.groupBy("fp")
      .agg(countDistinct(col("doc_id")).as("_nd"))
      .filter(col("_nd") >= 2)
      .select("fp")
    val sharedCnt = fpRows.join(sharedFps, Seq("fp"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    perDoc
      .select(col("doc_id"), col("n_grams").cast("bigint").as("n_grams"),
        size(col("_sel")).cast("bigint").as("n_selected"))
      .join(sharedCnt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"), col("n_selected"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round(col("n_selected").cast("double") / col("n_grams"), 6).as("density"))
      .orderBy("doc_id")
  }

  /** Gopher-style heuristic document filter (Rae et al., "Scaling Language
    * Models: ... Gopher", 2021 §A1.1 — public rule family): token-count
    * bounds, mean-token-length bounds, a repetition signal (fraction of
    * positional 3-grams that are duplicates within the document), and a
    * must-contain-a-stopword rule. Emits the per-document metrics plus the
    * verdict, so the filter doubles as a quality-metrics table.
    *
    * Scale shape: pure narrow projection — every metric is computed from
    * the token array of its own row (the 3-gram list included), no shuffle,
    * no UDF; linear in corpus size and fully codegen'd. Comparisons run on
    * the ROUNDED metrics so the emitted values and the verdict can never
    * disagree (and the SQL oracle can mirror them exactly). */
  def gopherFilter(t: Tables,
                   minTokens: Int = 5, maxTokens: Int = 1000,
                   minMeanLen: Double = 2.0, maxMeanLen: Double = 10.0,
                   maxDup3: Double = 0.3): DataFrame =
    gopherMetrics(t.documents, minTokens, maxTokens, minMeanLen, maxMeanLen,
      maxDup3)
      .select("doc_id", "n_tokens", "mean_tok_len", "dup3_frac", "has_stop",
        "pass")
      // checkpointed: the ORDER BY's sampling pass would otherwise run the
      // trigram-building projection a second time; the metric rows are a
      // tiny fraction of the corpus (6 scalars/doc, no text)
      .localCheckpoint()
      .orderBy("doc_id")

  /** Column-level core of [[gopherFilter]]: appends the metric + `pass`
    * columns and PRESERVES the input columns. Narrow and sort-free, so it
    * composes into Structured Streaming ingest pipelines unchanged
    * ([[graft.streaming.CorpusStreams.hygienic]]) as well as the ordered
    * batch query above. Staged projections on purpose: `_tk`/`_g3` are
    * materialized as attributes first so each is computed once per row,
    * not once per referencing expression (the repo's measured
    * re-evaluation trap). */
  def gopherMetrics(docs: DataFrame,
                    minTokens: Int = 5, maxTokens: Int = 1000,
                    minMeanLen: Double = 2.0, maxMeanLen: Double = 10.0,
                    maxDup3: Double = 0.3): DataFrame = {
    val base = docs.withColumn("_tk", tokens(col("text")))
    val metrics = base
      .withColumn("n_tokens", size(col("_tk")).cast("bigint"))
      // sum of token lengths == length of the text with ALL whitespace
      // stripped (lower/trim don't change counts) — one codegen'd regex
      // pass instead of an interpreted per-element lambda (the same
      // formulation textStats uses; measurably cheaper)
      .withColumn("mean_tok_len", round(
        length(regexp_replace(col("text"), "\\s+", "")).cast("double") /
          greatest(size(col("_tk")), lit(1)), 6))
      // repetition signal via the fused `HashImpl.dup3Frac` kernel: the compositional
      // transform+concat_ws+array_distinct form allocates one gram string
      // per position through interpreted HOF lambdas (measured ~2× slower
      // end to end); the kernel dedups token triples in one pass
      .withColumn("dup3_frac",
        round(graft.functions.HashFunctions.dup3Frac(col("_tk")), 6))
      .withColumn("has_stop",
        when(arrays_overlap(col("_tk"),
          array(Stopwords.map(lit): _*)), lit(1L)).otherwise(lit(0L)))
    metrics
      .withColumn("pass",
        when(col("n_tokens").between(minTokens, maxTokens) &&
          col("mean_tok_len").between(minMeanLen, maxMeanLen) &&
          col("dup3_frac") <= maxDup3 &&
          col("has_stop") === 1L, lit(1L)).otherwise(lit(0L)))
      .drop("_tk")
  }

  /** Per-document TF-IDF top-k terms: tf = in-document term count, idf =
    * ln(N/df) over the corpus. The classic relevance weighting — surfaces
    * what a document is ABOUT, where raw top-terms surfaces what the corpus
    * repeats.
    *
    * Scale shape: explode → (doc, token) partial+final hash agg; df is a
    * second hash agg over the (already tiny) per-doc vocabulary; the corpus
    * size joins in as a broadcast single row; ranking is a per-document
    * window (bounded by the doc's distinct-token count). Ranking compares
    * the ROUNDED score (then token asc): scores that are equal in exact
    * arithmetic can differ in the last ulp between engines when computed
    * through different ln() paths, and ranking on the rounded value keeps
    * the emitted rows and any SQL oracle's rows identical. */
  def tfIdfTopTerms(t: Tables, k: Int = 3): DataFrame = {
    // checkpointed: tf feeds BOTH the scoring join and the df aggregation,
    // and without materialization each branch re-runs the corpus scan +
    // explode + aggregate (plans don't dedup — canonical subtree reuse is
    // defeated by per-branch column pruning, verified with .explain). The
    // window-over-token alternative (df via count() OVER (PARTITION BY
    // token)) needs no second pass but puts every occurrence of a hot
    // token in ONE window partition — Zipfian-corpus skew the two-level
    // aggregate shape here handles with map-side partial aggregation.
    // Executor-local blocks, freed by the ContextCleaner with the result.
    val tf = t.documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    // driver-side corpus count, folded in as a literal: count(*) over
    // parquet reads row-group metadata only (footer statistics), and the
    // literal saves a single-row aggregate + cross-join stage per run —
    // the same bounded-driver-action shape as ivfTopK's sample sizing
    val nDocs = t.documents.count().toDouble
    val scored = tf.join(dfreq, "token")
      .withColumn("tfidf",
        round(col("tf") * log(lit(nDocs) / col("df")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("token").asc)
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("token"), col("tfidf"), col("rk").cast("bigint").as("rk"))
      .orderBy("doc_id", "rk")
  }

  /** Self-trained bigram language-model scoring (the CCNet-style
    * statistical quality signal, public method family): train add-one-
    * smoothed bigram statistics ON THE CORPUS ITSELF, then score each
    * document by its average per-bigram negative log-likelihood —
    * template-like documents score low (predictable), outliers score
    * high. No external model; exact and deterministic, so it
    * hash-verifies against a SQL oracle.
    *
    * Scale shape: bigram extraction is a narrow per-row transform +
    * explode; the count tables are partial+final hash aggregations whose
    * output is vocabulary-bounded (|V| and ≤|V|² rows — Spark/AQE
    * broadcasts them when small, shuffle-joins when a web-scale
    * vocabulary makes them big); the per-document score is one more
    * aggregation. Nothing is quadratic in corpus size. */
  def lmScore(t: Tables): DataFrame = {
    // kernelSpread (r19): the bigram-extraction checkpoint materialized as
    // ONE ~0.6 s task on the single scan split of a sub-split corpus
    val bi = Dedup.kernelSpread(t.documents)
      .withColumn("_tk", tokens(col("text")))
      .filter(size(col("_tk")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("_tk")) - 2),
          i => struct(element_at(col("_tk"), i + 1).as("w1"),
            element_at(col("_tk"), i + 2).as("w2")))).as("_b"))
      .select(col("doc_id"), col("_b.w1").as("w1"), col("_b.w2").as("w2"))
      // the count tables and the per-doc score all read this — one
      // extraction pass, not three (same reuse reasoning as tfIdfTopTerms)
      .localCheckpoint()
    val c2 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy("w1").agg(sum("c2").as("c1"))
    val vocab = bi.select(col("w1")).union(bi.select(col("w2")))
      .distinct().count().toDouble
    bi.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .withColumn("_nll",
        -log((col("c2") + 1).cast("double") / (col("c1") + vocab)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(avg("_nll"), 6).as("avg_nll"))
      .orderBy("doc_id")
  }

  /** KNESER–NEY smoothed bigram LM scoring (Kneser & Ney, ICASSP 1995;
    * interpolated form per Chen & Goodman 1998 — the smoothing KenLM
    * ships, i.e. what CCNet's perplexity filter actually runs, next to
    * [[lmScore]]'s add-one baseline). Absolute discount
    * D = n1/(n1 + 2·n2) from the bigram count-of-counts (the
    * Ney–Essen–Kneser estimate), interpolated with the CONTINUATION
    * unigram — P_cont(w2) ∝ #distinct predecessors of w2 — the
    * correction that makes "francisco" cheap despite raw frequency
    * because it only ever follows "san":
    *
    *   P(w2|w1) = (c(w1,w2) − D)/c(w1)
    *            + (D·N1+(w1,·)/c(w1)) · (N1+(·,w2)/N1+(·,·))
    *
    * Self-scoring means every scored bigram is in-corpus (c2 ≥ 1 > D),
    * so the general form's max(c−D, 0) clamp never binds and P > 0
    * everywhere — no OOV class needed (a cross-corpus scorer would add
    * the unigram-KN backoff chain).
    *
    * Scale shape = [[lmScore]]: one bigram extraction pass, bounded
    * count tables keyed on (w1,w2) / w1 / w2 — N1+(w1,·) rides the c1
    * aggregation as a count(*) in the SAME pass — and a 1-row
    * (D, continuation-total) aggregate broadcast as a crossJoin. Float
    * discipline: the per-bigram probability is ONE expression whose
    * parenthesization the oracle mirrors token-for-token; only ln() is
    * 1-ulp exposed, round-6 per the q_lm_score precedent. */
  def lmScoreKneserNey(t: Tables): DataFrame = {
    // kernelSpread (r19): same single-task bigram-extraction checkpoint
    // as [[lmScore]]
    val bi = Dedup.kernelSpread(t.documents)
      .withColumn("_tk", tokens(col("text")))
      .filter(size(col("_tk")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("_tk")) - 2),
          i => struct(element_at(col("_tk"), i + 1).as("w1"),
            element_at(col("_tk"), i + 2).as("w2")))).as("_b"))
      .select(col("doc_id"), col("_b.w1").as("w1"), col("_b.w2").as("w2"))
      .localCheckpoint()
    val c2 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .localCheckpoint() // c1/cont/discount/score join all read it
    val c1 = c2.groupBy("w1").agg(sum("c2").as("c1"), count(lit(1)).as("nw1"))
    val cont = c2.groupBy("w2").agg(count(lit(1)).as("cont"))
    // Ney–Essen–Kneser discount D = n1/(n1+2n2) is UNDEFINED when the
    // corpus has no singleton/doubleton bigram types at all (n1 = n2 = 0
    // — true of this synthetic corpus at sf0.1: 931 types, every one
    // frequent; the sf0.1 close bench caught the 0/0). The standard
    // guard: fall back to the fixed absolute discount D = 0.5 (any
    // D ∈ (0,1) is valid absolute discounting — the estimate merely
    // optimizes it; with no rare types there is nothing to estimate
    // from). Both engines branch on the identical integer condition.
    val tcd = c2.agg(count(lit(1)).as("tc"),
        sum(when(col("c2") === 1, 1L).otherwise(0L)).as("_n1"),
        sum(when(col("c2") === 2, 1L).otherwise(0L)).as("_n2"))
      .select(col("tc"),
        when(col("_n1") + lit(2) * col("_n2") === 0L, lit(0.5))
          .otherwise(col("_n1").cast("double") /
            (col("_n1") + lit(2) * col("_n2"))).as("d"))
    bi.join(c2, Seq("w1", "w2")).join(c1, Seq("w1")).join(cont, Seq("w2"))
      .crossJoin(broadcast(tcd))
      .withColumn("_nll", -log(
        (col("c2") - col("d")) / col("c1") +
          ((col("d") * col("nw1")) / col("c1")) * (col("cont") / col("tc"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(avg("_nll"), 6).as("avg_nll_kn"))
      .orderBy("doc_id")
  }

  /** The shipped demo blocklist: phrases drawn from the corpus
    * vocabulary, deliberately including a pattern ("scan") that is a
    * proper suffix of others ("slow scan", "row scan") so the automaton's
    * output links are exercised on real data. Every pattern is
    * border-free (cannot overlap itself), so per-pattern AC counts equal
    * the non-overlapping `replace`-count the SQL oracle computes —
    * asserted by the spec, not assumed. */
  val DefaultBlocklist: Seq[String] = Seq(
    "slow scan", "row scan", "hash merge", "sort table", "window table",
    "scan", "spark")

  /** BLOCKLIST SCREEN via Aho–Corasick multi-pattern matching
    * ([[graft.functions.AhoCorasick]]): per document, how many blocklist
    * patterns hit, total occurrences, and the block flag — the content-
    * filter pass (banned phrases / compliance terms) every curation
    * pipeline runs. ONE automaton pass per document regardless of
    * blocklist size — O(len + matches), vs K substring scans for K
    * patterns — and the automaton rides the serialized plan as a codegen
    * reference object, so the kernel stays inside whole-stage codegen
    * with zero per-row setup. Narrow projection, no shuffle, no UDF. */
  def blocklistScreen(t: Tables,
                      patterns: Seq[String] = DefaultBlocklist): DataFrame = {
    t.documents
      .select(col("doc_id"),
        HashFunctions.multiPatternCount(lower(trim(col("text"))), patterns)
          .as("_m"))
      .select(col("doc_id"),
        col("_m.n_patterns_hit").as("n_patterns_hit"),
        col("_m.n_occurrences").as("n_occurrences"),
        when(col("_m.n_occurrences") > 0, 1L).otherwise(0L).as("blocked"))
      .orderBy("doc_id")
  }

  /** VOCABULARY COVERAGE CURVE (the Zipf-coverage companion to the
    * top-terms and OOV rows — "how many types cover X% of all tokens"):
    * every vocabulary type ranked by frequency with its CUMULATIVE share
    * of corpus tokens — the curve that sizes stopword lists (the top
    * handful of types usually covers half the tokens) and tokenizer
    * budgets (where the curve flattens, additional vocab stops paying).
    *
    * Integer-exact: counts are longs, the running sum is a windowed sum
    * over INTEGERS (exact under any re-association — the q_cusum lesson
    * is why the shares divide only at the end), ranked on (count desc,
    * token asc). One vocabulary-bounded aggregation + one
    * vocabulary-sized window. */
  def vocabCoverage(t: Tables): DataFrame = {
    val counts = t.documents
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("token").asc)
    val total = counts.agg(sum(col("n")).as("_tot"))
    counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("_cum", sum(col("n")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("token"), col("n"),
        round(col("_cum").cast("double") / col("_tot"), 6).as("cum_share"))
      .orderBy("rank")
  }

  /** HEAPS'-LAW TYPE GROWTH (Heaps 1978 — V(n) ≈ K·n^β, the sublinear
    * types-vs-corpus-size law) over word-TRIGRAM types: distinct trigram
    * count at ten doc-id-prefix cutoffs, with the fitted β and K — the
    * companion curve to the n-gram novelty row (how fast do NEW types
    * arrive as the corpus grows; β falling toward 0 = saturation, more
    * data buys fewer new types — measured here: β≈0.8 while the corpus
    * is fresh, ≈0.2 once it saturates at 10×). Trigram types rather
    * than unigrams deliberately: this synthetic vocabulary is 31 words
    * (unigram V is constant — a flat curve fits β=0 and measures
    * nothing), while trigram types keep arriving corpus-long, which is
    * also the regime real web corpora live in for any n ≥ 1.
    *
    * The prefix trick that makes this ONE pass instead of ten: a type
    * is in the prefix vocabulary iff its FIRST document (min doc_id) is
    * below the cutoff — so V(cutoff) is a filter-count over the
    * type-bounded first-doc table, never a re-scan. Token and doc
    * counts per prefix are the same shape over the doc-length table.
    * Cutoffs are integer arithmetic ((i·N)/10); the β/K fit is
    * regr_slope/intercept over ln of exact integers, 10 points, round-6
    * (the q_zipf_slope precedent). */
  def heapsLaw(t: Tables, points: Int = 10): DataFrame = {
    val dt = t.documents
      .withColumn("_tk", tokens(col("text")))
      .filter(size(col("_tk")) >= 3)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("_tk")) - 3), i =>
          concat_ws(" ", element_at(col("_tk"), i + 1),
            element_at(col("_tk"), i + 2),
            element_at(col("_tk"), i + 3)))).as("token"))
    val firstDoc = dt.groupBy("token").agg(min(col("doc_id")).as("_fd"))
    val docLen = t.documents
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("_len"))
    val total = t.documents.agg(count(lit(1)).as("_n"))
    val cuts = total.select(explode(sequence(lit(1), lit(points))).as("decile"),
        col("_n"))
      .select(col("decile"),
        floor(col("decile").cast("long") * col("_n") / lit(points.toDouble))
          .cast("long").as("_cut"))
      .localCheckpoint() // both prefix aggregations read it
    val vocab = cuts.join(firstDoc, col("_fd") < col("_cut"))
      .groupBy("decile", "_cut").agg(count(lit(1)).as("vocab_prefix"))
    val toks = cuts.join(docLen, col("doc_id") < col("_cut"))
      .groupBy("decile", "_cut")
      .agg(count(lit(1)).as("n_docs_prefix"), sum(col("_len")).as("n_tokens_prefix"))
    val curve = vocab.join(toks, Seq("decile", "_cut"))
    val fit = curve.agg(
      round(regr_slope(log(col("vocab_prefix")), log(col("n_tokens_prefix"))), 6)
        .as("heaps_beta"),
      round(exp(regr_intercept(log(col("vocab_prefix")),
        log(col("n_tokens_prefix")))), 6).as("heaps_k"))
    curve.crossJoin(broadcast(fit))
      .select(col("decile").cast("long").as("decile"), col("n_docs_prefix"),
        col("n_tokens_prefix"), col("vocab_prefix"),
        col("heaps_beta"), col("heaps_k"))
      .orderBy("decile")
  }

  /** MUTUAL-INFORMATION TERM SELECTION (the information-gain feature
    * selector — Yang & Pedersen 1997's IG, the classic text-
    * classification screen): for the top-`vocab` document-frequency
    * terms, I(T;L) between term PRESENCE (t ∈ {0,1}) and the language
    * label, plus the term's most-over-represented language by lift.
    * The curation read: high-MI terms are the lang-discriminative
    * vocabulary (lang-ID features, contamination tells); near-zero MI
    * terms spread evenly.
    *
    * Float discipline: every probability is a ratio of exact integer
    * counts; products and divisions are IEEE-exact for identical
    * operands, so the lift argmax cannot drift cross-engine — only the
    * ln() terms are libm-vs-JVM 1-ulp exposed, handled by the suite's
    * round-6 precedent (q_lm_score). The 2·|langs| MI cells fold in a
    * FIXED order (lang ascending, absent-cell then present-cell); empty
    * cells contribute exactly 0 in both engines (the x·ln x → 0 limit),
    * guarded identically.
    *
    * Scale shape: (doc, distinct-term) explode → vocabulary-bounded df
    * aggregation; the top-V cut sorts only the vocabulary; the
    * (token × lang) grid is V·|langs| rows with the label marginals
    * broadcast. The corpus never shuffles on more than (token, lang)
    * keys. */
  def miTerms(t: Tables, vocab: Int = 200): DataFrame = {
    val dt = t.documents
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(tokens(col("text")))).as("token"))
      .localCheckpoint() // df cut + per-lang counts both read it
    val topV = dt.groupBy("token").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token").asc).limit(vocab)
    val nl = t.documents.groupBy("lang").agg(count(lit(1)).as("nl"))
    val nTotal = t.documents.agg(count(lit(1)).as("n")).
      select(col("n")).as("g")
    val n1 = dt.join(topV.select("token"), Seq("token"), "left_semi")
      .groupBy("token", "lang").agg(count(lit(1)).as("n1"))
    val grid = topV.crossJoin(broadcast(nl))
      .join(n1, Seq("token", "lang"), "left")
      .withColumn("n1", coalesce(col("n1"), lit(0L)))
      .crossJoin(broadcast(nTotal))
    // one struct per lang, folded in lang-ascending order; each struct
    // contributes its absent cell (n0 = nl − n1, marginal N − df) then
    // its present cell (n1, marginal df)
    val cells = grid.groupBy("token", "df", "n")
      .agg(array_sort(collect_list(struct(col("lang"), col("nl"), col("n1"))))
        .as("_cells"))
    def term(cnt: Column, nt: Column, nlc: Column, n: Column): Column =
      when(cnt > 0,
        (cnt.cast("double") / n) *
          log(cnt.cast("double") * n / (nt.cast("double") * nlc)))
        .otherwise(0.0)
    val mi = cells.withColumn("mi", round(
      aggregate(col("_cells"), lit(0.0), (acc, c) => {
        val nlc = c.getField("nl"); val c1 = c.getField("n1")
        // acc + (absent + present): the parenthesization matches the
        // oracle's per-lang element sum — float addition re-associates
        acc + (term(nlc - c1, col("n") - col("df"), nlc, col("n")) +
          term(c1, col("df"), nlc, col("n")))
      }), 6))
    val lift = grid.withColumn("_lift",
      (col("n1").cast("double") / col("nl")) / (col("df").cast("double") / col("n")))
      .withColumn("_rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("token"))
          .orderBy(col("_lift").desc, col("lang").asc)))
      .filter(col("_rk") === 1)
      .select(col("token"), col("lang").as("best_lang"),
        round(col("_lift"), 6).as("best_lift"))
    mi.join(lift, Seq("token"))
      .select(col("token"), col("df"), col("mi"), col("best_lang"),
        col("best_lift"))
      .orderBy("token")
  }

  /** CCNet-style perplexity BUCKETING (Wenzek et al. 2020, public
    * method): each language's documents split into head / middle / tail
    * thirds by the self-trained LM score ([[lmScore]]'s avg per-bigram
    * NLL — CCNet uses a KenLM perplexity; the partition logic is
    * identical). Head is the most-predictable third (cleanest prose
    * under the model), tail the least; pipelines keep head+middle or
    * sample tail at a reduced rate. Emits the per-document assignment —
    * the actual partition downstream filters on.
    *
    * Determinism discipline (the cross-engine float trap this suite
    * documents): the thirds are cut by `ntile(3)` ordered on the ROUNDED
    * score + doc_id — the rounded values are the ones the q_lm_score
    * oracle already hash-matches, so the ordering (and therefore the
    * cut) cannot 1-ulp-flip between engines. Scale note: the ntile
    * window puts EACH LANGUAGE in one partition (a 10B-doc language
    * sorts on one task) — this form is the exact SPEC WITNESS;
    * [[ccnetBucketsThreshold]] is the shipped operating mode, equal by
    * construction (spec-pinned) without ever holding a language in one
    * partition. */
  def ccnetBuckets(t: Tables): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("avg_nll").asc, col("doc_id").asc)
    lmScore(t)
      .join(t.documents.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .withColumn("_nt", ntile(3).over(w))
      .select(col("doc_id"), col("lang"), col("avg_nll"),
        when(col("_nt") === 1, "head")
          .when(col("_nt") === 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  /** The SCALE operating mode of [[ccnetBuckets]] — r13 verdict item 7:
    * the ntile plan was the shipped plan, with the threshold swap only a
    * scaladoc note. This form never sorts a whole language in one
    * partition: the per-language tertile CUT ROWS are found by
    * rank-addressed selection (the [[Analytics.quantilesBySort]]
    * machinery at integer ranks — one `repartitionByRange` over the slim
    * (lang, score, doc_id) table, partition-local sorts that spread each
    * language across many partitions, a per-(partition, lang) count pass,
    * and a fetch that touches only the addressed partitions), then every
    * document bands MAP-SIDE against its language's broadcast cuts.
    *
    * EXACT, not approximate — and that is the point of cutting at the
    * boundary PAIR (avg_nll, doc_id) rather than a value threshold: ntile
    * orders by (rounded score, doc_id), a total order, so "rank ≤ s1" is
    * exactly "(v, id) lexicographically ≤ the rank-s1 row" even when
    * rounded scores TIE at the boundary (a pure value cut would dump all
    * ties into the lower band and drift from ntile by up to the tie-run
    * length; the q_decile_bands percentile-sketch swap has the same
    * boundary blur PLUS rank error). Spec pins this row-identical to the
    * ntile witness on the corpus AND on a deliberately tie-heavy fixture.
    * Driver state: partitions × languages counters + 2 cut rows per
    * language — never data-sized. */
  def ccnetBucketsThreshold(t: Tables, nParts: Int = 32): DataFrame =
    tertileBandThreshold(
      lmScore(t)
        .join(t.documents.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .localCheckpoint(), // the cut passes and the banding scan share it
      nParts)

  /** The rank-addressed banding core over a (doc_id, lang, avg_nll)
    * frame — split out so the spec can drive it with a tie-heavy
    * synthetic score table (boundary ties are where a naive value
    * threshold would drift from ntile; the pair cut must not). */
  private[graft] def tertileBandThreshold(scored: DataFrame,
                                          nParts: Int = 32): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    // ntile(3) tile sizes: the first (n mod 3) tiles get ceil(n/3) rows
    def tileBounds(n: Long): (Long, Long) = {
      val q = n / 3; val r = n % 3
      (q + (if (r >= 1) 1L else 0L), 2 * q + math.min(r, 2L))
    }
    val sorted = scored.select(col("lang"), col("avg_nll"), col("doc_id"))
      .repartitionByRange(nParts, col("lang"), col("avg_nll"), col("doc_id"))
      .sortWithinPartitions("lang", "avg_nll", "doc_id")
      .rdd
    // pass 1: per-(partition, lang) counts — partitions × languages rows
    val counts = sorted.mapPartitionsWithIndex { (pid, it) =>
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      it.foreach { r =>
        val g = r.getString(0); m.update(g, m.getOrElse(g, 0L) + 1L)
      }
      m.iterator.map { case (g, c) => (pid, g, c) }
    }.collect()
    val totals = counts.groupBy(_._2).map { case (g, cs) => g -> cs.map(_._3).sum }
    def address(g: String, rank0: Long): (Int, Long) = {
      var cum = 0L
      counts.filter(_._2 == g).sortBy(_._1).collectFirst {
        case (pid, _, c) if { val in = rank0 < cum + c; if (!in) cum += c; in } =>
          (pid, rank0 - cum)
      }.getOrElse(throw new IllegalStateException(
        s"ccnetBucketsThreshold: rank $rank0 out of range for language $g"))
    }
    val wanted = totals.toSeq.flatMap { case (g, n) =>
      val (s1, s2) = tileBounds(n)
      Seq((g, s1), (g, s2)).distinct.map { case (gg, r) => (gg, r, address(gg, r - 1)) }
    }
    val byPid = wanted.groupBy(_._3._1)
      .map { case (pid, ws) => pid -> ws.map(w => (w._1, w._3._2)).toSet }
    val byPidB = spark.sparkContext.broadcast(byPid)
    // pass 2: fetch only the addressed partitions / offsets (shares pass
    // 1's shuffle files — the map stage is skipped)
    val picked = sorted.mapPartitionsWithIndex { (pid, it) =>
      byPidB.value.get(pid) match {
        case None => Iterator.empty
        case Some(want) =>
          val ctr = scala.collection.mutable.HashMap.empty[String, Long]
          it.flatMap { r =>
            val g = r.getString(0)
            val i = ctr.getOrElse(g, 0L); ctr.update(g, i + 1L)
            if (want.contains((g, i))) Some((pid, g, i, r.getDouble(1), r.getLong(2)))
            else None
          }
      }
    }.collect().map { case (pid, g, i, v, id) => (pid, g, i) -> ((v, id)) }.toMap
    val cutRows = totals.toSeq.sorted.map { case (g, n) =>
      val (s1, s2) = tileBounds(n)
      val (v1, i1) = picked((address(g, s1 - 1)._1, g, address(g, s1 - 1)._2))
      val (v2, i2) = picked((address(g, s2 - 1)._1, g, address(g, s2 - 1)._2))
      (g, v1, i1, v2, i2)
    }
    val cutDf = cutRows.toDF("lang", "_v1", "_i1", "_v2", "_i2")
    def le(v: org.apache.spark.sql.Column, id: org.apache.spark.sql.Column) =
      col("avg_nll") < v || (col("avg_nll") === v && col("doc_id") <= id)
    scored.join(broadcast(cutDf), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("avg_nll"),
        when(le(col("_v1"), col("_i1")), "head")
          .when(le(col("_v2"), col("_i2")), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  /** Unicode NFC normalization report — the text-hygiene pass that makes
    * visually-identical strings byte-identical BEFORE any hash-based
    * dedup ("e"+combining-acute and "é" are one character to a reader
    * and two different md5s to the exact-dedup pass; U+212B ANGSTROM
    * collapses to U+00C5). The corpus is ASCII, so each row APPENDS a
    * decomposed suffix executor-side and the oracle synthesizes the same
    * string — the md5 hash match proves the [[graft.functions.HashImpl.nfcNormalize]]
    * kernel (java.text.Normalizer, the JDK's UAX #15 implementation)
    * agrees byte-for-byte with DuckDB's utf8proc `nfc_normalize`. Narrow
    * codegen'd projection, no shuffle. */
  def nfcReport(t: Tables): DataFrame = {
    val raw = concat(substring(col("text"), 1, 8), lit("e\u0301\u212B"))
    t.documents.select(
      col("doc_id"),
      length(raw).as("len_raw"),
      length(HashFunctions.nfcNormalize(raw)).as("len_nfc"),
      md5(HashFunctions.nfcNormalize(raw)).as("nfc_md5"))
      .orderBy("doc_id")
  }

  /** Top-bigram character coverage — the Gopher repetition family's
    * "fraction of characters in the most common n-gram" signal (Rae et
    * al. 2021), complementing [[gopherMetrics]]'s duplicate-trigram
    * fraction: a doc whose single best bigram covers most of its
    * characters is boilerplate even when its trigram diversity looks
    * fine. Coverage = occurrences × bigram chars / text chars (an upper
    * bound under overlaps — occurrences can share a token; documented,
    * mirrored exactly in the oracle). The top bigram ties break
    * lexicographically so both engines pick the same one. Docs with
    * fewer than two tokens have no bigram and emit no row.
    *
    * Scale shape: a per-DOCUMENT signal needs NO corpus-wide bigram
    * shuffle — the fused [[graft.functions.HashImpl.topBigram]] kernel
    * counts a document's bigrams in one pass over its own token array
    * (doc-bounded hash map, codegen'd, identical count-desc /
    * binary-ascending tie-break) and the whole query is a narrow
    * projection; only the final ORDER BY exchanges anything. The
    * explode → (doc, bigram) aggregate → per-doc window formulation this
    * replaces shuffled every bigram occurrence in the corpus to compute
    * a value each document already had locally (spec-pinned equal). */
  def topBigramCoverage(t: Tables): DataFrame =
    t.documents
      .withColumn("_tk", tokens(col("text")))
      .filter(size(col("_tk")) >= 2)
      .select(col("doc_id"), length(col("text")).as("n_chars"),
        graft.functions.HashFunctions.topBigram(col("_tk")).as("_b"))
      .select(col("doc_id"),
        concat(col("_b.w1"), lit(" "), col("_b.w2")).as("top_bigram"),
        col("_b.n_occ").as("n_occ"),
        round(col("_b.n_occ") * (length(col("_b.w1")) + length(col("_b.w2")) + 1)
          .cast("double") / greatest(col("n_chars"), lit(1)), 6)
          .as("coverage"))
      .orderBy("doc_id")

  /** PII patterns (public, deliberately simple shapes — RE2-compatible so
    * a DuckDB oracle can run the same regex): emails, IPv4 addresses, and
    * phone-like digit runs with separators. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"
  val PhonePattern = "\\+?\\d[\\d\\s().-]{7,}\\d"

  /** PII redaction — the scrubbing pass of a training-data pipeline:
    * replace emails, IPv4 addresses, and phone-like sequences with typed
    * placeholders, and count what was redacted. Sequential passes in a
    * fixed order (email → IP → phone) because the pattern languages
    * overlap — an IPv4 is also a digits-with-separators run, so IPs must
    * leave the text before the phone pass sees it; each count is taken on
    * that pass's own input. Pure narrow projection, no shuffle. */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val afterEmail = regexp_replace(col(textCol), EmailPattern, "<EMAIL>")
    val afterIp = regexp_replace(col("_re"), Ipv4Pattern, "<IP>")
    val afterPhone = regexp_replace(col("_ri"), PhonePattern, "<PHONE>")
    docs
      .withColumn("_ne", size(regexp_extract_all(col(textCol), lit(EmailPattern), lit(0))))
      .withColumn("_re", afterEmail)
      .withColumn("_ni", size(regexp_extract_all(col("_re"), lit(Ipv4Pattern), lit(0))))
      .withColumn("_ri", afterIp)
      .withColumn("_np", size(regexp_extract_all(col("_ri"), lit(PhonePattern), lit(0))))
      .withColumn("text_redacted", afterPhone)
      .withColumn("n_redactions",
        (col("_ne") + col("_ni") + col("_np")).cast("bigint"))
      .drop("_ne", "_re", "_ni", "_ri", "_np")
  }

  /** Driver-facing PII query: redaction counts over `documents`. The
    * synthetic corpus contains no PII, so the interesting assertion is the
    * differential one — Spark and the SQL oracle must agree the count is
    * zero for the SAME regexes; the positive behavior (real emails/IPs/
    * phones get typed placeholders) is spec-tested on a fixture
    * (TextAnalysisSpec). */
  def piiCounts(t: Tables): DataFrame =
    redactPii(t.documents)
      .select(col("doc_id"), col("n_redactions"))
      .orderBy("doc_id")

  /** Vocabulary build + out-of-vocabulary rate — the coverage check run
    * before committing to a tokenizer/vocab size: the top-`vocabSize`
    * corpus tokens by frequency (count DESC, token ASC — a deterministic
    * boundary) form the vocabulary; each document is then scored by the
    * fraction of its token INSTANCES falling outside it. Two aggregations
    * plus one broadcast-sized join (the vocabulary is vocabSize rows by
    * construction — broadcast-safe at any corpus size); documents with
    * zero tokens have no coverage to report and are absent, as in
    * [[textStats]]' token-free caveat. */
  def vocabOov(t: Tables, vocabSize: Int = 16): DataFrame = {
    val toks = t.documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
    // top-V boundary via orderBy+limit, which plans as TakeOrderedAndProject:
    // per-partition bounded heaps reduce to one V-row merge, so the unigram
    // table — web-scale: every typo and URL in the crawl — never funnels
    // through a single-partition Window (spec-asserted plan shape)
    val vocab = toks.groupBy("w").agg(count(lit(1)).as("n_w"))
      .orderBy(col("n_w").desc, col("w").asc)
      .limit(vocabSize)
      .select(col("w"), lit(1).as("_in_vocab"))
    toks.join(broadcast(vocab), Seq("w"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        (count(lit(1)) - count(col("_in_vocab"))).as("n_oov"))
      .withColumn("oov_frac",
        round(col("n_oov").cast("double") / col("n_tokens"), 6))
      .orderBy("doc_id")
  }

  /** OOV-rate curve over candidate vocabulary sizes — the tokenizer-sizing
    * sweep run before committing to a vocab: for each V in `sizes`, the
    * fraction of corpus token INSTANCES falling outside the top-V
    * vocabulary (count DESC, token ASC — [[vocabOov]]'s deterministic
    * boundary). The whole curve costs ONE corpus scan: every size is
    * answered from the unigram count table, the top-max(V) boundary plans
    * as TakeOrderedAndProject (per-partition heaps — the web-scale unigram
    * table never funnels through a global Window), and the row_number
    * runs over the already-truncated max(V)-row result, a
    * bounded-by-construction single partition. */
  def oovCurve(t: Tables, sizes: Seq[Int] = Seq(8, 16, 32, 64, 128)): DataFrame = {
    val maxV = sizes.max
    val counts = t.documents
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n_w"))
    val total = counts.agg(sum("n_w").as("_n"))
    val wRank = Window.orderBy(col("n_w").desc, col("w").asc)
    val top = counts.orderBy(col("n_w").desc, col("w").asc).limit(maxV)
      .withColumn("rk", row_number().over(wRank))
    top.select(col("n_w"), col("rk"),
        explode(array(sizes.map(lit): _*)).as("vocab_size"))
      .filter(col("rk") <= col("vocab_size"))
      .groupBy("vocab_size").agg(sum("n_w").as("in_vocab"))
      .crossJoin(broadcast(total))
      .select(col("vocab_size"), col("in_vocab"),
        round(lit(1.0) - col("in_vocab").cast("double") / col("_n"), 6).as("oov_rate"))
      .orderBy("vocab_size")
  }

  /** Top bigram collocations by pointwise mutual information:
    * PMI(a,b) = ln( p(ab) / (p(a)·p(b)) ) with p from corpus counts. The
    * bigram stream is built map-side by zipping each token array with its
    * tail (no self-join, no shuffle before the count aggregations); both
    * count tables are vocabulary-bounded, but a web-scale vocabulary
    * (URLs, typos) can exceed broadcast limits, so the unigram joins are
    * deliberately UNHINTED — AQE broadcasts them while they fit and falls
    * back to shuffle joins when they don't. minCount keeps the classic
    * low-frequency PMI explosion out (a 2-count pair of rare words
    * dominates otherwise).
    *
    * Ranking runs on the PMI-monotone count RATIO n_ab·N₁²/(N₂·n_a·n_b)
    * computed with IEEE-exact ops only (integer-valued doubles through ×
    * and ÷, identical operation order in the SQL oracle) — ln() is the
    * one libm-vs-JVM-divergent op, and ranking on its rounded output made
    * the top-k boundary 1-ulp-fragile. The emitted `pmi` column still
    * carries round(ln(ratio), 4) as the human-readable payload. Ties
    * break lexicographically — deterministic top-k. */
  def pmiBigrams(t: Tables, minCount: Long = 10, topK: Int = 30): DataFrame = {
    val tk = tokens(col("text"))
    val docs = t.documents
      .select(tk.as("_tk"))
      .filter(size(col("_tk")) >= 2)
    val bigrams = docs.select(explode(zip_with(
      slice(col("_tk"), lit(1), size(col("_tk")) - 1),
      slice(col("_tk"), lit(2), size(col("_tk")) - 1),
      (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bigramCounts = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
    val unigrams = t.documents
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n_w"))
    // 1-row aggregates: hint them broadcast for plan stability (Spark
    // would almost certainly BNLJ a 1-row side anyway; the hint makes the
    // plan deterministic and matches the sibling Analytics call sites)
    val totals = bigramCounts.agg(sum("n_ab").as("_n2"))
      .crossJoin(broadcast(unigrams.agg(sum("n_w").as("_n1"))))
    // left-assoc × chains, double from the first factor: the exact op
    // sequence the oracle SQL mirrors
    val ratio = col("n_ab").cast("double") * col("_n1") * col("_n1") /
      (col("_n2").cast("double") * col("n_a") * col("n_b"))
    bigramCounts
      .filter(col("n_ab") >= minCount)
      .join(unigrams.select(col("w").as("w1"), col("n_w").as("n_a")), Seq("w1"))
      .join(unigrams.select(col("w").as("w2"), col("n_w").as("n_b")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("n_ab"), ratio.as("_r"),
        round(log(ratio), 4).as("pmi"))
      .orderBy(col("_r").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
      .drop("_r")
  }

  /** Per-source longest document via `max_by` over a composite key
    * (n_chars then doc_id, folded into one integer so the winner is
    * deterministic under ties — bare `max_by`'s tie choice is
    * engine-arbitrary). One partial+final aggregation, source-cardinality
    * output, no window and no sort of the corpus. */
  def longestDocPerSource(t: Tables): DataFrame = {
    // n_chars ≤ ~1e7 per doc, doc_id < 1e8: the fold is collision-free
    val key = col("n_chars") * lit(100000000L) + col("doc_id")
    t.documents
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        max("n_chars").as("max_chars"),
        max_by(col("doc_id"), key).as("longest_doc_id"))
      .orderBy("source")
  }

  /** Zipf slope per source: regress ln(frequency) on ln(rank) over each
    * source's top-`topV` terms (rank ties broken by term so both engines
    * rank identically). The term-count aggregation is partial+final; the
    * per-source ranking windows run on vocabulary-sized data, never the
    * corpus; `regr_slope` is a distributive moment aggregate. A natural-
    * language corpus slope sits near -1 (Zipf's law) — a strong deviation
    * flags templated or synthetic text. */
  def zipfSlope(t: Tables, topV: Int = 100): DataFrame = {
    val counts = t.documents
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n").desc, col("w").asc)
    counts.withColumn("_rank", row_number().over(w))
      .filter(col("_rank") <= topV)
      .groupBy("source")
      .agg(count(lit(1)).as("n_terms"),
        round(expr("regr_slope(ln(n), ln(_rank))"), 6).as("zipf_slope"))
      .orderBy("source")
  }

  /** BPE-style pre-tokenization statistics: a GPT-2-like pretokenizer
    * regex (space-prefixed letter runs / digit runs / punctuation runs —
    * simplified to the lookahead-free subset both JVM regex and RE2
    * support identically) counted per document, next to the whitespace
    * token count and the bytes-per-token compression proxy. Pure narrow
    * projection — one scan, no shuffle beyond the output sort; the
    * regex runs codegen'd via `regexp_extract_all`. */
  def bpeTokenStats(t: Tables): DataFrame = {
    // backslash-free on purpose: the same literal runs under JVM regex and
    // DuckDB's RE2 with identical semantics, so the oracle needs no
    // escape-translation layer
    val bpe = size(expr(
      "regexp_extract_all(lower(trim(text)), ' ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+', 0)"))
    t.documents
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
        bpe.cast("long").as("n_bpe_tokens"),
        round(col("n_chars").cast("double") /
          greatest(bpe, lit(1)).cast("double"), 6).as("chars_per_token"))
      .orderBy("doc_id")
  }

  /** Per-document token (Shannon) entropy — low entropy flags repetitive /
    * templated text, high entropy flags noise; a standard quality signal
    * next to [[gopherMetrics]]' dup3_frac. Computed as ln(n) − Σc·ln(c)/n
    * from per-doc token counts: one explode → (doc, token)-keyed
    * partial+final count → doc-keyed sum. Both shuffles are keyed by doc
    * (and doc+token), so the reduce state is bounded by per-doc vocabulary
    * — never corpus vocabulary. ln() is libm-vs-JVM 1-ulp divergent; the
    * round-6 payload follows the accepted q_lm_score precedent. */
  def tokenEntropy(t: Tables): DataFrame = {
    val counts = t.documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("_c"))
    counts.groupBy("doc_id")
      .agg(sum("_c").as("n_tokens"),
        sum(col("_c").cast("double") * log(col("_c"))).as("_clnc"))
      .select(col("doc_id"), col("n_tokens"),
        round(log(col("n_tokens")) - col("_clnc") / col("n_tokens"), 6)
          .as("entropy"))
      .orderBy("doc_id")
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling" — public algorithm): score
    * every document by the log-likelihood ratio of its tokens under a
    * TARGET unigram distribution (here: the documents of one source,
    * standing in for "high-quality domain data") versus the full-corpus
    * distribution, with add-one smoothing over the joint vocabulary.
    * Documents that look like the target get positive weights; importance
    * resampling on these weights is the standard pretraining data-selection
    * step this operator feeds.
    *
    * Scale shape: ONE corpus token scan builds the token-cardinality
    * (corpus count, target count) table via conditional aggregation — the
    * target model is NOT a second scan. The scalar normalizers (token
    * totals + vocab size) fold in as a 1-row broadcast, and the resulting
    * per-token log-ratio table is eagerly checkpointed (token-type
    * cardinality — vocabulary-bounded, far below corpus size). The second
    * and only other corpus scan joins tokens to ratios (AQE broadcasts the
    * vocabulary side when it fits; otherwise a token-keyed shuffle join)
    * and sums per document — per-doc state is one double. ln() is
    * libm-vs-JVM 1-ulp divergent; round-6 follows the q_lm_score
    * precedent. */
  def importanceWeights(t: Tables, targetSource: String = "src0"): DataFrame = {
    val toks = t.documents
      .select(col("doc_id"), col("source"), explode(tokens(col("text"))).as("w"))
    val stats = toks
      .groupBy("w")
      .agg(count(lit(1)).as("_cc"),
        sum(when(col("source") === targetSource, 1L).otherwise(0L)).as("_ct"))
    val norms = stats.agg(
      sum("_cc").as("_nc"), sum("_ct").as("_nt"), count(lit(1)).as("_v"))
    val ratios = stats.crossJoin(broadcast(norms))
      .select(col("w"),
        (log((col("_ct") + 1.0) / (col("_nt") + col("_v"))) -
          log((col("_cc") + 1.0) / (col("_nc") + col("_v")))).as("_r"))
      .localCheckpoint() // vocabulary-cardinality; shared ratio model
    toks.join(ratios, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), round(sum("_r"), 6).as("log_weight"))
      .orderBy("doc_id")
  }

  /** Trainable quality classifier — logistic regression by FIXED-ITERATION
    * batch gradient descent, entirely in DataFrame aggregations (the
    * classic LM-data quality-filter shape: score every document by a tiny
    * model trained to recognize a trusted "positive domain", here one
    * source as weak supervision — the same target [[importanceWeights]]
    * reweights toward). Features are deterministic token statistics
    * (log-length, mean token length, type-token ratio), z-standardized by
    * corpus moments.
    *
    * Scale shape: the standardized feature table (doc-cardinality, four
    * doubles per row) is checkpointed ONCE; each of the `iters` gradient
    * steps is then a single partial+final aggregation producing a 4-double
    * gradient on the driver — the only driver state is the weight vector,
    * and nothing corpus-sized moves after the checkpoint. Scoring is one
    * narrow pass over the checkpoint. Fixed iterations keep the result
    * deterministic and SQL-replayable (the oracle re-derives the training
    * loop as a materialized CTE chain, pattern: q_ann_ivf / q_embed_pca).
    * exp() is libm-vs-JVM 1-ulp divergent; round-6 follows the q_lm_score
    * precedent. */
  def qualityModel(t: Tables, targetSource: String = "src0",
                   iters: Int = 5, lr: Double = 1.0): DataFrame = {
    val perDoc = t.documents
      .select(col("doc_id"), col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("_n"),
        avg(length(col("w"))).as("_alen"),
        countDistinct(col("w")).as("_nd"))
      .select(col("doc_id"),
        when(col("source") === targetSource, 1.0).otherwise(0.0).as("y"),
        log(lit(1.0) + col("_n")).as("f1"),
        col("_alen").as("f2"),
        (col("_nd").cast("double") / col("_n")).as("f3"))
      .localCheckpoint() // doc-cardinality; serves the moments AND the features
    val stats = perDoc.agg(
      avg("f1").as("m1"), stddev_pop("f1").as("s1"),
      avg("f2").as("m2"), stddev_pop("f2").as("s2"),
      avg("f3").as("m3"), stddev_pop("f3").as("s3"),
      count(lit(1)).as("_cnt"))
    def z(f: String, m: String, s: String) =
      (col(f) - col(m)) / when(col(s) === 0.0, 1.0).otherwise(col(s))
    val statsRow = stats.head()
    val cnt = statsRow.getLong(statsRow.fieldIndex("_cnt")).toDouble
    val feat = perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("y"), lit(1.0).as("x0"),
        z("f1", "m1", "s1").as("x1"),
        z("f2", "m2", "s2").as("x2"),
        z("f3", "m3", "s3").as("x3"))
      .localCheckpoint()
    var w = Array(0.0, 0.0, 0.0, 0.0)
    def zExpr: Column = // left-assoc add chain, mirrored textually in the oracle
      col("x0") * w(0) + col("x1") * w(1) + col("x2") * w(2) + col("x3") * w(3)
    for (_ <- 1 to iters) {
      val p = lit(1.0) / (lit(1.0) + exp(-zExpr))
      val g = feat.agg(
        sum((col("y") - p) * col("x0")).as("g0"),
        sum((col("y") - p) * col("x1")).as("g1"),
        sum((col("y") - p) * col("x2")).as("g2"),
        sum((col("y") - p) * col("x3")).as("g3")).head()
      w = Array.tabulate(4)(i => w(i) + lr * g.getDouble(i) / cnt)
    }
    feat.select(col("doc_id"), col("y").cast("int").as("label"),
        round(lit(1.0) / (lit(1.0) + exp(-zExpr)), 6).as("score"))
      .orderBy("doc_id")
  }

  /** CALIBRATION / RELIABILITY report for the trained quality classifier
    * ([[qualityModel]]'s scores): predicted-probability deciles vs the
    * observed positive rate per bin, plus the per-bin Brier contribution
    * — the standard check before a score thresholds a corpus (a model
    * can rank well and still be MIScalibrated: bin 0.9 containing 40%
    * positives means "keep score>0.9" keeps junk at 60%).
    *
    * Float discipline: bins cut on the ROUNDED 6-dp scores (the values
    * the q_quality_model oracle hash-matches — floor(score·10) cannot
    * drift); per-bin means and Brier sums run over the e6-INTEGERIZED
    * scores, so every sum is exact under any aggregation order and only
    * the final per-bin ratios round. Scale: one (bin)-key aggregation
    * over doc-cardinality rows — nothing else. */
  def qualityCalibration(t: Tables): DataFrame = {
    val y6 = col("label").cast("long") * lit(1000000L)
    qualityModel(t)
      .withColumn("bin", least(floor(col("score") * 10), lit(9L)))
      .withColumn("_si", round(col("score") * 1000000, 0).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_si")).as("_ss"),
        sum(col("label").cast("long")).as("_np"),
        sum((col("_si") - y6) * (col("_si") - y6)).as("_sq"))
      .select(col("bin"), col("n_docs"),
        round(col("_ss").cast("double") /
          (col("n_docs").cast("double") * lit(1000000.0)), 6).as("mean_score"),
        round(col("_np").cast("double") / col("n_docs"), 6).as("frac_pos"),
        round(col("_sq").cast("double") /
          (col("n_docs").cast("double") * lit(1000000000000.0)), 6).as("brier"))
      .orderBy("bin")
  }

  /** Exact ROC-AUC for the trained quality classifier (row 135's scores)
    * — the threshold-free discrimination metric next to
    * [[qualityCalibration]]'s reliability report (a classifier can be
    * well-calibrated and useless, or sharp and miscalibrated; a corpus
    * filter wants both numbers). Computed by the rank-sum identity
    * AUC = P(s⁺ > s⁻) + ½P(s⁺ = s⁻) — equal to the Mann–Whitney U
    * normalization with midrank tie handling.
    *
    * Scale shape — NO global rank window (the textbook rank-sum sorts
    * the corpus in one partition): scores collapse to a SCORE-LEVEL
    * table (bounded by distinct rounded scores, never corpus size; the
    * hash-stable ROUNDED score is the tie domain, the q_pmi_bigrams
    * lesson), one cumulative window over those levels counts negatives
    * below each level, and the numerator Σ p·(2·n_below + n_at) is
    * ALL-INTEGER — the only float in the query is the final division
    * (exact rational, round-6). Emits one row: class sizes, AUC, Gini. */
  def qualityAuc(t: Tables): DataFrame = {
    val sc = qualityModel(t)
      .select(col("score"), col("label").cast("long").as("_y"))
    val lv = sc.groupBy("score")
      .agg(sum(when(col("_y") === 1L, 1L).otherwise(0L)).as("p"),
        sum(when(col("_y") === 0L, 1L).otherwise(0L)).as("n"))
    val below = coalesce(
      sum("n").over(org.apache.spark.sql.expressions.Window
        .orderBy("score").rowsBetween(Window.unboundedPreceding, -1)),
      lit(0L))
    lv.withColumn("_nb", below)
      .agg(sum("p").as("n_pos"), sum("n").as("n_neg"),
        sum(col("p") * (lit(2L) * col("_nb") + col("n"))).as("_num2"))
      .select(col("n_pos"), col("n_neg"),
        round(col("_num2").cast("double") /
          (lit(2.0) * col("n_pos") * col("n_neg")), 6).as("auc"),
        round(col("_num2").cast("double") /
          (col("n_pos") * col("n_neg")).cast("double") - 1.0, 6).as("gini"))
  }

  /** TF-IDF cosine text retrieval over an INVERTED INDEX — the classic
    * sparse-vector IR ranking next to the dense-embedding ANN rows and
    * the minhash [[graft.operators.Dedup.textSimSearch]]: score = cosine
    * of tf·(ln((N+1)/(df+1))+1) weight vectors, computed as a token-keyed
    * join (the inverted index), never a dense dot product.
    *
    * Scale shape: the (doc, token) tf table is checkpointed once (it
    * feeds document frequencies, norms, and both join sides); the query
    * side is bounded by contract and broadcast, so candidates per query
    * are postings-list-bounded — only documents sharing a term are ever
    * scored. Ranking runs on the ROUNDED cosine (round-6) with an id
    * tie-break: near-duplicate corpus documents produce cosines equal at
    * 6 decimals, and ranking on the rounded value makes the boundary
    * engine-exact instead of last-ulp-fragile (the q_pmi_bigrams
    * lesson). */
  def tfidfSearch(t: Tables, nQueries: Long = 10, topK: Int = 5): DataFrame = {
    val tf = t.documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("_tf"))
      .localCheckpoint()
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("_df"))
    val nDocs = tf.agg(countDistinct(col("doc_id")).as("_n"))
    val wts = tf.join(dfreq, "w").crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("w"),
        (col("_tf") * (log((col("_n") + 1.0) / (col("_df") + 1.0)) + 1.0)).as("_wt"))
    val norms = wts.groupBy("doc_id").agg(sqrt(sum(col("_wt") * col("_wt"))).as("_nrm"))
    val qw = wts.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("w"), col("_wt").as("_qwt"))
    val dots = wts.join(broadcast(qw), Seq("w"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("_wt") * col("_qwt")).as("_dot"))
    val rank = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    dots
      .join(norms.select(col("doc_id").as("query_id"), col("_nrm").as("_qnrm")),
        "query_id")
      .join(norms, "doc_id")
      .select(col("query_id"), col("doc_id").as("neighbor_id"),
        round(col("_dot") / (col("_qnrm") * col("_nrm")), 6).as("cosine"))
      .withColumn("rn", row_number().over(rank))
      .filter(col("rn") <= topK)
      .select("query_id", "neighbor_id", "cosine")
      .orderBy("query_id", "neighbor_id")
  }

  /** BM25 retrieval (Robertson–Spärck Jones lineage, the IR default) over
    * the same inverted-index shape as [[tfidfSearch]]: per shared term,
    * idf(w) · tf·(k1+1) / (tf + k1·(1−b+b·len/avgLen)) with the
    * positive-idf form ln((N−df+0.5)/(df+0.5)+1); query terms are the
    * DISTINCT tokens of the bounded query documents. Candidates are
    * postings-list-bounded; the length-normalization statistics are a
    * doc-cardinality aggregate plus a broadcast 1-row corpus mean.
    * Ranking runs on the ROUNDED score (round-6, id tie-break) for the
    * same near-duplicate determinism reason as [[tfidfSearch]]. */
  def bm25Search(t: Tables, nQueries: Long = 10, topK: Int = 5,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // kernelSpread (r20): the tokenize+explode tf build ran as ONE task on
    // the single corpus scan split (~0.45 s serial inside every consumer of
    // this lineage — bm25Search feeds q_bm25_search, q_hybrid_search, and
    // q_rbo); byte-gated no-op at corpus scale (guide §2.5). A/B kept it
    // here and NOT in tfidfSearch: the same spread there measured +0.2 s
    // (its one consumer re-reads the checkpointed tf five ways and the
    // spread only taxed the checkpoint write).
    val tf = Dedup.kernelSpread(t.documents)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("_tf"))
      .localCheckpoint()
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("_df"))
    val lens = tf.groupBy("doc_id").agg(sum("_tf").as("_len"))
    val stats = lens.agg(count(lit(1)).as("_n"), avg("_len").as("_avg"))
    val qTerms = tf.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("w"))
    val rank = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("bm25").desc, col("neighbor_id").asc)
    tf.join(broadcast(qTerms), Seq("w"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(dfreq, "w")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("_c",
        // operand grouping mirrors the oracle text; the commuted constant
        // multiplications are IEEE-exact either way
        log((col("_n") - col("_df") + 0.5) / (col("_df") + 0.5) + 1.0) *
          (col("_tf") * (k1 + 1.0)) /
          (col("_tf") + (lit(1.0 - b) + col("_len") * b / col("_avg")) * k1))
      .groupBy(col("query_id"), col("doc_id").as("neighbor_id"))
      .agg(round(sum("_c"), 6).as("bm25"))
      .withColumn("rn", row_number().over(rank))
      .filter(col("rn") <= topK)
      .select("query_id", "neighbor_id", "bm25")
      .orderBy("query_id", "neighbor_id")
  }

  /** Per-source distribution drift: smoothed KL divergence of each
    * source's unigram token distribution from the corpus distribution —
    * the standard mixture-monitoring scalar (a source whose KL jumps
    * between snapshots changed its content; a high-KL source is
    * out-of-domain for the mixture). Add-one smoothing over the joint
    * vocabulary (the [[importanceWeights]] convention) keeps the sum
    * finite for tokens a source never emits.
    *
    * Scale shape: ONE corpus token scan into (source, token) counts —
    * checkpointed (vocabulary×sources-bounded, far below corpus size)
    * because the per-source totals, the corpus marginals, AND the KL grid
    * all derive from it. The grid is vocab × sources rows (every source
    * must pay the smoothed mass of every token it lacks), built from the
    * token-marginal table with the source-cardinality totals broadcast;
    * per-source state in the final aggregation is one double. */
  def sourceKlDivergence(t: Tables): DataFrame = {
    val counts = t.documents
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("_c"))
      .localCheckpoint()
    val srcTot = counts.groupBy("source").agg(sum("_c").as("_ns"))
    val vocab = counts.groupBy("w").agg(sum("_c").as("_cw"))
    val norms = vocab.agg(sum("_cw").as("_nc"), count(lit(1)).as("_v"))
    val p = (col("_c") + 1.0) / (col("_ns") + col("_v"))
    val q = (col("_cw") + 1.0) / (col("_nc") + col("_v"))
    vocab.crossJoin(broadcast(srcTot))
      .join(counts, Seq("source", "w"), "left")
      .na.fill(0L, Seq("_c"))
      .crossJoin(broadcast(norms))
      .groupBy("source")
      .agg(max("_ns").as("n_tokens"),
        round(sum(p * log(p / q)), 6).as("kl"))
      .orderBy("source")
  }

  /** Per-language length-band filter: keep documents whose n_chars lies in
    * the language's [p5, p95] interpolated-percentile band — the standard
    * outlier-length cleanup before training. The band comes from one
    * per-language aggregation (language-cardinality output) broadcast back
    * onto the corpus scan, so the filter itself is a narrow map — no sort,
    * no second shuffle of the corpus. */
  def lengthBandFilter(t: Tables, lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    val bands = t.documents.groupBy("lang")
      .agg(expr(s"percentile(n_chars, $lo)").as("_lo"),
        expr(s"percentile(n_chars, $hi)").as("_hi"))
    t.documents.join(broadcast(bands), "lang")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_chars") >= col("_lo") && col("n_chars") <= col("_hi"), 1L)
          .otherwise(0L)).as("n_kept"),
        round(min("_lo"), 6).as("p_lo"),
        round(min("_hi"), 6).as("p_hi"))
      .orderBy("lang")
  }

  /** FEATURE-HASHING AUDIT (the hashing-trick sizing report — Weinberger
    * et al. 2009, public method): for each candidate dimension budget,
    * how lossy is mapping tokens to `pmod(hash(token), d)` instead of a
    * vocabulary dictionary? Reports corpus vocabulary size, occupied
    * dims, the collision fraction, and — the number that actually
    * decides d — the worst cosine distortion between exact
    * token-count vectors and hashed vectors over a fixed document-pair
    * sample. The hashing trick is THE bounded-memory vectorizer at
    * corpus scale (no vocabulary dictionary to build, ship, or grow);
    * this audit is how you pick d before committing to it.
    *
    * Deterministic end to end: the token hash is the codegen'd
    * Karp–Rabin+mix64 kernel (SQL-replayable, the q_text_fingerprint
    * machinery), and every cosine is integer dot / sqrt(integer norms) —
    * no summation-order sensitivity anywhere, max() over pairs is
    * order-free. One corpus scan feeds the checkpointed (doc, token,
    * hash) table; each dim arm is a distinct-count plus joins over the
    * 10-document sample. */
  def featureHashAudit(t: Tables, dims: Seq[Int] = Seq(64, 256, 1024),
                       nPairs: Int = 5): DataFrame = {
    val tok = t.documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .withColumn("h", HashFunctions.rollingHash64(col("token")))
      .localCheckpoint() // read twice: the distinct collapse + the sample
    // ONE corpus-scale pass (r18): n_vocab and every dim arm's
    // n_dims_used are all functions of the DISTINCT token set (h is a
    // deterministic function of token, so distinct (token, h) rows ==
    // distinct tokens) — the old form re-aggregated the full token table
    // once for the vocabulary and once PER dim (4 corpus passes, the
    // row's whole real CPU); the distinct collapse is map-side-partial
    // and everything after runs on the vocabulary-sized table
    val uniq = tok.select(col("token"), col("h")).distinct()
      .localCheckpoint() // 1 vocab agg + dims arms read it
    val vocab = uniq.agg(count(lit(1)).as("n_vocab"))
    val sample = tok.filter(col("doc_id") < 2L * nPairs)
    // pairCos carries a `dim` arm column so ALL hashed arms flow through
    // ONE plan (r18): the per-dim loop built an independent agg/join
    // forest per dimension — ~20 one-task stages each, and stage count
    // (scheduling + per-stage setup) was this row's whole cost profile
    def pairCos(keyed: DataFrame): DataFrame = {
      // keyed: (dim, doc_id, key) one row per token occurrence; integer
      // counts; returns (dim, pair, cos)
      val cnts = keyed.groupBy("dim", "doc_id", "key").agg(count(lit(1)).as("c"))
      val norms = cnts.groupBy("dim", "doc_id").agg(sum(col("c") * col("c")).as("n2"))
      val a = cnts.filter(col("doc_id") < nPairs)
        .select(col("dim"), col("doc_id").as("pair"), col("key"), col("c").as("ca"))
      val b = cnts.filter(col("doc_id") >= nPairs)
        .select(col("dim"), (col("doc_id") - nPairs).as("pair"),
          col("key"), col("c").as("cb"))
      val dots = a.join(b, Seq("dim", "pair", "key"))
        .groupBy("dim", "pair").agg(sum(col("ca") * col("cb")).as("dot"))
      val na = norms.filter(col("doc_id") < nPairs)
        .select(col("dim"), col("doc_id").as("pair"), col("n2").as("na"))
      val nb = norms.filter(col("doc_id") >= nPairs)
        .select(col("dim"), (col("doc_id") - nPairs).as("pair"), col("n2").as("nb"))
      na.join(nb, Seq("dim", "pair")).join(dots, Seq("dim", "pair"), "left")
        .select(col("dim"), col("pair"),
          (coalesce(col("dot"), lit(0L)).cast("double") /
            sqrt(col("na").cast("double") * col("nb").cast("double"))).as("cos"))
    }
    val exact = pairCos(sample.select(lit(0).as("dim"), col("doc_id"),
        col("token").as("key")))
      .select(col("pair"), col("cos").as("cos_exact"))
      .localCheckpoint() // joined against every hashed arm
    def dimKeys(c: Column) = explode(array(dims.map(d =>
      struct(lit(d).as("dim"), pmod(c, lit(d.toLong)).as("key"))): _*))
    val hashed = pairCos(sample
      .select(col("doc_id"), dimKeys(col("h")).as("dk"))
      .select(col("dk.dim").as("dim"), col("doc_id"), col("dk.key").as("key")))
    val used = uniq.select(dimKeys(col("h")).as("dk"))
      .groupBy(col("dk.dim").as("dim"))
      .agg(countDistinct(col("dk.key")).as("n_dims_used"))
    val worst = broadcast(exact).join(hashed, Seq("pair"))
      .groupBy("dim").agg(max(abs(col("cos_exact") - col("cos"))).as("max_err"))
    // the dim axis is a LITERAL frame, so the one-row-per-dim contract
    // holds even on an EMPTY corpus (uniq empty ⇒ `used` has zero rows;
    // seeding from `used` alone would emit nothing, where the r17
    // per-dim agg-without-groupBy + crossJoin emitted every dim with
    // n_dims_used = 0 — r18 ADVICE). LEFT joins likewise keep an empty
    // document-pair sample (ids offset or sparse) reporting every dim's
    // vocab/occupancy row with a null distortion
    val spark = t.documents.sparkSession
    import spark.implicits._
    dims.toDF("dim")
      .join(used, Seq("dim"), "left")
      .join(worst, Seq("dim"), "left").crossJoin(broadcast(vocab))
      .select(col("dim"), col("n_vocab"),
        coalesce(col("n_dims_used"), lit(0L)).as("n_dims_used"),
        round(lit(1.0) - col("n_dims_used").cast("double") /
          least(col("n_vocab"), col("dim").cast("long")), 6).as("collision_frac"),
        round(col("max_err"), 6).as("max_abs_cos_err"))
      .orderBy("dim")
  }

  /** FLESCH READING-EASE per language (Flesch 1948 — the readability
    * screen corpus-quality reports run beside the Gopher heuristics):
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words), with
    * the three counts as REGEX MATCH COUNTS chosen for cross-engine
    * regex parity — words = alphabetic runs `[A-Za-z]+`, syllables ≈
    * vowel groups `[aeiouyAEIOUY]+` (the standard cheap proxy), sentences
    * = terminator runs `[.!?]+` floored at 1. Character classes only —
    * no `\b`, no lookaround — so Java regex (Spark codegen) and RE2-style
    * engines agree match-for-match. Per-language report: doc count, mean
    * score (round-4; each per-doc score is the identical closed-form
    * double in both engines), and easy/hard band counts on exact-double
    * thresholds.
    *
    * Scale: three regexp_count kernels in ONE projection pass (no
    * explode — the counts never materialize token rows), then a
    * lang-cardinality aggregation. */
  def readability(t: Tables): DataFrame = {
    val scored = t.documents
      .select(col("lang"),
        regexp_count(col("text"), lit("[A-Za-z]+")).as("_w"),
        regexp_count(col("text"), lit("[aeiouyAEIOUY]+")).as("_sy"),
        greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1)).as("_se"))
      .filter(col("_w") > 0)
      .withColumn("_fre", lit(206.835) -
        lit(1.015) * (col("_w").cast("double") / col("_se").cast("double")) -
        lit(84.6) * (col("_sy").cast("double") / col("_w").cast("double")))
    scored.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("_fre"), 4).as("avg_flesch"),
        sum(when(col("_fre") >= 60.0, 1L).otherwise(0L)).as("n_easy"),
        sum(when(col("_fre") < 30.0, 1L).otherwise(0L)).as("n_hard"))
      .orderBy("lang")
  }

  /** JENSEN–SHANNON DIVERGENCE between per-language token distributions,
    * all language pairs (Lin 1991 — the SYMMETRIC, bounded-by-ln2,
    * no-smoothing-needed divergence; the corpus-drift / mixture-distance
    * metric beside the one-vs-corpus [[sourceKlDivergence]]): with
    * M = (P+Q)/2, JSD = ½Σp·ln(2p/(p+q)) + ½Σq·ln(2q/(p+q)) — zero-mass
    * terms drop out exactly (no Laplace smoothing to disagree on).
    * Union support per pair comes from crossing the vocabulary with the
    * (tiny, broadcast) language-pair table and left-joining both sides'
    * counts — the pair fan-out is a map-side explode of the vocab scan,
    * NOT |langs|² corpus scans. Every p, q is one exact-integer-ratio
    * double; round-6 on the final half-sums. */
  def jsDivergence(t: Tables): DataFrame = {
    val counts = t.documents
      .select(col("lang"), explode(tokens(col("text"))).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("_c"))
      .localCheckpoint() // totals + both pair sides read it
    val tot = counts.groupBy("lang").agg(sum("_c").as("_n"))
    val langs = tot.select("lang")
    val pairs = langs.toDF("lang_a").crossJoin(langs.toDF("lang_b"))
      .filter(col("lang_a") < col("lang_b"))
    val vocab = counts.select("w").distinct()
    val g = vocab.crossJoin(broadcast(pairs))
      .join(counts.select(col("lang").as("lang_a"), col("w"),
        col("_c").as("_ca")), Seq("lang_a", "w"), "left")
      .join(counts.select(col("lang").as("lang_b"), col("w"),
        col("_c").as("_cb")), Seq("lang_b", "w"), "left")
      .na.fill(0L, Seq("_ca", "_cb"))
      .filter(col("_ca") + col("_cb") > 0)
      .join(broadcast(tot.select(col("lang").as("lang_a"), col("_n").as("_na"))),
        Seq("lang_a"))
      .join(broadcast(tot.select(col("lang").as("lang_b"), col("_n").as("_nb"))),
        Seq("lang_b"))
      .withColumn("_p", col("_ca").cast("double") / col("_na").cast("double"))
      .withColumn("_q", col("_cb").cast("double") / col("_nb").cast("double"))
    g.groupBy("lang_a", "lang_b")
      .agg(count(lit(1)).as("n_union_terms"),
        round(lit(0.5) * sum(when(col("_p") > 0,
            col("_p") * log(lit(2.0) * col("_p") / (col("_p") + col("_q"))))
          .otherwise(0.0)) +
          lit(0.5) * sum(when(col("_q") > 0,
            col("_q") * log(lit(2.0) * col("_q") / (col("_p") + col("_q"))))
          .otherwise(0.0)), 6).as("jsd"))
      .orderBy("lang_a", "lang_b")
  }

  /** TEXTRANK KEYWORD EXTRACTION (Mihalcea & Tarau EMNLP'04 — PageRank
    * over the word co-occurrence graph; the unsupervised keyword method
    * every document-understanding pipeline reaches for before training a
    * model): nodes = non-stopword tokens, edges = adjacent pairs in the
    * filtered token sequence (weight = corpus co-occurrence count),
    * score = 3 rounds of the weighted n-free PageRank recurrence
    * rank' = 0.15 + 0.85·Σ rank(src)·w/W(src) — the EXACT q_pagerank
    * discipline (separate damp/teleport literals, exact-integer-ratio
    * transition weights, round-6 at the end, rank-then-tie-break on the
    * ROUNDED score). Top-k tokens with their weighted degree.
    *
    * Scale shape: bigram extraction is a map-side transform of the
    * token arrays (no positional self-join); the graph tables are
    * vocabulary-sized; each round is one join + aggregation keyed by
    * token, identical to the pageRank rounds. */
  def textRank(t: Tables, iters: Int = 3, k: Int = 25): DataFrame = {
    // kernelSpread (r20): the tokenize+bigram kernel ran as ~2 tasks on
    // the corpus scan split; byte-gated no-op at corpus scale (guide §2.5)
    val toks = Dedup.kernelSpread(t.documents).select(
      filter(tokens(col("text")),
        w => !w.isInCollection(Stopwords)).as("tk"))
    val bigrams = toks.filter(size(col("tk")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(tk) - 2), i -> struct(tk[i] AS w1, tk[i + 1] AS w2))"))
        .as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .filter(col("w1") =!= col("w2"))
    // checkpoint the co-occurrence table itself (r20), not its degree
    // roll-up: with only wt checkpointed, the tokenize+bigram kernel ran
    // TWICE — once into wt's materialization, once more when p rebuilt
    // `und` (two ~0.75 task-s serial stages in the breakdown). und is
    // vocabulary-pair-bounded; wt and p now both derive from it cheaply.
    val und = bigrams.select(col("w1").as("src"), col("w2").as("dst"))
      .unionAll(bigrams.select(col("w2").as("src"), col("w1").as("dst")))
      .groupBy("src", "dst").agg(count(lit(1)).as("_w"))
      .localCheckpoint()
    val wt = und.groupBy("src").agg(sum("_w").as("_wt"))
    val p = und.join(wt, Seq("src"))
      .select(col("src"), col("dst"),
        (col("_w").cast("double") / col("_wt").cast("double")).as("_p"))
      .localCheckpoint() // every round reads it
    // round 1 fuses the uniform start (rank₀ ≡ 1) into a bare Σp — no
    // node-list distinct pass, no join; later rounds stay unchecked-
    // pointed (3-deep lineage over the checkpointed transition cache)
    var r = p.groupBy(col("dst").as("node"))
      .agg((lit(0.15) + lit(0.85) * sum(col("_p"))).as("_r"))
    for (_ <- 2 to iters) {
      r = p.join(r.select(col("node").as("src"), col("_r")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg((lit(0.15) + lit(0.85) * sum(col("_r") * col("_p"))).as("_r"))
    }
    val out = r
      .join(wt.select(col("src").as("node"), col("_wt").as("weighted_degree")),
        Seq("node"))
      .select(col("node").as("token"), col("weighted_degree"),
        round(col("_r"), 6).as("textrank"))
      .orderBy(col("textrank").desc, col("token").asc)
      .limit(k)
      .localCheckpoint()
    p.unpersist(blocking = false)
    und.unpersist(blocking = false)
    out
  }

  /** RAKE KEYPHRASE EXTRACTION (Rose, Engel, Cramer & Cowley 2010 —
    * Rapid Automatic Keyword Extraction; the PHRASE-level complement of
    * [[textRank]]'s single-word ranking): candidate phrases are maximal
    * stopword-free token runs (the stopwords act as delimiters), each
    * word scores deg/freq (deg = Σ lengths of phrases containing it,
    * freq = its occurrence count — co-occurrence-degree favors words
    * living in long phrases), and a phrase scores the sum of its words'
    * scores. Top-k distinct phrases.
    *
    * The run segmentation is the classic GAPS-AND-ISLANDS trick: within
    * a document, position − row_number over the stopword-FILTERED
    * sequence is constant exactly on contiguous runs — one window, no
    * iterative chasing. Scores are ratios of exact integers summed over
    * ≤phrase-length terms (round-6, rank on the rounded score with
    * phrase tie-break). Phrase strings are rebuilt position-sorted
    * (collect_list order is never trusted). */
  def rake(t: Tables, k: Int = 20): DataFrame = {
    val toks = t.documents.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "w")))
    val ns = toks.filter(!col("w").isInCollection(Stopwords))
      .withColumn("_grp", col("pos") - row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")))
      .localCheckpoint() // phrase build + word stats read it
    val plen = ns.groupBy("doc_id", "_grp").agg(count(lit(1)).as("_len"))
    val ws = ns.join(plen, Seq("doc_id", "_grp"))
      .groupBy("w").agg(count(lit(1)).as("_freq"), sum("_len").as("_deg"))
    val phrases = ns.groupBy("doc_id", "_grp")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("w")))),
        s => s("w")), " ").as("phrase"))
    val occ = phrases.groupBy("phrase").agg(count(lit(1)).as("n_occurrences"))
    val scored = occ.select(col("phrase"), col("n_occurrences"),
        split(col("phrase"), " ").as("_ws"))
      .select(col("phrase"), col("n_occurrences"), size(col("_ws")).as("n_words"),
        explode(col("_ws")).as("w"))
      .join(ws, Seq("w"))
      .groupBy("phrase", "n_occurrences", "n_words")
      .agg(round(sum(col("_deg").cast("double") / col("_freq").cast("double")), 6)
        .as("rake_score"))
    scored
      .orderBy(col("rake_score").desc, col("phrase").asc)
      .limit(k)
  }

  /** COHEN'S KAPPA agreement (Cohen 1960) between two rule-based binary
    * quality labelers — labeler A: character length ≥ 300; labeler B:
    * token count ≥ 55 (both near the corpus medians, so neither is a
    * constant and chance agreement is a real correction). The
    * inter-annotator-agreement statistic every labeling pipeline reports:
    * κ = (p_o − p_e)/(1 − p_e), observed agreement corrected by the
    * agreement two INDEPENDENT labelers with these marginals would reach
    * by chance. Confusion cells are exact integers from ONE corpus
    * aggregation; p_o, p_e, κ are closed-form ratios of those integers
    * (round-6), mirrored term-for-term in the oracle. */
  def cohensKappa(t: Tables, charThreshold: Int = 300,
                  tokenThreshold: Int = 55): DataFrame = {
    val labeled = t.documents.select(
      (col("n_chars") >= charThreshold).cast("long").as("_a"),
      (size(tokens(col("text"))) >= tokenThreshold).cast("long").as("_b"))
    labeled.agg(
        count(lit(1)).as("n_docs"),
        sum(col("_a") * col("_b")).as("n_both"),
        sum(col("_a") * (lit(1L) - col("_b"))).as("n_a_only"),
        sum((lit(1L) - col("_a")) * col("_b")).as("n_b_only"),
        sum((lit(1L) - col("_a")) * (lit(1L) - col("_b"))).as("n_neither"))
      .withColumn("_po", (col("n_both") + col("n_neither")).cast("double") /
        col("n_docs").cast("double"))
      .withColumn("_pe",
        ((col("n_both") + col("n_a_only")).cast("double") / col("n_docs").cast("double")) *
          ((col("n_both") + col("n_b_only")).cast("double") / col("n_docs").cast("double")) +
          ((col("n_b_only") + col("n_neither")).cast("double") / col("n_docs").cast("double")) *
            ((col("n_a_only") + col("n_neither")).cast("double") / col("n_docs").cast("double")))
      .select(col("n_docs"), col("n_both"), col("n_a_only"), col("n_b_only"),
        col("n_neither"), round(col("_po"), 6).as("p_observed"),
        round(col("_pe"), 6).as("p_expected"),
        round((col("_po") - col("_pe")) / (lit(1.0) - col("_pe")), 6).as("kappa"))
  }
}
