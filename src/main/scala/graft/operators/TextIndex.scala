package graft.operators

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Arms
import graft.sources.Bucketing

/** Persisted INVERTED TEXT INDEX — the retrieval counterpart of
  * [[DedupIndex]] (fingerprints) and [[AnnIndex]] (embeddings): tf, df,
  * and document lengths are computed from the corpus ONCE and stored as a
  * bucketed postings table; every BM25 query probes the STORED postings
  * with no corpus text rescan. At 100 TB the from-scratch
  * [[TextAnalysis.bm25Search]] pays two corpus-wide shuffles per query
  * batch (tf aggregation + df aggregation); the index pays them once at
  * build and each probe touches only the postings of the query's terms.
  *
  * Layout — ONE bucketed catalog table plus a 2-number meta file:
  *  - `<prefix>_postings(w, doc_id, tf, df, len)` bucketed AND sorted by
  *    `w`. df and len are DENORMALIZED onto every posting (two extra
  *    longs per row) so a probe joins NOTHING corpus-sized — the classic
  *    search-engine postings layout, where a posting carries everything
  *    its scorer needs.
  *  - `meta` — (nDocs, sumLen) exact longs; avgdl derives as one double
  *    division, identical to the exact-long-sum mean both the live path
  *    and the DuckDB oracle compute.
  *
  * Probe scan hygiene: the term predicate is an `isin` over the query's
  * term set, so the scan gets (a) BUCKET PRUNING — only buckets hashing a
  * probed term are listed — and (b) row-group pruning inside each bucket
  * from the sorted-by-`w` layout + pushed `In` filter. A single-term
  * probe reads 1/buckets of the index (spec-asserted via
  * SelectedBucketsCount).
  *
  * The MONOLITHIC index is build-only (unlike [[DedupIndex.appendToIndex]]
  * / [[AnnIndex]]'s append): df and avgdl are global statistics
  * denormalized onto every posting, and appending documents changes df
  * for EXISTING terms — a row-append would silently serve stale scores.
  * Incremental ingest is the SEGMENT architecture (Lucene's shape),
  * implemented below: [[appendSegment]] writes each batch as its own
  * bucketed postings table plus a 2-number meta — existing segments are
  * never touched — and [[bm25ProbeSegmented]] unions the (per-segment
  * bucket-pruned) scans, recovers each term's df with a term-keyed
  * count over the probed postings themselves (the probe already reads
  * every posting of its terms, so df needs NO stored global), and sums
  * the segment metas for N and avgdl. Segment-spec probes are
  * spec-pinned equal to the from-scratch path over the merged corpus.
  *
  * Segments commit through the tagged [[IndexFiles.SegmentLog]]
  * `segments.list` (exactly-once batch tags, crash contract); both
  * families record their bucket count once in `text_index.buckets`, and
  * every meta is an [[IndexFiles]] atomic write. */
object TextIndex {

  final case class Index(postings: String, dir: String,
                         nDocs: Long, sumLen: Long) {
    def avgdl: Double = sumLen.toDouble / nDocs
  }

  private def metaPath(dir: String) = new HPath(dir, "text_index.meta")
  private def bucketsPath(dir: String) = new HPath(dir, "text_index.buckets")
  private def segLog(dir: String) =
    IndexFiles.SegmentLog(new HPath(dir, "segments.list"), bucketsPath(dir))

  private val PostingsDdl = "w STRING, doc_id BIGINT, tf BIGINT, df BIGINT, len BIGINT"
  private val SegmentDdl = "w STRING, doc_id BIGINT, tf BIGINT, len BIGINT"

  /** (doc_id, w, tf) of a corpus — the shared tokenize+count stage. */
  private def termFreqs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))

  /** Build the index under `dir` with catalog name `<prefix>_postings`.
    * One corpus scan; df/len fold in via two bounded joins of the SAME
    * checkpointed tf table (vocabulary- and doc-cardinality sides). */
  def buildIndex(spark: SparkSession, docs: DataFrame, prefix: String,
                 dir: String, buckets: Int = 32): Index = {
    // postings bytes track the corpus text bytes; read the stats BEFORE
    // the checkpoint hides them — they bound the written file count
    val statBytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    val tf = termFreqs(docs).localCheckpoint()
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val lens = tf.groupBy("doc_id").agg(sum("tf").as("len"))
    val table = s"${prefix}_postings"
    Bucketing.saveBucketed(
      IndexFiles.boundBucketedWrite(
        tf.join(dfreq, "w").join(lens, "doc_id")
          .select(col("w"), col("doc_id"), col("tf"), col("df"), col("len")),
        "w", buckets, statBytes),
      table, Seq("w"), buckets, Some(new HPath(dir, table).toString),
      SaveMode.Overwrite)
    // a build REPLACES the store, so its count overwrites (not write-once):
    // leaving a stale count from an earlier build at the same dir would
    // declare a bucket spec the fresh files don't satisfy
    IndexFiles.writeString(spark, bucketsPath(dir), buckets.toString)
    val st = lens.agg(count(lit(1)).as("n"), sum("len").as("s")).head()
    IndexFiles.writeString(spark, metaPath(dir),
      s"${st.getLong(0)} ${st.getLong(1)}")
    Index(table, dir, st.getLong(0), st.getLong(1))
  }

  /** Attach a previously built index: registers the bucketed table from
    * its stored files when a fresh session's catalog doesn't have it
    * (same DDL re-registration as [[DedupIndex.attachIndex]] — the build
    * session's catalog dies with it; the files and meta are the truth). */
  def attachIndex(spark: SparkSession, prefix: String, dir: String,
                  buckets: Int = 32): Index = {
    val b = segLog(dir).buckets(spark, buckets)
    val table = s"${prefix}_postings"
    Bucketing.registerBucketed(spark, table, PostingsDdl, Seq("w"), b,
      new HPath(dir, table).toString)
    val parts = IndexFiles.readString(spark, metaPath(dir))
      .getOrElse(throw new IllegalStateException(
        s"TextIndex.attachIndex: missing meta at ${metaPath(dir)}"))
      .trim.split(' ')
    Index(table, dir, parts(0).toLong, parts(1).toLong)
  }

  final case class Segments(prefix: String, dir: String, ids: Seq[Int]) {
    def tableOf(id: Int): String = s"${prefix}_seg$id"
  }

  private def segMetaPath(dir: String, id: Int) = new HPath(dir, s"seg$id.meta")

  /** Append one batch as a NEW segment: its own bucketed+sorted postings
    * table `(w, doc_id, tf, len)` — no df column; df is a query-time
    * derivation — plus a per-segment (nDocs, sumLen) meta, committed by
    * the [[IndexFiles.SegmentLog]] (`batchTag`: exactly-once replay,
    * validated before anything is written). Existing segments are
    * immutable. */
  def appendSegment(spark: SparkSession, docs: DataFrame, prefix: String,
                    dir: String, buckets: Int = 32,
                    batchTag: Option[String] = None): Segments = {
    val st = segLog(dir).begin(spark, batchTag, buckets)
    val prev = register(spark, prefix, dir, st)
    if (st.listed(batchTag)) return prev
    val (b, id) = (st.buckets, st.nextId)
    // batch bytes read BEFORE the checkpoint hides them (file-count bound)
    val statBytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    val tf = termFreqs(docs).localCheckpoint()
    val lens = tf.groupBy("doc_id").agg(sum("tf").as("len"))
    // emptiness check BEFORE anything is written: a batch with zero
    // indexable documents (no rows, or rows whose text all tokenizes to
    // nothing) is a graceful no-op — a streaming micro-batch of
    // empty-text docs must not abort the ingest loop or leave an orphan
    // segment table
    val n = lens.agg(count(lit(1)).as("n"), sum("len").as("s")).head()
    if (n.getLong(0) == 0) return prev
    val table = s"${prefix}_seg$id"
    // file count bounded by the batch's bytes, not the caller's width —
    // a streaming micro-batch written at full session width would fan
    // tasks×buckets tiny files into the segment, and every later probe
    // pays fixed task setup per file (the r17 CDC lesson, in the store)
    Bucketing.saveBucketed(
      IndexFiles.boundBucketedWrite(
        tf.join(lens, "doc_id")
          .select(col("w"), col("doc_id"), col("tf"), col("len")),
        "w", b, statBytes),
      table, Seq("w"), b, Some(new HPath(dir, table).toString),
      SaveMode.Overwrite)
    IndexFiles.writeString(spark, segMetaPath(dir, id),
      s"${n.getLong(0)} ${n.getLong(1)}")
    segLog(dir).commit(spark, st, batchTag)
    Segments(prefix, dir, prev.ids :+ id)
  }

  /** (nDocs, sumLen) of one segment — loud on a missing meta (the
    * segment is listed, so its meta committed before the list did; its
    * absence means external damage, not a mid-append crash). */
  private def segStats(spark: SparkSession, dir: String, id: Int): (Long, Long) = {
    val p = IndexFiles.readString(spark, segMetaPath(dir, id))
      .getOrElse(throw new IllegalStateException(
        s"TextIndex: missing segment meta at ${segMetaPath(dir, id)}"))
      .trim.split(' ')
    (p(0).toLong, p(1).toLong)
  }

  /** Attach the segmented index: re-registers any segment table a fresh
    * session's catalog lacks. An empty/missing list is a valid empty
    * index. */
  def attachSegments(spark: SparkSession, prefix: String, dir: String,
                     buckets: Int = 32): Segments =
    register(spark, prefix, dir, segLog(dir).read(spark, buckets))

  private def register(spark: SparkSession, prefix: String, dir: String,
                       st: IndexFiles.LogState): Segments = {
    val seg = Segments(prefix, dir, st.ids)
    st.ids.map(seg.tableOf).foreach(t => Bucketing.registerBucketed(spark, t,
      SegmentDdl, Seq("w"), st.buckets, new HPath(dir, t).toString))
    seg
  }

  /** COMPACT a grown segmented index: a daily append loop accretes one
    * table per batch, and probe cost grows with segment count (one scan
    * + union branch each). Compaction unions every live segment into ONE
    * new segment table (a fresh id — existing segments stay immutable)
    * with the summed meta, then atomically swaps the segment list to
    * reference only it. Crash semantics mirror [[appendSegment]]: the
    * list swap ([[IndexFiles.SegmentLog.commitCompaction]]: live tags
    * carried forward, newest `maxTags` kept) is the commit point.
    * Because df is a QUERY-TIME derivation, compaction is a pure rewrite
    * — no statistics to rebuild (the advantage of not denormalizing df
    * into segments). Old segment tables/dirs are left for the caller to
    * garbage-collect once no reader can hold the old list. */
  def compactSegments(spark: SparkSession, seg: Segments,
                      buckets: Int = 32, maxTags: Int = 1024): Segments = {
    require(seg.ids.nonEmpty, "compactSegments: empty segment list")
    val b = segLog(seg.dir).buckets(spark, buckets)
    val id = seg.ids.last + 1
    val all = seg.ids.map(i => spark.table(seg.tableOf(i)))
      .reduce(_.unionByName(_))
    val table = seg.tableOf(id)
    // compacted file count derives from the live segments' TRUE bytes
    val liveBytes = seg.ids.map(i =>
      IndexFiles.dirBytes(spark, new HPath(seg.dir, seg.tableOf(i)))).sum
    Bucketing.saveBucketed(
      IndexFiles.boundBucketedWrite(all, "w", b, BigInt(liveBytes)),
      table, Seq("w"), b, Some(new HPath(seg.dir, table).toString),
      SaveMode.Overwrite)
    val stats = seg.ids.map(i => segStats(spark, seg.dir, i))
    IndexFiles.writeString(spark, segMetaPath(seg.dir, id),
      s"${stats.map(_._1).sum} ${stats.map(_._2).sum}")
    segLog(seg.dir).commitCompaction(spark, seg.ids, id, maxTags)
    Segments(seg.prefix, seg.dir, Seq(id))
  }

  /** The shared BM25 scoring + ranking tail: postings carrying
    * (w, doc_id, tf, df, len) scored against the broadcast query-term
    * table with the exact [[TextAnalysis.bm25Search]] arithmetic,
    * self-matches excluded, per-query top-k. ONE definition — both
    * probes must keep the oracle-pinned formula in lockstep. */
  private def bm25Rank(posts: DataFrame, qTerms: DataFrame, nDocs: Long,
                       avgdl: Double, topK: Int, k1: Double,
                       b: Double): DataFrame = {
    val rank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("bm25").desc, col("neighbor_id").asc)
    posts.join(broadcast(qTerms), Seq("w"))
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("_c",
        log((lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + (lit(1.0 - b) + col("len") * b / avgdl) * k1))
      .groupBy(col("query_id"), col("doc_id").as("neighbor_id"))
      .agg(round(sum("_c"), 6).as("bm25"))
      .withColumn("rn", row_number().over(rank))
      .filter(col("rn") <= topK)
      .select("query_id", "neighbor_id", "bm25")
      .orderBy("query_id", "neighbor_id")
  }

  /** The shared byte-derived probe gate (r17 verdict item 1): a bucketed-
    * table scan is ONE TASK PER BUCKET PER TABLE regardless of bytes —
    * tiny stores pay ~100 ms of setup per bucket-task for kilobytes of
    * postings. Below the threshold, read the same parquet files WITHOUT
    * the bucket spec, width pinned to the TRUE bytes (~1 task / 8 MB —
    * the scheduler's openCost packing otherwise fans tiny files across
    * the core count), pruned by a broadcast SEMI-JOIN against the query
    * vocabulary (same rows as the literal In, no driver collect job —
    * with the full flat read this cheap, row-group pushdown buys nothing
    * the semi-join doesn't). Above it (the 100 TB shape), the bucketed
    * catalog scans keep directory-level pruning — nTerms/nBuckets of the
    * index bytes touched — driven by the literal In over the collected
    * query vocabulary (bounded by construction). Threshold
    * ([[Arms.TextIndexBucketedMinBytes]]) ≈ the point where a per-bucket
    * task has real work (~8 MB/bucket at the default 32-bucket spec). */
  private def prunedPostings(spark: SparkSession, dir: String,
                             tables: Seq[String], schema: String,
                             qTerms: DataFrame): DataFrame = {
    val bytes = tables.map(t =>
      IndexFiles.dirBytes(spark, new HPath(dir, t))).sum
    if (Arms.small(spark, "textIndex.flatProbe", bytes,
        Arms.TextIndexBucketedMinBytes, "bytes")) {
      val scanW = math.max(1L, math.min(
        spark.sparkContext.defaultParallelism.toLong,
        bytes / (8L << 20) + 1)).toInt
      spark.read
        .schema(schema)
        .parquet(tables.map(t => new HPath(dir, t).toString): _*)
        .coalesce(scanW)
        .join(broadcast(qTerms.select("w").distinct()), Seq("w"), "left_semi")
    } else {
      val termList = qTerms.select("w").distinct().collect().map(_.getString(0))
      tables.map(t => spark.table(t)
          .filter(col("w").isin(termList.toIndexedSeq: _*)))
        .reduce(_.unionByName(_))
    }
  }

  /** BM25 top-k against the SEGMENTED index: per-segment term-pruned
    * scans union (each one bucket- and row-group-pruned exactly like the
    * monolithic probe), df recovers as a term-partitioned count over the
    * probed postings — the probe reads every posting of its terms by
    * construction, so the derivation is exact — and N/avgdl sum from the
    * immutable per-segment metas. Scoring arithmetic is identical to
    * [[bm25Probe]], so the same from-scratch oracle verifies it. */
  def bm25ProbeSegmented(spark: SparkSession, seg: Segments,
                         queryDocs: DataFrame, topK: Int = 5,
                         k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(seg.ids.nonEmpty, "bm25ProbeSegmented: empty segment list")
    val stats = seg.ids.map(id => segStats(spark, seg.dir, id))
    val nDocs = stats.map(_._1).sum
    val avgdl = stats.map(_._2).sum.toDouble / nDocs
    val qTerms = termFreqs(queryDocs)
      .select(col("doc_id").as("query_id"), col("w"))
    val posts = prunedPostings(spark, seg.dir, seg.ids.map(seg.tableOf),
      SegmentDdl, qTerms)
    // df at query time: distinct docs per term over the probed postings.
    // (w, doc_id) is unique within AND across segments — segments
    // partition the corpus — so a plain count per term is the df. An
    // aggregate + equi-join (map-side partial, streaming probe) rather
    // than a term-partitioned window: a stop-word's window partition
    // would buffer its whole postings list in one task.
    val dfs = posts.groupBy("w").agg(count(lit(1)).as("df"))
    bm25Rank(posts.join(dfs, "w"), qTerms, nDocs, avgdl, topK, k1, b)
  }

  /** BM25 top-k against the STORED postings for query documents
    * (doc_id, text, …): tokenizes only the query side (bounded), prunes
    * the postings scan to the query's terms, scores each surviving
    * posting from its own denormalized (tf, df, len) — the exact
    * [[TextAnalysis.bm25Search]] arithmetic, so the same SQL oracle
    * verifies both paths — and ranks per query. Self-matches are
    * excluded, mirroring the live path. */
  def bm25Probe(spark: SparkSession, idx: Index, queryDocs: DataFrame,
                topK: Int = 5, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qTerms = termFreqs(queryDocs)
      .select(col("doc_id").as("query_id"), col("w"))
    // the same [[prunedPostings]] gate as the segmented probe — one table
    val posts = prunedPostings(spark, idx.dir, Seq(idx.postings),
      PostingsDdl, qTerms)
    bm25Rank(posts, qTerms, idx.nDocs, idx.avgdl, topK, k1, b)
  }
}
