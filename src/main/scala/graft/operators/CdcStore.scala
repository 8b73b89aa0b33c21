package graft.operators

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.{Bucketing, Tables}

/** STREAMING CDC / MERGE APPLY — the continuous form of
  * [[Relational.upsertMerge]]'s SCD type-1 semantics: change batches
  * `(k, op ∈ insert|update|delete, …payload)` apply to a persisted keyed
  * store with exactly-once replay safety, and the resolved current state
  * is available at any point.
  *
  * Log-structured (the Hudi/Delta merge-on-read shape): each batch lands
  * as its own immutable bucketed-by-key DELTA segment — existing data is
  * never rewritten on ingest — committed through the tagged
  * [[IndexFiles.SegmentLog]] `cdc_segments.list` (bucket count in
  * `cdc_store.buckets`), which gives the exactly-once and crash
  * contracts. [[currentState]] resolves per key by LAST-WRITER-WINS over
  * the segment order (bucket i of every live segment merged in one task;
  * deletes drop out), and [[compactStore]] folds the resolved state into
  * ONE base segment — the maintenance pass that bounds read cost.
  *
  * Schema-generic: the payload columns are whatever the first batch
  * carries (parquet records them; attach re-derives the DDL from the
  * stored files). Per-batch contract: at most ONE change per key per
  * batch — CDC extractors emit net changes per key; two ops for one key
  * in one batch have no defined order. Seeding: apply the initial
  * snapshot as batch 0 with `op = 'keep'` — [[currentState]] then
  * reproduces [[Relational.upsertMerge]]'s output column-for-column
  * (spec-pinned), because each surviving key carries the op of its LAST
  * change.
  *
  * 100 TB shape: ingest cost is the batch itself (one bucketed write job,
  * with no exchange for a batch read as one file split, and no
  * read-modify-write of the base — the LSM trade); resolution reads the
  * live segments as one bucketed relation and merges each bucket across
  * them in one task, with no shuffle, so a read is `buckets` tasks however
  * many segments are live; compaction restores O(base) reads. The read's
  * width is the store's bucket count, which the first
  * [[appendChanges]]'s `buckets` sets for good, as for any Spark bucketed
  * table: a store expected to outgrow `buckets` tasks' worth of state
  * needs more buckets from its first batch. */
object CdcStore {

  /** A store's live segments in apply order, and its bucket count. Each
    * segment is the bucketed table [[tableOf]] in the directory of that
    * name under `dir`. */
  final case class Store(prefix: String, dir: String, ids: Seq[Int],
                         buckets: Int) {
    def tableOf(id: Int): String = s"${prefix}_cdc$id"
    def pathOf(id: Int): String = new HPath(dir, tableOf(id)).toString
  }

  private def segLog(dir: String) = IndexFiles.SegmentLog(
    new HPath(dir, "cdc_segments.list"), new HPath(dir, "cdc_store.buckets"))

  /** Apply one change batch as a new delta segment. Exactly-once via
    * `batchTag` (validated before any write); empty batches are no-ops.
    * The batch plan runs ONCE, as the segment write: an empty batch is
    * seen after it, with no job, because a bucketed write opens a file
    * only for a bucket that gets a row, so its directory holds no data
    * bytes. That segment's table and directory are then removed and
    * nothing is committed (a crash in between leaves an orphan table,
    * which no list names). */
  def appendChanges(spark: SparkSession, changes: DataFrame, prefix: String,
                    dir: String, buckets: Int = 16,
                    batchTag: Option[String] = None): Store = {
    val st = segLog(dir).begin(spark, batchTag, buckets)
    val prev = register(spark, prefix, dir, st)
    if (st.listed(batchTag)) return prev
    val table = prev.tableOf(st.nextId)
    val path = new HPath(prev.pathOf(st.nextId))
    // file count bounded by the batch's BYTES, not the caller's width —
    // in the store, so the streaming loop and every caller is covered
    Bucketing.saveBucketed(
      IndexFiles.boundBucketedWrite(changes, "k", st.buckets,
        changes.queryExecution.optimizedPlan.stats.sizeInBytes),
      table, Seq("k"), st.buckets, Some(path.toString), SaveMode.Overwrite)
    if (IndexFiles.dirBytes(spark, path) == 0) {
      spark.sql(s"DROP TABLE $table")
      IndexFiles.deleteTree(spark, path)
      prev
    } else {
      segLog(dir).commit(spark, st, batchTag)
      prev.copy(ids = prev.ids :+ st.nextId)
    }
  }

  /** Attach the store: re-registers any segment table a fresh session's
    * catalog lacks, deriving each table's DDL from its stored parquet
    * files (the store is schema-generic). */
  def attachStore(spark: SparkSession, prefix: String, dir: String,
                  buckets: Int = 16): Store =
    register(spark, prefix, dir, segLog(dir).read(spark, buckets))

  private def register(spark: SparkSession, prefix: String, dir: String,
                       st: IndexFiles.LogState): Store = {
    val store = Store(prefix, dir, st.ids, st.buckets)
    st.ids.foreach { id =>
      val loc = store.pathOf(id)
      Bucketing.registerBucketed(spark, store.tableOf(id),
        Tables.scan(spark, loc).schema.toDDL, Seq("k"), st.buckets, loc)
    }
    store
  }

  /** The resolved current state: per key, the LAST segment's row wins
    * (segment order = apply order); rows whose last op is `delete` drop
    * out. The live segments are read as ONE bucketed relation
    * ([[Bucketing.readBucketed]]), so task i merges bucket i of every
    * segment, and the scan's `HashPartitioning(k, buckets)` already
    * clusters the last-writer-wins window: one job of `buckets` tasks and
    * no exchange, however many segments are live. */
  def currentState(spark: SparkSession, store: Store): DataFrame = {
    require(store.ids.nonEmpty, "currentState: empty store")
    val segments = Bucketing.readBucketed(spark, store.ids.map(store.pathOf),
      spark.table(store.tableOf(store.ids.head)).schema, Seq("k"),
      store.buckets)
    // a row's segment id: its file's directory is tableOf(id), and the
    // digits after that name's LAST `_cdc` are the id (the prefix may
    // itself contain `_cdc`)
    val seg = regexp_extract(col("_metadata.file_path"),
      "_cdc(\\d+)/[^/]*$", 1).cast("int")
    val w = Window.partitionBy("k").orderBy(col("_seg").desc)
    segments.withColumn("_seg", seg)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("op") =!= "delete")
      .drop("_rn", "_seg")
  }

  /** Fold the resolved state into ONE base segment, committed by
    * [[IndexFiles.SegmentLog.commitCompaction]] (live tags carried
    * forward, newest `maxTags` kept; a crash leaves the old list serving
    * the old segments, at worst an orphan table). Old segment tables are
    * left for the caller to garbage-collect. */
  def compactStore(spark: SparkSession, store: Store,
                   maxTags: Int = 1024): Store = {
    require(store.ids.nonEmpty, "compactStore: empty store")
    val id = store.ids.last + 1
    // the compacted base's file count derives from the live segments'
    // TRUE on-disk bytes (the resolved state is never larger)
    val liveBytes = store.ids.map(i =>
      IndexFiles.dirBytes(spark, new HPath(store.pathOf(i)))).sum
    Bucketing.saveBucketed(
      IndexFiles.boundBucketedWrite(currentState(spark, store), "k",
        store.buckets, BigInt(liveBytes)),
      store.tableOf(id), Seq("k"), store.buckets, Some(store.pathOf(id)),
      SaveMode.Overwrite)
    segLog(store.dir).commitCompaction(spark, store.ids, id, maxTags)
    store.copy(ids = Seq(id))
  }
}
