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
  * the segment order (one key-partitioned window over the unioned
  * segment scans; deletes drop out), and [[compactStore]] folds the
  * resolved state into ONE base segment — the maintenance pass that
  * bounds read cost.
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
  * 100 TB shape: ingest cost is the batch itself (bucketed write, no
  * read-modify-write of the base — the LSM trade); resolution shuffles
  * the live segments once on the key (the window's clustering);
  * compaction restores O(base) reads. */
object CdcStore {

  final case class Store(prefix: String, dir: String, ids: Seq[Int]) {
    def tableOf(id: Int): String = s"${prefix}_cdc$id"
  }

  private def segLog(dir: String) = IndexFiles.SegmentLog(
    new HPath(dir, "cdc_segments.list"), new HPath(dir, "cdc_store.buckets"))

  /** Apply one change batch as a new delta segment. Exactly-once via
    * `batchTag` (validated before any write); empty batches are no-ops. */
  def appendChanges(spark: SparkSession, changes: DataFrame, prefix: String,
                    dir: String, buckets: Int = 16,
                    batchTag: Option[String] = None): Store = {
    val st = segLog(dir).begin(spark, batchTag, buckets)
    val prev = register(spark, prefix, dir, st)
    if (st.listed(batchTag)) return prev
    // plan-stats BEFORE the checkpoint below hides them behind the
    // unknown sentinel — they size the segment's file count
    val statBytes = changes.queryExecution.optimizedPlan.stats.sizeInBytes
    // ONE evaluation of the change plan serves both the emptiness probe
    // and the segment write (a bare `changes.isEmpty` would run the wide
    // batch plan once for the probe and again for the write)
    val batch = changes.localCheckpoint()
    try {
      if (batch.isEmpty) return prev
      val table = prev.tableOf(st.nextId)
      // file count bounded by the batch's BYTES, not the caller's width —
      // in the store, so the streaming loop and every caller is covered
      Bucketing.saveBucketed(
        IndexFiles.boundBucketedWrite(batch, "k", st.buckets, statBytes),
        table, Seq("k"), st.buckets, Some(new HPath(dir, table).toString),
        SaveMode.Overwrite)
      segLog(dir).commit(spark, st, batchTag)
      Store(prefix, dir, prev.ids :+ st.nextId)
    } finally batch.unpersist(blocking = false)
  }

  /** Attach the store: re-registers any segment table a fresh session's
    * catalog lacks, deriving each table's DDL from its stored parquet
    * files (the store is schema-generic). */
  def attachStore(spark: SparkSession, prefix: String, dir: String,
                  buckets: Int = 16): Store =
    register(spark, prefix, dir, segLog(dir).read(spark, buckets))

  private def register(spark: SparkSession, prefix: String, dir: String,
                       st: IndexFiles.LogState): Store = {
    val store = Store(prefix, dir, st.ids)
    st.ids.map(store.tableOf).foreach { table =>
      val loc = new HPath(dir, table).toString
      Bucketing.registerBucketed(spark, table,
        Tables.scan(spark, loc).schema.toDDL, Seq("k"), st.buckets, loc)
    }
    store
  }

  /** The resolved current state: per key, the LAST segment's row wins
    * (segment order = apply order); rows whose last op is `delete` drop
    * out. One key-partitioned window over the unioned segment scans —
    * partitions bounded by a key's change count across live segments. */
  def currentState(spark: SparkSession, store: Store): DataFrame = {
    require(store.ids.nonEmpty, "currentState: empty store")
    val all = store.ids.map(id =>
        spark.table(store.tableOf(id)).withColumn("_seg", lit(id)))
      .reduce(_.unionByName(_))
    val w = Window.partitionBy("k").orderBy(col("_seg").desc)
    all.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("op") =!= "delete")
      .drop("_rn", "_seg")
  }

  /** Fold the resolved state into ONE base segment, committed by
    * [[IndexFiles.SegmentLog.commitCompaction]] (live tags carried
    * forward, newest `maxTags` kept; a crash leaves the old list serving
    * the old segments, at worst an orphan table). Old segment tables are
    * left for the caller to garbage-collect. */
  def compactStore(spark: SparkSession, store: Store, buckets: Int = 16,
                   maxTags: Int = 1024): Store = {
    require(store.ids.nonEmpty, "compactStore: empty store")
    val b = segLog(store.dir).buckets(spark, buckets)
    val id = store.ids.last + 1
    val table = store.tableOf(id)
    // the compacted base's file count derives from the live segments'
    // TRUE on-disk bytes (the resolved state is never larger)
    val liveBytes = store.ids.map(i =>
      IndexFiles.dirBytes(spark, new HPath(store.dir, store.tableOf(i)))).sum
    Bucketing.saveBucketed(
      IndexFiles.boundBucketedWrite(currentState(spark, store), "k", b,
        BigInt(liveBytes)),
      table, Seq("k"), b, Some(new HPath(store.dir, table).toString),
      SaveMode.Overwrite)
    segLog(store.dir).commitCompaction(spark, store.ids, id, maxTags)
    Store(store.prefix, store.dir, Seq(id))
  }
}
