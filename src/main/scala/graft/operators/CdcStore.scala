package graft.operators

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** STREAMING CDC / MERGE APPLY — the continuous form of
  * [[Relational.upsertMerge]]'s SCD type-1 semantics (r11 roadmap item
  * 6): change batches `(k, op ∈ insert|update|delete, …payload)` apply
  * to a persisted keyed store with EXACTLY-ONCE replay safety, and the
  * resolved current state is available at any point.
  *
  * Log-structured (the Hudi/Delta merge-on-read shape, built on this
  * repo's segment architecture): each batch lands as its own immutable
  * bucketed-by-key DELTA segment — existing data is never rewritten on
  * ingest — and the segment list commits LAST via [[IndexFiles]]' atomic
  * rename, with the batch tag riding the list entry (the [[TextIndex]]
  * exactly-once contract: a replayed micro-batch whose tag is listed
  * returns without writing; a crash before the list write leaves an
  * unreferenced orphan table and the old list intact — never a torn
  * store). [[currentState]] resolves per key by LAST-WRITER-WINS over
  * the segment order (one key-partitioned window over the unioned
  * segment scans; deletes drop out), and [[compactStore]] folds the
  * resolved state into ONE base segment — the maintenance pass that
  * bounds read cost, with the list swap as its commit point and the
  * live tags carried forward (bounded by `maxTags`, newest kept) so
  * compaction never reopens the exactly-once window.
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
  * compaction restores O(base) reads. SINGLE WRITER by contract
  * (appends and compaction read-modify-write the list); readers are
  * safe at any point — the list rename is their only commit point. */
object CdcStore {

  final case class Store(prefix: String, dir: String, ids: Seq[Int]) {
    def tableOf(id: Int): String = s"${prefix}_cdc$id"
  }

  private def listPath(dir: String) = new HPath(dir, "cdc_segments.list")
  private def bucketsPath(dir: String) = new HPath(dir, "cdc_store.buckets")

  private def storedBuckets(spark: SparkSession, dir: String, fallback: Int) =
    IndexFiles.readString(spark, bucketsPath(dir))
      .map(_.trim.toInt).getOrElse(fallback)

  /** Apply one change batch as a new delta segment. Exactly-once via
    * `batchTag` (validated before any write); empty batches are no-ops.
    * Single writer by contract (see the object scaladoc). */
  def appendChanges(spark: SparkSession, changes: DataFrame, prefix: String,
                    dir: String, buckets: Int = 16,
                    batchTag: Option[String] = None): Store = {
    batchTag.foreach(IndexFiles.requireValidTag)
    IndexFiles.mkdirs(spark, new HPath(dir))
    val prev = attachStore(spark, prefix, dir, buckets)
    val entries = IndexFiles.readSegEntries(spark, listPath(dir))
    if (batchTag.exists(entries.flatMap(_._2).contains)) return prev
    // plan-stats BEFORE the checkpoint below hides them behind the
    // unknown sentinel — they size the segment's file count
    val statBytes = changes.queryExecution.optimizedPlan.stats.sizeInBytes
    // ONE evaluation of the change plan serves both the emptiness probe
    // and the segment write (r13 advice: a bare `changes.isEmpty` ran the
    // wide batch plan once for the probe and AGAIN for the write —
    // doubling per-batch latency on wide CDC extractors)
    val batch = changes.localCheckpoint()
    try {
      if (batch.isEmpty) return prev
      // stored count wins over the parameter (the TextIndex meta-wins rule)
      val b = storedBuckets(spark, dir, buckets)
      val id = prev.ids.lastOption.getOrElse(-1) + 1
      val table = s"${prefix}_cdc$id"
      // file count bounded by the batch's BYTES, not the caller's width
      // (r17: a store built under a 32-partition session read back at 14
      // task-s vs 2 for the same bytes in fewer files) — in the store, so
      // the streaming loop and every other caller is covered too
      IndexFiles.boundBucketedWrite(batch, "k", b, statBytes)
        .write.mode(SaveMode.Overwrite)
        .bucketBy(b, "k").sortBy("k")
        .option("path", new HPath(dir, table).toString)
        .saveAsTable(table)
      if (!IndexFiles.exists(spark, bucketsPath(dir)))
        IndexFiles.writeString(spark, bucketsPath(dir), b.toString)
      IndexFiles.writeSegEntries(spark, listPath(dir),
        entries :+ ((id, batchTag.toSeq)))
      Store(prefix, dir, prev.ids :+ id)
    } finally batch.unpersist(blocking = false)
  }

  /** Attach the store: re-registers any segment table a fresh session's
    * catalog lacks, deriving each table's DDL from its stored parquet
    * files (the store is schema-generic). An empty/missing list is a
    * valid empty store. */
  def attachStore(spark: SparkSession, prefix: String, dir: String,
                  buckets: Int = 16): Store = {
    val b = storedBuckets(spark, dir, buckets)
    val ids = IndexFiles.readSegEntries(spark, listPath(dir)).map(_._1)
    ids.foreach { id =>
      val table = s"${prefix}_cdc$id"
      if (!spark.catalog.tableExists(table)) {
        val loc = new HPath(dir, table).toString
        val ddl = Tables.scan(spark, loc).schema.toDDL
        spark.sql(
          s"""CREATE TABLE $table ($ddl) USING PARQUET
             |CLUSTERED BY (k) SORTED BY (k) INTO $b BUCKETS
             |LOCATION '$loc'""".stripMargin)
      }
    }
    Store(prefix, dir, ids)
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

  /** Fold the resolved state into ONE base segment (list swap = commit;
    * crash leaves the old list serving the old segments, at worst an
    * orphan table). Tags carry forward bounded by `maxTags`, newest
    * kept — the [[TextIndex.compactSegments]] retention contract. Old
    * segment tables are left for the caller to garbage-collect. */
  def compactStore(spark: SparkSession, store: Store, buckets: Int = 16,
                   maxTags: Int = 1024): Store = {
    require(store.ids.nonEmpty, "compactStore: empty store")
    val b = storedBuckets(spark, store.dir, buckets)
    val entries = IndexFiles.readSegEntries(spark, listPath(store.dir))
    val id = store.ids.last + 1
    val table = store.tableOf(id)
    // the compacted base's file count derives from the live segments'
    // TRUE on-disk bytes (the resolved state is never larger)
    val liveBytes = store.ids.map(i =>
      IndexFiles.dirBytes(spark, new HPath(store.dir, store.tableOf(i)))).sum
    IndexFiles.boundBucketedWrite(currentState(spark, store), "k", b,
        BigInt(liveBytes))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(b, "k").sortBy("k")
      .option("path", new HPath(store.dir, table).toString)
      .saveAsTable(table)
    val liveTags = entries.filter(e => store.ids.contains(e._1))
      .flatMap(_._2).distinct.takeRight(maxTags)
    IndexFiles.writeSegEntries(spark, listPath(store.dir),
      Seq((id, liveTags)))
    Store(store.prefix, store.dir, Seq(id))
  }
}
