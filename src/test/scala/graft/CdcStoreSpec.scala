package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{CdcStore, IndexFiles, Relational}
import graft.plans.OneSplitPlans
import graft.streaming.CorpusStreams

class CdcStoreSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** The seed snapshot (op = keep) plus the SAME change derivation as the
    * batch operator, so streaming apply can be pinned row-equal to it. */
  private def seed = tables.customer.select(
    col("c_custkey").as("k"), lit("keep").as("op"),
    col("c_nationkey").as("nationkey"),
    round(col("c_acctbal"), 2).as("acctbal"))

  private def changes = {
    val base = tables.customer
    base.filter(col("c_custkey") % 7 === 0 || col("c_custkey") % 13 === 0)
      .select(col("c_custkey").as("k"),
        when(col("c_custkey") % 13 === 0, lit("delete"))
          .otherwise(lit("update")).as("op"),
        col("c_nationkey").as("nationkey"),
        round(col("c_acctbal") + 100.0, 2).as("acctbal"))
      .union(base.filter(col("c_custkey") % 11 === 0)
        .select((col("c_custkey") + 1000000L).as("k"), lit("insert").as("op"),
          col("c_nationkey").as("nationkey"),
          round(col("c_acctbal"), 2).as("acctbal")))
  }

  private def stateRows(store: CdcStore.Store) =
    CdcStore.currentState(spark, store)
      .select(col("k").as("custkey"), col("nationkey"), col("acctbal"),
        col("op").as("merge_op"))
      .orderBy("custkey")
      .collect().map(_.toSeq).toSeq

  /** The state as a union of the segments' catalog tables, each tagged
    * with its id, under the same last-writer-wins window: the read
    * [[CdcStore.currentState]] replaced, kept here as its reference. */
  private def unionState(store: CdcStore.Store): DataFrame = {
    val all = store.ids.map(id =>
        spark.table(store.tableOf(id)).withColumn("_seg", lit(id)))
      .reduce(_.unionByName(_))
    val w = Window.partitionBy("k").orderBy(col("_seg").desc)
    all.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("op") =!= "delete")
      .drop("_rn", "_seg")
  }

  private def byKey(rows: Seq[Row]): Seq[Row] = rows.sortBy(_.getAs[Long]("k"))

  /** Change batch `i` over `customer`: the keys ≡ i (mod 9) are
    * inserted again (some after an earlier batch deleted them), and the
    * other keys divisible by `i + 2` are deleted or updated by parity, so
    * each live segment decides some keys and not others. */
  private def batch(i: Int) = tables.customer
    .filter(col("c_custkey") % (i + 2) === 0 || col("c_custkey") % 9 === i)
    .select(col("c_custkey").as("k"),
      when(col("c_custkey") % 9 === i, lit("insert"))
        .when(col("c_custkey") % 2 === i % 2, lit("delete"))
        .otherwise(lit("update")).as("op"),
      col("c_nationkey").as("nationkey"),
      round(col("c_acctbal") + i * 100.0, 2).as("acctbal"))

  /** One state read: its rows equal [[unionState]]'s, and it runs as one
    * job of `buckets` tasks over a bucketed scan, with no exchange. */
  private def checkRead(store: CdcStore.Store, what: String): Unit = {
    val df = CdcStore.currentState(spark, store)
    val (rows, record) = QueryRecord.of(spark)(df.collect().toSeq)
    val plan = df.queryExecution.executedPlan
    assert(collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }
      .isEmpty, s"$what:\n$plan")
    assert(collect(plan) { case s: FileSourceScanExec => s.bucketedScan } ==
      Seq(true), s"$what:\n$plan")
    assert(record.jobs == 1, s"$what ran ${record.jobs} jobs")
    assert(record.tasks == store.buckets,
      s"$what ran ${record.tasks} tasks for ${store.buckets} buckets")
    val expected = byKey(unionState(store).collect().toSeq)
    assert(rows.nonEmpty && byKey(rows) == expected, what)
  }

  test("a state read merges each bucket across all live segments in one job") {
    // "x_cdc7" names tables x_cdc7_cdc0, x_cdc7_cdc1, …: the segment id
    // must come from the last `_cdc`, not the prefix's
    for ((prefix, buckets) <- Seq(("cdc_rs", 16), ("x_cdc7", 4))) {
      val dir = Files.createTempDirectory(s"cdc_read_$prefix").toString
      def append(changes: DataFrame, i: Int): Unit =
        CdcStore.appendChanges(spark, changes, prefix, dir,
          buckets = buckets, batchTag = Some(s"b$i"))
      append(seed, 0)
      checkRead(CdcStore.attachStore(spark, prefix, dir), s"$prefix, 1 segment")
      append(batch(1), 1)
      checkRead(CdcStore.attachStore(spark, prefix, dir), s"$prefix, 2 segments")
      append(batch(2), 2)
      append(batch(3), 3)
      // attach with the default bucket count: the stored one must win
      val grown = CdcStore.attachStore(spark, prefix, dir)
      assert(grown.ids == Seq(0, 1, 2, 3) && grown.buckets == buckets)
      checkRead(grown, s"$prefix, 4 segments")
      val compacted = CdcStore.compactStore(spark, grown)
      assert(compacted.ids == Seq(4) && compacted.buckets == buckets)
      checkRead(compacted, s"$prefix, compacted")
      assert(byKey(CdcStore.currentState(spark, compacted).collect().toSeq) ==
        byKey(unionState(grown).collect().toSeq), s"$prefix: compaction")
    }
  }

  test("streamed change batches reproduce the batch upsertMerge row-for-row") {
    val dir = Files.createTempDirectory("cdc_eq").toString
    CorpusStreams.processCdcBatch(spark, seed, 0L, "cdc_eq", dir)
    // the change set arrives time-split across two micro-batches
    CorpusStreams.processCdcBatch(spark, changes.filter($"k" % 2 === 0), 1L,
      "cdc_eq", dir)
    CorpusStreams.processCdcBatch(spark, changes.filter($"k" % 2 === 1), 2L,
      "cdc_eq", dir)
    val store = CdcStore.attachStore(spark, "cdc_eq", dir)
    assert(store.ids == Seq(0, 1, 2))
    val expected = Relational.upsertMerge(tables).collect().map(_.toSeq).toSeq
    val got = stateRows(store)
    assert(got.nonEmpty && got == expected,
      s"diff=${(got.toSet diff expected.toSet).take(3)} / " +
        s"${(expected.toSet diff got.toSet).take(3)}")
  }

  test("a replayed micro-batch is a no-op; an empty batch is graceful") {
    val dir = Files.createTempDirectory("cdc_replay").toString
    CorpusStreams.processCdcBatch(spark, seed, 0L, "cdc_rp", dir)
    CorpusStreams.processCdcBatch(spark, changes, 1L, "cdc_rp", dir)
    val before = stateRows(CdcStore.attachStore(spark, "cdc_rp", dir))
    CorpusStreams.processCdcBatch(spark, changes, 1L, "cdc_rp", dir) // replay
    assert(CdcStore.attachStore(spark, "cdc_rp", dir).ids == Seq(0, 1))
    // an empty plan, and an empty batch Spark reads as one file split
    // (written without a repartition): neither may leave a trace
    val file = Files.createTempDirectory("cdc_empty").resolve("batch").toString
    changes.coalesce(1).write.parquet(file)
    val oneSplit = spark.read.parquet(file).filter($"k" < 0)
    assert(OneSplitPlans.readsOneSplit(spark, oneSplit.queryExecution.sparkPlan))
    for ((empty, batchId) <- Seq((changes.filter(lit(false)), 2L), (oneSplit, 3L))) {
      CorpusStreams.processCdcBatch(spark, empty, batchId, "cdc_rp", dir)
      val store = CdcStore.attachStore(spark, "cdc_rp", dir)
      assert(store.ids == Seq(0, 1), s"empty batch $batchId appended: ${store.ids}")
      val list = new String(
        Files.readAllBytes(Paths.get(dir, "cdc_segments.list")), "UTF-8")
      assert(!list.contains(f"cdc-$batchId%020d"), s"batch $batchId listed: $list")
      assert(!spark.catalog.tableExists("cdc_rp_cdc2"), s"batch $batchId: table")
      assert(!Files.exists(Paths.get(dir, "cdc_rp_cdc2")), s"batch $batchId: directory")
      assert(stateRows(store) == before)
    }
  }

  test("a one-split change batch appends in one job with no exchange") {
    val file = Files.createTempDirectory("cdc_one").resolve("batch1").toString
    batch(1).coalesce(1).write.parquet(file)
    // the same two batches into a store per arm; under `distributed` the
    // batch takes the aligned repartition
    def grow(prefix: String): (CdcStore.Store, QueryRecord.Record) = {
      val dir = Files.createTempDirectory(prefix).toString
      CdcStore.appendChanges(spark, seed, prefix, dir, batchTag = Some("b0"))
      val changes = spark.read.parquet(file)
      QueryRecord.of(spark)(CdcStore.appendChanges(spark, changes, prefix,
        dir, batchTag = Some("b1")))
    }
    val (store, record) = grow("cdc_one")
    assert(store.ids == Seq(0, 1))
    assert(record.jobs == 1 && record.stages.size == 1 && record.tasks == 1,
      s"append ran ${record.jobs} jobs, ${record.stages.size} stages, " +
        s"${record.tasks} tasks")
    val changes = spark.read.parquet(file)
    val write = IndexFiles.boundBucketedWrite(changes, "k", store.buckets,
      changes.queryExecution.optimizedPlan.stats.sizeInBytes)
    assert(write eq changes)
    assert(collect(write.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e }.isEmpty)
    val (aligned, alignedRecord) = withArms("distributed")(grow("cdc_al"))
    assert(alignedRecord.stages.size > 1, "the aligned write lost its exchange")
    def bucketIds(s: CdcStore.Store) = new java.io.File(s.pathOf(1)).list()
      .toSeq.filter(_.endsWith(".parquet")).flatMap(BucketingUtils.getBucketId)
      .sorted
    assert(bucketIds(store).nonEmpty && bucketIds(store) == bucketIds(aligned))
    val state = byKey(CdcStore.currentState(spark, store).collect().toSeq)
    assert(state == byKey(unionState(store).collect().toSeq))
    assert(state == byKey(CdcStore.currentState(spark, aligned).collect().toSeq))
  }

  test("appendChanges bounds the delta-segment file count by batch bytes, not caller width") {
    // the bound lives IN the store (r17 verdict item 2): a micro-batch
    // arriving at the session's full shuffle width must still land as a
    // handful of files — every later resolve pays a fixed task setup per
    // file, and callers (the streaming loop included) should not need a
    // call-site coalesce
    val dir = Files.createTempDirectory("cdc_files").toString
    CdcStore.appendChanges(spark, seed.repartition(32), "cdc_fc", dir,
      buckets = 8, batchTag = Some("b0"))
    val files = Files.list(java.nio.file.Paths.get(dir, "cdc_fc_cdc0"))
      .toArray.map(_.toString).count(_.endsWith(".parquet"))
    assert(files <= 8, s"delta segment written with $files files (> buckets)")
  }

  test("boundBucketedWrite aligned path: exactly one bucket per write task") {
    // the helper's large-batch arm repartitions at a MULTIPLE of the
    // bucket count, relying on Spark's shuffle hash and bucket hash being
    // the same pmod(murmur3(_, 42)) family — if that alignment ever broke
    // (a hash or seed change), each of the n tasks would hold rows of
    // ~all buckets and the file count would explode toward n × buckets.
    // Feeding fake "large" stats forces the aligned arm on a small batch:
    // 1 GiB / 64 MiB = 16 tasks over 8 buckets ⇒ exactly 16 files iff
    // every task held exactly one bucket.
    val dir = Files.createTempDirectory("cdc_aligned").toString
    IndexFiles.boundBucketedWrite(seed, "k", 8, BigInt(1L << 30))
      .write.mode("overwrite")
      .bucketBy(8, "k").sortBy("k")
      .option("path", s"$dir/aligned_t")
      .saveAsTable("aligned_t")
    val files = Files.list(java.nio.file.Paths.get(dir, "aligned_t"))
      .toArray.map(_.toString).count(_.endsWith(".parquet"))
    assert(files == 16, s"aligned write produced $files files (want 16 = " +
      "one bucket per task); the shuffle/bucket hash alignment broke")
    spark.sql("DROP TABLE aligned_t")
  }

  test("an orphan segment (crash after table write, before list commit) is invisible") {
    val dir = Files.createTempDirectory("cdc_orphan").toString
    CorpusStreams.processCdcBatch(spark, seed, 0L, "cdc_or", dir)
    val before = stateRows(CdcStore.attachStore(spark, "cdc_or", dir))
    // simulate the crash window: segment data lands but the list write
    // never happened — readers must not see it
    changes.limit(5).write.parquet(s"$dir/cdc_or_cdc99")
    val store = CdcStore.attachStore(spark, "cdc_or", dir)
    assert(store.ids == Seq(0))
    assert(stateRows(store) == before)
  }

  test("compaction preserves state, keeps replays no-ops, and accepts new batches") {
    val dir = Files.createTempDirectory("cdc_compact").toString
    CorpusStreams.processCdcBatch(spark, seed, 0L, "cdc_cp", dir)
    CorpusStreams.processCdcBatch(spark, changes.filter($"k" % 2 === 0), 1L,
      "cdc_cp", dir)
    val grown = CdcStore.attachStore(spark, "cdc_cp", dir)
    val before = stateRows(grown)
    val compacted = CdcStore.compactStore(spark, grown)
    assert(compacted.ids.length == 1)
    assert(stateRows(compacted) == before, "compaction changed the state")
    // replay of a folded batch after compaction: still a no-op
    CorpusStreams.processCdcBatch(spark, changes.filter($"k" % 2 === 0), 1L,
      "cdc_cp", dir)
    assert(CdcStore.attachStore(spark, "cdc_cp", dir).ids == compacted.ids)
    // and the store keeps accepting new batches on top of the base
    CorpusStreams.processCdcBatch(spark, changes.filter($"k" % 2 === 1), 2L,
      "cdc_cp", dir)
    val after = stateRows(CdcStore.attachStore(spark, "cdc_cp", dir))
    assert(after == Relational.upsertMerge(tables).collect().map(_.toSeq).toSeq)
  }

  test("live cdcApplyLoop over a MemoryStream lands every change batch exactly once") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("cdc_live").toString
    val input = MemoryStream[(Long, String, Long, Double)]
    val q = CorpusStreams.cdcApplyLoop(spark,
      input.toDF().toDF("k", "op", "nationkey", "acctbal"), "cdc_lv", dir)
    try {
      input.addData((1L, "insert", 7L, 10.0), (2L, "insert", 8L, 20.0))
      q.processAllAvailable()
      input.addData((1L, "update", 7L, 11.5), (2L, "delete", 8L, 0.0),
        (3L, "insert", 9L, 30.0))
      q.processAllAvailable()
      val store = CdcStore.attachStore(spark, "cdc_lv", dir)
      assert(store.ids == Seq(0, 1))
      val state = CdcStore.currentState(spark, store)
        .select("k", "op", "acctbal").orderBy("k")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
      assert(state == Seq((1L, "update", 11.5), (3L, "insert", 30.0)))
    } finally q.stop()
  }

  test("a batch tag with a separator is rejected before anything is written") {
    val dir = Files.createTempDirectory("cdc_badtag").toString
    intercept[IllegalArgumentException] {
      CdcStore.appendChanges(spark, seed, "cdc_bt", dir,
        batchTag = Some("a:b"))
    }
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "cdc_segments.list")))
  }
}
