package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions.col
import graft.plans.OneSplitPlans
import graft.sources.Bucketing

/** [[OneSplitPlans]] on a session built with [[GraftExtensions]] (the
  * shared `spark` session has none). Every sf0.001 table is one parquet
  * file that Spark reads as one split. */
class OneSplitPlansSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  lazy val ext: SparkSession = {
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder()
      .config("spark.sql.adaptive.enabled", "true")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  private def query(k: String): DataFrame = SparkEntry.queries(k)(ext, sfDir)

  /** `f`'s result and the number of jobs it ran. */
  private def jobsOf[T](f: => T): (T, Int) = {
    val (r, record) = QueryRecord.of(ext)(f)
    (r, record.jobs)
  }

  private def withConf[T](key: String, value: String)(f: => T): T = {
    ext.conf.set(key, value)
    try f finally ext.conf.unset(key)
  }

  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
    collectWithSubqueries(p) { case e: ShuffleExchangeExec => e }
  private def broadcasts(p: SparkPlan): Seq[BroadcastExchangeExec] =
    collectWithSubqueries(p) { case e: BroadcastExchangeExec => e }
  private def coalesces(p: SparkPlan): Seq[CoalesceExec] =
    collectWithSubqueries(p) { case c: CoalesceExec => c }
  private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    collectWithSubqueries(p) { case s: FileSourceScanExec => s }

  /** Rows and executed plan of `df`, collected after a warm build. */
  private def run(df: DataFrame): (Seq[Row], SparkPlan) = {
    val rows = df.collect().toSeq
    (rows, df.queryExecution.executedPlan)
  }

  test("one-split queries run as one job with no shuffle and the same rows") {
    for (k <- Seq("q_select_all", "q_distinct", "q_groupby", "q_agg_count")) {
      val expected = withConf(Arms.Key, "distributed") {
        val (rows, plan) = run(query(k))
        assert(shuffles(plan).nonEmpty, s"$k: distributed plan lost its exchange")
        rows
      }
      val df = query(k)
      val ((rows, plan), jobs) = jobsOf(run(df))
      assert(shuffles(plan).isEmpty && broadcasts(plan).isEmpty, s"$k:\n$plan")
      assert(coalesces(plan).map(_.numPartitions) == Seq(1), s"$k:\n$plan")
      assert(jobs == 1, s"$k ran $jobs jobs")
      assert(rows == expected && rows.nonEmpty, k)
    }
  }

  test("two-table join keeps only its broadcast exchange") {
    val expected = withConf(Arms.Key, "distributed")(run(query("q_join"))._1)
    val df = query("q_join")
    val ((rows, plan), jobs) = jobsOf(run(df))
    assert(shuffles(plan).isEmpty, s"\n$plan")
    assert(broadcasts(plan).size == 1, s"\n$plan")
    assert(jobs == 2, s"q_join ran $jobs jobs")
    assert(rows == expected && rows.nonEmpty)
  }

  test("a scan read as several splits keeps its exchanges") {
    val (expected, _) = withConf(Arms.Key, "distributed")(run(query("q_distinct")))
    withConf("spark.sql.files.maxPartitionBytes", "16384") {
      val (rows, plan) = run(query("q_distinct"))
      assert(scans(plan).exists(_.inputRDD.getNumPartitions >= 2), s"\n$plan")
      assert(shuffles(plan).nonEmpty && coalesces(plan).isEmpty, s"\n$plan")
      assert(rows == expected)
    }
  }

  test("a sort-merge join keeps a hash exchange on both sides") {
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val (rows, plan) = run(query("q_join"))
      val smj = collectWithSubqueries(plan) { case j: SortMergeJoinExec => j }
      assert(smj.size == 1, s"\n$plan")
      val hashed = shuffles(plan).filter(_.outputPartitioning.isInstanceOf[HashPartitioning])
      assert(hashed.size == 2, s"\n$plan")
      assert(coalesces(plan).isEmpty, s"\n$plan")
      assert(rows.nonEmpty)
    }
  }

  test("a bucketed scan is left alone") {
    val dir = Files.createTempDirectory("onesplit_bucketed").toString
    ext.range(0, 200).selectExpr("id AS k", "id % 7 AS v").coalesce(1)
      .write.option("path", dir).bucketBy(1, "k").saveAsTable("onesplit_bucketed")
    try {
      val (rows, plan) = run(ext.table("onesplit_bucketed").groupBy("v").count())
      assert(scans(plan).flatMap(OneSplitPlans.splits).isEmpty, s"\n$plan")
      assert(coalesces(plan).isEmpty && shuffles(plan).nonEmpty, s"\n$plan")
      assert(rows.map(_.getLong(1)).sum == 200)
    } finally ext.sql("DROP TABLE onesplit_bucketed")
  }

  test("the rule's split count equals the read RDD's partition count") {
    val dir = Files.createTempDirectory("onesplit_files").toString
    ext.range(0, 3000, 1, 6).selectExpr("id", "id * 2 AS v")
      .write.mode("overwrite").parquet(dir)
    val lineitem = s"$sfDir/lineitem.parquet"
    // (rule's count, inputRDD partitions) of a plain read, after it ran
    def counts(path: String): (Option[Int], Int) = {
      val df = ext.read.parquet(path)
      df.collect()
      val s = scans(df.queryExecution.executedPlan).head
      (OneSplitPlans.splits(s), s.inputRDD.getNumPartitions)
    }
    assert(counts(lineitem) == ((Some(1), 1)))
    val (files, n) = counts(dir)
    assert(files.contains(n) && n >= 2, s"six files: $files vs $n")
    withConf("spark.sql.files.maxPartitionBytes", "16384") {
      val (split, m) = counts(lineitem)
      assert(split.contains(m) && m >= 2, s"split file: $split vs $m")
    }
  }

  test("the one-split predicate holds for a narrow chain over one split only") {
    def oneSplit(df: DataFrame): Boolean =
      OneSplitPlans.readsOneSplit(ext, df.queryExecution.sparkPlan)
    val chain = ext.read.parquet(s"$sfDir/customer.parquet")
      .filter(col("c_custkey") > 10).select("c_custkey", "c_acctbal")
    assert(oneSplit(chain))
    assert(!oneSplit(chain.repartition(4)))
    assert(!oneSplit(ext.createDataFrame(Seq((1L, "a"))).toDF("k", "v")))
    // one bucket in one file: the listing alone would say one split
    val dir = Files.createTempDirectory("onesplit_pred").toString
    ext.range(0, 200).selectExpr("id AS k", "id % 7 AS v").coalesce(1)
      .write.option("path", dir).bucketBy(1, "k").saveAsTable("onesplit_pred")
    try {
      val bucketed = Bucketing.readBucketed(ext, Seq(dir),
        ext.table("onesplit_pred").schema, Seq("k"), 1)
      assert(!oneSplit(bucketed.filter(col("v") > 1)))
    } finally ext.sql("DROP TABLE onesplit_pred")
    withConf(Arms.Key, "distributed")(assert(!oneSplit(chain)))
  }
}
