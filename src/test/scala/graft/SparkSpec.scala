package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.StaticSQLConf
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** Shared test session: one local SparkSession per suite (lazy), sf0.001
  * tables, and plan-shape helpers. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
  def tables: Tables = Tables(spark, sfDir)

  /** Formatted physical plan of a DataFrame (for plan-shape assertions). */
  def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString()

  /** Run `f` with `spark.graft.arms` set to `mode` (see [[Arms]]). */
  def withArms[T](mode: String)(f: => T): T = {
    spark.conf.set(Arms.Key, mode)
    try f finally spark.conf.unset(Arms.Key)
  }

  /** `f`'s result and the [[ArmDecision]]s posted while it ran. */
  def armDecisions[T](f: => T): (T, Seq[ArmDecision]) = {
    val (r, record) = QueryRecord.of(spark)(f)
    (r, record.arms)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the shipped codegen cache size (see GraftSession.builder): a static
      // conf, so only the JVM's first session can set it
      .config(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key,
        GraftSession.CodegenCacheEntries.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
