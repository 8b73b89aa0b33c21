package graft

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One size-gated path choice, posted to the listener bus as it is made.
  * `arm` is `driver` (a bounded collect ran), `small` (the below-threshold
  * plan shape) or `distributed` (the above-threshold, 100 TB path);
  * `measured` was compared against `limit`, both in `unit` (`bytes` or
  * `rows`). Under `spark.graft.arms=distributed` every arm is
  * `distributed`, whatever `measured` is. */
final case class ArmDecision(site: String, arm: String, measured: Long,
                             limit: Long, unit: String) extends SparkListenerEvent {
  /** The [[QueryRecord]] blocks open on the posting thread, set as it posts. */
  private[graft] var postedIn: Option[String] = None
}

/** The one arm-selection policy: every size-gated path choice in the
  * operators compares against a threshold here and posts an
  * [[ArmDecision]]. The session conf `spark.graft.arms` is `auto` (the
  * default: compare) or `distributed` (every site takes its
  * above-threshold path, so the 100 TB arms can be checked on small
  * data); any other value throws. */
object Arms {
  val Key = "spark.graft.arms"

  /** Trade-graph and GraphAnn driver arms: plan-stats bytes collected. */
  val GraphDriverMaxBytes: Long = 64L << 20
  /** Trade-graph driver arms: pairs collected (64 MB of 16-byte pairs). */
  val GraphDriverMaxRows: Long = 4000000L
  /** GraphAnn driver scoring: adjacency rows collected (each with a vector). */
  val GraphAnnDriverMaxRows: Long = 1000000L
  val CcDriverMaxEdges: Long = 2000000L
  val MmrDriverMaxRows: Long = 100000L
  /** Graph edge tables stay a lazy scan, not a cached layout, up to this. */
  val GraphCacheMinBytes: Long = 256L << 20
  /** TextIndex probes read flat, not bucketed, up to this many index bytes. */
  val TextIndexBucketedMinBytes: Long = 256L << 20
  val SuffixDirectMaxBytes: Long = 768L << 20
  val KernelSpreadMaxBytes: Long = 64L << 20
  /** GraphAnn hops add a literal `isin` for up to this many frontier ids. */
  val IsinFrontierMax: Int = 1024

  private[graft] def forcedDistributed(spark: SparkSession): Boolean =
    spark.conf.getOption(Key).getOrElse("auto") match {
      case "auto" => false
      case "distributed" => true
      case other => throw new IllegalArgumentException(
        s"$Key must be 'auto' or 'distributed', got '$other'")
    }

  /** Catalyst's size estimate for `df` (free to read — no job). */
  def statsBytes(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.stats.sizeInBytes.min(Long.MaxValue).toLong

  /** True selects the `small` shape: `df`'s plan-stats are within `maxBytes`. */
  def small(site: String, df: DataFrame, maxBytes: Long): Boolean =
    small(df.sparkSession, site, statsBytes(df), maxBytes, "bytes")

  /** True selects the `small` shape: `measured` is within `limit`. */
  def small(spark: SparkSession, site: String, measured: Long, limit: Long,
            unit: String): Boolean = {
    val below = !forcedDistributed(spark) && measured <= limit
    post(spark, ArmDecision(site, if (below) "small" else "distributed",
      measured, limit, unit))
    below
  }

  /** `df`'s rows for a driver arm, or None for the distributed arm. None
    * without a job when the switch forces it or plan-stats exceed
    * `maxStatsBytes`; else `limit(maxRows + 1)` is collected, and None if
    * the cap is reached — before the caller builds any driver state. */
  def collectBounded(site: String, df: DataFrame, maxRows: Long,
                     maxStatsBytes: Long = Long.MaxValue): Option[Array[Row]] = {
    val spark = df.sparkSession
    val bytes = statsBytes(df)
    if (forcedDistributed(spark) || bytes > maxStatsBytes) {
      post(spark, ArmDecision(site, "distributed", bytes, maxStatsBytes, "bytes"))
      return None
    }
    val rows = df.limit((maxRows + 1).min(Int.MaxValue).toInt).collect()
    val fits = rows.length <= maxRows
    post(spark, ArmDecision(site, if (fits) "driver" else "distributed",
      rows.length, maxRows, "rows"))
    Option.when(fits)(rows)
  }

  private def post(spark: SparkSession, d: ArmDecision): Unit = {
    d.postedIn = QueryRecord.openBlocks(spark)
    ListenerBridge.post(spark.sparkContext, d)
  }
}
