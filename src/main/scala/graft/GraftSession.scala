package graft

import org.apache.spark.sql.SparkSession

/** Opinionated session factory: the configuration this engine is designed
  * and benchmarked against, with the extensions (custom SQL functions, the
  * TopKPerGroup planner strategy and the [[plans.OneSplitPlans]] physical
  * rule) pre-installed.
  */
object GraftSession {

  /** Recommended settings; `master` defaults to all local cores, and
    * `shufflePartitions` should track the cluster's total cores (NOT the
    * 200 default — at local scale that is pure scheduling overhead, at
    * cluster scale AQE coalescing trims it back down). */
  def builder(master: String = "local[*]",
              shufflePartitions: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new GraftExtensions)

  /** The session of the diagnostic mains: [[builder]] on
    * `local[SPARK_GRAFT_CPUS]` (default: every core) with the UI off and
    * WARN logging. */
  def diagnostic(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(
      Runtime.getRuntime.availableProcessors())(_.toInt)
    val spark = builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Build the session and open a data directory as an [[Engine]].
    *
    * Note: registering the `events` table sets the session-level
    * `spark.sql.legacy.parquet.nanosAsLong` conf as a read side effect
    * (TIMESTAMP(NANOS) parquet; the conf must stay set while plans over it
    * are alive). Other nanos-timestamp parquet reads in the same session
    * will then also surface longs — see [[sources.Tables.events]].
    *
    * Caveat: `getOrCreate` returns a pre-existing SparkSession unchanged —
    * extensions and confs only apply when this call actually creates the
    * session. In a JVM that already has one (notebooks, shared test
    * runners), configure that session yourself; `Engine.register` still
    * installs the SQL functions either way. */
  def open(dir: String, master: String = "local[*]"): Engine = {
    val spark = builder(master).getOrCreate()
    Engine(spark, dir)
  }
}
