package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.StaticSQLConf

/** Opinionated session factory: the configuration this engine is designed
  * and benchmarked against, with the extensions (custom SQL functions, the
  * TopKPerGroup planner strategy and the [[plans.OneSplitPlans]] physical
  * rule) pre-installed.
  */
object GraftSession {

  /** Entries in Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). Every distinct
    * whole-stage or expression class the engine's plans generate must fit,
    * or a repeat query compiles again what an earlier plan evicted. One
    * run of all [[SparkEntry.queries]] keys generates about 3,900 classes;
    * this is the smallest power of two at which two runs in one JVM evict
    * none. The cache holds only classes a run has compiled, so the size
    * is a bound, not an allocation. */
  private[graft] val CodegenCacheEntries: Int = 8192

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
      .config(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, CodegenCacheEntries.toString)
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

  /** Unpersist every persisted RDD and wait until its blocks are freed.
    * `catalog.clearCache` does not free `localCheckpoint` blocks: they stay
    * in the block manager until the ContextCleaner collects their plan. A
    * main that runs one query after another calls this between them, so
    * checkpoint-heavy queries do not pile up block-manager residency and
    * slow the queries after them; it blocks so that the freeing does not
    * overlap the next query's run. */
  def dropPersistedRdds(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

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
    * installs the SQL functions either way. The codegen cache size
    * ([[CodegenCacheEntries]]) is stricter still: it is a static conf, and
    * Spark builds the cache once per JVM, on the first code generation,
    * so it only takes effect when this call creates the first session in
    * the JVM. */
  def open(dir: String, master: String = "local[*]"): Engine = {
    val spark = builder(master).getOrCreate()
    Engine(spark, dir)
  }
}
