package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.StaticSQLConf

class GraftSessionSpec extends SparkSpec {

  test("GraftSession builder installs extensions and recommended confs") {
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = GraftSession.builder(master = "local[2]", shufflePartitions = 2)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      assert(s2.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(s2.conf.get("spark.sql.shuffle.partitions") == "2")
      assert(s2.conf.get(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key) ==
        GraftSession.CodegenCacheEntries.toString)
      // extensions are live: custom function resolves in SQL
      assert(s2.sql("SELECT rolling_hash('x') AS h").head().getLong(0) != 0L)
      // the one-split physical rule runs after the planner strategies
      assert(s2.sessionState.adaptiveRulesHolder.queryPostPlannerStrategyRules
        .exists(_.isInstanceOf[graft.plans.OneSplitPlans]))
    } finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }
}
