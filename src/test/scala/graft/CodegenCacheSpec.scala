package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The shipped codegen cache ([[GraftSession.CodegenCacheEntries]]) keeps
  * every class a pass over the interactive queries generates: a second
  * pass compiles none. With Spark's default 100 entries, classes evicted by
  * later queries of a pass are compiled again on the next. */
class CodegenCacheSpec extends SparkSpec {

  private val interactive = Seq("q_select_all", "q_projection", "q_distinct",
    "q_filter_eq", "q_filter_range", "q_filter_andor", "q_agg_sum", "q_agg_avg",
    "q_agg_minmax", "q_agg_count", "q_groupby", "q_orderby", "q_join",
    "q_join_multi", "q_tpch_q3")

  /** Classes compiled while every interactive key builds and runs once. */
  private def compilesInPass(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    interactive.foreach { k =>
      SparkEntry.queries(k)(spark, sfDir).write.format("noop").mode("overwrite").save()
    }
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second pass over the interactive queries compiles no class") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    compilesInPass()
    assert(compilesInPass() == 0)
  }
}
