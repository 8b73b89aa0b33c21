package graft

import org.apache.spark.sql.functions._
import graft.sources.Bucketing

class BucketingSpec extends SparkSpec {

  test("bucketed join on the bucket key plans with zero Exchange") {
    Bucketing.writeBucketed(tables.lineitem, "li_bucketed",
      "target/test-bucketed/lineitem", "l_orderkey", 8)
    Bucketing.writeBucketed(tables.orders, "ord_bucketed",
      "target/test-bucketed/orders", "o_orderkey", 8)
    val li = spark.table("li_bucketed")
    val ord = spark.table("ord_bucketed")
    val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_linenumber", "o_totalprice")
    // disable broadcast so the join planner must pick sort-merge/shuffle-hash
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = joined.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      // correctness: same result as the plain join
      val expected = tables.lineitem
        .join(tables.orders, col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() == expected && expected > 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("aggregation on the bucket key also avoids the exchange") {
    val li = spark.table("li_bucketed")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val agg = li.groupBy("l_orderkey").agg(sum("l_quantity").as("q"))
      val plan = agg.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"),
        s"bucketed groupBy must not shuffle:\n$plan")
      assert(agg.count() == tables.lineitem.select("l_orderkey").distinct().count())
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }
}
