package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

class PlanDumpSpec extends SparkSpec {

  private def explain(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  /** A plan with an exchange, a checkpointed RDD and a self-join. */
  private def build(): DataFrame = {
    val base = spark.range(200).toDF("k").localCheckpoint()
    base.groupBy((col("k") % 7).as("g")).count()
      .join(base, col("g") === col("k"))
  }

  test("two builds of one plan dump identically once normalised") {
    val (a, b) = (explain(build()), explain(build()))
    assert(a.contains("[plan_id=") && a.contains("RDD["), a)
    assert(a != b, "raw dumps should differ in their ids")
    assert(PlanDump.normalise(a) == PlanDump.normalise(b))
  }

  test("normalise renumbers by first appearance and keeps which ids match") {
    val raw = "Project [k#41L, v#7, k#41L]\n" +
      "Exchange hashpartitioning(k#41L, 4), [plan_id=4107]\n" +
      "BroadcastExchange [plan_id=4109]\nReused [plan_id=4107]\n" +
      "[k#41L], MapPartitionsRDD[57] at localCheckpoint at Similarity.scala:80, " +
      "MapPartitionsRDD[12] at localCheckpoint at Graph.scala:12 " +
      "MapPartitionsRDD[57] at localCheckpoint at Similarity.scala:80"
    assert(PlanDump.normalise(raw) ==
      "Project [k#0L, v#1, k#0L]\n" +
        "Exchange hashpartitioning(k#0L, 4), [plan_id=0]\n" +
        "BroadcastExchange [plan_id=1]\nReused [plan_id=0]\n" +
        "[k#0L], MapPartitionsRDD[0] at localCheckpoint at Similarity.scala, " +
        "MapPartitionsRDD[1] at localCheckpoint at Graph.scala " +
        "MapPartitionsRDD[0] at localCheckpoint at Similarity.scala")
  }
}
