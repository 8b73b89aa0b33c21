package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Per-stage/per-task evidence harness behind PLANS.md's "scheduling
  * floor" claims (r13 verdict item 2: q_hits/q_pagerank got a
  * SparkListener job trace in r11; every other ≥1.5 s query's floor
  * story was narrative). For each query key this runs the EXACT bench
  * protocol (warmup noop write, cache/RDD drop, timed noop write) with a
  * listener attached to the timed pass and reports, per query:
  *
  *  - jobs / stages / tasks — the scheduling-event count the driver pays
  *    at ~tens of ms each regardless of data size;
  *  - sum-of-task-time (executorRunTime) vs wall — how much actual data
  *    work the stages contained;
  *  - max single stage's task-time sum — is any ONE stage data-bound?
  *  - idle share — the fraction of the wall during which ZERO tasks were
  *    running (pure driver/scheduler/planner time, the floor itself,
  *    measured from task launch/finish intervals, not inferred).
  *
  * A query whose wall is dominated by idle share + many small stages is
  * floor-bound (the claim to verify); one with a dominant data stage is
  * data-bound and the floor defense does not apply.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.StageEvidence q_a,q_b"
  */
object StageEvidence {

  private final class Collector extends SparkListener {
    val jobs = new AtomicInteger(0)
    val stageTaskMs = scala.collection.concurrent.TrieMap.empty[Int, Long]
    val intervals = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var tasks = 0

    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val rt = Option(t.taskMetrics).map(_.executorRunTime).getOrElse(0L)
      stageTaskMs.updateWith(t.stageId)(o => Some(o.getOrElse(0L) + rt))
      intervals += ((t.taskInfo.launchTime, t.taskInfo.finishTime))
    }

    /** ms within [w0, w1] during which no task was running. */
    def idleMs(w0: Long, w1: Long): Long = synchronized {
      val clipped = intervals.iterator
        .map { case (a, b) => (math.max(a, w0), math.min(b, w1)) }
        .filter { case (a, b) => b > a }
        .toSeq.sortBy(_._1)
      var covered = 0L
      var curA = -1L
      var curB = -1L
      clipped.foreach { case (a, b) =>
        if (curB < 0) { curA = a; curB = b }
        else if (a <= curB) curB = math.max(curB, b)
        else { covered += curB - curA; curA = a; curB = b }
      }
      if (curB >= 0) covered += curB - curA
      (w1 - w0) - covered
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.diagnostic()
    val defaults = Seq("q_ann_graph", "q_dedup_cut", "q_dup_substrings",
      "q_label_prop", "q_kcore", "q_rbo", "q_hybrid_search", "q_percentiles",
      "q_multi_distinct", "q_bm25_search", "q_triangles", "q_hits", "q_pagerank")
    val names = args.headOption.map(_.split(",").toSeq).getOrElse(defaults)
    def dropLingeringRdds(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    println("| query | wall s | jobs | stages | tasks | task-time s | max-stage s | cpu util | idle share |")
    println("|---|---|---|---|---|---|---|---|---|")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warmup
      spark.catalog.clearCache()
      dropLingeringRdds()
      val c = new Collector
      spark.sparkContext.addSparkListener(c)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val w1 = System.currentTimeMillis()
      // drain queued listener events before reading the collector
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(c)
      val taskS = c.stageTaskMs.values.sum / 1e3
      val maxStageS = (c.stageTaskMs.values ++ Seq(0L)).max / 1e3
      val util = taskS / (wall * spark.sparkContext.defaultParallelism)
      val idle = c.idleMs(w0, w1).toDouble / math.max(1L, w1 - w0)
      println(f"| $name | $wall%.2f | ${c.jobs.get()} | ${c.stageTaskMs.size} | ${c.tasks} | $taskS%.2f | $maxStageS%.2f | $util%.3f | $idle%.2f |")
      dropLingeringRdds()
    }
    spark.stop()
  }
}
