package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The Spark work one block of code ran: the engine's one per-query
  * record, for any caller (the bench, the specs, [[main]]'s stage table).
  *
  * [[of]] tags the calling thread with a local property, which the block's
  * jobs inherit (broadcast and subquery threads too), and charges to the
  * block only the jobs, stages and tasks that carry the tag, so work that
  * another thread runs meanwhile is not counted. An [[ArmDecision]] is
  * charged when the block's thread posted it. A block nested in another is
  * charged to both. The record is read after the listener bus has
  * drained, so no event of the block is missed. */
object QueryRecord {

  /** One completed stage: `runMs` is its tasks' summed `executorRunTime`;
    * `submitted` and `completed` are wall-clock ms. */
  final case class Stage(id: Int, name: String, tasks: Int, runMs: Long,
                         submitted: Long, completed: Long)

  /** `startMs`/`endMs` bound the block in wall-clock ms; `taskMs` sums
    * every task's duration; `intervals` are the tasks' (launch, finish)
    * wall-clock ms. */
  final case class Record(startMs: Long, endMs: Long, jobs: Int,
                          stages: Seq[Stage], tasks: Int, taskMs: Long,
                          intervals: Seq[(Long, Long)], arms: Seq[ArmDecision]) {
    def wallSec: Double = (endMs - startMs) / 1e3
    /** Task seconds, the sum of task durations (the bench's `tasksec`). */
    def tasksec: Double = taskMs / 1e3

    /** Share of the block's wall during which no task was running: the
      * driver, scheduler and planner time between tasks. */
    def idleShare: Double = {
      val clipped = intervals
        .map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var reach = startMs
      clipped.foreach { case (a, b) =>
        covered += math.max(0L, b - math.max(a, reach))
        reach = math.max(reach, b)
      }
      1.0 - covered.toDouble / math.max(1L, endMs - startMs)
    }
  }

  private val Prop = "graft.queryrecord"
  private val ids = new AtomicLong

  /** Collects one block's events; the bus thread writes, [[record]] reads
    * after the drain. */
  private final class Recorder(id: String) extends SparkListener {
    private val mine = mutable.Set.empty[Int]
    private val stages = mutable.ArrayBuffer.empty[Stage]
    private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    private val arms = mutable.ArrayBuffer.empty[ArmDecision]
    private var jobs, tasks = 0
    private var taskMs = 0L

    /** `blocks` (a [[Prop]] value) names this block. */
    private def ours(blocks: String): Boolean =
      blocks != null && blocks.split(',').contains(id)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (e.properties != null && ours(e.properties.getProperty(Prop))) {
        jobs += 1
        mine ++= e.stageIds
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = e.stageInfo
      if (mine.contains(s.stageId))
        stages += Stage(s.stageId, s.name, s.numTasks,
          Option(s.taskMetrics).fold(0L)(_.executorRunTime),
          s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (mine.contains(e.stageId) && e.taskInfo != null) {
        tasks += 1
        taskMs += e.taskInfo.duration
        intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case d: ArmDecision if d.postedIn.exists(ours) => arms += d
        case _ =>
      }
    }

    def record(startMs: Long, endMs: Long): Record = synchronized {
      Record(startMs, endMs, jobs, stages.sortBy(_.id).toList, tasks, taskMs,
        intervals.toList, arms.toList)
    }
  }

  /** The calling thread's open blocks, as [[ArmDecision.postedIn]] records. */
  private[graft] def openBlocks(spark: SparkSession): Option[String] =
    Option(spark.sparkContext.getLocalProperty(Prop))

  /** `body`'s result and the record of the Spark work it ran. */
  def of[T](spark: SparkSession)(body: => T): (T, Record) = {
    val sc = spark.sparkContext
    val id = ids.incrementAndGet().toString
    val recorder = new Recorder(id)
    val outer = sc.getLocalProperty(Prop)
    sc.addSparkListener(recorder)
    sc.setLocalProperty(Prop, Option(outer).fold(id)(o => s"$o,$id"))
    val startMs = System.currentTimeMillis()
    try {
      val r = body
      val endMs = System.currentTimeMillis()
      ListenerBridge.waitUntilListenerBusEmpty(sc)
      (r, recorder.record(startMs, endMs))
    } finally {
      sc.setLocalProperty(Prop, outer)
      sc.removeSparkListener(recorder)
    }
  }

  /** Per-query stage evidence under the bench protocol (warmup noop
    * write, cache and RDD drop, recorded noop write). One table row per
    * query:
    *  - jobs, stages and tasks: the scheduling events the driver pays for
    *    whatever the data size;
    *  - task time (summed `executorRunTime`) against wall, and the largest
    *    single stage's task time: is any one stage data-bound?
    *  - idle share: the part of the wall with no task running, measured
    *    from task launch and finish times.
    *
    * Under each row, one line per stage: id, tasks, task ms, stage wall ms
    * and name. A query with a high idle share over many small stages is
    * bound by the per-job floor; one with a dominant stage is data-bound.
    *
    * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.QueryRecord q_a,q_b"
    */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.diagnostic()
    val defaults = Seq("q_ann_graph", "q_dedup_cut", "q_dup_substrings",
      "q_label_prop", "q_kcore", "q_rbo", "q_hybrid_search", "q_percentiles",
      "q_multi_distinct", "q_bm25_search", "q_triangles", "q_hits", "q_pagerank")
    val names = args.headOption.map(_.split(",").toSeq).getOrElse(defaults)
    println("| query | wall s | jobs | stages | tasks | task-time s | max-stage s | cpu util | idle share |")
    println("|---|---|---|---|---|---|---|---|---|")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warmup
      spark.catalog.clearCache()
      GraftSession.dropPersistedRdds(spark)
      val (_, r) = of(spark)(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      val taskS = r.stages.map(_.runMs).sum / 1e3
      val maxStageS = r.stages.map(_.runMs).maxOption.getOrElse(0L) / 1e3
      val util = taskS / (r.wallSec * spark.sparkContext.defaultParallelism)
      println(f"| $name | ${r.wallSec}%.2f | ${r.jobs} | ${r.stages.size} | ${r.tasks} | $taskS%.2f | $maxStageS%.2f | $util%.3f | ${r.idleShare}%.2f |")
      r.stages.foreach { s =>
        println(f"stage ${s.id}%4d tasks=${s.tasks}%4d taskms=${s.runMs}%7d wallms=${s.completed - s.submitted}%6d  ${s.name.take(60)}")
      }
      GraftSession.dropPersistedRdds(spark)
    }
    spark.stop()
  }
}
