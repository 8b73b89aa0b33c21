package graft
import org.apache.spark.scheduler._
import scala.collection.concurrent.TrieMap
/** Per-stage breakdown of ONE query under the bench protocol (warmup,
  * cache/RDD drop, timed noop write): stage id, task count, summed task
  * time, and stage wall — the finer-grained companion to
  * [[StageEvidence]]'s per-query roll-up. r16 found three bottlenecks
  * with it: the HITS dual-cache materialization, the single-partition
  * suffix-gram explode, and AQE coalescing the mergeSpans window to one
  * task. Usage: sbt "runMain graft.StageBreakdown q_name [sfDir]". */
object StageBreakdown {
  def main(args: Array[String]): Unit = {
    val qname = args.headOption.getOrElse("q_hits")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.diagnostic()
    // warmup
    SparkEntry.queries(qname)(spark, sfDir).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val stages = TrieMap.empty[Int, (String, Int, Long, Long)] // name, tasks, taskms, submitted
    val done = TrieMap.empty[Int, (Long, Long)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        done(si.stageId) = (si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L))
        stages(si.stageId) = (si.name.take(60), si.numTasks, si.taskMetrics.executorRunTime, si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L))
      }
    })
    val t0 = System.nanoTime()
    SparkEntry.queries(qname)(spark, sfDir).write.format("noop").mode("overwrite").save()
    val dt = (System.nanoTime()-t0)/1e9
    Thread.sleep(1000)
    println(f"WALL $dt%.2f s")
    stages.toSeq.sortBy(_._1).foreach { case (id, (n, nt, rt, wall)) =>
      println(f"stage $id%4d tasks=$nt%4d taskms=$rt%7d wallms=$wall%6d  $n")
    }
  }
}
