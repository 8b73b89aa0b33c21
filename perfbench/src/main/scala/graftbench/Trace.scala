package graftbench

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. `counts` are the Spark
  * work charged to it (jobs, stages, tasks, bytes) and are written by the
  * listener thread, so they are read only after the listener bus drains. */
final class Span(val id: Int, val parent: Int, val name: String,
                 val pass: Int, val key: String, val start: Long) {
  var end: Long = 0L
  val counts: mutable.Map[String, Double] = mutable.Map.empty

  def add(k: String, v: Double): Unit = counts.synchronized {
    counts(k) = counts.getOrElse(k, 0.0) + v
  }
  def max(k: String, v: Double): Unit = counts.synchronized {
    counts(k) = math.max(counts.getOrElse(k, 0.0), v)
  }
}

/** Spans around the benchmark's own calls into each layer, plus the counts
  * Spark's public listeners report for them. Spans nest on the calling
  * thread; Spark work is charged to a span through a local property the
  * jobs inherit. Plan phases arrive through a QueryExecutionListener with
  * wall-clock stamps; each is charged to the innermost span open when the
  * phase ended (one client thread, so that span ran it). While off, `span`
  * only runs its body. */
final class Trace(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  private val sc = spark.sparkContext
  private val Prop = "graftbench.span"
  // wall-clock ms (plan phase stamps) to the nanoTime axis the spans use
  private val msToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private val all = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var on = false
  private var pass = -1
  private var key = ""

  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val stageTaskMs = new ConcurrentHashMap[Int, java.lang.Long]()

  private def spanOf(p: Properties): Option[Span] =
    Option(p).flatMap(x => Option(x.getProperty(Prop))).map(id => all.synchronized(all(id.toInt)))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = spanOf(e.properties).foreach { s =>
      e.stageIds.foreach(stageSpan.put(_, s))
      s.add("jobs", 1)
      if (e.stageInfos.exists(i => i.details != null && i.details.contains("graft.sources.")))
        s.add("schema_jobs", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        s.add("stages", 1)
        val ms = Option(stageTaskMs.remove(e.stageInfo.stageId)).map(_.longValue).getOrElse(0L)
        s.max("max_stage_tasksec", ms / 1000.0)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val ms = if (e.taskInfo != null) e.taskInfo.duration else 0L
        s.add("tasks", 1)
        s.add("tasksec", ms / 1000.0)
        stageTaskMs.merge(e.stageId, ms, (a, b) => a + b)
        val m = e.taskMetrics
        if (m != null) {
          s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add("spill_bytes", m.diskBytesSpilled.toDouble)
          s.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
        }
      }
  }

  // plan phases of every SQL execution, charged to spans when exported
  private val planned = mutable.ArrayBuffer.empty[(Map[String, (Long, Long)], Int)]
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> (p.startTimeMs * 1000000L + msToNano, p.endTimeMs * 1000000L + msToNano)
    }
    planned.synchronized(planned += ((phases, exchanges(qe))))
  }

  private def exchanges(qe: QueryExecution): Int =
    try collectWithSubqueries(qe.executedPlan) { case e: Exchange => e }.size
    catch { case _: Throwable => 0 }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  def stop(): Unit = {
    drain()
    on = false
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(sc)

  def at(p: Int, k: String): Unit = { pass = p; key = k }

  def span[T](name: String)(body: => T): T = if (!on) body else {
    val s = all.synchronized {
      val x = new Span(all.size, stack.headOption.map(_.id).getOrElse(-1), name,
        pass, key, System.nanoTime())
      all += x
      x
    }
    stack = s :: stack
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Prop, prev)
    }
  }

  /** Count a value against the innermost open span (no-op while off). */
  def count(k: String, v: Double): Unit = if (on) stack.headOption.foreach(_.add(k, v))

  /** Every span, with each plan phase as a child of the span that ran it.
    * A tracker shared with the built DataFrame stretches a phase back to
    * its first use, so a phase keeps only the part inside its owner. */
  def spans: Seq[Span] = all.synchronized {
    val out = mutable.ArrayBuffer.from(all)
    def owner(t: Long): Option[Span] =
      all.filter(s => s.start <= t && t <= s.end).maxByOption(_.start)
    planned.synchronized(planned.toList).foreach { case (phases, exch) =>
      val last = phases.values.map(_._2).maxOption
      last.flatMap(owner).foreach(_.add("exchanges", exch))
      phases.foreach { case (phase, (a, b)) =>
        owner(b).foreach { o =>
          val s0 = math.max(a, o.start)
          if (b > s0) {
            val c = new Span(out.size, o.id, s"plans.$phase", o.pass, o.key, s0)
            c.end = b
            out += c
          }
        }
      }
    }
    out.toList
  }
}

object Trace {
  /** Persisted RDD ids, to count the checkpoints a build leaves behind. */
  def persisted(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet
}
