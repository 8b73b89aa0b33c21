package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{Engine, GraftSession, SparkEntry}
import graft.operators.CdcStore

/** The benchmark's JVM side: one client in a closed loop over one workload.
  *
  * Run: `Harness --kind queries|ingest --data DIR --out DIR --seed N
  *   --passes P --trace 0|1 --cores C --cycle K [--keys a,b,..] [--batches DIR]`
  *
  * It sets up once (session with fresh temp/local/warehouse dirs, Engine
  * registration, an untimed pass whose results are written for the
  * correctness check), then times `--passes` passes: a fixed amount of
  * work, so two versions of the engine are measured on the same
  * executions. Everything it measures goes to `result.json` (and
  * `spans.json` when traced) under `--out`; `run.py` turns those into
  * metrics. With `--trace 1` passes alternate untraced and traced, starting
  * and ending untraced, so one run also measures the tracing overhead. */
object Harness {

  final case class Conf(kind: String, data: String, out: Path, seed: Long,
                        passes: Int, trace: Boolean, cores: Int, keys: Seq[String],
                        batches: Option[Path], cycle: Int)

  private def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("kind"), m("data"), Paths.get(m("out")).toAbsolutePath, m("seed").toLong,
      m("passes").toInt, m("trace") == "1", m("cores").toInt,
      m.get("keys").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
      m.get("batches").map(Paths.get(_).toAbsolutePath), m("cycle").toInt)
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Drop what one execution left cached, so no execution reuses another's
    * results: the CacheManager entries and the RDDs (localCheckpoint
    * blocks) that `clearCache` does not free. */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def gcTotals(): (Double, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime.max(0L)).sum / 1000.0, gcs.map(_.getCollectionCount.max(0L)).sum)
  }

  private def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  final case class Op(pass: Int, traced: Boolean, key: String, kind: String,
                      wall: Double, error: Option[String])
  final case class Pass(pass: Int, traced: Boolean, wall: Double, gc_s: Double, gc_count: Long)

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val dirs = Seq("tmp", "local", "warehouse", "check").map(d => d -> c.out.resolve(d)).toMap
    dirs.values.foreach(Files.createDirectories(_))
    // the engine caches per-dataset artifacts under java.io.tmpdir: a fresh
    // one makes every run's set-up pay for them
    System.setProperty("java.io.tmpdir", dirs("tmp").toString)
    val setupOps = mutable.ArrayBuffer.empty[Op]

    val t0 = System.nanoTime()
    val s = GraftSession.builder(s"local[${c.cores}]", c.cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dirs("local").toString)
      .config("spark.sql.warehouse.dir", dirs("warehouse").toString)
      // bound the status store, as a long-lived engine would
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "10")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val session = secs(t0)
    val trace = new Trace(s)
    val ingest = if (c.kind == "ingest") Some(new Ingest(c, s, trace)) else None
    val t1 = System.nanoTime()
    Engine(s, c.data)
    val register = secs(t1)
    val t2 = System.nanoTime()
    ingest match {
      case Some(in) => in.warm(c.out.resolve("warmstore"))
      case None => c.keys.foreach { k =>
        val tk = System.nanoTime()
        val err = try {
          SparkEntry.queries(k)(s, c.data).write.mode("overwrite")
            .parquet(dirs("check").resolve(k).toString)
          None
        } catch { case e: Throwable => Some(describe(e)) }
        isolate(s)
        setupOps += Op(-1, traced = false, k, "check", secs(tk), err)
      }
    }
    val setup = Map("session_s" -> session, "register_s" -> register,
      "warmup_s" -> secs(t2), "total_s" -> secs(t0))

    val ops = mutable.ArrayBuffer.empty[Op]
    val passes = mutable.ArrayBuffer.empty[Pass]
    ingest.foreach(_.seedStore())
    val (gc0, gcn0) = gcTotals()
    val timed0 = System.nanoTime()
    // traced runs alternate untraced and traced passes, starting and ending
    // untraced: the difference between the two is the tracing overhead
    val passCount = if (c.trace) c.passes.max(3) | 1 else c.passes
    var p = 0
    while (p < passCount && ingest.forall(_.canCycle)) {
      val traced = c.trace && p % 2 == 1
      if (traced) trace.start()
      val (g0, n0) = gcTotals()
      val pt = System.nanoTime()
      trace.at(p, "")
      trace.span("bench.pass") {
        ingest match {
          case Some(in) => in.cycle(p, traced, ops)
          case None =>
            new Random(c.seed * 1000003L + p).shuffle(c.keys).foreach { k =>
              trace.at(p, k)
              trace.span("bench.isolate")(isolate(s))
              ops += timeQuery(s, trace, c.data, p, traced, k)
            }
        }
      }
      val wall = secs(pt)
      val (g1, n1) = gcTotals()
      if (traced) trace.stop()
      passes += Pass(p, traced, wall, g1 - g0, n1 - n0)
      p += 1
    }
    val timedWall = secs(timed0)
    val (gc1, gcn1) = gcTotals()
    val localBytes = dirBytes(dirs("local"))
    ingest.foreach(_.finish(dirs("check").resolve("state")))
    isolate(s)
    // a collection lets the ContextCleaner free broadcasts and shuffles of
    // dead plans, which the next collection then reclaims
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val json = JsonMapper.builder().addModule(DefaultScalaModule).build()
    def write(name: String, value: Any): Unit =
      Files.writeString(c.out.resolve(name), json.writeValueAsString(value))
    write("result.json", Map(
      "kind" -> c.kind, "cores" -> c.cores, "seed" -> c.seed, "timed_wall_s" -> timedWall,
      "gc_s" -> (gc1 - gc0), "gc_count" -> (gcn1 - gcn0), "live_heap_mb" -> heapMb,
      "local_dir_bytes" -> localBytes, "setup" -> setup, "setup_ops" -> setupOps,
      "passes" -> passes, "ops" -> ops,
      "batches_applied" -> ingest.map(_.applied), "store" -> ingest.map(_.storeDir.toString)))
    if (c.trace) write("spans.json", trace.spans.map { sp =>
      Map("id" -> sp.id, "parent" -> sp.parent, "name" -> sp.name, "pass" -> sp.pass,
        "key" -> sp.key, "start" -> sp.start, "end" -> sp.end, "counts" -> sp.counts.toMap)
    })
    s.stop()
  }

  def describe(e: Throwable): String = {
    val first = String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")
    s"${e.getClass.getSimpleName}: $first".take(300)
  }

  /** One query, from the call of its function to the end of its noop write. */
  private def timeQuery(s: SparkSession, trace: Trace, data: String, pass: Int,
                        traced: Boolean, key: String): Op = {
    val t0 = System.nanoTime()
    val err = try {
      trace.span("bench.query") {
        val before = if (traced) Trace.persisted(s) else Set.empty[Int]
        val df = trace.span("operators.build")(SparkEntry.queries(key)(s, data))
        if (traced) trace.count("checkpoints", (Trace.persisted(s) -- before).size)
        trace.span("exec.write")(df.write.format("noop").mode("overwrite").save())
        if (traced) trace.count("persisted_rdds", Trace.persisted(s).size)
      }
      None
    } catch { case e: Throwable => Some(describe(e)) }
    Op(pass, traced, key, "query", secs(t0), err)
  }

  /** Change batches over `customer` into a fresh CdcStore: each append is
    * followed by a state read; every `cycle` appends a compaction. A pass is
    * one such cycle. Batch files come from run.py: `warm/` for the set-up's
    * store, `run/` for the timed one (file 0 of each is the snapshot). */
  final class Ingest(c: Conf, s: SparkSession, trace: Trace) {
    private val root = c.batches.getOrElse(sys.error("ingest needs --batches"))
    val storeDir: Path = c.out.resolve("store")
    private val prefix = "bench"
    private var next = 0
    def applied: Int = next
    def canCycle: Boolean = batch("run", next + c.cycle - 1).isDefined

    private def batch(set: String, i: Int): Option[Path] =
      Some(root.resolve(set).resolve(f"b$i%05d.parquet")).filter(Files.exists(_))

    private def attach(pfx: String, dir: Path): CdcStore.Store =
      trace.span("cdc.attach")(CdcStore.attachStore(s, pfx, dir.toString))

    private def append(file: Path, pfx: String, dir: Path, tag: String): Unit =
      trace.span("cdc.append")(CdcStore.appendChanges(s, s.read.parquet(file.toString), pfx,
        dir.toString, batchTag = Some(tag)))

    private def read(pfx: String, dir: Path): Unit = {
      val store = attach(pfx, dir)
      trace.count("segments", store.ids.size)
      val df = trace.span("cdc.resolve")(CdcStore.currentState(s, store))
      trace.span("exec.write")(df.write.format("noop").mode("overwrite").save())
    }

    private def compact(pfx: String, dir: Path): Unit = {
      val store = attach(pfx, dir)
      trace.span("cdc.compact")(CdcStore.compactStore(s, store))
    }

    /** The set-up's untimed cycle, on a store of its own. */
    def warm(dir: Path): Unit = {
      Iterator.from(0).map(batch("warm", _)).takeWhile(_.isDefined).flatten
        .zipWithIndex.foreach { case (f, i) =>
          append(f, "warm", dir, s"w$i")
          read("warm", dir)
          isolate(s)
        }
      compact("warm", dir)
      read("warm", dir)
      isolate(s)
    }

    /** Apply the snapshot before timing starts. */
    def seedStore(): Unit = {
      append(batch("run", 0).getOrElse(sys.error("no snapshot batch")), prefix, storeDir, "b0")
      isolate(s)
      next = 1
    }

    def cycle(pass: Int, traced: Boolean, ops: mutable.Buffer[Op]): Unit = {
      def op(kind: String, pos: Int)(body: => Unit): Unit = {
        trace.at(pass, s"$kind$pos")
        trace.span("bench.isolate")(isolate(s))
        val t0 = System.nanoTime()
        val err = try { trace.span(s"bench.$kind")(body); None }
          catch { case e: Throwable => Some(describe(e)) }
        ops += Op(pass, traced, s"$kind$pos", kind, secs(t0), err)
      }
      (0 until c.cycle).foreach { j =>
        val f = batch("run", next).getOrElse(sys.error(s"ran out of batches at $next"))
        val tag = s"b$next"
        op("append", j)(append(f, prefix, storeDir, tag))
        next += 1
        op("read", j)(read(prefix, storeDir))
      }
      op("compact", 0)(compact(prefix, storeDir))
    }

    /** Untimed: replay batch 1 under its tag (exactly-once means the state
      * must not change), then write the state for the check. */
    def finish(out: Path): Unit = {
      isolate(s)
      // an old batch: applied again, it would overwrite newer changes
      append(batch("run", 1).get, prefix, storeDir, "b1")
      CdcStore.currentState(s, attach(prefix, storeDir)).write.mode("overwrite")
        .parquet(out.toString)
    }
  }
}

/** Writes the oracle SQL of the given keys as JSON: `OracleDump OUT k1,k2,..`.
  * The digests under perfbench/digests are made from it. */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val sql = args(1).split(",").map(k => k -> SparkEntry.oracleSql(k)).toMap
    Files.writeString(Paths.get(args(0)),
      JsonMapper.builder().addModule(DefaultScalaModule).build().writeValueAsString(sql))
  }
}
