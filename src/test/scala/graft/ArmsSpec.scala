package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** The arm policy: the runtime row cap catches a plan whose stats
  * underestimate it, the switch rejects unknown values, and no per-site
  * knob creeps back into the sources. */
class ArmsSpec extends SparkSpec {

  test("collectBounded falls back when plan-stats underestimate the rows") {
    val maxRows = 10L
    // one-row plan-stats, 1000 rows at run time
    val exploded = spark.range(1).select(explode(sequence(lit(1), lit(1000))).as("x"))
    assert(Arms.statsBytes(exploded) <= Arms.GraphDriverMaxBytes)
    val (got, arms) = armDecisions(Arms.collectBounded("spec.explode", exploded, maxRows))
    assert(got.isEmpty, "the row cap did not fire")
    assert(arms == Seq(ArmDecision("spec.explode", "distributed", maxRows + 1, maxRows, "rows")))
    // under the cap the rows come back, with a driver decision
    val (small, smallArms) = armDecisions(Arms.collectBounded("spec.small", spark.range(5).toDF(), maxRows))
    assert(small.map(_.map(_.getLong(0)).toSeq) == Some(0L until 5L))
    assert(smallArms == Seq(ArmDecision("spec.small", "driver", 5, maxRows, "rows")))
  }

  test("collectBounded runs no job when plan-stats exceed the budget or arms=distributed") {
    val df = spark.range(100).toDF()
    val (results, record) = QueryRecord.of(spark)(Seq(
      Arms.collectBounded("spec.stats", df, 1000L, maxStatsBytes = 1L),
      withArms("distributed")(Arms.collectBounded("spec.forced", df, 1000L))))
    assert(results == Seq(None, None))
    assert(record.jobs == 0, s"${record.jobs} jobs ran")
    assert(record.arms.map(d => (d.site, d.arm, d.unit)) ==
      Seq(("spec.stats", "distributed", "bytes"), ("spec.forced", "distributed", "bytes")))
  }

  test("an unknown spark.graft.arms value throws, naming the key") {
    val e = intercept[IllegalArgumentException] {
      withArms("driver")(Arms.collectBounded("spec.bad", spark.range(1).toDF(), 10L))
    }
    assert(e.getMessage.contains(Arms.Key))
  }

  test("no per-site knob: no sys.env under operators, no spark.graft key but the switch") {
    def sources(dir: String): Seq[Path] =
      Files.walk(Paths.get(dir)).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    val envReads = sources("src/main/scala/graft/operators")
      .filter(p => Files.readString(p).contains("sys.env"))
    assert(envReads.isEmpty, s"sys.env read in operators: $envReads")
    val key = """spark\.graft\.[A-Za-z_]+(?:\.[A-Za-z_]+)*""".r
    val keys = sources("src/main/scala").flatMap(p =>
      key.findAllIn(Files.readString(p)).map(k => s"${p.getFileName}: $k"))
    assert(keys.nonEmpty && keys.forall(_.endsWith(": " + Arms.Key)),
      s"spark.graft keys other than ${Arms.Key}: ${keys.filterNot(_.endsWith(Arms.Key))}")
  }
}
