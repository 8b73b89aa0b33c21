package graft

import scala.collection.mutable
import scala.util.matching.Regex

/** Dump `.explain("formatted")` for named queries to files — the plan
  * evidence the optimization rounds commit under `plans/r<N>/`.
  *
  * Usage: sbt "runMain graft.PlanDump <outDir> <suffix> q_a,q_b,..."
  * writes `<outDir>/<query>_<suffix>.txt`, on [[GraftSession.diagnostic]],
  * passed through [[normalise]] so two builds of one plan dump the same.
  * Note: eager operators (localCheckpoint/persist-based) execute while
  * building, so the dumped plan is the final composed plan the noop sink
  * runs.
  */
object PlanDump {

  private val ExprId = """#(\d+)""".r
  private val PlanId = """\[plan_id=(\d+)\]""".r
  // `Name[id] at <method> at <File.scala>:<line>`, an RDD's toString
  private val Rdd = """(\w+)\[(\d+)\] at (\S+) at ([^\s:,]+):\d+""".r

  /** `explain` text with the JVM-global counters renumbered in order of
    * first appearance — expression ids (`k#4107L`), exchange ids
    * (`[plan_id=4107]`) and RDD ids — and each RDD's creation site cut to
    * its method and file (its line moves with unrelated edits). Which
    * attributes, exchanges and RDDs are the same stays visible; what ran
    * earlier in the JVM does not. */
  def normalise(txt: String): String = {
    // replace each match of `re` by `out(match, n)`, n numbering the
    // distinct values of its group `id` from 0
    def renumber(s: String, re: Regex, id: Int)(
        out: (Regex.Match, Int) => String): String = {
      val seen = mutable.Map.empty[String, Int]
      re.replaceAllIn(s, m => Regex.quoteReplacement(
        out(m, seen.getOrElseUpdate(m.group(id), seen.size))))
    }
    val exprs = renumber(txt, ExprId, 1)((_, n) => s"#$n")
    val plans = renumber(exprs, PlanId, 1)((_, n) => s"[plan_id=$n]")
    renumber(plans, Rdd, 2)((m, n) =>
      s"${m.group(1)}[$n] at ${m.group(3)} at ${m.group(4)}")
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.diagnostic()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), normalise(txt))
      spark.catalog.clearCache()
      GraftSession.dropPersistedRdds(spark)
      println(s"dumped $name")
    }
    spark.stop()
  }
}
