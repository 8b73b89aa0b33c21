package graft

/** Dump `.explain("formatted")` for named queries to files — the plan
  * evidence the optimization rounds commit under `plans/r<N>/`.
  *
  * Usage: sbt "runMain graft.PlanDump <outDir> <suffix> q_a,q_b,..."
  * writes `<outDir>/<query>_<suffix>.txt`, on [[GraftSession.diagnostic]].
  * Note: eager operators (localCheckpoint/persist-based) execute while
  * building, so the dumped plan is the final composed plan the noop sink
  * runs.
  */
object PlanDump {
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
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      spark.catalog.clearCache()
      GraftSession.dropPersistedRdds(spark)
      println(s"dumped $name")
    }
    spark.stop()
  }
}
