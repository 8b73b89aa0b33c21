package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract is (sfDir, outDir); a third comma-separated name list
    // restricts the dump for local iteration
    val (sfDir, outDir, only) = args match {
      case Array(s, o)     => (s, o, None)
      case Array(s, o, ns) => (s, o, Some(ns.split(",").toSet))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // coalesce(1) is load-bearing here: queries end in a global ORDER BY
      // and a single output file preserves that row order for the driver's
      // compare. Oracle dumps are sf0.01-sized; this is NOT an engine
      // operator and never runs at scale.
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      GraftSession.dropPersistedRdds(spark)
    }
    // a tab or CR in builder-authored SQL would otherwise make the driver's
    // json.load fail and silently zero the round's correctness
    def q(s: String): String = graft.util.Json.str(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
