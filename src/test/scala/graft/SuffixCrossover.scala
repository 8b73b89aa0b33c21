package graft

import org.apache.spark.sql.functions._
import graft.operators.SuffixDedup

/** Engine-vs-single-box scaling measurement for the duplicate-substring
  * finder (r13 verdict item 6: PLANS claimed "the widening form is the
  * 100 TB architecture; DuckDB's one-exchange direct form wins at sf0.1"
  * with no in-repo measurement at ANY larger scale — this harness puts
  * numbers on the trend).
  *
  * Corpora: the sf0.1 documents table scaled ×k by deterministic copies
  * — copy c of a doc keeps the full text behind a short per-copy prefix,
  * so cross-document duplication GROWS with scale (every body substring
  * now occurs in ≥k docs — the heavy-duplication regime corpus dedup
  * targets, and the regime where the widening's dictionary exchanges
  * collapse under map-side partial aggregation). The same parquet feeds
  * both engines; the DuckDB side runs the EXACT q_dup_substrings oracle
  * SQL (the direct substring-group form) via the driver-side
  * `tools/suffix_crossover_duckdb.py`.
  *
  * Usage: sbt "Test/runMain graft.SuffixCrossover [k1,k2,...]"   (default 1,3,10)
  * Prints one line per scale: corpus rows/chars + engine min-of-2 secs.
  */
object SuffixCrossover {
  def main(args: Array[String]): Unit = {
    val scales = args.headOption.map(_.split(",").toSeq.map(_.toInt))
      .getOrElse(Seq(1, 3, 10))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.diagnostic()
    val base = graft.sources.Tables(spark, sfDir).documents
      .select("doc_id", "text")
    scales.foreach { k =>
      val dir = s"target/suffix_scale/x$k"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS"))) {
        val scaled =
          if (k == 1) base
          else base
            .select(col("doc_id"), col("text"),
              explode(array((0 until k).map(lit): _*)).as("c"))
            .select((col("doc_id") + col("c") * 10000000L).as("doc_id"),
              concat(lit("v"), col("c"), lit(" "), col("text")).as("text"))
        scaled.repartition(32).write.mode("overwrite").parquet(dir)
      }
      val docs = spark.read.parquet(dir)
      val stats = docs.agg(count(lit(1)), sum(length(col("text")))).head()
      // warmup + 2 timed runs, min wins (the bench protocol)
      SuffixDedup.duplicateSubstrings(docs)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache(); GraftSession.dropPersistedRdds(spark)
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        SuffixDedup.duplicateSubstrings(docs)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        GraftSession.dropPersistedRdds(spark)
        dt
      }
      println(f"SCALE x$k rows=${stats.getLong(0)} chars=${stats.getLong(1)} engineSec=${times.min}%.2f (runs ${times.map(t => f"$t%.2f").mkString(",")}) dir=$dir")
    }
    spark.stop()
  }
}
