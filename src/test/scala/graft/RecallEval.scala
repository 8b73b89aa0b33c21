package graft

import org.apache.spark.sql.DataFrame
import graft.operators.Similarity
import graft.sources.Tables

/** ANN accuracy/cost measurement harness behind PLANS.md's recall table:
  * recall@k of each approximate method against the brute-force oracle on
  * the same corpus, plus the analytic expected candidate fraction. Run ad
  * hoc while tuning; the committed PLANS.md table is this tool's output at
  * sf0.1 (deterministic corpus, seeded projections → reproducible).
  *
  * Usage: SPARK_GRAFT_SF_DIR=<sf0.1 dir> sbt "Test/runMain graft.RecallEval"
  */
object RecallEval {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.diagnostic()
    val t = Tables(spark, sfDir)
    val nQ = 50
    val k = 10

    val brute = Similarity.bruteForceTopK(t, nQ, k).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(brute).size.toDouble / brute.size
    }
    def choose(n: Int, r: Int): Long =
      (0 until r).foldLeft(1L)((acc, i) => acc * (n - i) / (i + 1))

    // ACTUAL candidate fraction: distinct (query, neighbor) pairs reaching
    // the exact-cosine rank stage, over nQ·(corpus−1) brute-force pairs.
    // The analytic bound nTables·probes/2^nBits ignores cross-table overlap
    // and uneven bucket occupancy, so it overshoots badly at high probe
    // counts — compare costs on this number. Measured through the SAME
    // Similarity.lshCandidates join the operator executes.
    val corpus = t.embeddings.count()
    def actualFrac(nBits: Int, nTables: Int, h: Int): Double = {
      val nCand = Similarity.lshCandidates(t, nQ, nBits, nTables, h)
        .select("query_id", "neighbor_id").distinct().count()
      nCand.toDouble / (nQ.toDouble * (corpus - 1))
    }

    // (nBits, nTables, probeHamming) — exact-probe baselines first, then
    // multiprobe at progressively narrower candidate fractions
    val srpConfigs = Seq(
      (4, 1, 0), (4, 4, 0), (4, 8, 0),
      (8, 4, 0), (8, 8, 0),
      (8, 4, 1), (8, 4, 2), (8, 8, 1), (8, 8, 2),
      (10, 8, 2), (12, 8, 2), (12, 8, 3),
      (12, 6, 3), (13, 8, 3), (14, 8, 3))
    srpConfigs.foreach { case (nBits, nTables, h) =>
      val probes = (0 to h).map(choose(nBits, _)).sum
      val bound = math.min(1.0, nTables.toDouble * probes / (1L << nBits))
      val r = recallOf(Similarity.lshTopK(t, nQ, k, nBits, nTables, h))
      val actual = actualFrac(nBits, nTables, h)
      println(f"SRP-LSH nBits=$nBits%-3d nTables=$nTables%-2d probeH=$h recall@$k=$r%.3f candFrac=$actual%.3f (bound $bound%.3f)")
    }
    Seq((16, 2), (16, 4), (16, 8)).foreach { case (nList, nProbe) =>
      val r = recallOf(Similarity.ivfTopK(t, nQ, k, nList, nProbe))
      println(f"IVF nList=$nList nProbe=$nProbe recall@$k=$r%.3f candFrac~=${nProbe.toDouble / nList}%.3f")
    }
    spark.stop()
  }
}
