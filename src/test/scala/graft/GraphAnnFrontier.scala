package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.operators.{GraphAnn, Similarity}
import graft.sources.Tables

/** Graph-ANN recall/candidate frontier at LARGER-than-testdata corpus
  * sizes — the measurement behind PLANS.md's "crossover vs IVF" claim
  * (r13 verdict item 3: the frontier was measured at n=2,000 — the whole
  * sf0.1 embeddings table — and the ≈5k crossover was extrapolated, not
  * measured; this harness puts a ≥20k point on the curve).
  *
  * The corpus is a DETERMINISTIC synthetic Gaussian-mixture-style cloud
  * in the sf embedding dimensionality: `nCenters` cluster centers with
  * uniform hash-noise components, each vector = its center + bounded
  * hash-noise jitter — the same clustered geometry as the testdata
  * embeddings (where IVF is strongest: cells mirror clusters), generated
  * entirely from xxhash64 so every run and both arms see bit-identical
  * data. No RNG, no Date: re-runs reproduce the table.
  *
  * Arms at each corpus size, all judged against [[Similarity
  * .bruteForceTopK]] on the same table with identical tie-breaks:
  *  - GraphAnn beam ∈ {16, 24, 32} at the SHIPPED defaults (maxHops=6 —
  *    the q_ann_graph wiring; the r13 PLANS table was measured at
  *    maxHops=8 and didn't correspond to the wired query), candidate
  *    count MEASURED through beamSearchWithCandidateCount.
  *  - IVF at nList ≈ √n scaling, candidate fraction = nProbe/nList
  *    (structural — the probe reads whole cells by construction).
  *
  * Usage: sbt "Test/runMain graft.GraphAnnFrontier [nVectors]"  (default 20000)
  */
object GraphAnnFrontier {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(20000)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.diagnostic()

    val dim = 64
    val nCenters = 32
    val nQ = 20
    val k = 5
    // uniform hash-noise in [-1, 1): 64-bit hash → positive mod → scale
    def u(h: Column): Column =
      pmod(h, lit(100000001L)).cast("double") / 5e7 - 1.0
    val synth = spark.range(n).toDF("vec_id")
      .withColumn("c", pmod(xxhash64(col("vec_id"), lit("cell")), lit(nCenters)))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), i =>
          (u(xxhash64(col("c"), i, lit("ctr"))) +
            lit(0.25) * u(xxhash64(col("vec_id"), i, lit("pt")))).cast("float"))
          .as("embedding"))
      .localCheckpoint()
    val t = Tables(spark, sfDir).withTable("embeddings", synth)

    val brute = Similarity.bruteForceTopK(t, nQ, k).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // graph index: nBits scales with n to keep LSH buckets bounded
    // (~n/2^nBits per table — the buildIndex scaladoc's rule)
    val nBits = math.max(4, (math.log(n / 128.0) / math.log(2)).ceil.toInt)
    val dir = java.nio.file.Files.createTempDirectory("gann_frontier").toString
    val tBuild0 = System.nanoTime()
    val idx = GraphAnn.buildIndex(spark, synth, s"gfr_$n", dir, nBits = nBits)
    val buildSec = (System.nanoTime() - tBuild0) / 1e9
    println(f"corpus n=$n dim=$dim centers=$nCenters nBits=$nBits buildSec=$buildSec%.1f")

    val queries = synth.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    Seq(16, 24, 32).foreach { beam =>
      val t0 = System.nanoTime()
      val (res, nScored) = GraphAnn.beamSearchWithCandidateCount(
        spark, idx, queries, k = k, beam = beam)
      val got = res.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sec = (System.nanoTime() - t0) / 1e9
      val recall = got.intersect(brute).size.toDouble / brute.size
      val frac = nScored.toDouble / (nQ.toDouble * n)
      println(f"graph beam=$beam%-2d maxHops=default recall@$k=$recall%.3f " +
        f"cand/query=${nScored / nQ}%d candFrac=$frac%.4f searchSec=$sec%.2f")
    }

    val nList = math.max(16, math.sqrt(n).round.toInt / 8 * 8)
    Seq(2, 4, 8).foreach { nProbe =>
      val t0 = System.nanoTime()
      val got = Similarity.ivfTopK(t, nQ, k, nList, nProbe).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val sec = (System.nanoTime() - t0) / 1e9
      val recall = got.intersect(brute).size.toDouble / brute.size
      println(f"IVF nList=$nList nProbe=$nProbe recall@$k=$recall%.3f " +
        f"cand/query~=${n * nProbe / nList}%d candFrac=${nProbe.toDouble / nList}%.4f searchSec=$sec%.2f")
    }
    spark.stop()
  }
}
