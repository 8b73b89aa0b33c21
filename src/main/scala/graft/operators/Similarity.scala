package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import graft.Arms
import graft.functions.HashFunctions
import graft.sources.Tables

/** Similarity search over the `embeddings` table (`array<float>` vectors).
  *
  * The top-k family (SURVEY.md §2 rows 20–21), every member for a BOUNDED
  * query set (`vec_id < nQueries`):
  *  - exact: [[bruteForceTopK]], [[int8TopK]] (int8 codes), [[twoStageTopK]]
  *    and [[binaryTopK]] (coarse shortlist + exact rerank) — the query side
  *    broadcasts, the corpus streams through one narrow projection.
  *  - LSH ([[lshTopK]]): bucket the corpus once per SRP table, equi-join
  *    queries to their buckets — candidates per query ≈ corpus/2^bits.
  *  - quantized: [[ivfTopK]] (coarse cells), [[pqTopK]] (PQ codes + ADC),
  *    [[ivfPqTopK]] (both), and the stored forms [[AnnIndex]] (IVF) and
  *    [[GraphAnn]] (neighbor graph over SRP candidate edges).
  *
  * Each shared step has one definition here: [[queryPairs]] (broadcast
  * query side), [[srpTables]] (multi-table SRP buckets), [[boundedVectors]]
  * (the vec_id-bounded driver collect), [[fitUnitCentroids]] /
  * [[fitCentroids]] (the quantizer fit), [[nearestCells]] (the cell
  * probe), [[pqCodebooks]] / [[adcTable]] (PQ tables), and the ranking
  * tails [[rankByCosine]] / [[rankByAdc]] / [[emptyResult]].
  */
object Similarity {

  /** Exact brute-force cosine top-k for query vectors `vec_id < nQueries`.
    * The query side is tiny and broadcast; cosine runs in one codegen'd
    * kernel ([[graft.functions.HashImpl.cosineF]]); ranking is a per-query
    * window (bounded partitions — safe at any corpus size). */
  def bruteForceTopK(t: Tables, nQueries: Int = 10, k: Int = 5): DataFrame =
    rankByCosine(queryPairs(t.embeddings, nQueries)
      .withColumn("cosine", HashFunctions.cosineSim(col("q_emb"), col("embedding"))), k)

  /** The bounded query side: `(query_id, q_emb)` for `vec_id < nQueries`,
    * `q_emb` read from the `vec` column. */
  private[operators] def queries(emb: DataFrame, nQueries: Int,
                                 vec: String = "embedding"): DataFrame =
    emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col(vec).as("q_emb"))

  /** Every (corpus vector, bounded query) pair but self-pairs: the corpus
    * `(neighbor_id, <vec>)` streams once against the broadcast [[queries]]. */
  private[operators] def queryPairs(emb: DataFrame, nQueries: Int,
                                    vec: String = "embedding"): DataFrame =
    emb.select(col("vec_id").as("neighbor_id"), col(vec))
      .join(broadcast(queries(emb, nQueries, vec)), col("neighbor_id") =!= col("query_id"))

  /** The cosine ranking tail: per query the top `k` by `cosine` desc with a
    * `neighbor_id` tie-break, emitted `(query_id, neighbor_id, cosine)` with
    * the cosine rounded to 6 dp and ordered for the dump. */
  private[operators] def rankByCosine(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
      .orderBy("query_id", "neighbor_id")
  }

  /** The ADC ranking tail over (query, candidate) rows carrying `codes` and
    * the query's `lut`: self-pairs dropped, the ROUNDED ADC distance
    * ascending with a `neighbor_id` tie-break, top `k` per query. */
  private[operators] def rankByAdc(cand: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    cand.filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_dist",
        round(HashFunctions.adcDist(col("codes"), col("lut")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adc_dist"))
      .orderBy("query_id", "neighbor_id")
  }

  /** The empty-corpus result: no rows, `(query_id, neighbor_id, <score>)`. */
  private[operators] def emptyResult(spark: SparkSession, score: String): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), StructType(Seq(
      StructField("query_id", LongType), StructField("neighbor_id", LongType),
      StructField(score, DoubleType))))

  /** Embedding-dimension truncation recall (the Matryoshka question —
    * Kusupati et al. 2022, public method): for each truncated dimension
    * `d`, how much of the FULL-dimension exact top-k does a top-k over
    * only the first `d` coordinates recover? Emits one row per
    * (dim, query): the overlap count and recall@k — the measured curve a
    * pipeline reads to decide how many dimensions to store/ship (half the
    * dims at recall 0.9 halves the ANN index footprint).
    *
    * ONE corpus scan for every arm: the fused kernel scores the full
    * vector AND each `slice(embedding, 1, d)` truncation in the same
    * broadcast-join projection (the flops of the extra arms are a
    * fraction of the full-dim pass — dims sum to less than the full
    * width), landing in one slim (query, neighbor, cos…) table of
    * nQueries·N rows, checkpointed once. Each arm's top-k is then a
    * bounded per-query window over that table and the overlap a
    * semi-join of (query, neighbor) pairs — k·nQueries rows per arm,
    * driver-free. The per-arm ranking (cosine of the truncated vectors,
    * neighbor-id tie-break) is exactly [[bruteForceTopK]]'s. */
  def truncationRecall(t: Tables, dims: Seq[Int] = Seq(8, 16, 32),
                       nQueries: Int = 10, k: Int = 5): DataFrame = {
    val base = queryPairs(t.embeddings, nQueries)
      .withColumn("cos_full",
        HashFunctions.cosineSim(col("q_emb"), col("embedding")))
    val withCos = dims.foldLeft(base) { case (df, d) =>
      df.withColumn(s"cos_$d", HashFunctions.cosineSim(
        slice(col("q_emb"), 1, d), slice(col("embedding"), 1, d)))
    }.select(col("query_id") +: col("neighbor_id") +: col("cos_full") +:
        dims.map(d => col(s"cos_$d")): _*)
      .localCheckpoint() // every arm's window reads it
    def topk(cosCol: String) = withCos
      .withColumn("rn", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col(cosCol).desc, col("neighbor_id").asc)))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id")
    val full = topk("cos_full").localCheckpoint() // one arm per dim reads it
    val qids = queries(t.embeddings, nQueries).select("query_id")
    val arms = dims.map { d =>
      val hits = full.join(topk(s"cos_$d"), Seq("query_id", "neighbor_id"),
          "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_common"))
      qids.join(hits, Seq("query_id"), "left")
        .select(lit(d).as("dim"), col("query_id"),
          coalesce(col("n_common"), lit(0L)).as("n_common"))
    }
    arms.reduce(_.unionByName(_))
      .withColumn("recall_at_k", round(col("n_common").cast("double") / k, 6))
      .orderBy("dim", "query_id")
  }

  /** TWO-STAGE ANN funnel (the Matryoshka retrieval pattern
    * [[truncationRecall]] measures the recall curve for — Kusupati et
    * al. 2022): stage 1 ranks EVERY candidate by cosine over only the
    * first `coarseDims` coordinates and keeps a per-query shortlist;
    * stage 2 re-scores the shortlist with the FULL-dimension exact
    * cosine and emits the top-k. The production funnel shape: stage 1
    * reads coarseDims/dim of the vector bytes (a stored truncated column
    * at scale — 4× less memory traffic at 64→16), stage 2 touches only
    * shortlist·nQueries vectors. Same determinism contract as
    * [[bruteForceTopK]] (unrounded ranking, id tie-breaks), so the SQL
    * oracle replays both stages exactly. */
  def twoStageTopK(t: Tables, nQueries: Int = 10, k: Int = 5,
                   coarseDims: Int = 32, shortlist: Int = 100): DataFrame = {
    val coarse = queryPairs(t.embeddings, nQueries)
      .withColumn("_ccos", HashFunctions.cosineSim(
        slice(col("q_emb"), 1, coarseDims), slice(col("embedding"), 1, coarseDims)))
    rerankShortlist(coarse, col("_ccos").desc, shortlist, k)
  }

  /** The funnel's two bounded per-query windows: keep the `shortlist`
    * candidates first by `coarseOrder` (id tie-break), re-score them with
    * the exact full-dimension cosine, and emit the top `k` — `keep`
    * columns, then the cosine rounded to 6 dp, ordered for the dump. */
  private def rerankShortlist(coarse: DataFrame, coarseOrder: Column, shortlist: Int,
                              k: Int, keep: Seq[Column] = Nil): DataFrame = {
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(coarseOrder, col("neighbor_id").asc)
    val listed = coarse.withColumn("_rn", row_number().over(w1))
      .filter(col("_rn") <= shortlist)
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("_cos").desc, col("neighbor_id").asc)
    listed
      .withColumn("_cos", HashFunctions.cosineSim(col("q_emb"), col("embedding")))
      .withColumn("_rk", row_number().over(w2))
      .filter(col("_rk") <= k)
      .select(Seq(col("query_id"), col("neighbor_id")) ++ keep :+
        round(col("_cos"), 6).as("cosine"): _*)
      .orderBy("query_id", "neighbor_id")
  }

  /** BINARY-QUANTIZATION ANN (1-bit sign codes + Hamming shortlist + exact
    * rerank — the "binary quantization" coarse stage production vector
    * stores ship, 32× smaller than float32): every vector's 64 sign bits
    * pack into ONE long ([[graft.functions.HashImpl.signPack64]], fused
    * codegen kernel), the coarse stage ranks candidates by
    * `bit_count(code XOR qcode)` — an 8-byte read + one POPCNT per
    * candidate instead of 256 bytes + 64 FMAs — and only the per-query
    * `shortlist` Hamming-nearest survivors pay the exact float cosine.
    *
    * Scale shape, same contract as [[twoStageTopK]]: bounded query side
    * broadcast; corpus streams ONCE through the packed-code projection
    * (at real scale the 8-byte code column is precomputed and stored, so
    * the coarse scan reads 1/32 of the vector bytes); both stages rank in
    * bounded per-query windows with id tie-breaks, so a SQL oracle
    * replays them exactly (its dimension-wise sign-mismatch count equals
    * the XOR popcount by construction). Hamming ties at the shortlist
    * boundary cut deterministically on neighbor_id — recall is graded by
    * the spec against [[bruteForceTopK]], not assumed. */
  def binaryTopK(t: Tables, nQueries: Int = 10, k: Int = 5,
                 shortlist: Int = 100): DataFrame = {
    val emb = t.embeddings
    val coded = emb.select(col("vec_id"), col("embedding"),
      HashFunctions.signPack64(col("embedding")).as("code"))
    val q = coded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("code").as("q_code"))
    val coarse = coded.select(col("vec_id").as("neighbor_id"),
        col("embedding"), col("code"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("hamming",
        bit_count(col("code").bitwiseXOR(col("q_code"))).cast("long"))
    rerankShortlist(coarse, col("hamming").asc, shortlist, k, keep = Seq(col("hamming")))
  }

  /** MARGIN-BASED ALIGNMENT MINING (Artetxe & Schwenk 2019 — the
    * LASER/CCMatrix bitext-mining criterion, public method): for each
    * query vector x, the best candidate y ranked NOT by raw cosine but by
    * the RATIO margin cos(x,y) / (½·(avgTopK(x) + avgTopK(y))) — cosine
    * normalized by both endpoints' neighborhood density, which kills the
    * hub vectors that raw-cosine mining pairs with everything. The margin
    * value itself is emitted: downstream keeps pairs above a threshold
    * (≈1.05 in the literature) as mined parallel/aligned pairs.
    *
    * Scale shape: the bounded query set broadcasts; candidates stream
    * ONCE through the fused cosine kernel into a slim (x, y, cos) table
    * (|Y|·nQueries rows, checkpointed — three consumers); avgTopK(x) is a
    * bounded-partition window, avgTopK(y) a per-candidate window over its
    * nQueries scores. Neighborhood means fold in SORTED (cos, id) order —
    * the deterministic-sum treatment every kernel oracle here uses — so
    * engine and oracle margins are bit-identical, not merely close.
    * At corpus scale the candidate generator swaps for [[AnnIndex]]
    * probes; margin logic downstream is unchanged. */
  def marginMine(t: Tables, nQueries: Int = 10, k: Int = 4): DataFrame = {
    val emb = t.embeddings
    val scored = emb.filter(col("vec_id") >= nQueries)
      .select(col("vec_id").as("cand_id"), col("embedding"))
      .crossJoin(broadcast(queries(emb, nQueries)))
      .withColumn("cos", HashFunctions.cosineSim(col("q_emb"), col("embedding")))
      .select("query_id", "cand_id", "cos")
      .localCheckpoint()
    def orderedMean(df: DataFrame, key: String, other: String): DataFrame = {
      val ranked = df.withColumn("rn", row_number().over(
        Window.partitionBy(col(key)).orderBy(col("cos").desc, col(other).asc)))
        .filter(col("rn") <= k)
      ranked.groupBy(key)
        .agg(aggregate(
          transform(array_sort(collect_list(struct(col("cos"), col(other)))),
            e => e.getField("cos")),
          lit(0.0), (acc, x) => acc + x).as("_sum"),
          count(lit(1)).as("_n"))
        .select(col(key), (col("_sum") / col("_n")).as(s"_avg_$key"))
    }
    val ax = orderedMean(scored, "query_id", "cand_id")
    val ay = orderedMean(scored, "cand_id", "query_id")
    val wBest = Window.partitionBy(col("query_id"))
      .orderBy(col("margin").desc, col("cand_id").asc)
    scored
      .join(broadcast(ax), Seq("query_id"))
      .join(ay, Seq("cand_id"))
      .withColumn("margin",
        col("cos") / ((col("_avg_query_id") + col("_avg_cand_id")) / 2.0))
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("cand_id").as("match_id"),
        round(col("cos"), 6).as("cosine"), round(col("margin"), 6).as("margin"))
      .orderBy("query_id")
  }

  /** HARD-NEGATIVE MINING for contrastive training (the retrieval-training
    * data op — Karpukhin et al. 2020 DPR lineage, public method): for each
    * anchor, the top-`k` most-similar vectors with a DIFFERENT label — the
    * negatives that actually teach a bi-encoder — plus the margin against
    * the anchor's nearest SAME-label neighbor. margin ≤ 0 means a negative
    * outranks every positive: the pairs a curriculum samples first.
    *
    * Scale shape, same contract as [[bruteForceTopK]]: the bounded anchor
    * set broadcasts, the corpus streams ONCE through the fused cosine
    * kernel, and both ranks (positive top-1, negative top-k) come from a
    * single `(query, is_positive)`-partitioned window — one shuffle of
    * anchor-keyed rows, then a broadcast join of the two tiny ranked
    * sides. Swap the brute-force scan for [[AnnIndex]] probes at corpus
    * scale; the mining logic downstream is unchanged. */
  def hardNegatives(t: Tables, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val emb = t.embeddings
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val ranked = emb
      .select(col("vec_id").as("neighbor_id"), col("embedding"), col("label"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", HashFunctions.cosineSim(col("q_emb"), col("embedding")))
      .withColumn("is_pos", (col("label") === col("q_label")).cast("int"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"), col("is_pos"))
          .orderBy(col("cosine").desc, col("neighbor_id").asc)))
      .filter((col("is_pos") === 1 && col("rn") === 1) ||
        (col("is_pos") === 0 && col("rn") <= k))
      .select("query_id", "neighbor_id", "label", "cosine", "is_pos")
      .localCheckpoint() // nQueries·(k+1) rows feed both sides below
    val posTop = ranked.filter(col("is_pos") === 1)
      .select(col("query_id"), col("cosine").as("_pos_cos"))
    ranked.filter(col("is_pos") === 0)
      .join(broadcast(posTop), Seq("query_id"), "left")
      .select(col("query_id"), col("neighbor_id"),
        col("label").as("neg_label"),
        round(col("cosine"), 6).as("cosine"),
        round(col("_pos_cos") - col("cosine"), 6).as("margin"))
      .orderBy("query_id", "neighbor_id")
  }

  /** XOR masks for every bucket within Hamming distance ≤ `h` of a probe
    * bucket (identity mask first). Enumerated by choosing flipped-bit
    * subsets — O(nBits^h) masks, never a 2^nBits sweep. */
  private[graft] def hammingMasks(nBits: Int, h: Int): Seq[Int] = {
    def combos(from: Int, choose: Int): Seq[Int] =
      if (choose == 0) Seq(0)
      else (from until nBits).flatMap(b => combos(b + 1, choose - 1).map(_ | (1 << b)))
    (0 to h).flatMap(combos(0, _))
  }

  /** LSH-bucketed approximate top-k: the corpus is bucketed by signed-
    * random-projection bits in `nTables` independent tables (recall
    * amplification: a candidate only needs to collide in ONE table); each
    * query ranks against the union of its buckets. The plan is a hash
    * equi-join on (table, bucket), never a cross join.
    *
    * `probeHamming` adds multiprobe (Lv et al., "Multi-Probe LSH",
    * VLDB'07 — public algorithm): each query additionally probes every
    * bucket within that Hamming distance of its own, ON THE QUERY SIDE
    * ONLY — the bounded broadcast side fans out ×(1 + nBits + …), the
    * corpus is still bucketed exactly once per table. A near neighbor that
    * lands one projection bit away stops being a miss, which is most
    * misses: per-bit disagreement is θ/π, so single-bit misses dominate.
    * Expected candidate fraction ≤ nTables·nProbeBuckets/2^nBits. Measured
    * at sf0.1 via `graft.RecallEval` (a test-set main; random vectors —
    * LSH's worst case), recall@10 at MEASURED candidate fraction: 8×4-bit exact-probe
    * = 0.69 @ 0.41, while the default 8×12-bit h=3 = 0.89 @ 0.46 — more
    * recall per candidate than exact probing reaches at any table count
    * (see PLANS.md for the full frontier). */
  def lshTopK(t: Tables, nQueries: Int = 10, k: Int = 5, nBits: Int = 12,
              nTables: Int = 8, probeHamming: Int = 3): DataFrame = {
    // cosine BEFORE the dedup (same reasoning as embeddingNearDups): the
    // distinct then shuffles ids + one double per candidate instead of two
    // embedding arrays as group-by keys
    rankByCosine(lshCandidates(t, nQueries, nBits, nTables, probeHamming)
      .withColumn("cosine", HashFunctions.cosineSim(col("q_emb"), col("embedding")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .distinct(), k) // a pair colliding in several tables ranks once
  }

  /** The (table, bucket) candidate equi-join shared by [[lshTopK]] and the
    * `graft.RecallEval` measurement main — one definition, so the
    * measured candidate fraction can never drift from what the operator
    * actually joins. Multiprobe expands the bounded query side only. */
  private[graft] def lshCandidates(t: Tables, nQueries: Int, nBits: Int,
                                   nTables: Int, probeHamming: Int): DataFrame = {
    val emb = srpTables(t.embeddings, nBits, nTables)
    val masks = hammingMasks(nBits, probeHamming)
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("tbl"),
        explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*))
          .as("bucket"))
    emb.select(col("vec_id").as("neighbor_id"), col("embedding"),
        col("tbl"), col("bucket"))
      .join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id", "q_emb", "embedding")
  }

  /** `nTables` independent SRP bucketings of `df`'s `(vec_id, embedding)`:
    * one row per (vector, table) with its `tbl` and seeded `bucket`. A pair
    * is a candidate when it shares (tbl, bucket) in ANY table. */
  private[operators] def srpTables(df: DataFrame, nBits: Int, nTables: Int): DataFrame =
    df.select(col("vec_id"), col("embedding"),
        explode(array((0 until nTables).map(lit): _*)).as("tbl"))
      .withColumn("bucket",
        HashFunctions.srpBucketSeeded(col("embedding"), nBits, col("tbl")))

  /** Fixed-iteration Lloyd's over an in-memory sample — the quantizer
    * fit. Driver-local ON PURPOSE: the training input is a BOUNDED sample
    * (≤ ~1000·k rows, a few MB) regardless of corpus size — the shape
    * production ANN systems use for coarse-quantizer training — and a
    * distributed KMeans over sample-sized data pays one full job per
    * iteration in pure scheduling overhead (measured: the fit dominated
    * q_ann_ivf's bench time). Fully deterministic AND SQL-expressible:
    * init is the first `k` sample vectors (the caller passes a
    * vec_id-ordered sample, so no RNG anywhere — the DuckDB oracle replays
    * the identical fit as a CTE chain), sequential accumulation, empty
    * cells keep their previous centroid, assignment ties break to the
    * lowest cell (strict `<`). */
  private[operators] def fitCentroids(sample: Array[Array[Double]], k0: Int,
                                      iters: Int): Array[Array[Double]] = {
    require(sample.nonEmpty, "IVF fit: empty sample")
    // degrade gracefully on tiny corpora: fewer vectors than requested
    // cells just means fewer cells (every vector its own cell in the limit)
    val k = math.min(k0, sample.length)
    val d = sample(0).length
    var cents = sample.take(k).map(_.clone)
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](d))
      val cnt = new Array[Int](k)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var dist = 0.0; var j = 0
          while (j < d) { val df = v(j) - cents(c)(j); dist += df * df; j += 1 }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        val s = sums(best); var j = 0
        while (j < d) { s(j) += v(j); j += 1 }
        cnt(best) += 1
      }
      cents = Array.tabulate(k) { c =>
        if (cnt(c) == 0) cents(c) else sums(c).map(_ / cnt(c))
      }
    }
    cents
  }

  /** The IVF coarse quantizer: [[fitCentroids]] over the [[unitOf]] vectors
    * of a vec_id-sorted sample, so euclidean cells respect cosine geometry. */
  private[operators] def fitUnitCentroids(sample: Array[(Long, Seq[Float])], nList: Int,
                                          iters: Int): Array[Array[Double]] =
    fitCentroids(sample.map(v => unitOf(v._2).toArray), nList, iters)

  /** The driver collect every quantized-ANN fit reads: `(vec_id, embedding)`
    * for `vec_id < bound`, sorted by vec_id. ONE collect covers both the
    * quantizer sample and the query vectors (callers pass the max of the
    * two bounds) — each extra collect costs a full job of scheduling. A
    * deterministic id predicate, NOT a random sample: it pushes to the
    * scan, skips a sizing count() job, and — vec_ids being
    * content-uncorrelated in this corpus — is as unbiased as an RNG sample
    * while being exactly replayable by the SQL oracle (a seeded .sample()
    * depends on Spark's partition-level RNG). The driver-side sort keeps
    * [[fitCentroids]]' first-k init well-defined without a cluster sort. */
  private[operators] def boundedVectors(df: DataFrame, bound: Long): Array[(Long, Seq[Float])] =
    sortedVectors(df.filter(col("vec_id") < bound))

  /** `(vec_id, embedding)` of a bounded frame, collected and vec_id-sorted. */
  private[operators] def sortedVectors(df: DataFrame): Array[(Long, Seq[Float])] =
    df.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)

  /** The cell probe: the `nProbe` centroids nearest to `v`'s unit vector
    * (squared euclidean, ties to the lower cell), computed on the driver —
    * the query set is bounded by contract, so a distributed probe would
    * spend several stages shuffling ~nQueries·nList rows. */
  private[operators] def nearestCells(cents: Array[Array[Double]], v: Seq[Float],
                                      nProbe: Int): Array[Int] = {
    val u = unitOf(v).toArray
    cents.zipWithIndex.map { case (c, i) =>
      var dist = 0.0
      var j = 0
      while (j < c.length) { val df = u(j) - c(j); dist += df * df; j += 1 }
      (dist, i)
    }.sortBy { case (dist, i) => (dist, i) }.take(nProbe).map(_._2)
  }

  /** PQ codebooks: one [[fitCentroids]] per `d/m`-wide subspace of the RAW
    * (not unit) sample vectors, `ksub` centroids each. */
  private[operators] def pqCodebooks(sample: Array[(Long, Seq[Float])], d: Int, m: Int,
                                     ksub: Int, iters: Int): Seq[Seq[Seq[Double]]] = {
    require(d % m == 0, s"embedding dim $d not divisible by m=$m")
    val dsub = d / m
    val raw = sample.map(_._2.toArray.map(_.toDouble))
    (0 until m).map { s =>
      fitCentroids(
        raw.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub)),
        ksub, iters).map(_.toSeq).toSeq
    }
  }

  /** One query's flat ADC lookup table: `lut(s·ksub + c)` is the squared
    * distance of the query's subvector `s` to codeword `c`, accumulated in
    * the [[graft.functions.HashImpl.pqCodes]] kernel's j-order so driver
    * and executors agree bit-for-bit. */
  private[operators] def adcTable(qEmb: Seq[Float], books: Seq[Seq[Seq[Double]]],
                                  ksub: Int): Seq[Double] = {
    val q = qEmb.toArray.map(_.toDouble)
    val m = books.length
    val dsub = q.length / m
    val lut = new Array[Double](m * ksub)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < ksub) {
        var dist = 0.0
        var j = 0
        while (j < dsub) {
          val df = q(s * dsub + j) - books(s)(c)(j)
          dist += df * df
          j += 1
        }
        lut(s * ksub + c) = dist
        c += 1
      }
      s += 1
    }
    lut.toSeq
  }

  /** IVF (inverted-file) ANN: a KMeans coarse quantizer partitions the
    * corpus into `nList` cells; each query probes its `nProbe` nearest cells
    * and ranks only those candidates by exact cosine.
    *
    * Scale shape: the quantizer trains on a deterministic bounded sample
    * ([[fitCentroids]]); assignment is a narrow codegen'd projection
    * ([[graft.functions.HashImpl.nearestCellUnit]] against the plan-embedded
    * centroids); the probe is a broadcast equi-join on the cell id —
    * expected candidates per query ≈ corpus·nProbe/nList, never all-pairs.
    * Vectors are unit-normalized before clustering so euclidean cells
    * respect cosine geometry. With nProbe == nList this is exhaustive and
    * must equal the brute-force top-k (spec-asserted — which holds for ANY
    * centroids, since assignment and probing share them). */
  def ivfTopK(t: Tables, nQueries: Int = 10, k: Int = 5,
              nList: Int = 16, nProbe: Int = 4, lloydIters: Int = 2): DataFrame = {
    val emb = t.embeddings
    val sampleTarget = 1000L * nList
    val collected = boundedVectors(emb, math.max(sampleTarget, nQueries.toLong))
    val sample = collected.filter(_._1 < sampleTarget)
    // empty corpus → empty result with the right shape, not a crash
    if (sample.isEmpty) return emptyResult(emb.sparkSession, "cosine")
    val cents = fitUnitCentroids(sample, nList, lloydIters)
    // assignment is ONE fused codegen'd kernel over the raw float column
    // (norm + divide + cell scan per row) — no materialized double unit
    // array, no higher-order-function lambdas in the corpus-wide stage
    val assigned = emb
      .select(col("vec_id"), col("embedding"),
        HashFunctions.nearestCellUnit(col("embedding"), cents.map(_.toSeq).toSeq)
          .as("cell"))
    val probedRows = collected.filter(_._1 < nQueries).flatMap { case (qid, qEmb) =>
      nearestCells(cents, qEmb, nProbe).map(cell => (qid, qEmb, cell))
    }
    val probed = emb.sparkSession.createDataFrame(probedRows.toSeq)
      .toDF("query_id", "q_emb", "cell")
    // candidates: only vectors in probed cells; exact cosine; top-k
    rankByCosine(
      assigned.select(col("vec_id").as("neighbor_id"), col("embedding"), col("cell"))
        .join(broadcast(probed), "cell")
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("cosine", HashFunctions.cosineSim(col("q_emb"), col("embedding"))), k)
  }

  /** Product-quantization ANN (PQ + ADC, Jégou et al. 2011 — public
    * method): each corpus vector compresses to `m` codebook indices
    * (m bytes at ksub ≤ 256, vs 4·d bytes of floats) — the
    * memory-compression ANN scale path: at 100 TB of embeddings the code
    * table is ~4·d/m× smaller than the raw vectors and is the ONLY
    * corpus-wide state the query stage reads; each query scores a vector
    * with m table lookups (ADC) instead of a d-term dot product.
    *
    * Deterministic end to end, same contract as [[ivfTopK]]: per-subspace
    * codebooks train via [[fitCentroids]] (first-ksub init over the
    * vec_id-ordered bounded sample, fixed iterations, no RNG anywhere);
    * encoding is one codegen'd kernel ([[graft.functions.HashImpl.pqCodes]]) over
    * the raw float column; query LUTs are driver-built with the kernel's
    * exact j-accumulation order and broadcast; ranking uses the ROUNDED
    * ADC distance with an id tie-break (the q_tfidf_search convention) so
    * a last-ulp sum divergence cannot flip the hash. The oracle replays
    * train/encode/LUT/rank as one CTE chain ([[graft.KernelOracleSql.annPq]]).
    * In a production deployment this composes with [[ivfTopK]]'s coarse
    * quantizer (probe cells first, ADC inside the cell); kept orthogonal
    * here so each stage is independently oracle-verified. */
  def pqTopK(t: Tables, nQueries: Int = 10, k: Int = 5,
             m: Int = 8, ksub: Int = 16, lloydIters: Int = 2): DataFrame = {
    val emb = t.embeddings
    val sampleTarget = 1000L * ksub
    val collected = boundedVectors(emb, math.max(sampleTarget, nQueries.toLong))
    if (collected.isEmpty) return emptyResult(emb.sparkSession, "adc_dist")
    val books = pqCodebooks(collected.filter(_._1 < sampleTarget),
      collected.head._2.length, m, ksub, lloydIters)
    // per-query LUTs on the driver (query set bounded by contract — the
    // same reasoning as ivfTopK's driver-side probe)
    val luts = collected.filter(_._1 < nQueries).map { case (qid, qEmb) =>
      (qid, adcTable(qEmb, books, ksub))
    }
    val qdf = emb.sparkSession.createDataFrame(luts.toIndexedSeq).toDF("query_id", "lut")
    val codes = emb.select(col("vec_id").as("neighbor_id"),
      HashFunctions.pqCodes(col("embedding"), books).as("codes"))
    rankByAdc(codes.crossJoin(broadcast(qdf)), k)
  }

  /** IVF+PQ composed ANN (the FAISS `IVFPQ` architecture, Jégou et al.
    * 2011): the coarse quantizer prunes the corpus to `nProbe` cells and
    * ADC ranks ONLY the candidates inside them — at 100 TB the query cost
    * is (nProbe/nList of the corpus) × (m table lookups per vector), with
    * corpus-resident state the m-byte PQ codes plus one cell id per
    * vector. [[ivfTopK]] and [[pqTopK]] stay as the independently
    * oracle-verified stages; this is their production composition, itself
    * oracle-verified end-to-end (coarse fit, probe, codebook fit, encode,
    * LUT, ADC rank — one CTE chain).
    *
    * Determinism carries over from both stages: RNG-free seeded fits,
    * driver LUTs with the kernel's j-order, ranking on the ROUNDED ADC
    * distance with id tie-break. */
  def ivfPqTopK(t: Tables, nQueries: Int = 10, k: Int = 5,
                nList: Int = 16, nProbe: Int = 4,
                m: Int = 8, ksub: Int = 16, lloydIters: Int = 2): DataFrame = {
    val emb = t.embeddings
    val sampleTarget = 1000L * math.max(nList, ksub)
    val collected = boundedVectors(emb, math.max(sampleTarget, nQueries.toLong))
    require(collected.nonEmpty, "ivfPqTopK: empty corpus")
    val sample = collected.filter(_._1 < sampleTarget)
    // PQ codebooks on RAW subvectors (the pqTopK contract), coarse
    // quantizer on UNIT vectors (the ivfTopK contract)
    val books = pqCodebooks(sample, collected.head._2.length, m, ksub, lloydIters)
    val cents = fitUnitCentroids(sample, nList, lloydIters)
    val assigned = emb.select(
      col("vec_id").as("neighbor_id"),
      HashFunctions.nearestCellUnit(col("embedding"), cents.map(_.toSeq).toSeq)
        .as("cell"),
      HashFunctions.pqCodes(col("embedding"), books).as("codes"))
    // driver-side probe + LUT per bounded query (shared collect)
    val probedRows = collected.filter(_._1 < nQueries).flatMap { case (qid, qEmb) =>
      val lut = adcTable(qEmb, books, ksub)
      nearestCells(cents, qEmb, nProbe).map(cell => (qid, cell, lut))
    }
    val probed = emb.sparkSession.createDataFrame(probedRows.toIndexedSeq)
      .toDF("query_id", "cell", "lut")
    rankByAdc(assigned.join(broadcast(probed), Seq("cell")), k)
  }

  /** The staged int8-code projection shared by [[quantizeEmbeddings]],
    * [[quantizeDiagnostics]] and [[int8TopK]]: adds `_d` (double view of the
    * embedding), `scale` (symmetric per-vector scale max|v_i|/127, zero
    * vectors keep scale 1 so they quantize to zeros instead of dividing by
    * zero) and `q` (int8 codes round(v_i/scale) ∈ [−127, 127]). Staged so
    * the double view and the scale are materialized attributes (computed
    * once per row, not once per referencing expression); pure narrow
    * projection, no shuffle, linear at any corpus size. */
  private def withInt8Codes(df: DataFrame): DataFrame = {
    val maxAbs = aggregate(col("_d"), lit(0.0), (a, x) => greatest(a, abs(x)))
    df.withColumn("_d", transform(col("embedding"), x => x.cast("double")))
      .withColumn("_s", maxAbs / 127.0)
      .withColumn("scale", when(col("_s") === 0.0, 1.0).otherwise(col("_s")))
      .withColumn("q", transform(col("_d"), x => round(x / col("scale")).cast("int")))
  }

  /** Per-element absolute reconstruction error folded to its per-vector max
    * (bounded by scale/2 by construction, spec-asserted). Expects the
    * [[withInt8Codes]] columns. */
  private val maxErrCol: Column =
    aggregate(
      zip_with(col("_d"), col("q"),
        (x, qi) => abs(qi.cast("double") * col("scale") - x)),
      lit(0.0), (a, e) => greatest(a, e))

  /** Symmetric per-vector int8 quantization — the storage/serving
    * compression step of an embedding pipeline (4× smaller than float32,
    * the standard first rung before product quantization). Emits the
    * quantized codes plus per-vector diagnostics (scale, max absolute
    * reconstruction error) for programmatic callers; the driver-checked
    * query surface is [[quantizeDiagnostics]] (scalar columns only). */
  def quantizeEmbeddings(t: Tables): DataFrame =
    withInt8Codes(t.embeddings)
      .withColumn("max_err", maxErrCol)
      .select(col("vec_id"), round(col("scale"), 9).as("scale"), col("q"),
        round(col("max_err"), 9).as("max_err"))
      .orderBy("vec_id")

  /** Scalar-only quantization diagnostics — the oracle-checkable view of
    * [[quantizeEmbeddings]] (raw code arrays can't be hash-compared by the
    * driver's column-sorting checker, and scalars make the semantics
    * SQL-expressible): an order-sensitive integer checksum of the codes
    * (sum and position-weighted sum — pure int64 arithmetic, bitwise
    * reproducible in any engine) plus the scale and max reconstruction
    * error FLOOR-quantized to integers at 1e-9 (engine-agnostic: pure
    * double arithmetic, no decimal-repr rounding divergence). */
  def quantizeDiagnostics(t: Tables): DataFrame =
    withInt8Codes(t.embeddings)
      .withColumn("max_err", maxErrCol)
      .select(col("vec_id"),
        aggregate(col("q"), lit(0L), (a, x) => a + x).as("code_sum"),
        aggregate(transform(col("q"), (x, i) => x.cast("long") * (i + 1)),
          lit(0L), (a, x) => a + x).as("code_wsum"),
        floor(col("scale") * lit(1000000000.0) + 0.5).cast("long").as("scale_q"),
        floor(col("max_err") * lit(1000000000.0) + 0.5).cast("long").as("max_err_q"))
      .orderBy("vec_id")

  /** Exact top-k over the int8-quantized codes — the search half of the
    * quantization story: per-vector symmetric scales CANCEL in cosine
    * (cos(s_a·q_a, s_b·q_b) = cos(q_a, q_b)), so search runs on the 4×
    * smaller codes with no scale arithmetic at all, through the same
    * codegen'd cosine kernel (codes cast to float, a narrow per-element
    * transform). Same plan shape as [[bruteForceTopK]]: broadcast bounded
    * query side, one streaming pass over the corpus, bounded per-query
    * window. Fidelity vs the float path is spec-asserted (recall and
    * per-pair cosine deltas). */
  def int8TopK(t: Tables, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val codes = withInt8Codes(t.embeddings)
      .select(col("vec_id"), transform(col("q"), x => x.cast("float")).as("qf"))
    rankByCosine(queryPairs(codes, nQueries, vec = "qf")
      .withColumn("cosine", HashFunctions.cosineSim(col("q_emb"), col("qf"))), k)
  }

  /** Transitive embedding near-duplicate groups — the embedding twin of
    * [[Dedup.nearDupGroups]]: SRP-LSH candidate pairs → connected
    * components (DataFrame large-star/small-star) → one group id (the
    * component's min vec_id) per vector; vectors with no near-dup edges are
    * singletons. Edge volume is bounded by the LSH candidate count. */
  def embeddingNearDupGroups(t: Tables, minCosine: Double = 0.35,
                             nBits: Int = 4, nTables: Int = 8): DataFrame = {
    val pairs = embeddingNearDupsCore(t, minCosine, nBits, nTables)
    val comps = ConnectedComponents.run(pairs.select("vec_a", "vec_b"))
      .toDF("vec_id", "group_id")
    t.embeddings.select("vec_id")
      .join(comps, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("group_id"), col("vec_id")).as("group_id"))
      .orderBy("vec_id")
  }

  /** Embedding-cosine near-duplicate pairs via multi-table SRP-LSH:
    * `nTables` independent bucketings of `nBits` bits each (amplifies recall
    * like MinHash bands — a pair is a candidate if it collides in ANY table),
    * equi-self-join on (table, bucket), exact cosine verify inside the
    * bucket only, distinct pairs. Never all-pairs: expected candidates per
    * table ≈ n²/2^nBits ÷ n per vector. */
  def embeddingNearDups(t: Tables, minCosine: Double = 0.35,
                        nBits: Int = 4, nTables: Int = 8): DataFrame =
    embeddingNearDupsCore(t, minCosine, nBits, nTables)
      .orderBy("vec_a", "vec_b") // ordered for the driver's oracle dump only

  /** Unordered near-dup pairs — consumers that don't need a total order
    * (e.g. [[embeddingNearDupGroups]]) use this to avoid a pointless
    * global sort, mirroring [[Dedup.minhashCandidatesCore]]. */
  def embeddingNearDupsCore(t: Tables, minCosine: Double = 0.35,
                            nBits: Int = 4, nTables: Int = 8): DataFrame = {
    val emb = srpTables(t.embeddings, nBits, nTables)
    // A sub-broadcast-threshold embeddings table scans as ONE split, so the
    // whole collision probe — ~n²/2^nBits per table exact-cosine
    // verifications, the quadratic core of this operator — runs serially in
    // that single map task (measured 1.0 s of a 3.3 s q_embed_groups at
    // sf0.1 while 31 cores idle). When the build side is going to broadcast
    // anyway, spread the probe side first: the exchange moves only
    // |emb|·nTables sub-threshold bytes, and (vec_id, tbl) is uniform so
    // every task carries an equal probe share. Width is byte-derived
    // (~1 task per MB of exploded probe rows, capped at the core count —
    // the [[Graph]] smallSpread heuristic: each probe task pays a fixed
    // broadcast-relation + codegen setup, so full fan-out on a few-MB frame
    // multiplies dead task-seconds for no extra wall). At scale the gate is
    // false: the join is a wide shuffle join and the extra exchange would
    // move nTables× the corpus for nothing.
    val spark = t.spark
    val embStats = t.embeddings.queryExecution.optimizedPlan.stats.sizeInBytes
    val probeWide = embStats <= spark.sessionState.conf.autoBroadcastJoinThreshold
    val spread = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      embStats.toLong * nTables / (1L << 20))).toInt
    val probe =
      if (probeWide) emb.repartition(spread, col("vec_id"), col("tbl"))
      else emb
    val build = if (probeWide) broadcast(emb.as("b")) else emb.as("b")
    probe.as("a")
      .join(build,
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      // verify BEFORE dedup: the exact-cosine filter runs map-side on each
      // collision, so only confirmed near-dup id pairs (ids + one double, not
      // the 256-byte vectors) ever reach the distinct's shuffle. A pair
      // colliding in several tables recomputes cosine ≤ nTables times —
      // cheaper at scale than shuffling embeddings as group-by keys.
      .withColumn("cosine", HashFunctions.cosineSim(col("a.embedding"), col("b.embedding")))
      .filter(col("cosine") >= minCosine)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cosine"))
      .groupBy("vec_a", "vec_b")
      .agg(round(max("cosine"), 6).as("cosine"))
  }

  /** Semantic dedup: keep ONE representative per embedding near-dup group
    * (the component's canonical min vec_id — [[embeddingNearDupGroups]]'
    * group id), drop the rest. The SemDeDup-style pass a training corpus
    * runs after exact/fuzzy text dedup; survivors carry their label for
    * downstream mixture accounting. Cost is the group operator itself
    * (LSH-bounded edges + O(log n) CC rounds) plus one broadcast-sized
    * join back to the metadata. */
  def semanticDedup(t: Tables, minCosine: Double = 0.35,
                    nBits: Int = 4, nTables: Int = 8): DataFrame =
    embeddingNearDupGroups(t, minCosine, nBits, nTables)
      .filter(col("vec_id") === col("group_id"))
      .join(t.embeddings.select(col("vec_id"), col("label")), Seq("vec_id"))
      .select("vec_id", "label")
      .orderBy("vec_id")

  /** Semantic benchmark decontamination audit — the EMBEDDING-space twin
    * of [[graft.operators.Dedup.decontaminate]] (which matches verbatim
    * shingles): score every corpus vector by its max cosine against ANY
    * benchmark vector and flag those at or above `minCosine` — catching
    * paraphrased or re-formatted eval material that exact text overlap
    * misses (the SemDeDup observation applied to eval hygiene). The full
    * report (all corpus vectors, similarity + flag) is the audit artifact;
    * the training pipeline drops the flagged rows.
    *
    * The benchmark slice is deterministic (`vec_id % benchMod == 0` — an
    * eval set is small by definition) and its UNIT matrix embeds into the
    * plan as ≤ |bench|·d doubles, so ONE corpus pass scores everything
    * with the fused codegen'd [[HashFunctions.minCellDistUnit]] kernel: on
    * unit vectors min squared euclidean = 2 − 2·max-cos, so
    * max_cos = 1 − mind/2 reuses the k-center kernel verbatim. No join,
    * no shuffle before the output sort; at 100 TB the corpus streams once.
    * A benchmark too large to broadcast would switch to the LSH-bucketed
    * neighbor stage ([[lshTopK]]'s shape) — same report, bucketed join. */
  def semanticDecontaminate(t: Tables, benchMod: Long = 50L,
                            minCosine: Double = 0.35): DataFrame = {
    val bench = t.embeddings
      .filter(col("vec_id") % benchMod === 0)
      .orderBy("vec_id")
      .collect()
      .map(r => unitOf(r.getSeq[Float](r.fieldIndex("embedding"))).toSeq)
      .toSeq
    require(bench.nonEmpty, "semanticDecontaminate: empty benchmark slice")
    val maxCos = round(
      lit(1.0) - HashFunctions.minCellDistUnit(col("embedding"), bench) / 2, 6)
    t.embeddings
      .filter(col("vec_id") % benchMod =!= 0)
      .select(col("vec_id"), maxCos.as("max_bench_cos"), col("label"))
      .withColumn("contaminated", (col("max_bench_cos") >= minCosine).cast("int"))
      .orderBy("vec_id")
  }

  /** Majority label vote over a (query_id, neighbor_id) neighbor set.
    * Broadcast direction is the scale story: the neighbor set is
    * nQueries·k rows by construction (bounded, broadcast build side) while
    * the label table is CORPUS-sized and must stream through the probe
    * side — the inverted hint would be a driver OOM at 100 TB. Vote
    * counting is then a tiny aggregation; ties break on the smaller label
    * so both engines agree. */
  private def majorityVote(neighbors: DataFrame, labels: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("pred_label").asc)
    labels
      .join(broadcast(neighbors.select("query_id", "neighbor_id")), Seq("neighbor_id"))
      .groupBy(col("query_id"), col("label").as("pred_label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("query_id", "pred_label", "votes")
      .orderBy("query_id")
  }

  /** kNN label vote: classify each query vector by the majority label of
    * its k exact nearest neighbors ([[bruteForceTopK]] — broadcast query
    * side, corpus streams once). The corpus-scale swap is
    * [[knnClassifyLsh]]: identical vote logic over the LSH-bucketed
    * neighbor stage (no exhaustive scan per query). */
  def knnClassify(t: Tables, nQueries: Int = 10, k: Int = 5): DataFrame =
    majorityVote(bruteForceTopK(t, nQueries, k),
      t.embeddings.select(col("vec_id").as("neighbor_id"), col("label")))

  /** kNN label vote over the [[lshTopK]] multiprobe neighbor stage — the
    * graded scale path: neighbor candidates come from the (table, bucket)
    * equi-join instead of an exhaustive corpus scan per query, and the
    * vote logic ([[majorityVote]]) is shared verbatim with the exact
    * path. */
  def knnClassifyLsh(t: Tables, nQueries: Int = 10, k: Int = 5,
                     nBits: Int = 12, nTables: Int = 8,
                     probeHamming: Int = 3): DataFrame =
    majorityVote(lshTopK(t, nQueries, k, nBits, nTables, probeHamming),
      t.embeddings.select(col("vec_id").as("neighbor_id"), col("label")))

  /** Per-label embedding centroids, one row per (label, dimension):
    * posexplode fans each vector into (label, dim, x) triples map-side and
    * the mean is a plain partial+final aggregation — each partition
    * reduces to labels×dims partials before the shuffle, so the shuffle
    * volume is bounded by the label-space, not the corpus. Emitted 1-based
    * (dim ∈ [1, d]) to match SQL's array subscripts. The label-space
    * summary that drives cluster pruning and IVF-style seeding. */
  def labelCentroids(t: Tables): DataFrame =
    t.embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("_pos", "_x")))
      .groupBy(col("label"), (col("_pos") + 1).cast("long").as("dim"))
      .agg(count(lit(1)).as("n_vecs"), round(avg(col("_x").cast("double")), 6).as("centroid"))
      .orderBy("label", "dim")

  /** MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell & Goldstein,
    * SIGIR 1998 — the diversified-retrieval standard): from each query's
    * top-`m` relevance shortlist, greedily select `k` results maximizing
    * `λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)` — every pick is penalized by
    * its similarity to what is ALREADY picked, so near-duplicate results
    * can't crowd the list (the retrieval-side twin of the dedup family).
    *
    * Determinism: rel and sim are raw cosines (the fused kernel and the
    * SQL oracle agree bitwise — the suite-wide precedent); λ and the
    * penalty weight are the LITERALS 0.7/0.3 in both engines (not
    * `1 − λ` computed in floating point, which is not 0.3); score
    * arithmetic is two exact-rounded multiplies and a subtract; ties cut
    * on neighbor_id. The oracle replays the greedy loop as `k` unrolled
    * CTE steps — selection is inherently sequential, and the unroll IS
    * the sequential semantics.
    *
    * Scale shape: one corpus scan builds the shortlist (bounded window);
    * everything after — the m² pairwise sims and the k greedy steps —
    * touches only m·nQueries rows. At real scale the shortlist generator
    * swaps for [[AnnIndex]]/[[GraphAnn]] probes; the MMR loop downstream
    * is unchanged and stays shortlist-sized. */
  def mmrTopK(t: Tables, nQueries: Int = 10, k: Int = 5, m: Int = 20,
              lam: Double = 0.7, lamPen: Double = 0.3): DataFrame = {
    val emb = t.embeddings
    val scored = queryPairs(emb, nQueries)
      .withColumn("rel", HashFunctions.cosineSim(col("q_emb"), col("embedding")))
    val wRel = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("neighbor_id").asc)
    val shortlist = scored
      .withColumn("_rn", row_number().over(wRel))
      .filter(col("_rn") <= m)
      .select(col("query_id"), col("neighbor_id"), col("rel"), col("embedding"))
    // Driver greedy arm (r20): everything below the shortlist window is
    // PARAMETER-bounded — m·nQueries rows by construction, independent of
    // corpus size (the scale story above: at real scale only the shortlist
    // generator changes). The distributed greedy loop paid ~7 checkpointed
    // rounds of windows/joins on those ~200 rows; when the shortlist fits
    // the bounded collect it collects once and the identical greedy
    // recurrence runs on the driver through the same HashImpl.cosineF
    // kernel — identical floats, identical picks (spec-pinned vs the
    // distributed loop).
    val collected = Arms.collectBounded("mmr.driver", shortlist,
      Arms.MmrDriverMaxRows)
    if (collected.isDefined) {
      val picked = collected.get.groupBy(_.getLong(0)).toSeq.flatMap { case (qid, rs) =>
        val cands = rs.map { r =>
          (r.getLong(1), r.getDouble(2),
            new org.apache.spark.sql.catalyst.util.GenericArrayData(
              r.getSeq[Float](3).toArray[Float])
              : org.apache.spark.sql.catalyst.util.ArrayData)
        }
        // pick 1: max rel, ties to the lowest id (the wRel ordering)
        val first = cands.minBy { case (nb, rel, _) => (-rel, nb) }
        val sel = scala.collection.mutable.ArrayBuffer(
          (first._1, first._2, lam * first._2))
        val selEmb = scala.collection.mutable.ArrayBuffer(first._3)
        for (_ <- 2 to k) {
          val selIds = sel.map(_._1).toSet
          val remaining = cands.filter(c => !selIds.contains(c._1))
          if (remaining.nonEmpty && selEmb.nonEmpty) {
            // score = λ·rel − (1−λ as the LITERAL lamPen)·max sim-to-selected,
            // the max over exact cosineF doubles (order-free)
            val next = remaining.map { case (nb, rel, e) =>
              val ms = selEmb.iterator
                .map(se => graft.functions.HashImpl.cosineF(e, se)).max
              (nb, rel, lam * rel - lamPen * ms, e)
            }.minBy { case (nb, _, score, _) => (-score, nb) }
            sel += ((next._1, next._2, next._3))
            selEmb += next._4
          }
        }
        sel.iterator.zipWithIndex.map { case ((nb, rel, score), i) =>
          (qid, i + 1, nb, rel, score)
        }
      }
      import emb.sparkSession.implicits._
      return picked
        .toDF("query_id", "_rank", "neighbor_id", "_rel", "_score")
        .select(col("query_id"), col("_rank").cast("bigint").as("rank"),
          col("neighbor_id"), round(col("_rel"), 6).as("rel"),
          round(col("_score"), 6).as("mmr"))
        .orderBy("query_id", "rank")
    }
    val cand = shortlist.localCheckpoint() // sims + every greedy step read it
    val sims = cand.select(col("query_id"), col("neighbor_id").as("ca"),
        col("embedding").as("_ea"))
      .join(cand.select(col("query_id"), col("neighbor_id").as("cb"),
        col("embedding").as("_eb")), Seq("query_id"))
      .filter(col("ca") =!= col("cb"))
      .withColumn("sim", HashFunctions.cosineSim(col("_ea"), col("_eb")))
      .select(col("query_id"), col("ca"), col("cb"), col("sim"))
      .localCheckpoint() // k−1 penalty joins read it
    val candSlim = cand.select("query_id", "neighbor_id", "rel")
    var sel = candSlim
      .withColumn("_rn", row_number().over(wRel))
      .filter(col("_rn") === 1)
      .select(col("query_id"), col("neighbor_id"), col("rel"),
        (lit(lam) * col("rel")).as("score"), lit(1).as("rank"))
      .localCheckpoint()
    for (r <- 2 to k) {
      val remaining = candSlim.join(sel.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_anti")
      val pen = sims.join(sel.select(col("query_id"),
          col("neighbor_id").as("cb")), Seq("query_id", "cb"))
        .groupBy(col("query_id"), col("ca").as("neighbor_id"))
        .agg(max(col("sim")).as("_ms"))
      val wScore = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("neighbor_id").asc)
      val next = remaining.join(pen, Seq("query_id", "neighbor_id"))
        .withColumn("score", lit(lam) * col("rel") - lit(lamPen) * col("_ms"))
        .withColumn("_rn", row_number().over(wScore))
        .filter(col("_rn") === 1)
        .select(col("query_id"), col("neighbor_id"), col("rel"),
          col("score"), lit(r).as("rank"))
      val grown = sel.unionByName(next).localCheckpoint()
      sel.unpersist(blocking = false)
      sel = grown
    }
    val out = sel.select(col("query_id"), col("rank").cast("bigint").as("rank"),
        col("neighbor_id"), round(col("rel"), 6).as("rel"),
        round(col("score"), 6).as("mmr"))
      .orderBy("query_id", "rank")
      .localCheckpoint()
    sel.unpersist(blocking = false)
    cand.unpersist(blocking = false)
    sims.unpersist(blocking = false)
    out
  }

  /** PER-LABEL MAHALANOBIS OUTLIER SCORING (diagonal covariance — the
    * standardized-distance member of the embedding-hygiene family;
    * public textbook statistic): each vector's squared distance from its
    * label's centroid, per-dimension standardized by that label's
    * variance — the score curation uses to prune mislabeled / corrupted
    * vectors (E[maha2] ≈ d for in-distribution points, so a fixed
    * threshold like d + 3σ flags the far tail).
    *
    * Float discipline (the q_ab_test rounded-moment rule): the per-
    * (label, dim) moments are ROUNDED to 6 dp first — the same values
    * the q_embed_centroids oracle hash-matches — and every downstream
    * term (variance m2−m1², the per-dim ratio, the d-term sum) derives
    * from those rounded moments with a SEQUENTIAL dim-ascending fold
    * (`aggregate`), so engine and oracle are bit-identical; the flag
    * compares the unrounded-but-deterministic sum. λ regularizes empty
    * variance (constant dimension ⇒ ratio ≈ 0 contribution only if the
    * point sits on the constant; a deviation on a zero-variance dim
    * correctly explodes the score).
    *
    * Scale shape: moments are a (label·d)-key partial+final aggregation
    * (corpus never shuffles on more than label·d keys); the label-space
    * moment arrays broadcast back; scoring is one narrow codegen'd
    * projection per row. No window, no corpus shuffle at all. */
  def mahalanobisOutliers(t: Tables, lambda: Double = 1e-6,
                          tau2: Double = 98.0): DataFrame = {
    val x = t.embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("_j", "_x")))
      .select(col("label"), col("_j"), col("_x").cast("double").as("x"))
    val mom = x.groupBy("label", "_j")
      .agg(round(avg(col("x")), 6).as("m1"),
        round(avg(col("x") * col("x")), 6).as("m2"))
    val arrs = mom.groupBy("label")
      .agg(
        transform(array_sort(collect_list(struct(col("_j"), col("m1")))),
          e => e.getField("m1")).as("m1l"),
        transform(array_sort(collect_list(struct(col("_j"), col("m2")))),
          e => e.getField("m2")).as("m2l"))
    val xd = transform(col("embedding"), e => e.cast("double"))
    val diff2 = zip_with(xd, col("m1l"), (x, m) => (x - m) * (x - m))
    val varr = zip_with(col("m2l"), col("m1l"), (b, a) => b - a * a + lambda)
    t.embeddings.join(broadcast(arrs), Seq("label"))
      .withColumn("_maha2",
        aggregate(zip_with(diff2, varr, (d, v) => d / v), lit(0.0),
          (acc, r) => acc + r))
      .select(col("vec_id"), col("label"),
        round(col("_maha2"), 6).as("maha2"),
        when(col("_maha2") > tau2, 1L).otherwise(0L).as("outlier"))
      .orderBy("vec_id")
  }

  /** Per-label embedding-centroid drift — the embedding-space monitoring
    * scalar (a label whose centroid swings away from the corpus centroid
    * signals upstream encoder or data drift): cosine of each label's mean
    * vector against the global mean, plus the centroid norm (collapse
    * toward 0 = the label's vectors disagree with each other). Everything
    * aggregates on (label, dim) / dim keys — corpus never shuffles on
    * more than label·d rows, the cosine reduction runs over d-row
    * tables. */
  def labelCentroidDrift(t: Tables): DataFrame = {
    val x = t.embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("_j", "_x")))
      .select(col("label"), col("_j"), col("_x").cast("double").as("x"))
      .localCheckpoint() // feeds the per-label AND global aggregations
    val lc = x.groupBy("label", "_j").agg(avg("x").as("c"))
    val gc = x.groupBy("_j").agg(avg("x").as("g"))
    lc.join(gc, "_j")
      .groupBy("label")
      .agg(
        round(sum(col("c") * col("g")) /
          (sqrt(sum(col("c") * col("c"))) * sqrt(sum(col("g") * col("g")))), 6)
          .as("drift_cosine"),
        round(sqrt(sum(col("c") * col("c"))), 6).as("centroid_norm"))
      .orderBy("label")
  }

  /** Deterministic Lloyd k-means over the embeddings: seeds are the first
    * `k` vectors by vec_id, `iters` fixed rounds — no RNG, so the result
    * is oracle-checkable. Per round the ASSIGNMENT is a narrow map
    * through the codegen'd [[graft.functions.HashImpl.nearestCell]] kernel (k×d
    * centroid matrix plan-embedded — quantizer-sized) and the UPDATE is a
    * (k·d)-key partial+final average: the corpus never shuffles on more
    * than k·d keys and only the centroid matrix crosses the driver. A
    * cell that empties keeps its previous centroid (both engines).
    * Emits the post-round centroids with the final assignment counts. */
  def kmeans(t: Tables, k: Int = 8, iters: Int = 2): DataFrame =
    kmeansCore(t, k, maxIters = iters, eps = -1.0)._1

  /** CONVERGENCE-STOPPED k-means (the [[Graph.pageRankConverged]]
    * contract): identical per-round arithmetic as [[kmeans]], stopping
    * when no centroid coordinate moves more than `eps` in a round, with
    * `maxIters` as the deterministic cap. `eps = 0` can trigger (a round
    * that moves nothing is exactly converged — assignments are then fixed
    * forever); a NEGATIVE eps never triggers and is how [[kmeans]] runs
    * its fixed count. The oracle query stays fixed-iteration. Delta cost:
    * zero extra jobs — the centroids already cross the driver per round. */
  def kmeansConverged(t: Tables, k: Int = 8, eps: Double = 1e-6,
                      maxIters: Int = 30): DataFrame =
    kmeansCore(t, k, maxIters, eps)._1

  private[graft] def kmeansCore(t: Tables, k: Int, maxIters: Int,
                                eps: Double): (DataFrame, Int) = {
    val (cents, counts, rounds) = kmeansFit(t, k, maxIters, eps)
    val spark = t.spark
    import spark.implicits._
    val out = cents.zipWithIndex.flatMap { case (c, cell) =>
      c.zipWithIndex.map { case (v, j) =>
        (cell, j + 1L, v, counts.getOrElse(cell, 0L))
      }
    }.toSeq.toDF("cell", "dim", "_c", "n_vecs")
      .select(col("cell"), col("dim"), round(col("_c"), 6).as("centroid"),
        col("n_vecs"))
      .orderBy("cell", "dim")
    (out, rounds)
  }

  /** The Lloyd training loop alone — (final centroids, per-cell counts,
    * rounds). Split out (r14) so [[clusterLabelNmi]] can assign with the
    * UNROUNDED trained centroids. */
  private[graft] def kmeansFit(t: Tables, k: Int, maxIters: Int,
                               eps: Double): (Array[Array[Double]], Map[Int, Long], Int) = {
    val xa = t.embeddings.select(col("vec_id"),
      transform(col("embedding"), e => e.cast("double")).as("x"))
    val seedRows = xa.filter(col("vec_id") < k).orderBy("vec_id").collect()
    // cell c is seeded POSITIONALLY from vec_id c (the contract the SQL
    // oracle keys its cells on); a gap in [0, k) would silently shift every
    // later cell's numbering against the oracle — fail loudly instead
    require(seedRows.length == k &&
      seedRows.zipWithIndex.forall { case (r, i) => r.getLong(0) == i },
      s"kmeans seeding requires vec_ids exactly 0..${k - 1}; got " +
        seedRows.map(_.getLong(0)).mkString("[", ",", "]"))
    var cents: Array[Array[Double]] = seedRows.map(_.getSeq[Double](1).toArray)
    var counts = Map.empty[Int, Long]
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxIters) {
      val assigned = xa.withColumn("_cell",
        HashFunctions.nearestCell(col("x"), cents.toSeq.map(_.toSeq)))
      val rows = assigned
        .select(col("_cell"), posexplode(col("x")).as(Seq("_pos", "_v")))
        .groupBy("_cell", "_pos")
        .agg(avg("_v").as("_m"), count(lit(1)).as("_n"))
        .collect()
      val next = cents.map(_.clone())
      rows.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      counts = rows.filter(_.getInt(1) == 0)
        .map(r => r.getInt(0) -> r.getLong(3)).toMap
      val move = cents.zip(next).map { case (c, n) =>
        c.zip(n).map { case (a, b) => math.abs(a - b) }.max
      }.max
      cents = next
      rounds += 1
      converged = move <= eps
    }
    (cents, counts, rounds)
  }

  /** NORMALIZED MUTUAL INFORMATION + purity between the deterministic
    * k-means clustering and the embeddings' ground-truth `label` column
    * (Strehl & Ghosh JMLR'02's NMI — the standard external
    * cluster-quality metric, completing the evaluation family beside the
    * classifier's calibration and AUC rows): trains exactly like
    * [[kmeans]], assigns every vector with the final UNROUNDED
    * centroids, and reduces the k×L contingency table to
    * MI = Σ (n_cl/N)·ln(n_cl·N/(n_c·n_l)), H(C), H(L),
    * NMI = MI/√(H_C·H_L), purity = Σ_c max_l n_cl / N.
    *
    * Float discipline: the contingency is k×labels — TINY — so each
    * ln-sum folds over a SORTED struct array in fixed (cell, label)
    * order (the q_mi_terms fold-association pattern; the oracle's
    * list_reduce folds the identical order with the identical
    * parenthesization); purity is all-integer until one division.
    * Scale shape: one corpus assignment pass (codegen'd `HashImpl.nearestCell`) +
    * a (cell, label)-keyed count — the contingency and everything after
    * it is bounded by k·|labels|, never the corpus. */
  def clusterLabelNmi(t: Tables, k: Int = 8, iters: Int = 2): DataFrame = {
    val (cents, _, _) = kmeansFit(t, k, iters, eps = -1.0)
    val assigned = t.embeddings.select(col("label"),
      HashFunctions.nearestCell(
        transform(col("embedding"), e => e.cast("double")),
        cents.toSeq.map(_.toSeq)).as("cell"))
    val cl = assigned.groupBy("cell", "label").agg(count(lit(1)).as("ncl"))
      .localCheckpoint() // marginals + folds + purity all read it
    val nc = cl.groupBy("cell").agg(sum("ncl").as("nc"))
    val nl = cl.groupBy("label").agg(sum("ncl").as("nl"))
    val nTot = cl.agg(sum("ncl").as("n"))
    val miRow = cl.join(nc, "cell").join(nl, "label")
      .crossJoin(broadcast(nTot))
      .agg(sort_array(collect_list(struct(
        col("cell"), col("label"), col("ncl"), col("nc"), col("nl"), col("n"))))
        .as("_cells"))
      .select(aggregate(col("_cells"), lit(0.0), (acc, c) =>
        acc + (c.getField("ncl").cast("double") / c.getField("n")) *
          log(c.getField("ncl").cast("double") * c.getField("n") /
            (c.getField("nc").cast("double") * c.getField("nl"))))
        .as("mi"))
    def entropyOf(m: DataFrame, key: String, cnt: String, out: String) = m
      .crossJoin(broadcast(nTot))
      .agg(sort_array(collect_list(struct(col(key), col(cnt), col("n"))))
        .as("_e"))
      .select(aggregate(col("_e"), lit(0.0), (acc, c) =>
        acc - (c.getField(cnt).cast("double") / c.getField("n")) *
          log(c.getField(cnt).cast("double") / c.getField("n"))).as(out))
    val hcRow = entropyOf(nc, "cell", "nc", "hc")
    val hlRow = entropyOf(nl, "label", "nl", "hl")
    val purityRow = cl.groupBy("cell").agg(max("ncl").as("_mx"))
      .crossJoin(broadcast(nTot))
      .agg(sum("_mx").as("_sm"), first("n").as("_n"),
        countDistinct("cell").as("k_cells"))
      .select(col("k_cells"),
        (col("_sm").cast("double") / col("_n")).as("_purity"))
    val counts = cl.agg(sum("ncl").as("n_vecs"),
      countDistinct("label").as("n_labels"))
    counts.crossJoin(broadcast(purityRow))
      .crossJoin(broadcast(miRow))
      .crossJoin(broadcast(hcRow))
      .crossJoin(broadcast(hlRow))
      .select(col("n_vecs"), col("k_cells"), col("n_labels"),
        round(col("mi"), 6).as("mi"),
        round(col("hc"), 6).as("h_cluster"),
        round(col("hl"), 6).as("h_label"),
        round(col("mi") / sqrt(col("hc") * col("hl")), 6).as("nmi"),
        round(col("_purity"), 6).as("purity"))
  }

  /** Johnson–Lindenstrauss random-projection report (Achlioptas 2003
    * database-friendly ±1 projections — the signs are EXACTLY the SRP-LSH
    * family's hyperplanes, so this measures the geometry the bucketing
    * queries rely on): per vector, the L2 norm before and after projecting
    * 64→`nBits` dims scaled 1/√nBits, plus the distortion ratio the JL
    * lemma bounds around 1. One narrow pass through two codegen'd kernels
    * (both deterministic sequential accumulation, mirrored by the SQL
    * oracle's ordered folds); no shuffle at all — the scalable
    * dimensionality-reduction sanity check next to the exact power-method
    * PCA. */
  def randomProjectionReport(t: Tables, nBits: Int = 16,
                             table: Int = 7): DataFrame = {
    val seed = table.toLong * 0x9e3779b97f4a7c15L
    t.embeddings.select(
      col("vec_id"),
      round(HashFunctions.normF(col("embedding")), 6).as("norm_in"),
      round(HashFunctions.srpProjNorm(col("embedding"), nBits, seed), 6)
        .as("norm_out"),
      when(HashFunctions.normF(col("embedding")) === 0.0, lit(0.0))
        .otherwise(round(HashFunctions.srpProjNorm(col("embedding"), nBits, seed) /
          HashFunctions.normF(col("embedding")), 6)).as("jl_ratio"))
      .orderBy("vec_id")
  }

  /** Unit-normalized double coordinates of a float vector — the SEQUENTIAL
    * (index-ascending) norm fold every kernel and oracle in this family
    * shares, so driver-built center/benchmark matrices are bit-identical
    * to what [[graft.functions.HashFunctions.minCellDistUnit]] computes
    * executor-side. */
  private[operators] def unitOf(v: Seq[Float]): Seq[Double] = {
    val d = v.toArray.map(_.toDouble)
    var n2 = 0.0
    var j = 0
    while (j < d.length) { n2 += d(j) * d(j); j += 1 }
    val n = math.sqrt(n2)
    val inv = if (n == 0.0) 1.0 else n
    d.toSeq.map(_ / inv)
  }

  /** Greedy k-center data selection (Gonzalez 1985 farthest-point
    * traversal, the classic 2-approximation — the coreset/diversity
    * selection primitive of embedding-based data curation): seed with the
    * lowest vec_id, then `k−1` rounds of "add the point farthest from the
    * current centers", distances measured as squared euclidean between
    * UNIT vectors (= 2 − 2·cosine, so max-min-dist is exactly
    * min-max-cosine diversity).
    *
    * Scale shape: each round is ONE narrow corpus pass — the fused
    * [[graft.functions.HashImpl.minCellDistUnit]] kernel scores every vector
    * against the plan-embedded center matrix (≤ k·d doubles, a few KB) —
    * followed by a global top-1 that plans as TakeOrderedAndProject
    * (per-partition heaps; nothing corpus-sized moves). Driver state is
    * the k×d center matrix and the k selected ids — bounded by k, never
    * by the corpus. The argmax compares the ROUNDED distance (then
    * vec_id), which collapses almost every ulp-level engine/oracle
    * difference into the deterministic id tie-break — note "almost": a
    * distance within an ulp of a 0.5e-6 rounding boundary can still round
    * differently across engines (the oracle's SQL `sum()` is unordered),
    * flip one argmax, and diverge the greedy chain from there. Not
    * observed on this corpus; if it ever flakes, the fix is ordered
    * list_reduce folds in the oracle's distance/norm sums (the SRP-oracle
    * treatment).
    * Emits (sel_order, vec_id, radius2) — radius2 is the selection-time
    * max-min coverage radius, NULL for the seed (it has no prior
    * centers); the monotone non-increasing radius sequence is the
    * coverage-vs-k curve a curation pipeline reads the budget off. */
  def kCenterSelect(t: Tables, k: Int = 8): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val emb = t.embeddings.select(col("vec_id"), col("embedding"))
    val seed = emb.orderBy("vec_id").limit(1).collect()
    if (seed.isEmpty)
      return Seq.empty[(Int, Long, Option[Double])]
        .toDF("sel_order", "vec_id", "radius2")
    var selIds = List(seed(0).getLong(0))
    var cents = Vector(unitOf(seed(0).getSeq[Float](1)))
    val out = scala.collection.mutable.ArrayBuffer[(Int, Long, Option[Double])](
      (1, selIds.head, None))
    var r = 2
    var exhausted = false
    while (r <= k && !exhausted) {
      val win = kCenterRound(emb, selIds, cents).collect()
      if (win.isEmpty) exhausted = true // corpus smaller than k
      else {
        selIds ::= win(0).getLong(0)
        cents :+= unitOf(win(0).getSeq[Float](1))
        out += ((r, win(0).getLong(0), Some(win(0).getDouble(2))))
        r += 1
      }
    }
    out.toSeq.toDF("sel_order", "vec_id", "radius2").orderBy("sel_order")
  }

  /** One k-center round: score every unselected vector against the current
    * center matrix, keep the farthest. Exposed so the plan spec can assert
    * the top-1 is TakeOrderedAndProject (per-partition heaps), never a
    * global sort. */
  private[graft] def kCenterRound(emb: DataFrame, selIds: Seq[Long],
                                  cents: Seq[Seq[Double]]): DataFrame =
    emb.filter(!col("vec_id").isin(selIds: _*))
      .select(col("vec_id"), col("embedding"),
        round(HashFunctions.minCellDistUnit(col("embedding"), cents), 6)
          .as("r2"))
      .orderBy(col("r2").desc, col("vec_id").asc)
      .limit(1)

  /** Top principal component of the embedding matrix by fixed-iteration
    * power method (Mises–Pollaczek 1929 — public algorithm): v ←
    * Xᵀ(Xv)/‖Xᵀ(Xv)‖, `iters` times from the uniform unit vector. Each
    * round is two corpus passes that never materialize the d×d Gram
    * matrix: the row scores s=Xv are a narrow map with v as a broadcast
    * literal, and y=Xᵀs is a d-key aggregation (map-side partial combine →
    * d rows per partition). Only the d-vector v crosses the driver between
    * rounds — bounded by dimension, not corpus. Fixed iterations keep it
    * deterministic (oracle-checkable); the sign is normalized so the
    * largest-magnitude loading is positive (eigenvectors are sign-
    * ambiguous, and summation order must not pick the sign). */
  def topPrincipalComponent(t: Tables, iters: Int = 3): DataFrame = {
    val xa = t.embeddings.select(col("vec_id"), col("embedding"))
    val dim = xa.select(size(col("embedding"))).head().getInt(0)
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var lastNorm = 0.0
    for (_ <- 1 to iters) {
      // codegen'd fused dot product (`HashImpl.dotRef`) — the
      // compositional aggregate(zip_with(...)) form pays an interpreted
      // lambda call per element, O(n·d) of them per pass
      val y = xa
        .withColumn("_s", HashFunctions.dotRef(col("embedding"), v))
        .select(posexplode(col("embedding")).as(Seq("_pos", "_xj")), col("_s"))
        .groupBy("_pos").agg(sum(col("_xj").cast("double") * col("_s")).as("_y"))
        .orderBy("_pos").collect().map(_.getDouble(1))
      lastNorm = math.sqrt(y.map(a => a * a).sum)
      v = y.map(_ / lastNorm)
    }
    val jstar = v.indices.minBy(j => (-math.abs(v(j)), j))
    val fixed = if (v(jstar) < 0) v.map(x => -x) else v
    val spark = t.spark
    import spark.implicits._
    fixed.zipWithIndex.toSeq
      .map { case (x, j) => (j + 1L, x) }.toDF("dim", "_l")
      .select(col("dim"), round(col("_l"), 6).as("loading"),
        round(lit(lastNorm), 4).as("eigenvalue"))
      .orderBy("dim")
  }
}
