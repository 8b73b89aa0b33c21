package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.HashFunctions
import graft.sources.Tables

/** PERSISTED IVF-ANN index — the similarity-search counterpart of
  * [[DedupIndex]]: the coarse quantizer (centroids) and the cell-assigned
  * vector lists are written to storage ONCE, later sessions attach, daily
  * embedding batches APPEND through the frozen quantizer, and queries read
  * only the probed cells off disk.
  *
  * Layout under the index directory:
  *   - `centroids/` — (cell, centroid: array<double>), nList rows. The
  *     quantizer; tiny, always driver-loaded.
  *   - `vectors/` — (vec_id, embedding, cell), PARTITIONED BY cell, so a
  *     probe's `cell IN (...)` filter prunes at the DIRECTORY level: a
  *     query touches nProbe/nList of the corpus bytes — the disk-level
  *     analogue of FAISS's inverted lists, and the property that makes the
  *     index pay at 100 TB (brute force reads everything, every query).
  *
  * The quantizer is FROZEN at build time (the standard IVF contract):
  * appends assign new vectors to existing cells with the same codegen'd
  * kernel, so index state never depends on arrival order — build(A∪B,
  * fit on A) ≡ build(A) then append(B), spec-asserted. Re-fitting
  * centroids is an explicit rebuild, not an append.
  *
  * Fit, probe and rank call the same steps as [[Similarity.ivfTopK]]:
  * [[Similarity.boundedVectors]] (the vec_id-bounded sample),
  * [[Similarity.fitUnitCentroids]] (the Lloyd fit), [[Similarity.nearestCells]]
  * (the probe) and [[Similarity.rankByCosine]] (the rounded-cosine/id
  * ranking), so the attached-index query is verified by the very same SQL
  * oracle.
  */
object AnnIndex {

  final case class Index(dir: String, nList: Int) {
    def centroidsPath: String = s"$dir/centroids"
    def vectorsPath: String = s"$dir/vectors"
  }

  // Hadoop-fs path resolved next to the data, committed atomically via
  // IndexFiles — a java.nio write would land on the driver's LOCAL disk
  // when the index dir is a cluster fs, and attach from another host
  // would see data with no marker (r11 ADVICE)
  private def markerPath(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_ANN_INDEX_OK")

  private def loadCentroids(spark: SparkSession, idx: Index): Array[Array[Double]] =
    Tables.scan(spark, idx.centroidsPath)
      .orderBy("cell").collect()
      .map(r => r.getSeq[Double](1).toArray)

  private def assignCells(vectors: DataFrame,
                          cents: Array[Array[Double]]): DataFrame =
    vectors.select(col("vec_id"), col("embedding"),
      HashFunctions.nearestCellUnit(col("embedding"),
        cents.map(_.toSeq).toSeq).as("cell"))

  /** Build the index: fit the quantizer on a deterministic vec_id-bounded
    * sample of `fitOn` (defaults to the corpus — pass a subset to freeze
    * the quantizer on day-0 data), assign every corpus vector, and write
    * both tables. The build is the ONLY corpus-wide pass; everything after
    * attaches. */
  def buildIndex(spark: SparkSession, embeddings: DataFrame, dir: String,
                 nList: Int = 16, lloydIters: Int = 2,
                 fitOn: Option[DataFrame] = None): Index = {
    val sampleTarget = 1000L * nList
    val sample = Similarity.boundedVectors(fitOn.getOrElse(embeddings), sampleTarget)
    require(sample.nonEmpty,
      s"AnnIndex.buildIndex: no vectors with vec_id < $sampleTarget to fit the quantizer on")
    val cents = Similarity.fitUnitCentroids(sample, nList, lloydIters)
    val idx = Index(dir, cents.length)
    import spark.implicits._
    cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(idx.centroidsPath)
    assignCells(embeddings, cents)
      .write.mode("overwrite").partitionBy("cell").parquet(idx.vectorsPath)
    IndexFiles.mkdirs(spark, new org.apache.hadoop.fs.Path(dir))
    IndexFiles.writeString(spark, markerPath(dir), s"nList=${cents.length}")
    idx
  }

  /** Attach a previously built index (no data pass — reads the marker and
    * the nList it recorded). Rolls an interrupted-but-committed compaction
    * forward and discards an uncommitted stage, so every attach sees
    * exactly one complete generation. */
  def attachIndex(spark: SparkSession, dir: String): Index = {
    val marker = IndexFiles.readString(spark, markerPath(dir))
    require(marker.isDefined,
      s"AnnIndex.attachIndex: no completed index at $dir (missing ${markerPath(dir)})")
    // guard the parse: a marker that exists but doesn't parse (torn write
    // on a store without atomic rename) must fail LOUDLY here, not as a
    // confusing NumberFormatException deep in a probe
    val n = scala.util.Try(marker.get.stripPrefix("nList=").trim.toInt)
      .getOrElse(throw new IllegalStateException(
        s"AnnIndex.attachIndex: unreadable marker at ${markerPath(dir)}: '${marker.get}'"))
    val idx = Index(dir, n)
    if (!IndexFiles.rollForward(spark, compactMarker(idx), vectorsDir(idx)))
      IndexFiles.discardStages(spark, vectorsDir(idx))
    idx
  }

  private def compactMarker(idx: Index) =
    new org.apache.hadoop.fs.Path(idx.dir, "compact.commit")

  private def vectorsDir(idx: Index) = Seq(new org.apache.hadoop.fs.Path(idx.vectorsPath))

  /** Compact the vector store: rewrite every cell partition to ONE file.
    * Streaming appends leave a file per (batch, cell) — after a month of
    * micro-batches a probe opens thousands of tiny files per cell; this
    * is the maintenance pass that restores build-time read cost. The
    * rewrite stages beside `vectors/` and commits through
    * [[IndexFiles.swapGenerations]]; [[attachIndex]] rolls a committed
    * swap forward and discards an uncommitted stage. Exclusive with
    * appends by contract: rows appended between staging and promotion
    * would be discarded with the old generation. */
  def compactIndex(spark: SparkSession, idx: Index): Unit = {
    Tables.scan(spark, idx.vectorsPath)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(IndexFiles.stageOf(vectorsDir(idx).head).toString)
    IndexFiles.swapGenerations(spark, compactMarker(idx), vectorsDir(idx))
  }

  /** Append a new vector batch THROUGH the frozen quantizer: assign cells
    * with the stored centroids, append to the partitioned vector table.
    * Shuffles nothing but the batch; the stored corpus is untouched.
    * SINGLE WRITER by contract: appends and [[compactIndex]] must not run
    * concurrently on one index dir (rows appended mid-compaction would be
    * discarded with the old generation); concurrent readers are safe. */
  def appendToIndex(spark: SparkSession, newVectors: DataFrame,
                    idx: Index): Unit = {
    val cents = loadCentroids(spark, idx)
    assignCells(newVectors, cents)
      .write.mode("append").partitionBy("cell").parquet(idx.vectorsPath)
  }

  /** Top-k cosine neighbors for the query vectors against the STORED
    * index. The query set is bounded (this API's contract, as in
    * [[Similarity.ivfTopK]]): query vectors collect to the driver, probe
    * cells are computed there, and the candidate scan carries a STATIC
    * `cell IN (probed)` partition filter — only nProbe·nQueries cell
    * directories are read, everything else is pruned before I/O. */
  def queryIndex(spark: SparkSession, idx: Index, queries: DataFrame,
                 k: Int = 5, nProbe: Int = 4): DataFrame = {
    val cents = loadCentroids(spark, idx)
    val probedRows = Similarity.sortedVectors(queries).flatMap { case (qid, qEmb) =>
      Similarity.nearestCells(cents, qEmb, nProbe).map(cell => (qid, qEmb, cell))
    }
    import spark.implicits._
    val probed = probedRows.toSeq.toDF("query_id", "q_emb", "cell")
    val cells = probedRows.map(_._3).distinct.sorted
    Similarity.rankByCosine(Tables.scan(spark, idx.vectorsPath)
      // static values → partition pruning at the file listing, not a join
      .filter(col("cell").isin(cells.map(Integer.valueOf).toSeq: _*))
      .select(col("vec_id").as("neighbor_id"), col("embedding"), col("cell"))
      .join(broadcast(probed), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", HashFunctions.cosineSim(col("q_emb"), col("embedding"))), k)
  }
}
