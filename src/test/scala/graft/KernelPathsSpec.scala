package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{HashFunctions => H, TextFunctions}
import graft.operators.TextAnalysis

/** Every engine kernel, called through the column API and through its SQL
  * name, over the sf0.001 parquet fixture:
  *  - gives the same rows in a whole-stage-codegen projection as with
  *    codegen off (interpreted `eval`);
  *  - keeps a pinned output type and nullability;
  *  - compiles no new class when the same projections are built and run
  *    again (plan-embedded arrays and automata must not change the
  *    generated code from one build to the next).
  *
  * Spark orders a projection's common subexpressions by height and then by
  * hash, and the hash includes attribute ids that change with every build;
  * two common subexpressions of equal height then swap places in the
  * generated code from one build to the next. Each projection here keeps
  * its common subexpressions at distinct heights, so the compile count
  * measures the kernels alone. */
class KernelPathsSpec extends SparkSpec {

  private val d = 64
  private val cents = Seq.tabulate(4, d)((c, j) => math.sin(c * d + j) * 0.2)
  private val books = Seq.tabulate(4, 4, d / 4)((s, c, j) => math.cos(s * 31 + c * 7 + j) * 0.1)
  private val ref = Array.tabulate(d)(j => math.cos(j) * 0.25)

  /** Column-API calls over `documents`: inputs are nullable (parquet) except
    * `txt`, so both nullability cases are pinned. */
  private def docKernels: DataFrame = {
    val text = col("text")
    val txt = coalesce(text, lit(""))
    val tk = TextAnalysis.tokens(text)
    // 0, 1 or 2 tokens: topBigram's null result
    val short = slice(tk, lit(1), pmod(col("doc_id"), lit(3L)).cast("int"))
    val ids = sort_array(array_distinct(array(
      length(text) % 10, pmod(hash(text), lit(10)), pmod(hash(txt, lit(1)), lit(10)))))
    val ids2 = sort_array(array_distinct(array(
      length(txt) % 7, pmod(hash(text, lit(2)), lit(10)))))
    val masks = array(xxhash64(text), xxhash64(txt, lit(3)))
    tables.documents.select(col("doc_id"),
      H.simhash64(tk).as("simhash64"),
      H.minhashSig(tk, 16, 5L).as("minhash_sig"),
      H.minhashSigText(txt, 2, 8, 11L).as("minhash_sig_text"),
      H.bandKeys(H.minhashSig(tk, 16, 5L), 4).as("band_keys"),
      H.rollingHash64(txt).as("rolling_hash64"),
      H.windowHashes(text, 8).as("window_hashes"),
      H.runFingerprints(tk, 3).as("run_fingerprints"),
      H.topBigram(short).as("top_bigram"),
      H.topBigram(tk).as("top_bigram_full"),
      H.nfcNormalize(text).as("nfc_normalize"),
      H.jaroWinkler(substring(text, 1, 16), substring(txt, 3, 16)).as("jaro_winkler"),
      H.dup3Frac(tk).as("dup3_frac"),
      H.charNgrams(substring(text, 1, 24), 3).as("char_ngrams"),
      H.byteEntropy(encode(text, "UTF-8")).as("byte_entropy"),
      H.mediaFormat(encode(txt, "UTF-8")).as("media_format"),
      H.maskJaccard(masks, array(xxhash64(txt))).as("mask_jaccard"),
      H.sortedJaccard(ids, ids2).as("sorted_jaccard"),
      H.multiPatternCount(lower(text), Seq("the", "and", "ing", " a ")).as("multi_pattern"),
      TextFunctions.langId(text).as("lang_id"))
  }

  /** Column-API calls over `embeddings`. */
  private def vecKernels: DataFrame = {
    val vec = col("embedding")
    val codes = H.pqCodes(vec, books)
    tables.embeddings.select(col("vec_id"),
      H.srpBucket(vec, 8, 7L).as("srp_bucket"),
      H.srpBucketSeeded(vec, 8, pmod(col("vec_id"), lit(3L))).as("srp_bucket_seeded"),
      H.srpBucketSeeded(vec, 6, pmod(col("vec_id"), lit(5L)).cast("int"))
        .as("srp_bucket_seeded_int"),
      H.cosineSim(vec, reverse(vec)).as("cosine_sim"),
      H.dotRef(vec, ref).as("dot_ref"),
      H.nearestCell(vec.cast("array<double>"), cents).as("nearest_cell"),
      H.nearestCellUnit(vec, cents).as("nearest_cell_unit"),
      H.minCellDistUnit(vec, cents).as("min_cell_dist_unit"),
      H.normF(vec).as("norm_f"),
      H.signPack64(vec).as("sign_pack64"),
      H.srpProjNorm(vec, 16, 7L).as("srp_proj_norm"),
      codes.as("pq_codes"),
      H.adcDist(codes, slice(vec, 1, 16).cast("array<double>")).as("adc_dist"))
  }

  /** The SQL-registered kernels, by name. */
  private def sqlKernels: Seq[DataFrame] = {
    GraftExtensions.registerTemp(spark)
    tables.documents.createOrReplaceTempView("kp_documents")
    tables.embeddings.createOrReplaceTempView("kp_embeddings")
    Seq(spark.sql(
      """SELECT doc_id,
        |  simhash64(split(text, ' ')) AS simhash64,
        |  minhash_sig(split(text, ' '), 16, 5) AS minhash_sig,
        |  minhash_sig_text(text, 2, 8, 11L) AS minhash_sig_text,
        |  band_keys(minhash_sig(split(text, ' '), 16, 5), 4) AS band_keys,
        |  rolling_hash(text) AS rolling_hash,
        |  nfc_normalize(text) AS nfc_normalize,
        |  lang_id(text) AS lang_id,
        |  char_ngrams(substring(text, 1, 24), 3) AS char_ngrams,
        |  mask_jaccard(array(xxhash64(text)), array(xxhash64(text, 1))) AS mask_jaccard,
        |  sorted_jaccard(sort_array(array(length(text) % 10, 3)),
        |                 sort_array(array(length(lower(text)) % 7, 4))) AS sorted_jaccard,
        |  dup3_frac(split(text, ' ')) AS dup3_frac,
        |  jaro_winkler(substring(text, 1, 16), substring(text, 3, 16)) AS jaro_winkler
        |FROM kp_documents""".stripMargin),
      spark.sql(
        """SELECT vec_id,
          |  srp_bucket(embedding, 8, 7L) AS srp_bucket,
          |  cosine_sim(embedding, reverse(embedding)) AS cosine_sim,
          |  vec_norm(embedding) AS vec_norm,
          |  srp_proj_norm(embedding, 16, 7L) AS srp_proj_norm
          |FROM kp_embeddings""".stripMargin))
  }

  private def all: Seq[DataFrame] = Seq(docKernels, vecKernels) ++ sqlKernels

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getLong(0))

  private def withConfs[T](kv: (String, String)*)(f: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def compiles[T](f: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r = f
    (r, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  test("codegen and interpreted evaluation give the same rows for every kernel") {
    val codegen = all.map { df =>
      val r = rows(df)
      assert(planOf(df).contains("*(1) Project"), s"not in whole-stage codegen:\n${planOf(df)}")
      r
    }
    val (interpreted, n) = compiles {
      withConfs("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        all.map(rows)
      }
    }
    assert(n == 0, s"$n classes compiled with codegen off")
    codegen.zip(interpreted).zip(all).foreach { case ((c, i), df) =>
      assert(c.length == 500)
      df.columns.indices.foreach { j =>
        assert(c.map(_.get(j)) == i.map(_.get(j)), s"column ${df.columns(j)} differs")
      }
    }
    // the nullable kernel really returns null on short input
    assert(codegen.head.exists(_.isNullAt(docKernels.columns.indexOf("top_bigram"))))
  }

  test("a projection that tokenizes stays in whole-stage codegen") {
    val df = tables.documents.select(
      H.simhash64(TextAnalysis.tokens(col("text"))).as("simhash64"))
    assert("""\*\(\d+\) Project""".r.findFirstIn(planOf(df)).isDefined,
      s"not in whole-stage codegen:\n${planOf(df)}")
  }

  private def f(name: String, t: DataType, nullable: Boolean = true) =
    StructField(name, t, nullable)
  private val longs = ArrayType(LongType, containsNull = false)
  private val bigram = StructType(Seq(f("w1", StringType, false),
    f("w2", StringType, false), f("n_occ", LongType, false)))
  private val lang = StructType(Seq(f("lang_pred", StringType, false),
    f("lang_score", DoubleType, false)))

  test("every kernel output keeps its pinned type and nullability") {
    val pinned = Seq(
      Seq(f("doc_id", LongType),
        f("simhash64", LongType), f("minhash_sig", longs),
        f("minhash_sig_text", longs, false), f("band_keys", longs),
        f("rolling_hash64", LongType, false), f("window_hashes", longs),
        f("run_fingerprints", longs), f("top_bigram", bigram),
        f("top_bigram_full", bigram), f("nfc_normalize", StringType),
        f("jaro_winkler", DoubleType), f("dup3_frac", DoubleType),
        f("char_ngrams", ArrayType(StringType, containsNull = false)),
        f("byte_entropy", DoubleType), f("media_format", StringType),
        f("mask_jaccard", DoubleType, false), f("sorted_jaccard", DoubleType, false),
        f("multi_pattern", StructType(Seq(f("n_patterns_hit", LongType, false),
          f("n_occurrences", LongType, false)))),
        f("lang_id", lang)),
      Seq(f("vec_id", LongType),
        f("srp_bucket", IntegerType), f("srp_bucket_seeded", IntegerType),
        f("srp_bucket_seeded_int", IntegerType), f("cosine_sim", DoubleType),
        f("dot_ref", DoubleType), f("nearest_cell", IntegerType),
        f("nearest_cell_unit", IntegerType), f("min_cell_dist_unit", DoubleType),
        f("norm_f", DoubleType), f("sign_pack64", LongType),
        f("srp_proj_norm", DoubleType),
        f("pq_codes", ArrayType(IntegerType, containsNull = false)),
        f("adc_dist", DoubleType)),
      Seq(f("doc_id", LongType),
        f("simhash64", LongType), f("minhash_sig", longs),
        f("minhash_sig_text", longs), f("band_keys", longs),
        f("rolling_hash", LongType), f("nfc_normalize", StringType),
        f("lang_id", lang), f("char_ngrams", ArrayType(StringType, containsNull = false)),
        f("mask_jaccard", DoubleType, false), f("sorted_jaccard", DoubleType, false),
        f("dup3_frac", DoubleType), f("jaro_winkler", DoubleType)),
      Seq(f("vec_id", LongType),
        f("srp_bucket", IntegerType), f("cosine_sim", DoubleType),
        f("vec_norm", DoubleType), f("srp_proj_norm", DoubleType)))
    assert(all.map(_.schema.fields.toSeq) == pinned)
  }

  test("building and running every kernel projection again compiles no class") {
    def run(): Seq[Long] =
      all.map(df => compiles(df.write.format("noop").mode("overwrite").save())._2)
    run()
    assert(run() == Seq(0L, 0L, 0L, 0L), "classes compiled per projection on the second run")
  }
}
