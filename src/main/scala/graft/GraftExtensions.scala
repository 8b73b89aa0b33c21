package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import graft.functions.{FreqItemsSketch, Kernels}

/** Session extensions exposing the engine's kernels to SQL users
  * (`spark.sql("SELECT simhash64(...) ...")`), plus the TopK planner
  * strategy, the Levenshtein rewrite and the one-split physical rule
  * ([[plans.OneSplitPlans]]).
  *
  * Each kernel function builds the same [[graft.functions.Kernels]] call
  * as the column API: a Spark `StaticInvoke`, shown in EXPLAIN as
  * `static_invoke(graft.functions.HashImpl.<kernel>(...))`. Scalar
  * arguments must be integer literals; sizes must be at least 1.
  *
  * Two registration paths:
  *  - cluster-level: `spark.sql.extensions=graft.GraftExtensions` (or
  *    `SparkSession.builder().withExtensions(new GraftExtensions)`)
  *  - session-level: [[GraftExtensions.registerTemp]] on an existing session
  *    (what [[Engine.register]] uses — no restart needed).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, doc, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name, doc),
        builder))
    }
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    e.injectOptimizerRule(_ => graft.plans.LevenshteinBandedRewrite)
    e.injectQueryPostPlannerStrategyRule(graft.plans.OneSplitPlans(_))
  }
}

object GraftExtensions {

  /** The arguments of one call to the SQL function `fn`. Every failed check
    * throws IllegalArgumentException naming `fn` and the argument. */
  private final class Args(fn: String, es: Seq[Expression]) {
    def apply(i: Int): Expression = {
      require(es.length > i, s"$fn: expected at least ${i + 1} arguments, got ${es.length}")
      es(i)
    }

    def literal(i: Int): Expression = {
      require(apply(i).foldable, s"$fn: argument ${i + 1} must be a literal, got ${es(i).sql}")
      es(i)
    }

    private def integral(i: Int, lo: Long, hi: Long): Long = {
      val e = literal(i)
      val v = e.eval(null)
      require(v != null && (e.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }), s"$fn: argument ${i + 1} must be a non-null integer literal, got ${e.sql}")
      val n = v.asInstanceOf[Number].longValue()
      require(n >= lo && n <= hi, s"$fn: argument ${i + 1} must be in [$lo, $hi], got $n")
      n
    }

    /** A size (k, w, n, bands, nbits): an integer literal in [1, max]. */
    def size(i: Int, max: Int = Int.MaxValue): Int = integral(i, 1, max).toInt
    def seed(i: Int): Long = integral(i, Long.MinValue, Long.MaxValue)
  }

  private def fn(name: String, doc: String)(build: Args => Expression)
      : (String, String, Seq[Expression] => Expression) =
    (name, doc, es => build(new Args(name, es)))

  /** (name, doc, builder) for every SQL-exposed function. */
  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    fn("simhash64", "simhash64(tokens) - 64-bit SimHash of an array of tokens")(
      a => Kernels.simhash64.expr(a(0))),
    fn("minhash_sig", "minhash_sig(shingles, k, seed) - minhash signature of a shingle array")(
      a => Kernels.minhash.expr(a(0), a.size(1), a.seed(2))),
    fn("minhash_sig_text", "minhash_sig_text(text, w, k, seed) - fused tokenize+shingle+minhash")(
      a => Kernels.minhashText.expr(a(0), a.size(1), a.size(2), a.seed(3))),
    fn("band_keys", "band_keys(sig, bands) - LSH band keys of a minhash signature")(
      a => Kernels.bandKeys.expr(a(0), a.size(1))),
    fn("rolling_hash", "rolling_hash(text) - Karp-Rabin rolling-hash fingerprint")(
      a => Kernels.rollingHash.expr(a(0))),
    fn("nfc_normalize", "nfc_normalize(text) - Unicode NFC canonical normalization")(
      a => Kernels.nfcNormalize.expr(a(0))),
    // bit b of the bucket is 1 << b, so at most 32 bits fit the int
    fn("srp_bucket", "srp_bucket(vec, nbits, seed) - signed-random-projection LSH bucket (nbits <= 32)")(
      a => Kernels.srpBucket.expr(a(0), a.size(1, max = 32), a.seed(2))),
    fn("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float vectors")(
      a => Kernels.cosineF.expr(a(0), a(1))),
    fn("vec_norm", "vec_norm(vec) - sequential L2 norm of a float vector")(
      a => Kernels.normF.expr(a(0))),
    fn("srp_proj_norm", "srp_proj_norm(vec, nbits, seed) - L2 norm of the JL +-1 projection")(
      a => Kernels.srpProjNorm.expr(a(0), a.size(1), a.seed(2))),
    fn("lang_id", "lang_id(text) - struct(lang_pred, lang_score) language guess")(
      a => Kernels.langBest.expr(a(0))),
    fn("freq_items", "freq_items(item, k) - SpaceSaving top-k frequent-items sketch (aggregate)")(
      a => FreqItemsSketch(a(0), a.size(1))),
    fn("char_ngrams", "char_ngrams(text, n) - distinct character n-grams of the normalized text")(
      a => Kernels.charNgrams.expr(a(0), a.size(1))),
    fn("mask_jaccard", "mask_jaccard(a, b) - Jaccard of two bitset fingerprints (array<long>); on width mismatch the longer fingerprint's tail counts toward the union")(
      a => Kernels.maskJaccard.expr(a(0), a(1))),
    fn("sorted_jaccard", "sorted_jaccard(a, b) - Jaccard of two sorted int-id arrays (merge intersection)")(
      a => Kernels.sortedJaccard.expr(a(0), a(1))),
    fn("dup3_frac", "dup3_frac(tokens) - fraction of positional 3-grams that are duplicates (repetition signal)")(
      a => Kernels.dup3Frac.expr(a(0))),
    fn("jaro_winkler", "jaro_winkler(a, b) - Jaro-Winkler similarity (bit-exact with DuckDB's)")(
      a => Kernels.jaroWinkler.expr(a(0), a(1))),
    // Spark's own runtime-filter pair, surfaced for explicit pipeline use
    // (build once, keep the bytes, prune many scans — see
    // operators/RuntimeFilter.scala); both sides take xxhash64 longs
    fn("bloom_agg", "bloom_agg(hashed_key, n_items, num_bits) - Bloom filter aggregate (binary) over xxhash64 longs")(
      a => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        a(0), a.literal(1), a.literal(2))),
    fn("bloom_might_contain", "bloom_might_contain(bloom_binary, hashed_key) - probe a bloom_agg filter; never false-negative")(
      a => org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(a(0), a(1))))

  /** Register all functions on an existing session (temp functions). */
  def registerTemp(spark: SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
    }
}
