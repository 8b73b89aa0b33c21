package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions._

/** Session extensions exposing the engine's custom Catalyst expressions to
  * SQL users (`spark.sql("SELECT simhash64(...) ...")`), plus the TopK
  * planner strategy, the Levenshtein rewrite and the one-split physical
  * rule ([[plans.OneSplitPlans]]).
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

  private def foldableArg(es: Seq[Expression], i: Int, fn: String): Expression = {
    require(es.length > i,
      s"$fn: expected at least ${i + 1} arguments, got ${es.length}")
    require(es(i).foldable,
      s"$fn: argument ${i + 1} must be a literal, got ${es(i).sql}")
    es(i)
  }
  private def arg(es: Seq[Expression], i: Int, fn: String): Int =
    foldableArg(es, i, fn).eval(null).asInstanceOf[Number].intValue()
  private def argL(es: Seq[Expression], i: Int, fn: String): Long =
    foldableArg(es, i, fn).eval(null).asInstanceOf[Number].longValue()

  /** (name, doc, builder) for every SQL-exposed function. */
  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("simhash64", "simhash64(tokens) - 64-bit SimHash of an array of tokens",
      es => SimHash64(es.head)),
    ("minhash_sig", "minhash_sig(shingles, k, seed) - minhash signature of a shingle array",
      es => MinHashSig(es.head, arg(es, 1, "minhash_sig"), argL(es, 2, "minhash_sig"))),
    ("minhash_sig_text", "minhash_sig_text(text, w, k, seed) - fused tokenize+shingle+minhash",
      es => MinHashSigText(es.head, arg(es, 1, "minhash_sig_text"), arg(es, 2, "minhash_sig_text"), argL(es, 3, "minhash_sig_text"))),
    ("band_keys", "band_keys(sig, bands) - LSH band keys of a minhash signature",
      es => BandKeys(es.head, arg(es, 1, "band_keys"))),
    ("rolling_hash", "rolling_hash(text) - Karp-Rabin rolling-hash fingerprint",
      es => RollingHash64(es.head)),
    ("nfc_normalize", "nfc_normalize(text) - Unicode NFC canonical normalization",
      es => NfcNormalize(es.head)),
    ("srp_bucket", "srp_bucket(vec, nbits, seed) - signed-random-projection LSH bucket",
      es => SrpBucket(es.head, arg(es, 1, "srp_bucket"), argL(es, 2, "srp_bucket"))),
    ("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float vectors",
      es => CosineSimF(es.head, es(1))),
    ("vec_norm", "vec_norm(vec) - sequential L2 norm of a float vector",
      es => NormF(es.head)),
    ("srp_proj_norm", "srp_proj_norm(vec, nbits, seed) - L2 norm of the JL +-1 projection",
      es => SrpProjNorm(es.head, arg(es, 1, "srp_proj_norm"), argL(es, 2, "srp_proj_norm"))),
    ("lang_id", "lang_id(text) - struct(lang_pred, lang_score) language guess",
      es => LangId(es.head)),
    ("freq_items", "freq_items(item, k) - SpaceSaving top-k frequent-items sketch (aggregate)",
      es => FreqItemsSketch(es.head, arg(es, 1, "freq_items"))),
    ("char_ngrams", "char_ngrams(text, n) - distinct character n-grams of the normalized text",
      es => CharNGrams(es.head, arg(es, 1, "char_ngrams"))),
    ("mask_jaccard", "mask_jaccard(a, b) - Jaccard of two bitset fingerprints (array<long>); on width mismatch the longer fingerprint's tail counts toward the union",
      es => MaskJaccard(es.head, es(1))),
    ("sorted_jaccard", "sorted_jaccard(a, b) - Jaccard of two sorted int-id arrays (merge intersection)",
      es => SortedJaccard(es.head, es(1))),
    ("dup3_frac", "dup3_frac(tokens) - fraction of positional 3-grams that are duplicates (repetition signal)",
      es => Dup3Frac(es.head)),
    ("jaro_winkler", "jaro_winkler(a, b) - Jaro-Winkler similarity (bit-exact with DuckDB's)",
      es => JaroWinklerF(es.head, es(1))),
    // Spark's own runtime-filter pair, surfaced for explicit pipeline use
    // (build once, keep the bytes, prune many scans — see
    // operators/RuntimeFilter.scala); both sides take xxhash64 longs
    ("bloom_agg", "bloom_agg(hashed_key, n_items, num_bits) - Bloom filter aggregate (binary) over xxhash64 longs",
      es => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        es.head, foldableArg(es, 1, "bloom_agg"), foldableArg(es, 2, "bloom_agg"))),
    ("bloom_might_contain", "bloom_might_contain(bloom_binary, hashed_key) - probe a bloom_agg filter; never false-negative",
      es => org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(es.head, es(1))))

  /** Register all functions on an existing session (temp functions). */
  def registerTemp(spark: SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
    }
}
