package graft

class GraftExtensionsSpec extends SparkSpec {

  lazy val engine: Engine = Engine(spark, sfDir)

  test("custom expressions are callable from SQL after registration") {
    engine // forces register()
    val r = spark.sql(
      """SELECT doc_id,
        |       simhash64(split(lower(text), '\\s+')) AS sh,
        |       rolling_hash(text) AS rh,
        |       minhash_sig_text(text, 2, 16, 42L) AS sig,
        |       lang_id(text).lang_pred AS lang
        |FROM documents ORDER BY doc_id LIMIT 3""".stripMargin).collect()
    assert(r.length == 3)
    assert(r.forall(_.getSeq[Long](3).length == 16))
    assert(r.forall(row => row.getString(4).nonEmpty))
  }

  test("jaro_winkler is callable from SQL with the pinned reference value") {
    engine
    val r = spark.sql("SELECT jaro_winkler('martha', 'marhta') AS jw").collect()(0)
    assert(r.getDouble(0) == 0.9611111111111111)
  }

  test("set-similarity kernels are callable from SQL") {
    engine
    val r = spark.sql(
      """SELECT char_ngrams('Hello hello', 3) AS grams,
        |       mask_jaccard(array(7L), array(3L)) AS mj,
        |       sorted_jaccard(array(1, 2, 3), array(2, 3, 4)) AS sj""".stripMargin)
      .collect()(0)
    assert(r.getSeq[String](0).contains("llo"))
    assert(r.getDouble(1) == 2.0 / 3.0) // popcount(7&3)=2, popcount(7|3)=3
    assert(r.getDouble(2) == 0.5)       // |{2,3}| / |{1,2,3,4}|
    // width mismatch: the longer fingerprint's tail joins the union
    val mm = spark.sql("SELECT mask_jaccard(array(7L), array(3L, -1L)) AS j")
      .collect()(0).getDouble(0)
    assert(mm == 2.0 / 67.0, s"got $mm") // inter 2, union 3 + 64 tail bits
  }

  test("vector functions work in SQL over the embeddings table") {
    engine
    val r = spark.sql(
      """SELECT a.vec_id, cosine_sim(a.embedding, a.embedding) AS self_sim,
        |       srp_bucket(a.embedding, 8, 7L) AS bucket
        |FROM embeddings a ORDER BY a.vec_id LIMIT 5""".stripMargin).collect()
    assert(r.forall(row => math.abs(row.getDouble(1) - 1.0) < 1e-12))
    assert(r.forall(row => row.getInt(2) >= 0 && row.getInt(2) < 256))
    val n = spark.sql(
      """SELECT vec_norm(embedding) AS nrm,
        |       srp_proj_norm(embedding, 16, 7L) AS pn
        |FROM embeddings ORDER BY vec_id LIMIT 5""".stripMargin).collect()
    assert(n.forall(row => row.getDouble(0) > 0.0 && row.getDouble(1) > 0.0))
    // JL: projection norm within a loose constant of the input norm
    assert(n.forall(row => row.getDouble(1) / row.getDouble(0) > 0.3 &&
      row.getDouble(1) / row.getDouble(0) < 3.0))
  }

  test("kernel functions reject a bad literal argument, naming the function and position") {
    engine
    Seq(
      "SELECT minhash_sig(array('a','b'), 'x', 1)" -> "minhash_sig: argument 2",
      "SELECT minhash_sig(array('a','b'), 2.7, 1)" -> "minhash_sig: argument 2",
      "SELECT minhash_sig(array('a','b'), NULL, 1)" -> "minhash_sig: argument 2",
      "SELECT minhash_sig(array('a','b'), -3, 1)" -> "minhash_sig: argument 2",
      "SELECT srp_bucket(array(CAST(1.0 AS FLOAT)), 33, 7)" -> "srp_bucket: argument 2"
    ).foreach { case (q, msg) =>
      val e = intercept[IllegalArgumentException](spark.sql(q).collect())
      assert(e.getMessage.contains(msg), s"$q: ${e.getMessage}")
    }
    // the bounds themselves are accepted
    val r = spark.sql(
      "SELECT size(minhash_sig(array('a','b'), 1, 1)), srp_bucket(array(CAST(1.0 AS FLOAT)), 32, 7)")
      .head()
    assert(r.getInt(0) == 1)
  }

  test("extensions class injects the same functions at session build time") {
    import org.apache.spark.sql.SparkSession
    val prev = spark // force shared session creation first
    // getOrCreate returns the active session (ignoring extensions), so build
    // a genuinely new session over the same SparkContext
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val v = s2.sql("SELECT rolling_hash('abc') AS h").head().getLong(0)
      val expected = graft.functions.HashImpl.rollingHash(
        org.apache.spark.unsafe.types.UTF8String.fromString("abc"))
      assert(v == expected)
    } finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  test("LevenshteinBandedRewrite installs the threshold kernel and preserves results") {
    import org.apache.spark.sql.SparkSession
    val prev = spark
    // plain-session truth FIRST (shared session has no optimizer rule)
    val fuzzySql =
      s"""SELECT a.p_name AS na, b.p_name AS nb
         |FROM parquet.`$sfDir/part.parquet` a
         |JOIN parquet.`$sfDir/part.parquet` b ON a.p_partkey < b.p_partkey
         |WHERE levenshtein(a.p_name, b.p_name) <= 2""".stripMargin
    val plainRows = spark.sql(fuzzySql)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val df = s2.sql(fuzzySql)
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("levenshtein") && opt.contains("Some(2)) >= 0"),
        s"rule did not rewrite:\n$opt")
      val got = df.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      assert(got == plainRows)
      assert(got.nonEmpty)
    } finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }
}
