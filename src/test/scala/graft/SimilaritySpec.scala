package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {

  test("brute-force top-k matches a local exact computation") {
    val vecs = tables.embeddings.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val got = Similarity.bruteForceTopK(tables, nQueries = 3, k = 4).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    (0L until 3L).foreach { q =>
      val expected = vecs.filter(_._1 != q)
        .map { case (id, v) => id -> cos(vecs(q), v) }
        .toSeq.sortBy { case (id, c) => (-c, id) }.take(4).map(_._1).toSet
      assert(got(q) == expected, s"query $q: got ${got(q)}, want $expected")
    }
  }

  test("brute-force plan broadcasts the query side (no shuffle of the corpus)") {
    val plan = planOf(Similarity.bruteForceTopK(tables))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"query side not broadcast:\n$plan")
  }

  test("LSH top-k returns only true in-bucket neighbors with correct cosines") {
    // every (query, neighbor) pair in the LSH result must also appear in the
    // brute-force scores with the same cosine value
    val brute = Similarity.bruteForceTopK(tables, nQueries = 10, k = 500).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.lshTopK(tables, nQueries = 10, k = 5).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(brute.contains(key) && brute(key) == r.getDouble(2),
        s"LSH pair $key not consistent with brute force")
    }
  }

  test("multiprobe masks enumerate exactly the Hamming ball, identity first") {
    val m = Similarity.hammingMasks(4, 2)
    assert(m.head == 0)
    assert(m.toSet == (0 until 16).filter(Integer.bitCount(_) <= 2).toSet)
    assert(m.size == m.distinct.size)
    // radius nBits = the full cube
    assert(Similarity.hammingMasks(3, 3).toSet == (0 until 8).toSet)
  }

  test("multiprobe recall dominates exact probing at the same tables/bits") {
    val brute = Similarity.bruteForceTopK(tables, nQueries = 10, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(h: Int): Double = {
      val got = Similarity.lshTopK(tables, nQueries = 10, k = 5,
        nBits = 8, nTables = 4, probeHamming = h).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(brute).size.toDouble / brute.size
    }
    val r0 = recall(0)
    val r2 = recall(2)
    assert(r2 >= r0, s"multiprobe recall $r2 below exact-probe recall $r0")
    // probing the whole Hamming cube IS brute force (every bucket probed)
    val full = Similarity.lshTopK(tables, nQueries = 10, k = 5,
      nBits = 4, nTables = 1, probeHamming = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == brute, "full-radius multiprobe must equal brute force")
  }

  test("IVF with full probing equals brute-force top-k exactly") {
    val ivf = Similarity.ivfTopK(tables, nQueries = 5, k = 4, nList = 8, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = Similarity.bruteForceTopK(tables, nQueries = 5, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(ivf == brute, s"IVF(full probe) != brute: ${ivf.diff(brute)} / ${brute.diff(ivf)}")
  }

  test("IVF with partial probing returns valid neighbors with exact cosines") {
    val brute = Similarity.bruteForceTopK(tables, nQueries = 5, k = 500).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = Similarity.ivfTopK(tables, nQueries = 5, k = 4, nList = 8, nProbe = 2).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(brute.contains(key) && brute(key) == r.getDouble(2))
    }
  }

  test("PQ with one codeword per vector equals exact squared-L2 top-k") {
    // ksub >= corpus: every vector is (or shares values with) its own
    // codeword, so ADC degenerates to the exact distance — the analogue of
    // IVF's full-probe equality, and it holds for ANY converged codebook
    // assignment since identical vectors share a cell
    val got = Similarity.pqTopK(tables, nQueries = 5, k = 3, m = 8, ksub = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val vecs = tables.embeddings.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble)).toMap
    val expected = (0L until 5L).flatMap { q =>
      vecs.keys.filter(_ != q).map { n =>
        val (a, b) = (vecs(q), vecs(n))
        var d2 = 0.0
        var j = 0
        while (j < a.length) { val df = a(j) - b(j); d2 += df * df; j += 1 }
        (q, n, math.round(d2 * 1e6) / 1e6)
      }.toSeq.sortBy(t => (t._3, t._2)).take(3).map(t => (t._1, t._2))
    }.toSet
    assert(got == expected)
  }

  test("PQ codes: m entries bounded by ksub — the 100 TB memory-compression invariant") {
    val books = Seq.tabulate(8, 4, 8)((s, c, j) => (s + c + j).toDouble)
    val codes = tables.embeddings.limit(20)
      .select(graft.functions.HashFunctions.pqCodes(col("embedding"), books).as("c"))
      .collect().map(_.getSeq[Int](0))
    assert(codes.nonEmpty)
    codes.foreach { cs =>
      assert(cs.length == 8)
      assert(cs.forall(c => c >= 0 && c < 4))
    }
  }

  test("pqTopK plans the corpus side as one codes projection with a broadcast query LUT") {
    val plan = planOf(Similarity.pqTopK(tables, nQueries = 3, k = 2))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"query LUTs not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"non-broadcast cartesian:\n$plan")
    // exactly one scan of the embeddings parquet feeds the code projection
    // (the bounded sample collect happens before the plan, not in it)
    assert(plan.split("Scan parquet").length - 1 == 1, s"expected 1 corpus scan:\n$plan")
  }

  test("quantizeEmbeddings: codes in [-127,127], error <= scale/2, cosine preserved") {
    val orig = tables.embeddings.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val rows = Similarity.quantizeEmbeddings(tables).collect()
    assert(rows.length == orig.size)
    rows.foreach { r =>
      val id = r.getLong(0)
      val scale = r.getDouble(1)
      val q = r.getSeq[Int](2)
      val maxErr = r.getDouble(3)
      assert(q.forall(c => c >= -127 && c <= 127), s"vec $id code out of range")
      // reconstruction: |q_i*scale - v_i| <= scale/2 (+ rounding slack)
      assert(maxErr <= scale / 2 + 1e-9, s"vec $id err $maxErr > scale/2 ${scale / 2}")
      val v = orig(id)
      val dq = q.map(_ * scale).toArray
      val dot = v.zip(dq).map { case (a, b) => a * b }.sum
      val cos = dot / (math.sqrt(v.map(x => x * x).sum) * math.sqrt(dq.map(x => x * x).sum))
      assert(cos > 0.995, s"vec $id reconstruction cosine $cos")
    }
  }

  test("quantizeEmbeddings: zero vectors quantize to zeros without dividing by zero") {
    import org.apache.spark.sql.functions._
    val t = tables.withTable("embeddings",
      tables.embeddings.limit(1)
        .withColumn("embedding", expr("transform(embedding, x -> cast(0.0 as float))")))
    val r = Similarity.quantizeEmbeddings(t).head()
    assert(r.getDouble(1) == 1.0 && r.getSeq[Int](2).forall(_ == 0) && r.getDouble(3) == 0.0)
  }

  test("quantizeDiagnostics: scalar view is consistent with the codes operator") {
    val codes = Similarity.quantizeEmbeddings(tables).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getSeq[Int](2), r.getDouble(3)))).toMap
    val diags = Similarity.quantizeDiagnostics(tables).collect()
    assert(diags.length == codes.size)
    diags.foreach { r =>
      val id = r.getLong(0)
      val (scale, q, maxErr) = codes(id)
      assert(r.getLong(1) == q.map(_.toLong).sum, s"vec $id code_sum")
      assert(r.getLong(2) == q.zipWithIndex.map { case (c, i) => c.toLong * (i + 1) }.sum,
        s"vec $id code_wsum")
      // scale/max_err in the codes view are round(_, 9); the FLOOR-quantized
      // diagnostics agree with them to the same 1e-9 grid
      assert(math.abs(r.getLong(3) - scale * 1e9) <= 1, s"vec $id scale_q")
      assert(math.abs(r.getLong(4) - maxErr * 1e9) <= 1, s"vec $id max_err_q")
    }
  }

  test("int8TopK: high recall and tight cosine agreement vs the float path") {
    val k = 10
    val brute = Similarity.bruteForceTopK(tables, nQueries = 10, k = k).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    val int8 = Similarity.int8TopK(tables, nQueries = 10, k = k).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    val bKeys = brute.map(_._1).toSet
    val recall = int8.count(p => bKeys.contains(p._1)).toDouble / bKeys.size
    assert(recall >= 0.9, s"int8 recall@$k = $recall")
    // every agreeing pair's quantized cosine is within int8 noise of float
    val bMap = brute.toMap
    int8.filter(p => bMap.contains(p._1)).foreach { case (key, c) =>
      assert(math.abs(c - bMap(key)) < 0.02, s"pair $key: int8 $c vs float ${bMap(key)}")
    }
  }

  test("embeddingNearDupGroups: every pair shares a group, group id is the component min") {
    val groups = graft.operators.Similarity.embeddingNearDupGroups(tables, minCosine = 0.3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = graft.operators.Similarity.embeddingNearDups(tables, minCosine = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(groups.size == tables.embeddings.count()) // total coverage
    pairs.foreach { case (a, b) =>
      assert(groups(a) == groups(b), s"pair ($a,$b) split across groups")
      assert(groups(a) <= math.min(a, b))
    }
    // group representatives are members of their own group
    groups.values.foreach(g => assert(groups(g) == g))
  }

  test("embeddingNearDups verifies candidates with exact cosine above threshold") {
    val rows = Similarity.embeddingNearDups(tables, minCosine = 0.3).collect()
    rows.foreach { r => assert(r.getDouble(2) >= 0.3 && r.getLong(0) < r.getLong(1)) }
    val plan = planOf(Similarity.embeddingNearDups(tables))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"near-dup must not be all-pairs:\n$plan")
  }

  test("semanticDedup keeps exactly the canonical representative of each group") {
    val groups = Similarity.embeddingNearDupGroups(tables).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val survivors = Similarity.semanticDedup(tables).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(survivors.keySet == groups.values.toSet) // one survivor per component
    val labels = tables.embeddings.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    survivors.foreach { case (id, l) =>
      assert(groups(id) == id, s"survivor $id is not its group's canonical")
      assert(l == labels(id))
    }
  }

  test("mmrTopK: driver greedy arm equals the distributed loop row-for-row") {
    // both arms run the same greedy recurrence over the same shortlist
    // through the same cosine kernel — picks, ranks, and rounded scores
    // must pin EXACTLY equal
    val (viaDriver, arms) = armDecisions(Similarity.mmrTopK(tables).collect().map(_.toSeq).toSeq)
    assert(arms.map(_.arm) == Seq("driver"), s"$arms")
    val viaDist = withArms("distributed")(
      Similarity.mmrTopK(tables).collect().map(_.toSeq).toSeq)
    assert(viaDriver == viaDist,
      s"MMR arms diverge: only-driver=${(viaDriver.toSet -- viaDist.toSet).take(2)} " +
        s"only-dist=${(viaDist.toSet -- viaDriver.toSet).take(2)}")
  }

  test("knnClassify is the majority label of the brute-force neighbor set") {
    val neighbors = Similarity.bruteForceTopK(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val labels = tables.embeddings.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val expected = neighbors.groupBy(_._1).map { case (q, ns) =>
      val votes = ns.map(n => labels(n._2)).groupBy(identity)
        .map { case (l, hits) => (l, hits.length.toLong) }.toSeq
      val best = votes.sortBy(v => (-v._2, v._1)).head
      q -> best
    }
    val got = Similarity.knnClassify(tables).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(got == expected && got.size == 10)
  }

  test("knnClassify broadcasts only query-bounded sides, never the corpus labels") {
    // every broadcast build side must descend from the vec_id < nQueries
    // query bound — the corpus-sized label projection has no such filter,
    // so a broadcast subtree without one would be the driver-OOM shape
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Similarity.knnClassify(tables).queryExecution.executedPlan
      val builds = plan.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }
      assert(builds.nonEmpty, "expected broadcast build sides in the knn plan")
      builds.foreach { b =>
        assert(b.child.exists(_.toString.contains("vec_id#")) &&
          b.child.toString.contains("< 10"),
          s"corpus-sized broadcast build side:\n$b")
      }
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("knnClassifyLsh votes over exactly the lshTopK neighbor set") {
    val neighbors = Similarity.lshTopK(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val labels = tables.embeddings.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val expected = neighbors.groupBy(_._1).map { case (q, ns) =>
      val votes = ns.map(n => labels(n._2)).groupBy(identity)
        .map { case (l, hits) => (l, hits.length.toLong) }.toSeq
      q -> votes.sortBy(v => (-v._2, v._1)).head
    }
    val got = Similarity.knnClassifyLsh(tables).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(got == expected && got.size == 10)
  }

  test("labelCentroids emits one dense row per (label, dim) with the exact mean") {
    val vecs = tables.embeddings.collect()
      .map(r => (r.getInt(2), r.getSeq[Float](1).toArray))
    val dims = vecs.head._2.length
    val rows = Similarity.labelCentroids(tables).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val nLabels = vecs.map(_._1).distinct.length
    assert(rows.size == nLabels * dims)
    vecs.groupBy(_._1).foreach { case (label, rs) =>
      (1 to dims).foreach { d =>
        val xs = rs.map(_._2(d - 1).toDouble)
        val (n, c) = rows((label, d.toLong))
        assert(n == rs.length)
        assert(math.abs(c - xs.sum / xs.length) < 1e-5, s"$label dim $d")
      }
    }
  }

  test("kmeans matches a driver-side Lloyd recompute with deterministic seeds") {
    val rows = Similarity.kmeans(tables).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val vecs = tables.embeddings.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    val d = vecs.head._2.length
    var cents = vecs.filter(_._1 < 8).map(_._2.clone())
    var assign = Map.empty[Long, Int]
    for (_ <- 1 to 2) {
      assign = vecs.map { case (id, x) =>
        id -> cents.indices.minBy { c =>
          var s = 0.0; var j = 0
          while (j < d) { val t = x(j) - cents(c)(j); s += t * t; j += 1 }
          (s, c)
        }
      }.toMap
      val vmap = vecs.toMap
      val next = cents.map(_.clone())
      assign.groupBy(_._2).foreach { case (c, ms) =>
        val members = ms.keys.toSeq.map(vmap)
        (0 until d).foreach(j => next(c)(j) = members.map(_(j)).sum / members.size)
      }
      cents = next
    }
    val nByCell = assign.groupBy(_._2).map { case (c, ms) => c -> ms.size.toLong }
    assert(rows.length == 8 * d)
    rows.foreach { case (cell, dim, cv, n) =>
      assert(math.abs(cv - cents(cell)(dim.toInt - 1)) < 1e-5, s"cell $cell dim $dim")
      assert(n == nByCell.getOrElse(cell, 0L), s"cell $cell count")
    }
    assert(nByCell.values.sum == vecs.length.toLong)
  }

  test("topPrincipalComponent matches a driver-side power iteration") {
    val rows = Similarity.topPrincipalComponent(tables).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq == (1L to 64L))
    // unit vector, positive peak (sign convention), positive eigenvalue
    assert(math.abs(rows.map(r => r._2 * r._2).sum - 1.0) < 1e-6)
    val peak = rows.minBy(r => (-math.abs(r._2), r._1))
    assert(peak._2 > 0.0)
    assert(rows.head._3 > 0.0)
    val xs = tables.embeddings.select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    var v = Array.fill(64)(1.0 / 8.0)
    var nrm = 0.0
    for (_ <- 1 to 3) {
      val y = Array.fill(64)(0.0)
      xs.foreach { x =>
        var s = 0.0
        var j = 0
        while (j < 64) { s += x(j) * v(j); j += 1 }
        j = 0
        while (j < 64) { y(j) += s * x(j); j += 1 }
      }
      nrm = math.sqrt(y.map(a => a * a).sum)
      v = y.map(_ / nrm)
    }
    val jstar = v.indices.minBy(j => (-math.abs(v(j)), j))
    val fixed = if (v(jstar) < 0) v.map(x => -x) else v
    rows.foreach { case (d, l, e) =>
      assert(math.abs(l - fixed(d.toInt - 1)) < 1e-5, s"dim $d")
      assert(math.abs(e - nrm) < 1e-3 * nrm)
    }
  }

  test("kCenterSelect matches a driver-side greedy farthest-point recompute") {
    val got = Similarity.kCenterSelect(tables, k = 6).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    // brute-force replay on collected unit vectors
    val vecs = tables.embeddings.select("vec_id", "embedding").collect()
      .map { r =>
        val x = r.getSeq[Float](1).toArray.map(_.toDouble)
        val n = math.sqrt(x.map(v => v * v).sum)
        val inv = if (n == 0.0) 1.0 else n
        r.getLong(0) -> x.map(_ / inv)
      }.sortBy(_._1)
    var sel = List(vecs.head._1)
    var cents = List(vecs.head._2)
    val exp = scala.collection.mutable.ArrayBuffer[(Int, Long, Option[Double])](
      (1, sel.head, None))
    for (r <- 2 to 6) {
      val cand = vecs.filter(v => !sel.contains(v._1)).map { case (id, x) =>
        val d = cents.map { c =>
          var s = 0.0; var j = 0
          while (j < x.length) { val df = x(j) - c(j); s += df * df; j += 1 }
          s
        }.min
        (id, BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      val win = cand.minBy { case (id, d) => (-d, id) }
      sel ::= win._1
      cents = cents :+ vecs.find(_._1 == win._1).get._2
      exp += ((r, win._1, Some(win._2)))
    }
    assert(got.toSeq == exp.toSeq)
    // coverage radius is monotone non-increasing after the seed
    val radii = got.toSeq.flatMap(_._3)
    assert(radii == radii.sorted.reverse, radii.toString)
  }

  test("kCenterSelect round plans a bounded top-1, not a global sort") {
    val cents = Seq(Seq.fill(64)(0.1))
    val plan = planOf(Similarity.kCenterRound(
      tables.embeddings.select(col("vec_id"), col("embedding")), Seq(0L), cents))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("randomProjectionReport matches a HashImpl recompute; JL ratios concentrate near 1") {
    import graft.functions.HashImpl
    val got = Similarity.randomProjectionReport(tables).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val vecs = tables.embeddings.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val seed = 7L * 0x9e3779b97f4a7c15L
    got.foreach { case (id, ni, no, ratio) =>
      val v = vecs.toMap.apply(id)
      var s = 0.0; v.foreach(x => s += x.toDouble * x.toDouble)
      val normIn = math.sqrt(s)
      var ss = 0.0
      for (b <- 0 until 16) {
        var acc = 0.0
        for (j <- v.indices) {
          val sign = if ((HashImpl.mix64(seed + b.toLong * 131071L + j) & 1L) == 1L) 1.0 else -1.0
          acc += sign * v(j)
        }
        ss += acc * acc
      }
      val normOut = math.sqrt(ss / 16)
      assert(ni == r6(normIn) && no == r6(normOut), s"vec $id")
      assert(math.abs(ratio - r6(normOut / normIn)) < 1e-9 || normIn == 0.0)
    }
    // JL: the mean distortion over the corpus is close to 1
    val mean = got.map(_._4).sum / got.length
    assert(mean > 0.7 && mean < 1.3, mean.toString)
  }

  test("labelCentroidDrift matches a driver recompute; cosines bounded") {
    val vecs = tables.embeddings.select("label", "embedding").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
    val d = vecs.head._2.length
    val labels = vecs.map(_._1).distinct.sorted
    val global = Array.tabulate(d)(j => vecs.map(_._2(j)).sum / vecs.length)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Similarity.labelCentroidDrift(tables).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == labels.toSeq)
    got.foreach { case (l, cos, nrm) =>
      val mine = vecs.filter(_._1 == l).map(_._2)
      val c = Array.tabulate(d)(j => mine.map(_(j)).sum / mine.length)
      val dot = (0 until d).map(j => c(j) * global(j)).sum
      val nc = math.sqrt(c.map(v => v * v).sum)
      val ng = math.sqrt(global.map(v => v * v).sum)
      assert(math.abs(cos - r6(dot / (nc * ng))) < 1e-5, s"label $l")
      assert(math.abs(nrm - r6(nc)) < 1e-5)
      assert(cos >= -1.0 - 1e-9 && cos <= 1.0 + 1e-9)
    }
  }

  test("semanticDecontaminate matches a driver-side brute-force recompute") {
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = tables.embeddings.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    val bench = vecs.filter(_._1 % 50 == 0).map(x => unit(x._2))
    val want = vecs.filter(_._1 % 50 != 0).map { case (id, v, lab) =>
      val u = unit(v)
      val mind = bench.map(b => u.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum).min
      val cos = r6(1.0 - mind / 2)
      (id, cos, lab, if (cos >= 0.35) 1 else 0)
    }.sortBy(_._1).toSeq
    val got = Similarity.semanticDecontaminate(tables).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2), r.getInt(3))).toSeq
    assert(got.map(_._1) == want.map(_._1))
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g._2 - w._2) < 1e-6 && g._3 == w._3 && g._4 == w._4, s"vec ${g._1}")
    }
    // the audit is non-vacuous on this corpus: both classes present
    assert(got.exists(_._4 == 1) && got.exists(_._4 == 0))
    // a benchmark member injected verbatim into the corpus under a fresh id
    // must flag at cosine 1.0
    val twin = tables.embeddings.filter(col("vec_id") === 0L)
      .withColumn("vec_id", lit(777001L)) // 777001 % 50 != 0 → corpus side
    val t2 = tables.withTable("embeddings", tables.embeddings.union(twin))
    val flagged = Similarity.semanticDecontaminate(t2).collect()
      .find(_.getLong(0) == 777001L).get
    assert(flagged.getDouble(1) == 1.0 && flagged.getInt(3) == 1)
  }

  test("kCenterSelect degenerates gracefully: empty corpus and k > corpus") {
    import graft.sources.Tables
    import spark.implicits._
    val empty = Seq.empty[(Long, Seq[Float], Int)].toDF("vec_id", "embedding", "label")
    val t0 = Tables(spark, sfDir).withTable("embeddings", empty)
    assert(Similarity.kCenterSelect(t0, k = 4).collect().isEmpty)
    val three = tables.embeddings.filter($"vec_id" < 3)
    val t3 = Tables(spark, sfDir).withTable("embeddings", three)
    val got = Similarity.kCenterSelect(t3, k = 8).collect()
    assert(got.length == 3) // stops when the corpus is exhausted
    assert(got.map(_.getLong(1)).toSet == Set(0L, 1L, 2L))
  }

  test("quantized top-k on an empty corpus: ivf and pq return typed empty frames, ivfpq refuses") {
    val t0 = tables.withTable("embeddings", tables.embeddings.limit(0))
    val ivf = Similarity.ivfTopK(t0)
    assert(ivf.columns.toSeq == Seq("query_id", "neighbor_id", "cosine"))
    assert(ivf.collect().isEmpty)
    val pq = Similarity.pqTopK(t0)
    assert(pq.columns.toSeq == Seq("query_id", "neighbor_id", "adc_dist"))
    assert(pq.collect().isEmpty)
    val e = intercept[IllegalArgumentException](Similarity.ivfPqTopK(t0))
    assert(e.getMessage.contains("empty corpus"))
  }

  test("truncationRecall: full-dim arm is recall 1.0 shape; naive sliced recompute agrees") {
    val vecs = tables.embeddings.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def topk(d: Option[Int]): Map[Long, Set[Long]] =
      (0L until 10L).map { q =>
        val qv = d.fold(vecs(q))(n => vecs(q).take(n))
        q -> vecs.keys.filter(_ != q).toSeq
          .map(n => (n, cos(qv, d.fold(vecs(n))(m => vecs(n).take(m)))))
          .sortBy { case (n, c) => (-c, n) }.take(5).map(_._1).toSet
      }.toMap
    val full = topk(None)
    val want = Seq(8, 16, 32).flatMap { d =>
      val td = topk(Some(d))
      (0L until 10L).map(q => (d, q, (full(q) & td(q)).size.toLong))
    }
    val got = graft.operators.Similarity.truncationRecall(tables).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, s"engine $got vs naive $want")
    // recall is monotone-ish and the curve is informative: dim 32 beats dim 8 on average
    val byDim = got.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._3).sum }
    assert(byDim(32) >= byDim(8))
  }

  test("hardNegatives matches a naive driver recompute and its margin semantics") {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val all = tables.embeddings.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val want = all.filter(_._1 < 10).flatMap { case (qid, qv, qlab) =>
      val others = all.filter(_._1 != qid)
      val posCos = others.filter(_._3 == qlab)
        .map { case (nid, nv, _) => (cos(qv, nv), nid) }
        .sortBy { case (c, n) => (-c, n) }.headOption.map(_._1)
      others.filter(_._3 != qlab)
        .map { case (nid, nv, nlab) => (nid, nlab, cos(qv, nv)) }
        .sortBy { case (n, _, c) => (-c, n) }.take(5)
        .map { case (nid, nlab, c) =>
          (qid, nid, nlab,
            BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
            posCos.map(p => BigDecimal(p - c)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        }
    }.sortBy(x => (x._1, x._2)).toSeq
    val got = Similarity.hardNegatives(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq
    assert(got == want, s"engine ${got.take(3)}... vs naive ${want.take(3)}...")
    assert(got.nonEmpty)
    // the fixture must actually contain HARD negatives somewhere (margin
    // small or negative) or the op proves nothing
    assert(got.flatMap(_._5).nonEmpty)
  }

  test("marginMine matches a naive recompute with the same sorted-fold sums") {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val all = tables.embeddings.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val xs = all.filter(_._1 < 10)
    val ys = all.filter(_._1 >= 10)
    val sc = for { (qi, qv) <- xs; (ci, cv) <- ys } yield (qi, ci, cos(qv, cv))
    def avgTopK(rows: Seq[(Long, Double)], k: Int): Double = {
      // top-k by (cos desc, id asc), then SUM in (cos, id) ASC order — the
      // engine/oracle fold order
      val top = rows.sortBy { case (id, c) => (-c, id) }.take(k)
      val sorted = top.sortBy { case (id, c) => (c, id) }
      sorted.foldLeft(0.0) { case (acc, (_, c)) => acc + c } / top.length
    }
    val ax = sc.groupBy(_._1).map { case (q, rs) =>
      q -> avgTopK(rs.map(r => (r._2, r._3)).toSeq, 4) }
    val ay = sc.groupBy(_._2).map { case (c, rs) =>
      c -> avgTopK(rs.map(r => (r._1, r._3)).toSeq, 4) }
    val want = sc.groupBy(_._1).map { case (q, rs) =>
      val best = rs.map { case (_, c, s) => (c, s, s / ((ax(q) + ay(c)) / 2.0)) }
        .sortBy { case (c, _, m) => (-m, c) }.head
      (q, best._1,
        BigDecimal(best._2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(best._3).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq.sortBy(_._1)
    val got = Similarity.marginMine(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(got == want, s"engine ${got.take(3)} vs naive ${want.take(3)}")
    // margins hover around 1 by construction (cos / neighborhood mean)
    assert(got.forall(_._4 > 0.0))
  }

  test("IVF+PQ with full probing equals plain PQ exactly") {
    val full = Similarity.ivfPqTopK(tables, nQueries = 5, k = 4,
      nList = 8, nProbe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pq = Similarity.pqTopK(tables, nQueries = 5, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(full == pq, s"ivfpq(full probe) != pq: ${full.diff(pq)} / ${pq.diff(full)}")
  }

  test("IVF+PQ partial probe returns candidates with PQ-consistent ADC distances") {
    val pqAll = Similarity.pqTopK(tables, nQueries = 5, k = 500).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val got = Similarity.ivfPqTopK(tables, nQueries = 5, k = 4,
      nList = 8, nProbe = 2).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(pqAll.contains(key) && pqAll(key) == r.getDouble(2),
        s"pair $key ADC inconsistent with plain PQ")
    }
  }

  test("hardNegatives and marginMine broadcast the bounded side; corpus never cartesians unbroadcast") {
    Seq(planOf(Similarity.hardNegatives(tables)),
      planOf(Similarity.marginMine(tables))).foreach { plan =>
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
        s"bounded side not broadcast:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"unbroadcast cartesian:\n$plan")
    }
  }

  test("twoStageTopK: funnel recall vs brute force; stage-2 touches only the shortlist") {
    val brute = Similarity.bruteForceTopK(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val two = Similarity.twoStageTopK(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (two intersect brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"funnel recall collapsed: $recall")
    // a shortlist of 1 degenerates to the coarse ranking's top-1 — the
    // funnel genuinely re-ranks (k <= shortlist enforced downstream)
    val tiny = Similarity.twoStageTopK(tables, k = 1, shortlist = 1).collect()
    assert(tiny.length > 0)
  }

  test("binaryTopK: packed sign codes match a local bit-pack; hamming = sign mismatches") {
    val rows = tables.embeddings
      .select(col("vec_id"), col("embedding"),
        graft.functions.HashFunctions.signPack64(col("embedding")).as("code"))
      .collect()
    def pack(v: Seq[Float]): Long =
      v.take(64).zipWithIndex.foldLeft(0L) { case (c, (x, j)) =>
        if (x > 0f) c | (1L << j) else c
      }
    rows.foreach { r =>
      assert(r.getLong(2) == pack(r.getSeq[Float](1)),
        s"code mismatch for vec ${r.getLong(0)}")
    }
    // XOR popcount of the packed codes IS the dimension-wise sign-mismatch
    // count the SQL oracle computes
    val a = rows(0); val b = rows(1)
    val va = a.getSeq[Float](1); val vb = b.getSeq[Float](1)
    val mismatches = va.zip(vb).count { case (x, y) => (x > 0f) != (y > 0f) }
    assert(java.lang.Long.bitCount(a.getLong(2) ^ b.getLong(2)) == mismatches)
  }

  test("binaryTopK: full-probe equals brute force; default funnel holds recall") {
    val brute = Similarity.bruteForceTopK(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Similarity.binaryTopK(tables, shortlist = Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == brute, "full-probe binary rerank must equal exact top-k")
    val funnel = Similarity.binaryTopK(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (funnel intersect brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"binary coarse stage recall collapsed: $recall")
  }

  test("mmrTopK replays a local greedy MMR exactly; rank 1 is the relevance argmax") {
    val vecs = tables.embeddings.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = (0L until 10L).flatMap { qid =>
      val cand = vecs.keys.filter(_ != qid).toSeq
        .map(c => c -> cos(vecs(qid), vecs(c)))
        .sortBy { case (id, r) => (-r, id) }.take(20)
      var sel = Vector[(Long, Double, Double)]() // (id, rel, score)
      (1 to 5).foreach { r =>
        val pick =
          if (r == 1) { val (id, rel) = cand.head; (id, rel, 0.7 * rel) }
          else {
            cand.filterNot(c => sel.exists(_._1 == c._1)).map { case (id, rel) =>
              val ms = sel.map(s => cos(vecs(id), vecs(s._1))).max
              (id, rel, 0.7 * rel - 0.3 * ms)
            }.minBy { case (id, _, sc) => (-sc, id) }
          }
        sel :+= pick
      }
      sel.zipWithIndex.map { case ((id, rel, sc), i) => (qid, (i + 1).toLong, id, rel, sc) }
    }
    val got = Similarity.mmrTopK(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(got.length == want.length)
    got.zip(want).foreach { case ((gq, gr, gi, grel, gs), (wq, wr, wi, wrel, ws)) =>
      assert(gq == wq && gr == wr && gi == wi &&
        math.abs(grel - wrel) < 1e-6 && math.abs(gs - ws) < 1e-6,
        s"query $gq rank $gr: engine ($gi,$gs) vs local ($wi,$ws)")
    }
    // diversification is non-vacuous on this corpus: at least one query's
    // MMR list diverges from its pure-relevance top-5
    val rel5 = want.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSet)
    val byRel = (0L until 10L).map { qid =>
      vecs.keys.filter(_ != qid).toSeq.map(c => c -> cos(vecs(qid), vecs(c)))
        .sortBy { case (id, r) => (-r, id) }.take(5).map(_._1).toSet
    }
    assert((0L until 10L).exists(q => rel5(q) != byRel(q.toInt)),
      "MMR never diverged from pure relevance — penalty is vacuous here")
  }

  test("mahalanobisOutliers matches a local rounded-moment recompute; E[maha2] ~ d") {
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = tables.embeddings.collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getSeq[Float](1).map(_.toDouble).toArray))
    val byLabel = vecs.groupBy(_._2)
    val moments = byLabel.map { case (lab, vs) =>
      val d = vs.head._3.length
      lab -> (0 until d).map { j =>
        val xs = vs.map(_._3(j))
        (r6(xs.sum / xs.length), r6(xs.map(x => x * x).sum / xs.length))
      }.toArray
    }
    val want = vecs.map { case (id, lab, v) =>
      val m = moments(lab)
      var s = 0.0
      v.indices.foreach { j =>
        val (m1, m2) = m(j)
        s += (v(j) - m1) * (v(j) - m1) / (m2 - m1 * m1 + 1e-6)
      }
      (id, lab, r6(s), if (s > 98.0) 1L else 0L)
    }.sortBy(_._1)
    val got = Similarity.mahalanobisOutliers(tables).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
    // local naive sums accumulate in the same j-ascending order but not
    // necessarily with identical rounding of intermediate doubles; compare
    // to 1e-6 rather than bit-exact (the SQL oracle IS the bit-exact gate)
    assert(got.length == want.length)
    got.zip(want).foreach { case ((gi, gl, gm, gf), (wi, wl, wm, wf)) =>
      assert(gi == wi && gl == wl && math.abs(gm - wm) < 2e-6 && gf == wf,
        s"vec $gi: engine ($gm,$gf) vs local ($wm,$wf)")
    }
    val mean = got.map(_._3).sum / got.length
    val d = vecs.head._3.length
    assert(mean > d * 0.5 && mean < d * 1.5,
      s"mean maha2 $mean should be near the dimension $d")
  }

  test("clusterLabelNmi matches a naive contingency recompute; metrics in range") {
    val (cents, _, _) = Similarity.kmeansFit(tables, k = 8, maxIters = 2, eps = -1.0)
    val vecs = tables.embeddings.select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    def cellOf(x: Array[Double]): Int =
      cents.zipWithIndex.map { case (c, i) =>
        (c.zip(x).map { case (a, b) => (b - a) * (b - a) }.sum, i)
      }.minBy { case (dist, i) => (dist, i) }._2
    val cl = vecs.map(v => (cellOf(v._2), v._3))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val n = vecs.length.toDouble
    val nc = cl.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val nl = cl.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val mi = cl.toSeq.sortBy(_._1).map { case ((c, l), m) =>
      (m / n) * math.log(m * n / (nc(c).toDouble * nl(l)))
    }.sum
    def h(m: Map[_, Long]) = m.values.toSeq.map(v => -(v / n) * math.log(v / n)).sum
    val purity = cl.groupBy(_._1._1).values.map(_.values.max).sum / n
    val want = (mi, h(nc), h(nl), mi / math.sqrt(h(nc) * h(nl)), purity)
    val got = Similarity.clusterLabelNmi(tables).collect().head
    assert(got.getLong(0) == vecs.length && got.getLong(1) == nc.size &&
      got.getLong(2) == nl.size)
    assert(math.abs(got.getDouble(3) - want._1) < 2e-6, s"mi ${got.getDouble(3)} vs ${want._1}")
    assert(math.abs(got.getDouble(4) - want._2) < 2e-6)
    assert(math.abs(got.getDouble(5) - want._3) < 2e-6)
    assert(math.abs(got.getDouble(6) - want._4) < 2e-6)
    assert(math.abs(got.getDouble(7) - want._5) < 2e-6)
    // information inequality bounds: 0 <= MI <= min(H), NMI in [0, 1],
    // purity at least the majority-label share
    assert(want._1 >= 0 && want._1 <= math.min(want._2, want._3) + 1e-9)
    assert(got.getDouble(6) >= 0 && got.getDouble(6) <= 1.0)
    assert(got.getDouble(7) >= nl.values.max / n - 1e-9)
  }
}
