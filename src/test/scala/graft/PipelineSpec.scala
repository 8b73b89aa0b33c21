package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Pipeline, TextAnalysis}

class PipelineSpec extends SparkSpec {

  test("finalCorpus = exact-dedup winners ∩ gopher pass ∩ length band") {
    val got = Pipeline.finalCorpus(tables).collect().map(_.getLong(0)).toSet
    val winners = Dedup.exactRows(tables).collect().map(_.getLong(0)).toSet
    val quality = TextAnalysis.gopherFilter(tables)
      .filter(col("pass") === 1).collect().map(_.getLong(0)).toSet
    // driver-side interpolated p5–p95 band per language
    def q(v: Array[Long], p: Double): Double = {
      val s = v.sorted
      val rank = p * (s.length - 1)
      val lo = rank.toInt
      val g = rank - lo
      if (lo + 1 < s.length) s(lo) * (1 - g) + s(lo + 1) * g else s(lo).toDouble
    }
    val docs = tables.documents.select("doc_id", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bands = docs.groupBy(_._2).map { case (lang, ds) =>
      val cs = ds.map(_._3)
      lang -> (q(cs, 0.05), q(cs, 0.95))
    }
    val inBand = docs.filter { case (_, lang, n) =>
      val (lo, hi) = bands(lang); n >= lo && n <= hi
    }.map(_._1).toSet
    assert(got == (winners & quality & inBand), "composition mismatch")
    assert(got.nonEmpty)
  }

  test("corpusDiff classifies added/removed/modified/unchanged per source") {
    import spark.implicits._
    val v1 = Seq(
      (1L, "alpha beta", "en", "s1"),   // unchanged
      (2L, "gamma delta", "en", "s1"),  // modified in v2
      (3L, "kept as is", "en", "s2"),   // removed from v2
      (5L, "same text", "de", "s2"))    // unchanged
      .toDF("doc_id", "text", "lang", "source")
    val v2 = Seq(
      (1L, "alpha beta", "en", "s1"),
      (2L, "gamma delta REVISED", "en", "s1"),
      (4L, "brand new", "en", "s2"),    // added
      (5L, "same text", "de", "s2"))
      .toDF("doc_id", "text", "lang", "source")
    val got = Pipeline.corpusDiff(v1, v2).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got == Map(
      "s1" -> ((0L, 0L, 1L, 1L)),
      "s2" -> ((1L, 1L, 0L, 1L))), got.toString)
  }

  test("corpusDiff on the corpus snapshot fixture is non-vacuous in every class") {
    val v1 = tables.documents.filter(col("doc_id") % 11 =!= 0)
    val v2 = tables.documents.filter(col("doc_id") % 13 =!= 0)
      .withColumn("text", when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" rev2"))).otherwise(col("text")))
    val rows = Pipeline.corpusDiff(v1, v2).collect()
    val totals = rows.foldLeft((0L, 0L, 0L, 0L)) { (acc, r) =>
      (acc._1 + r.getLong(1), acc._2 + r.getLong(2),
        acc._3 + r.getLong(3), acc._4 + r.getLong(4))
    }
    assert(totals._1 > 0 && totals._2 > 0 && totals._3 > 0 && totals._4 > 0,
      s"every diff class should be populated, got $totals")
    // cardinality sanity: every v1∪v2 doc is accounted exactly once
    val n1 = v1.count(); val n2 = v2.count()
    val union = v1.select("doc_id").union(v2.select("doc_id")).distinct().count()
    assert(totals._1 + totals._2 + totals._3 + totals._4 == union)
    assert(totals._2 + totals._3 + totals._4 == n1)
    assert(totals._1 + totals._3 + totals._4 == n2)
  }

  test("hybridSearch fuses the two arms by exact RRF arithmetic") {
    val lex = TextAnalysis.bm25Search(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val sem = graft.operators.Similarity.bruteForceTopK(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def contribs(arm: Array[(Long, Long, Double)]): Map[(Long, Long), Double] =
      arm.groupBy(_._1).flatMap { case (_, rows) =>
        rows.sortBy(r => (-r._3, r._2)).zipWithIndex.map { case (r, i) =>
          (r._1, r._2) -> 1.0 / (60 + i + 1)
        }
      }
    val expected = (contribs(lex).toSeq ++ contribs(sem).toSeq)
      .groupBy(_._1).map { case (k, vs) =>
        k -> math.rint(vs.map(_._2).sum * 1e6) / 1e6 }
      .groupBy(_._1._1).flatMap { case (_, perQ) =>
        perQ.toSeq.sortBy { case ((_, n), s) => (-s, n) }.take(5)
      }
    val got = Pipeline.hybridSearch(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.nonEmpty && got == expected,
      s"diff=${(got.toSet diff expected.toSet).take(3)}")
    // fusion genuinely uses BOTH arms: some fused pair must be absent
    // from each single arm's top-k
    val lexSet = lex.map(r => (r._1, r._2)).toSet
    val semSet = sem.map(r => (r._1, r._2)).toSet
    assert(got.keySet.exists(!lexSet.contains(_)) ||
      got.keySet.exists(!semSet.contains(_)))
  }

  test("hybridIndexedSearch: both stored arms prune their probes, and " +
      "full probe equals hybridSearch row-for-row") {
    import graft.operators.{AnnIndex, TextIndex}
    val tdir = java.nio.file.Files.createTempDirectory("gt_hyb_text").toString
    val adir = java.nio.file.Files.createTempDirectory("gt_hyb_ann").toString
    val tIdx = TextIndex.buildIndex(spark, tables.documents, "gt_hyb_text",
      tdir, buckets = 8)
    AnnIndex.buildIndex(spark, tables.embeddings, adir)
    val aIdx = AnnIndex.attachIndex(spark, adir)
    val qDocs = tables.documents.filter(col("doc_id") < 10)
    val qVecs = tables.embeddings.filter(col("vec_id") < 10)
    // plan pins on the FUSED query: the vector arm's cell predicate must
    // be a PARTITION filter (pruned at directory listing) over a strict
    // subset of cells, and — with the bucketed arm forced the way the
    // 100 TB store reads — the lexical arm must show bucket pruning
    withArms("distributed") {
      // two query vectors so nProbe·nQueries stays a strict cell subset
      // (a larger batch legitimately probes almost every cell at this
      // corpus size); IN prints as INSET past the conversion threshold
      val plan = planOf(Pipeline.hybridIndexedSearch(spark, tIdx, aIdx,
        qDocs, tables.embeddings.filter(col("vec_id") < 2)))
      val pf = "PartitionFilters: \\[cell[^\\]]*?(?:INSET|IN \\(?)([0-9][0-9, ]*)"
        .r.findFirstMatchIn(plan)
      assert(pf.isDefined, s"no cell partition filter in fused plan:\n$plan")
      val probed = pf.get.group(1).split(',').map(_.trim.toInt).toSet
      assert(probed.size < aIdx.nList,
        s"probed ${probed.size} cells — not a strict subset of ${aIdx.nList}")
      assert(plan.contains("SelectedBucketsCount"),
        s"no bucket pruning on the postings probe:\n$plan")
    }
    // at nProbe = nList the IVF arm scans every cell and equals brute
    // force, the postings probe always equals bm25Search — so the fused
    // result must match the from-scratch hybrid row-for-row
    val full = Pipeline.hybridIndexedSearch(spark, tIdx, aIdx, qDocs, qVecs,
        nProbe = aIdx.nList).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val live = Pipeline.hybridSearch(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(full.nonEmpty && full == live,
      s"diff=${(full diff live).take(3)} / ${(live diff full).take(3)}")
  }

  test("rboEval matches a local recompute; identical lists give RBO ~ (1-p^k) prefix sum") {
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def rankOf(rows: Array[(Long, Long, Double)]): Map[Long, Seq[Long]] =
      rows.groupBy(_._1).view.mapValues(_.sortBy { case (_, id, sc) => (-sc, id) }
        .map(_._2).toSeq).toMap
    val lex = rankOf(graft.operators.TextAnalysis.bm25Search(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    val sem = rankOf(graft.operators.Similarity.bruteForceTopK(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    val want = (0L until 10L).map { q =>
      val a = lex.getOrElse(q, Seq()); val b = sem.getOrElse(q, Seq())
      val terms = (1 to 5).map { d =>
        val ov = (a.take(d).toSet intersect b.take(d).toSet).size
        math.pow(0.9, d - 1) * ov / d.toDouble
      }
      val nc = (a.take(5).toSet intersect b.take(5).toSet).size.toLong
      (q, nc, r6(terms.sum * (1 - 0.9)))
    }
    val got = graft.operators.Pipeline.rboEval(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == want.length)
    got.zip(want).foreach { case ((gq, gn, gr), (wq, wn, wr)) =>
      assert(gq == wq && gn == wn && math.abs(gr - wr) < 1e-6,
        s"query $gq: engine ($gn,$gr) vs local ($wn,$wr)")
    }
    // sanity: RBO is bounded by the identical-lists value
    val maxRbo = (1 to 5).map(d => math.pow(0.9, d - 1)).sum * 0.1
    assert(got.forall(r => r._3 >= 0.0 && r._3 <= maxRbo + 1e-9))
  }
}
