package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.{TextAnalysis, TextIndex}

class TextIndexSpec extends SparkSpec {
  import spark.implicits._

  test("bm25Probe against the stored postings equals the from-scratch bm25Search") {
    val dir = Files.createTempDirectory("gtidx").toString
    val idx = TextIndex.buildIndex(spark, tables.documents, "gtidx_eq", dir,
      buckets = 8)
    val live = TextAnalysis.bm25Search(tables)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val probed = TextIndex.bm25Probe(spark, idx,
        tables.documents.filter($"doc_id" < 10))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(probed.nonEmpty && probed == live,
      s"probe=${probed.size} live=${live.size}; " +
        s"diff=${(probed.toSet diff live.toSet).take(3)}")
  }

  test("attach re-registers the table in a catalog that lost it; stats survive") {
    val dir = Files.createTempDirectory("gtidx_attach").toString
    val built = TextIndex.buildIndex(spark, tables.documents, "gtidx_att", dir,
      buckets = 8)
    spark.sql("DROP TABLE gtidx_att_postings") // simulate a fresh session
    val idx = TextIndex.attachIndex(spark, "gtidx_att", dir, buckets = 8)
    assert(idx.nDocs == built.nDocs && idx.sumLen == built.sumLen)
    val out = TextIndex.bm25Probe(spark, idx,
      tables.documents.filter($"doc_id" < 3))
    assert(out.count() > 0)
  }

  test("segmented probe over two appended batches equals from-scratch bm25 on the union") {
    val dir = Files.createTempDirectory("gtidx_seg").toString
    val half = tables.documents.count() / 2
    TextIndex.appendSegment(spark, tables.documents.filter($"doc_id" < half),
      "gtidx_seg", dir, buckets = 8)
    val seg = TextIndex.appendSegment(spark,
      tables.documents.filter($"doc_id" >= half), "gtidx_seg", dir, buckets = 8)
    assert(seg.ids == Seq(0, 1))
    val live = TextAnalysis.bm25Search(tables)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val probed = TextIndex.bm25ProbeSegmented(spark, seg,
        tables.documents.filter($"doc_id" < 10))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(probed.nonEmpty && probed == live,
      s"probe=${probed.size} live=${live.size}; " +
        s"diff=${(probed.toSet diff live.toSet).take(3)}")
  }

  test("attachSegments re-registers segment tables for a fresh catalog") {
    val dir = Files.createTempDirectory("gtidx_seg_att").toString
    TextIndex.appendSegment(spark, tables.documents.filter($"doc_id" < 50),
      "gtidx_sa", dir, buckets = 8)
    TextIndex.appendSegment(spark,
      tables.documents.filter($"doc_id" >= 50 && $"doc_id" < 100),
      "gtidx_sa", dir, buckets = 8)
    spark.sql("DROP TABLE gtidx_sa_seg0")
    spark.sql("DROP TABLE gtidx_sa_seg1")
    val seg = TextIndex.attachSegments(spark, "gtidx_sa", dir, buckets = 8)
    assert(seg.ids == Seq(0, 1))
    assert(TextIndex.bm25ProbeSegmented(spark, seg,
      tables.documents.filter($"doc_id" < 3)).count() > 0)
  }

  test("streaming ingest: replayed batch is a no-op, probe equals from-scratch") {
    import graft.streaming.CorpusStreams
    val dir = Files.createTempDirectory("gtidx_stream").toString
    val half = tables.documents.count() / 2
    val b0 = tables.documents.filter($"doc_id" < half)
    val b1 = tables.documents.filter($"doc_id" >= half)
    CorpusStreams.processTextIndexBatch(spark, b0, 0L, "gtidx_st", dir)
    CorpusStreams.processTextIndexBatch(spark, b1, 1L, "gtidx_st", dir)
    // a restarted stream replays batch 1 — the listed tag makes it a no-op
    CorpusStreams.processTextIndexBatch(spark, b1, 1L, "gtidx_st", dir)
    val seg = TextIndex.attachSegments(spark, "gtidx_st", dir)
    assert(seg.ids == Seq(0, 1), s"replay appended: ${seg.ids}")
    val live = TextAnalysis.bm25Search(tables)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val probed = TextIndex.bm25ProbeSegmented(spark, seg,
        tables.documents.filter($"doc_id" < 10))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(probed == live)
    // an empty micro-batch must not abort the stream
    CorpusStreams.processTextIndexBatch(spark,
      tables.documents.filter($"doc_id" < 0), 2L, "gtidx_st", dir)
    assert(TextIndex.attachSegments(spark, "gtidx_st", dir).ids == Seq(0, 1))
  }

  test("compaction collapses segments to one with identical probe results") {
    val dir = Files.createTempDirectory("gtidx_compact").toString
    val half = tables.documents.count() / 2
    TextIndex.appendSegment(spark, tables.documents.filter($"doc_id" < half),
      "gtidx_cp", dir, buckets = 8)
    val grown = TextIndex.appendSegment(spark,
      tables.documents.filter($"doc_id" >= half), "gtidx_cp", dir, buckets = 8)
    val before = TextIndex.bm25ProbeSegmented(spark, grown,
        tables.documents.filter($"doc_id" < 10))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val compacted = TextIndex.compactSegments(spark, grown, buckets = 8)
    assert(compacted.ids.length == 1)
    // a reattach reads the swapped list — the commit point
    val reattached = TextIndex.attachSegments(spark, "gtidx_cp", dir,
      buckets = 8)
    assert(reattached.ids == compacted.ids)
    val after = TextIndex.bm25ProbeSegmented(spark, reattached,
        tables.documents.filter($"doc_id" < 10))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(after == before, s"diff=${(after.toSet diff before.toSet).take(3)}")
  }

  test("a crash MID-WRITE of the segment list leaves the old list serving the old segments") {
    val dir = Files.createTempDirectory("gtidx_torn").toString
    TextIndex.appendSegment(spark, tables.documents.filter($"doc_id" < 50),
      "gtidx_torn", dir, buckets = 8)
    TextIndex.appendSegment(spark,
      tables.documents.filter($"doc_id" >= 50 && $"doc_id" < 100),
      "gtidx_torn", dir, buckets = 8)
    val listPath = java.nio.file.Paths.get(dir, "segments.list")
    val before = Files.readString(listPath)
    // simulate the exact failure the r11 verdict flagged: a crash midway
    // through rewriting the list. With an in-place truncate-write this
    // left a torn/empty list (attach would serve an EMPTY index); with
    // the staged-temp + ATOMIC_MOVE commit the target must be untouched.
    val boom = intercept[RuntimeException] {
      graft.operators.IndexFiles.atomicWrite(spark,
        new org.apache.hadoop.fs.Path(dir, "segments.list")) { out =>
        out.write("0:gar".getBytes("UTF-8")) // partial content…
        throw new RuntimeException("crash mid-write")
      }
    }
    assert(boom.getMessage == "crash mid-write")
    assert(Files.readString(listPath) == before,
      "torn write reached the committed segment list")
    val seg = TextIndex.attachSegments(spark, "gtidx_torn", dir, buckets = 8)
    assert(seg.ids == Seq(0, 1), s"old segment set lost: ${seg.ids}")
    assert(TextIndex.bm25ProbeSegmented(spark, seg,
      tables.documents.filter($"doc_id" < 3)).count() > 0)
  }

  test("batch tags survive compaction: a replayed micro-batch stays a no-op") {
    val dir = Files.createTempDirectory("gtidx_tagcp").toString
    val half = tables.documents.count() / 2
    val b0 = tables.documents.filter($"doc_id" < half)
    val b1 = tables.documents.filter($"doc_id" >= half)
    TextIndex.appendSegment(spark, b0, "gtidx_tc", dir, buckets = 8,
      batchTag = Some("batch-0"))
    val grown = TextIndex.appendSegment(spark, b1, "gtidx_tc", dir,
      buckets = 8, batchTag = Some("batch-1"))
    val before = TextIndex.bm25ProbeSegmented(spark, grown,
        tables.documents.filter($"doc_id" < 10))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val compacted = TextIndex.compactSegments(spark, grown, buckets = 8)
    // the exactly-once window must NOT reopen: a stream restarted from an
    // older checkpoint replays batch 1 AFTER the compaction folded its
    // segment away — the carried-forward tag keeps the replay a no-op
    val replayed = TextIndex.appendSegment(spark, b1, "gtidx_tc", dir,
      buckets = 8, batchTag = Some("batch-1"))
    assert(replayed.ids == compacted.ids,
      s"replay after compaction re-ingested: ${replayed.ids}")
    val after = TextIndex.bm25ProbeSegmented(spark, replayed,
        tables.documents.filter($"doc_id" < 10))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(after == before, "replayed batch double-counted after compaction")
  }

  test("appendSegment resolves the STORED bucket count over its parameter") {
    val dir = Files.createTempDirectory("gtidx_bw").toString
    TextIndex.appendSegment(spark, tables.documents.filter($"doc_id" < 50),
      "gtidx_bw", dir, buckets = 8)
    // a later caller passes the wrong count — the store's 8 must win, or
    // the new segment's physical layout would diverge from the DDL spec
    // attachSegments re-declares and bucket pruning would read the wrong
    // buckets
    TextIndex.appendSegment(spark,
      tables.documents.filter($"doc_id" >= 50 && $"doc_id" < 100),
      "gtidx_bw", dir, buckets = 3)
    val nb = spark.sql("DESCRIBE FORMATTED gtidx_bw_seg1").collect()
      .find(_.getString(0) == "Num Buckets").map(_.getString(1))
    assert(nb.contains("8"), s"segment written with $nb buckets, stored is 8")
    val live = TextAnalysis.bm25Search(
        tables.withTable("documents", tables.documents.filter($"doc_id" < 100)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val seg = TextIndex.attachSegments(spark, "gtidx_bw", dir, buckets = 3)
    val probed = TextIndex.bm25ProbeSegmented(spark, seg,
        tables.documents.filter($"doc_id" < 10))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(probed.nonEmpty && probed == live)
  }

  test("appendSegment rejects a batchTag containing list-entry separators") {
    val dir = Files.createTempDirectory("gtidx_badtag").toString
    val docs = tables.documents.filter($"doc_id" < 10)
    // one committed bad tag would corrupt every future parse of the list —
    // the validation must fire BEFORE anything is written
    for (bad <- Seq("a:b", "a,b", "a b", "a\tb", ""))
      intercept[IllegalArgumentException] {
        TextIndex.appendSegment(spark, docs, "gtidx_bt", dir, buckets = 8,
          batchTag = Some(bad))
      }
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "segments.list")),
      "rejected tag still committed a list")
  }

  test("compaction bounds tag retention: newest tags kept, oldest dropped") {
    val dir = Files.createTempDirectory("gtidx_tagcap").toString
    val slices = (0 until 4).map(i =>
      tables.documents.filter($"doc_id" % 4 === i))
    var seg: TextIndex.Segments = null
    slices.zipWithIndex.foreach { case (s, i) =>
      seg = TextIndex.appendSegment(spark, s, "gtidx_cap", dir, buckets = 8,
        batchTag = Some(s"b$i"))
    }
    val compacted = TextIndex.compactSegments(spark, seg, buckets = 8,
      maxTags = 2)
    val list = Files.readString(java.nio.file.Paths.get(dir, "segments.list"))
    assert(list.contains("b2") && list.contains("b3"),
      s"newest tags lost: $list")
    assert(!list.contains("b0") && !list.contains("b1"),
      s"old tags not bounded: $list")
    // the RETAINED window still holds exactly-once; only pre-horizon
    // replays (outside any real checkpoint window) would re-ingest
    val replayed = TextIndex.appendSegment(spark, slices(3), "gtidx_cap",
      dir, buckets = 8, batchTag = Some("b3"))
    assert(replayed.ids == compacted.ids)
  }

  test("atomicWrite over a checksum-written file: readable, stale crc scrubbed") {
    // simulate the pre-IndexFiles writer: LocalFileSystem (a
    // ChecksumFileSystem) creates the file AND a .<name>.crc sidecar
    val dir = Files.createTempDirectory("gtidx_crc").toString
    val target = new org.apache.hadoop.fs.Path(dir, "state.meta")
    val checksumFs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = checksumFs.create(target, true)
    out.write("old-content".getBytes("UTF-8")); out.close()
    val crc = java.nio.file.Paths.get(dir, ".state.meta.crc")
    assert(java.nio.file.Files.exists(crc), "precondition: checksum sidecar")
    // the new commit path renames only the data file — it must scrub the
    // stale sidecar or every checksum-verified open would throw
    graft.operators.IndexFiles.writeString(spark, target, "new-content")
    assert(graft.operators.IndexFiles.readString(spark, target)
      .contains("new-content"))
    assert(!java.nio.file.Files.exists(crc), "stale crc sidecar survived")
    // a checksum-verifying reader (the old code path) must not throw either
    val in = checksumFs.open(target)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    assert(txt == "new-content")
    // and no tmp/crc litter remains — the data file is the directory's
    // only occupant
    val names =
      new java.io.File(dir).list().toSeq.sorted
    assert(names == Seq("state.meta"), s"litter: $names")
  }

  test("soak: streaming ingest with auto-compaction stays probe-correct and exactly-once") {
    import graft.streaming.CorpusStreams
    val dir = Files.createTempDirectory("gtidx_soak").toString
    val slices = (0 until 8).map(i =>
      tables.documents.filter($"doc_id" % 8 === i))
    // 8 micro-batches with auto-compaction at 3 live segments: the index
    // must never hold 3+ segments after a batch returns
    slices.zipWithIndex.foreach { case (s, i) =>
      CorpusStreams.processTextIndexBatch(spark, s, i.toLong, "gtidx_soak",
        dir, autoCompactAt = 3)
      val live = TextIndex.attachSegments(spark, "gtidx_soak", dir).ids
      assert(live.length < 3, s"batch $i left ${live.length} live segments")
    }
    // probe-equal to the from-scratch path over the full corpus
    val seg = TextIndex.attachSegments(spark, "gtidx_soak", dir)
    val live = TextAnalysis.bm25Search(tables)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val probed = TextIndex.bm25ProbeSegmented(spark, seg,
        tables.documents.filter($"doc_id" < 10))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(probed.nonEmpty && probed == live,
      s"diff=${(probed.toSet diff live.toSet).take(3)}")
    // every original batch tag survived the compaction chain: replays of
    // ANY batch — even ones folded away rounds ago — stay no-ops
    for (i <- 0 until 8) {
      CorpusStreams.processTextIndexBatch(spark, slices(i), i.toLong,
        "gtidx_soak", dir, autoCompactAt = 3)
      assert(TextIndex.attachSegments(spark, "gtidx_soak", dir).ids == seg.ids,
        s"replay of batch $i re-ingested")
    }
  }

  test("segmented probe: byte-derived flat scan equals the forced bucketed plan") {
    // small segments take the file-packed parquet read (no per-bucket
    // task fan-out); forcing the distributed arms selects the 100 TB
    // bucketed arm — results must be identical, and only the forced arm
    // reads buckets
    val dir = Files.createTempDirectory("gtidx_small").toString
    val half = tables.documents.count() / 2
    TextIndex.appendSegment(spark, tables.documents.filter($"doc_id" < half),
      "gtidx_sm", dir, buckets = 8)
    val seg = TextIndex.appendSegment(spark,
      tables.documents.filter($"doc_id" >= half), "gtidx_sm", dir, buckets = 8)
    val q = tables.documents.filter($"doc_id" < 10)
    val smallDf = TextIndex.bm25ProbeSegmented(spark, seg, q)
    assert(!planOf(smallDf).contains("SelectedBucketsCount"),
      s"small probe still reads through the bucket spec:\n${planOf(smallDf)}")
    val small = smallDf.collect().map(_.toSeq).toSet
    withArms("distributed") {
      val bigDf = TextIndex.bm25ProbeSegmented(spark, seg, q)
      val bigPlan = planOf(bigDf)
      assert(bigPlan.contains("SelectedBucketsCount") ||
        bigPlan.contains("Bucketed: true"),
        s"forced arm must read the bucketed tables:\n$bigPlan")
      assert(small.nonEmpty && bigDf.collect().map(_.toSeq).toSet == small,
        "flat-scan and bucketed probes disagree")
    }
  }

  test("appendSegment bounds the segment file count for a wide small batch") {
    // a batch arriving at the session's full shuffle width must not fan
    // tasks×buckets tiny files into the segment (the r17 CDC lesson,
    // enforced in the store): a sub-64 MB batch coalesces to one write
    // task — at most one file per non-empty bucket
    val dir = Files.createTempDirectory("gtidx_files").toString
    TextIndex.appendSegment(spark,
      tables.documents.filter($"doc_id" < 100).repartition(16),
      "gtidx_fc", dir, buckets = 8)
    val files = java.nio.file.Files.list(
        java.nio.file.Paths.get(dir, "gtidx_fc_seg0")).toArray
      .map(_.toString).count(_.endsWith(".parquet"))
    assert(files <= 8, s"segment written with $files files (> buckets)")
  }

  test("single-term probe prunes to one bucket and pushes the In filter") {
    val dir = Files.createTempDirectory("gtidx_prune").toString
    val idx = TextIndex.buildIndex(spark, tables.documents, "gtidx_prune", dir,
      buckets = 8)
    // one-term query doc (the term certainly exists in the corpus)
    val term = tables.documents
      .select(explode(TextAnalysis.tokens($"text")).as("w"))
      .groupBy("w").count().orderBy(desc("count")).head().getString(0)
    val q = Seq((900000L, term)).toDF("doc_id", "text")
    // pin the 100 TB arm: below the byte threshold the probe reads flat
    // (r18), so force the bucketed plan to assert its pruning behavior
    val df = withArms("distributed") {
      val df = TextIndex.bm25Probe(spark, idx, q)
      val plan = planOf(df)
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
        s"bucket pruning missing:\n$plan")
      assert(df.count() > 0)
      df
    }
    // and the default (small-store) arm returns the same rows
    val flat = TextIndex.bm25Probe(spark, idx, q)
    assert(!planOf(flat).contains("SelectedBucketsCount"))
    assert(flat.collect().map(_.toSeq).toSet ===
      df.collect().map(_.toSeq).toSet)
  }
}
