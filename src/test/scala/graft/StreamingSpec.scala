package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Dataset
import graft.streaming.EventStreams
import graft.streaming.EventStreams.{Event, UserRunning}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("windowedCounts aggregates a stream like the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.windowedCounts(input.toDF(), watermark = "5 minutes", windowLen = "10 minutes")
      .writeStream.format("memory").queryName("wc").outputMode("complete").start()
    try {
      input.addData(
        Event(1, ts(1), 10, "click", 1.0),
        Event(2, ts(2), 11, "click", 2.0),
        Event(3, ts(12), 10, "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("wc").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows == Set(
        ("2024-01-01 10:00:00.0", "click", 2L, 3.0),
        ("2024-01-01 10:10:00.0", "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("windowed aggregation state survives a checkpointed query RESTART") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_ckpt_out").toString
    val input = MemoryStream[Event]
    // the memory sink refuses checkpoint recovery; the parquet file sink
    // is the fault-tolerant one — exactly the production restart shape
    def start() = EventStreams
      .windowedCounts(input.toDF(), watermark = "5 minutes", windowLen = "10 minutes")
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    // window [10:00,10:10) accumulates 2 events BEFORE the restart...
    val q1 = start()
    try {
      input.addData(Event(1, ts(1), 10, "click", 1.0),
        Event(2, ts(2), 11, "click", 2.0))
      q1.processAllAvailable()
      // append mode: nothing emitted yet — the window is still open, its
      // partial count lives ONLY in the state store
      assert(spark.read.parquet(outDir).isEmpty)
    } finally q1.stop()
    // ...and 1 more AFTER the restart, plus a late sentinel to close it
    val q2 = start()
    try {
      input.addData(Event(3, ts(3), 12, "click", 4.0))
      q2.processAllAvailable()
      input.addData(Event(4, ts(40), 13, "view", 0.5))
      q2.processAllAvailable()
      val rows = spark.read.parquet(outDir).collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      // the closed window counts ALL THREE clicks — the two pre-restart
      // events were recovered from the checkpointed state store, not
      // re-read from the source (MemoryStream cannot replay batch 0 into
      // a new query; only the state store can carry them across)
      assert(rows == Set(("2024-01-01 10:00:00.0", "click", 3L, 7.0)),
        rows.toString)
    } finally q2.stop()
  }

  test("sessionWindows merges events within the gap into one session") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.sessionWindows(input.toDF(), gap = "5 minutes")
      .writeStream.format("memory").queryName("sess").outputMode("complete").start()
    try {
      input.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(3), 1, "click", 1.0), // same session (gap 3 < 5)
        Event(3, ts(20), 1, "click", 1.0)) // new session
      q.processAllAvailable()
      val rows = spark.table("sess").collect()
      assert(rows.length == 2)
      val counts = rows.map(_.getLong(3)).sorted.toSeq
      assert(counts == Seq(1L, 2L))
    } finally q.stop()
  }

  test("file-source streaming windowedCounts equals the batch aggregation") {
    val src = "target/test-stream-src"
    tables.events.write.mode("overwrite").parquet(src) // µs timestamps
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema).parquet(src)
    val q = EventStreams.windowedCounts(stream)
      .writeStream.format("memory").queryName("fwc").outputMode("complete").start()
    try {
      q.processAllAvailable()
      // date_format in the session tz on BOTH sides: the stream's w_start
      // is zoned TIMESTAMP (watermark normalization) while the batch
      // window over the raw parquet may be NTZ — same UTC wall-clock
      // either way, but different JVM classes under getTimestamp
      val got = spark.table("fwc")
        .select(date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss"),
          col("event_type"), col("n_events"), col("sum_value"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          math.round(r.getDouble(3) * 1e4))).toSet
      val want = spark.read.parquet(src)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum("value").as("v"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss"),
          col("event_type"), col("n"), col("v"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          math.round(r.getDouble(3) * 1e4))).toSet
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("streaming slidingCounts equals the batch sliding-window operator") {
    val src = "target/test-stream-slide"
    tables.events.write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema).parquet(src)
    val q = EventStreams.slidingCounts(stream)
      .writeStream.format("memory").queryName("fsc").outputMode("complete").start()
    try {
      q.processAllAvailable()
      // date_format in the session tz on BOTH sides (never Timestamp.valueOf,
      // which would parse in the JVM-default zone)
      val got = spark.table("fsc")
        .select(date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss"),
          col("event_type"), col("n_events"), col("sum_value"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val want = graft.operators.Analytics.slidingWindowCounts(
        tables.withTable("events", spark.read.parquet(src))).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("dedupStream drops repeated event ids across micro-batches within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.dedupStream(input.toDF())
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      input.addData(
        Event(1, ts(1), 10, "click", 1.0),
        Event(1, ts(1), 10, "click", 1.0), // same-batch duplicate
        Event(2, ts(2), 11, "view", 2.0))
      q.processAllAvailable()
      input.addData(Event(1, ts(3), 10, "click", 1.0)) // cross-batch duplicate
      q.processAllAvailable()
      val ids = spark.table("dedup").collect().map(_.getLong(0)).sorted
      assert(ids.sameElements(Array(1L, 2L)), s"got ${ids.toSeq}")
    } finally q.stop()
  }

  test("runningUserTotals keeps state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.runningUserTotals(spark, input.toDS())
      .writeStream.format("memory").queryName("rut").outputMode("update").start()
    try {
      input.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 1, "click", 2.0))
      q.processAllAvailable()
      input.addData(Event(3, ts(2), 1, "click", 4.0))
      q.processAllAvailable()
      // last update for user 1 must carry the running total over both batches
      val last = spark.table("rut").collect().map(r => (r.getLong(1), r.getDouble(2))).last
      assert(last == ((3L, 7.0)))
    } finally q.stop()
  }

  test("stream-static enrichment joins each event to the broadcast dimension") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((10L, "gold"), (11L, "silver")).toDF("user_id", "tier")
    val input = MemoryStream[Event]
    val q = EventStreams.enriched(input.toDF(), dim)
      .select("event_id", "user_id", "tier")
      .writeStream.format("memory").queryName("enr").outputMode("append").start()
    try {
      input.addData(
        Event(1, ts(0), 10, "click", 1.0),
        Event(2, ts(1), 11, "view", 2.0),
        Event(3, ts(2), 99, "click", 3.0)) // no dimension row → null tier
      q.processAllAvailable()
      val got = spark.table("enr").collect()
        .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
      assert(got == Map(1L -> Some("gold"), 2L -> Some("silver"), 3L -> None))
    } finally q.stop()
  }

  test("streaming ingest hygiene (quality filter + PII redaction) matches batch") {
    import graft.streaming.CorpusStreams
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    // real docs (all PII-free, most pass) + synthetic edge rows: a PII
    // carrier that passes the filter, and a too-short doc that must drop
    val extra = Seq(
      (900001L, "the server at 192.168.0.1 mailed alice@example.com a long enough note today ok"),
      (900002L, "too short"))
    val docs = tables.documents.limit(80).select("doc_id", "text")
      .union(extra.toDF("doc_id", "text"))
    val want = CorpusStreams.hygienic(docs)
      .select("doc_id", "text_redacted", "n_redactions").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(want.exists(_._1 == 900001L), "the PII row must survive the filter")
    assert(!want.exists(_._1 == 900002L), "the short row must be dropped")
    assert(want.find(_._1 == 900001L).get._2 ==
      "the server at <IP> mailed <EMAIL> a long enough note today ok")
    val input = MemoryStream[(Long, String)]
    val q = CorpusStreams.hygienic(input.toDF().toDF("doc_id", "text"))
      .select("doc_id", "text_redacted", "n_redactions")
      .writeStream.format("memory").queryName("hygiene").outputMode("append").start()
    try {
      val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      input.addData(rows.take(40).toSeq) // two micro-batches
      q.processAllAvailable()
      input.addData(rows.drop(40).toSeq)
      q.processAllAvailable()
      val got = spark.table("hygiene").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got == want && got.nonEmpty, s"stream/batch diverged: ${got.size} vs ${want.size}")
    } finally q.stop()
  }

  test("streaming blocklist screen matches the batch flags over split micro-batches") {
    import graft.streaming.CorpusStreams
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val docs = tables.documents.select("doc_id", "text")
    val flags = TextAnalysis.blocklistScreen(tables).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val want = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      .filter { case (id, _) => flags(id) == 0L }.toSet
    assert(want.nonEmpty && want.size < flags.size,
      "fixture must contain both blocked and clean docs")
    val input = MemoryStream[(Long, String)]
    val q = CorpusStreams.blocklistScreened(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("blscreen").outputMode("append").start()
    try {
      val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      input.addData(rows.take(rows.length / 2).toSeq)
      q.processAllAvailable()
      input.addData(rows.drop(rows.length / 2).toSeq)
      q.processAllAvailable()
      val got = spark.table("blscreen").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == want, s"stream/batch diverged: ${got.size} vs ${want.size}")
    } finally q.stop()
  }

  test("windowed trending terms: each closed window equals the batch sketch of its docs") {
    import graft.streaming.CorpusStreams
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val docRows = tables.documents.select("text").collect().map(_.getString(0))
    // window 1 (10:00) gets the first half, window 2 (11:00) the second
    val half = docRows.length / 2
    val w1 = docRows.take(half).map(t => (Timestamp.valueOf("2024-01-01 10:05:00"), t))
    val w2 = docRows.drop(half).map(t => (Timestamp.valueOf("2024-01-01 11:05:00"), t))
    val input = MemoryStream[(Timestamp, String)]
    val q = CorpusStreams.trendingTermsWindowed(
      input.toDF().toDF("ts", "text"), windowLen = "1 hour", watermark = "30 minutes")
      .writeStream.format("memory").queryName("trendw").outputMode("append").start()
    try {
      input.addData(w1.toSeq)
      q.processAllAvailable()
      input.addData(w2.toSeq)
      q.processAllAvailable()
      // late sentinel far past window 2 closes it
      input.addData(Seq((Timestamp.valueOf("2024-01-01 14:00:00"), "sentinel")))
      q.processAllAvailable()
      val got = spark.table("trendw").collect()
        .map(r => (r.getTimestamp(0).toString.take(13),
          r.getString(1), r.getLong(2), r.getLong(3)))
        .groupBy(_._1).view
        .mapValues(_.map(x => (x._2, x._3, x._4)).toSet).toMap
      def batchSketch(texts: Seq[String]): Set[(String, Long, Long)] = {
        import spark.implicits._
        val d = texts.toDF("text")
        CorpusStreams.trendingTerms(d.select(lit(0L).as("doc_id"), col("text")))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      }
      // a single-batch window's sketch is EXACTLY the batch sketch (no
      // merge-order divergence possible — one partial per partition set,
      // same rows); compare zero-error items, which must agree exactly
      assert(got.contains("2024-01-01 10"), s"windows seen: ${got.keySet}")
      assert(got.contains("2024-01-01 11"), s"windows seen: ${got.keySet}")
      val want1 = batchSketch(docRows.take(half).toSeq)
      val exactGot = got("2024-01-01 10").filter(_._3 == 0L)
      val exactWant = want1.filter(_._3 == 0L)
      assert(exactGot.nonEmpty && exactWant.nonEmpty)
      exactWant.foreach { case (tok, c, _) =>
        val hit = got("2024-01-01 10").find(_._1 == tok)
        assert(hit.exists(h => h._2 >= c - h._3 && h._2 <= c + h._3),
          s"window-1 token $tok: batch exact $c vs stream $hit")
      }
      // and the two windows are genuinely independent sketches
      assert(got("2024-01-01 10") != got("2024-01-01 11"))
    } finally q.stop()
  }

  test("streaming trending terms: sketch over split batches equals the batch sketch") {
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    val docs = tables.documents.select("doc_id", "text")
    val want = CorpusStreams.trendingTerms(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(want.nonEmpty)
    val input = MemoryStream[(Long, String)]
    val q = CorpusStreams.trendingTerms(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("trend").outputMode("complete").start()
    try {
      val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      input.addData(rows.take(rows.length / 3).toSeq)
      q.processAllAvailable()
      input.addData(rows.drop(rows.length / 3).toSeq)
      q.processAllAvailable()
      val got = spark.table("trend").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      // the sketch is mergeable and deterministic for a fixed merge ORDER;
      // streamed partials can merge in a different order than the batch
      // shuffle, so compare the guarantee, not the bytes: identical
      // top-item SET within error bounds and exact counts for items whose
      // est-err interval is tight (err 0 = exact count)
      val wm = want.map(t => t._1 -> (t._2, t._3)).toMap
      val gm = got.map(t => t._1 -> (t._2, t._3)).toMap
      val exactW = wm.filter(_._2._2 == 0L)
      val exactG = gm.filter(_._2._2 == 0L)
      // every zero-error item in one appears in the other with the same count
      exactW.foreach { case (tok, (c, _)) =>
        assert(gm.contains(tok) && gm(tok)._1 >= c - gm(tok)._2 && gm(tok)._1 <= c + gm(tok)._2,
          s"token $tok: batch exact $c vs stream ${gm.get(tok)}")
      }
      assert(exactG.nonEmpty && exactW.nonEmpty)
    } finally q.stop()
  }

  test("streaming ANN ingest grows the index to the batch-build state; replays are no-ops") {
    import graft.operators.AnnIndex
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    val a = tables.embeddings.filter(col("vec_id") % 2 === 0)
    val b = tables.embeddings.filter(col("vec_id") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("gann_stream").toString
    val commitDir = java.nio.file.Files.createTempDirectory("gann_commits").toString
    val idx = AnnIndex.buildIndex(spark, a, dir, fitOn = Some(a))
    val input = MemoryStream[(Long, Seq[Float], Int)]
    val q = CorpusStreams.annIngestLoop(spark,
      input.toDF().toDF("vec_id", "embedding", "label"), idx, Some(commitDir))
    try {
      val rows = b.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
      input.addData(rows.take(rows.length / 2).toSeq)
      q.processAllAvailable()
      input.addData(rows.drop(rows.length / 2).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    // streamed state == one-shot batch build with the same frozen quantizer
    val dirFull = java.nio.file.Files.createTempDirectory("gann_full").toString
    val idxFull = AnnIndex.buildIndex(spark, tables.embeddings, dirFull,
      fitOn = Some(a))
    def assignments(i: AnnIndex.Index) =
      spark.read.parquet(i.vectorsPath).select("vec_id", "cell").collect()
        .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(assignments(idx) == assignments(idxFull))
    // a replayed batchId is skipped outright: index row count unchanged
    val before = spark.read.parquet(idx.vectorsPath).count()
    CorpusStreams.processAnnIngestBatch(spark,
      b.limit(5), 0L, idx, Some(commitDir))
    assert(spark.read.parquet(idx.vectorsPath).count() == before,
      "replayed committed batch must not append")
    // one marker per committed batch, and no checksum sidecar beside them
    assert(new java.io.File(commitDir).list().toSeq.sorted ==
      Seq(0L, 1L).map(i => f"annbatch-$i%020d.committed"))
    // and queries over the streamed index match the batch-built one
    val queries = tables.embeddings.filter(col("vec_id") < 10)
    assert(AnnIndex.queryIndex(spark, idx, queries).collect().toSeq ==
      AnnIndex.queryIndex(spark, idxFull, queries).collect().toSeq)
  }

  test("streaming dedup against a stored fp index matches the batch anti-join") {
    import graft.streaming.CorpusStreams
    import graft.operators.{Dedup, DedupIndex}
    implicit val sqlCtx = spark.sqlContext
    val corpus = tables.documents.filter(col("doc_id") < 60)
    val dir = java.nio.file.Files.createTempDirectory("gdidx_stream").toString
    val idx = DedupIndex.buildIndex(spark, corpus,
      s"gdidx_stream_${System.nanoTime()}", dir)
    val fpIndex = spark.table(idx.fp)
    // incoming: a corpus duplicate (must drop) + fresh docs (must survive)
    val dupText = corpus.select("text").head().getString(0)
    val incoming = tables.documents.filter(col("doc_id") >= 60)
      .limit(40).select("doc_id", "text")
      .union(Seq((900001L, dupText)).toDF("doc_id", "text"))
    val want = incoming
      .withColumn("_fp", Dedup.fingerprint(col("text")))
      .join(fpIndex.select(col("fp").as("_fp")), Seq("_fp"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!want.contains(900001L), "the corpus duplicate must be dropped")
    val input = MemoryStream[(Long, String)]
    val q = CorpusStreams.dedupedAgainstIndex(
        input.toDF().toDF("doc_id", "text"), fpIndex)
      .select("doc_id")
      .writeStream.format("memory").queryName("idxdedup").outputMode("append").start()
    try {
      val rows = incoming.collect().map(r => (r.getLong(0), r.getString(1)))
      input.addData(rows.take(20).toSeq) // two micro-batches
      q.processAllAvailable()
      input.addData(rows.drop(20).toSeq)
      q.processAllAvailable()
      val got = spark.table("idxdedup").collect().map(_.getLong(0)).toSet
      assert(got == want && got.nonEmpty, s"stream/batch diverged: ${got.size} vs ${want.size}")
    } finally q.stop()
  }

  test("ingestLoop drops cross-BATCH dups via the grown index, with zero Spark state") {
    import graft.streaming.CorpusStreams
    import graft.operators.DedupIndex
    implicit val sqlCtx = spark.sqlContext
    val corpus = tables.documents.filter(col("doc_id") < 40)
      .select("doc_id", "text", "lang", "source").localCheckpoint()
    val idxDir = java.nio.file.Files.createTempDirectory("gdidx_loop").toString
    val textDir = java.nio.file.Files.createTempDirectory("gdidx_loop_text").toString
    val idx = DedupIndex.buildIndex(spark, corpus,
      s"gdidx_loop_${System.nanoTime()}", idxDir)
    corpus.write.mode("overwrite").parquet(textDir) // the corpus text store
    val outDir = java.nio.file.Files.createTempDirectory("gdidx_loop_out").toString

    val freshA = "aurora basilisk chrysalis dormant ember fjord glacier harbinger"
    val freshB = "ivory jubilee kestrel labyrinth meridian nocturne obsidian pinnacle"
    val corpusDup = corpus.select("text").head().getString(0)
    val input = MemoryStream[(Long, String, String, String)]
    val q = CorpusStreams.ingestLoop(
      spark,
      input.toDF().toDF("doc_id", "text", "lang", "source"),
      idx,
      () => spark.read.parquet(textDir),
      survivors => {
        survivors.write.mode("append").parquet(outDir)
        survivors.write.mode("append").parquet(textDir) // grow the text store too
      })
    try {
      // batch 1: one fresh doc + a corpus duplicate (must drop)
      input.addData(Seq((9001L, freshA, "en", "s1"), (9002L, corpusDup, "en", "s1")))
      q.processAllAvailable()
      // batch 2: a NEAR-dup of batch-1's survivor (must drop — the index
      // grew), plus one genuinely fresh doc
      input.addData(Seq((9003L, freshA + " coda", "en", "s2"),
        (9004L, freshB, "en", "s2")))
      q.processAllAvailable()
      val got = spark.read.parquet(outDir).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(got == Set(9001L, 9004L), s"survivors: $got")
      // the grown index carries exactly the survivors' fingerprints
      val appended = spark.table(idx.fp).count() - corpus.count()
      assert(appended == 2L, s"appended fp rows: $appended")
    } finally q.stop()
  }

  test("ingest soak: 20 epochs with compaction interleaved keeps probes exact, file counts flat, zero residue") {
    // the daily loop's steady state, compressed: 20 append epochs through
    // processIngestBatch, compactIndex every 7, and at every compaction
    // point the index path must equal the rescan path on the NEXT batch,
    // the fp probe must stay one-Exchange over a bucketed scan, and the
    // per-table file count must return to ~one per bucket (r8 verdict ask:
    // compaction had never been interleaved with a long append sequence)
    import graft.streaming.CorpusStreams
    import graft.operators.{Dedup, DedupIndex}
    val corpus = tables.documents.filter(col("doc_id") < 100)
      .select("doc_id", "text", "lang", "source").localCheckpoint()
    val idxDir = java.nio.file.Files.createTempDirectory("gdidx_soak").toString
    val textDir = java.nio.file.Files.createTempDirectory("gdidx_soak_text").toString
    val commitDir = java.nio.file.Files.createTempDirectory("gdidx_soak_commit").toString
    val idx = DedupIndex.buildIndex(spark, corpus,
      s"gdidx_soak_${System.nanoTime()}", idxDir)
    corpus.write.mode("overwrite").parquet(textDir)
    def sink(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("append").parquet(textDir)
    def fpFiles(): Int =
      java.nio.file.Files.walk(java.nio.file.Paths.get(idxDir, "fp")).toArray
        .map(_.toString).count(_.endsWith(".parquet"))
    def assertOneExchangeProbe(): Unit = {
      val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val probe = tables.documents.limit(10)
          .select(Dedup.fingerprint(col("text")).as("fp"))
          .join(spark.table(idx.fp), Seq("fp"), "left_anti")
        val plan = planOf(probe)
        assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
          s"probe must shuffle only the batch side:\n$plan")
        assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
          s"probe must read the bucketed index:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    }
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    var compactedFiles = List.empty[Int]
    for (epoch <- 1 to 20) {
      val lo = 100L + (epoch - 1) * 20L
      val fresh = tables.documents
        .filter(col("doc_id") >= lo && col("doc_id") < lo + 20)
        .select("doc_id", "text", "lang", "source")
      // plus one exact dup of an already-ingested doc under a new id —
      // every epoch must exercise the cross-batch drop path
      val dupText = corpus.select("text").head().getString(0)
      import spark.implicits._
      val day = fresh.unionByName(
        Seq((90000L + epoch, dupText, "en", "soak")).toDF("doc_id", "text", "lang", "source"))
      CorpusStreams.processIngestBatch(spark, day, epoch.toLong, idx,
        () => spark.read.parquet(textDir), sink, Some(commitDir))
      assert(spark.sparkContext.getPersistentRDDs.keySet == rddsBefore,
        s"epoch $epoch leaked RDD blocks")
      if (epoch % 7 == 0) {
        DedupIndex.compactIndex(spark, idx)
        compactedFiles ::= fpFiles()
        assertOneExchangeProbe()
        // the grown index must still exactly equal the rescan path
        val probeBatch = tables.documents.filter(col("doc_id") < 30)
          .select("doc_id", "text", "lang", "source")
        val grownText = spark.read.parquet(textDir)
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val got = DedupIndex.dedupeAgainstIndex(spark, probeBatch, idx, grownText)
          .collect().toSeq
        val want = Dedup.dedupeIncrement(grownText, probeBatch).collect().toSeq
        assert(got == want, s"epoch $epoch: index path diverged from rescan")
        spark.sparkContext.getPersistentRDDs
          .filter { case (id, _) => !before.contains(id) }
          .values.foreach(_.unpersist(blocking = true))
      }
    }
    // file count is FLAT across compactions (one file per bucket, not
    // growing with epoch count) — the property that keeps listing time and
    // task fan-out constant under a daily loop
    assert(compactedFiles.nonEmpty && compactedFiles.forall(_ <= 8),
      s"post-compaction fp files must stay <= buckets: $compactedFiles")
    assert(compactedFiles.distinct.size == 1,
      s"post-compaction file count must be flat across the soak: $compactedFiles")
    // store/index consistency: the sink delivered exactly the docs the
    // index absorbed — fp rows == grown text store rows, survivor for
    // survivor (the documents table carries real dups in 100..500 BY
    // DESIGN, so the absolute count is data-dependent; the invariant is
    // the two stores never drift)
    val fpRows = spark.table(idx.fp).count()
    assert(fpRows == spark.read.parquet(textDir).count(),
      "index and delivered text store drifted apart")
    assert(fpRows > 100L && fpRows <= 500L,
      s"soak must index fresh docs but drop the per-epoch dups: $fpRows")
  }

  test("stateful runningUserTotals survives a stop/restart from its checkpoint") {
    // the operational property that makes custom state usable in
    // production: the mapGroupsWithState store recovers from the
    // checkpoint, so totals after a restart include pre-restart batches
    // (were state lost, the post-restart totals would count batch 2 only)
    // the memory sink refuses checkpoint recovery, so capture each
    // micro-batch through foreachBatch (recovery-capable) into a
    // last-write-wins map keyed by user
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val seen = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Double)]()
    val input = MemoryStream[Event]
    val totals = EventStreams.runningUserTotals(spark, input.toDS())
    def start() = totals.writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: Dataset[UserRunning], _: Long) =>
        batch.collect().foreach(u => seen.put(u.user_id, (u.n_events, u.total_value)))
      }
      .start()
    val q1 = start()
    try {
      input.addData(Event(1, ts(1), 10, "click", 1.0), Event(2, ts(2), 10, "view", 2.0))
      q1.processAllAvailable()
      assert(seen.get(10L) == ((2L, 3.0)), s"pre-restart totals: $seen")
    } finally q1.stop()
    val q2 = start()
    try {
      input.addData(Event(3, ts(3), 10, "click", 4.0), Event(4, ts(4), 11, "view", 8.0))
      q2.processAllAvailable()
      assert(seen.get(10L) == ((3L, 7.0)), s"user 10 state lost across restart: $seen")
      assert(seen.get(11L) == ((1L, 8.0)), s"user 11 missing: $seen")
    } finally q2.stop()
  }

  test("processIngestBatch: replays are no-ops and batches leave zero residual RDDs") {
    import graft.streaming.CorpusStreams
    import graft.operators.DedupIndex
    val corpus = tables.documents.filter(col("doc_id") < 40)
      .select("doc_id", "text", "lang", "source").localCheckpoint()
    val idxDir = java.nio.file.Files.createTempDirectory("gdidx_replay").toString
    val textDir = java.nio.file.Files.createTempDirectory("gdidx_replay_text").toString
    val commitDir = java.nio.file.Files.createTempDirectory("gdidx_replay_commit").toString
    val idx = DedupIndex.buildIndex(spark, corpus,
      s"gdidx_replay_${System.nanoTime()}", idxDir)
    corpus.write.mode("overwrite").parquet(textDir)
    val outDir = java.nio.file.Files.createTempDirectory("gdidx_replay_out").toString
    import spark.implicits._
    val batch = Seq(
      (9101L, "quasar nebula pulsar meridian zephyr obelisk", "en", "s1"),
      (9102L, "tundra mesa archipelago savanna steppe fjordland", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
    var sinkCalls = 0
    def sink(df: org.apache.spark.sql.DataFrame): Unit = {
      sinkCalls += 1
      df.write.mode("append").parquet(outDir)
    }
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    CorpusStreams.processIngestBatch(spark, batch, 7L, idx,
      () => spark.read.parquet(textDir), sink, Some(commitDir))
    assert(spark.sparkContext.getPersistentRDDs.keySet == rddsBefore,
      "a processed batch must release every RDD it pinned")
    val fpAfter = spark.table(idx.fp).count()
    assert(fpAfter == corpus.count() + 2, "both fresh docs must be indexed")
    // REPLAY of the committed epoch: no recompute, no delivery, no append
    CorpusStreams.processIngestBatch(spark, batch, 7L, idx,
      () => spark.read.parquet(textDir), sink, Some(commitDir))
    assert(sinkCalls == 1, "replay must not re-deliver")
    assert(spark.table(idx.fp).count() == fpAfter, "replay must not re-append")
    assert(spark.read.parquet(outDir).count() == 2)
    // the batch's marker, and no checksum sidecar beside it
    assert(new java.io.File(commitDir).list().toSeq ==
      Seq("batch-00000000000000000007.committed"))
  }

  test("streaming decontamination matches the batch operator exactly") {
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    val docs = tables.documents.limit(120)
    val benchmark = tables.documents.filter(col("doc_id") < 10)
    val bench = CorpusStreams.benchmarkShingles(benchmark, w = 3)
    val want = graft.operators.Dedup
      .decontaminate(docs, benchmark, w = 3, maxOverlap = 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val input = MemoryStream[(Long, String)]
    val q = CorpusStreams.decontaminated(
        input.toDF().toDF("doc_id", "text"), bench, w = 3, maxOverlap = 0.05)
      .select("doc_id", "n_shingles", "n_hit", "contamination")
      .writeStream.format("memory").queryName("decon").outputMode("append").start()
    try {
      val rows = docs.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      input.addData(rows.take(60).toSeq) // two micro-batches
      q.processAllAvailable()
      input.addData(rows.drop(60).toSeq)
      q.processAllAvailable()
      val got = spark.table("decon").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == want && got.nonEmpty, s"stream/batch diverged: ${got.size} vs ${want.size}")
    } finally q.stop()
  }

  test("streaming funnelProgress matches the batch funnel on time-split batches") {
    implicit val sqlCtx = spark.sqlContext
    val evs = tables.events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().sortBy(_.ts.getTime)
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val input = MemoryStream[Event]
    val q = EventStreams.funnelProgress(spark, input.toDS())
      .writeStream.format("memory").queryName("funl").outputMode("update").start()
    try {
      input.addData(b1.toSeq)
      q.processAllAvailable()
      input.addData(b2.toSeq)
      q.processAllAvailable()
      // state only advances: the max step per user is the final state
      val finalStep = spark.table("funl").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
        .groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).max }
      val stepCounts = (1 to 3).map(k => finalStep.count(_._2 >= k).toLong)
      val batch = graft.operators.Analytics.funnelSteps(tables).collect()
        .map(_.getLong(2)).toSeq
      assert(stepCounts == batch, s"stream $stepCounts vs batch $batch")
    } finally q.stop()
  }

  test("funnelProgressOrdered: a step-2 event arriving AFTER step-3 still completes the funnel") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.funnelProgressOrdered(spark, input.toDS(), watermark = "30 minutes")
      .writeStream.format("memory").queryName("funlb").outputMode("update").start()
    try {
      // batch 1 delivers view@t1 and purchase@t5 — the un-buffered machine
      // would be stuck at step 1 forever (click already "missed")
      input.addData(Event(1, ts(1), 7, "view", 0.0), Event(3, ts(5), 7, "purchase", 0.0))
      q.processAllAvailable()
      val afterB1 = spark.table("funlb").collect().map(r => (r.getLong(0), r.getInt(1)))
      assert(afterB1.toSeq == Seq((7L, 1)), afterB1.toSeq.toString)
      // batch 2 delivers the LATE click@t3 (event-time between the two) —
      // the buffered fold replays (view, click, purchase) in time order
      input.addData(Event(2, ts(3), 7, "click", 0.0))
      q.processAllAvailable()
      val steps = spark.table("funlb").collect().map(r => (r.getLong(0), r.getInt(1)))
      assert(steps.map(_._2).max == 3, steps.toSeq.toString)
      // same events in one batch through the batch funnel: also step 3
      val batchT = tables.withTable("events",
        Seq((1L, ts(1), 7L, "view", 0.0, "{}"), (2L, ts(3), 7L, "click", 0.0, "{}"),
          (3L, ts(5), 7L, "purchase", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      val want = graft.operators.Analytics.funnelSteps(batchT).collect().map(_.getLong(2)).toSeq
      assert(want == Seq(1L, 1L, 1L)) // one user reaching each step
    } finally q.stop()
  }

  test("funnelProgressOrdered matches the batch funnel under adversarial batch order") {
    implicit val sqlCtx = spark.sqlContext
    val evs = tables.events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect()
    // interleave by event_id parity: each batch holds events from the whole
    // time range, so cross-batch late arrivals are everywhere. The huge
    // watermark keeps every event inside the lateness horizon (nothing may
    // be dropped, or the differential would be vacuous).
    val (b1, b2) = evs.partition(_.event_id % 2 == 0)
    val input = MemoryStream[Event]
    val q = EventStreams.funnelProgressOrdered(spark, input.toDS(), watermark = "3650 days")
      .writeStream.format("memory").queryName("funlb2").outputMode("update").start()
    try {
      input.addData(b1.toSeq)
      q.processAllAvailable()
      input.addData(b2.toSeq)
      q.processAllAvailable()
      val finalStep = spark.table("funlb2").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
        .groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).max }
      val stepCounts = (1 to 3).map(k => finalStep.count(_._2 >= k).toLong)
      val batch = graft.operators.Analytics.funnelSteps(tables).collect()
        .map(_.getLong(2)).toSeq
      assert(stepCounts == batch, s"stream $stepCounts vs batch $batch")
    } finally q.stop()
  }

  test("stream-stream interval join attributes purchases to views within the window, exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = EventStreams.intervalJoin(views.toDF(), purchases.toDF(),
        watermark = "5 minutes", within = "1 hour")
      .writeStream.format("memory").queryName("attrib").outputMode("append").start()
    try {
      views.addData(
        Event(1, ts(0), 1, "view", 0.0),
        Event(2, ts(10), 1, "view", 0.0),
        Event(3, ts(0), 2, "view", 0.0))
      purchases.addData(
        Event(101, ts(30), 1, "purchase", 9.0), // joins views 1 AND 2 (both within 1h)
        Event(102, ts(90), 2, "purchase", 5.0)) // 90min after view 3 — outside window
      q.processAllAvailable()
      val rows = spark.table("attrib").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5))).toSet
      assert(rows == Set((1L, 1L, 101L, 9.0), (1L, 2L, 101L, 9.0)), rows.toString)
      // duplicate delivery of more data does not re-emit old pairs (append mode)
      purchases.addData(Event(103, ts(200), 9, "purchase", 1.0))
      q.processAllAvailable()
      assert(spark.table("attrib").count() == 2)
    } finally q.stop()
    // batch twin: the same operator body on batch frames (watermark is a
    // no-op there) produces the same attribution set
    import spark.implicits._
    val vb = Seq(Event(1, ts(0), 1, "view", 0.0), Event(2, ts(10), 1, "view", 0.0),
      Event(3, ts(0), 2, "view", 0.0)).toDF()
    val pb = Seq(Event(101, ts(30), 1, "purchase", 9.0),
      Event(102, ts(90), 2, "purchase", 5.0)).toDF()
    val batch = EventStreams.intervalJoin(vb, pb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5))).toSet
    assert(batch == Set((1L, 1L, 101L, 9.0), (1L, 2L, 101L, 9.0)), batch.toString)
  }

  test("left-outer interval join emits unattributed views with nulls after the watermark closes them") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = EventStreams.intervalJoinLeft(views.toDF(), purchases.toDF(),
        watermark = "5 minutes", within = "10 minutes")
      .writeStream.format("memory").queryName("attribL").outputMode("append").start()
    try {
      views.addData(
        Event(1, ts(0), 1, "view", 0.0),   // will be attributed
        Event(2, ts(0), 2, "view", 0.0))   // never purchased → null row later
      purchases.addData(Event(101, ts(5), 1, "purchase", 9.0))
      q.processAllAvailable()
      // advance BOTH watermarks far past view_ts + within + watermark so the
      // unmatched view can be finalized
      views.addData(Event(3, ts(120), 9, "view", 0.0))
      purchases.addData(Event(102, ts(120), 9, "purchase", 1.0))
      q.processAllAvailable()
      // one more advance: outer-null emission happens on the batch AFTER
      // the watermark moves
      views.addData(Event(4, ts(180), 8, "view", 0.0))
      purchases.addData(Event(103, ts(180), 8, "purchase", 1.0))
      q.processAllAvailable()
      val rows = spark.table("attribL").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      assert(rows.contains((1L, 1L, 101L)), rows.toString)   // attributed
      assert(rows.contains((2L, 2L, -1L)), rows.toString)    // outer-null emitted
    } finally q.stop()
  }

  test("sessionizeTimeout closes sessions on in-data gaps and via event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.sessionizeTimeout(spark, input.toDS(),
        gapMinutes = 5, watermark = "1 minutes")
      .writeStream.format("memory").queryName("sesst").outputMode("append").start()
    try {
      // user 1: two sessions separated by a 20-min gap INSIDE one batch —
      // the first closes in-line, no watermark needed
      input.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(2), 1, "click", 1.0),
        Event(3, ts(22), 1, "view", 1.0),
        Event(4, ts(23), 1, "view", 1.0))
      q.processAllAvailable()
      val inline = spark.table("sesst").collect()
        .map(r => (r.getLong(0), r.getLong(3))).toSet
      assert(inline.contains((1L, 2L)), s"in-line close missing: $inline")
      // advance the watermark far past user 1's open session → timeout fires
      input.addData(Event(9, ts(120), 7, "click", 1.0))
      q.processAllAvailable()
      input.addData(Event(10, ts(130), 7, "click", 1.0))
      q.processAllAvailable()
      val all = spark.table("sesst").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      // user 1's SECOND session (2 views at minutes 22-23) closed by timeout
      assert(all.count(_._1 == 1L) == 2, s"expected both user-1 sessions: $all")
      assert(all.count(s0 => s0._1 == 1L && s0._4 == 2L) == 2,
        s"both user-1 sessions hold 2 events: $all")
      // session invariants: start <= end, positive counts
      all.foreach { case (_, st, en, n) => assert(st <= en && n > 0) }
    } finally q.stop()
  }

  test("sessionizeTws (transformWithState) is result-equal to the flatMapGroupsWithState twin") {
    implicit val sqlCtx = spark.sqlContext
    // transformWithState contract: RocksDB state store provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def feed(q: org.apache.spark.sql.streaming.StreamingQuery,
               input: MemoryStream[Event]): Unit = {
        input.addData(
          Event(1, ts(0), 1, "click", 1.0),
          Event(2, ts(2), 1, "click", 1.0),
          Event(3, ts(22), 1, "view", 1.0),
          Event(4, ts(23), 1, "view", 1.0))
        q.processAllAvailable()
        input.addData(Event(9, ts(120), 7, "click", 1.0))
        q.processAllAvailable()
        input.addData(Event(10, ts(130), 7, "click", 1.0))
        q.processAllAvailable()
      }
      val inNew = MemoryStream[Event]
      val qNew = EventStreams.sessionizeTws(spark, inNew.toDS(),
          gapMinutes = 5, watermark = "1 minutes")
        .writeStream.format("memory").queryName("sess_tws").outputMode("append").start()
      try { feed(qNew, inNew) } finally qNew.stop()
      val inOld = MemoryStream[Event]
      val qOld = EventStreams.sessionizeTimeout(spark, inOld.toDS(),
          gapMinutes = 5, watermark = "1 minutes")
        .writeStream.format("memory").queryName("sess_legacy").outputMode("append").start()
      try { feed(qOld, inOld) } finally qOld.stop()
      def rows(t: String) = spark.table(t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val (n, o) = (rows("sess_tws"), rows("sess_legacy"))
      assert(n == o, s"tws $n vs legacy $o")
      assert(n.count(_._1 == 1L) == 2, s"both user-1 sessions expected: $n")
    } finally {
      old.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
    }
  }
}
