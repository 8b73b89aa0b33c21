package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.operators.{AnnIndex, CdcStore, DedupIndex, GraphAnn, TextIndex}

/** Pins the on-disk layout of the five persisted stores: after each of
  * build, append and compact, the sorted relative paths under the store
  * directory (parquet part files and their checksum sidecars excluded —
  * their names carry job ids) equal a fixed list, and every top-level
  * text state file (lists, metas, bucket files, markers) holds fixed
  * content. That layout is the format later sessions attach to, so a
  * renamed, extra or reformatted file fails here even where every
  * query result stays equal. */
class StoreLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def layout(dir: String): Seq[String] = {
    val root = Paths.get(dir)
    Files.walk(root).iterator().asScala
      .filter(_ != root)
      .filterNot { p =>
        val n = p.getFileName.toString
        n.startsWith("part-") || n.startsWith(".part-")
      }
      .map(p => root.relativize(p).toString)
      .toSeq.sorted
  }

  /** A written table directory: the dir and its success marker. */
  private def table(t: String) = Seq(t, s"$t/._SUCCESS.crc", s"$t/_SUCCESS")

  private def check(dir: String, step: String, names: Seq[String],
                    content: Map[String, String]): Unit = {
    val got = layout(dir)
    assert(got == names.sorted, s"$step layout: ${got.mkString(", ")}")
    val state = got.filter(n => !n.contains("/") && !n.endsWith(".bloom") &&
      Files.isRegularFile(Paths.get(dir, n)))
    val gotContent = state.map(n =>
      n -> new String(Files.readAllBytes(Paths.get(dir, n)), "UTF-8")).toMap
    assert(gotContent == content, s"$step state files")
  }

  test("CdcStore: append, append, compact") {
    val dir = Files.createTempDirectory("sl_cdc").toString
    val base = tables.customer.select(col("c_custkey").as("k"),
      lit("keep").as("op"), col("c_acctbal").as("acctbal"))
    val files = Seq("cdc_segments.list", "cdc_store.buckets")
    CdcStore.appendChanges(spark, base, "sl_cdc", dir, buckets = 4,
      batchTag = Some("b0"))
    check(dir, "first append", files ++ table("sl_cdc_cdc0"),
      Map("cdc_segments.list" -> "0:b0", "cdc_store.buckets" -> "4"))
    val store = CdcStore.appendChanges(spark,
      base.filter($"k" % 5 === 0).withColumn("op", lit("delete")), "sl_cdc",
      dir, buckets = 4, batchTag = Some("b1"))
    check(dir, "second append",
      files ++ table("sl_cdc_cdc0") ++ table("sl_cdc_cdc1"),
      Map("cdc_segments.list" -> "0:b0 1:b1", "cdc_store.buckets" -> "4"))
    CdcStore.compactStore(spark, store)
    check(dir, "compact",
      files ++ Seq(0, 1, 2).flatMap(i => table(s"sl_cdc_cdc$i")),
      Map("cdc_segments.list" -> "2:b0,b1", "cdc_store.buckets" -> "4"))
  }

  test("TextIndex: build, append segments, compact") {
    val dir = Files.createTempDirectory("sl_text").toString
    val docs = tables.documents
    TextIndex.buildIndex(spark, docs.filter($"doc_id" < 100), "sl_text", dir,
      buckets = 4)
    val built = Map("text_index.buckets" -> "4", "text_index.meta" -> "100 5374")
    check(dir, "build",
      Seq("text_index.buckets", "text_index.meta") ++ table("sl_text_postings"),
      built)
    TextIndex.appendSegment(spark, docs.filter($"doc_id" < 50), "sl_text",
      dir, buckets = 4, batchTag = Some("b0"))
    val seg = TextIndex.appendSegment(spark,
      docs.filter($"doc_id" >= 50 && $"doc_id" < 100), "sl_text", dir,
      buckets = 4, batchTag = Some("b1"))
    val appended = built ++ Map("seg0.meta" -> "50 2832",
      "seg1.meta" -> "50 2542", "segments.list" -> "0:b0 1:b1")
    check(dir, "append",
      appended.keys.toSeq ++ table("sl_text_postings") ++
        table("sl_text_seg0") ++ table("sl_text_seg1"),
      appended)
    TextIndex.compactSegments(spark, seg, buckets = 4)
    val compacted = appended ++ Map("seg2.meta" -> "100 5374",
      "segments.list" -> "2:b0,b1")
    check(dir, "compact",
      compacted.keys.toSeq ++ table("sl_text_postings") ++
        Seq(0, 1, 2).flatMap(i => table(s"sl_text_seg$i")),
      compacted)
  }

  test("DedupIndex: build, append, compact") {
    val dir = Files.createTempDirectory("sl_dedup").toString
    val docs = tables.documents
    val names = Seq("fp.bloom", "fp.bloom.meta", "index.meta") ++
      table("fp") ++ table("sig") ++ table("band")
    val idx = DedupIndex.buildIndex(spark, docs.filter($"doc_id" >= 100),
      "sl_dedup", dir, buckets = 4)
    check(dir, "build", names,
      Map("fp.bloom.meta" -> "1600 0.01", "index.meta" -> "buckets=4"))
    DedupIndex.appendToIndex(spark, docs.filter($"doc_id" < 100), idx)
    check(dir, "append", names,
      Map("fp.bloom.meta" -> "1600 0.01", "index.meta" -> "buckets=4"))
    DedupIndex.compactIndex(spark, idx)
    check(dir, "compact", names,
      Map("fp.bloom.meta" -> "2000 0.01", "index.meta" -> "buckets=4"))
  }

  test("AnnIndex: build, append, compact") {
    val dir = Files.createTempDirectory("sl_ann").toString
    val emb = tables.embeddings
    val names = Seq("_ANN_INDEX_OK") ++ table("centroids") ++
      table("vectors") ++ (0 until 4).map(c => s"vectors/cell=$c")
    val marker = Map("_ANN_INDEX_OK" -> "nList=4")
    val idx = AnnIndex.buildIndex(spark, emb.filter($"vec_id" % 2 === 0), dir,
      nList = 4)
    check(dir, "build", names, marker)
    AnnIndex.appendToIndex(spark, emb.filter($"vec_id" % 2 === 1), idx)
    check(dir, "append", names, marker)
    AnnIndex.compactIndex(spark, idx)
    check(dir, "compact", names, marker)
  }

  test("GraphAnn: build, append, compact") {
    val dir = Files.createTempDirectory("sl_gann").toString
    val emb = tables.embeddings.select("vec_id", "embedding")
    val tablesOf = table("sl_gann_gadj") ++ table("sl_gann_gnodes")
    val idx = GraphAnn.buildIndex(spark, emb.filter($"vec_id" < 200),
      "sl_gann", dir, buckets = 4)
    check(dir, "build", Seq("graph_ann.buckets", "graph_ann.meta") ++ tablesOf,
      Map("graph_ann.buckets" -> "4", "graph_ann.meta" -> "0 16 200"))
    val grown = GraphAnn.appendToIndex(spark,
      emb.filter($"vec_id" >= 200 && $"vec_id" < 260), idx,
      batchTag = Some("b0"))
    val appended = Map("graph_ann.buckets" -> "4",
      "graph_ann.meta" -> "0 16 260", "graph_ann.tags" -> "b0")
    check(dir, "append", appended.keys.toSeq ++ tablesOf, appended)
    GraphAnn.compactIndex(spark, grown)
    check(dir, "compact", appended.keys.toSeq ++ tablesOf, appended)
  }
}
