package graft

import org.apache.spark.sql.functions._
import graft.operators.{ConnectedComponents, Dedup}

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def ccMap(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.run(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def graphxMap(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import org.apache.spark.graphx.Graph
    Graph.fromEdgeTuples(spark.createDataset(edges).rdd, defaultValue = 1)
      .connectedComponents().vertices.collect().toMap
  }

  test("chain of diameter 19 contracts to a single component (O(log n) rounds)") {
    val chain = (0L until 19L).map(i => (i, i + 1))
    val got = ccMap(chain)
    assert(got.size == 20)
    assert(got.values.toSet == Set(0L), s"chain did not fully contract: $got")
  }

  test("matches GraphX on a chain plus separate clique and isolated pair") {
    val edges = (0L until 15L).map(i => (i, i + 1)) ++ // chain 0..15
      Seq((100L, 101L), (101L, 102L), (100L, 102L)) ++ // triangle
      Seq((200L, 201L)) // pair
    assert(ccMap(edges) == graphxMap(edges))
  }

  test("randomized differential: matches GraphX on seeded random graphs") {
    val rnd = new scala.util.Random(42L)
    for (trial <- 0 until 3) {
      val nNodes = 40 + trial * 20
      val edges = Seq.fill(nNodes) {
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong)
      }.filter(e => e._1 != e._2)
      assert(ccMap(edges) == graphxMap(edges), s"trial $trial diverged")
    }
  }

  test("self-loop-only nodes get a singleton row (one row per mentioned node)") {
    // node 7 appears ONLY in a self-loop; node 9's self-loop coexists with a
    // real edge — both must appear exactly once, 7 as its own component
    val got = ccMap(Seq((1L, 2L), (7L, 7L), (9L, 9L), (2L, 9L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 9L -> 1L, 7L -> 7L))
  }

  test("edge direction and duplicates are irrelevant") {
    val e1 = Seq((1L, 2L), (2L, 3L))
    val e2 = Seq((3L, 2L), (2L, 1L), (1L, 2L), (1L, 2L))
    assert(ccMap(e1) == ccMap(e2))
  }

  test("driver union-find arm and distributed star loop are bit-equal") {
    val rnd = new scala.util.Random(7L)
    val edges = Seq.fill(300) {
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong)
    } ++ Seq((500L, 500L), (600L, 601L)) // self-loop-only node + isolated pair
    val (viaDriver, arms) = armDecisions(ccMap(edges)) // default threshold: driver arm
    assert(arms.map(_.arm) == Seq("driver"), s"$arms")
    val viaDistributed = withArms("distributed")(ccMap(edges))
    assert(viaDriver == viaDistributed)
    assert(viaDriver == graphxMap(edges) + (500L -> 500L))
  }

  test("nearDupGroups produces identical groups on both component engines") {
    val docs = tables.documents
    // transitive chain: A ~ B ~ C via one-word deltas (same as DedupSpec)
    val base = docs.filter($"doc_id" === 0)
    val b = base.withColumn("doc_id", lit(5000000L))
      .withColumn("text", concat($"text", lit(" x")))
    val c = base.withColumn("doc_id", lit(5000001L))
      .withColumn("text", concat($"text", lit(" x y")))
    val t = tables.withTable("documents", docs.union(b).union(c))
    // GraphX reference on the same candidate pairs; documents with no
    // candidate edge are their own group
    val pairs = Dedup.minhashCandidatesCore(t, minEstJaccard = 0.4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq
    val components = graphxMap(pairs)
    val viaGraphx = t.documents.select("doc_id").as[Long].collect()
      .map(d => d -> components.getOrElse(d, d)).toMap
    val viaDF = Dedup.nearDupGroups(t, minEstJaccard = 0.4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaGraphx == viaDF)
    assert(viaDF(5000001L) == 0L) // the transitive group actually formed
  }
}
