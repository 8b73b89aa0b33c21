package graft

import graft.operators.Graph
import org.apache.spark.sql.functions.col

class GraphSpec extends SparkSpec {

  /** `df` collected into a local relation: its plan-stats are its true
    * size, as for the parquet pair artifacts the queries read. A fixture
    * pair list derived by join keeps Catalyst's join-product estimate
    * (~160 MB here), above the driver arms' plan-stats budget. */
  private def local(df: org.apache.spark.sql.DataFrame) =
    Some(spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema))

  private def assertArm(arms: Seq[ArmDecision], arm: String, sites: String*): Unit =
    sites.foreach { site =>
      assert(arms.exists(d => d.site == site && d.arm == arm), s"$site did not run $arm: $arms")
    }

  test("pageRank conserves rank mass over the undirected trade graph") {
    val rows = Graph.pageRank(tables).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val n = rows.length
    assert(n > 0)
    assert(rows.forall(_._2 > 0.0))
    // undirected edges → no dangling mass: ranks sum to 1, so rank·n sums
    // to n (up to the per-row round(6))
    assert(math.abs(rows.map(_._2).sum - n) < 1e-3 * n)
  }

  test("pageRank matches a driver-side recompute of the same fixed iteration") {
    val got = Graph.pageRank(tables).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val om = tables.orders.select("o_orderkey", "o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val pairs = tables.lineitem.select("l_orderkey", "l_suppkey").collect()
      .flatMap(r => om.get(r.getLong(0)).map(ck => (s"s${r.getLong(1)}", s"c$ck")))
      .distinct
    val edges = pairs ++ pairs.map(p => (p._2, p._1))
    val deg = edges.groupBy(_._1).map { case (k, es) => k -> es.length }
    val nodes = deg.keys.toSeq.sorted
    val n = nodes.size
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 3) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => rank(src) / deg(src) }.sum
      }
      rank = nodes.map(v => v -> (0.15 / n + 0.85 * contrib.getOrElse(v, 0.0))).toMap
    }
    assert(got.keySet == nodes.toSet)
    nodes.foreach { v =>
      assert(math.abs(got(v) - rank(v) * n) < 1e-4, s"node $v")
    }
  }

  test("pageRank plans no cartesian product") {
    val (ranks, release) = Graph.pageRankPlan(tables, 3, 0.85)
    try {
      val plan = ranks.queryExecution.executedPlan.toString()
      assert(!plan.contains("CartesianProduct"), plan)
    } finally release()
  }

  test("pageRank edge table is never re-exchanged across rounds") {
    // the round-8 verdict's scale defect: a localCheckpoint'd edge leaf
    // reports unknown partitioning, so each of the `iters` joins re-shuffled
    // the corpus-sized edge side. The fix caches a src-repartitioned edge
    // table; this spec asserts NO Exchange sits directly over the edge-cache
    // scan anywhere in the composed multi-round plan (the dst-keyed partial
    // aggregate above the scan is allowed — it exchanges partial aggregates,
    // not edges).
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // force the LARGE-graph layout (the 100 TB path): the cost-based
    // switch would otherwise pick the lazy-scan shape at fixture scale
    val (ranks, release) = withArms("distributed")(Graph.pageRankPlan(tables, 3, 0.85))
    try {
      def throughNarrow(p: SparkPlan): SparkPlan = p match {
        case w: WholeStageCodegenExec => throughNarrow(w.child)
        case i: InputAdapter => throughNarrow(i.child)
        case c: ColumnarToRowExec => throughNarrow(c.child)
        case pr: ProjectExec => throughNarrow(pr.child)
        case f: FilterExec => throughNarrow(f.child)
        case other => other
      }
      val plan = ranks.queryExecution.executedPlan
      val scans = plan.collect { case s: InMemoryTableScanExec => s }
      assert(scans.size >= 3, s"expected an edge-cache scan per round:\n$plan")
      val edgeReShuffles = plan.collect {
        case e: ShuffleExchangeExec
            if throughNarrow(e.child).isInstanceOf[InMemoryTableScanExec] => e
      }
      assert(edgeReShuffles.isEmpty,
        s"edge cache re-exchanged ${edgeReShuffles.size}x:\n$plan")
    } finally {
      release()
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("pageRank small-graph mode: no persisted layout, same result as the cached path") {
    // the cost-based switch (r17): below the plan-stats gate the edge
    // table must stay a lazy scan — no InMemoryTableScan anywhere — and
    // the scores must match the forced large-graph layout, both run by
    // the distributed loop (the events pin which path each side took)
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val ((ranks, release), smallArms) = armDecisions(Graph.pageRankPlan(tables, 3, 0.85))
    assertArm(smallArms, "small", "graph.tradeEdgesLayout")
    val small = try {
      val scans = ranks.queryExecution.executedPlan.collect {
        case s: InMemoryTableScanExec => s
      }
      assert(scans.isEmpty, "small-graph mode still built the edge cache")
      ranks.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    } finally release()
    val (large, largeArms) = armDecisions(withArms("distributed") {
      Graph.pageRank(tables).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    })
    assertArm(largeArms, "distributed", "graph.pageRank", "graph.tradeEdgesLayout")
    // tolerance, not bit-equality: the two physical plans sum doubles in
    // different orders, so a rank landing on a 1e-6 rounding half-
    // boundary can flip the last rounded digit between layouts
    assert(small.keySet == large.keySet,
      "small- and large-graph layouts disagree on the node set")
    small.foreach { case (k, v) =>
      assert(math.abs(v - large(k)) <= 1e-6,
        s"small- and large-graph layouts disagree at $k: $v vs ${large(k)}")
    }
  }

  test("pageRank / kCore / labelPropagation: driver arms match the distributed loops") {
    // local pair lists sit under the driver-arm budget → first calls run
    // on the driver; forcing the distributed arms runs the unchanged loops
    val pairs = local(Graph.tradePairs(tables))
    val edges = local(Graph.coPurchaseEdges(tables))
    val ((prD, kcD, lpD), arms) = armDecisions((
      Graph.pageRank(tables, prebuiltPairs = pairs).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap,
      Graph.kCore(tables, k = 2, prebuiltPairs = pairs).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet,
      Graph.labelPropagation(tables, prebuiltEdges = edges).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet))
    assertArm(arms, "driver", "graph.pageRank", "graph.kCore", "graph.labelPropagation")
    val (_, distArms) = armDecisions(withArms("distributed") {
      val prX = Graph.pageRank(tables, prebuiltPairs = pairs).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(prD.keySet == prX.keySet)
      // float tolerance as in the layout spec: different summation orders
      prD.foreach { case (k, v) => assert(math.abs(v - prX(k)) <= 1e-6,
        s"pageRank arms disagree at $k: $v vs ${prX(k)}") }
      // integer fixpoints: bit-equal, no tolerance
      val kcX = Graph.kCore(tables, k = 2, prebuiltPairs = pairs).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(kcD == kcX, "kCore arms diverge")
      val lpX = Graph.labelPropagation(tables, prebuiltEdges = edges).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(lpD == lpX, "labelPropagation arms diverge")
    })
    assertArm(distArms, "distributed", "graph.pageRank", "graph.kCore", "graph.labelPropagation")
  }

  test("hits: driver arm equals the distributed chain bit-for-bit") {
    // exact integer recurrence + the shared formatHits normalization —
    // no tolerance: the arms must produce identical rows
    val pairs = local(Graph.tradePairs(tables))
    val (viaDriver, arms) = armDecisions(
      Graph.hits(tables, prebuiltPairs = pairs).collect().map(_.toSeq).toSeq)
    assertArm(arms, "driver", "graph.hits")
    val viaDist = withArms("distributed")(
      Graph.hits(tables, prebuiltPairs = pairs).collect().map(_.toSeq).toSeq)
    assert(viaDriver == viaDist, "HITS arms diverge")
  }

  test("personalizedPageRank: driver arm and distributed loop agree") {
    // a local pair list sits under the driver-arm budget → first call
    // runs on the driver; forcing the distributed arm runs the unchanged loop
    val pairs = local(Graph.tradePairs(tables))
    val (viaDriver, arms) = armDecisions(
      Graph.personalizedPageRank(tables, prebuiltPairs = pairs).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap)
    assertArm(arms, "driver", "graph.ppr")
    withArms("distributed") {
      val viaDist = Graph.personalizedPageRank(tables, prebuiltPairs = pairs).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(viaDriver.keySet == viaDist.keySet,
        "driver and distributed PPR arms disagree on the reachable set")
      // same tolerance discipline as the pageRank layout spec above: the
      // arms sum each node's contributions in different orders, so a rank
      // on a 1e-6 rounding half-boundary may flip the last rounded digit
      viaDriver.foreach { case (k, v) =>
        assert(math.abs(v - viaDist(k)) <= 1e-6,
          s"PPR arms disagree at $k: $v vs ${viaDist(k)}")
      }
    }
  }

  test("hits matches a driver-side recompute and emits L2-normalized scores") {
    val got = Graph.hits(tables).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    // driver-side replay of the same fixed iteration
    val ordC = tables.orders.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = tables.lineitem.collect()
      .flatMap(r => ordC.get(r.getLong(0)).map(c => (r.getLong(2), c))).distinct
    var h = edges.map(_._1).distinct.map(_ -> 1.0).toMap
    var a = Map.empty[Long, Double]
    for (_ <- 1 to 2) {
      val a0 = edges.groupBy(_._2).map { case (d, es) => d -> es.map(e => h(e._1)).sum }
      val an = math.sqrt(a0.values.map(v => v * v).sum)
      a = a0.map { case (k, v) => k -> v / an }
      val h0 = edges.groupBy(_._1).map { case (sr, es) => sr -> es.map(e => a(e._2)).sum }
      val hn = math.sqrt(h0.values.map(v => v * v).sum)
      h = h0.map { case (k, v) => k -> v / hn }
    }
    val expect = h.map { case (k, v) => (s"s$k", "hub", v) } ++
      a.map { case (k, v) => (s"c$k", "authority", v) }
    val em = expect.map(e => (e._1, e._2) -> e._3).toMap
    assert(got.length == em.size)
    got.foreach { case (n, k, sc) =>
      assert(math.abs(sc - em((n, k))) < 1e-6, s"$n/$k: $sc vs ${em((n, k))}")
    }
    // L2 norms of both score families are 1 (the HITS normalization)
    def n2(kind: String) = got.filter(_._2 == kind).map(r => r._3 * r._3).sum
    assert(math.abs(n2("hub") - 1.0) < 1e-4, n2("hub").toString)
    assert(math.abs(n2("authority") - 1.0) < 1e-4, n2("authority").toString)
  }

  test("triangleCounts: hand fixture — a 4-clique order plus a triangle-free path") {
    import spark.implicits._
    // order 1 holds parts 1-4 (a 4-clique: each node in C(3,2)=3 triangles);
    // orders 2,3 chain 10-11-12 (a path: zero triangles)
    val li = Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 10L), (2L, 11L), (3L, 11L), (3L, 12L))
      .toDF("l_orderkey", "l_partkey")
    val got = Graph.triangleCounts(tables.withTable("lineitem", li))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), got.toString)
  }

  test("triangleCounts matches a brute-force adjacency recompute on the corpus") {
    val pairs = tables.lineitem.select("l_orderkey", "l_partkey").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = pairs.groupBy(_._1).values.flatMap { xs =>
      val ps = xs.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSet
    val adj = (edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) })
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val triCount = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    edges.foreach { case (a, b) =>
      (adj(a) & adj(b)).filter(c => c > b).foreach { c =>
        triCount(a) += 1; triCount(b) += 1; triCount(c) += 1
      }
    }
    val want = triCount.toSeq.sortBy { case (p, n) => (-n, p) }.take(20).toMap
    val got = Graph.triangleCounts(tables).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"engine ${got.toSeq.sortBy(_._1).take(5)} vs naive ${want.toSeq.sortBy(_._1).take(5)}")
    assert(got.nonEmpty && got.values.exists(_ > 0))
  }

  test("triangleCounts plans as hash joins — no cartesian anywhere") {
    val plan = planOf(Graph.triangleCounts(tables))
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop in plan:\n$plan")
  }

  /** Local reference peel: the textbook k-core by repeated removal. */
  private def refKCore(k: Int): Map[String, Long] = {
    val pairs = tables.lineitem.select("l_orderkey", "l_suppkey")
      .join(tables.orders.select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select("l_suppkey", "o_custkey").distinct().collect()
      .map(r => (r.getLong(0) * 2, r.getLong(1) * 2 + 1))
    val adj = scala.collection.mutable.Map[Long, scala.collection.mutable.Set[Long]]()
    pairs.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.Set()) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.Set()) += a
    }
    var changed = true
    while (changed) {
      val rem = adj.collect { case (n, v) if v.size < k => n }.toSeq
      changed = rem.nonEmpty
      rem.foreach { n => adj(n).foreach(m => adj(m) -= n); adj -= n }
    }
    adj.map { case (n, v) =>
      (if (n % 2 == 0) "s" else "c") + (n >> 1) -> v.size.toLong
    }.toMap
  }

  test("kCore equals the reference peel at several k (incl. the trivial and empty cores)") {
    // k=1: nothing peels (every node in the edge list has a neighbor);
    // k=8: one peel round on this fixture; k=15: peels to EMPTY — the
    // operator must converge to the empty core, not loop or throw
    Seq(1, 8, 15).foreach { k =>
      val got = Graph.kCore(tables, k = k).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == refKCore(k), s"k=$k: engine core != reference peel")
    }
  }

  test("kCore: maxRounds cap throws rather than returning a non-core") {
    intercept[IllegalStateException] {
      Graph.kCore(tables, k = 15, maxRounds = 0)
    }
  }

  test("labelPropagation equals a local synchronous 3-round replay; communities coalesce") {
    val pairs = tables.lineitem.select("l_orderkey", "l_partkey").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = pairs.groupBy(_._1).values.flatMap { xs =>
      val ps = xs.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSet
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var labels: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    (1 to 3).foreach { _ =>
      labels = adj.map { case (n, nbrs) =>
        val counts = nbrs.groupBy(labels).view.mapValues(_.size).toMap
        n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    val got = Graph.labelPropagation(tables).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == labels, "engine diverged from the synchronous reference replay")
    val nCommunities = got.values.toSet.size
    assert(nCommunities < got.size, "propagation never merged any labels")
  }

  test("personalizedPageRank matches a naive replay; mass stays concentrated near the seeds") {
    val pairs = tables.lineitem.select("l_orderkey", "l_suppkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val orders = tables.orders.select("o_orderkey", "o_custkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e = pairs.flatMap { case (ok, s) => orders.get(ok).map(c => (s * 2, c * 2 + 1)) }
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
    val deg = e.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val out: Map[Long, Seq[Long]] =
      e.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val seeds = pairs.map(_._2 * 2).distinct.sorted.take(3)
    var p: Map[Long, Double] = seeds.map(_ -> 1.0).toMap
    (1 to 3).foreach { _ =>
      val contr = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      p.foreach { case (n, r) =>
        out.getOrElse(n, Seq.empty).foreach { m =>
          contr(m) = contr(m) + r / deg(n)
        }
      }
      p = (contr.keySet ++ seeds).map { n =>
        n -> (0.85 * contr(n) + (if (seeds.contains(n)) 0.15 else 0.0))
      }.toMap
    }
    def label(n: Long) = (if (n % 2 == 0) "s" else "c") + (n >> 1)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = p.map { case (n, r) => label(n) -> r6(r) }
    val got = Graph.personalizedPageRank(tables).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (n, r) =>
      assert(math.abs(r - want(n)) < 2e-6, s"$n: engine $r vs naive ${want(n)}")
    }
    // locality: the walk restarts at the seeds, so the top-mass node is a seed
    val top = got.maxBy(_._2)._1
    assert(seeds.map(label).contains(top),
      s"top PPR mass at non-seed $top — teleport concentration lost")
  }

  test("adamicAdar matches a naive recompute; hubs weigh less than rare common neighbors") {
    val pairs = tables.lineitem.select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = pairs.groupBy(_._1).values.flatMap { xs =>
      val ps = xs.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSet
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val qs = adj.keys.toSeq.sorted.take(10)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = qs.flatMap { q =>
      val cands = adj(q).flatMap(adj).filter(c => c != q && !adj(q)(c))
      cands.toSeq.map { c =>
        val common = adj(q).intersect(adj(c))
        (q, c, common.size.toLong,
          r6(common.toSeq.map(z => 1.0 / math.log(adj(z).size)).sum))
      }.sortBy { case (_, c, _, s) => (-s, c) }.take(5)
    }.map(x => (x._1, x._2) -> ((x._3, x._4))).toMap
    val got = Graph.adamicAdar(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == want.keySet,
      s"pair sets differ: extra=${got.keySet -- want.keySet} missing=${want.keySet -- got.keySet}")
    got.foreach { case (k, (cn, aa)) =>
      assert(cn == want(k)._1 && math.abs(aa - want(k)._2) < 2e-6,
        s"$k: engine ($cn, $aa) vs naive ${want(k)}")
    }
    // the weighting is non-vacuous: AA is not simply proportional to the
    // common-neighbor count across the returned pairs (equal-count pairs
    // with different scores, or differing score-per-neighbor ratios —
    // either means the 1/ln(deg) hub discount actually discriminates)
    val flat = got.toSeq.map { case ((_, _), (cn, aa)) => (cn, aa) }
    assert(flat.combinations(2).exists { case Seq((cnA, aaA), (cnB, aaB)) =>
      math.abs(aaA * cnB - aaB * cnA) > 1e-9
    }, "AA is exactly proportional to common-neighbor count — weighting vacuous")
  }

  test("bfsHops matches a local BFS on the support-2 backbone; levels spread") {
    val edges = Graph.coPurchaseEdgesWithSupport(tables, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val seed = adj.keys.min
    var level = Map(seed -> 0)
    var frontier = Set(seed)
    var hop = 0
    while (frontier.nonEmpty && hop < 12) {
      hop += 1
      val next = frontier.flatMap(adj(_)) -- level.keySet
      level ++= next.map(_ -> hop)
      frontier = next
    }
    val wantLevels = level.groupBy(_._2).map { case (h, m) =>
      (h, m.size.toLong, m.keys.min, m.keys.max)
    }.toSeq
    val unreached = adj.keySet -- level.keySet
    val want = (if (unreached.nonEmpty)
        wantLevels :+ ((-1, unreached.size.toLong, unreached.min, unreached.max))
      else wantLevels).sortBy(_._1)
    val got = Graph.bfsHops(tables).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want, s"engine $got vs local $want")
    // non-vacuity: the support-2 backbone must have real depth (≥3 hop
    // levels) — on the support-1 near-clique this would be ~2
    assert(got.count(_._1 >= 0) >= 3, s"degenerate hop spread: $got")
  }

  test("clusteringCoeffTop matches a naive neighbor-pair adjacency recompute") {
    val edges = Graph.coPurchaseEdges(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edgeSet = edges.toSet
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val top = adj.toSeq.map { case (n, nb) => (n, nb.size) }
      .sortBy { case (n, d) => (-d, n) }.take(20)
    val want = top.map { case (n, d) =>
      val nbs = adj(n).toSeq.sorted
      val closed = nbs.combinations(2).count { case Seq(a, b) =>
        edgeSet.contains((a, b)) || edgeSet.contains((b, a))
      }
      (n, d.toLong, closed.toLong,
        BigDecimal(closed.toDouble * 2.0 / (d.toDouble * (d.toDouble - 1.0)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(_._1)
    val got = Graph.clusteringCoeffTop(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == want, s"engine $got vs local $want")
    // hubs on an order-induced-clique graph must close SOME wedges, and
    // cc must discriminate between hubs (not all equal)
    assert(got.forall(_._3 > 0) && got.map(_._4).distinct.length > 1)
  }

  test("modularity matches a local recompute; null on random baskets, high on planted cliques") {
    def localQ(edges: Array[(Long, Long)], labels: Map[Long, Long]): Double = {
      val m = edges.length.toDouble
      val within = edges.filter { case (a, b) => labels(a) == labels(b) }
        .groupBy { case (a, _) => labels(a) }.view.mapValues(_.length.toLong)
        .toMap
      val degSum = (edges.map(_._1) ++ edges.map(_._2))
        .groupBy(labels).view.mapValues(_.length.toLong).toMap
      degSum.map { case (c, dc) =>
        within.getOrElse(c, 0L).toDouble / m -
          (dc.toDouble / (2.0 * m)) * (dc.toDouble / (2.0 * m))
      }.sum
    }
    val backbone = Graph.coPurchaseEdgesWithSupport(tables, 2).localCheckpoint()
    val edges = backbone.collect().map(r => (r.getLong(0), r.getLong(1)))
    val labels = Graph.labelPropagation(tables, prebuiltEdges = Some(backbone))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val q = localQ(edges, labels)
    val row = Graph.modularity(tables).collect().head
    assert(row.getLong(0) == edges.length.toLong)
    assert(row.getLong(1) == labels.values.toSet.size.toLong)
    assert(math.abs(row.getDouble(2) - q) < 1e-5,
      s"engine ${row.getDouble(2)} vs local $q")
    // random baskets have NO community structure — near-zero Q is the
    // CORRECT audit result here (bounds: Q ∈ [-0.5, 1])
    assert(row.getDouble(2) >= -0.5 && row.getDouble(2) < 0.05)
    assert(row.getLong(1) > 1, "partition degenerated to one community")
    // ...and the metric must DISCRIMINATE: two planted 6-cliques joined
    // by a single bridge edge score high through the same code path
    import spark.implicits._
    val cliq = (for {
      base <- Seq(0L, 10L); a <- 0L to 5L; b <- 0L to 5L if a < b
    } yield (base + a, base + b)) :+ ((5L, 10L))
    val planted = Graph.modularity(tables,
      prebuiltEdges = Some(cliq.toDF("pa", "pb"))).collect().head
    assert(planted.getLong(1) == 2L, "label prop should find both cliques")
    assert(planted.getDouble(2) > 0.4,
      s"planted cliques scored ${planted.getDouble(2)} — metric not discriminating")
  }
}
