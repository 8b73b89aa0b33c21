package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.Arms

/** DataFrame-only connected components via alternating large-star /
  * small-star (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14 — public algorithm, implemented from the paper).
  *
  * The component engine of [[Dedup.nearDupGroups]] (GraphX, in
  * maintenance mode upstream, is its test-scope reference): this
  * formulation needs nothing but joins + aggregations, so it runs on
  * any Spark and benefits from Catalyst/AQE (skew-join splitting on hot
  * hubs). Converges in O(log n) rounds — not O(diameter) like naive label
  * propagation — because each large-star round halves tall trees.
  *
  * Scale notes: every round is two hash-partitioned aggregations and a
  * join on node ids; lineage is truncated per round with localCheckpoint
  * (executor-local blocks — swap for reliable checkpointing on a cluster
  * with dynamic executors). The convergence test is an exact `except` in
  * both directions, which costs two anti-joins per round on the current
  * edge set.
  */
object ConnectedComponents {

  /** Star-contract the edge list to (node, component-min) pairs.
    *
    * @param edges two numeric columns (src, dst); direction and duplicates
    *              are irrelevant
    * @return (id, component) — one row per node that appears in `edges`,
    *         where component = the minimum node id of its component
    */
  def run(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val src = edges.columns(0)
    val dst = edges.columns(1)
    // materialize the CALLER'S edge plan exactly once: both `nodes` and the
    // contracted seed below branch from it, and upstream is often the most
    // expensive stage of the whole job (for the near-dup callers it's the
    // full LSH candidate join + similarity verify) — deriving the branches
    // from the raw plan would re-execute that pipeline per branch
    val ecp = edges
      .select(col(src).cast("long").as("src"), col(dst).cast("long").as("dst"))
      .localCheckpoint()
    // driver union-find arm (r19): up to [[Arms.CcDriverMaxEdges]] edges
    // (~200 MB of transient driver Rows — the same bounded-state license
    // as the senSlope/centroid collects), components are solved in one
    // bounded collect + one local relation instead of O(log n)
    // distributed rounds. The distributed loop costs ~8 scheduler stages
    // PLUS two driver actions PER ROUND, which on the near-dup edge sets
    // (thousands of rows at sf0.1) is pure stage floor — measured 2-3 s of
    // wall per caller against milliseconds of actual work. Past the cap
    // the alternating-star loop below is unchanged (the 100 TB arm).
    val collected = Arms.collectBounded("cc.driver", ecp, Arms.CcDriverMaxEdges)
    if (collected.isDefined) return runOnDriver(ecp, collected.get)
    // every node mentioned by ANY edge — including nodes whose only edges
    // are self-loops, which the contraction below never sees (they'd
    // otherwise be silently dropped from the output, breaking the
    // one-row-per-node contract)
    val nodes = ecp
      .select(explode(array(col("src"), col("dst"))).as("id"))
      .distinct()
    var e = ecp
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("dst2"),
        greatest(col("src"), col("dst")).as("src"))
      .select(col("src"), col("dst2").as("dst"))
      .distinct()
      .localCheckpoint()

    // convergence: a cheap (count, hash-sum) signature gates the EXACT
    // except-in-both-directions check, so the two anti-joins run only on
    // the (usually single) round where the signature stops moving — the
    // per-round job count is what dominates wall-clock on small edge sets
    def sig(df: DataFrame): (Long, Long) = {
      // bit_xor: order-independent and overflow-free (a SUM of 64-bit
      // hashes trips ANSI overflow); edges are distinct, so xor-cancel of
      // duplicates cannot occur
      val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(src, dst))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var prevSig = sig(e)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star: every node u connects its LARGER neighbors to
      // m(u) = min(Γ(u) ∪ {u}) — tall trees halve in height
      val und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = und.groupBy("src")
        .agg(min(col("dst")).as("_mn"))
        .select(col("src"), least(col("src"), col("_mn")).as("m"))
      val large = und.join(mins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()

      // small-star: edges now point big → small; each node connects ALL its
      // smaller neighbors (and itself) to the minimum of them
      val grp = large.groupBy("src").agg(min(col("dst")).as("m"))
      val small = large.join(grp, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(grp.select(col("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint()

      val s = sig(small)
      converged = s == prevSig &&
        small.except(e).isEmpty && e.except(small).isEmpty
      prevSig = s
      e = small
      iter += 1
    }

    // fixed point is a star forest: every member points at its root. Left-
    // joining from the full node set covers roots (dst-side only — no
    // mapping row) and self-loop-only nodes (no non-loop edges at all):
    // both become their own component.
    e.select(col("src").as("id"), col("dst").as("component"))
      .join(nodes, Seq("id"), "right")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
      .distinct()
  }

  /** Driver union-find arm: identical contract to the distributed loop
    * (one (id, component-min) row per node mentioned in `ecp`, self-loops
    * included), solved with path-halving union-find over the collected
    * edges. The alternating-star fixed point IS min-id labeling, so the two
    * arms are bit-equal (spec-pinned, including the GraphX differential).
    * `ecp` is already checkpointed, so the collect never re-runs the
    * caller's candidate/verify pipeline. */
  private def runOnDriver(ecp: DataFrame, rows: Array[Row]): DataFrame = {
    val spark = ecp.sparkSession
    val idx = new java.util.HashMap[Long, Integer](rows.length * 2)
    val ids = new scala.collection.mutable.ArrayBuffer[Long]()
    def nodeOf(x: Long): Int = {
      val got = idx.get(x)
      if (got != null) got.intValue()
      else { val i = ids.length; idx.put(x, Integer.valueOf(i)); ids += x; i }
    }
    val parent = new scala.collection.mutable.ArrayBuffer[Int]()
    def find(i0: Int): Int = {
      var i = i0
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    rows.foreach { r =>
      val a = nodeOf(r.getLong(0)); val b = nodeOf(r.getLong(1))
      while (parent.length < ids.length) parent += parent.length
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra) = rb
    }
    while (parent.length < ids.length) parent += parent.length
    val n = ids.length
    val minOf = Array.fill(n)(Long.MaxValue)
    var i = 0
    while (i < n) { val r = find(i); if (ids(i) < minOf(r)) minOf(r) = ids(i); i += 1 }
    val out = new Array[org.apache.spark.sql.Row](n)
    i = 0
    while (i < n) { out(i) = org.apache.spark.sql.Row(ids(i), minOf(find(i))); i += 1 }
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    spark.createDataFrame(
      java.util.Arrays.asList(out: _*),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("component", LongType, nullable = false))))
  }
}
