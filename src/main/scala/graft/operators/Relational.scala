package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** The reference's relational query surface (ref:public-surface, SURVEY.md §2
  * rows 1–14), re-expressed as declarative DataFrame plans so Catalyst gets
  * pushdown / pruning / join planning. Every operator here compiles to a plan
  * with: filters and projections pushed into the parquet scan, hash
  * aggregation with map-side partial aggregates, and broadcast joins for the
  * dimension side.
  *
  * Each method is deterministic (stable total order on a unique key) so the
  * driver's hash-compare against the DuckDB oracle is well-defined.
  */
object Relational {

  /** SELECT * FROM nation ORDER BY n_nationkey — full projection scan. */
  def selectAll(t: Tables): DataFrame =
    t.nation.orderBy("n_nationkey")

  /** Column projection — only the named columns reach the scan (ReadSchema). */
  def projection(t: Tables): DataFrame =
    t.customer
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy("c_custkey")

  /** DISTINCT over a two-column projection (hash aggregate, partial+final). */
  def distinctFlags(t: Tables): DataFrame =
    t.lineitem
      .select("l_returnflag", "l_linestatus")
      .distinct()
      .orderBy("l_returnflag", "l_linestatus")

  /** WHERE equality filter — pushed to the parquet scan as PushedFilters. */
  def filterEq(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber")

  /** WHERE range comparisons (>, <=, >=, <) — all pushed down. */
  def filterRange(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_quantity") > 40.0 && col("l_quantity") <= 48.0 &&
        col("l_discount") >= 0.02 && col("l_discount") < 0.09)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
      .orderBy("l_orderkey", "l_linenumber")

  /** WHERE with AND/OR combination (the reference supports one AND or OR;
    * we support arbitrary boolean trees). */
  def filterAndOr(t: Tables): DataFrame =
    t.lineitem
      .filter((col("l_quantity") < 5.0 && col("l_discount") >= 0.05) ||
        col("l_returnflag") === "A")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber")

  /** Global SUM aggregates (doubles rounded for oracle hash parity). */
  def aggSum(t: Tables): DataFrame =
    t.lineitem.agg(
      round(sum("l_quantity"), 2).as("sum_qty"),
      round(sum("l_extendedprice"), 2).as("sum_price"))

  /** Global AVG aggregates. */
  def aggAvg(t: Tables): DataFrame =
    t.lineitem.agg(
      round(avg("l_quantity"), 6).as("avg_qty"),
      round(avg("l_discount"), 6).as("avg_disc"))

  /** Global MIN / MAX (exact — no rounding needed). Timestamps are formatted
    * to strings so the oracle compare is dtype-stable. */
  def aggMinMax(t: Tables): DataFrame =
    t.lineitem.agg(
      min("l_extendedprice").as("min_price"),
      max("l_extendedprice").as("max_price"),
      date_format(min("l_shipdate"), "yyyy-MM-dd HH:mm:ss").as("first_ship"),
      date_format(max("l_shipdate"), "yyyy-MM-dd HH:mm:ss").as("last_ship"))

  /** COUNT(*) and COUNT(DISTINCT). */
  def aggCount(t: Tables): DataFrame =
    t.lineitem.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("l_partkey")).as("n_parts"))

  /** GROUP BY + multi-aggregate — TPC-H Q1 shape: scan + pushed filter +
    * partial/final hash agg + sort. This is also the flagship `entry` query. */
  def groupByAgg(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg("l_quantity"), 6).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** ORDER BY DESC/ASC with LIMIT (tie-broken on the unique key → stable). */
  def orderByLimit(t: Tables): DataFrame =
    t.orders
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)

  /** Two-table equality join (FROM lineitem, orders WHERE l_orderkey =
    * o_orderkey AND o_orderstatus = 'F'). Catalyst pushes the status filter
    * below the join. While the filtered `orders` side's plan-stats are under
    * `spark.sql.autoBroadcastJoinThreshold` (10 MB by default; orders is a
    * 0.28 MB file at sf0.01), it picks a broadcast hash join: `orders` is
    * broadcast, `lineitem` streams, and the plan has one BroadcastExchange
    * and no hash exchange. Above the threshold it is a sort-merge join with
    * a hash exchange on each side. */
  def joinTwo(t: Tables): DataFrame =
    t.lineitem
      .join(t.orders.filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_linenumber", "o_custkey", "o_orderstatus",
        "l_extendedprice", "o_totalprice")
      .orderBy("l_orderkey", "l_linenumber")

  /** Multi-table star join: fact (orders⋈customer) with broadcast dimension
    * joins (nation, region) — the shape that must hold at 1000 executors:
    * dims broadcast, only the fact side shuffles. */
  def joinMulti(t: Tables): DataFrame =
    t.customer
      .join(t.orders, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("revenue"))
      .orderBy("r_name", "n_name")

  /** Tumbling-window aggregation over the events table — the batch twin of
    * the Structured Streaming operator in [[graft.streaming.EventStreams]].
    * Window start is formatted to a string for dtype-stable oracle compare. */
  def eventsWindow(t: Tables): DataFrame =
    t.events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum("value"), 4).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("w_start", "event_type")

  /** LEFT OUTER join: every customer with their pending-order count (zero
    * when none match — the COALESCE-after-outer-join shape). */
  def outerJoin(t: Tables): DataFrame = {
    val pending = t.orders.filter(col("o_orderstatus") === "P")
      .groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
    t.customer
      .join(pending, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(col("c_custkey"), col("c_name"),
        coalesce(col("cnt"), lit(0L)).as("n_pending"))
      .orderBy("c_custkey")
  }

  /** FULL OUTER join: per-nation customer and supplier counts side by
    * side, keys surviving from EITHER side (a nation with customers but
    * no suppliers — or vice versa — still gets its row, zeros filled).
    * Both inputs pre-aggregate to nation grain before the join, so the
    * full-outer matches tiny tables, not facts. */
  def fullOuterCounts(t: Tables): DataFrame = {
    val cust = t.customer.groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_customers"))
    val supp = t.supplier.groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_suppliers"))
    cust.join(supp, Seq("nationkey"), "full_outer")
      .select(col("nationkey"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
      .orderBy("nationkey")
  }

  /** CASE expression: quantity banding. */
  def caseExpr(t: Tables): DataFrame =
    t.lineitem
      .select(col("l_orderkey"), col("l_linenumber"),
        when(col("l_quantity") < 10, "low")
          .when(col("l_quantity") < 35, "mid")
          .otherwise("high").as("qty_band"))
      .groupBy("qty_band")
      .agg(count(lit(1)).as("n"))
      .orderBy("qty_band")

  /** String functions: upper/substring/concat/length over part names. */
  def stringFuncs(t: Tables): DataFrame =
    t.part
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_uc"),
        substring(col("p_type"), 1, 3).as("type_prefix"),
        concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
        length(col("p_name")).cast("bigint").as("name_len"))
      .orderBy("p_partkey")

  /** Date part extraction + grouping: orders per year/month. */
  def dateParts(t: Tables): DataFrame =
    t.orders
      .groupBy(
        year(col("o_orderdate")).cast("bigint").as("o_year"),
        month(col("o_orderdate")).cast("bigint").as("o_month"))
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))
      .orderBy("o_year", "o_month")

  /** Semi-structured extraction: parse the JSON `props` column and
    * aggregate a typed field per event type. JSON path extraction is
    * codegen'd (`get_json_object`), so this stays a narrow projection
    * feeding a partial+final agg. */
  def eventsProps(t: Tables): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("bigint")
    t.events
      .select(col("event_type"), k.as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        round(avg("k"), 6).as("avg_k"),
        min("k").as("min_k"),
        max("k").as("max_k"))
      .orderBy("event_type")
  }

  /** Incremental view maintenance — the don't-rescan-history discipline:
    * an algebraic aggregate view (count/sum per group) is maintained under
    * an append batch by MERGING the batch's partial aggregate into the
    * stored view state, never re-reading the history. Here the lineitem
    * table splits into "history" and "today's batch" by orderkey residue;
    * the view updates as `old ⊕ delta` (one batch-sized aggregation + a
    * group-key outer merge), and the emitted result carries both the
    * merged totals and the delta columns so the oracle — which computes
    * the full aggregate plus the batch aggregate directly — proves the
    * merge path equals the rescan path. At 100 TB this is the difference
    * between aggregating a day and aggregating a decade. */
  def incrementalViewMerge(t: Tables): DataFrame = {
    val hist = t.lineitem.filter(col("l_orderkey") % 10 =!= 0)
    val batch = t.lineitem.filter(col("l_orderkey") % 10 === 0)
    def agg(df: DataFrame) = df.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(round(col("l_quantity") * 100, 0).cast("long")).as("qty_e2"))
    val view = agg(hist)
    val delta = agg(batch)
      .select(col("l_returnflag"), col("n").as("d_n"), col("qty_e2").as("d_qty_e2"))
    view.join(delta, Seq("l_returnflag"), "full_outer")
      .select(col("l_returnflag"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("d_n"), lit(0L))).as("n"),
        (coalesce(col("qty_e2"), lit(0L)) + coalesce(col("d_qty_e2"), lit(0L)))
          .as("qty_e2"),
        coalesce(col("d_n"), lit(0L)).as("delta_n"))
      .orderBy("l_returnflag")
  }

  /** Data-quality audit — the expectations pass every ingest runs first:
    * per column, row count, null count, and distinct count over the two
    * ingest-facing tables. ONE pass per table computes every column's
    * aggregates (count_distinct is the only shuffle, and it is per-column
    * hash-partitioned); the wide 1-row result unpivots to the
    * (table, column) report via `stack` — the audit never scans a table
    * twice, which is what matters when the table is 100 TB. */
  def dataQualityAudit(t: Tables): DataFrame = {
    def audit(name: String, df: DataFrame): DataFrame = {
      val cols = df.columns
      val agg1 = df.agg(
        count(lit(1)).as("_n"),
        cols.flatMap(c => Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"_null_$c"),
          countDistinct(col(c)).as(s"_dist_$c"))): _*)
      val stacks = cols.map(c =>
        s"'$c', _null_$c, _dist_$c").mkString(", ")
      agg1.select(lit(name).as("table_name"), col("_n").as("n_rows"),
        expr(s"stack(${cols.length}, $stacks) AS (column_name, n_nulls, n_distinct)"))
        .select("table_name", "column_name", "n_rows", "n_nulls", "n_distinct")
    }
    audit("documents", t.documents).unionByName(audit("events", t.events))
      .orderBy("table_name", "column_name")
  }

  /** MERGE / upsert (SCD type-1) expressed Spark-first — the CDC-apply
    * shape warehouses run nightly: a change batch of typed ops against a
    * base table, resolved in ONE full-outer join on the key plus a
    * projection: DELETE drops the base row, UPDATE overwrites the payload
    * column, INSERT materializes the change-side row, unmatched base rows
    * pass through; an audit column records what happened to each surviving
    * row. At scale both sides hash-partition on the merge key (bucketed
    * base tables co-locate it shuffle-free — the DedupIndex pattern); no
    * window, no driver state.
    *
    * The change batch is DERIVED deterministically from the base (key
    * residues → update/delete/insert) so the oracle replays it exactly;
    * delete wins over update on overlapping residues by op precedence. */
  def upsertMerge(t: Tables): DataFrame = {
    val base = t.customer
    val changes = base
      .filter(col("c_custkey") % 7 === 0 || col("c_custkey") % 13 === 0)
      .select(col("c_custkey").as("k"),
        when(col("c_custkey") % 13 === 0, lit("delete"))
          .otherwise(lit("update")).as("op"),
        round(col("c_acctbal") + 100.0, 2).as("new_bal"),
        col("c_nationkey").as("n_nk"), col("c_mktsegment").as("n_seg"))
      .union(base.filter(col("c_custkey") % 11 === 0)
        .select((col("c_custkey") + 1000000L).as("k"), lit("insert").as("op"),
          round(col("c_acctbal"), 2).as("new_bal"),
          col("c_nationkey").as("n_nk"), col("c_mktsegment").as("n_seg")))
    base.join(changes, col("c_custkey") === col("k"), "full_outer")
      .filter(coalesce(col("op"), lit("keep")) =!= "delete")
      .select(
        coalesce(col("c_custkey"), col("k")).as("custkey"),
        coalesce(col("n_nk"), col("c_nationkey")).as("nationkey"),
        when(col("op") === "update", col("new_bal"))
          .when(col("op") === "insert", col("new_bal"))
          .otherwise(round(col("c_acctbal"), 2)).as("acctbal"),
        coalesce(col("op"), lit("keep")).as("merge_op"))
      .orderBy("custkey")
  }

  /** Top users by activity — groupBy + ORDER BY count DESC + LIMIT. */
  def eventsTopUsers(t: Tables): DataFrame =
    t.events
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        round(sum("value"), 4).as("total_value"))
      .orderBy(col("n_events").desc, col("user_id").asc)
      .limit(50)
}
