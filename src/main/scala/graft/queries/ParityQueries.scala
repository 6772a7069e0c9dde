package graft.queries

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{IdempotentSink, Tables, TimeFeatures, Watermark}
import graft.operators.IncrementalWindow

/** Parity queries: every operator family of the reference
  * (SURVEY.md §2) realized over the harness testdata, each with an
  * equivalent DuckDB oracle.
  *
  * Conventions shared with the oracles:
  *  - every output is deterministically ordered by its key columns;
  *  - aggregates/window results over doubles are `round(_, 6)` on BOTH
  *    sides so last-ulp accumulation-order differences between engines
  *    can't flip the hash;
  *  - integer-valued double sums (e.g. `l_quantity`) are exact and left
  *    unrounded;
  *  - day-of-week uses DuckDB's 0=Sunday convention (TimeFeatures).
  */
object ParityQueries {
  type Q = (SparkSession, String) => DataFrame

  /** S4 scan + P4-style range predicate + column pruning.
    * Catalyst pushes both the filter and the 4-column projection into
    * the parquet scan (PushedFilters + ReadSchema — see PlanSpec).
    */
  private val scanFilter: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit(Timestamp.valueOf("1997-01-01 00:00:00"))
        && col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_shipdate"))
      .orderBy("l_orderkey", "l_linenumber")

  /** P1 rename projection + P2 arithmetic derived columns
    * (silver_transform.py:88-101 analog). Per-row IEEE arithmetic in
    * identical order on both engines — bit-exact, no rounding needed.
    */
  private val projectArith: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").as("gross_price"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net_price"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
          .as("charged_price"))
      .orderBy("l_orderkey", "l_linenumber")

  /** P3 guarded ratios with the reference's asymmetric defaults
    * (gold_aggr.py:73-78 → ELSE 0; gold_aggr.py:180-184 → ELSE 1).
    */
  private val ratioGuard: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_extendedprice") > 0, col("l_quantity") / col("l_extendedprice"))
          .otherwise(lit(0.0)).as("qty_price_ratio"),
        when(col("l_discount") > 0, col("l_tax") / col("l_discount"))
          .otherwise(lit(1.0)).as("tax_discount_ratio"))
      .orderBy("l_orderkey", "l_linenumber")

  /** F1-F7 + P5 + P7: the silver dim_time derivation
    * (silver_transform.py:61-82) over `events.ts`.
    */
  private val dimTime: Q = (s, dir) =>
    TimeFeatures.dimTime(Tables.events(s, dir), "ts").orderBy("time_id")

  /** J1 star join (gold_aggr.py:96-97 analog): fact ⋈ two dims.
    * customer/orders are small relative to lineitem; Catalyst
    * broadcast-joins them (verified in PlanSpec), so the fact table
    * never shuffles. `sum(l_quantity)` is integer-valued → exact.
    */
  private val starJoin: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment", "o_orderpriority")
      .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy("c_mktsegment", "o_orderpriority")

  /** J2/S7 anti-join: the ON-CONFLICT-DO-NOTHING key filter
    * (silver_transform.py:105) as a first-class operator: customers with
    * no pending ('P') orders — non-empty at every scale factor.
    */
  private val antiJoin: Q = (s, dir) =>
    IdempotentSink.newRows(
      Tables.customer(s, dir),
      Tables.orders(s, dir).filter(col("o_orderstatus") === "P")
        .withColumnRenamed("o_custkey", "c_custkey"),
      Seq("c_custkey"))
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")

  /** W1-W18: trailing 5-ROW moving average + sample stddev over one
    * shared frame (gold_aggr.py:104-177). Row frame, not range frame;
    * stddev == stddev_samp (NULL on the first row) — both match DuckDB.
    * Tie-broken by event_id so the frame contents are deterministic.
    */
  private val movingAvg: Q = (s, dir) => {
    val w = Window.orderBy("ts", "event_id").rowsBetween(-4, 0)
    Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("value"))
      .withColumn("avg_value", round(avg(col("value")).over(w), 6))
      .withColumn("stddev_value", round(stddev(col("value")).over(w), 6))
      .orderBy("ts", "event_id")
  }

  /** A1: ungrouped MAX + COALESCE watermark probe
    * (silver_transform.py:54-58).
    */
  private val watermarkProbe: Q = (s, dir) =>
    Tables.events(s, dir)
      .agg(coalesce(max(col("ts")), lit(Timestamp.valueOf("1970-01-01 00:00:00")))
        .as("watermark"))

  /** A2: ungrouped COUNT/MIN/MAX summary (silver_transform.py:109-118). */
  private val summaryStats: Q = (s, dir) =>
    Tables.events(s, dir)
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("ts")).as("min_ts"),
        max(col("ts")).as("max_ts"))

  /** The gold incremental pattern (gold_aggr.py:98,219): warm the
    * trailing frame with rows before the watermark, compute, trim to
    * rows past the watermark. Result must equal full-recompute-then-
    * filter (the oracle; equivalence also property-tested).
    */
  private val incrementalWindow: Q = (s, dir) =>
    IncrementalWindow.trailingAvgPastWatermark(
      Tables.events(s, dir), Timestamp.valueOf("2024-01-15 00:00:00"))

  /** Set op: EXCEPT (distinct semantics), union'd surface in unionOp. */
  private val exceptOp: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey"))
      .except(o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey")))
      .orderBy("custkey")
  }

  /** Set op: UNION (distinct semantics). */
  private val unionOp: Q = (s, dir) =>
    Tables.orders(s, dir).select(col("o_custkey").as("custkey"))
      .union(Tables.customer(s, dir).filter(col("c_acctbal") < 0)
        .select(col("c_custkey").as("custkey")))
      .distinct()
      .orderBy("custkey")

  /** Set op: INTERSECT (distinct semantics) — customers with both open
    * and finished orders. Completes the distinct set-op family with
    * q11/q12.
    */
  private val intersectOp: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey"))
      .intersect(o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey")))
      .orderBy("custkey")
  }

  /** Set op: UNION ALL (bag semantics — Spark's `union`). */
  private val unionAllOp: Q = (s, dir) =>
    Tables.orders(s, dir).filter(col("o_orderstatus") === "O")
      .select(col("o_custkey").as("custkey"))
      .union(Tables.customer(s, dir).filter(col("c_acctbal") < 0)
        .select(col("c_custkey").as("custkey")))
      .orderBy("custkey")

  /** Set op: EXCEPT ALL (bag semantics — multiplicity-aware removal). */
  private val exceptAllOp: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey"))
      .exceptAll(o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey")))
      .orderBy("custkey")
  }

  /** Global sort + LIMIT → TakeOrderedAndProject (no full sort at scale:
    * per-partition top-k then merge at the driver).
    */
  private val topK: Q = (s, dir) =>
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)

  /** ROLLUP grouping sets — beyond the reference's flat GROUP BY-less
    * aggregates; exercises Expand + hash aggregate. NULL ordering pinned
    * NULLS FIRST on both sides (engines default differently).
    */
  private val rollupAgg: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** S8/O1/F9: the ordered flat export projection with the reference's
    * cursor string format (bronze_ingest.py:25-30 strftime).
    */
  private val orderedExport: Q = (s, dir) =>
    Tables.events(s, dir)
      .select(
        col("event_id"), col("ts"),
        Watermark.cursorString(col("ts")).as("cursor_str"),
        col("value"),
        hour(col("ts")).as("hour"),
        TimeFeatures.dayOfWeek0Sun(col("ts")).as("day_of_week"),
        TimeFeatures.isWeekend(col("ts")).as("is_weekend"),
        TimeFeatures.season(col("ts")).as("season"))
      .orderBy("ts", "event_id")

  /** The gold composite in one query (gold_aggr.py:66-221 shape on
    * events): dim join + guarded ratio + same-frame window aggregates +
    * watermark trim. The full reference pipeline's analytical heart as
    * a single plan.
    */
  private val goldComposite: Q = (s, dir) => {
    val events = Tables.events(s, dir)
    val dim = TimeFeatures.dimTime(events, "ts")
    val w = Window.orderBy("time_id", "event_id").rowsBetween(-4, 0)
    events.select(col("event_id"), col("ts").as("time_id"), col("value"))
      .join(broadcast(dim), Seq("time_id"))
      .withColumn("value_ratio",
        when(col("value") > 0, col("value") / (col("value") + 1)).otherwise(lit(0.0)))
      .withColumn("avg_value", round(avg(col("value")).over(w), 6))
      .withColumn("avg_ratio", round(avg(col("value_ratio")).over(w), 6))
      .withColumn("value_volatility", round(stddev(col("value")).over(w), 6))
      .filter(col("time_id") > lit(Timestamp.valueOf("2024-01-10 00:00:00")))
      .select(col("event_id"), col("time_id"), col("avg_value"), col("avg_ratio"),
        col("value_volatility"), col("day_of_week"), col("hour"),
        col("is_weekend"), col("season"))
      .orderBy("time_id", "event_id")
  }

  /** The SQL entry point (spark.sql over a registered view) — TPC-H
    * Q1-shaped pricing summary; proves the engine's surface includes
    * ANSI SQL, not just the DataFrame API.
    */
  private val sqlPricingSummary: Q = (s, dir) => {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem_v
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** q262: the TPC-H Q5-shape regional revenue rollup — the deep
    * multi-join breadth check: lineitem⋈orders carries the mass (one
    * shuffled join), supplier/customer/nation/region ride broadcast
    * hash joins with the local-supplier predicate
    * (c_nationkey = s_nationkey) folded into the customer join.
    * Revenue quantizes l_extendedprice·(1−l_discount) to exact e4
    * longs at birth (the q148 rule — a raw double SUM would be
    * accumulation-order-dependent); ONE division at the end.
    */
  private val regionalRevenueQ: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"),
      col("l_suppkey"),
      floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * lit(10000.0) + lit(0.5)).cast("long").as("rev_e4"))
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit(Timestamp.valueOf("1996-01-01 00:00:00"))
        && col("o_orderdate") < lit(Timestamp.valueOf("1997-01-01 00:00:00")))
      .select(col("o_orderkey"), col("o_custkey"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey")
          && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_regionkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)
        .select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_items"), sum(col("rev_e4")).as("_rev"))
      .select(col("r_name"), col("n_name"), col("n_items"),
        round(col("_rev").cast("double") / lit(10000.0), 6).as("revenue"))
      .orderBy("r_name", "n_name")
  }

  /** q270: TPC-H Q8-shape market share — per order year, one
    * region's supplier-nation share of e4-quantized revenue via
    * conditional aggregation (CASE inside SUM over the q262 join
    * chain); the share is one exact-integer division. Revenue is
    * reported in MILLIONS (rev_e4 / 1e10): the per-year total is
    * ~2.9e9 currency units at sf0.1, within 1.5x of the round(_,6)
    * cross-engine exactness cliff (~4.3e9, the q242 lesson) — the
    * rounded statistic must stay ≲1e9, so scale the unit, not the
    * precision.
    */
  private val marketShareQ: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"),
      col("l_suppkey"),
      floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * lit(10000.0) + lit(0.5)).cast("long").as("rev_e4"))
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("o_year"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("rev_e4")).as("_tot"),
        sum(when(col("n_name") === "NATION_0", col("rev_e4"))
          .otherwise(lit(0L))).as("_n0"))
      .select(col("o_year"), col("n_items"),
        round(col("_tot").cast("double") / lit(1.0e10), 6)
          .as("revenue_m"),
        round(col("_n0").cast("double") / col("_tot").cast("double"), 6)
          .as("n0_share"))
      .orderBy("o_year")
  }

  /** q271: TPC-H Q17-shape correlated-aggregate filter — lineitems
    * below 20% of their part's mean quantity. The threshold compare
    * is cross-multiplied exact integers (5·qty·cnt < Σqty — no float
    * mean in the decision), the revenue sum e4-quantized.
    */
  private val smallQtyRevenueQ: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir).select(col("l_partkey"),
      round(col("l_quantity")).cast("long").as("qty"),
      floor(col("l_extendedprice") * lit(10000.0) + lit(0.5))
        .cast("long").as("price_e4"))
    val perPart = li.groupBy("l_partkey")
      .agg(count(lit(1)).as("cnt"), sum(col("qty")).as("sumqty"))
    li.join(perPart, Seq("l_partkey"))
      .filter(col("qty") * col("cnt") * lit(5L) < col("sumqty"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("price_e4")).as("_rev"))
      .select(col("n_items"),
        round(col("_rev").cast("double") / lit(70000.0), 6)
          .as("avg_yearly"))
  }

  /** q283: TPC-H Q2-shape — correlated scalar MIN subquery carrying
    * its OWN join chain (the subquery re-joins supplier→nation and
    * correlates on BOTH the outer part key and the outer region key),
    * the decorrelation path q271's single-key correlated aggregate
    * (Q17-shape) doesn't exercise; Catalyst rewrites it to an
    * aggregate + join (RewriteCorrelatedScalarSubquery) — PlanSpec
    * pins no-cartesian and the dim broadcasts. The equality compares
    * the STORED price double (no arithmetic), so it is bit-exact
    * cross-engine; DISTINCT collapses tied lineitems of the same
    * (part, supplier) at the min price.
    */
  private val minCostSupplierQ: Q = (s, dir) => {
    Tables.lineitem(s, dir).createOrReplaceTempView("li_q283")
    Tables.part(s, dir).createOrReplaceTempView("part_q283")
    Tables.supplier(s, dir).createOrReplaceTempView("supp_q283")
    Tables.nation(s, dir).createOrReplaceTempView("nat_q283")
    Tables.region(s, dir).createOrReplaceTempView("reg_q283")
    s.sql(
      """SELECT DISTINCT p.p_partkey, p.p_name, sp.s_name, n.n_name,
        |  l.l_extendedprice AS min_price
        |FROM li_q283 l
        |JOIN part_q283 p ON p.p_partkey = l.l_partkey
        |JOIN supp_q283 sp ON sp.s_suppkey = l.l_suppkey
        |JOIN nat_q283 n ON n.n_nationkey = sp.s_nationkey
        |JOIN reg_q283 r ON r.r_regionkey = n.n_regionkey
        |WHERE r.r_name = 'EUROPE'
        |  AND l.l_extendedprice = (
        |    SELECT min(l2.l_extendedprice)
        |    FROM li_q283 l2
        |    JOIN supp_q283 s2 ON s2.s_suppkey = l2.l_suppkey
        |    JOIN nat_q283 n2 ON n2.n_nationkey = s2.s_nationkey
        |    WHERE l2.l_partkey = p.p_partkey
        |      AND n2.n_regionkey = r.r_regionkey)
        |ORDER BY p.p_partkey, sp.s_name""".stripMargin)
  }

  /** q284: TPC-H Q21-shape — the multi-EXISTS / NOT-EXISTS
    * decorrelation pattern: suppliers who were the ONLY one with a
    * returned item in a finished multi-supplier order (l_returnflag =
    * 'R' stands in for Q21's receipt>commit lateness — the test
    * lineitem has no receipt/commit dates, FIXTURES.md). Both
    * existential subqueries correlate on l_orderkey with an
    * inequality on l_suppkey; Catalyst plans them as left-semi /
    * left-anti joins — never a cartesian (QueriesSmokeSpec).
    */
  private val lonelyFailureQ: Q = (s, dir) => {
    Tables.lineitem(s, dir).createOrReplaceTempView("li_q284")
    Tables.orders(s, dir).createOrReplaceTempView("ord_q284")
    Tables.supplier(s, dir).createOrReplaceTempView("supp_q284")
    Tables.nation(s, dir).createOrReplaceTempView("nat_q284")
    s.sql(
      """SELECT sp.s_name, n.n_name, count(*) AS numwait
        |FROM supp_q284 sp
        |JOIN nat_q284 n ON n.n_nationkey = sp.s_nationkey
        |JOIN li_q284 l1 ON l1.l_suppkey = sp.s_suppkey
        |JOIN ord_q284 o ON o.o_orderkey = l1.l_orderkey
        |WHERE l1.l_returnflag = 'R'
        |  AND o.o_orderstatus = 'F'
        |  AND EXISTS (
        |    SELECT 1 FROM li_q284 l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM li_q284 l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |GROUP BY sp.s_name, n.n_name
        |ORDER BY numwait DESC, sp.s_name""".stripMargin)
  }

  /** q287: TPC-H Q13-shape — customer order-count DISTRIBUTION: a
    * LEFT OUTER join whose non-equi predicate lives INSIDE the join
    * condition (customers keep their row when every order is filtered
    * away — a WHERE would wrongly drop them), then a second aggregate
    * over the first's counts. o_orderpriority <> '1-URGENT' stands in
    * for Q13's o_comment NOT LIKE (the test orders carry no comment,
    * FIXTURES.md). Exercises outer-join condition pushdown + the
    * two-level aggregation; the big side shuffles once on o_custkey.
    */
  private val custDistributionQ: Q = (s, dir) => {
    Tables.customer(s, dir).createOrReplaceTempView("cust_q287")
    Tables.orders(s, dir).createOrReplaceTempView("ord_q287")
    s.sql(
      """SELECT c_count, count(*) AS custdist
        |FROM (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM cust_q287 c
        |  LEFT OUTER JOIN ord_q287 o
        |    ON o.o_custkey = c.c_custkey
        |   AND o.o_orderpriority <> '1-URGENT'
        |  GROUP BY c.c_custkey) t
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)
  }

  /** q288: TPC-H Q22-shape — two uncorrelated scalar subqueries (the
    * positive-balance count and sum) plus a correlated NOT EXISTS
    * anti-join: dormant high-balance customers (no order since
    * 1999-01-01) in a nationkey-derived "country code" bucket, above
    * the positive MEAN balance. The mean comparison is EXACT integer
    * arithmetic — `cents · n > total_cents` instead of a double
    * `avg()` whose summation order differs across engines and could
    * flip boundary rows (the q148 order-invariance rule); balance
    * sums travel as cents BIGINTs for the same reason.
    */
  private val dormantRichQ: Q = (s, dir) => {
    Tables.customer(s, dir).createOrReplaceTempView("cust_q288")
    Tables.orders(s, dir).createOrReplaceTempView("ord_q288")
    s.sql(
      """WITH pos AS (
        |  SELECT c_custkey, c_nationkey % 5 AS cntrycode,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM cust_q288 WHERE c_nationkey % 5 IN (1, 2, 3))
        |SELECT cntrycode, count(*) AS numcust,
        |  sum(cents) AS totacctbal_cents
        |FROM pos
        |WHERE cents * (SELECT count(*) FROM pos p2 WHERE p2.cents > 0)
        |      > (SELECT sum(cents) FROM pos p3 WHERE p3.cents > 0)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM ord_q288 o
        |    WHERE o.o_custkey = pos.c_custkey
        |      AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        |GROUP BY cntrycode
        |ORDER BY cntrycode""".stripMargin)
  }

  /** q299: TPC-H Q18-shape — the IN-subquery-over-grouped-HAVING
    * decorrelation form (large-volume orders): the inner aggregate
    * groups the whole lineitem table and the HAVING filters it, then
    * the outer query semi-joins orders against the surviving keys and
    * re-aggregates. Catalyst plans the IN as a left-semi join against
    * the aggregated subquery — never a per-row re-evaluation (PlanSpec
    * pins the semi join; QueriesSmokeSpec pins no-cartesian).
    * Quantities are integral doubles 1–50 (FIXTURES.md), so the
    * per-order sums are exact integers in any summation order — cast
    * to BIGINT per row, summed exactly, compared exactly against the
    * threshold (200 keeps 99 qualifying orders at sf0.001).
    * o_totalprice is the STORED double (no arithmetic — bit-exact
    * cross-engine); o_orderkey makes the DESC-price order total.
    */
  private val bigOrderCustomersQ: Q = (s, dir) => {
    Tables.customer(s, dir).createOrReplaceTempView("cust_q299")
    Tables.orders(s, dir).createOrReplaceTempView("ord_q299")
    Tables.lineitem(s, dir).createOrReplaceTempView("li_q299")
    s.sql(
      """SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_totalprice,
        |  CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM cust_q299 c
        |JOIN ord_q299 o ON o.o_custkey = c.c_custkey
        |JOIN li_q299 l ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderkey IN (
        |  SELECT l_orderkey FROM li_q299
        |  GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS BIGINT)) > 200)
        |GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_totalprice
        |ORDER BY o.o_totalprice DESC, o.o_orderkey""".stripMargin)
  }

  /** q300: TPC-H Q20-shape — the nested correlated IN/EXISTS chain
    * over two levels: the outer IN's subquery itself contains BOTH an
    * uncorrelated IN (the part-name filter) and a scalar aggregate
    * subquery correlated on TWO columns of the middle query
    * (partkey AND suppkey — Q20's availqty > ½·shipped predicate).
    * The test tables carry no partsupp, so the 1996 per-(supplier,
    * part) shipped total stands in for availqty and the predicate
    * reads "1996 accounted for more than half of this supplier's
    * lifetime shipments of a widget part" — same nesting, same
    * decorrelation surface (two-level rewrite into aggregated joins;
    * no cartesian). All quantity sums are exact BIGINTs; the ×2
    * comparison replaces Q20's 0.5 factor to stay in integers (the
    * q288 exact-comparison rule).
    */
  private val promisingSuppliersQ: Q = (s, dir) => {
    Tables.lineitem(s, dir).createOrReplaceTempView("li_q300")
    Tables.part(s, dir).createOrReplaceTempView("part_q300")
    Tables.supplier(s, dir).createOrReplaceTempView("supp_q300")
    Tables.nation(s, dir).createOrReplaceTempView("nat_q300")
    s.sql(
      """WITH ps AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |    SUM(CAST(l_quantity AS BIGINT)) AS qty96
        |  FROM li_q300 WHERE year(l_shipdate) = 1996 GROUP BY 1, 2)
        |SELECT s.s_suppkey, s.s_name, n.n_name
        |FROM supp_q300 s JOIN nat_q300 n ON n.n_nationkey = s.s_nationkey
        |WHERE n.n_regionkey IN (0, 1)
        |  AND s.s_suppkey IN (
        |    SELECT ps_suppkey FROM ps
        |    WHERE ps_partkey IN (
        |        SELECT p_partkey FROM part_q300 WHERE p_name LIKE '%widget%')
        |      AND ps.qty96 * 2 > (
        |        SELECT coalesce(SUM(CAST(l2.l_quantity AS BIGINT)), 0)
        |        FROM li_q300 l2
        |        WHERE l2.l_partkey = ps.ps_partkey
        |          AND l2.l_suppkey = ps.ps_suppkey))
        |ORDER BY s.s_suppkey""".stripMargin)
  }

  /** q303: TPC-H Q4-shape — the EXISTS-per-group order-priority
    * checking form: a date-quartered orders scan whose per-priority
    * counts keep only orders with at least one "late" lineitem
    * (l_returnflag = 'R' stands in for commit<receipt, the q284
    * convention — FIXTURES.md: no receipt/commit dates). Catalyst
    * plans the EXISTS as one left-semi join on l_orderkey; the date
    * range reaches the orders scan as pushed filters.
    */
  private val orderPriorityCheckQ: Q = (s, dir) => {
    Tables.orders(s, dir).createOrReplaceTempView("ord_q303")
    Tables.lineitem(s, dir).createOrReplaceTempView("li_q303")
    s.sql(
      """SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM ord_q303 o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (
        |    SELECT 1 FROM li_q303 l
        |    WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY o.o_orderpriority
        |ORDER BY o.o_orderpriority""".stripMargin)
  }

  /** q304: TPC-H Q11-shape — grouped HAVING against TWO uncorrelated
    * scalar subqueries over the SAME aggregate (important stock):
    * parts whose e4-quantized revenue exceeds 1.2× the per-part
    * average, compared as exact integers (value·n·5 > 6·total — no
    * double average whose summation order could flip boundary rows,
    * the q288 rule). The part count scales with SF, so the threshold
    * derives from count(*), never a fixed multiplier (the q288
    * smallest-SF lesson: 38/326/3339 survivors at the three factors).
    */
  private val importantPartsQ: Q = (s, dir) => {
    Tables.lineitem(s, dir).createOrReplaceTempView("li_q304")
    s.sql(
      """WITH pv AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(floor(l_extendedprice * (1e0 - l_discount)
        |      * 10000e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS value_e4
        |  FROM li_q304 GROUP BY l_partkey)
        |SELECT l_partkey, value_e4 FROM pv
        |WHERE value_e4 * (SELECT count(*) FROM pv) * 5
        |      > 6 * (SELECT SUM(value_e4) FROM pv)
        |ORDER BY value_e4 DESC, l_partkey""".stripMargin)
  }

  /** q305: TPC-H Q15-shape — an aggregate equated to the MAX of the
    * same aggregate (top supplier): quarterly e4 revenue per supplier,
    * keep the supplier(s) at the maximum. Exact integers make the
    * equality bit-stable cross-engine; ties (none in this data, but
    * legal) all surface, ordered by s_suppkey.
    */
  private val topSupplierQ: Q = (s, dir) => {
    Tables.lineitem(s, dir).createOrReplaceTempView("li_q305")
    Tables.supplier(s, dir).createOrReplaceTempView("supp_q305")
    s.sql(
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(floor(l_extendedprice * (1e0 - l_discount)
        |      * 10000e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS total_rev_e4
        |  FROM li_q305
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s.s_suppkey, s.s_name, r.total_rev_e4
        |FROM supp_q305 s JOIN rev r ON r.l_suppkey = s.s_suppkey
        |WHERE r.total_rev_e4 = (SELECT max(total_rev_e4) FROM rev)
        |ORDER BY s.s_suppkey""".stripMargin)
  }

  /** q306: TPC-H Q16-shape — NOT IN anti-join under a COUNT(DISTINCT)
    * rollup (parts/supplier relationship): distinct (part, supplier)
    * pairs from lineitem (the partsupp surrogate), suppliers from
    * nation 0 excluded via NOT IN (Spark plans the null-aware anti
    * join; s_suppkey is non-null so it degenerates to a plain anti),
    * then supplier counts per (brand, size) excluding 'small' types.
    */
  private val partSupplierCountQ: Q = (s, dir) => {
    Tables.lineitem(s, dir).createOrReplaceTempView("li_q306")
    Tables.part(s, dir).createOrReplaceTempView("part_q306")
    Tables.supplier(s, dir).createOrReplaceTempView("supp_q306")
    s.sql(
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM li_q306)
        |SELECT p.p_brand, p.p_size,
        |  CAST(count(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM ps JOIN part_q306 p ON p.p_partkey = ps.l_partkey
        |WHERE p.p_type NOT LIKE 'small%'
        |  AND ps.l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supp_q306 WHERE s_nationkey = 0)
        |GROUP BY p.p_brand, p.p_size
        |ORDER BY supplier_cnt DESC, p.p_brand, p.p_size""".stripMargin)
  }

  /** q308: TPC-H Q3-shape — the shipping-priority top-k: a 3-way
    * star join (segment-filtered customer → date-bounded orders →
    * ship-date-bounded lineitem), per-order e4-quantized revenue, and
    * a LIMIT 10 over the exact integer (never the divided double, so
    * boundary ties can't flip cross-engine). Catalyst broadcasts the
    * two filtered dims and plans TakeOrderedAndProject for the top-k.
    */
  private val shippingPriorityQ: Q = (s, dir) => {
    Tables.customer(s, dir).createOrReplaceTempView("cust_q308")
    Tables.orders(s, dir).createOrReplaceTempView("ord_q308")
    Tables.lineitem(s, dir).createOrReplaceTempView("li_q308")
    s.sql(
      """SELECT l.l_orderkey,
        |  CAST(SUM(CAST(floor(l.l_extendedprice * (1e0 - l.l_discount)
        |    * 10000e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS revenue_e4,
        |  o.o_orderdate, o.o_orderpriority
        |FROM cust_q308 c
        |JOIN ord_q308 o ON o.o_custkey = c.c_custkey
        |JOIN li_q308 l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |  AND l.l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        |ORDER BY revenue_e4 DESC, l.l_orderkey
        |LIMIT 10""".stripMargin)
  }

  /** q309: TPC-H Q6-shape — the forecast-revenue-change scan: a pure
    * filter-aggregate over lineitem (ship-year range, a discount band,
    * a quantity cap) with revenue = price×discount. The whole query is
    * one pushed-filter scan + partial/final aggregate — no join, no
    * shuffle beyond the 1-row combine; the planner surface under test
    * is that all three predicates reach the parquet scan.
    */
  private val forecastRevenueQ: Q = (s, dir) => {
    Tables.lineitem(s, dir).createOrReplaceTempView("li_q309")
    s.sql(
      """SELECT CAST(count(*) AS BIGINT) AS n_items,
        |  round(CAST(SUM(CAST(floor(l_extendedprice * l_discount
        |      * 10000e0 + 0.5e0) AS BIGINT)) AS DOUBLE) / 10000e0, 6)
        |    AS revenue
        |FROM li_q309
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.03e0 AND 0.07e0
        |  AND l_quantity < 24""".stripMargin)
  }

  /** q310: TPC-H Q7-shape — volume shipping between two nation
    * groups: the SAME dimension joined twice under different roles
    * (supplier nation n1, customer nation n2) with a disjunctive
    * cross-alias pair predicate, grouped by (supp, cust, year).
    * Region keys pick the pair sets so survivors exist at every SF
    * (the q288 smallest-SF rule); both nation aliases broadcast.
    */
  private val nationVolumeQ: Q = (s, dir) => {
    Tables.lineitem(s, dir).createOrReplaceTempView("li_q310")
    Tables.supplier(s, dir).createOrReplaceTempView("supp_q310")
    Tables.orders(s, dir).createOrReplaceTempView("ord_q310")
    Tables.customer(s, dir).createOrReplaceTempView("cust_q310")
    Tables.nation(s, dir).createOrReplaceTempView("nat_q310")
    s.sql(
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l.l_shipdate) AS l_year,
        |  CAST(SUM(CAST(floor(l.l_extendedprice * (1e0 - l.l_discount)
        |    * 10000e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS revenue_e4
        |FROM li_q310 l
        |JOIN supp_q310 s ON s.s_suppkey = l.l_suppkey
        |JOIN ord_q310 o ON o.o_orderkey = l.l_orderkey
        |JOIN cust_q310 c ON c.c_custkey = o.o_custkey
        |JOIN nat_q310 n1 ON n1.n_nationkey = s.s_nationkey
        |JOIN nat_q310 n2 ON n2.n_nationkey = c.c_nationkey
        |WHERE ((n1.n_regionkey = 0 AND n2.n_regionkey = 1)
        |    OR (n1.n_regionkey = 1 AND n2.n_regionkey = 0))
        |  AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)
  }

  /** q311: TPC-H Q9-shape — product-type profit by nation and year:
    * the 5-way join (lineitem → part/supplier/orders → nation) with a
    * substring part filter and a two-term per-row profit expression.
    * The testdata has no partsupp, so `0.1 × p_retailprice × quantity`
    * stands in for `ps_supplycost × quantity` (FIXTURES.md) — the
    * join topology and expression shape are Q9's. Profit can go
    * negative; `floor(x·1e4 + 0.5)` is the same half-up in both
    * engines for either sign.
    */
  private val productProfitQ: Q = (s, dir) => {
    Tables.lineitem(s, dir).createOrReplaceTempView("li_q311")
    Tables.part(s, dir).createOrReplaceTempView("part_q311")
    Tables.supplier(s, dir).createOrReplaceTempView("supp_q311")
    Tables.orders(s, dir).createOrReplaceTempView("ord_q311")
    Tables.nation(s, dir).createOrReplaceTempView("nat_q311")
    s.sql(
      """SELECT n.n_name AS nation,
        |  CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
        |  CAST(SUM(CAST(floor((l.l_extendedprice * (1e0 - l.l_discount)
        |    - 0.1e0 * p.p_retailprice * l.l_quantity)
        |    * 10000e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS profit_e4
        |FROM li_q311 l
        |JOIN part_q311 p ON p.p_partkey = l.l_partkey
        |JOIN supp_q311 s ON s.s_suppkey = l.l_suppkey
        |JOIN ord_q311 o ON o.o_orderkey = l.l_orderkey
        |JOIN nat_q311 n ON n.n_nationkey = s.s_nationkey
        |WHERE p.p_name LIKE '%red%'
        |GROUP BY n.n_name, year(o.o_orderdate)
        |ORDER BY nation, o_year DESC""".stripMargin)
  }

  /** q312: TPC-H Q10-shape — returned-item reporting: which customers
    * returned the most revenue in a window (returnflag = 'R' over one
    * order year), top 20 by the exact e4 integer with the custkey
    * tiebreak. Customer attributes ride through the GROUP BY exactly
    * as in Q10; nation broadcasts.
    */
  private val returnedItemsQ: Q = (s, dir) => {
    Tables.customer(s, dir).createOrReplaceTempView("cust_q312")
    Tables.orders(s, dir).createOrReplaceTempView("ord_q312")
    Tables.lineitem(s, dir).createOrReplaceTempView("li_q312")
    Tables.nation(s, dir).createOrReplaceTempView("nat_q312")
    s.sql(
      """SELECT c.c_custkey, c.c_name,
        |  CAST(SUM(CAST(floor(l.l_extendedprice * (1e0 - l.l_discount)
        |    * 10000e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS revenue_e4,
        |  c.c_acctbal, n.n_name
        |FROM cust_q312 c
        |JOIN ord_q312 o ON o.o_custkey = c.c_custkey
        |JOIN li_q312 l ON l.l_orderkey = o.o_orderkey
        |JOIN nat_q312 n ON n.n_nationkey = c.c_nationkey
        |WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l.l_returnflag = 'R'
        |GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        |ORDER BY revenue_e4 DESC, c.c_custkey
        |LIMIT 20""".stripMargin)
  }

  /** q313: TPC-H Q14-shape — promotion effect: the conditional-sum /
    * total-sum percentage over one ship year of lineitem ⋈ part
    * (p_type = 'PROMO' is the testdata's literal promo class). Both
    * sums accumulate as exact e4 integers; the division to a
    * percentage happens ONCE at the end (the q271 discipline), then
    * `round(_, 6)`.
    */
  private val promoShareQ: Q = (s, dir) => {
    Tables.lineitem(s, dir).createOrReplaceTempView("li_q313")
    Tables.part(s, dir).createOrReplaceTempView("part_q313")
    s.sql(
      """SELECT
        |  round(100e0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
        |      THEN CAST(floor(l.l_extendedprice * (1e0 - l.l_discount)
        |        * 10000e0 + 0.5e0) AS BIGINT)
        |      ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(CAST(floor(l.l_extendedprice * (1e0 - l.l_discount)
        |        * 10000e0 + 0.5e0) AS BIGINT)) AS DOUBLE), 6)
        |    AS promo_revenue_pct,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM li_q313 l JOIN part_q313 p ON p.p_partkey = l.l_partkey
        |WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'""".stripMargin)
  }

  /** q293: TPC-H Q19-shape — an OR of conjunctive clauses spanning
    * BOTH join sides (brand × size × quantity bands). The planner
    * surface under test is disjunctive predicate pushdown: Catalyst
    * extracts the common `l_quantity <= 36` implied bound and pushes
    * per-side partial filters under the join while keeping the exact
    * OR as the residual. Revenue is e4-quantized exact integer with
    * one final division (the q271 discipline).
    */
  private val disjunctiveRevenueQ: Q = (s, dir) => {
    Tables.lineitem(s, dir).createOrReplaceTempView("li_q293")
    Tables.part(s, dir).createOrReplaceTempView("part_q293")
    s.sql(
      """SELECT count(*) AS n_items,
        |  round(CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
        |      * 10000e0 + 0.5e0) AS BIGINT)) AS DOUBLE) / 10000e0, 6)
        |    AS revenue
        |FROM li_q293 l JOIN part_q293 p ON p.p_partkey = l.l_partkey
        |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
        |       AND l.l_quantity BETWEEN 1 AND 11)
        |   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
        |       AND l.l_quantity BETWEEN 10 AND 20)
        |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
        |       AND l.l_quantity BETWEEN 20 AND 36)""".stripMargin)
  }

  /** q294: explicit GROUPING SETS with `grouping()` indicator columns
    * — the general form behind q14's ROLLUP and q19's CUBE: three
    * hand-picked sets (status×priority, status, grand total), NULL
    * group keys disambiguated from real NULLs by the grouping flags.
    */
  private val groupingSetsQ: Q = (s, dir) => {
    Tables.orders(s, dir).createOrReplaceTempView("ord_q294")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
        |  CAST(grouping(o_orderpriority) AS INTEGER) AS g_prio,
        |  count(*) AS n,
        |  sum(CAST(floor(o_totalprice * 100e0 + 0.5e0) AS BIGINT))
        |    AS total_cents
        |FROM ord_q294
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), ())
        |ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""".stripMargin)
  }

  /** q295: UNPIVOT (wide → long) — the inverse of q43's PIVOT: the
    * per-status order counts-by-priority widen then melt back to
    * (status, priority, n) rows via `stack`. The oracle expresses the
    * same melt as a UNION ALL so it runs on any engine.
    */
  private val unpivotQ: Q = (s, dir) => {
    val wide = Tables.orders(s, dir)
      .groupBy("o_orderstatus")
      .pivot("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(count(lit(1)))
    wide.select(col("o_orderstatus"), expr(
      """stack(5,
        |  '1-URGENT', `1-URGENT`,
        |  '2-HIGH', `2-HIGH`,
        |  '3-MEDIUM', `3-MEDIUM`,
        |  '4-NOT SPECIFIED', `4-NOT SPECIFIED`,
        |  '5-LOW', `5-LOW`) AS (o_orderpriority, n)""".stripMargin))
      .select(col("o_orderstatus"), col("o_orderpriority"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  /** The scale form of q07: day-partitioned trailing window with
    * cross-bucket repair — verified against the SAME oracle as the
    * global window, so the 100 TB plan shape is itself hash-checked.
    */
  private val movingAvgScaled: Q = (s, dir) =>
    IncrementalWindow.partitionedTrailingStats(
      Tables.events(s, dir).select(col("event_id"), col("ts"), col("value")))

  /** Time-RANGE frame (the reference is rows-only, SURVEY §2.5): per
    * user, trailing-1-hour sum — ordered on epoch micros because Spark
    * range frames need a numeric ordering; DuckDB's INTERVAL frame is
    * the oracle. Inclusive bounds both engines.
    */
  private val rangeWindow: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600L * 1000000L, 0)
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("hour_sum", round(sum(col("value")).over(w), 6))
      .withColumn("hour_n", count(lit(1)).over(w))
      .select("user_id", "ts", "event_id", "hour_sum", "hour_n")
      .orderBy("user_id", "ts", "event_id")
  }

  /** CUBE grouping sets (rollup's sibling, q14). */
  private val cubeAgg: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Approximate distinct vs exact — the deterministic portable HLL
    * (`Sketches.hllDistinct`), so the whole sketch is hash-checkable
    * against a SQL oracle. The two key columns deliberately sit on
    * either side of the small-range threshold at the gate's scale:
    * parts exercises the linear-counting correction, orders the raw
    * HLL estimator. (`approx_count_distinct` stays the prod shortcut
    * when no cross-engine check is needed; its HLL++ registers are
    * engine-private.)
    */
  private val approxDistinct: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val parts = graft.operators.Sketches.hllDistinct(li, col("l_partkey"))
      .select(col("hll_estimate").as("hll_parts"))
    val orders = graft.operators.Sketches.hllDistinct(li, col("l_orderkey"))
      .select(col("hll_estimate").as("hll_orders"))
    li.agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_orderkey")).as("exact_orders"))
      .crossJoin(parts).crossJoin(orders)
  }

  /** Semi join (EXISTS) — the positive sibling of q06's anti join. */
  private val semiJoin: Q = (s, dir) =>
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "P")
        .withColumnRenamed("o_custkey", "c_custkey"), Seq("c_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")

  /** Scalar subquery in a predicate (orders above the average price). */
  private val scalarSubquery: Q = (s, dir) => {
    Tables.orders(s, dir).createOrReplaceTempView("orders_sq")
    s.sql(
      """SELECT o_orderkey, o_totalprice FROM orders_sq
        |WHERE o_totalprice > round(1.8 * (SELECT avg(o_totalprice) FROM orders_sq), 2)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** HAVING — post-aggregation filter (absent from the reference). */
  private val havingAgg: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
      .filter(col("n_items") > 620)
      .orderBy("l_suppkey")

  /** LEFT OUTER join with real null-producing rows (customers without
    * pending orders), null ordering pinned on both sides.
    */
  private val outerJoin: Q = (s, dir) =>
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "P"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)

  /** String function family: substr/upper/lower/concat/LIKE/regexp. */
  private val stringFuncs: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        upper(substring(col("text"), 1, 10)).as("head_upper"),
        concat(col("lang"), lit(":"), col("source")).as("lang_source"),
        col("text").like("%table%").as("mentions_table"),
        regexp_extract(col("text"), "^(\\w+)", 1).as("first_word"),
        length(col("text")).as("len"))
      .orderBy("doc_id")

  /** Math function family over numeric columns. */
  private val mathFuncs: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        round(sqrt(col("l_extendedprice")), 6).as("sqrt_price"),
        round(pow(col("l_discount"), 2), 6).as("disc_sq"),
        abs(col("l_quantity") - 25).as("qty_dev"),
        ceil(col("l_tax") * 100).as("tax_pct_ceil"),
        floor(col("l_extendedprice") / 1000).as("price_k"))
      .orderBy("l_orderkey", "l_linenumber")

  /** Date arithmetic family: add/diff/trunc/year/quarter. */
  private val dateFuncs: Q = (s, dir) =>
    Tables.orders(s, dir)
      .select(
        col("o_orderkey"),
        to_date(col("o_orderdate")).as("order_date"),
        date_add(to_date(col("o_orderdate")), 90).as("due_date"),
        datediff(lit(java.sql.Date.valueOf("2002-01-01")), to_date(col("o_orderdate")))
          .as("age_days"),
        year(col("o_orderdate")).as("order_year"),
        quarter(col("o_orderdate")).as("order_quarter"))
      .orderBy("o_orderkey")

  val all: Seq[Query] = Seq(
    // q299: Q18-shape; quantities are integral doubles so per-row
    // BIGINT casts make every sum exact (DuckDB's rounding cast and
    // Spark's ANSI truncating cast agree on integral values).
    Query("q299_big_order_customers", bigOrderCustomersQ,
      """SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_totalprice,
        |  CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM customer c
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS BIGINT)) > 200)
        |GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_totalprice
        |ORDER BY o.o_totalprice DESC, o.o_orderkey""".stripMargin),
    // q303: Q4-shape; returnflag-R stands in for commit<receipt.
    Query("q303_order_priority_check", orderPriorityCheckQ,
      """SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY o.o_orderpriority
        |ORDER BY o.o_orderpriority""".stripMargin),
    // q304: Q11-shape; exact-integer 1.2x-average comparison, pv
    // MATERIALIZED (referenced three times).
    Query("q304_important_parts", importantPartsQ,
      """WITH pv AS MATERIALIZED (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(floor(l_extendedprice * (1e0 - l_discount)
        |      * 10000e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS value_e4
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT l_partkey, value_e4 FROM pv
        |WHERE value_e4 * (SELECT count(*) FROM pv) * 5
        |      > 6 * (SELECT SUM(value_e4) FROM pv)
        |ORDER BY value_e4 DESC, l_partkey""".stripMargin),
    // q305: Q15-shape; rev MATERIALIZED (main scan + the MAX scalar).
    Query("q305_top_supplier", topSupplierQ,
      """WITH rev AS MATERIALIZED (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(floor(l_extendedprice * (1e0 - l_discount)
        |      * 10000e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS total_rev_e4
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s.s_suppkey, s.s_name, r.total_rev_e4
        |FROM supplier s JOIN rev r ON r.l_suppkey = s.s_suppkey
        |WHERE r.total_rev_e4 = (SELECT max(total_rev_e4) FROM rev)
        |ORDER BY s.s_suppkey""".stripMargin),
    // q306: Q16-shape; NOT IN over non-null keys.
    Query("q306_part_supplier_count", partSupplierCountQ,
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p.p_brand, p.p_size,
        |  CAST(count(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM ps JOIN part p ON p.p_partkey = ps.l_partkey
        |WHERE p.p_type NOT LIKE 'small%'
        |  AND ps.l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_nationkey = 0)
        |GROUP BY p.p_brand, p.p_size
        |ORDER BY supplier_cnt DESC, p.p_brand, p.p_size""".stripMargin),
    // q308: Q3-shape; top-10 ordered by the exact integer revenue.
    Query("q308_shipping_priority", shippingPriorityQ,
      """SELECT l.l_orderkey,
        |  CAST(SUM(CAST(floor(l.l_extendedprice * (1e0 - l.l_discount)
        |    * 10000e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS revenue_e4,
        |  o.o_orderdate, o.o_orderpriority
        |FROM customer c
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1999-01-01'
        |  AND l.l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        |ORDER BY revenue_e4 DESC, l.l_orderkey
        |LIMIT 10""".stripMargin),
    // q309: Q6-shape; one pushed-filter scan, e4-exact revenue.
    Query("q309_forecast_revenue", forecastRevenueQ,
      """SELECT CAST(count(*) AS BIGINT) AS n_items,
        |  round(CAST(SUM(CAST(floor(l_extendedprice * l_discount
        |      * 10000e0 + 0.5e0) AS BIGINT)) AS DOUBLE) / 10000e0, 6)
        |    AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.03e0 AND 0.07e0
        |  AND l_quantity < 24""".stripMargin),
    // q310: Q7-shape; nation joined twice, disjunctive pair predicate.
    // DuckDB year() yields BIGINT where Spark yields INT — but the
    // GROUP BY key here is computed identically; cast for the dtype.
    Query("q310_nation_volume", nationVolumeQ,
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
        |  CAST(SUM(CAST(floor(l.l_extendedprice * (1e0 - l.l_discount)
        |    * 10000e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS revenue_e4
        |FROM lineitem l
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        |JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        |WHERE ((n1.n_regionkey = 0 AND n2.n_regionkey = 1)
        |    OR (n1.n_regionkey = 1 AND n2.n_regionkey = 0))
        |  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l.l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin),
    // q311: Q9-shape; retailprice-surrogate supply cost, half-up
    // quantization identical for negative profits.
    Query("q311_product_profit", productProfitQ,
      """SELECT n.n_name AS nation,
        |  CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
        |  CAST(SUM(CAST(floor((l.l_extendedprice * (1e0 - l.l_discount)
        |    - 0.1e0 * p.p_retailprice * l.l_quantity)
        |    * 10000e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS profit_e4
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |WHERE p.p_name LIKE '%red%'
        |GROUP BY n.n_name, year(o.o_orderdate)
        |ORDER BY nation, o_year DESC""".stripMargin),
    // q312: Q10-shape; top-20 returned-revenue customers.
    Query("q312_returned_items", returnedItemsQ,
      """SELECT c.c_custkey, c.c_name,
        |  CAST(SUM(CAST(floor(l.l_extendedprice * (1e0 - l.l_discount)
        |    * 10000e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS revenue_e4,
        |  c.c_acctbal, n.n_name
        |FROM customer c
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN nation n ON n.n_nationkey = c.c_nationkey
        |WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l.l_returnflag = 'R'
        |GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        |ORDER BY revenue_e4 DESC, c.c_custkey
        |LIMIT 20""".stripMargin),
    // q313: Q14-shape; both sums exact e4 integers, ONE final division.
    Query("q313_promo_share", promoShareQ,
      """SELECT
        |  round(100e0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
        |      THEN CAST(floor(l.l_extendedprice * (1e0 - l.l_discount)
        |        * 10000e0 + 0.5e0) AS BIGINT)
        |      ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(CAST(floor(l.l_extendedprice * (1e0 - l.l_discount)
        |        * 10000e0 + 0.5e0) AS BIGINT)) AS DOUBLE), 6)
        |    AS promo_revenue_pct,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l.l_shipdate < TIMESTAMP '1998-01-01'""".stripMargin),
    // q300: Q20-shape; the ×2 integer comparison replaces the 0.5
    // factor, every quantity sum travels as an exact BIGINT.
    Query("q300_promising_suppliers", promisingSuppliersQ,
      """WITH ps AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |    SUM(CAST(l_quantity AS BIGINT)) AS qty96
        |  FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1, 2)
        |SELECT s.s_suppkey, s.s_name, n.n_name
        |FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
        |WHERE n.n_regionkey IN (0, 1)
        |  AND s.s_suppkey IN (
        |    SELECT ps_suppkey FROM ps
        |    WHERE ps_partkey IN (
        |        SELECT p_partkey FROM part WHERE p_name LIKE '%widget%')
        |      AND ps.qty96 * 2 > (
        |        SELECT coalesce(SUM(CAST(l2.l_quantity AS BIGINT)), 0)
        |        FROM lineitem l2
        |        WHERE l2.l_partkey = ps.ps_partkey
        |          AND l2.l_suppkey = ps.ps_suppkey))
        |ORDER BY s.s_suppkey""".stripMargin),
    // q262: revenue quantized to exact e4 longs at birth (floor(x+0.5)
    // mirrored), summed exactly, divided once.
    Query("q262_regional_revenue", regionalRevenueQ,
      """WITH li AS (SELECT l_orderkey, l_suppkey,
        |    CAST(floor(l_extendedprice * (1e0 - l_discount) * 10000e0
        |      + 0.5e0) AS BIGINT) AS rev_e4 FROM lineitem),
        |o AS (SELECT o_orderkey, o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01')
        |SELECT r.r_name, n.n_name, CAST(count(*) AS BIGINT) AS n_items,
        |  ROUND(CAST(SUM(li.rev_e4) AS DOUBLE) / 10000e0, 6) AS revenue
        |FROM li JOIN o ON o.o_orderkey = li.l_orderkey
        |JOIN supplier s ON s.s_suppkey = li.l_suppkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |  AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |JOIN region r ON r.r_regionkey = n.n_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // q270: e4-quantized revenue reported in MILLIONS (/1e10) to stay
    // under the round(_,6) exactness cliff; the share is one
    // exact-integer division per year.
    Query("q270_market_share", marketShareQ,
      """WITH li AS (SELECT l_orderkey, l_suppkey,
        |    CAST(floor(l_extendedprice * (1e0 - l_discount) * 10000e0
        |      + 0.5e0) AS BIGINT) AS rev_e4 FROM lineitem),
        |o AS (SELECT o_orderkey,
        |    CAST(year(o_orderdate) AS INTEGER) AS o_year FROM orders)
        |SELECT o.o_year, CAST(count(*) AS BIGINT) AS n_items,
        |  ROUND(CAST(SUM(li.rev_e4) AS DOUBLE) / 1e10, 6) AS revenue_m,
        |  ROUND(CAST(SUM(CASE WHEN n.n_name = 'NATION_0'
        |      THEN li.rev_e4 ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(li.rev_e4) AS DOUBLE), 6) AS n0_share
        |FROM li JOIN o ON o.o_orderkey = li.l_orderkey
        |JOIN supplier s ON s.s_suppkey = li.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // q283/q284: the SAME ANSI statement runs in both engines (no
    // arithmetic beyond stored-value compares and integer counts) —
    // the oracle is the query text itself over the raw tables.
    Query("q283_min_cost_supplier", minCostSupplierQ,
      """SELECT DISTINCT p.p_partkey, p.p_name, sp.s_name, n.n_name,
        |  l.l_extendedprice AS min_price
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |JOIN supplier sp ON sp.s_suppkey = l.l_suppkey
        |JOIN nation n ON n.n_nationkey = sp.s_nationkey
        |JOIN region r ON r.r_regionkey = n.n_regionkey
        |WHERE r.r_name = 'EUROPE'
        |  AND l.l_extendedprice = (
        |    SELECT min(l2.l_extendedprice)
        |    FROM lineitem l2
        |    JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
        |    JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
        |    WHERE l2.l_partkey = p.p_partkey
        |      AND n2.n_regionkey = r.r_regionkey)
        |ORDER BY p.p_partkey, sp.s_name""".stripMargin),
    Query("q284_lonely_failures", lonelyFailureQ,
      """SELECT sp.s_name, n.n_name, count(*) AS numwait
        |FROM supplier sp
        |JOIN nation n ON n.n_nationkey = sp.s_nationkey
        |JOIN lineitem l1 ON l1.l_suppkey = sp.s_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |WHERE l1.l_returnflag = 'R'
        |  AND o.o_orderstatus = 'F'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |GROUP BY sp.s_name, n.n_name
        |ORDER BY numwait DESC, sp.s_name""".stripMargin),
    // q287: the same ANSI statement (integer counts only); q288 the
    // same modulo DuckDB's HUGEINT sum needing a BIGINT cast.
    Query("q287_cust_distribution", custDistributionQ,
      """SELECT c_count, count(*) AS custdist
        |FROM (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c
        |  LEFT OUTER JOIN orders o
        |    ON o.o_custkey = c.c_custkey
        |   AND o.o_orderpriority <> '1-URGENT'
        |  GROUP BY c.c_custkey) t
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),
    Query("q288_dormant_rich", dormantRichQ,
      """WITH pos AS (
        |  SELECT c_custkey, c_nationkey % 5 AS cntrycode,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer WHERE c_nationkey % 5 IN (1, 2, 3))
        |SELECT cntrycode, count(*) AS numcust,
        |  CAST(sum(cents) AS BIGINT) AS totacctbal_cents
        |FROM pos
        |WHERE cents * (SELECT count(*) FROM pos p2 WHERE p2.cents > 0)
        |      > (SELECT CAST(sum(cents) AS BIGINT) FROM pos p3 WHERE p3.cents > 0)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders o
        |    WHERE o.o_custkey = pos.c_custkey
        |      AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        |GROUP BY cntrycode
        |ORDER BY cntrycode""".stripMargin),
    // q293: identical statement modulo DuckDB's HUGEINT sum cast;
    // revenue e4-quantized exact integers, one final division.
    Query("q293_disjunctive_revenue", disjunctiveRevenueQ,
      """SELECT count(*) AS n_items,
        |  round(CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
        |      * 10000e0 + 0.5e0) AS BIGINT)) AS DOUBLE) / 10000e0, 6)
        |    AS revenue
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
        |       AND l.l_quantity BETWEEN 1 AND 11)
        |   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
        |       AND l.l_quantity BETWEEN 10 AND 20)
        |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
        |       AND l.l_quantity BETWEEN 20 AND 36)""".stripMargin),
    // q294: DuckDB runs the same GROUPING SETS; grouping() flags
    // disambiguate grouped-out NULLs, sums CAST from HUGEINT.
    Query("q294_grouping_sets", groupingSetsQ,
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
        |  CAST(grouping(o_orderpriority) AS INTEGER) AS g_prio,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100e0 + 0.5e0) AS BIGINT))
        |    AS BIGINT) AS total_cents
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), ())
        |ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""".stripMargin),
    // q295: the melt replayed engine-portably as a dense status ×
    // priority grid left-joined to the counts (stack's NULL -> 0).
    Query("q295_unpivot", unpivotQ,
      """WITH c AS (SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |st AS (SELECT DISTINCT o_orderstatus FROM orders),
        |pr AS (SELECT unnest(['1-URGENT','2-HIGH','3-MEDIUM',
        |  '4-NOT SPECIFIED','5-LOW']) AS o_orderpriority)
        |SELECT st.o_orderstatus, pr.o_orderpriority,
        |  coalesce(c.n, 0) AS n
        |FROM st CROSS JOIN pr
        |LEFT JOIN c ON c.o_orderstatus = st.o_orderstatus
        |           AND c.o_orderpriority = pr.o_orderpriority
        |ORDER BY 1, 2""".stripMargin),
    // q271: threshold compare on cross-multiplied exact integers
    // (5·qty·cnt < Σqty), revenue e4-quantized, one division.
    Query("q271_small_qty_revenue", smallQtyRevenueQ,
      """WITH li AS (SELECT l_partkey,
        |    CAST(round(l_quantity, 0) AS BIGINT) AS qty,
        |    CAST(floor(l_extendedprice * 10000e0 + 0.5e0) AS BIGINT)
        |      AS price_e4 FROM lineitem),
        |pp AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(SUM(qty) AS BIGINT) AS sumqty FROM li GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_items,
        |  ROUND(CAST(SUM(li.price_e4) AS DOUBLE) / 70000e0, 6)
        |    AS avg_yearly
        |FROM li JOIN pp ON pp.l_partkey = li.l_partkey
        |WHERE li.qty * pp.cnt * 5 < pp.sumqty""".stripMargin),
    // q47: the same deterministic HLL as Sketches.hllDistinct — md5-derived
    // 60-bit hash, low 12 bits route to 4096 registers, rank from the exact
    // bit length of the remainder, register sum as an exact integer
    // Σ 2^(49-rho), constants in e-notation (DuckDB would otherwise parse
    // 0.7213 as DECIMAL and diverge), small-range linear-counting branch.
    Query("q47_approx_distinct", approxDistinct,
      """WITH hp AS (SELECT CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |            FROM lineitem WHERE l_partkey IS NOT NULL),
        |rp AS (SELECT h % 4096 AS bucket,
        |         max(CASE WHEN h // 4096 = 0 THEN 49
        |             ELSE 49 - length(bin(h // 4096)) END) AS rho
        |       FROM hp GROUP BY 1),
        |zp AS (SELECT count(*) AS occ,
        |         CAST(coalesce(sum(1::BIGINT << (49 - rho)), 0) AS BIGINT)
        |           + (4096 - count(*)) * (1::BIGINT << 49) AS z_int
        |       FROM rp),
        |ep AS (SELECT CASE WHEN (0.7213e0 / (1e0 + 1.079e0 / 4096e0) * 4096e0 * 4096e0)
        |                  * 562949953421312e0 / CAST(z_int AS DOUBLE)
        |                  <= 2.5e0 * 4096e0 AND (4096 - occ) > 0
        |              THEN 4096e0 * ln(4096e0 / (4096 - occ))
        |              ELSE (0.7213e0 / (1e0 + 1.079e0 / 4096e0) * 4096e0 * 4096e0)
        |                  * 562949953421312e0 / CAST(z_int AS DOUBLE) END AS e
        |       FROM zp),
        |ho AS (SELECT CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |            FROM lineitem WHERE l_orderkey IS NOT NULL),
        |ro AS (SELECT h % 4096 AS bucket,
        |         max(CASE WHEN h // 4096 = 0 THEN 49
        |             ELSE 49 - length(bin(h // 4096)) END) AS rho
        |       FROM ho GROUP BY 1),
        |zo AS (SELECT count(*) AS occ,
        |         CAST(coalesce(sum(1::BIGINT << (49 - rho)), 0) AS BIGINT)
        |           + (4096 - count(*)) * (1::BIGINT << 49) AS z_int
        |       FROM ro),
        |eo AS (SELECT CASE WHEN (0.7213e0 / (1e0 + 1.079e0 / 4096e0) * 4096e0 * 4096e0)
        |                  * 562949953421312e0 / CAST(z_int AS DOUBLE)
        |                  <= 2.5e0 * 4096e0 AND (4096 - occ) > 0
        |              THEN 4096e0 * ln(4096e0 / (4096 - occ))
        |              ELSE (0.7213e0 / (1e0 + 1.079e0 / 4096e0) * 4096e0 * 4096e0)
        |                  * 562949953421312e0 / CAST(z_int AS DOUBLE) END AS e
        |       FROM zo)
        |SELECT count(DISTINCT l_partkey) AS exact_parts,
        |  count(DISTINCT l_orderkey) AS exact_orders,
        |  (SELECT ROUND(e, 6) FROM ep) AS hll_parts,
        |  (SELECT ROUND(e, 6) FROM eo) AS hll_orders
        |FROM lineitem""".stripMargin),
    Query("q53_outer_join", outerJoin,
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer LEFT JOIN
        |  (SELECT * FROM orders WHERE o_orderstatus = 'P') o
        |  ON c_custkey = o_custkey
        |ORDER BY c_custkey, o_orderkey NULLS FIRST""".stripMargin),
    Query("q54_string_funcs", stringFuncs,
      """SELECT doc_id,
        |  upper(substr(text, 1, 10)) AS head_upper,
        |  concat(lang, ':', source) AS lang_source,
        |  text LIKE '%table%' AS mentions_table,
        |  regexp_extract(text, '^(\w+)', 1) AS first_word,
        |  CAST(length(text) AS INTEGER) AS len
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("q55_math_funcs", mathFuncs,
      """SELECT l_orderkey, l_linenumber,
        |  ROUND(sqrt(l_extendedprice), 6) AS sqrt_price,
        |  ROUND(pow(l_discount, 2), 6) AS disc_sq,
        |  abs(l_quantity - 25) AS qty_dev,
        |  CAST(ceil(l_tax * 100) AS BIGINT) AS tax_pct_ceil,
        |  CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_k
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Query("q56_date_funcs", dateFuncs,
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) AS order_date,
        |  CAST(o_orderdate AS DATE) + 90 AS due_date,
        |  CAST(DATE '2002-01-01' - CAST(o_orderdate AS DATE) AS INTEGER) AS age_days,
        |  CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year,
        |  CAST(EXTRACT(QUARTER FROM o_orderdate) AS INTEGER) AS order_quarter
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    Query("q48_semi_join", semiJoin,
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin),
    Query("q49_scalar_subquery", scalarSubquery,
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > round(1.8 * (SELECT avg(o_totalprice) FROM orders), 2)
        |ORDER BY o_orderkey""".stripMargin),
    Query("q50_having", havingAgg,
      """SELECT l_suppkey, count(*) AS n_items, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY l_suppkey
        |HAVING count(*) > 620 ORDER BY l_suppkey""".stripMargin),
    Query("q18_range_window", rangeWindow,
      """SELECT user_id, ts, event_id,
        |  ROUND(SUM(value) OVER w, 6) AS hour_sum,
        |  COUNT(*) OVER w AS hour_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts, event_id""".stripMargin),
    Query("q19_cube", cubeAgg,
      """SELECT l_returnflag, l_linestatus,
        |  count(*) AS n_items, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
    Query("q45_moving_avg_scaled", movingAvgScaled,
      """SELECT event_id, ts, value,
        |  ROUND(AVG(value) OVER w, 6) AS avg_value,
        |  ROUND(STDDEV(value) OVER w, 6) AS stddev_value
        |FROM events
        |WINDOW w AS (ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |ORDER BY ts, event_id""".stripMargin),
    Query("q15_ordered_export", orderedExport,
      """SELECT event_id, ts, strftime(ts, '%Y-%m-%dT%H:%M') AS cursor_str, value,
        |  CAST(EXTRACT(HOUR FROM ts) AS INTEGER) AS hour,
        |  CAST(EXTRACT(DOW FROM ts) AS INTEGER) AS day_of_week,
        |  EXTRACT(DOW FROM ts) IN (0, 6) AS is_weekend,
        |  CAST(CASE WHEN EXTRACT(MONTH FROM ts) IN (12,1,2) THEN 0
        |       WHEN EXTRACT(MONTH FROM ts) IN (3,4,5) THEN 1
        |       WHEN EXTRACT(MONTH FROM ts) IN (6,7,8) THEN 2
        |       ELSE 3 END AS INTEGER) AS season
        |FROM events ORDER BY ts, event_id""".stripMargin),
    Query("q16_gold_composite", goldComposite,
      """WITH dim AS (
        |  SELECT DISTINCT ts AS time_id,
        |    CAST(EXTRACT(HOUR FROM ts) AS INTEGER) AS hour,
        |    CAST(EXTRACT(DOW FROM ts) AS INTEGER) AS day_of_week,
        |    EXTRACT(DOW FROM ts) IN (0, 6) AS is_weekend,
        |    CAST(CASE WHEN EXTRACT(MONTH FROM ts) IN (12,1,2) THEN 0
        |         WHEN EXTRACT(MONTH FROM ts) IN (3,4,5) THEN 1
        |         WHEN EXTRACT(MONTH FROM ts) IN (6,7,8) THEN 2
        |         ELSE 3 END AS INTEGER) AS season
        |  FROM events WHERE ts IS NOT NULL),
        |ts_feats AS (
        |  SELECT e.event_id, e.ts AS time_id, e.value,
        |    CASE WHEN e.value > 0 THEN e.value / (e.value + 1) ELSE 0 END AS value_ratio,
        |    d.day_of_week, d.hour, d.is_weekend, d.season
        |  FROM events e JOIN dim d ON e.ts = d.time_id),
        |aggregated AS (
        |  SELECT event_id, time_id,
        |    ROUND(AVG(value) OVER w, 6) AS avg_value,
        |    ROUND(AVG(value_ratio) OVER w, 6) AS avg_ratio,
        |    ROUND(STDDEV(value) OVER w, 6) AS value_volatility,
        |    day_of_week, hour, is_weekend, season
        |  FROM ts_feats
        |  WINDOW w AS (ORDER BY time_id, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
        |SELECT * FROM aggregated WHERE time_id > TIMESTAMP '2024-01-10'
        |ORDER BY time_id, event_id""".stripMargin),
    Query("q17_sql_pricing", sqlPricingSummary,
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Query("q01_scan_filter", scanFilter,
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Query("q02_project_arith", projectArith,
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice AS gross_price,
        |  l_extendedprice * (1 - l_discount) AS net_price,
        |  l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged_price
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Query("q03_ratio_guard", ratioGuard,
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_extendedprice > 0 THEN l_quantity / l_extendedprice ELSE 0 END
        |    AS qty_price_ratio,
        |  CASE WHEN l_discount > 0 THEN l_tax / l_discount ELSE 1 END
        |    AS tax_discount_ratio
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Query("q04_dim_time", dimTime,
      """SELECT DISTINCT ts AS time_id,
        |  CAST(ts AS DATE) AS date,
        |  CAST(EXTRACT(HOUR FROM ts) AS INTEGER) AS hour,
        |  CAST(EXTRACT(MINUTE FROM ts) AS INTEGER) AS minute,
        |  CAST(EXTRACT(DOW FROM ts) AS INTEGER) AS day_of_week,
        |  EXTRACT(DOW FROM ts) IN (0, 6) AS is_weekend,
        |  CAST(CASE WHEN EXTRACT(MONTH FROM ts) IN (12,1,2) THEN 0
        |       WHEN EXTRACT(MONTH FROM ts) IN (3,4,5) THEN 1
        |       WHEN EXTRACT(MONTH FROM ts) IN (6,7,8) THEN 2
        |       ELSE 3 END AS INTEGER) AS season
        |FROM events WHERE ts IS NOT NULL
        |ORDER BY time_id""".stripMargin),
    Query("q05_star_join", starJoin,
      """SELECT c_mktsegment, o_orderpriority,
        |  count(*) AS n_items, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment, o_orderpriority
        |ORDER BY c_mktsegment, o_orderpriority""".stripMargin),
    Query("q06_anti_join", antiJoin,
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin),
    Query("q07_moving_avg", movingAvg,
      """SELECT event_id, ts, value,
        |  ROUND(AVG(value) OVER w, 6) AS avg_value,
        |  ROUND(STDDEV(value) OVER w, 6) AS stddev_value
        |FROM events
        |WINDOW w AS (ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |ORDER BY ts, event_id""".stripMargin),
    Query("q08_watermark_probe", watermarkProbe,
      "SELECT COALESCE(MAX(ts), TIMESTAMP '1970-01-01') AS watermark FROM events"),
    Query("q09_summary_stats", summaryStats,
      """SELECT count(*) AS n_rows, count(DISTINCT user_id) AS n_users,
        |  MIN(ts) AS min_ts, MAX(ts) AS max_ts FROM events""".stripMargin),
    Query("q10_incremental_window", incrementalWindow,
      """SELECT event_id, ts, avg_value FROM (
        |  SELECT event_id, ts,
        |    ROUND(AVG(value) OVER (ORDER BY ts, event_id
        |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS avg_value
        |  FROM events)
        |WHERE ts > TIMESTAMP '2024-01-15'
        |ORDER BY ts, event_id""".stripMargin),
    Query("q11_except", exceptOp,
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY custkey""".stripMargin),
    Query("q12_union", unionOp,
      """SELECT o_custkey AS custkey FROM orders
        |UNION
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
        |ORDER BY custkey""".stripMargin),
    Query("q13_topk", topK,
      """SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),
    Query("q14_rollup", rollupAgg,
      """SELECT l_returnflag, l_linestatus,
        |  count(*) AS n_items, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
    Query("q39_intersect", intersectOp,
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        |INTERSECT
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY custkey""".stripMargin),
    Query("q60_union_all", unionAllOp,
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        |UNION ALL
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
        |ORDER BY custkey""".stripMargin),
    Query("q61_except_all", exceptAllOp,
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        |EXCEPT ALL
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY custkey""".stripMargin))

  val queries: Map[String, Q] = Query.builds(all)

  val oracleSql: Map[String, String] = Query.oracles(all)
}
