package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.etl.Features
import graft.ext.{Chunking, Components, Dedup, Pq, Similarity, TextAnalysis}
import graft.fs.{FeatureTableSpec, PointInTime, WriteMode}

/** Gate queries — the SQL analytics suite — pivots, correlated subqueries,
  * range joins, window frames, set ops, sketches, scalers,
  * TPC-H-shaped joins and aggregates.
  */
private[graft] trait PipelinesSqlSuite extends PipelinesBase {

  // pivot — wide per-status counts per priority (Expand + one agg
  // under the hood). Absent (priority, status) cells are 0, not NULL,
  // matching the oracle's sum(CASE) encoding.
  def pivotStatus(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("F", "O", "P"))
      .orderBy("o_orderpriority")

  // unpivot/melt — the inverse reshape: wide numeric columns to
  // (metric, value) rows; the standard feature-long-format step.
  def unpivotLineitem(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_tax")),
        "metric", "val")
      .orderBy("l_orderkey", "l_linenumber", "metric")

  // Correlated scalar subquery (TPC-H Q2/Q17 shape): each customer's
  // most expensive order(s). Catalyst decorrelates
  // (RewriteCorrelatedScalarSubquery) into an aggregate + join — the
  // subquery never executes per-row. max() keeps the predicate exact
  // in both engines (no avg division portability trap, §5.3).
  def correlatedMaxOrder(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice = (SELECT max(o2.o_totalprice)
        |                      FROM orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  // Range (interval) join: events landing inside the 60-second window
  // opened by each purchase event. The naive non-equi join is a
  // BroadcastNestedLoopJoin; RangeJoin buckets both sides on time so
  // the only shuffle is a bucket-id equi-join (the DuckDB oracle runs
  // the naive form — equality is the point). Output is bare id pairs:
  // fully portable, no timestamp columns to hash.
  def rangeJoinEvents(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("ts").as("p_start"),
        (col("ts") + expr("INTERVAL 60 SECONDS")).as("p_end"))
    val points = ev.select(col("event_id"), col("ts"))
    graft.operators.RangeJoin
      .intervalJoin(purchases, points, "p_start", "p_end", "ts", "1 minute")
      .filter(col("event_id") =!= col("purchase_id"))
      .select(col("purchase_id"), col("event_id"))
      .orderBy("purchase_id", "event_id")
  }

  // TPC-H Q20 shape (doubly nested): IN subquery whose HAVING holds a
  // correlated scalar subquery over a derived table. Exercises
  // multi-level decorrelation (RewriteCorrelatedScalarSubquery under a
  // RewritePredicateSubquery). Quantities are integral doubles, so the
  // threshold comparison is exact in both engines; output carries no
  // floats.
  def nestedCorrelated(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    // TPC-H-Q20-shaped semantics: suppliers whose per-part quantity
    // beats 2× the average per-supplier quantity for that part. The
    // naive doubly-nested correlated HAVING subquery decorrelates into
    // THREE lineitem scans (round-5 plan audit); this is the single-
    // scan form a production engine rewrites to — group once, then the
    // correlated "avg over suppliers of the same part" becomes a
    // window avg over the grouped CTE. The DuckDB oracle still runs
    // the nested-correlated formulation, so the gate cross-checks the
    // two formulations against each other. Decorrelation itself stays
    // pinned by q51.
    s.sql(
      """WITH g AS (
        |  SELECT l_suppkey, l_partkey, sum(l_quantity) AS q
        |  FROM lineitem GROUP BY l_suppkey, l_partkey)
        |SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM (
        |    SELECT l_suppkey, q, avg(q) OVER (PARTITION BY l_partkey) AS aq FROM g)
        |  WHERE q > 2 * aq)
        |ORDER BY s_suppkey""".stripMargin)
  }

  // RANGE-frame window: per-customer 30-day rolling revenue — the
  // interval frame (RANGE BETWEEN n PRECEDING) the row_number/rank
  // queries don't touch. Frame bounds run on epoch-µs longs in both
  // engines; the sum is exact DECIMAL cast to double at the end.
  def rollingRevenue(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("_us"))
      .rangeBetween(-2592000000000L, Window.currentRow) // 30 days in µs
    t(s, d, "orders")
      .withColumn("_us", unix_micros(col("o_orderdate").cast("timestamp")))
      .select(col("o_orderkey"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
          .cast("double").as("rolling_30d"))
      .orderBy("o_orderkey")
  }


  // TPC-H Q3 shape: 3-table join, date band on both sides, exact
  // decimal revenue, deterministic top-10 (revenue DESC + key).
  def shippingPriority(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  unix_micros(CAST(o_orderdate AS TIMESTAMP)) AS o_orderdate_us,
        |  o_orderpriority
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < DATE '1998-03-15' AND l_shipdate > DATE '1998-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)
  }

  // TPC-H Q8 shape: the widest join in the gate — 6 tables with nation
  // in two roles (customer region filter, supplier market share). The
  // share is a division of two exact-decimal sums cast to double, so
  // both engines derive identical doubles.
  def marketShare(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CASE WHEN n2.n_name = 'NATION_9'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |        * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |    / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS mkt_share
        |FROM customer, orders, lineitem, supplier, nation n1, nation n2, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey
        |  AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        |  AND s_nationkey = n2.n_nationkey AND r_name = 'ASIA'
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  // Data-quality expectations audit: five declarative checks compiled
  // into one scan (plus one anti-join for referential integrity). The
  // oracle recomputes each count with plain SQL.
  def expectationsAudit(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Expectations._
    val li = t(s, d, "lineitem")
    audit(li, Seq(
      NotNull("l_orderkey"),
      InRange("l_quantity", 1, 50),
      InSet("l_returnflag", Seq("A", "N", "R")),
      UniqueKey(Seq("l_orderkey", "l_linenumber")),
      Satisfies(col("l_discount") >= 0 && col("l_discount") <= 0.1, "discount_bounds"),
      RefIntegrity("l_orderkey", t(s, d, "orders"), "o_orderkey")))
      .orderBy("check")
  }

  // Quarantine split: events failing their expectations, with the
  // violated checks joined into a portable string. The clean/dirty
  // row sets and reasons are recomputed independently by the oracle.
  def quarantineEvents(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Expectations._
    val (_, bad) = enforce(t(s, d, "events"), Seq(
      NotNull("user_id"),
      InRange("value", 0, 400),
      InSet("event_type", Seq("click", "view", "purchase", "signup", "error"))))
    bad.select(col("event_id"),
      concat_ws(",", col("violations")).as("violations"))
      .orderBy("event_id")
  }


  // TPC-H Q18 shape (large-volume orders): the IN subquery with a
  // HAVING aggregate becomes a semi join against the grouped lineitem
  // — the group-by and BOTH joins share the l_orderkey partitioning.
  // Quantities sum as exact decimals on both engines.
  def bigVolumeOrders(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    val bigOrders = li.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("q"))
      .filter(col("q") > 300).select(col("l_orderkey").as("big_okey"))
    t(s, d, "orders")
      .join(bigOrders, col("o_orderkey") === col("big_okey"), "left_semi")
      .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("c_custkey"), col("o_orderkey"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2)))
        .cast("double").as("total_qty"))
      .orderBy(desc("total_qty"), asc("o_orderkey"))
      .limit(100)
  }

  // Window-function suite: the rank/offset/distribution family over
  // one per-customer frame — lag/lead (offsets), percent_rank and
  // cume_dist (exact integer-ratio doubles), ntile (integer). The
  // ORDER BY carries the key so ties cannot reorder.
  def windowSuite(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, d, "orders").select(
      col("o_orderkey"),
      lag(col("o_totalprice"), 1).over(w).as("prev_price"),
      lead(col("o_totalprice"), 1).over(w).as("next_price"),
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cume"),
      ntile(4).over(w).as("quartile"))
      .orderBy("o_orderkey")
  }


  // Per-group feature standardization (z-score) — the core feature-
  // scaling transform, computed from EXACT decimal window sums so the
  // derived doubles (mean, sample stddev, z) are bit-identical in both
  // engines (same trick as q10; the formula text mirrors the oracle's).
  def standardizeFeatures(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
    val dec = col("c_acctbal").cast(DecimalType(18, 2))
    t(s, d, "customer")
      .withColumn("_n", count(lit(1)).over(w))
      .withColumn("_sum", sum(dec).over(w).cast("double"))
      .withColumn("_sumsq", sum((dec * dec).cast(DecimalType(38, 4))).over(w).cast("double"))
      .select(col("c_custkey"), col("c_mktsegment"),
        ((col("c_acctbal") - col("_sum") / col("_n")) /
          sqrt((col("_sumsq") - col("_sum") * col("_sum") / col("_n"))
            / (col("_n") - 1))).as("acctbal_z"))
      .orderBy("c_custkey")
  }


  // LEFT SEMI join (TPC-H Q4 shape): orders with ANY qualifying
  // lineitem, counted by priority — the EXISTS subquery expressed as a
  // semi join so the probe side never duplicates (no distinct needed,
  // build side carries only the join key).
  def semiJoinPriority(s: SparkSession, d: String): DataFrame = {
    val big = t(s, d, "lineitem").filter(col("l_quantity") >= 45).select(col("l_orderkey"))
    t(s, d, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  // LEFT ANTI join (NOT EXISTS): customers who never placed an URGENT
  // order, per market segment (every customer has SOME order in the
  // synthetic data, so the anti side must be predicated to be
  // non-trivial).
  def antiJoinCustomers(s: SparkSession, d: String): DataFrame = {
    val urgent = t(s, d, "orders")
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    t(s, d, "customer")
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_custs"))
      .orderBy("c_mktsegment")
  }

  // TPC-H Q2 shape: suppliers offering a part at that part's minimum
  // single-line price. The oracle runs the NAIVE correlated-scalar-
  // aggregate form (`l_extendedprice = (SELECT min(...) WHERE
  // l2.l_partkey = l_partkey)`); this side runs the production
  // rewrite — aggregate once, join back on the part key. The min-agg
  // and the join share the l_partkey hash partitioning, so the
  // rewrite costs ONE extra shuffle of the 2-column agg output and
  // never recomputes lineitem. Price equality on doubles is exact
  // (min/=, no arithmetic); ties keep every minimum-price supplier,
  // exactly like Q2.
  def minCostSupplier(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    val minp = li.groupBy(col("l_partkey").as("m_partkey"))
      .agg(min(col("l_extendedprice")).as("minp"))
    li.join(minp, col("l_partkey") === col("m_partkey") &&
        col("l_extendedprice") === col("minp"))
      .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
      .join(broadcast(t(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("p_name"), col("s_suppkey"), col("s_name"))
      .distinct()
      .orderBy("p_partkey", "s_suppkey")
  }

  // TPC-H Q21 shape (the sole-blame pattern): suppliers whose 'R'
  // return lines sit on multi-supplier orders where NO other supplier
  // returned — EXISTS (semi) + NOT EXISTS (anti) self-joins on the
  // fact table, both compiled to hash joins on l_orderkey. Output is
  // counts of distinct orders — fully portable (no floats).
  def waitingSuppliers(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT s_name, CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
        |FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name""".stripMargin)
  }


  // TPC-H-Q9-shaped 3-table fact join over the two otherwise-unread
  // sources (part, supplier): broadcast dims, decimal-exact revenue.
  def partSupplierRevenue(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
      .join(broadcast(t(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_brand"), col("s_nationkey"))
      .agg(
        count(lit(1)).as("n_items"),
        sum((col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1) - col("l_discount").cast(DecimalType(18, 2)))))
          .cast("double").as("revenue"))
      .orderBy("p_brand", "s_nationkey")

  override def gates: Seq[Gate] = super.gates ++ Seq(

    // naive correlated-scalar-aggregate form; the Spark side runs the
    // agg-once + join-back rewrite (see minCostSupplier)
    Gate("q69_min_cost_supplier", Family.Sql, minCostSupplier, _ =>
      """SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name
        |FROM part, supplier, lineitem l
        |WHERE p_partkey = l.l_partkey AND s_suppkey = l.l_suppkey
        |  AND l.l_extendedprice = (
        |    SELECT min(l2.l_extendedprice) FROM lineitem l2
        |    WHERE l2.l_partkey = l.l_partkey)
        |ORDER BY p_partkey, s_suppkey""".stripMargin),


    Gate("q70_waiting_suppliers", Family.Sql, waitingSuppliers, _ =>
      """SELECT s_name, CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
        |FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name""".stripMargin),


    Gate("q76_big_volume_orders", Family.Sql, bigVolumeOrders, _ =>
      """SELECT c_custkey, o_orderkey,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM customer, orders, lineitem
        |WHERE o_orderkey IN (
        |    SELECT l_orderkey FROM lineitem
        |    GROUP BY l_orderkey
        |    HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300)
        |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        |GROUP BY c_custkey, o_orderkey
        |ORDER BY total_qty DESC, o_orderkey LIMIT 100""".stripMargin),


    Gate("q77_window_suite", Family.Sql, windowSuite, _ =>
      """SELECT o_orderkey,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin),


    Gate("q47_part_supplier_revenue", Family.Sql, partSupplierRevenue, _ =>
      """SELECT p_brand, s_nationkey,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN part     ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY p_brand, s_nationkey
        |ORDER BY p_brand, s_nationkey""".stripMargin),


    Gate("q52_pivot", Family.Sql, pivotStatus, _ =>
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),


    Gate("q53_unpivot", Family.Sql, unpivotLineitem, _ =>
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val
        |FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax' AS metric, l_tax AS val
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin),


    Gate("q51_correlated_subquery", Family.Sql, correlatedMaxOrder, _ =>
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice = (SELECT max(o2.o_totalprice)
        |                      FROM orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin),


    Gate("q55_nested_correlated", Family.Sql, nestedCorrelated, _ =>
      """SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING sum(l_quantity) > 2 * (
        |    SELECT avg(q) FROM (
        |      SELECT sum(l2.l_quantity) AS q FROM lineitem l2
        |      WHERE l2.l_partkey = lineitem.l_partkey GROUP BY l2.l_suppkey) t))
        |ORDER BY s_suppkey""".stripMargin),


    Gate("q56_range_frame_window", Family.Sql, rollingRevenue, _ =>
      """SELECT o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
        |    RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling_30d
        |FROM orders ORDER BY o_orderkey""".stripMargin),


    Gate("q60_standardize", Family.Fs, standardizeFeatures, _ =>
      """WITH s AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal,
        |    CAST(count(*) OVER w AS BIGINT) AS n,
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sm,
        |    CAST(CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * CAST(c_acctbal AS DECIMAL(18,2)) AS DECIMAL(38,4))) OVER w AS VARCHAR) AS DOUBLE) AS sq
        |  FROM customer WINDOW w AS (PARTITION BY c_mktsegment))
        |SELECT c_custkey, c_mktsegment,
        |  (c_acctbal - sm / n) / sqrt((sq - sm * sm / n) / (n - 1)) AS acctbal_z
        |FROM s ORDER BY c_custkey""".stripMargin),


    Gate("q64_shipping_priority", Family.Sql, shippingPriority, _ =>
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  epoch_us(o_orderdate) AS o_orderdate_us,
        |  o_orderpriority
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < DATE '1998-03-15' AND l_shipdate > DATE '1998-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),


    Gate("q65_market_share", Family.Sql, marketShare, _ =>
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CASE WHEN n2.n_name = 'NATION_9'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |        * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |    / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS mkt_share
        |FROM customer, orders, lineitem, supplier, nation n1, nation n2, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey
        |  AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        |  AND s_nationkey = n2.n_nationkey AND r_name = 'ASIA'
        |GROUP BY 1 ORDER BY 1""".stripMargin),


    Gate("q63_quarantine", Family.Sql, quarantineEvents, _ =>
      """SELECT event_id,
        |  concat_ws(',',
        |    CASE WHEN user_id IS NULL THEN 'not_null(user_id)' END,
        |    CASE WHEN value IS NOT NULL AND (value < 0 OR value > 400)
        |         THEN 'in_range(value,0.0,400.0)' END,
        |    CASE WHEN event_type IS NOT NULL
        |          AND event_type NOT IN ('click','view','purchase','signup','error')
        |         THEN 'in_set(event_type)' END) AS violations
        |FROM events
        |WHERE user_id IS NULL
        |   OR (value IS NOT NULL AND (value < 0 OR value > 400))
        |   OR (event_type IS NOT NULL
        |       AND event_type NOT IN ('click','view','purchase','signup','error'))
        |ORDER BY event_id""".stripMargin),


    Gate("q62_expectations", Family.Sql, expectationsAudit, _ =>
      """WITH t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM lineitem),
        |checks AS (
        |  SELECT 'not_null(l_orderkey)' AS check,
        |    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'in_range(l_quantity,1.0,50.0)',
        |    CAST(sum(CASE WHEN l_quantity IS NOT NULL AND (l_quantity < 1 OR l_quantity > 50)
        |      THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'in_set(l_returnflag)',
        |    CAST(sum(CASE WHEN l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R')
        |      THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'unique(l_orderkey,l_linenumber)',
        |    CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'satisfies(discount_bounds)',
        |    CAST(sum(CASE WHEN NOT coalesce(l_discount >= 0 AND l_discount <= 0.1, FALSE)
        |      THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'ref_integrity(l_orderkey)',
        |    CAST((SELECT count(*) FROM lineitem l
        |          WHERE l.l_orderkey IS NOT NULL
        |            AND l.l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS BIGINT))
        |SELECT c.check, t.total AS total_rows, c.violations,
        |  c.violations = 0 AS passed
        |FROM checks c, t ORDER BY c.check""".stripMargin),


    Gate("q54_range_join", Family.Sql, rangeJoinEvents, _ =>
      """SELECT p.event_id AS purchase_id, e.event_id AS event_id
        |FROM events p, events e
        |WHERE p.event_type = 'purchase'
        |  AND e.ts >= p.ts AND e.ts < p.ts + INTERVAL 60 SECOND
        |  AND e.event_id <> p.event_id
        |ORDER BY purchase_id, event_id""".stripMargin),


    Gate("q48_semi_join", Family.Sql, semiJoinPriority, _ =>
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),


    Gate("q49_anti_join", Family.Sql, antiJoinCustomers, _ =>
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_custs
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin),


  )
}
