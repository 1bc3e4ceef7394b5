package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Gate queries — the deeper TPC-H-shaped analytics suite (Q6, Q7,
  * Q10, Q13, Q14, Q15, Q17, Q19, Q22 shapes), split out of
  * QueriesCuration in r12 (the >700-line file discipline).
  */
private[graft] trait PipelinesTpchDeep extends PipelinesBase {

  // TPC-H Q10 shape: returned-item revenue per customer — fact join
  // with a date band, broadcast nation dim, deterministic top-20.
  def returnedItems(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT c_custkey, c_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  c_acctbal, n_name
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1997-07-01'
        |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)
  }

  // TPC-H Q19 shape: disjunction of brand/size/quantity conjunctions.
  // Catalyst splits the OR across the join: the p_brand/p_size arms
  // push into the part scan, the l_quantity bounds into lineitem, and
  // the residual OR evaluates post-join — the pushdown pattern naive
  // disjunctive predicates rely on.
  def disjunctiveRevenue(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey AND (
        |     (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 25)
        |  OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 30
        |       AND l_quantity BETWEEN 10 AND 40)
        |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 50
        |       AND l_quantity BETWEEN 20 AND 50))""".stripMargin)
  }

  // TPC-H Q22 shape: customers above the global positive-balance mean
  // with no RECENT (2000+) orders. The mean comparison is cross-multiplied
  // (c_acctbal · n > Σ) so both engines compare exact decimals — no
  // float boundary to flake on; the no-orders leg is a hash anti join.
  def idleCustomers(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(
      """WITH s AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sm,
        |         count(*) AS n
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer, s
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > sm
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= DATE '2000-01-01')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
  }

  // TPC-H Q13 shape: distribution of customers by order count,
  // INCLUDING zero-order customers — the left-outer + group-on-the-
  // aggregate double grouping; both group-bys and the join share the
  // customer key, so one partitioning serves all three at scale.
  def custOrderHistogram(s: SparkSession, d: String): DataFrame = {
    val perCust = t(s, d, "customer").select(col("c_custkey"))
      .join(t(s, d, "orders").select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
    perCust.groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  // TPC-H Q17 shape: revenue lost to small-quantity orders of one
  // brand's parts. The oracle runs the naive correlated-avg subquery;
  // the engine aggregates the per-part avg ONCE and joins it back
  // (the q69 decorrelation discipline) — both under the exact-decimal
  // sum / double-division contract so the single output double
  // hash-matches.
  def smallQtyRevenue(s: SparkSession, d: String): DataFrame = {
    val dec = (c: String) => col(c).cast(DecimalType(18, 2))
    val brandParts = t(s, d, "part")
      .filter(col("p_brand") === "Brand#12").select(col("p_partkey"))
    val li = t(s, d, "lineitem")
      .join(brandParts, col("l_partkey") === col("p_partkey"))
    val avgs = li.groupBy(col("l_partkey").as("_pk"))
      .agg((sum(dec("l_quantity")).cast("double") / count(lit(1))).as("avg_qty"))
    li.join(avgs, col("l_partkey") === col("_pk"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg((sum(dec("l_extendedprice")).cast("double") / lit(7.0)).as("avg_yearly"))
  }

  // TPC-H Q14 shape: promo revenue share — a conditional-ratio
  // aggregate over a broadcast part join; both sums exact-decimal,
  // division in double (the §5.3 contract), so the single output
  // double hash-matches.
  def promoRevenue(s: SparkSession, d: String): DataFrame = {
    val dec = (c: String) => col(c).cast(DecimalType(18, 2))
    val rev = dec("l_extendedprice") * (lit(1) - dec("l_discount"))
    t(s, d, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
        col("l_shipdate") < lit("1996-04-01").cast("date"))
      .join(broadcast(t(s, d, "part").select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .agg((lit(100.0) *
        sum(when(col("p_type").startsWith("PROMO"), rev)
          .otherwise(lit(0).cast(DecimalType(18, 2)))).cast("double") /
        sum(rev).cast("double")).as("promo_revenue"))
  }

  // TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue.
  // The revenue "view" subtree appears twice (group-by + its max) —
  // both scans carry the pushed shipdate filter, and the 1-row max
  // BROADCASTS back onto the grouped frame: the max-equality never
  // runs as a single-partition window over the supplier set (the
  // 100 TB cliff). At scale, materialize the revenue view once
  // (persist / CTAS) instead of re-deriving it for the max.
  // Equality on the DECIMAL revenue is exact in both engines; the
  // cast to double happens after.
  def topSupplier(s: SparkSession, d: String): DataFrame = {
    val dec = (c: String) => col(c).cast(DecimalType(18, 2))
    val rev = t(s, d, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
        col("l_shipdate") < lit("1996-04-01").cast("date"))
      .groupBy(col("l_suppkey"))
      .agg(sum(dec("l_extendedprice") * (lit(1) - dec("l_discount"))).as("rev_dec"))
    rev.join(broadcast(rev.agg(max(col("rev_dec")).as("mx"))),
        col("rev_dec") === col("mx"))
      .join(broadcast(t(s, d, "supplier").select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("rev_dec").cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  // TPC-H Q6 shape: the pure scan-filter aggregate — no join at all.
  // The whole predicate set (date window + discount band + quantity
  // cap) reaches the parquet scan as PushedFilters, so at 100 TB this
  // is one pruned pass with a partial-agg reduce; exact-decimal sum,
  // cast to double at the end (the §5.3 contract).
  def forecastRevenue(s: SparkSession, d: String): DataFrame = {
    val dec = (c: String) => col(c).cast(DecimalType(18, 2))
    t(s, d, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
        col("l_shipdate") < lit("1997-01-01").cast("date") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(sum(dec("l_extendedprice") * dec("l_discount")).cast("double")
        .as("revenue"))
  }

  // TPC-H Q7 shape: volume shipping between a nation pair. The nation
  // filter is applied to the 25-row dimension FIRST and broadcast onto
  // supplier/customer, so both fact-side joins already carry the ~2/25
  // selectivity before any shuffle; lineitem additionally prunes on the
  // pushed shipdate window. The remaining shuffles (orders⋈customer,
  // lineitem⋈orders) are unavoidable fact joins on their natural keys.
  def volumeShipping(s: SparkSession, d: String): DataFrame = {
    val dec = (c: String) => col(c).cast(DecimalType(18, 2))
    val nat = t(s, d, "nation")
      .filter(col("n_name").isin("NATION_1", "NATION_2"))
    val supp = t(s, d, "supplier").select("s_suppkey", "s_nationkey")
      .join(broadcast(nat.select(col("n_nationkey").as("sn_key"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("sn_key"))
    val cust = t(s, d, "customer").select("c_custkey", "c_nationkey")
      .join(broadcast(nat.select(col("n_nationkey").as("cn_key"),
        col("n_name").as("cust_nation"))), col("c_nationkey") === col("cn_key"))
    val ord = t(s, d, "orders").select("o_orderkey", "o_custkey")
      .join(cust, col("o_custkey") === col("c_custkey"))
    t(s, d, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("date") &&
        col("l_shipdate") < lit("1997-01-01").cast("date"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (dec("l_extendedprice") * (lit(1) - dec("l_discount"))).as("volume"),
        year(col("l_shipdate")).as("l_year"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(sum(col("volume")).cast("double").as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q12 shape (adapted — the fixture carries no
    * l_shipmode/l_commitdate, so the category is l_returnflag and the
    * window rides l_shipdate): one fact⋈fact equi join on the order
    * key, then conditional priority counts per category — the
    * two-bucket CASE pivot every ops dashboard runs. All-integer
    * cells, exact at any scale; at 100 TB both sides shuffle on the
    * shared order key and the counts ride map-side partials.
    */
  def shipPriorityCounts(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
        col("l_shipdate") < lit("1997-01-01").cast("date"))
      .select(col("l_orderkey"), col("l_returnflag"))
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li.join(t(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      // otherwise-form on BOTH buckets: when(!high, 1).otherwise(0)
      // would count a NULL o_orderpriority in NEITHER bucket while the
      // oracle's CASE WHEN high THEN 0 ELSE 1 counts it as low
      // (ADVICE r11 — latent divergence if the fixture ever carries
      // NULL priorities)
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }

  /** TPC-H Q9 shape (adapted — no partsupp table, so profit is the
    * discounted revenue of the filtered parts): lineitem joins part
    * (name filter), supplier→nation, and orders (for the year), then
    * rolls profit up by (nation, year). The dims broadcast; the two
    * fact joins shuffle on their own keys; the DECIMAL sum is exact
    * and casts to double only at the edge (§5.3).
    */
  def profitByNationYear(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = (c: String) => col(c).cast(DecimalType(18, 2))
    t(s, d, "lineitem")
      .join(broadcast(t(s, d, "part").filter(col("p_name").contains("red"))
        .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
      .join(broadcast(t(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, d, "nation").select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .join(t(s, d, "orders").select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).as("o_year"))
      .agg(sum(dec("l_extendedprice") * (lit(1) - dec("l_discount")))
        .cast("double").as("profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q16 shape (adapted — the distinct (part, supplier) pairs
    * observed in lineitem stand in for partsupp, and negative-balance
    * suppliers for the complaints exclusion): supplier counts per
    * part attribute group, with the excluded suppliers LEFT
    * ANTI-joined out BEFORE the distinct count. The anti join and
    * the count-distinct Expand both key on the supplier/part ids —
    * no dimension explosion at any scale.
    */
  def partSupplierCounts(s: SparkSession, d: String): DataFrame = {
    val ps = t(s, d, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(t(s, d, "supplier").filter(col("s_acctbal") < 0)
        .select(col("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"), "left_anti")
    ps.join(broadcast(t(s, d, "part")
        .filter(col("p_brand") =!= "Brand#4" &&
          !col("p_type").startsWith("MEDIUM") &&
          col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22, 25))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  override def gates: Seq[Gate] = super.gates ++ Seq(
    Gate("q83_returned_items", Family.Sql, returnedItems, _ =>
      """SELECT c_custkey, c_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  c_acctbal, n_name
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1997-07-01'
        |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),

    Gate("q84_disjunctive_revenue", Family.Sql, disjunctiveRevenue, _ =>
      """SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey AND (
        |     (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 25)
        |  OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 30
        |       AND l_quantity BETWEEN 10 AND 40)
        |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 50
        |       AND l_quantity BETWEEN 20 AND 50))""".stripMargin),

    Gate("q85_idle_customers", Family.Sql, idleCustomers, _ =>
      """WITH s AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sm,
        |         count(*) AS n
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer, s
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > sm
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= DATE '2000-01-01')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // naive correlated form — cross-checks the engine's agg-once +
    // join-back decorrelation (the q69 discipline)
    Gate("q102_small_qty_revenue", Family.Sql, smallQtyRevenue, _ =>
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey AND p_brand = 'Brand#12'
        |  AND l_quantity < 0.2 * (
        |    SELECT CAST(sum(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin),

    Gate("q110_promo_revenue", Family.Sql, promoRevenue, _ =>
      """SELECT CAST(100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |  / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS DOUBLE)
        |  AS promo_revenue
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey
        |  AND l_shipdate >= DATE '1996-01-01'
        |  AND l_shipdate < DATE '1996-04-01'""".stripMargin),

    Gate("q111_top_supplier", Family.Sql, topSupplier, _ =>
      """WITH revenue AS (
        |  SELECT l_suppkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev_dec
        |  FROM lineitem
        |  WHERE l_shipdate >= DATE '1996-01-01'
        |    AND l_shipdate < DATE '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
        |FROM supplier, revenue
        |WHERE s_suppkey = l_suppkey
        |  AND rev_dec = (SELECT max(rev_dec) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin),

    Gate("q112_forecast_revenue", Family.Sql, forecastRevenue, _ =>
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= DATE '1996-01-01'
        |  AND l_shipdate < DATE '1997-01-01'
        |  AND l_discount >= CAST(0.05 AS DOUBLE)
        |  AND l_discount <= CAST(0.07 AS DOUBLE)
        |  AND l_quantity < 24""".stripMargin),

    Gate("q113_volume_shipping", Family.Sql, volumeShipping, _ =>
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(sum(volume) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
        |    CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume
        |  FROM lineitem, supplier, orders, customer, nation n1, nation n2
        |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |    AND c_custkey = o_custkey
        |    AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |    AND l_shipdate >= DATE '1995-01-01'
        |    AND l_shipdate < DATE '1997-01-01')
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin),

    Gate("q105_cust_order_histogram", Family.Sql, custOrderHistogram, _ =>
      """WITH per_cust AS (
        |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM per_cust GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),
    Gate("q172_ship_priority", Family.Sql, shipPriorityCounts, _ =>
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    Gate("q173_profit_rollup", Family.Sql, profitByNationYear, _ =>
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS profit
        |FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin),

    Gate("q174_part_supplier_counts", Family.Sql, partSupplierCounts, _ =>
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |kept AS (
        |  SELECT ps.l_partkey, ps.l_suppkey FROM ps
        |  WHERE NOT EXISTS (SELECT 1 FROM supplier s
        |    WHERE s.s_suppkey = ps.l_suppkey AND s.s_acctbal < 0))
        |SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM kept JOIN part ON l_partkey = p_partkey
        |WHERE p_brand != 'Brand#4' AND p_type NOT LIKE 'MEDIUM%'
        |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22, 25)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

  )
}
