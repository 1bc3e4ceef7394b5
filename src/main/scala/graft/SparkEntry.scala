package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Cleanse, Features}
import graft.fs._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query is deterministic (explicit ORDER BY on a unique key) and
  * every computed/aggregated column is aliased identically in the Spark
  * code and the oracle SQL, since the driver's compare hashes values
  * under name-sorted columns. Monetary aggregates run on DECIMAL(18,2)
  * (exact, partition-order independent) and ratios are plain double
  * divisions of those exact sums — bit-identical across engines.
  * round() on doubles is deliberately avoided: near half-ulp boundaries
  * its result is implementation-defined (SURVEY.md §5.3).
  */
object SparkEntry {

  /** Flagship on sf0.001 — the reference's core capability end-to-end:
    * feature tables written through the store, training set assembled
    * via declarative lookups, batch-scored (driver smoke-checks rows>0).
    */
  def entry(spark: SparkSession): DataFrame =
    Pipelines.scoreBatch(spark, "/root/testdata/sf0.001")

  /** Every gate, each declared once next to its query. */
  lazy val gates: Seq[Gate] = Gate.registry(Pipelines.gates ++ PipelinesExt.gates)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.build).toMap

  /** Oracle SQL for the dataset at `sfDir`. */
  def oracleSqlFor(sfDir: String): Map[String, String] =
    gates.map(g => g.name -> g.oracle(sfDir)).toMap

  /** [[oracleSqlFor]] the sf0.01 correctness dataset. */
  def oracleSql: Map[String, String] = oracleSqlFor("/root/testdata/sf0.01")
}

/** One builder per query; shared sub-plans factored for reuse. */
object Pipelines {

  private def t(s: SparkSession, d: String, name: String) = Tables.load(s, d, name)

  // E1,E2,E3,E4,E8,E9,E11 — cleansing recodes (setup.py:206-221 shapes)
  // transposed onto `customer`.
  def cleanseRecode(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer").select(
      col("c_custkey"),
      Cleanse.recode(col("c_mktsegment"),
        Seq("BUILDING" -> 1, "AUTOMOBILE" -> 2, "MACHINERY" -> 3)).as("segment_code"),
      (col("c_acctbal") > 0).as("positive_bal"),
      length(trim(col("c_name"))).as("name_len"),
      when(col("c_acctbal") < 0, lit(null)).otherwise(col("c_acctbal")).as("nonneg_bal")
    ).orderBy("c_custkey")

  // P2 — column list computed from the runtime schema (FS:132 pattern).
  def dynamicProjection(s: SparkSession, d: String): DataFrame = {
    val df = t(s, d, "customer")
    val excluded = Set("c_name", "c_acctbal")
    val cols = "c_custkey" +: df.columns.toSeq.filterNot(c => c == "c_custkey" || excluded(c))
    df.select(cols.map(col): _*).orderBy("c_custkey")
  }

  // P5 — na.fill after deliberate NULL introduction (FS:133 pattern).
  def fillNa(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .withColumn("priority_opt",
        when(col("o_orderpriority") === "4-NOT SPECIFIED", lit(null))
          .otherwise(col("o_orderpriority")))
      .na.fill(Map("priority_opt" -> "NONE"))
      .select(col("o_orderkey"), col("priority_opt"))
      .orderBy("o_orderkey")

  // P1+J1 — demographic-features analog: customer ⋈ broadcast(nation).
  def demographicsDf(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_mktsegment"),
        col("n_name").as("nation_name"), col("c_acctbal"))

  def demographicFeatures(s: SparkSession, d: String): DataFrame =
    demographicsDf(s, d).orderBy("c_custkey")

  // groupBy/agg — service-features analog (SURVEY.md §2.5 addition).
  def orderFeatures(s: SparkSession, d: String): DataFrame =
    Features.orderFeatures(t(s, d, "orders")).orderBy("c_custkey")

  /** Build a populated feature store (order features + demographics) in
    * a fresh temp dir — the K4+K5 write path runs inside the query so
    * the correctness gate exercises it end-to-end. Memoized per
    * (session, sfDir): four queries consume the same two feature
    * tables, and a real deployment shares one warehouse — rebuilding
    * per query would only re-measure the write path four times.
    */
  private val storeCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), FeatureStore]()

  def buildStore(s: SparkSession, d: String): FeatureStore =
    storeCache.computeIfAbsent((s, d), _ => buildStoreUncached(s, d))

  /** Drop the store memos so a re-measured query rebuilds its feature
    * tables from scratch (Bench outlier retries must time the same
    * work, not a memo hit).
    */
  def invalidateStoreCaches(): Unit = {
    storeCache.clear()
    PipelinesExt.invalidatePitStores()
  }

  def buildStoreUncached(s: SparkSession, d: String): FeatureStore = {
    val store = FeatureStore.temp(s)
    val ord = Features.orderFeatures(t(s, d, "orders"))
    store.createTable(FeatureTableSpec("order_features", Seq("c_custkey"), ord.schema,
      "per-customer order aggregates (service-features analog)"))
    store.writeTable("order_features", ord, WriteMode.Overwrite)
    val demo = demographicsDf(s, d)
    store.createTable(FeatureTableSpec("customer_demographics", Seq("c_custkey"), demo.schema,
      "customer ⋈ nation projection (demographic-features analog)"))
    store.writeTable("customer_demographics", demo, WriteMode.Overwrite)
    store
  }

  // J3 — training-set assembly: spine + declarative lookups, label kept,
  // exclude dropped (FS:321/load_df FS:323).
  def trainingSet(s: SparkSession, d: String): DataFrame = {
    val store = buildStore(s, d)
    val spine = t(s, d, "customer")
      .select(col("c_custkey"), col("c_name"), (col("c_acctbal") > 1000).as("high_value"))
    val lookups =
      FeatureLookup.allFeatures(store, "order_features", Seq("c_custkey")) ++
      FeatureLookup.allFeatures(store, "customer_demographics", Seq("c_custkey"))
    FeatureStoreClient
      .createTrainingSet(store, spine, lookups, label = "high_value",
        excludeColumns = Seq("c_name"))
      .loadDf.orderBy("c_custkey")
  }

  // J4+U2 — batch scoring via the registry (score_batch FS:363).
  def scoreBatch(s: SparkSession, d: String): DataFrame = {
    val store = buildStore(s, d)
    val registry = new ScorerRegistry
    registry.register(LogisticScorer(
      name = "churn_model", version = 1,
      lookups = Seq(
        FeatureLookup("order_features", "n_orders", "c_custkey"),
        FeatureLookup("order_features", "total_spent", "c_custkey")),
      weights = Map("n_orders" -> 0.3, "total_spent" -> 0.0005),
      bias = -753.0))  // ≈ -(0.0005·mean total_spent + 0.3·mean n_orders): balanced split
    val batch = t(s, d, "customer").select(col("c_custkey"))
    registry.scoreBatch(store, "models:/churn_model/1", batch)
      .orderBy("c_custkey")
  }

  // K5 — merge-upsert with add-column schema evolution (FS:411-435
  // replay): old snapshot from pre-1999 orders, merged snapshot from
  // 1999+ orders carrying a NEW column; existing keys updated, new keys
  // inserted, old-only keys keep NULL for the new column.
  def mergeUpsert(s: SparkSession, d: String): DataFrame = {
    val store = FeatureStore.temp(s)
    val orders = t(s, d, "orders")
    val split = to_timestamp_ntz(lit("1999-01-01"))
    val oldF = Features.orderFeatures(orders.filter(col("o_orderdate") < split))
    val newF = Features.orderFeatures(orders.filter(col("o_orderdate") >= split))
      .withColumn("recent_flag", lit(1))
    store.createTable(FeatureTableSpec("order_features", Seq("c_custkey"), oldF.schema, "merge demo"))
    store.writeTable("order_features", oldF, WriteMode.Merge)
    store.writeTable("order_features", newF, WriteMode.Merge)
    store.readTable("order_features").orderBy("c_custkey")
  }

  // A-family — TPC-H Q1-shaped pricing summary on lineitem: partial agg
  // map-side, one shuffle on the (tiny-cardinality) group key. Sums run
  // on DECIMAL(18,2) (source doubles are exact 2-decimal) so results are
  // exact and partition-order independent; averages derive from the
  // exact sums.
  def pricingSummary(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: String) = col(c).cast(DecimalType(18, 2))
    val n = count(lit(1))
    t(s, d, "lineitem")
      .filter(col("l_shipdate") <= to_timestamp_ntz(lit("2001-09-02")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec("l_quantity")).cast("double").as("sum_qty"),
        sum(dec("l_extendedprice")).cast("double").as("sum_base_price"),
        sum(dec("l_extendedprice") * (lit(1) - dec("l_discount"))).cast("double").as("sum_disc_price"),
        sum(dec("l_extendedprice") * (lit(1) - dec("l_discount")) * (lit(1) + dec("l_tax"))).cast("double").as("sum_charge"),
        (sum(dec("l_quantity")).cast("double") / n).as("avg_qty"),
        (sum(dec("l_extendedprice")).cast("double") / n).as("avg_price"),
        (sum(dec("l_discount")).cast("double") / n).as("avg_disc"),
        n.as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** J3 over a BUCKETED feature table (r12, SURVEY §7.7): the feature
    * table is written CLUSTERED BY its key INTO 8 BUCKETS through the
    * store's versioned commit, and the training-set lookup join then
    * plans with NO Exchange and NO Sort on the feature side
    * (BucketedFeatureTableSpec pins the plan; this gate hash-checks
    * the RESULT through the bucketed write + catalog read path). The
    * oracle is the plain join — bucketing is pure physical layout.
    */
  def bucketedTrainingSet(s: SparkSession, d: String): DataFrame = {
    val store = FeatureStore.temp(s)
    val feats = Features.orderFeatures(t(s, d, "orders"))
    store.createTable(FeatureTableSpec("order_features_b", Seq("c_custkey"),
      feats.schema, "bucketed order features", buckets = 8))
    store.writeTable("order_features_b", feats, WriteMode.Overwrite)
    val spine = t(s, d, "customer")
      .select(col("c_custkey"), (col("c_acctbal") > 1000).as("high_value"))
    val out = FeatureStoreClient
      .createTrainingSet(store, spine,
        FeatureLookup.allFeatures(store, "order_features_b", Seq("c_custkey")),
        label = "high_value")
      .loadDf.orderBy("c_custkey")
      .localCheckpoint(true) // eager: safe to delete the store below
    // q195 discipline (r12 ADVICE): without cleanup each run leaks a
    // parquet copy in /tmp plus bucketed session-catalog entries.
    store.deleteTable("order_features_b")
    PipelinesRound12.deleteRecursively(java.nio.file.Paths.get(store.root))
    out
  }

  // sort+limit — TakeOrderedAndProject (top-k never fully sorts at scale).
  def topkOrders(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)

  /** Shared SQL fragments, spliced so Spark and oracle stay in sync. */
  private val orderFeaturesSql =
    """SELECT o_custkey AS c_custkey,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_order_price,
      |  epoch_us(max(o_orderdate)) AS last_order_us,
      |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open_orders
      |FROM orders""".stripMargin

  private val demographicsSql =
    """SELECT c_custkey, c_mktsegment, n_name AS nation_name, c_acctbal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin

  def gates: Seq[Gate] = Seq(
    Gate("q01_cleanse_recode", Family.Fs, cleanseRecode, _ =>
      """SELECT c_custkey,
        |  CASE WHEN c_mktsegment = 'BUILDING' THEN 1
        |       WHEN c_mktsegment = 'AUTOMOBILE' THEN 2
        |       WHEN c_mktsegment = 'MACHINERY' THEN 3 END AS segment_code,
        |  c_acctbal > 0 AS positive_bal,
        |  CAST(length(trim(c_name)) AS INTEGER) AS name_len,
        |  CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS nonneg_bal
        |FROM customer ORDER BY c_custkey""".stripMargin),

    Gate("q02_dynamic_projection", Family.Fs, dynamicProjection, _ =>
      "SELECT c_custkey, c_nationkey, c_mktsegment FROM customer ORDER BY c_custkey"),

    Gate("q03_fillna", Family.Fs, fillNa, _ =>
      """SELECT o_orderkey,
        |  CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 'NONE'
        |       ELSE o_orderpriority END AS priority_opt
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    Gate("q04_demographic_features", Family.Fs, demographicFeatures, _ =>
      (demographicsSql + "\nORDER BY c_custkey")),

    Gate("q05_order_features", Family.Fs, orderFeatures, _ =>
      (orderFeaturesSql + "\nGROUP BY o_custkey ORDER BY c_custkey")),

    Gate("q07_training_set", Family.Fs, trainingSet, _ =>
      s"""WITH ord AS ($orderFeaturesSql GROUP BY o_custkey),
         |demo AS ($demographicsSql)
         |SELECT c.c_custkey, c.c_acctbal > 1000 AS high_value,
         |  o.n_orders, o.total_spent, o.avg_order_price, o.last_order_us, o.n_open_orders,
         |  d.c_mktsegment, d.nation_name, d.c_acctbal
         |FROM customer c
         |LEFT JOIN ord o ON c.c_custkey = o.c_custkey
         |LEFT JOIN demo d ON c.c_custkey = d.c_custkey
         |ORDER BY c.c_custkey""".stripMargin),

    Gate("q08_score_batch", Family.Fs, scoreBatch, _ =>
      """WITH ord AS (SELECT o_custkey AS c_custkey,
        |    CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
        |  FROM orders GROUP BY o_custkey)
        |SELECT c.c_custkey, o.n_orders, o.total_spent,
        |  CASE WHEN ((CAST(-753.0 AS DOUBLE)
        |      + coalesce(CAST(o.n_orders AS DOUBLE), 0.0) * CAST(0.3 AS DOUBLE))
        |      + coalesce(o.total_spent, 0.0) * CAST(0.0005 AS DOUBLE)) > 0
        |    THEN 'True' ELSE 'False' END AS prediction
        |FROM customer c LEFT JOIN ord o ON c.c_custkey = o.c_custkey
        |ORDER BY c.c_custkey""".stripMargin),

    Gate("q09_merge_upsert", Family.Fs, mergeUpsert, _ =>
      s"""WITH oldf AS ($orderFeaturesSql WHERE o_orderdate < TIMESTAMP '1999-01-01' GROUP BY o_custkey),
         |newf AS (SELECT o_custkey AS c_custkey,
         |    CAST(count(*) AS BIGINT) AS n_orders,
         |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
         |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_order_price,
         |    epoch_us(max(o_orderdate)) AS last_order_us,
         |    CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open_orders,
         |    1 AS recent_flag
         |  FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01' GROUP BY o_custkey)
         |SELECT o.*, CAST(NULL AS INTEGER) AS recent_flag
         |FROM oldf o WHERE NOT EXISTS (SELECT 1 FROM newf n WHERE n.c_custkey = o.c_custkey)
         |UNION ALL
         |SELECT * FROM newf
         |ORDER BY c_custkey""".stripMargin),

    Gate("q11_pricing_summary", Family.Sql, pricingSummary, _ =>
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    Gate("q12_topk_orders", Family.Sql, topkOrders, _ =>
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),

    // bucketing is physical layout only — the oracle is the plain join
    Gate("q185_bucketed_training_set", Family.Fs, bucketedTrainingSet, _ =>
      s"""WITH ord AS ($orderFeaturesSql GROUP BY o_custkey)
         |SELECT c.c_custkey, c.c_acctbal > 1000 AS high_value,
         |  o.n_orders, o.total_spent, o.avg_order_price, o.last_order_us,
         |  o.n_open_orders
         |FROM customer c
         |LEFT JOIN ord o ON c.c_custkey = o.c_custkey
         |ORDER BY c.c_custkey""".stripMargin),
  )
}
