package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ext.{Pq, Similarity, TextAnalysis}

/** Gate queries — sketches, vector expressions, data layout, and the
  * PQ/IVF ANN tiers. Split out of QueriesSqlSuite in r12 (the
  * >700-line file discipline).
  */
private[graft] trait PipelinesVectorSketch extends PipelinesBase {

  // Sketch aggregations as an INVARIANT gate (r12; HLL/quantile-sketch
  // estimates are engine-specific by construction): the gate emits the
  // EXACT distinct counts (portable — the oracle recomputes them) plus
  // booleans pinning each sketch estimate inside its accuracy
  // contract, all driver-hashed. approx_count_distinct is Spark's
  // HyperLogLog++ at default rsd 0.05 (bound: 3·rsd); percentile_approx
  // at accuracy 10000 has rank error 1e-4, checked RANK-wise (the
  // returned element's exact rank inside a generous q±0.03 band —
  // cnt(<=v) ≥ 0.92·n and cnt(<v) ≤ 0.98·n for p95; a broken sketch
  // lands far outside). At 100 TB these
  // sketches replace exact distinct/percentile shuffles with
  // constant-size mergeable state — the standard pre-aggregation
  // trade; the exact columns here are the gate's ground truth, not the
  // production path.
  def approxStats(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    val keyNames = Seq("l_returnflag", "l_linestatus")
    val keys = keyNames.map(col)
    // pass 1: exact distinct ground truth + the sketches themselves.
    // The exact counts run as two-level aggregations (distinct pairs,
    // then count — both whole-stage-codegen hash aggs with map-side
    // partials) JOINED to the sketch agg, instead of two
    // countDistinct columns in ONE agg: that form plans an Expand
    // that triples every input row (one copy per distinct column +
    // one for the plain aggregates) through the shuffle (r19, guide
    // §2.3 — measured 15.7 → ~4 MB shuffle write, CPU −30%). Counts
    // are identical: keys are non-null in lineitem, and the null
    // guard keeps the distinct-pair count equal to countDistinct's
    // null-skipping contract even if they weren't.
    val sketches = li.groupBy(keys: _*).agg(
      count(lit(1)).as("_n"),
      approx_count_distinct(col("l_orderkey")).as("_ao"),
      approx_count_distinct(col("l_partkey")).as("_ap"),
      percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("_am"),
      percentile_approx(col("l_extendedprice"), lit(0.95), lit(10000)).as("_a95"))
    def exactDistinct(c: String, out: String) =
      li.filter(col(c).isNotNull)
        .select((keys :+ col(c)): _*).distinct()
        .groupBy(keys: _*).agg(count(lit(1)).as(out))
    val ap = sketches
      .join(exactDistinct("l_orderkey", "exact_orders"), keyNames)
      .join(exactDistinct("l_partkey", "exact_parts"), keyNames)
    // ap is consumed by BOTH the rank pass and the final join, but
    // deliberately NOT checkpointed: the two consumers' aggregate
    // subtrees are identical, so ReuseExchange computes the shuffle
    // once — measured 2.6 s lazy vs 9 s with an eager localCheckpoint
    // (which splits the work into serial jobs and defeats the reuse).
    // The shared-consumer checkpoint rule applies when the consumers'
    // subtrees DIVERGE before the exchange, not here.
    // pass 2: RANK-COUNT the sketch's returned elements against the
    // exact order — cnt(<= v) >= (q−δ)·n and cnt(< v) <= (q+δ)·n, the
    // duplicate-safe form of "v's rank is within δ of quantile q".
    // This replaces the r12-draft exact-percentile bounds, whose
    // sort-based value collection cost 25 s at sf0.1 where these two
    // hash aggs cost well under a second; it is also truer to the
    // sketch's rank-error contract.
    val ranks = li
      .select((keys :+ col("l_extendedprice").as("_x")): _*)
      .join(broadcast(ap.select((keys ++ Seq(col("_am"), col("_a95"))): _*)),
        keyNames)
      .groupBy(keys: _*)
      .agg(
        sum(when(col("_x") <= col("_am"), 1L).otherwise(0L)).as("_le_m"),
        sum(when(col("_x") < col("_am"), 1L).otherwise(0L)).as("_lt_m"),
        sum(when(col("_x") <= col("_a95"), 1L).otherwise(0L)).as("_le_95"),
        sum(when(col("_x") < col("_a95"), 1L).otherwise(0L)).as("_lt_95"))
    ap.join(ranks, keyNames)
      .select(col("l_returnflag"), col("l_linestatus"),
        col("exact_orders"), col("exact_parts"),
        (abs(col("_ao") - col("exact_orders"))
          <= col("exact_orders") * 0.15).as("orders_ok"),
        (abs(col("_ap") - col("exact_parts"))
          <= col("exact_parts") * 0.15).as("parts_ok"),
        (col("_le_m") >= col("_n") * 0.45 &&
          col("_lt_m") <= col("_n") * 0.55).as("median_ok"),
        (col("_le_95") >= col("_n") * 0.92 &&
          col("_lt_95") <= col("_n") * 0.98).as("p95_ok"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // Materialized IVF index: build the cell-partitioned index, then
  // probe it — the probe's corpus scan is statically partition-pruned
  // to the nprobe cells (SimilaritySpec pins partitionCount <= nprobe).
  // INVARIANT gate since r12 (cell routing depends on the engine's
  // KMeans; see annInvariantGate). The timed work is honest
  // index-build + pruned probe + one brute-force pass for the facts.
  def ivfIndexedAnn(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val dir = "/tmp/graft_ivfidx_" + d.replaceAll("[^A-Za-z0-9.-]", "_")
    Similarity.ivfIndexWrite(emb, dir, nlist = 16)
    annInvariantGate(
      Similarity.ivfIndexedTopK(s, dir, q, k = 5, nprobe = 4),
      annExactTop5(s, d),
      k = 5, recallFloor = Some(0.45))
  }

  // Count-Min heavy hitters — oracle-gated ON PURPOSE: at event_type
  // cardinality (5 values) the d=5/w=8192 sketch is collision-free
  // under its fixed seeds, so the min-over-rows estimate equals the
  // exact count deterministically and the gate cross-checks the whole
  // sketch path (hash → counters → candidate heap → re-rank) against
  // a plain GROUP BY. High-cardinality behavior — overestimate-only,
  // ε·N error bound, eviction, layout invariance — is spec-tested on
  // skewed synthetic data (SketchAggregatesSpec).
  def cmHeavyHitters(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .agg(graft.functions.SketchAggregates.cmTopK(col("event_type"), 10).as("top"))
      .select(explode(col("top")).as("hh"))
      .select(col("hh.item").as("item"), col("hh.est").as("est"))
      .orderBy(desc("est"), asc("item"))

  // KMV sketch aggregate as an INVARIANT gate (r12; the estimate
  // depends on the engine's hash) — the custom TypedImperativeAggregate
  // tier exercised through a query, with the exact distinct count as
  // the portable column and the estimate pinned inside the KMV error
  // bound: rsd ≈ 1/sqrt(k−2) at k=256, bound 3·rsd ≈ 18.8 %. The
  // exact/merge contracts remain spec-tested (SketchSpec).
  def kmvDistinctCounts(s: SparkSession, d: String): DataFrame =
    tSpread(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("exact_orders"),
        graft.functions.SketchAggregates.kmvDistinct(col("l_orderkey"), 256)
          .as("_est"))
      .select(col("l_returnflag"), col("exact_orders"),
        // SF-parametric band (r16 verdict ask #4): EXACT below k (the
        // sketch holds every distinct hash), else a 4σ band with the
        // finite-population correction √(1−k/n) on the Beta-order-
        // statistic rsd 1/√(k−2). 4σ, not 3σ: this is a DETERMINISTIC
        // instance check across (group × SF) cells — a 3σ band
        // manufactures one red cell per ~370 by construction (sf0.001
        // group N sat at 3.1σ); a real estimator bug shows as orders
        // of magnitude, never one σ. The band is FLOORED at 2 (r17
        // ADVICE): at exactly n = k = 256 the finite-population factor
        // is 0 while the buffer has already switched to the (k−1)/t
        // estimator (KmvBuffer estimates once heap.size == k), so a
        // zero-width band would deterministically fail a group × SF
        // cell landing on the dead spot.
        when(col("exact_orders") < 256,
          col("_est") === col("exact_orders"))
          .otherwise(abs(col("_est") - col("exact_orders"))
            <= greatest(
              col("exact_orders") * lit(4.0 / math.sqrt(254.0)) *
                sqrt(lit(1.0) - lit(256.0) / col("exact_orders")),
              lit(2.0)))
          .as("kmv_ok"))
      .orderBy("l_returnflag")

  // Z-order curve values over integer ranks (no float scaling — the
  // masked ints are the ranks, so the DuckDB oracle can rebuild the
  // Morton interleave with plain bit ops and the gate hash-checks the
  // fused InterleaveBits expression against an independent
  // implementation).
  def zorderValues(s: SparkSession, d: String): DataFrame = {
    val ranks = Seq(
      col("c_custkey").bitwiseAND(lit(255L)).cast("long"),
      col("c_nationkey").bitwiseAND(lit(255L)).cast("long"))
    t(s, d, "customer")
      .select(col("c_custkey"),
        graft.functions.LayoutExpressions.interleaveBits(ranks, bits = 8).as("z"))
      .orderBy("c_custkey")
  }

  // PQ ANN (8-byte codes + ADC short list + exact re-rank) as an
  // INVARIANT gate (r12; codebooks aren't SQL-expressible): see
  // annInvariantGate. Floor note: PQ recall on the near-isotropic
  // fixture DEGRADES with corpus size (constant 8-byte quantization
  // error vs a top-5 margin that shrinks as n grows) — measured 0.52
  // at sf0.01, 0.34 at sf0.1. The gate floor 0.15 is SF-robust and
  // still ~15-150x the chance rate k/n; the tighter sf0.01-only pin
  // (0.35) lives in AnnRecallGateSpec.
  def pqAnn(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val cb = Pq.train(emb, dim = 64, m = 8, ksub = 16)
    annInvariantGate(
      Pq.pqTopK(emb, q, k = 5, cb),
      annExactTop5(s, d),
      k = 5, recallFloor = Some(0.15))
  }

  // IVF+PQ composed ANN (the faiss IVFPQ design, Jégou et al. 2011):
  // a coarse quantizer routes each vector to one of nlist cells; PQ
  // codes are stored per cell; a query scans only its nprobe nearest
  // cells by ADC, then the short list is re-ranked exactly. At 100 TB
  // this is THE scale path: cells partition the corpus (partition
  // pruning on the cell id), codes are 8 bytes/vector, and only
  // nprobe/nlist of the data is touched per query. Rows-only (cell
  // routing depends on the engine's KMeans); recall + pruning are
  // spec-tested (PqSpec).
  def ivfPqAnn(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val coarse = Pq.trainCoarse(emb, dim = 64, nlist = 16)
    val cb = Pq.train(emb, dim = 64, m = 8, ksub = 16)
    // INVARIANT gate since r12 (see annInvariantGate; floor 0.1 is
    // SF-robust — measured 0.46 at sf0.01 / 0.22 at sf0.1, chance is
    // k/n; the tighter sf0.01 pin lives in AnnRecallGateSpec)
    annInvariantGate(
      Pq.ivfPqTopK(emb, q, k = 5, coarse, cb, nprobe = 4),
      annExactTop5(s, d),
      k = 5, recallFloor = Some(0.1))
  }

  // Higher-order array functions over the embedding column — the
  // builtin-HOF tier (transform/zip_with/aggregate) the custom
  // expressions deliberately bypass elsewhere. All three derived
  // values fold left-to-right in array order in BOTH engines
  // (DuckDB list_reduce is sequential; 0.0 + x == x in IEEE, so the
  // init-vs-first-element difference is exact), so doubles
  // hash-match bit-for-bit.
  def vectorNorms(s: SparkSession, d: String): DataFrame = {
    val e = col("embedding").cast("array<double>")
    t(s, d, "embeddings").select(
      col("vec_id"),
      sqrt(aggregate(zip_with(e, e, (x, y) => x * y), lit(0.0), (acc, v) => acc + v))
        .as("l2_norm"),
      aggregate(transform(e, x => abs(x)), lit(0.0), (acc, v) => acc + v)
        .as("l1_norm"),
      array_max(transform(e, x => abs(x))).as("max_abs"))
      .orderBy("vec_id")
  }

  override def gates: Seq[Gate] = super.gates ++ Seq(
    // invariant gate (r12): exact distinct counts recomputed here; the
    // sketch-accuracy booleans assert TRUE
    Gate("q58_approx_stats", Family.Sketch, approxStats, _ =>
      """SELECT l_returnflag, l_linestatus,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  TRUE AS orders_ok, TRUE AS parts_ok,
        |  TRUE AS median_ok, TRUE AS p95_ok
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // the CM-sketch estimate degenerates to the exact count at this
    // cardinality (no full-row collision under the fixed seeds), so a
    // plain GROUP BY is the oracle — see cmHeavyHitters. IS NOT NULL
    // pins the aggregate's NULL-skipping semantics: CmTopK never emits
    // a NULL item, so the oracle must not either.
    Gate("q68_cm_heavy_hitters", Family.Sketch, cmHeavyHitters, _ =>
      """SELECT event_type AS item, CAST(count(*) AS BIGINT) AS est
        |FROM events WHERE event_type IS NOT NULL
        |GROUP BY 1 ORDER BY est DESC, item LIMIT 10""".stripMargin),

    Gate("q61_kmv_distinct", Family.Sketch, kmvDistinctCounts, _ =>
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
        |  TRUE AS kmv_ok
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    Gate("q59_zorder_values", Family.Sql, zorderValues, _ => {
      // independent Morton implementation: bit j of x → z bit 2j, of
      // y → z bit 2j+1 (must mirror InterleaveBits' j·k+d layout)
      val terms = (0 until 8).map(j =>
        s"(((x >> $j) & 1) << ${2 * j}) | (((y >> $j) & 1) << ${2 * j + 1})")
        .mkString(" | ")
      s"""WITH m AS (SELECT c_custkey, c_custkey & 255 AS x, c_nationkey & 255 AS y
         |           FROM customer)
         |SELECT c_custkey, CAST($terms AS BIGINT) AS z
         |FROM m ORDER BY c_custkey""".stripMargin
    }),

    // invariant gates (r12): codebooks / cell routing are
    // engine-specific; the driver hashes the portable per-query facts
    // + each tier's AnnRecallGateSpec floor
    Gate("q50_pq_ann", Family.Ann, pqAnn, _ => annInvariantOracleSql(withRecall = true)),

    Gate("q72_ivfpq_ann", Family.Ann, ivfPqAnn, _ => annInvariantOracleSql(withRecall = true)),

    Gate("q78_ivf_indexed_ann", Family.Ann, ivfIndexedAnn, _ => annInvariantOracleSql(withRecall = true)),

    // list_reduce is DuckDB's sequential left fold — same evaluation
    // order as Spark's aggregate(), so the doubles are bit-identical
    Gate("q71_vector_norms", Family.Ann, vectorNorms, _ =>
      """SELECT vec_id,
        |  sqrt(list_reduce(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS l2_norm,
        |  list_reduce(list_transform(embedding,
        |    x -> abs(CAST(x AS DOUBLE))), (a, b) -> a + b) AS l1_norm,
        |  list_max(list_transform(embedding,
        |    x -> abs(CAST(x AS DOUBLE)))) AS max_abs
        |FROM embeddings ORDER BY vec_id""".stripMargin),
  )
}
