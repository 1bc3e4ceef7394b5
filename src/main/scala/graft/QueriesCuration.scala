package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.etl.Features
import graft.ext.{Chunking, Components, Dedup, Pq, Similarity, TextAnalysis}
import graft.fs.{FeatureTableSpec, ParquetFooters, PointInTime, WriteMode}

/** Gate queries — semantic dedup, curation pipelines, pricing/funnel
  * analytics, encoders, and the dup-graph tier (CC, sampling).
  */
private[graft] trait PipelinesCuration extends PipelinesBase {

  // Semantic dedup, exact retained set: earliest-survivor rule over
  // the tiled all-pairs cosine join. Same similarity expression the
  // hash-matched q46 gate runs, so the threshold boundary is
  // bit-identical to the DuckDB NOT EXISTS oracle.
  def semanticDedupExact(s: SparkSession, d: String): DataFrame =
    graft.ext.SemanticDedup.retainExact(t(s, d, "embeddings"), 0.45)
      .orderBy("vec_id")

  // SemDeDup (clustered) variant as an INVARIANT gate (r12; the
  // k-means cell assignment is engine-specific, so the retained SET
  // is not portable): the driver hashes the facts that hold for ANY
  // correct clustering — a dropped doc always has an earlier
  // same-cell (hence global) duplicate at the threshold, and the
  // retained count is bounded by [docs with no earlier global dup,
  // n]. The exact-rule contract stays spec-asserted
  // (SemanticDedupSpec); the exact twin q80 is hash-gated verbatim.
  def semanticDedupClustered(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val retained = graft.ext.SemanticDedup
      .retainClustered(emb, 0.45, nlist = 8)
      .select(col("vec_id"))
    val ids = emb.select(col("vec_id"))
    // docs having an EARLIER duplicate at the threshold, from the
    // exact tiled all-pairs set (id_a < id_b)
    val hasEarlierDup = Similarity
      .cosineAllPairsTiled(emb, threshold = 0.45)
      .select(col("id_b").as("vec_id")).distinct()
    val dropped = ids.join(retained, Seq("vec_id"), "left_anti")
    val badDropped = dropped.join(hasEarlierDup, Seq("vec_id"), "left_anti")
      .agg(count(lit(1)).as("_bad"))
    val nRet = retained.agg(count(lit(1)).as("_nret"))
    val nUnique = ids.join(hasEarlierDup, Seq("vec_id"), "left_anti")
      .agg(count(lit(1)).as("_nuniq"))
    emb.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(badDropped))
      .crossJoin(broadcast(nRet))
      .crossJoin(broadcast(nUnique))
      .select(col("n_docs"),
        (col("_bad") === 0L).as("dropped_have_earlier_dup"),
        (col("_nret") >= col("_nuniq") && col("_nret") <= col("n_docs"))
          .as("retained_bounds_ok"))
  }

  /** SEMANTIC decontamination (r12) — the embedding-space sibling of
    * the verbatim-gram tier (q75/q79/q109/q167): drop every corpus
    * vector whose cosine to ANY eval-probe vector (vec_id % 100 = 3,
    * self excluded) reaches 0.3 — the "remove anything semantically
    * close to the benchmark" pass a leakage audit runs when paraphrase
    * contamination defeats exact n-gram matching. The operator lives
    * in [[graft.ext.Decontamination]] (r13): the broadcast variant
    * here now ENFORCES its bounded-probe contract, and the
    * corpus-scale sibling routes probes through a materialized IVF
    * index instead of broadcasting. Exact doubles end-to-end (the
    * q29/q30 cosine portability), so the gate hash-checks every
    * retained row's max probe cosine.
    */
  def semanticDecontam(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    graft.ext.Decontamination
      .retainBelow(emb, emb.filter(col("vec_id") % 100 === 3), 0.3,
        excludeSelf = true)
      .orderBy("vec_id")
  }

  // Corpus-driven top-k stop-word pruning: document-frequency rank is
  // exact integers with a total tie-break, so the stop list — and
  // therefore every rebuilt text — is deterministic at any SF.
  def vocabPrune(s: SparkSession, d: String): DataFrame =
    TextAnalysis.pruneTopWords(t(s, d, "documents"), k = 5)
      .orderBy("doc_id")


  // Layout-aware scan: events rewritten PARTITIONED BY event_type,
  // then read back with a partition filter — the scan lists only the
  // matching directory (PartitionFilters; PruningSpec pins the plan
  // mechanics, this gates the end-to-end result). Fixture dir derives
  // from the dataset dir so concurrent runs on different SFs never
  // collide (the q44 lesson).
  def partitionedScan(s: SparkSession, d: String): DataFrame = {
    val dir = "/tmp/graft_evpart_" + d.replaceAll("[^A-Za-z0-9.-]", "_")
    t(s, d, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    ParquetFooters.read(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("sum_value"))
      .orderBy("user_id")
  }

  // Array aggregation: per-customer sorted order-total list reduced to
  // scalar probes (ends + middle). collect_list is partition-order
  // nondeterministic, so the gate-portable contract is collect + SORT;
  // the element probes hash-check that contract without emitting an
  // array column (driver compare is scalar-typed).
  def groupedArrays(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(col("o_custkey"))
      .agg(sort_array(collect_list(col("o_totalprice"))).as("totals"))
      .select(col("o_custkey"),
        size(col("totals")).cast("long").as("n_orders"),
        element_at(col("totals"), 1).as("min_total"),
        element_at(col("totals"), -1).as("max_total"),
        expr("element_at(totals, int((size(totals) + 1) div 2))").as("mid_total"))
      .orderBy("o_custkey")


  // Fuzzy string matching: distinct part-name pairs within edit
  // distance 2 — q-gram-blocked candidates, exact levenshtein filter
  // (identical unit-cost edit distance in both engines). The DuckDB
  // oracle runs the naive all-pairs form; equality proves the
  // count-filter blocking loses no pair.
  def fuzzyNamePairs(s: SparkSession, d: String): DataFrame =
    Dedup.editDistancePairs(t(s, d, "part"), "p_name", maxDist = 2)
      .orderBy("name_a", "name_b")

  // Robust scaling: (x − median)/IQR per customer balance — the
  // outlier-insensitive sibling of q60's z-score; exact percentile
  // edges make the scaled doubles bit-portable.
  def robustScaleBalances(s: SparkSession, d: String): DataFrame =
    graft.etl.Encoders.robustScale(
        t(s, d, "customer").select(col("c_custkey"), col("c_acctbal")),
        "c_acctbal", "acctbal_r")
      .orderBy("c_custkey")

  // Leave-one-out target encoding of order priority against the
  // "order finished" label: integer group counts and sums enter ONE
  // IEEE double expression written identically in the oracle, so the
  // encoded doubles hash-match.
  def targetEncodePriority(s: SparkSession, d: String): DataFrame =
    graft.etl.Encoders.targetEncodeLoo(
        t(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority"),
          col("o_orderstatus")),
        "o_orderpriority", col("o_orderstatus") === "F", "enc_f",
        smoothing = 10.0)
      .select(col("o_orderkey"), col("enc_f"))
      .orderBy("o_orderkey")

  // Quantile discretization: decile-bin o_totalprice and aggregate
  // per bin. Exact percentile edges are bit-identical to DuckDB
  // quantile_cont (the q42 contract), so bin boundaries — and
  // therefore every per-bin aggregate — hash-match.
  def decileBinning(s: SparkSession, d: String): DataFrame =
    graft.etl.Discretize.withQuantileBins(
        t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice")),
        "o_totalprice", nBins = 10)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast("double").as("total"),
        min(col("o_totalprice")).as("mn"),
        max(col("o_totalprice")).as("mx"))
      .orderBy("bin")

  // Incremental aggregate maintenance: state built from the pre-1999
  // orders, the 1999+ tail folded in as a delta — the oracle
  // recomputes over ALL orders, so the gate hash-checks
  // merge(build(base), delta) ≡ build(base ∪ delta) end-to-end.
  def incrementalAggRefresh(s: SparkSession, d: String): DataFrame = {
    import graft.operators.IncrementalAgg
    val orders = t(s, d, "orders")
    val cut = lit("1999-01-01").cast("timestamp")
    val keys = Seq("o_orderpriority")
    val state = IncrementalAgg.build(
      orders.filter(col("o_orderdate") < cut), keys, "o_totalprice")
    IncrementalAgg.merge(state,
        orders.filter(col("o_orderdate") >= cut), keys, "o_totalprice")
      .select(col("o_orderpriority"), col("cnt"),
        col("sm").cast("double").as("total"), col("mn"), col("mx"))
      .orderBy("o_orderpriority")
  }

  // Duplicate CLUSTERS from near-dup pairs: exact cosine pairs (the
  // q30 edge set) closed into connected components by the alternating
  // star algorithm, every vector labeled with its component's min id
  // (singletons label themselves). The DuckDB oracle recomputes the
  // transitive closure with a recursive CTE — a hash match proves the
  // O(log n) distributed algorithm equals the declarative fixpoint.
  def dupClusters(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val pairs = Similarity.cosineAllPairsTiled(emb, threshold = 0.4)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val comp = Components.connectedComponents(pairs)
    emb.select(col("vec_id"))
      .join(comp, col("vec_id") === col("node"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("component"))
      .orderBy("vec_id")
  }

  // Deterministic stratified sampling: per-source keep fractions
  // decided by md5(doc_id) — the same filter expression the oracle
  // runs, so the sampled row SET matches exactly (not just its size).
  def stratifiedSample(s: SparkSession, d: String): DataFrame =
    graft.etl.Sampling.stratifiedSample(
        t(s, d, "documents").select(col("doc_id"), col("source"), col("n_chars")),
        "source", col("doc_id"),
        fracs = Map("src0" -> 0.75, "src1" -> 0.5, "src2" -> 0.25),
        defaultFrac = 0.1)
      .orderBy("doc_id")

  // Fixed-size overlapping token chunks (64-token windows, stride 48)
  // — the context-window prep pass; narrow flatMap, zero shuffles.
  def chunkDocuments(s: SparkSession, d: String): DataFrame =
    Chunking.chunkTokens(t(s, d, "documents"), chunkSize = 64, overlap = 16)
      .orderBy("doc_id", "chunk_id")

  // Sequence-packing plan at a 512-token budget: per-source running
  // token offsets and the pack span each document occupies.
  def packingPlan(s: SparkSession, d: String): DataFrame =
    Chunking.packingPlan(t(s, d, "documents"), budget = 512)
      .orderBy("doc_id")

  // End-to-end near-dup dedup: MinHash pairs → connected components →
  // keep the min-id doc per cluster. Hash-gated since r12 via the
  // portable md5 base hash (the q26 discipline): the oracle replays
  // signatures, bands, est filter, AND the recursive closure;
  // transitive-retention semantics additionally spec-asserted against
  // driver-side union-find in ComponentsSpec.
  def nearDupDedup(s: SparkSession, d: String): DataFrame =
    Dedup.nearDupRetain(t(s, d, "documents"), portableHash = true)
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")

  // Corpus mix rebalancing: down-sample three sources to a 0.5/0.3/0.2
  // mix. Counts are equal per source, so src0's fraction computes to
  // EXACTLY 1.0 (0.5·scale/n with scale = n/0.5) — deliberately
  // exercising the keep-everything sentinel branch next to the two
  // md5-threshold branches, in both engines.
  def mixRebalance(s: SparkSession, d: String): DataFrame =
    graft.etl.Sampling.sampleToMix(
        t(s, d, "documents").select(col("doc_id"), col("source"), col("n_chars")),
        "source", col("doc_id"),
        targets = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
      .orderBy("doc_id")

  // Quality curation: top 40% per source by quality score, doc_id
  // tie-break — percent_rank window, exact integer-ratio doubles.
  def qualityTopFraction(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("source"),
      TextAnalysis.qualityScore(col("text")).as("quality"))
    graft.etl.Sampling
      .topFractionBy(docs, "source", 0.4, col("quality").desc, col("doc_id"))
      .orderBy("doc_id")
  }

  override def gates: Seq[Gate] = super.gates ++ Seq(
    Gate("q80_semantic_dedup", Family.Dedup, semanticDedupExact, _ =>
      """SELECT a.vec_id FROM embeddings a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM embeddings b
        |  WHERE b.vec_id < a.vec_id
        |    AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |          CAST(b.embedding AS DOUBLE[])) >= 0.45)
        |ORDER BY vec_id""".stripMargin),


    // DuckDB quirk: array_to_string of an EMPTY list is NULL, Spark's
    // array_join is '' — coalesce harmonizes the all-words-pruned edge
    Gate("q82_vocab_prune", Family.Lm, vocabPrune, _ =>
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS wd
        |           FROM documents),
        |dfreq AS (SELECT wd, count(DISTINCT doc_id) AS df FROM w GROUP BY wd),
        |stop AS (SELECT wd FROM dfreq ORDER BY df DESC, wd LIMIT 5),
        |sl AS (SELECT coalesce(list(wd), []) AS stop_list FROM stop)
        |SELECT doc_id,
        |  coalesce(array_to_string(list_filter(string_split(text, ' '),
        |    x -> NOT list_contains(stop_list, x)), ' '), '') AS pruned
        |FROM documents, sl ORDER BY doc_id""".stripMargin),


    Gate("q92_fuzzy_names", Family.Dedup, fuzzyNamePairs, _ =>
      """WITH n AS (SELECT DISTINCT p_name AS name FROM part
        |           WHERE p_name IS NOT NULL)
        |SELECT a.name AS name_a, b.name AS name_b,
        |  CAST(levenshtein(a.name, b.name) AS INT) AS dist
        |FROM n a, n b
        |WHERE a.name < b.name AND levenshtein(a.name, b.name) <= 2
        |ORDER BY name_a, name_b""".stripMargin),


    Gate("q90_robust_scale", Family.Fs, robustScaleBalances, _ =>
      """WITH q AS (
        |  SELECT quantile_cont(c_acctbal, 0.25) AS q1,
        |         quantile_cont(c_acctbal, 0.5)  AS med,
        |         quantile_cont(c_acctbal, 0.75) AS q3
        |  FROM customer)
        |SELECT c_custkey, c_acctbal,
        |  (c_acctbal - med) / (q3 - q1) AS acctbal_r
        |FROM customer, q ORDER BY c_custkey""".stripMargin),


    // same operation order as the Spark side: (cast(s_g - l) + m*prior)
    // / cast(n_g - 1 + m) — identical IEEE doubles on both engines
    Gate("q91_target_encoding", Family.Fs, targetEncodePriority, _ =>
      """WITH g AS (
        |  SELECT o_orderpriority, count(*) AS n_g,
        |    sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS s_g
        |  FROM orders GROUP BY o_orderpriority),
        |p AS (
        |  SELECT CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE)
        |      / count(*) AS prior
        |  FROM orders)
        |SELECT o_orderkey,
        |  (CAST(s_g - CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS DOUBLE)
        |     + 10.0 * prior)
        |  / CAST(n_g - 1 + 10.0 AS DOUBLE) AS enc_f
        |FROM orders JOIN g USING (o_orderpriority), p
        |ORDER BY o_orderkey""".stripMargin),


    // bin = #edges <= value on both sides; edges from quantile_cont
    // match Spark's exact percentile bit-for-bit (q42 contract)
    Gate("q89_decile_binning", Family.Fs, decileBinning, _ =>
      """WITH e AS (
        |  SELECT quantile_cont(o_totalprice,
        |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS edges
        |  FROM orders)
        |SELECT CAST(len(list_filter(edges, x -> x <= o_totalprice)) AS INT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  min(o_totalprice) AS mn, max(o_totalprice) AS mx
        |FROM orders, e GROUP BY bin ORDER BY bin""".stripMargin),


    // the partition-pruned scan must produce exactly what a plain
    // filtered scan of the source produces
    Gate("q87_partitioned_scan", Family.Sql, partitionedScan, _ =>
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin),


    Gate("q88_grouped_arrays", Family.Sql, groupedArrays, _ =>
      """WITH g AS (
        |  SELECT o_custkey, list_sort(list(o_totalprice)) AS totals,
        |         count(*) AS n
        |  FROM orders GROUP BY o_custkey)
        |SELECT o_custkey, CAST(n AS BIGINT) AS n_orders,
        |  totals[1] AS min_total, totals[-1] AS max_total,
        |  totals[CAST((n + 1) // 2 AS INT)] AS mid_total
        |FROM g ORDER BY o_custkey""".stripMargin),


    // the oracle aggregates ALL orders in one pass — the Spark side
    // must make base-state + delta-merge equal the full recompute
    Gate("q86_incremental_agg", Family.Sql, incrementalAggRefresh, _ =>
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  min(o_totalprice) AS mn, max(o_totalprice) AS mx
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),


    // recursive transitive closure over the q30 edge set — the
    // declarative fixpoint the alternating-star algorithm must equal
    Gate("q97_dup_clusters", Family.Graph, dupClusters, _ =>
      s"""WITH RECURSIVE $ccClosureCtesSql
         |SELECT node AS vec_id, min(lbl) AS component
         |FROM reach GROUP BY node ORDER BY vec_id""".stripMargin),


    // semantic decontamination: max probe cosine per vector, retained
    // set below the threshold — exact doubles both engines
    Gate("q187_semantic_decontam", Family.Dedup, semanticDecontam, _ =>
      """WITH p AS (SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS pe
        |           FROM embeddings WHERE vec_id % 100 = 3),
        |m AS (SELECT e.vec_id,
        |        max(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), pe))
        |          AS max_probe_cos
        |      FROM embeddings e CROSS JOIN p
        |      WHERE e.vec_id != pid
        |      GROUP BY e.vec_id)
        |SELECT vec_id, max_probe_cos FROM m
        |WHERE max_probe_cos < 0.3 ORDER BY vec_id""".stripMargin),


    // invariant gate (r12): the clustered-SemDeDup retained set is
    // engine-specific; the booleans assert clustering-independent facts
    Gate("q81_semdedup_clustered", Family.Dedup, semanticDedupClustered, _ =>
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  TRUE AS dropped_have_earlier_dup,
        |  TRUE AS retained_bounds_ok
        |FROM embeddings""".stripMargin),


    // portable-MinHash end-to-end dedup replay (r12): word-3-gram
    // md5-52 signatures → banded candidates → est >= 0.5 edges →
    // recursive closure → keep each component's min id. The full
    // q26-pipeline + q97-closure composition as ONE oracle.
    Gate("q101_neardup_dedup", Family.Dedup, nearDupDedup, _ =>
      s"""WITH RECURSIVE
         |${minhashEstCtesSql("documents", n = 3, numHashes = 32, bands = 8)},
         |mpairs AS (SELECT id_a, id_b FROM mest WHERE est_jaccard >= 0.5),
         |medges AS (SELECT id_a AS u, id_b AS v FROM mpairs
         |  UNION SELECT id_b AS u, id_a AS v FROM mpairs),
         |mreach(node, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.node, e.v FROM mreach r JOIN medges e ON e.u = r.lbl),
         |mcomp AS (SELECT node, min(lbl) AS component FROM mreach GROUP BY node)
         |SELECT d.doc_id, d.source FROM documents d
         |JOIN mcomp c ON c.node = d.doc_id
         |WHERE c.component = d.doc_id ORDER BY d.doc_id""".stripMargin),


    // same md5 threshold CASE as the Spark filter — the sampled SET
    // must match row-for-row, not merely in expectation
    Gate("q98_stratified_sample", Family.Sketch, stratifiedSample, _ =>
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE md5(CAST(doc_id AS VARCHAR)) <
        |  CASE source WHEN 'src0' THEN 'c0000000' WHEN 'src1' THEN '80000000'
        |              WHEN 'src2' THEN '40000000' ELSE '19999999' END
        |ORDER BY doc_id""".stripMargin),


    Gate("q99_chunk_documents", Family.Lm, chunkDocuments, _ =>
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents
        |), k AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) = 0 THEN 0
        |         ELSE 1 + CAST(floor((greatest(len(toks) - 64, 0) + 47) / 48.0) AS BIGINT) END AS nchunks
        |  FROM d
        |), e AS (
        |  SELECT doc_id, toks, unnest(range(0, nchunks)) AS chunk_id FROM k
        |)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(chunk_id * 48 AS BIGINT) AS start_tok,
        |  array_to_string(list_slice(toks, chunk_id*48 + 1, chunk_id*48 + 64), ' ') AS chunk_text,
        |  CAST(len(list_slice(toks, chunk_id*48 + 1, chunk_id*48 + 64)) AS INTEGER) AS n_tokens
        |FROM e ORDER BY doc_id, chunk_id""".stripMargin),


    Gate("q100_packing_plan", Family.Lm, packingPlan, _ =>
      s"""WITH tc AS (
         |  SELECT doc_id, source, CAST($tokenCountSql AS BIGINT) AS n_tokens
         |  FROM documents
         |)
         |SELECT doc_id, source, n_tokens,
         |  CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS start_tok,
         |  CAST(sum(n_tokens) OVER w AS BIGINT) AS end_tok,
         |  CAST(floor((sum(n_tokens) OVER w - n_tokens) / 512.0) AS BIGINT) AS first_pack,
         |  CAST(floor(greatest(sum(n_tokens) OVER w - 1,
         |             sum(n_tokens) OVER w - n_tokens) / 512.0) AS BIGINT) AS last_pack
         |FROM tc
         |WINDOW w AS (PARTITION BY source ORDER BY doc_id)
         |ORDER BY doc_id""".stripMargin),


    // same fraction arithmetic as Sampling.sampleToMix, step for step
    // (min-scale, least with 1.0, floor to the 8-hex threshold); the
    // >= 1.0 branch mirrors the Scala keep-everything sentinel
    Gate("q103_mix_rebalance", Family.Lm, mixRebalance, _ =>
      """WITH targets(source, t) AS (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)),
        |counts AS (
        |  SELECT source, CAST(count(*) AS DOUBLE) AS n
        |  FROM documents JOIN targets USING (source) GROUP BY source),
        |sc AS (SELECT min(n / t) AS scale FROM counts JOIN targets USING (source)),
        |f AS (
        |  SELECT source, least(t * scale / n, 1.0) AS frac
        |  FROM targets JOIN counts USING (source) CROSS JOIN sc)
        |SELECT doc_id, source, n_chars
        |FROM documents JOIN f USING (source)
        |WHERE md5(CAST(doc_id AS VARCHAR)) <
        |  CASE WHEN frac >= 1.0 THEN 'g'
        |       ELSE printf('%08x', CAST(floor(frac * 4294967296.0) AS BIGINT)) END
        |ORDER BY doc_id""".stripMargin),


    Gate("q104_quality_top_frac", Family.Lm, qualityTopFraction, _ =>
      s"""WITH f AS (SELECT doc_id, source,
         |    CAST(length(text) AS DOUBLE) AS nc,
         |    CAST($tokenCountSql AS DOUBLE) AS nt,
         |    CAST(${stopHitsSql(TextAnalysis.stopwords("en"))} AS DOUBLE) AS ns
         |  FROM documents),
         |q AS (SELECT doc_id, source,
         |  (CASE WHEN nc >= 100 AND nc <= 10000 THEN 1.0
         |        WHEN nc > 0 THEN 0.5 ELSE 0.0 END) * 0.5
         |  + (CASE WHEN (CASE WHEN nt > 0 THEN ns / nt ELSE 0.0 END) > 0.05 THEN 1.0
         |          ELSE (CASE WHEN nt > 0 THEN ns / nt ELSE 0.0 END) / 0.05 END) * 0.5
         |    AS quality
         |  FROM f),
         |r AS (SELECT doc_id, source, quality,
         |  percent_rank() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS pr
         |  FROM q)
         |SELECT doc_id, source, quality FROM r WHERE pr <= 0.4
         |ORDER BY doc_id""".stripMargin),


  )
}
