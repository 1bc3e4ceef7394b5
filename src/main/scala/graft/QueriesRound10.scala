package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Components, Dedup, Perceptron, Similarity, TextAnalysis}
import graft.fs.{FeatureLookup, FeatureStore, FeatureTableSpec, LogisticScorer,
  PointInTime, ScorerRegistry, WriteMode}

/** Fixtures shared between round-10 queries and their oracles — ONE
  * definition per semantic constant (as for the shared oracle snippets).
  */
private[graft] object Round10Fixtures {
  /** Hand-computable BPE merge table for the q139 gate, rank-ordered.
    * Exercises multi-level merges (t+h → th, th+e → the; i+n → in,
    * in+g → ing) and order sensitivity ((i,n) outranking (a,n) means
    * "ain" segments a·in, never an·i).
    */
  val bpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "an" -> "d",
    "e" -> "r", "o" -> "n", "r" -> "e", "s" -> "t", "in" -> "g")

  /** Number of learned merges in the q142 training gate — shared by the
    * Spark loop and the unrolled oracle CTE count.
    */
  val bpeTrainMerges: Int = 8
}

/** Gate queries — round 10: the near-dup retention composition verified
  * over an EXACT pair set, and the serving/maintenance tier added this
  * round (BPE segmentation, delta-CC, decay→feature-store composition).
  */
private[graft] trait PipelinesRound10 extends PipelinesBase {

  /** The q101 composition (pairs → connected components → min-id
    * retention) run over the EXACT tiled-cosine edge set (the q97/q130
    * dup graph) instead of MinHash candidates. q101 stays rows-only
    * because its candidate set depends on Spark's hash functions; here
    * the pair set is engine-portable, so the WHOLE retention pipeline —
    * star-contraction components included — hash-gates against DuckDB's
    * recursive transitive closure. Plan shape is unchanged from
    * production: tiled equi-join pair generation, O(log n) component
    * rounds, one left-anti join against the non-min members.
    */
  def nearDupRetainExact(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val pairs = Similarity.cosineAllPairsTiled(emb, threshold = 0.4)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    Dedup.retainFromPairs(emb, pairs, "vec_id")
      .select(col("vec_id"), col("label"))
      .orderBy("vec_id")
  }

  /** BPE tokenizer APPLICATION over the documents fixture: segment
    * every word with the [[Round10Fixtures.bpeMerges]] table. The plan
    * is one scan projection (the merge table unrolls into literal
    * replaces inside a transform lambda); the oracle replays the
    * identical wrapped-separator replace chain in DuckDB, so the gate
    * pins the full segmentation — piece boundaries, merge order,
    * overlap handling — not just counts.
    */
  def bpeSegmentDocs(s: SparkSession, d: String): DataFrame = {
    val segs = TextAnalysis.bpeSegment(
      tSpread(s, d, "documents"), "text", Round10Fixtures.bpeMerges)
    segs.select(col("doc_id"),
      size(TextAnalysis.bpePieces(col("bpe_segments"))).cast("long").as("n_pieces"),
      concat_ws(" | ", col("bpe_segments")).as("seg_text"))
      .orderBy("doc_id")
  }

  /** Delta-CC maintenance gate: the exact cosine edge set splits by
    * parity of (src + dst) into a "prior" half and a "delta" half;
    * [[Components.connectedComponents]] labels the prior half from
    * scratch and [[Components.incrementalComponents]] merges the delta
    * in. The result must equal the recursive closure of the FULL edge
    * set — the q97 oracle verbatim — so the star-compression argument
    * (stars ∪ delta ≡ full graph) is hash-verified, not just
    * spec-asserted. The split is plain integer arithmetic, replayable
    * by any engine.
    */
  def deltaCcLabels(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    // materialize the pair set once: both the prior half and the delta
    // half filter it, and without the lineage cut each consumer would
    // re-run the Θ(n²) tiled all-pairs generation
    val pairs = Similarity.cosineAllPairsTiled(emb, threshold = 0.4)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .localCheckpoint(true)
    val prior = Components.connectedComponents(
      pairs.filter((col("src") + col("dst")) % 2 === 0))
    val labels = Components.incrementalComponents(prior,
      pairs.filter((col("src") + col("dst")) % 2 === 1))
    emb.select(col("vec_id"))
      .join(labels, col("vec_id") === col("node"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("component"))
      .orderBy("vec_id")
  }

  /** Decay tier × feature store, end-to-end (the reference's own
    * pipeline shape, FS:411-435): the q137 day-bucketed decayed
    * aggregates flow through the K5 merge path — a STALE snapshot
    * (decayed features computed over a quarter of the events) written
    * first, then the fresh full-window refresh MERGED over it (every
    * stale key updated, newly active users inserted) — and are then
    * consumed through the J4 scoring path: a registry model whose
    * FeatureLookups join the decayed table onto a customer spine,
    * customers with no event history taking the NULL→0 logistic
    * contribution. The oracle replays decayed features + scoring join
    * directly, so any corruption introduced by merge, lookup join, or
    * scoring arithmetic breaks the hash.
    */
  def decayedScoring(s: SparkSession, d: String): DataFrame = {
    val events = t(s, d, "events")
    def decayed(df: DataFrame) =
      graft.operators.Decay.decayedDailySumQuantized(df,
        "user_id", "ts", "value", maxAgeDays = 30, halfLifeDays = 7)
    val store = FeatureStore.temp(s)
    val stale = decayed(events.filter(col("event_id") % 4 === 0))
    store.createTable(FeatureTableSpec("decayed_daily", Seq("user_id"),
      stale.schema, "day-bucketed decayed user activity (q137 tier)"))
    store.writeTable("decayed_daily", stale, WriteMode.Merge)
    store.writeTable("decayed_daily", decayed(events), WriteMode.Merge)
    val registry = new ScorerRegistry
    registry.register(LogisticScorer(
      name = "activity_model", version = 1,
      lookups = Seq(
        FeatureLookup("decayed_daily", "n_events", "user_id"),
        FeatureLookup("decayed_daily", "decayed_q", "user_id")),
      weights = Map("n_events" -> 0.01, "decayed_q" -> 0.0000005),
      bias = -1.8)) // ≈ -(median margin): balanced True/False split
    val batch = t(s, d, "customer").select(col("c_custkey").as("user_id"))
    registry.scoreBatch(store, "models:/activity_model/1", batch)
      .orderBy("user_id")
  }

  /** The full BPE TRAINING loop over the documents fixture: 8 merges
    * learned by [[TextAnalysis.bpeTrain]] (per iteration: one vocab
    * hash agg, a deterministic 1-row argmax to the driver, a narrow
    * replace). The oracle replays the identical loop as 8 unrolled
    * MATERIALIZED CTE stages (the q131 unrolled-recurrence pattern —
    * materialization matters: inlined CTEs re-expand the previous
    * stage per reference, going exponential), so merge selection,
    * tie-breaks, and the representation rewrite are all hash-checked.
    */
  def bpeTrainMerges(s: SparkSession, d: String): DataFrame = {
    val merges = TextAnalysis.bpeTrain(t(s, d, "documents"), "text",
      numMerges = Round10Fixtures.bpeTrainMerges)
    import s.implicits._
    merges.zipWithIndex
      .map { case ((l, r), i) => (i + 1L, l, r) }
      .toDF("merge_rank", "lhs", "rhs")
      .orderBy("merge_rank")
  }

  /** Supervised training gate: 3 batch-perceptron iterations learning
    * an is-English classifier over hashed unigram counts (the q128
    * bucket scheme; label = lang = 'en'). All-integer recurrence, so
    * the oracle replays the exact weight trajectory as 3 unrolled
    * MATERIALIZED CTE stages — margins, misclassified set, per-bucket
    * updates, bias — and the final 257-row weight vector hash-matches.
    */
  def perceptronTrain(s: SparkSession, d: String): DataFrame = {
    // trains on memo miss (the training cost lands HERE; q144 then
    // serves the memoized weights — train once, serve many)
    val w = corpusPerceptronWeights(s, d)
    import s.implicits._
    w.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("pos", "weight").orderBy("pos")
  }

  /** Rank-canonical retention: per duplicate cluster keep the
    * highest-PageRank member instead of the minimum id — q138's
    * composition with the q130 centrality substituted as the survivor
    * policy. Both the closure and the 5-iteration rank recurrence
    * replay in the oracle from shared CTE snippets, so the complete
    * pick-the-representative pipeline is hash-verified.
    */
  def rankRetainExact(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val pairs = Similarity.cosineAllPairsTiled(emb, threshold = 0.4)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    Dedup.retainFromPairsByRank(emb, pairs, "vec_id")
      .select(col("vec_id"), col("label"))
      .orderBy("vec_id")
  }

  /** Hard-negative mining over the embeddings fixture: for anchors
    * 0/1/2, the 5 most-cosine-similar vectors with a DIFFERENT label —
    * the q126 scan shape at full dimensionality plus a label-mismatch
    * filter ahead of the top-k heaps.
    */
  def hardNegatives(s: SparkSession, d: String): DataFrame =
    ext.Retrieval.hardNegativeTopK(t(s, d, "embeddings"), "embedding",
      "vec_id", "label", queryIds = Seq(0L, 1L, 2L), k = 5, dims = 64)
      .select(col("query_id"), col("rnk"), col("vec_id"), col("label"),
        col("cos_tq"))
      .orderBy("query_id", "rnk")

  /** Per-source dataset card over the documents fixture — one scan of
    * conditional aggregates plus the distinct-fingerprint Expand; every
    * output an exact integer.
    */
  def corpusCardBySource(s: SparkSession, d: String): DataFrame =
    TextAnalysis.corpusCard(t(s, d, "documents"), "text", "source")
      .orderBy("source")

  /** Feature-TTL as-of lookup: the q33 spine/daily-features shape with
    * a 2-day max staleness — probes whose latest feature version is
    * older than the TTL take NULLs instead of an arbitrarily stale
    * value. The oracle is the q33 ASOF JOIN with the staleness CASE
    * applied on exact epoch-µs arithmetic.
    */
  def pitTtlLookup(s: SparkSession, d: String): DataFrame = {
    val events = t(s, d, "events")
    val daily = events
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day_ts"))
      .agg(count(lit(1)).as("day_events"))
    val spine = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    PointInTime.asOfJoinWithTtl(spine, daily,
      keys = Seq("user_id"), spineTs = "ts", featTs = "day_ts",
      featureCols = Seq("day_events"),
      maxStalenessMicros = 2L * 86400000000L)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"),
        col("value"), col("day_events"))
      .orderBy("event_id")
  }

  /** Length-bucketed batching prep: documents assigned to token-count
    * quartile buckets (the q89 exact-quantile discretizer composed over
    * the q22 token counter) with per-bucket batch statistics — the
    * batch-shape step before packing/inference, where mixing a 10-token
    * and a 4k-token doc in one batch wastes the padding. One scan for
    * the edges, one for the assignment, one bucket agg; all exact.
    */
  def lengthBuckets(s: SparkSession, d: String): DataFrame = {
    val withTokens = t(s, d, "documents")
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    graft.etl.Discretize.withQuantileBins(withTokens, "n_tokens", nBins = 4,
        outCol = "length_bucket")
      .groupBy(col("length_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      .orderBy("length_bucket")
  }

  /** Embedding drift between the even/odd vec_id halves of the
    * embeddings fixture — per label, the quantized squared centroid
    * distance (q123 arithmetic on both snapshots, quantize-before-sum
    * across dims).
    */
  def embeddingDriftHalves(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    graft.operators.Drift.embeddingDrift(
      emb.filter(col("vec_id") % 2 === 0),
      emb.filter(col("vec_id") % 2 === 1),
      "label", "embedding")
      .orderBy("label")
  }

  /** Train→serve round-trip: the q143 weights come back as a LITERAL
    * array inside one scan-projection scoring pass
    * ([[Perceptron.hashedPerceptronScore]] — zero joins, zero
    * shuffles), and every document's margin and prediction must match
    * the oracle's relational replay of the same model. This is the
    * quality-classifier pipeline a curation run deploys: train
    * periodically, score the corpus as a pure projection.
    */
  def perceptronScore(s: SparkSession, d: String): DataFrame = {
    val docs = tSpread(s, d, "documents")
    // train-once-serve-many: the memoized q143 weights (Bench drops
    // the memo between passes), so this gate measures SERVING
    val w = corpusPerceptronWeights(s, d)
    Perceptron.hashedPerceptronScore(docs, "doc_id", "text", w)
      .orderBy("doc_id")
  }

  override def gates: Seq[Gate] = super.gates ++ Seq(

    // retained = nodes that are their component's minimum label under
    // the recursive closure of the exact cosine edge set — singletons
    // (no edges) are their own component and always survive
    Gate("q138_neardup_retain_exact", Family.Dedup, nearDupRetainExact, _ =>
      s"""WITH RECURSIVE $ccClosureCtesSql,
         |comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node)
         |SELECT e.vec_id, e.label
         |FROM embeddings e JOIN comp c ON e.vec_id = c.node
         |WHERE c.component = c.node
         |ORDER BY e.vec_id""".stripMargin),

    // the same wrapped-separator replace chain, built from the same
    // merge table — DuckDB replace() and Spark replace() share
    // all-occurrence left-to-right semantics, so the representations
    // are bit-identical
    Gate("q139_bpe_segment", Family.Lm, bpeSegmentDocs, _ => {
      val SEP = "\u001f"
      val wrapped =
        s"array_to_string(list_transform(range(1, length(w)+1), i -> '$SEP' || substr(w, i, 1) || '$SEP'), '')"
      val merged = Round10Fixtures.bpeMerges.foldLeft(wrapped) {
        case (acc, (l, r)) => s"replace($acc, '$SEP$l$SEP$SEP$r$SEP', '$SEP$l$r$SEP')"
      }
      val segExpr = s"trim(replace($merged, '$SEP$SEP', ' '), '$SEP')"
      s"""WITH d AS (SELECT doc_id,
         |    CASE WHEN length(trim(text)) = 0 THEN []
         |         ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS toks
         |  FROM documents),
         |s AS (SELECT doc_id, list_transform(toks, w -> $segExpr) AS segs FROM d)
         |SELECT doc_id,
         |  CAST(coalesce(list_sum(list_transform(segs, x -> len(string_split(x, ' ')))), 0) AS BIGINT) AS n_pieces,
         |  coalesce(array_to_string(segs, ' | '), '') AS seg_text
         |FROM s ORDER BY doc_id""".stripMargin
    }),

    // incremental ≡ full: the closure over ALL edges (the q97 oracle,
    // shared CTE) — the prior/delta split must be invisible in the
    // final labeling
    Gate("q140_delta_cc", Family.Graph, deltaCcLabels, _ =>
      s"""WITH RECURSIVE $ccClosureCtesSql
         |SELECT node AS vec_id, min(lbl) AS component
         |FROM reach GROUP BY node ORDER BY vec_id""".stripMargin),

    // final merged table ≡ full-window decayed features (the stale
    // quarter-snapshot is fully overwritten: its users all reappear in
    // the refresh), then the J4 scoring join replayed literally —
    // weights added in the scorer's sorted-column order (decayed_q,
    // then n_events), NULL lookups coalesced to 0.0
    Gate("q141_decayed_scoring", Family.Fs, decayedScoring, _ =>
      """WITH e AS (
        |  SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
        |    CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT) AS vq
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |ds AS (
        |  SELECT user_id, day_us, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(vq) AS BIGINT) AS sum_vq
        |  FROM e GROUP BY 1, 2),
        |r AS (SELECT max(day_us) AS ref FROM ds),
        |a AS (
        |  SELECT user_id, n_events, sum_vq,
        |    CAST((ref - day_us - ((ref - day_us) % 86400000000))
        |      / 86400000000 AS BIGINT) AS age
        |  FROM ds CROSS JOIN r),
        |w AS (
        |  SELECT user_id, n_events,
        |    sum_vq * (CAST(1 AS BIGINT)
        |      << CAST(4 - (age - (age % 7)) / 7 AS INTEGER)) AS wv
        |  FROM a WHERE age < 30),
        |dec AS (
        |  SELECT user_id, CAST(sum(n_events) AS BIGINT) AS n_events,
        |    CAST(sum(wv) AS BIGINT) AS decayed_q
        |  FROM w GROUP BY user_id)
        |SELECT c.c_custkey AS user_id, dec.n_events, dec.decayed_q,
        |  CASE WHEN ((CAST(-1.8e0 AS DOUBLE)
        |      + coalesce(CAST(dec.decayed_q AS DOUBLE), 0.0e0) * CAST(0.0000005e0 AS DOUBLE))
        |      + coalesce(CAST(dec.n_events AS DOUBLE), 0.0e0) * CAST(0.01e0 AS DOUBLE)) > 0
        |    THEN 'True' ELSE 'False' END AS prediction
        |FROM customer c LEFT JOIN dec ON c.c_custkey = dec.user_id
        |ORDER BY user_id""".stripMargin),

    // the training loop unrolled via the shared bpeTrainCtesSql
    // builder (one MATERIALIZED CTE stage per merge -- inlining would
    // re-expand the previous vocab once per reference, exponential);
    // argmax tie-break (cnt DESC, l, r) and the >= 2 min-count mirror
    // bpeTrain exactly
    Gate("q142_bpe_train", Family.Lm, bpeTrainMerges, _ => {
      val n = Round10Fixtures.bpeTrainMerges
      val sel = (1 to n)
        .map(k => s"SELECT CAST($k AS BIGINT) AS merge_rank, l AS lhs, r AS rhs FROM m$k")
        .mkString("\nUNION ALL\n")
      s"WITH ${bpeTrainCtesSql(n)}\n$sel\nORDER BY merge_rank"
    }),

    // q123's per-snapshot centroid arithmetic, squared mean differences
    // floor-quantized BEFORE the cross-dim sum (§5.3)
    Gate("q150_embedding_drift", Family.Sketch, embeddingDriftHalves, _ =>
      """WITH da AS (
        |  SELECT label, u.i AS pos, CAST(count(*) AS BIGINT) AS na,
        |    CAST(sum(CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 1000000.0e0 + 0.5e0)
        |      AS BIGINT)) AS BIGINT) AS sa
        |  FROM embeddings, generate_series(1, 64) AS u(i)
        |  WHERE vec_id % 2 = 0 GROUP BY 1, 2),
        |db AS (
        |  SELECT label, u.i AS pos, CAST(count(*) AS BIGINT) AS nb,
        |    CAST(sum(CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 1000000.0e0 + 0.5e0)
        |      AS BIGINT)) AS BIGINT) AS sb
        |  FROM embeddings, generate_series(1, 64) AS u(i)
        |  WHERE vec_id % 2 = 1 GROUP BY 1, 2),
        |t AS (
        |  SELECT da.label, da.na, db.nb,
        |    CAST(floor((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
        |      * (CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb) + 0.5e0)
        |      AS BIGINT) AS tq
        |  FROM da JOIN db USING (label, pos))
        |SELECT label, CAST(max(na) AS BIGINT) AS n_base,
        |  CAST(max(nb) AS BIGINT) AS n_current,
        |  CAST(sum(tq) AS BIGINT) AS drift_q
        |FROM t GROUP BY label ORDER BY label""".stripMargin),

    // the q89 quantile_cont bucket rule over the shared token counter;
    // counts and token sums are exact integers
    Gate("q149_length_buckets", Family.Lm, lengthBuckets, _ =>
      s"""WITH tc AS (SELECT doc_id, CAST($tokenCountSql AS BIGINT) AS n_tokens
         |  FROM documents),
         |e AS (SELECT quantile_cont(CAST(n_tokens AS DOUBLE), [0.25, 0.5, 0.75]) AS edges
         |  FROM tc)
         |SELECT CAST(len(list_filter(edges, x -> x <= n_tokens)) AS INT) AS length_bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |  CAST(min(n_tokens) AS BIGINT) AS min_tokens,
         |  CAST(max(n_tokens) AS BIGINT) AS max_tokens
         |FROM tc, e GROUP BY length_bucket ORDER BY length_bucket""".stripMargin),

    // the q33 ASOF oracle with a staleness CASE on exact epoch-µs
    // arithmetic — matches outside the 2-day TTL become NULL
    Gate("q148_pit_ttl", Family.Fs, pitTtlLookup, _ =>
      """WITH daily AS (
        |  SELECT user_id, date_trunc('day', ts) AS day_ts,
        |    CAST(count(*) AS BIGINT) AS day_events
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'purchase')
        |SELECT s.event_id, s.user_id, epoch_us(s.ts) AS ts_us, s.value,
        |  CASE WHEN epoch_us(s.ts) - epoch_us(d.day_ts) <= 172800000000
        |       THEN d.day_events END AS day_events
        |FROM spine s ASOF LEFT JOIN daily d
        |  ON s.user_id = d.user_id AND s.ts >= d.day_ts
        |ORDER BY s.event_id""".stripMargin),

    // the shared token-count and fingerprint snippets feed per-source
    // conditional aggregates — every output an exact integer
    Gate("q147_corpus_card", Family.Lm, corpusCardBySource, _ =>
      s"""WITH d AS (SELECT source, lang,
         |    CAST($tokenCountSql AS BIGINT) AS nt,
         |    CAST(length(text) AS BIGINT) AS nc,
         |    $fpSql AS fp
         |  FROM documents)
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(nt) AS BIGINT) AS n_tokens,
         |  CAST(sum(nc) AS BIGINT) AS n_chars,
         |  CAST(sum(CASE WHEN nt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
         |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
         |  CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_fp,
         |  CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_exact_dups
         |FROM d GROUP BY source ORDER BY source""".stripMargin),

    // q126's brute-force cosine shape at full dimensionality with the
    // null-safe label-mismatch filter — every arithmetic step mirrored
    // (1e6-quantized components, 1e9-quantized cosine, zero-norm guard)
    Gate("q146_hard_negatives", Family.Ann, hardNegatives, _ =>
      s"""WITH $hardNegCtesSql
         |SELECT query_id, rnk, vec_id, label, cos_tq FROM rk WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin),

    // the q138 retention flipped to the max-PageRank survivor: the
    // recursive closure picks clusters, the shared rank recurrence
    // scores members, row_number picks (rq DESC, node) per cluster
    Gate("q145_rank_retention", Family.Dedup, rankRetainExact, _ =>
      s"""WITH RECURSIVE $ccClosureCtesSql,
         |${pageRankCtesSql(5)},
         |comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
         |ranked AS (
         |  SELECT c.component, c.node,
         |    row_number() OVER (PARTITION BY c.component
         |      ORDER BY r.rq DESC, c.node) AS rk
         |  FROM comp c JOIN r5 r ON r.node = c.node),
         |dropped AS (SELECT node FROM ranked WHERE rk > 1)
         |SELECT e.vec_id, e.label
         |FROM embeddings e LEFT JOIN dropped d ON e.vec_id = d.node
         |WHERE d.node IS NULL
         |ORDER BY e.vec_id""".stripMargin),

    // the full-batch perceptron recurrence unrolled (the q131/q142
    // pattern): w0 = 0; per iteration margins via a weight join,
    // y·margin <= 0 selects the misclassified set, per-bucket and bias
    // updates add in. Bucket ints derive from the md5 hex prefix with
    // the strpos idiom (matching Spark's conv(substring(md5,1,2),16,10))
    Gate("q143_perceptron_train", Family.Lm, perceptronTrain, _ =>
      s"""WITH ${perceptronCtesSql(3)}
         |SELECT pos, CAST(w AS BIGINT) AS weight FROM w3 ORDER BY pos""".stripMargin),

    // train→serve round-trip: the SAME trained-weight CTEs (one source
    // of truth with q143) joined back onto every document's feature
    // counts — margin and prediction must match Spark's literal-array
    // scan projection exactly
    Gate("q144_perceptron_score", Family.Lm, perceptronScore, _ =>
      s"""WITH ${perceptronCtesSql(3)},
         |sc AS (
         |  SELECT f.doc_id, CAST(sum(f.cnt * w.w) AS BIGINT) AS dot
         |  FROM f JOIN w3 w ON w.pos = f.pos
         |  GROUP BY 1)
         |SELECT y.doc_id,
         |  CAST(coalesce(sc.dot, 0) + (SELECT w FROM w3 WHERE pos = 256) AS BIGINT) AS margin_q,
         |  (coalesce(sc.dot, 0) + (SELECT w FROM w3 WHERE pos = 256)) > 0 AS predicted
         |FROM y LEFT JOIN sc USING (doc_id)
         |ORDER BY y.doc_id""".stripMargin),
  )

  /** The q143/q144 shared trained-model recurrence: hashed-unigram
    * feature counts, ±1 labels, zero-initialized weights, and `n`
    * unrolled batch-perceptron stages ending in `w{n}`. `trainWhere`
    * restricts the TRAINING slice (q151 trains on a labeled subset);
    * empty = the full documents table (q143/q144).
    */
  protected def perceptronCtesSql(n: Int, trainWhere: String = ""): String = {
    def stage(k: Int): String =
      s"""d$k AS MATERIALIZED (
         |  SELECT f.doc_id, CAST(sum(f.cnt * w.w) AS BIGINT) AS dot
         |  FROM f JOIN w${k - 1} w ON w.pos = f.pos
         |  GROUP BY 1),
         |m$k AS MATERIALIZED (
         |  SELECT y.doc_id, y.y,
         |    coalesce(d.dot, 0) + (SELECT w FROM w${k - 1} WHERE pos = 256) AS mar
         |  FROM y LEFT JOIN d$k d USING (doc_id)),
         |u$k AS MATERIALIZED (
         |  SELECT f.pos, CAST(sum(m.y * f.cnt) AS BIGINT) AS up
         |  FROM m$k m JOIN f USING (doc_id)
         |  WHERE m.y * m.mar <= 0 GROUP BY 1
         |  UNION ALL
         |  SELECT 256, CAST(sum(y) AS BIGINT) FROM m$k WHERE y * mar <= 0),
         |w$k AS MATERIALIZED (
         |  SELECT w.pos, w.w + coalesce(u.up, 0) AS w
         |  FROM w${k - 1} w LEFT JOIN u$k u USING (pos))""".stripMargin
    s"""f AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST((strpos('0123456789abcdef', substr(md5(term), 1, 1)) - 1) * 16
       |      + (strpos('0123456789abcdef', substr(md5(term), 2, 1)) - 1) AS BIGINT) AS pos,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT doc_id, unnest(CASE WHEN length(trim(text)) = 0 THEN []
       |        ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END) AS term
       |      FROM documents$trainWhere)
       |  GROUP BY 1, 2),
       |y AS MATERIALIZED (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
       |  FROM documents$trainWhere),
       |w0 AS MATERIALIZED (
       |  SELECT CAST(pos AS BIGINT) AS pos, CAST(0 AS BIGINT) AS w
       |  FROM range(0, 257) t(pos)),
       |${(1 to n).map(stage).mkString(",\n")}""".stripMargin
  }
}
