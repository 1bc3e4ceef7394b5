package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.etl.Features
import graft.ext.{Chunking, Components, Dedup, Pq, Similarity, TextAnalysis}
import graft.fs.{FeatureTableSpec, PointInTime, WriteMode}

/** Gate queries — the batch 9/10 scale operators — matryoshka ANN, priority
  * sampling, DSIR, bigram LM, PageRank, k-means, triangles,
  * classifier scoring, decay aggregates, winsorization,
  * nearest as-of join.
  */
private[graft] trait PipelinesScaleOps extends PipelinesBase {

  // batch 9 — matryoshka retrieval, priority sampling, DSIR scoring,
  // bigram LM, quantized PageRank

  // Matryoshka-truncation retrieval: 3-query top-10 over the first 16
  // of 64 dims — the no-codebook compression tier (¼ the FLOPs/bytes).
  // Exact quantized-integer dots; per-query WindowGroupLimit top-k.
  def matryoshkaAnn(s: SparkSession, d: String): DataFrame =
    ext.Retrieval.truncatedCosineTopK(t(s, d, "embeddings"), "embedding",
      "vec_id", queryIds = Seq(0L, 1L, 2L), k = 10, dims = 16)
      .orderBy("query_id", "rnk")

  // Token-budget weighted sampling: per-source top-8 documents by
  // priority n_chars/u (Duffield et al. priority sampling) — the
  // reproducible "sample long documents proportionally more" pass.
  def prioritySampleDocs(s: SparkSession, d: String): DataFrame =
    graft.etl.Sampling.prioritySampleByStratum(
        t(s, d, "documents").select(col("doc_id"), col("source"), col("n_chars")),
        "source", col("doc_id"), col("n_chars"), k = 8)
      .select(col("doc_id"), col("source"), col("n_chars"), col("prio_rank"),
        floor(graft.etl.Sampling.priorityColumn(col("doc_id"), col("n_chars"))
          * lit(1e12) + lit(0.5)).cast("long").as("prio_q"))
      .orderBy("source", "prio_rank")

  // DSIR-style hashed-unigram importance score of every document
  // toward the English slice of the corpus (Xie et al. 2023 shape,
  // linear-domain quantized — §5.3: ln is not oracle-portable).
  def dsirScores(s: SparkSession, d: String): DataFrame =
    TextAnalysis.hashedImportanceScores(tSpread(s, d, "documents"), "doc_id",
      "text", col("lang") === "en")
      .orderBy("doc_id")

  // Interpolated bigram-LM familiarity score (λ=0.7 bigram, 1−λ
  // unigram backoff) — the next perplexity-proxy tier above q117's
  // unigram score.
  def bigramLm(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bigramLmScores(tSpread(s, d, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  // Integer-quantized PageRank over the near-dup similarity graph (the
  // q97 edge set): 5 synchronous iterations of exact BIGINT
  // arithmetic, so the DuckDB oracle's unrolled recurrence matches
  // hash-for-hash — centrality ranks the canonical doc per dup
  // cluster by "most-connected" instead of min-id.
  def pageRankDups(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val pairs = Similarity.cosineAllPairsTiled(emb, threshold = 0.4)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    Components.pageRankQuantized(pairs, iterations = 5)
      .orderBy("node")
  }

  // batch 10 — distributed k-means, graph triangles, hashed
  // classifier scoring, nearest as-of join

  // Distributed integer k-means over the embeddings: 8 clusters, 2
  // Lloyd rounds from deterministic seeds (the 8 smallest vec_ids) —
  // assignment + centroid sums are full-corpus Spark jobs, only the
  // k×d centroid table round-trips the driver per round. Exact BIGINT
  // arithmetic end to end, so the DuckDB unrolled-recurrence oracle
  // matches hash-for-hash.
  def kmeansClusters(s: SparkSession, d: String): DataFrame =
    ext.Clustering.kmeansAssignQuantized(t(s, d, "embeddings"),
      "embedding", "vec_id", k = 8, iterations = 2)
      .orderBy("vec_id")

  // Per-node triangle counts + degree over the near-dup similarity
  // graph (the q97/q130 edge set) — the local-clustering-coefficient
  // statistic separating knit dup cliques from one-template stars.
  def triangleStats(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val pairs = Similarity.cosineAllPairsTiled(emb, threshold = 0.4)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    Components.triangleCounts(pairs).orderBy("node")
  }

  // FastText-shape hashed linear classifier pass over every document:
  // unigram+bigram features hash straight to integer weights, the
  // logit sums in the scan projection — the zero-shuffle quality-
  // classifier serving shape.
  def classifierScore(s: SparkSession, d: String): DataFrame =
    TextAnalysis.hashedLinearScore(tSpread(s, d, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  // Nearest as-of join: each purchase snaps to the temporally CLOSEST
  // daily aggregate (either direction; ties backward) — the sensor-
  // alignment completion of q33 (backward) / q57 (forward). The
  // matched day rides out as a column so the gate pins WHICH version
  // won, not just its payload.
  def pitNearest(s: SparkSession, d: String): DataFrame = {
    val events = t(s, d, "events")
    val daily = events
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day_ts"))
      .agg(count(lit(1)).as("day_events"))
    val spine = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    fs.PointInTime.asOfJoinNearest(spine, daily, Seq("user_id"),
      spineTs = "ts", featTs = "day_ts",
      featureCols = Seq("day_events", "day_ts"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"),
        col("value"), col("day_events"),
        unix_micros(col("day_ts").cast("timestamp")).as("matched_us"))
      .orderBy("event_id")
  }

  // Recency-weighted per-user event value: each event contributes
  // value·2^(−age_days) anchored at the newest event — exact power-of-
  // two fixed-point decay, the time-aware upgrade of the reference's
  // lifetime order sums.
  def decayedFeatures(s: SparkSession, d: String): DataFrame =
    graft.operators.Decay.decayedSumQuantized(t(s, d, "events"),
      "user_id", "ts", "value", maxAgeDays = 30, halfLifeDays = 1)
      .orderBy("user_id")

  // Per-flag winsorized prices: clamp l_extendedprice into its return-
  // flag's exact [p05, p95] band — outlier treatment that keeps rows;
  // the q42 percentile-parity contract carries the oracle.
  def winsorizedPrices(s: SparkSession, d: String): DataFrame =
    graft.etl.Encoders.winsorize(
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_extendedprice")),
        "l_returnflag", "l_extendedprice", "price_w", lo = 0.05, hi = 0.95)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("price_w"))
      .orderBy("l_orderkey", "l_linenumber")

  // Day-bucketed decay with a weekly half-life — the read-side twin of
  // the maintained streaming daily-sum state: raw (user, day) sums,
  // decay applied at read against the newest bucket.
  def decayedDailyFeatures(s: SparkSession, d: String): DataFrame =
    graft.operators.Decay.decayedDailySumQuantized(t(s, d, "events"),
      "user_id", "ts", "value", maxAgeDays = 30, halfLifeDays = 7)
      .orderBy("user_id")

  override def gates: Seq[Gate] = super.gates ++ Seq(

    // q101_neardup_dedup: rows-only — the MinHash signature rides
    // xxhash64 (§5.3, not portable); transitive retention semantics
    // are spec-asserted against driver-side union-find.

    // q45_summary: rows-only — df.summary() emits formatted strings and
    // approx percentiles (SURVEY.md §5.3); exact-row parity spec-tested.
    // q26/q27/q28 (minhash/simhash/ngram-jaccard candidates) and q31
    // (LSH ANN) intentionally omit oracles: Spark xxhash64 is not
    // reproducible in DuckDB SQL (SURVEY.md §5.3) — driver records the
    // rows-only check; exact semantics are covered by ScalaTest.
    // q66_cosine_lsh: rows-only — banded LSH is probabilistic-recall by
    // design; an exact-equality gate on it can flake as the qualifying
    // pair count grows with SF. Equality with the exact tiled path (the
    // q30 gate) is spec-asserted in ExtSpec.
    // q81_semdedup_clustered: rows-only — the k-means cell assignment
    // is engine-specific; the retained-set contract vs the exact rule
    // (superset; no intra-cell survivor pair >= t) is spec-asserted in
    // SemanticDedupSpec.

    // batch 9 — matryoshka retrieval, priority sampling, DSIR, bigram
    // LM, quantized PageRank. Float arithmetic mirrors the Spark side
    // operation for operation (the bm25TermSql discipline): every
    // literal e0-suffixed, no Scala-computed constant folded into a
    // parsed literal, division sequences written in the same order.

    Gate("q126_matryoshka_ann", Family.Ann, matryoshkaAnn, _ =>
      """WITH qe AS (SELECT vec_id, list_transform(range(1, 17),
        |    i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0e0 + 0.5e0)
        |      AS BIGINT)) AS v
        |  FROM embeddings),
        |qs AS (SELECT vec_id AS query_id, v AS qv FROM qe WHERE vec_id IN (0, 1, 2)),
        |sc AS (SELECT query_id, vec_id,
        |    CAST(list_sum(list_transform(range(1, 17), i -> v[i] * qv[i])) AS BIGINT) AS dot,
        |    CAST(list_sum(list_transform(range(1, 17), i -> v[i] * v[i])) AS BIGINT) AS nc,
        |    CAST(list_sum(list_transform(range(1, 17), i -> qv[i] * qv[i])) AS BIGINT) AS nq
        |  FROM qe CROSS JOIN qs),
        |ct AS (SELECT query_id, vec_id,
        |    CASE WHEN nc = 0 OR nq = 0 THEN CAST(0 AS BIGINT)
        |         ELSE CAST(floor(CAST(dot AS DOUBLE) / sqrt(CAST(nc AS DOUBLE))
        |           / sqrt(CAST(nq AS DOUBLE)) * 1000000000.0e0 + 0.5e0) AS BIGINT)
        |    END AS cos_tq
        |  FROM sc),
        |rk AS (SELECT query_id, vec_id, cos_tq,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_tq DESC, vec_id) AS BIGINT) AS rnk
        |  FROM ct)
        |SELECT query_id, vec_id, cos_tq, rnk FROM rk WHERE rnk <= 10
        |ORDER BY query_id, rnk""".stripMargin),


    Gate("q127_priority_sample", Family.Sketch, prioritySampleDocs, _ =>
      """WITH u AS (SELECT doc_id, source, n_chars,
        |    list_reduce(list_transform(range(1, 14),
        |      i -> CAST(strpos('0123456789abcdef',
        |        substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) + 1 AS uu
        |  FROM documents),
        |p AS (SELECT doc_id, source, n_chars,
        |    CAST(n_chars AS DOUBLE) / CAST(uu AS DOUBLE) AS prio
        |  FROM u),
        |rk AS (SELECT doc_id, source, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY prio DESC, doc_id) AS BIGINT) AS prio_rank,
        |    CAST(floor(prio * 1000000000000.0e0 + 0.5e0) AS BIGINT) AS prio_q
        |  FROM p)
        |SELECT doc_id, source, n_chars, prio_rank, prio_q
        |FROM rk WHERE prio_rank <= 8
        |ORDER BY source, prio_rank""".stripMargin),


    Gate("q128_dsir_scores", Family.Lm, dsirScores, _ =>
      """WITH d AS (SELECT doc_id, lang,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |         ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
        |  FROM documents),
        |tm0 AS (SELECT doc_id, lang, unnest(toks) AS term FROM d),
        |tm AS (SELECT doc_id, (lang = 'en') AS is_t,
        |    substr(md5(term), 1, 2) AS bucket
        |  FROM tm0),
        |b AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cr,
        |    CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct
        |  FROM tm GROUP BY bucket),
        |tt AS (SELECT CAST(sum(cr) AS BIGINT) AS tr,
        |    CAST(sum(ct) AS BIGINT) AS ttot FROM b),
        |qb AS (SELECT bucket,
        |    CAST(floor(CAST((ct + 1) * (tr + 256) AS DOUBLE)
        |      / CAST((cr + 1) * (ttot + 256) AS DOUBLE)
        |      * 1000000.0e0 + 0.5e0) AS BIGINT) AS qb
        |  FROM b CROSS JOIN tt),
        |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(qb) AS BIGINT) AS dsir_q
        |  FROM tm JOIN qb USING (bucket) GROUP BY doc_id)
        |SELECT doc_id, CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(dsir_q, 0) AS BIGINT) AS dsir_q
        |FROM d LEFT JOIN sc USING (doc_id) ORDER BY doc_id""".stripMargin),


    Gate("q129_bigram_lm", Family.Lm, bigramLm, _ =>
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |         ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
        |  FROM documents),
        |tm AS (SELECT doc_id, unnest(toks) AS term FROM d),
        |uni AS (SELECT term, CAST(count(*) AS BIGINT) AS cu FROM tm GROUP BY term),
        |tot AS (SELECT CAST(sum(cu) AS BIGINT) AS tot FROM uni),
        |bg0 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> [toks[i], toks[i+1]])) AS pr
        |  FROM d WHERE len(toks) >= 2),
        |bg AS (SELECT doc_id, pr[1] AS prev, pr[2] AS cur FROM bg0),
        |cbt AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS cb
        |  FROM bg GROUP BY prev, cur),
        |cpt AS (SELECT prev, CAST(count(*) AS BIGINT) AS cp
        |  FROM bg GROUP BY prev),
        |qbig AS (SELECT doc_id,
        |    CAST(floor((0.7e0 * (CAST(cb AS DOUBLE) / CAST(cp AS DOUBLE))
        |      + (1.0e0 - 0.7e0) * (CAST(cu AS DOUBLE) / CAST(tot AS DOUBLE)))
        |      * 1000000000.0e0 + 0.5e0) AS BIGINT) AS q
        |  FROM bg JOIN cbt USING (prev, cur) JOIN cpt USING (prev)
        |    JOIN uni ON uni.term = bg.cur CROSS JOIN tot),
        |qfirst AS (SELECT doc_id,
        |    CAST(floor((1.0e0 - 0.7e0) * (CAST(cu AS DOUBLE) / CAST(tot AS DOUBLE))
        |      * 1000000000.0e0 + 0.5e0) AS BIGINT) AS q
        |  FROM d JOIN uni ON uni.term = toks[1] CROSS JOIN tot
        |  WHERE len(toks) >= 1),
        |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(q) AS BIGINT) AS lm2_q
        |  FROM (SELECT * FROM qbig UNION ALL SELECT * FROM qfirst)
        |  GROUP BY doc_id)
        |SELECT doc_id, CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(lm2_q, 0) AS BIGINT) AS lm2_q
        |FROM d LEFT JOIN sc USING (doc_id) ORDER BY doc_id""".stripMargin),


    // unrolled 5-iteration integer recurrence — exact BIGINT arithmetic
    // (// is integer division), so this matches the Spark loop
    // hash-for-hash; see Components.pageRankQuantized
    Gate("q130_pagerank_dups", Family.Graph, pageRankDups, _ =>
      s"""WITH $dupEdgesCtesSql,
         |${pageRankCtesSql(5)}
         |SELECT node, CAST(rq AS BIGINT) AS rq FROM r5 ORDER BY node""".stripMargin),


    // q131: the unrolled 2-round Lloyd recurrence (shared kmeansCtesSql
    // — assignment, floor-mean update with emptied clusters keeping the
    // previous centroid, final assignment vs c2; all-BIGINT distances).
    Gate("q131_kmeans_clusters", Family.Ann, kmeansClusters, _ =>
      s"""WITH ${kmeansCtesSql(8, 2)}
         |SELECT vec_id, cid, dist AS dist_q FROM a3 WHERE rk = 1
         |ORDER BY vec_id""".stripMargin),


    // q132: ground truth by the naive canonical triple join a<b<c —
    // each triangle appears once; per-node counts unnest the three
    // corners. The engine's degree-ordered orientation must agree
    // exactly.
    Gate("q132_triangle_stats", Family.Graph, triangleStats, _ =>
      s"""WITH $dupEdgesCtesSql,
         |ce AS (SELECT id_a AS a, id_b AS b FROM pairs),
         |deg AS (
         |  SELECT n, CAST(count(*) AS BIGINT) AS deg
         |  FROM (SELECT a AS n FROM ce UNION ALL SELECT b AS n FROM ce)
         |  GROUP BY n),
         |tri AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM ce e1 JOIN ce e2 ON e2.a = e1.b
         |    JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b),
         |tn AS (
         |  SELECT n, CAST(count(*) AS BIGINT) AS triangles
         |  FROM (SELECT x AS n FROM tri UNION ALL SELECT y AS n FROM tri
         |        UNION ALL SELECT z AS n FROM tri)
         |  GROUP BY n)
         |SELECT deg.n AS node, deg.deg,
         |  CAST(coalesce(tn.triangles, 0) AS BIGINT) AS triangles
         |FROM deg LEFT JOIN tn ON tn.n = deg.n
         |ORDER BY node""".stripMargin),


    // q133: replay the md5 13-hex-digit weight projection (the q127
    // list_reduce idiom) over unigram + space-joined-bigram features
    Gate("q133_classifier_score", Family.Lm, classifierScore, _ =>
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |         ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
        |  FROM documents),
        |f AS (SELECT doc_id,
        |    list_concat(toks,
        |      CASE WHEN len(toks) < 2 THEN []
        |           ELSE list_transform(range(1, len(toks)),
        |             i -> toks[i] || ' ' || toks[i + 1]) END) AS feats
        |  FROM d),
        |x AS (SELECT doc_id, unnest(feats) AS g FROM f),
        |w AS (SELECT doc_id,
        |    (list_reduce(list_transform(range(1, 14),
        |      i -> CAST(strpos('0123456789abcdef',
        |        substr(md5(g), i, 1)) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) % 2001) - 1000 AS wt
        |  FROM x),
        |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
        |    CAST(sum(wt) AS BIGINT) AS logit_q
        |  FROM w GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(s.n_feats, 0) AS BIGINT) AS n_feats,
        |  CAST(coalesce(s.logit_q, 0) AS BIGINT) AS logit_q
        |FROM d LEFT JOIN s ON s.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),


    // q134: naive nearest-candidate formulation — rank every same-user
    // daily row by |ts − day_ts| with the earlier day winning ties
    // (the engine's backward preference); two formulations cross-check
    Gate("q134_pit_nearest", Family.Fs, pitNearest, _ =>
      """WITH daily AS (
        |  SELECT user_id, date_trunc('day', ts) AS day_ts,
        |    CAST(count(*) AS BIGINT) AS day_events
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'purchase'),
        |cand AS (
        |  SELECT s.event_id, d.day_events, epoch_us(d.day_ts) AS matched_us,
        |    row_number() OVER (PARTITION BY s.event_id
        |      ORDER BY abs(epoch_us(s.ts) - epoch_us(d.day_ts)), d.day_ts) AS rk
        |  FROM spine s JOIN daily d ON s.user_id = d.user_id)
        |SELECT s.event_id, s.user_id, epoch_us(s.ts) AS ts_us, s.value,
        |  c.day_events, c.matched_us
        |FROM spine s LEFT JOIN (SELECT * FROM cand WHERE rk = 1) c
        |  ON c.event_id = s.event_id
        |ORDER BY s.event_id""".stripMargin),


    // q135: replay the fixed-point power-of-two decay — exact-divisible
    // integer division for the day age, bit-shift weights, BIGINT sums
    Gate("q135_decayed_features", Family.Fs, decayedFeatures, _ =>
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT) AS vq
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |r AS (SELECT max(us) AS ref FROM e),
        |a AS (
        |  SELECT user_id, vq,
        |    CAST((ref - us - ((ref - us) % 86400000000))
        |      / 86400000000 AS BIGINT) AS age
        |  FROM e CROSS JOIN r),
        |w AS (
        |  SELECT user_id,
        |    vq * (CAST(1 AS BIGINT) << CAST(30 - age AS INTEGER)) AS wv
        |  FROM a WHERE age < 30)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(wv) AS BIGINT) AS decayed_q
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin),


    // q136: per-group quantile_cont bounds (the q42 parity contract)
    // + pure min/max clamp — the output doubles are existing values
    // or interpolated bounds, both bit-identical across engines
    Gate("q136_winsorized_prices", Family.Sketch, winsorizedPrices, _ =>
      """WITH b AS (
        |  SELECT l_returnflag,
        |    quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.05) AS blo,
        |    quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95) AS bhi
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
        |  CASE WHEN l.l_extendedprice IS NULL THEN NULL
        |       ELSE greatest(b.blo,
        |         least(b.bhi, CAST(l.l_extendedprice AS DOUBLE))) END
        |    AS price_w
        |FROM lineitem l JOIN b USING (l_returnflag)
        |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin),


    // q137: day-bucketed decay replay — daily sums first, then the
    // shift weights on day ages with a 7-day half-life step (S = 4)
    Gate("q137_decayed_daily", Family.Fs, decayedDailyFeatures, _ =>
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
        |  FROM a WHERE age < 30)
        |SELECT user_id, CAST(sum(n_events) AS BIGINT) AS n_events,
        |  CAST(sum(wv) AS BIGINT) AS decayed_q
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin),
  )
}
