package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Mmr, Perceptron, Retrieval, SetSimJoin, Similarity, TextAnalysis}

/** Gate queries — round 11, second pass: the diversity/eval tier (MMR,
  * hybrid BM25×MMR, retrieval metrics, classifier threshold sweep),
  * the text-dedup compositions over the exact Jaccard join, the
  * span-scrub rewrite, the tokenizer train→apply→budget chain, the
  * contrastive-pair dataset, and numeric drift.
  */
private[graft] trait PipelinesRound11b extends PipelinesBase { this: PipelinesTextSim with PipelinesRound10 =>

  /** Numeric-distribution drift: order prices before vs after
    * 1996-01-01, binned under decile edges FITTED ON THE BASE half
    * (frozen edges — re-fitting on the current half would hide the
    * shift), chi-square drift terms per bin in the q125 quantized
    * arithmetic. The q89 exact-quantile edges and the q125 drift
    * terms compose on one hash path.
    */
  def numericDriftPrices(s: SparkSession, d: String): DataFrame = {
    val orders = t(s, d, "orders")
    val split = to_timestamp_ntz(lit("1996-01-01"))
    graft.operators.Drift.numericDrift(
        orders.filter(col("o_orderdate") < split),
        orders.filter(col("o_orderdate") >= split),
        "o_totalprice", nBins = 10)
      .orderBy("bin")
  }

  /** Retrieval-tier evaluation: recall@10 and reciprocal rank of the
    * 16-dim matryoshka-prefix ranking against the full 64-dim exact
    * ranking as ground truth — the numbers a deployment tunes
    * truncation/nprobe against ([[graft.ext.RetrievalMetrics]],
    * previously spec-only, now oracle-gated; both rankings are
    * deterministic quantized cosines, so the metric cells replay
    * exactly). Both metric doubles are single exact-rational
    * divisions (§5.3-portable).
    */
  def retrievalEval(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val qs = (0L until 10L)
    val truth = Retrieval.truncatedCosineTopK(emb, "embedding", "vec_id",
      qs, k = 10, dims = 64)
    val sys = Retrieval.truncatedCosineTopK(emb, "embedding", "vec_id",
      qs, k = 10, dims = 16)
    val rec = graft.ext.RetrievalMetrics.recallAtK(sys, truth,
      "query_id", "vec_id")
    // relevance = the true NEAREST NON-SELF neighbor (truth rank 1 is
    // the query itself in both rankings, which would make rr trivially
    // 1.0): at which rank does the prefix ranking surface it?
    val rr = graft.ext.RetrievalMetrics.reciprocalRank(sys,
      truth.filter(col("rnk") === 2), "query_id", "vec_id", "rnk")
    rec.join(rr, Seq("query_id"))
      .select(col("query_id"), col("n_exact"), col("n_hit"),
        col("recall"), col("rr"))
      .orderBy("query_id")
  }

  /** Classifier evaluation: the keep-threshold sweep a curation run
    * reads before picking its quality cut — confusion counts (vs the
    * lang = 'en' label) at the 10/30/50/70/90th exact percentiles of
    * the corpus-trained perceptron margin. One scoring projection
    * (memoized weights), one 1-row percentile broadcast-back, and a
    * 5× threshold Expand absorbed by map-side partial aggregation —
    * precision/recall at any cut derive from the exact integer cells.
    */
  def thresholdSweep(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val w = corpusPerceptronWeights(s, d)
    // lazy checkpoint (r19, the shared-consumer discipline): m feeds
    // both the threshold percentiles and the confusion aggregation —
    // one per-token scoring pass instead of two
    val m = Perceptron.withHashedPerceptronScore(docs, "text", w)
      .select((col("lang") === "en").as("_pos"), col("margin_q"))
      .localCheckpoint(false)
    val th = m.agg(
      expr("percentile(margin_q, array(0.1, 0.3, 0.5, 0.7, 0.9))").as("_th"))
    val above = col("margin_q").cast("double") > col("_thr")
    m.crossJoin(broadcast(th))
      .select(col("_pos"), col("margin_q"),
        posexplode(col("_th")).as(Seq("_i", "_thr")))
      .groupBy(col("_i"), col("_thr"))
      .agg(
        sum(when(above && col("_pos"), 1L).otherwise(0L)).as("tp"),
        sum(when(above && !col("_pos"), 1L).otherwise(0L)).as("fp"),
        sum(when(!above && col("_pos"), 1L).otherwise(0L)).as("fn"),
        sum(when(!above && !col("_pos"), 1L).otherwise(0L)).as("tn"))
      .select((col("_i") + 1L).as("thr_idx"), col("_thr").as("threshold"),
        col("tp"), col("fp"), col("fn"), col("tn"))
      .orderBy("thr_idx")
  }

  /** Span-level dedup, the REWRITE half: every token covered by an
    * 8-token span shared verbatim across >= 2 documents is removed —
    * the Lee et al. substring surgery q116 only profiles. The oracle
    * replays positional grams, distinct-doc counts, covered-position
    * union, and the order-preserving rebuild.
    */
  def scrubSpans(s: SparkSession, d: String): DataFrame =
    TextAnalysis.scrubDupSpans(t(s, d, "documents"), "doc_id", "text", n = 8)
      .orderBy("doc_id")

  /** Contrastive-pair dataset construction — the embedding-finetune
    * artifact a curation pipeline publishes: POSITIVES are co-members
    * of the exact near-dup graph (the q30 edge set — pairs a
    * contrastive loss should pull together), NEGATIVES are the
    * q146 hard negatives for the anchor batch (near-the-margin
    * different-label vectors the loss should push apart). Both halves
    * are already individually hash-gated; this gate pins the
    * composed, labeled dataset.
    */
  def contrastivePairs(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val edges = Similarity.cosineAllPairsTiled(emb, threshold = 0.4)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint(true) // consumed by the positive half AND the
                             // negative exclusion anti-join
    val pos = edges
      .select(col("id_a").as("anchor_id"), col("id_b").as("pair_id"),
        lit(1).as("pair_label"))
    // a near-dup co-member with a DIFFERENT label is label noise, not
    // a training negative — pushing apart what the positive half pulls
    // together would hand the loss contradictory rows, so the dup
    // graph anti-joins out of the negatives (unordered pair match)
    val neg = Retrieval.hardNegativeTopK(emb, "embedding", "vec_id", "label",
      queryIds = Seq(0L, 1L, 2L), k = 5, dims = 64)
      .select(col("query_id").as("anchor_id"), col("vec_id").as("pair_id"),
        lit(0).as("pair_label"))
      .join(edges,
        least(col("anchor_id"), col("pair_id")) === col("id_a") &&
          greatest(col("anchor_id"), col("pair_id")) === col("id_b"),
        "left_anti")
    pos.unionByName(neg).orderBy("pair_label", "anchor_id", "pair_id")
  }

  /** Tokenizer train → apply → budget, end to end: BPE merges LEARNED
    * on this corpus (the q142 loop), the corpus segmented under those
    * learned merges (the q139 replace chain — built from TRAINED
    * state, not a fixture table), and the per-source token budget the
    * capacity plan reads. The oracle chains the training recurrence
    * INTO the segmentation via scalar subqueries, so drift in any
    * stage — a wrong argmax, a mis-applied merge, a count — breaks
    * the hash.
    */
  def tokenBudgetCard(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val merges = TextAnalysis.bpeTrain(docs, "text",
      numMerges = Round10Fixtures.bpeTrainMerges)
    TextAnalysis.bpeSegment(docs, "text", merges)
      .select(col("source"),
        when(col("bpe_segments").isNull, 0L)
          .otherwise(size(TextAnalysis.bpePieces(col("bpe_segments"))).cast("long"))
          .as("_np"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_np")).as("n_pieces"))
      .orderBy("source")
  }

  /** Hybrid keyword-relevance × embedding-diversity retrieval: the
    * q114 BM25 top-20 joined to its embeddings (doc_id ≍ vec_id in
    * the fixture), re-ranked by the same MMR recurrence as q157 —
    * text decides WHAT is relevant, the embedding space decides what
    * is REDUNDANT. One corpus scan for candidates, then k argmax jobs
    * on the 20-row frame.
    */
  def hybridMmrRerank(s: SparkSession, d: String): DataFrame = {
    // bm25_q is 1e6-quantized while the cosine penalty is
    // 1e9-quantized: rescale relevance ×1000 so λ=1/2 weighs
    // comparable magnitudes instead of letting diversity swamp text
    // relevance (both engines apply the same integer rescale)
    val cands = Retrieval.bm25TopK(t(s, d, "documents"), "text", "doc_id",
      Seq("spark", "vector", "stream"), k = 20)
      .select(col("doc_id").as("vec_id"),
        (col("bm25_q") * 1000L).as("rel_q"))
      .join(t(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        Seq("vec_id"))
    Mmr.mmrRerank(cands, "embedding", "vec_id", "rel_q",
      k = 5, dims = 64, lambdaNum = 1, lambdaDen = 2)
      .orderBy("rnk")
  }

  /** Near-dup retention over the EXACT Jaccard edge set — the q138
    * composition discipline on the TEXT tier (q138/q145/q152 all close
    * embedding-cosine edges): q154's prefix-filtered exact pairs feed
    * components + min-id retention, hash-gated against the DuckDB
    * recursive closure of the exhaustive all-pairs Jaccard edges.
    * Empty-token docs carry no edges and survive as singletons by
    * construction on both sides.
    */
  def jaccardRetention(s: SparkSession, d: String): DataFrame = {
    val docs = docsWithPlantedDups(s, d).filter(col("doc_id") % 10 === 0)
    val pairs = SetSimJoin.jaccardJoinExact(docs, "text", "doc_id",
        minJaccard = 0.9)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    Dedup.retainFromPairs(docs, pairs, "doc_id")
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")
  }

  /** MMR diversity re-rank: the top 20 cosine candidates for query
    * vector 0 (one corpus scan, self dropped), then 5 greedy
    * λ=1/2 picks — each maximizing rel_q − max-sim-to-picked in exact
    * BIGINTs. The oracle unrolls the greedy recurrence (the
    * q142/q143 discipline), so the entire pick SEQUENCE — not just
    * the set — must match.
    */
  def mmrRerankTopK(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val cands = Retrieval.truncatedCosineTopK(emb, "embedding", "vec_id",
      queryIds = Seq(0L), k = 21, dims = 64)
      .filter(col("vec_id") =!= 0L) // self is always rank 1 (cos 1e9, min id)
      .select(col("vec_id"), col("cos_tq"))
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    Mmr.mmrRerank(cands, "embedding", "vec_id", "cos_tq",
      k = 5, dims = 64, lambdaNum = 1, lambdaDen = 2)
      .orderBy("rnk")
  }

  override def gates: Seq[Gate] = super.gates ++ Seq(

    // two quantized-cosine rankings (full-dim truth, 16-dim prefix
    // system — self included in both, symmetric), then the recall and
    // first-relevant-rank arithmetic — each metric one exact-rational
    // division
    Gate("q165_retrieval_eval", Family.Ann, retrievalEval, _ => {
      def rank(dims: Int, p: String): String =
        s"""${p}e AS (SELECT vec_id, list_transform(range(1, ${dims + 1}),
           |    i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0e0 + 0.5e0)
           |      AS BIGINT)) AS v
           |  FROM embeddings),
           |${p}q AS (SELECT vec_id AS query_id, v AS qv FROM ${p}e WHERE vec_id < 10),
           |${p}s AS (SELECT query_id, vec_id,
           |    CAST(list_sum(list_transform(range(1, ${dims + 1}), i -> v[i] * qv[i])) AS BIGINT) AS dot,
           |    CAST(list_sum(list_transform(range(1, ${dims + 1}), i -> v[i] * v[i])) AS BIGINT) AS nc,
           |    CAST(list_sum(list_transform(range(1, ${dims + 1}), i -> qv[i] * qv[i])) AS BIGINT) AS nq
           |  FROM ${p}e CROSS JOIN ${p}q),
           |${p}r AS (SELECT query_id, vec_id,
           |    row_number() OVER (PARTITION BY query_id ORDER BY
           |      CASE WHEN nc = 0 OR nq = 0 THEN CAST(0 AS BIGINT)
           |           ELSE CAST(floor(CAST(dot AS DOUBLE) / sqrt(CAST(nc AS DOUBLE))
           |             / sqrt(CAST(nq AS DOUBLE)) * 1000000000.0e0 + 0.5e0) AS BIGINT)
           |      END DESC, vec_id) AS rnk
           |  FROM ${p}s),
           |${p}k AS (SELECT query_id, vec_id, rnk FROM ${p}r WHERE rnk <= 10)""".stripMargin
      s"""WITH ${rank(64, "t")},
         |${rank(16, "x")},
         |rec AS (
         |  SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_exact,
         |    CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         |  FROM tk t LEFT JOIN xk a
         |    ON a.query_id = t.query_id AND a.vec_id = t.vec_id
         |  GROUP BY 1),
         |fr AS (
         |  SELECT a.query_id, min(a.rnk) AS first_rank
         |  FROM xk a JOIN tk t1
         |    ON t1.query_id = a.query_id AND t1.vec_id = a.vec_id AND t1.rnk = 2
         |  GROUP BY 1)
         |SELECT r.query_id, r.n_exact, r.n_hit,
         |  CAST(r.n_hit AS DOUBLE) / r.n_exact AS recall,
         |  coalesce(1.0e0 / fr.first_rank, 0.0e0) AS rr
         |FROM rec r LEFT JOIN fr USING (query_id)
         |ORDER BY r.query_id""".stripMargin
    }),

    // the q144 margin replay (shared trained-weight CTEs), exact
    // percentile thresholds, then conditional confusion counts per
    // threshold — precision/recall cells all exact BIGINTs
    Gate("q164_threshold_sweep", Family.Lm, thresholdSweep, _ =>
      s"""WITH ${perceptronCtesSql(3)},
         |sc AS (
         |  SELECT f.doc_id, CAST(sum(f.cnt * w.w) AS BIGINT) AS dot
         |  FROM f JOIN w3 w ON w.pos = f.pos
         |  GROUP BY 1),
         |mar AS (
         |  SELECT y.doc_id, y.y = 1 AS pos,
         |    CAST(coalesce(sc.dot, 0) + (SELECT w FROM w3 WHERE pos = 256) AS BIGINT) AS margin_q
         |  FROM y LEFT JOIN sc USING (doc_id)),
         |th AS (SELECT quantile_cont(CAST(margin_q AS DOUBLE),
         |    [0.1, 0.3, 0.5, 0.7, 0.9]) AS t FROM mar),
         |ex AS (SELECT m.pos, m.margin_q, u.i AS idx, th.t[u.i] AS thr
         |  FROM mar m, th, unnest(generate_series(1, 5)) AS u(i))
         |SELECT CAST(idx AS BIGINT) AS thr_idx, thr AS threshold,
         |  CAST(sum(CASE WHEN CAST(margin_q AS DOUBLE) > thr AND pos THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN CAST(margin_q AS DOUBLE) > thr AND NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN CAST(margin_q AS DOUBLE) <= thr AND pos THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |  CAST(sum(CASE WHEN CAST(margin_q AS DOUBLE) <= thr AND NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |FROM ex GROUP BY 1, 2
         |ORDER BY thr_idx""".stripMargin),

    // positional 8-gram md5s (the gram8 space-joined definition),
    // distinct-doc counts, covered-position union per doc, then the
    // order-preserving string_agg rebuild
    Gate("q163_scrub_spans", Family.Lm, scrubSpans, _ =>
      s"""WITH t AS (SELECT doc_id, $rawTokensCaseSql AS w FROM documents),
         |occ AS (
         |  SELECT doc_id, u.i AS pos,
         |    md5(w[u.i] || ' ' || w[u.i+1] || ' ' || w[u.i+2] || ' ' || w[u.i+3] || ' ' ||
         |      w[u.i+4] || ' ' || w[u.i+5] || ' ' || w[u.i+6] || ' ' || w[u.i+7]) AS g
         |  FROM t, unnest(generate_series(1, len(w) - 7)) AS u(i)
         |  WHERE len(w) >= 8),
         |gd AS (SELECT g, CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
         |  FROM occ GROUP BY g),
         |dup AS (
         |  SELECT DISTINCT o.doc_id, p.i AS pos
         |  FROM occ o JOIN gd ON gd.g = o.g AND gd.nd >= 2,
         |    unnest(generate_series(o.pos, o.pos + 7)) AS p(i)),
         |kept AS (
         |  SELECT t.doc_id, u.i AS pos, w[u.i] AS tok
         |  FROM t, unnest(generate_series(1, len(w))) AS u(i)
         |  WHERE NOT EXISTS (SELECT 1 FROM dup d
         |    WHERE d.doc_id = t.doc_id AND d.pos = u.i)),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS s,
         |    CAST(count(*) AS BIGINT) AS nk
         |  FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, coalesce(a.s, '') AS scrubbed_text,
         |  CAST(len(t.w) - coalesce(a.nk, 0) AS BIGINT) AS n_removed
         |FROM t LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // positives from the shared q30 edge CTE, negatives from the
    // shared q146 ranking chain — the labeled dataset both existing
    // gates compose into
    Gate("q162_contrastive_pairs", Family.Ann, contrastivePairs, _ =>
      s"""WITH $dupEdgesCtesSql, $hardNegCtesSql
         |SELECT id_a AS anchor_id, id_b AS pair_id, 1 AS pair_label FROM pairs
         |UNION ALL
         |SELECT query_id AS anchor_id, vec_id AS pair_id, 0 AS pair_label
         |FROM rk WHERE rnk <= 5
         |  AND NOT EXISTS (SELECT 1 FROM pairs p
         |    WHERE p.id_a = least(rk.query_id, rk.vec_id)
         |      AND p.id_b = greatest(rk.query_id, rk.vec_id))
         |ORDER BY pair_label, anchor_id, pair_id""".stripMargin),

    // the q142 training recurrence chained INTO the q139 replace-chain
    // segmentation via scalar subqueries on the learned m_k CTEs, then
    // the per-source piece counts — train → apply → budget on one hash
    Gate("q161_token_budget", Family.Lm, tokenBudgetCard, _ => {
      val S = "\u001f"
      val n = Round10Fixtures.bpeTrainMerges
      // DuckDB lambdas reject subqueries, so the learned 1-row merge
      // CTEs cross-join in as plain captured columns (l1/r1..ln/rn)
      val mm = "mm AS (SELECT " +
        (1 to n).map(k => s"m$k.l AS l$k, m$k.r AS r$k").mkString(", ") +
        " FROM " + (1 to n).map(k => s"m$k").mkString(", ") + ")"
      val wrapped =
        s"array_to_string(list_transform(range(1, length(w)+1), i -> '$S' || substr(w, i, 1) || '$S'), '')"
      val merged = (1 to n).foldLeft(wrapped) { (acc, k) =>
        s"replace($acc, '$S' || l$k || '$S$S' || r$k || '$S', '$S' || l$k || r$k || '$S')"
      }
      val segExpr = s"trim(replace($merged, '$S$S', ' '), '$S')"
      s"""WITH ${bpeTrainCtesSql(n)},
         |$mm,
         |dd AS (SELECT source,
         |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
         |         ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS toks
         |  FROM documents),
         |sg AS (SELECT source, list_transform(toks, w -> $segExpr) AS segs
         |  FROM dd CROSS JOIN mm)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(coalesce(list_sum(list_transform(segs, x -> len(string_split(x, ' ')))), 0)) AS BIGINT) AS n_pieces
         |FROM sg GROUP BY source ORDER BY source""".stripMargin
    }),

    // base-half decile edges (q89 quantile_cont contract) frozen and
    // applied to both halves, then the q125 drift-term arithmetic
    Gate("q159_numeric_drift", Family.Sketch, numericDriftPrices, _ =>
      """WITH e AS (
        |  SELECT quantile_cont(o_totalprice,
        |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS edges
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'),
        |a AS (
        |  SELECT CAST(len(list_filter(edges, x -> x <= o_totalprice)) AS INT) AS bin,
        |    CAST(count(*) AS BIGINT) AS n_a
        |  FROM orders, e WHERE o_orderdate < TIMESTAMP '1996-01-01'
        |  GROUP BY bin),
        |b AS (
        |  SELECT CAST(len(list_filter(edges, x -> x <= o_totalprice)) AS INT) AS bin,
        |    CAST(count(*) AS BIGINT) AS n_b
        |  FROM orders, e WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  GROUP BY bin),
        |j AS (
        |  SELECT coalesce(a.bin, b.bin) AS bin,
        |    CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
        |    CAST(coalesce(n_b, 0) AS BIGINT) AS n_b
        |  FROM a FULL OUTER JOIN b ON a.bin = b.bin),
        |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
        |             CAST(sum(n_b) AS BIGINT) AS tb FROM j)
        |SELECT bin, n_a, n_b,
        |  CAST(floor(((CAST(n_a AS DOUBLE) / ta - CAST(n_b AS DOUBLE) / tb)
        |      * (CAST(n_a AS DOUBLE) / ta - CAST(n_b AS DOUBLE) / tb))
        |    / ((CAST(n_a AS DOUBLE) / ta + CAST(n_b AS DOUBLE) / tb) / 2.0e0)
        |    * 1000000000000.0e0 + 0.5e0) AS BIGINT) AS drift_q
        |FROM j, t ORDER BY bin""".stripMargin),

    // the q138 retention oracle shape over the JACCARD edge set: the
    // exhaustive all-pairs edges (≥ 0.9), symmetrized, recursively
    // closed, min-id survivors; seeded from the FULL sliced corpus so
    // empty-token docs survive as singletons
    Gate("q158_jaccard_retention", Family.Dedup, jaccardRetention, _ =>
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text, source FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, regexp_replace(text, '^\S+\s*', ''), source
        |  FROM documents WHERE doc_id % 10 = 0),
        |ts AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |         ELSE regexp_split_to_array(lower(trim(text)), '\s+') END) AS toks
        |  FROM corpus),
        |nz AS (SELECT doc_id, toks, len(toks) AS sz FROM ts WHERE len(toks) > 0),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM nz a, nz b
        |  WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / CAST(a.sz + b.sz - len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      >= 0.9e0),
        |edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION
        |  SELECT id_b AS u, id_a AS v FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT doc_id, doc_id FROM corpus
        |  UNION
        |  SELECT r.node, e.v FROM reach r JOIN edges e ON e.u = r.lbl),
        |comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node)
        |SELECT c.doc_id, c.source
        |FROM corpus c JOIN comp ON c.doc_id = comp.node
        |WHERE comp.component = comp.node
        |ORDER BY c.doc_id""".stripMargin),

    // the greedy MMR recurrence unrolled (the q142/q143 discipline):
    // one MATERIALIZED 1-row CTE per pick, each an argmax of
    // rel_q − greatest(sim to every previous pick) over the remaining
    // candidates — the whole pick SEQUENCE replays, in exact BIGINTs
    Gate("q157_mmr_rerank", Family.Ann, mmrRerankTopK, _ =>
      s"""WITH $quantEmbCteSql,
         |q0 AS (SELECT v AS qv FROM qe WHERE vec_id = 0),
         |sc AS (SELECT vec_id, v,
         |    CAST(list_sum(list_transform(range(1, 65), i -> v[i] * qv[i])) AS BIGINT) AS dot,
         |    CAST(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])) AS BIGINT) AS n2,
         |    CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i])) AS BIGINT) AS nq
         |  FROM qe CROSS JOIN q0 WHERE vec_id != 0),
         |ct AS (SELECT vec_id, v, n2,
         |    CASE WHEN n2 = 0 OR nq = 0 THEN CAST(0 AS BIGINT)
         |         ELSE CAST(floor(CAST(dot AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE))
         |           / sqrt(CAST(nq AS DOUBLE)) * 1000000000.0e0 + 0.5e0) AS BIGINT)
         |    END AS rel_q
         |  FROM sc),
         |cand AS MATERIALIZED (SELECT vec_id, v, n2, rel_q FROM (
         |    SELECT *, row_number() OVER (ORDER BY rel_q DESC, vec_id) AS rnk
         |    FROM ct) WHERE rnk <= 20),
         |${mmrStagesSql(5)}
         |${mmrSelectSql(5)}""".stripMargin),

    // BM25 relevance × embedding diversity: the q114 keyword
    // candidates re-ranked by the same MMR recurrence — the hybrid
    // eval-pool/RAG shape where plain top-k returns k near-copies of
    // the best keyword hit
    Gate("q160_hybrid_mmr", Family.Ann, hybridMmrRerank, _ =>
      s"""WITH ${bm25CteSql(Seq("spark", "vector", "stream"))},
         |$quantEmbCteSql,
         |cand AS MATERIALIZED (
         |  SELECT e.vec_id, e.v,
         |    CAST(list_sum(list_transform(range(1, 65), i -> e.v[i] * e.v[i])) AS BIGINT) AS n2,
         |    t.bm25_q * CAST(1000 AS BIGINT) AS rel_q
         |  FROM (SELECT doc_id, bm25_q,
         |      row_number() OVER (ORDER BY bm25_q DESC, doc_id) AS rk
         |    FROM sc) t
         |  JOIN qe e ON e.vec_id = t.doc_id
         |  WHERE t.rk <= 20),
         |${mmrStagesSql(5)}
         |${mmrSelectSql(5)}""".stripMargin),
  )

  /** 1e6-quantized embedding vectors — shared by every MMR oracle. */
  protected val quantEmbCteSql: String =
    """qe AS (SELECT vec_id, list_transform(range(1, 65),
      |    i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0e0 + 0.5e0)
      |      AS BIGINT)) AS v
      |  FROM embeddings)""".stripMargin

  /** The greedy MMR recurrence over a `cand(vec_id, v, n2, rel_q)`
    * CTE, unrolled to k MATERIALIZED 1-row stages — ONE source of
    * truth for every MMR gate (λ = 1/2: mmr = rel − maxsim).
    */
  protected def mmrStagesSql(k: Int): String = {
    def sim(c: String, s: String): String =
      s"""CASE WHEN $c.n2 = 0 OR $s.n2 = 0 THEN CAST(0 AS BIGINT)
         |      ELSE CAST(floor(CAST(list_sum(list_transform(range(1, 65),
         |          i -> $c.v[i] * $s.v[i])) AS DOUBLE)
         |        / sqrt(CAST($c.n2 AS DOUBLE)) / sqrt(CAST($s.n2 AS DOUBLE))
         |        * 1000000000.0e0 + 0.5e0) AS BIGINT) END""".stripMargin
    def stage(j: Int): String = {
      val prev = (1 until j).map(i => s"s$i t$i").mkString(", ")
      val sims = (1 until j).map(i => sim("c", s"t$i")).mkString(",\n      ")
      val excl = (1 until j).map(i => s"t$i.vec_id").mkString(", ")
      s"""s$j AS MATERIALIZED (
         |  SELECT c.vec_id, c.v, c.n2,
         |    c.rel_q - greatest($sims) AS mmr_q
         |  FROM cand c, $prev
         |  WHERE c.vec_id NOT IN ($excl)
         |  ORDER BY mmr_q DESC, c.vec_id LIMIT 1)""".stripMargin
    }
    ("""s1 AS MATERIALIZED (SELECT vec_id, v, n2, rel_q AS mmr_q
       |  FROM cand ORDER BY rel_q DESC, vec_id LIMIT 1)""".stripMargin +:
      (2 to k).map(stage)).mkString(",\n")
  }

  protected def mmrSelectSql(k: Int): String =
    (1 to k)
      .map(j => s"SELECT CAST($j AS BIGINT) AS rnk, vec_id, mmr_q FROM s$j")
      .mkString("\nUNION ALL\n") + "\nORDER BY rnk"
}
