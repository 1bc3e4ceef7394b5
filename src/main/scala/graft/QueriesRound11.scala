package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Components, Dedup, Perceptron, Retrieval, SetSimJoin, Similarity}

/** Gate queries — round 11: consolidation compositions (VERDICT r10
  * #5/#6/#7). The quality-classifier curation loop (train → score →
  * filter, the CCNet shape), retention served from incrementally
  * maintained dup labels, and the exact-row promotion of the
  * `summary()` gate.
  */
private[graft] trait PipelinesRound11 extends PipelinesBase { this: PipelinesTextSim with PipelinesRound10 =>

  /** The CCNet-style quality-classifier loop, end to end: a perceptron
    * trains on the LABELED SLICE (doc_id % 5 = 0; label = lang = 'en'),
    * the learned 257-weight model comes back as a literal array, and
    * the corpus flows exact-dedup → zero-shuffle scoring projection →
    * margin-threshold filter — q143's training composed into the q124
    * curation discipline. The retention rule is the scale-free one a
    * curation run actually uses: keep documents scoring strictly ABOVE
    * the corpus-median margin (the q104 top-fraction discipline; a
    * fixed margin>0 cut depends on the slice's class balance and can
    * degenerate to keep-none/keep-all). The oracle replays all stages —
    * the unrolled training recurrence ON THE SLICE, the dedup
    * survivors, the margin arithmetic, and the exact median — so drift
    * in any stage breaks the hash.
    *
    * Scale shape: training touches only the labeled slice (one feature
    * extraction + per-iteration model round-trips); the corpus-sized
    * work is the dedup window, one scan projection for margins (no join
    * attaches the model), and one 1-row exact percentile broadcast back
    * (the q136 winsorize shape).
    */
  def classifierCuration(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val labeled = docs.filter(col("doc_id") % 5 === 0)
    val w = Perceptron.batchPerceptronHashed(labeled, "doc_id", "text",
      positive = col("lang") === "en", iterations = 3)
      .orderBy("pos").collect().map(_.getLong(1)).toSeq
    val deduped = Dedup.exactDedup(docs, "text", "doc_id")
    // lazy checkpoint (r19, the shared-consumer discipline): scored
    // feeds BOTH the median aggregate and the final filter — without
    // the cut, the dedup window + per-token perceptron scoring run
    // once per consumer; the median's broadcast build materializes the
    // narrow (id, source, margin) blocks and the filter reuses them
    val scored = Perceptron.withHashedPerceptronScore(deduped, "text", w)
      .select(col("doc_id"), col("source"), col("margin_q"))
      .localCheckpoint(false)
    val med = scored.agg(expr("percentile(margin_q, 0.5)").as("_med"))
    scored.crossJoin(broadcast(med))
      .filter(col("margin_q") > col("_med"))
      .select(col("doc_id"), col("source"), col("margin_q"))
      .orderBy("doc_id")
  }

  /** Retention over incrementally-MAINTAINED labels — q140's delta-CC
    * composed into q138's retention, the serving path of a
    * continuously maintained dedup graph: prior labels from the even
    * half of the exact cosine edge set, the odd half merged in via
    * [[Components.incrementalComponents]], then min-id retention off
    * those labels (singletons absent from the labeling survive by
    * construction). The oracle is the FULL-recompute retention (q138
    * verbatim), so the hash proves retention over incremental labels ≡
    * retention over full recompute.
    */
  def incrementalRetention(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    // one lineage cut: prior and delta both filter this pair set
    val pairs = Similarity.cosineAllPairsTiled(emb, threshold = 0.4)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .localCheckpoint(true)
    val prior = Components.connectedComponents(
      pairs.filter((col("src") + col("dst")) % 2 === 0))
    val labels = Components.incrementalComponents(prior,
      pairs.filter((col("src") + col("dst")) % 2 === 1))
    val dropped = labels.filter(col("node") =!= col("component"))
      .select(col("node").as("_drop_id"))
    emb.join(dropped, col("vec_id") === col("_drop_id"), "left_anti")
      .select(col("vec_id"), col("label"))
      .orderBy("vec_id")
  }

  /** The exact rows of `df.summary()` promoted to a hash gate (q45
    * keeps the full stat set as the declared rows-only entry):
    * count/min/max are order-independent exact aggregates, so their
    * formatted cells hash-match cross-engine. The mean row
    * deliberately stays out — a cross-row double sum is
    * partition-order-dependent (SURVEY.md §5.3); its in-session bit
    * parity is what SummaryParitySpec proves.
    */
  def summaryExactRows(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .select(col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .summary("count", "min", "max")
      .orderBy("summary")

  /** EXACT token-set Jaccard self-join over the planted-dup corpus —
    * the deterministic twin of the MinHash tier (whose q26/q28
    * gates replay the portable md5-52 flavor since r12): prefix-filtered
    * candidates (AllPairs/PPJoin) verified exactly, hash-gated against
    * the exhaustive DuckDB all-pairs oracle. A hash match IS the proof
    * that the prefix filter lost no qualifying pair.
    *
    * The gate slices to doc_id % 10 = 0 (plus each doc's planted
    * near-dup) at near-dup threshold 0.9: the SYNTHETIC corpus is
    * template-generated with ~7 % of ALL pairs above 0.9 Jaccard, so
    * every exact algorithm's output — and the DuckDB all-pairs
    * oracle — is inherently quadratic in it; the slice bounds the
    * fixture, not the operator (whose prefix join never materializes
    * all pairs on a real-density corpus).
    */
  def jaccardJoinPairs(s: SparkSession, d: String): DataFrame =
    SetSimJoin.jaccardJoinExact(
        docsWithPlantedDups(s, d).filter(col("doc_id") % 10 === 0),
        "text", "doc_id", minJaccard = 0.9)
      .orderBy("id_a", "id_b")

  /** Label-noise audit by kNN disagreement: for vectors 0–19, the 5
    * nearest corpus neighbors vote on the label; a strict-majority
    * disagreement flags the row for re-annotation. The oracle replays
    * the full quantized-cosine ranking (the q146 arithmetic minus the
    * label filter) and the vote count.
    */
  def labelNoiseAudit(s: SparkSession, d: String): DataFrame =
    Retrieval.knnLabelNoise(tSpread(s, d, "embeddings"), "embedding", "vec_id",
      "label", queryIds = (0L until 20L), k = 5, dims = 64)
      .orderBy("vec_id")

  /** Temperature-flattened source mix (α = 0.5) over the documents
    * corpus: per-source keep fractions ∝ √n_s re-normalized so the
    * binding source keeps everything — the multilingual-mixing rule
    * with the whole arithmetic (sqrt, the q103 scale/frac chain, the
    * md5 threshold) replayed exactly by the oracle.
    */
  def temperatureMixDocs(s: SparkSession, d: String): DataFrame =
    graft.etl.Sampling.temperatureMix(
        t(s, d, "documents").select(col("doc_id"), col("source")),
        "source", col("doc_id"), alpha = 0.5)
      .orderBy("doc_id")

  override def gates: Seq[Gate] = super.gates ++ Seq(

    // the q143 training recurrence restricted to the labeled slice,
    // then the q124 dedup-survivor CTE, then the q144 margin replay
    // over the survivors — threshold filter at the end
    Gate("q151_classifier_curation", Family.Lm, classifierCuration, _ =>
      s"""WITH ${perceptronCtesSql(3, " WHERE doc_id % 5 = 0")},
         |dd AS MATERIALIZED (
         |  SELECT doc_id, source, text FROM (
         |    SELECT doc_id, source, text,
         |      row_number() OVER (PARTITION BY $fpSql ORDER BY doc_id) AS rn
         |    FROM documents) WHERE rn = 1),
         |fa AS MATERIALIZED (
         |  SELECT doc_id,
         |    CAST((strpos('0123456789abcdef', substr(md5(term), 1, 1)) - 1) * 16
         |      + (strpos('0123456789abcdef', substr(md5(term), 2, 1)) - 1) AS BIGINT) AS pos,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT doc_id, unnest(CASE WHEN length(trim(text)) = 0 THEN []
         |        ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END) AS term
         |      FROM dd)
         |  GROUP BY 1, 2),
         |sc AS (
         |  SELECT f.doc_id, CAST(sum(f.cnt * w.w) AS BIGINT) AS dot
         |  FROM fa f JOIN w3 w ON w.pos = f.pos
         |  GROUP BY 1),
         |mar AS MATERIALIZED (
         |  SELECT d.doc_id, d.source,
         |    CAST(coalesce(sc.dot, 0) + (SELECT w FROM w3 WHERE pos = 256) AS BIGINT) AS margin_q
         |  FROM dd d LEFT JOIN sc USING (doc_id)),
         |med AS (SELECT quantile_cont(CAST(margin_q AS DOUBLE), 0.5e0) AS m FROM mar)
         |SELECT doc_id, source, margin_q FROM mar, med
         |WHERE CAST(margin_q AS DOUBLE) > m
         |ORDER BY doc_id""".stripMargin),

    // the q138 oracle VERBATIM — full recursive closure + min-id
    // retention; the Spark side answers from incrementally-maintained
    // labels, so a hash match IS the incremental ≡ full-recompute proof
    Gate("q152_incremental_retention", Family.Dedup, incrementalRetention, _ =>
      s"""WITH RECURSIVE $ccClosureCtesSql,
         |comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node)
         |SELECT e.vec_id, e.label
         |FROM embeddings e JOIN comp c ON e.vec_id = c.node
         |WHERE c.component = c.node
         |ORDER BY e.vec_id""".stripMargin),

    // summary()'s exact rows as formatted cells: counts are BIGINTs,
    // min/max are raw column doubles — both engines print
    // shortest-round-trip decimal strings for them
    Gate("q153_summary_exact", Family.Sketch, summaryExactRows, _ =>
      """SELECT 'count' AS summary,
        |  CAST(count(l_quantity) AS VARCHAR) AS l_quantity,
        |  CAST(count(l_extendedprice) AS VARCHAR) AS l_extendedprice,
        |  CAST(count(l_discount) AS VARCHAR) AS l_discount
        |FROM lineitem
        |UNION ALL
        |SELECT 'min', CAST(min(l_quantity) AS VARCHAR),
        |  CAST(min(l_extendedprice) AS VARCHAR),
        |  CAST(min(l_discount) AS VARCHAR)
        |FROM lineitem
        |UNION ALL
        |SELECT 'max', CAST(max(l_quantity) AS VARCHAR),
        |  CAST(max(l_extendedprice) AS VARCHAR),
        |  CAST(max(l_discount) AS VARCHAR)
        |FROM lineitem
        |ORDER BY summary""".stripMargin),

    // exhaustive all-pairs exact Jaccard over the planted-dup corpus —
    // the Spark side answers from prefix-filtered candidates, so a
    // hash match proves the AllPairs prefix filter is lossless; the
    // division is one correctly-rounded IEEE op over exact integers
    Gate("q154_jaccard_join", Family.Dedup, jaccardJoinPairs, _ =>
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, regexp_replace(text, '^\S+\s*', '')
        |  FROM documents WHERE doc_id % 10 = 0),
        |ts AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |         ELSE regexp_split_to_array(lower(trim(text)), '\s+') END) AS toks
        |  FROM corpus),
        |nz AS (SELECT doc_id, toks, len(toks) AS sz FROM ts WHERE len(toks) > 0),
        |pr AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / CAST(a.sz + b.sz - len(list_intersect(a.toks, b.toks)) AS DOUBLE) AS j
        |  FROM nz a, nz b WHERE a.doc_id < b.doc_id)
        |SELECT id_a, id_b,
        |  CAST(floor(j * 1000000000.0e0 + 0.5e0) AS BIGINT) AS jacc_q
        |FROM pr WHERE j >= 0.9e0
        |ORDER BY id_a, id_b""".stripMargin),

    // the q146 quantized-cosine ranking minus the label filter, self
    // excluded, then the per-query disagreement vote over the top 5
    Gate("q155_label_noise", Family.Ann, labelNoiseAudit, _ =>
      """WITH qe AS (SELECT vec_id, label, list_transform(range(1, 65),
        |    i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0e0 + 0.5e0)
        |      AS BIGINT)) AS v
        |  FROM embeddings),
        |qs AS (SELECT vec_id AS query_id, v AS qv, label AS qlabel
        |  FROM qe WHERE vec_id < 20),
        |sc AS (SELECT query_id, qlabel, vec_id, label,
        |    CAST(list_sum(list_transform(range(1, 65), i -> v[i] * qv[i])) AS BIGINT) AS dot,
        |    CAST(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])) AS BIGINT) AS nc,
        |    CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i])) AS BIGINT) AS nq
        |  FROM qe CROSS JOIN qs
        |  WHERE qe.vec_id != qs.query_id),
        |ct AS (SELECT query_id, qlabel, vec_id, label,
        |    CASE WHEN nc = 0 OR nq = 0 THEN CAST(0 AS BIGINT)
        |         ELSE CAST(floor(CAST(dot AS DOUBLE) / sqrt(CAST(nc AS DOUBLE))
        |           / sqrt(CAST(nq AS DOUBLE)) * 1000000000.0e0 + 0.5e0) AS BIGINT)
        |    END AS cos_tq
        |  FROM sc),
        |rk AS (SELECT query_id, qlabel, vec_id, label, cos_tq,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_tq DESC, vec_id) AS rnk
        |  FROM ct)
        |SELECT query_id AS vec_id, qlabel AS label,
        |  CAST(sum(CASE WHEN label IS DISTINCT FROM qlabel THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_diff,
        |  CAST(sum(CASE WHEN label IS DISTINCT FROM qlabel THEN 1 ELSE 0 END)
        |    AS BIGINT) * 2 > 5 AS noisy
        |FROM rk WHERE rnk <= 5
        |GROUP BY query_id, qlabel
        |ORDER BY vec_id""".stripMargin),

    // the q103 scale/frac/md5-threshold chain with targets DERIVED as
    // sqrt(n) — every double op (sqrt, the two divisions, the product)
    // is correctly rounded, so the kept SET is engine-portable
    Gate("q156_temperature_mix", Family.Lm, temperatureMixDocs, _ =>
      """WITH counts AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS nn
        |  FROM documents WHERE source IS NOT NULL GROUP BY source),
        |t AS (SELECT source, CAST(nn AS DOUBLE) AS n,
        |    sqrt(CAST(nn AS DOUBLE)) AS tw
        |  FROM counts),
        |sc AS (SELECT min(n / tw) AS scale FROM t),
        |f AS (SELECT source, least(tw * scale / n, 1.0e0) AS frac
        |  FROM t CROSS JOIN sc)
        |SELECT doc_id, source FROM documents JOIN f USING (source)
        |WHERE md5(CAST(doc_id AS VARCHAR)) <
        |  CASE WHEN frac >= 1.0e0 THEN 'g'
        |       ELSE printf('%08x', CAST(floor(frac * 4294967296.0e0) AS BIGINT)) END
        |ORDER BY doc_id""".stripMargin),

  )
}
