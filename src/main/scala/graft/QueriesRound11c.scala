package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Sampling
import graft.ext.{Clustering, TextAnalysis}

/** Gate queries — round 11, third pass: the data-constrained curation
  * tier. Prototypicality-based pruning (keep the hard per-cluster
  * fraction of the embedding space), the benchmark-decontamination
  * REWRITE (scrub eval-set spans out of corpus documents instead of
  * dropping the documents), and the UniMax epoch-aware mixing plan
  * (repeat sources under a token budget with a per-source epoch cap —
  * the regime temperature mixing cannot reach because it only ever
  * down-samples).
  */
private[graft] trait PipelinesRound11c extends PipelinesBase {

  /** Prototypicality pruning (Sorscher et al. 2022): k-means the
    * embedding corpus (the q131 recurrence — same k, iterations, and
    * integer arithmetic), keep each cluster's far-from-centroid HALF
    * (the abundant-data regime). The oracle replays the full Lloyd
    * recurrence, the per-cluster exact median, and the strict cut —
    * a drift in any iteration, centroid, or threshold breaks the
    * hash.
    */
  def prototypePrune(s: SparkSession, d: String): DataFrame =
    Clustering.prototypicalityPrune(t(s, d, "embeddings"), "embedding",
        "vec_id", k = 8, iterations = 2, keepFrac = 0.5, keepHard = true)
      .orderBy("vec_id")

  /** Cluster-balanced subsampling (r12): at most 30 docs per k-means
    * cluster, chosen by the portable md5(id) order — the
    * diversity-preserving downsample a frequency-skewed corpus needs
    * (a giant near-duplicate mode shrinks to its quota, small tails
    * survive whole). The oracle chains the q131 Lloyd recurrence into
    * a per-cluster md5-ordered rank — assignment, distance, and the
    * sampled SET all replay exactly.
    */
  def clusterBalancedDocs(s: SparkSession, d: String): DataFrame =
    Clustering.clusterBalancedSample(t(s, d, "embeddings"), "embedding",
        "vec_id", k = 8, iterations = 2, quota = 30)
      .orderBy("vec_id")

  /** Benchmark decontamination, the REWRITE half (q75/q79/q109 only
    * profile): every token covered by an 8-token span that appears
    * verbatim in the probe documents (the q79 probe set: doc_ids
    * 3/7/11/19/23) is removed from every corpus document — the
    * quoted eval question goes, the page stays. The probe documents
    * themselves scrub to empty by construction (every span of a probe
    * is a probe span).
    */
  def decontamScrub(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    TextAnalysis.scrubContaminated(docs, "doc_id", "text",
        docs.filter(col("doc_id").isin(3L, 7L, 11L, 19L, 23L)), "text", n = 8)
      .orderBy("doc_id")
  }

  /** Epoch-aware mixing plan under a token budget (UniMax): the
    * budget is 2× the corpus's token volume with a 3-epoch cap, so
    * small sources bind at their cap and large sources level at the
    * equal integer share — caps, leveling, and the lexicographic
    * remainder all exercise on real counts. Every (doc, epoch) row of
    * the materialized plan must match: full passes replay as
    * generate_series over the integer allocation, the fractional
    * final epoch as the md5-threshold filter at the exact remainder
    * fraction.
    */
  def epochMixPlan(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    // greatest(·, 0): tokenCount(NULL text) is -1 (size(NULL) in
    // non-ANSI Spark) while the oracle's CASE maps NULL text to 0 — a
    // NULL-text doc with a non-null source would otherwise skew the
    // budget and every downstream epoch share (ADVICE r11)
    val toks = greatest(TextAnalysis.tokenCount(col("text")), lit(0))
    val total = docs.filter(col("source").isNotNull)
      .agg(sum(toks.cast("long")))
      .head.getLong(0)
    Sampling.epochMix(docs.select(col("doc_id"), col("source"), col("text")),
        "source", col("doc_id"), toks,
        budget = 2L * total, maxEpochs = 3)
      .select(col("doc_id"), col("source"), col("epoch"))
      .orderBy("doc_id", "epoch")
  }

  /** Temporal spike monitor: per (event_type, day) counts against the
    * trailing 7-day baseline, spike = exact integer-rational
    * n·7·1e6/trailing_sum; NULL until a full baseline exists.
    */
  def temporalSpikesByType(s: SparkSession, d: String): DataFrame =
    graft.operators.Drift.temporalSpikes(t(s, d, "events"), "ts",
        "event_type", window = 7)
      .orderBy("event_type", "day_us")

  /** Tempered negative-sampling table: 50 deterministic draws against
    * the corpus unigram distribution at exponent 0.75 (sqrt·sqrt∘sqrt
    * — engine-portable where pow is not); every draw's md5 target,
    * the quantized cumulative interval layout, and the containment
    * match replay exactly.
    */
  def negativeSamples(s: SparkSession, d: String): DataFrame = {
    val vocab = t(s, d, "documents")
      .select(explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val draws = s.range(50).select(col("id").as("draw_id"))
    graft.ext.NegativeSampling.sampleTable(vocab, "term", "cnt",
        draws, "draw_id")
      .orderBy("draw_id")
  }

  /** Per-pack training manifest over the q169 plan: for every
    * (source, pack), how many documents START there and the ordered
    * boundary-offset list (start_tok mod the 512-token pack width —
    * where attention must reset inside the sequence). The offsets
    * serialize as a comma-joined string so the gate stays on flat
    * columns; boundary order is the (start, eid) sort, deterministic.
    */
  def packManifest(s: SparkSession, d: String): DataFrame = {
    val plan = epochPacking(s, d)
    plan.filter(col("n_tokens") > 0)
      .select(col("source"), col("first_pack").as("pack"),
        struct((col("start_tok") % 512L).as("off"), col("eid")).as("_b"))
      .groupBy(col("source"), col("pack"))
      .agg(count(lit(1)).as("n_docs"),
        concat_ws(",", transform(array_sort(collect_list(col("_b"))),
          b => b.getField("off").cast("string"))).as("boundaries"))
      .orderBy("source", "pack")
  }

  /** Quantile-normalized quality ensemble: the four q24 signals
    * (token count, average word length, punctuation ratio, stopword
    * ratio) each map to their exact decile bin and the ensemble is
    * the integer bin sum — rank fusion whose ORDERING is
    * engine-portable (a weighted-double blend would be ulp-fragile at
    * every cut boundary). One aggregate fits all four edge arrays
    * simultaneously; scoring is a projection under the broadcast
    * 1-row edge frame.
    */
  def qualityEnsemble(s: SparkSession, d: String): DataFrame = {
    val sig = t(s, d, "documents").select(
      col("doc_id") +:
        TextAnalysis.qualityFeatures(col("text")).map { case (n, c) => c.as(n) }: _*)
    graft.etl.Discretize.ensembleQuantileScore(sig,
        Seq("n_tokens", "avg_word_len", "punct_ratio", "stopword_ratio"),
        nBins = 10)
      .select(col("doc_id"), col("ensemble_q"))
      .orderBy("doc_id")
  }

  /** T5 span-corruption masking plan: every mask decision is
    * md5(doc:pos) against the noiseFrac/spanLen threshold, so the
    * corrupted input, the sentinel-delimited target, and both
    * counters replay exactly — the training-data construction is
    * byte-reproducible, not an RNG draw.
    */
  def spanCorruption(s: SparkSession, d: String): DataFrame =
    graft.ext.Denoise.spanCorruptionPlan(t(s, d, "documents"),
        "doc_id", "text", noiseFrac = 0.15, spanLen = 3)
      .orderBy("doc_id")

  /** Fill-in-the-middle plan: half the corpus (md5-decided) splits at
    * two md5-derived token cuts and re-serializes in PSM sentinel
    * order; every cut decision and both boundary draws replay in the
    * oracle, so the infilling training set is byte-reproducible.
    */
  def fimPlanDocs(s: SparkSession, d: String): DataFrame =
    graft.ext.Denoise.fimPlan(t(s, d, "documents"), "doc_id", "text",
        fimRate = 0.5)
      .orderBy("doc_id")

  /** Ensemble curation, end to end through the STORE: the q170
    * ensemble scores cut strictly above the corpus exact median (the
    * q151 1-row broadcast-back discipline — a fixed integer cut would
    * drift with the signal distributions), and the kept set publishes
    * through the feature-store write path (create + overwrite +
    * read-back), so the gate hash-checks the PUBLISHED table content,
    * not just the plan — the K-tier commit machinery sits inside the
    * verified path, the q07/q33 discipline applied to curation.
    */
  def ensembleCuration(s: SparkSession, d: String): DataFrame = {
    // two lazy checkpoints (r19, the shared-consumer discipline): sig
    // is consumed twice INSIDE ensembleQuantileScore (edge fit +
    // scoring projection) and scored twice below (median + cut) — the
    // quality-feature extraction otherwise evaluates four times
    val sig = t(s, d, "documents").select(
      col("doc_id") +:
        TextAnalysis.qualityFeatures(col("text")).map { case (n, c) => c.as(n) }: _*)
      .localCheckpoint(false)
    val scored = graft.etl.Discretize.ensembleQuantileScore(sig,
        Seq("n_tokens", "avg_word_len", "punct_ratio", "stopword_ratio"),
        nBins = 10)
      .select(col("doc_id"), col("ensemble_q"))
      .localCheckpoint(false)
    val med = scored.agg(expr("percentile(ensemble_q, 0.5d)").as("_m"))
    val kept = scored.crossJoin(broadcast(med))
      .filter(col("ensemble_q").cast("double") > col("_m"))
      .drop("_m")
    val store = fsTempStoreFor(s, d)
    val name = "ensemble_keep"
    if (!store.tableExists(name)) {
      store.createTable(graft.fs.FeatureTableSpec(name, Seq("doc_id"),
        kept.schema, "ensemble-curated document ids"))
    }
    store.writeTable(name, kept, graft.fs.WriteMode.Overwrite)
    store.readTable(name)
      .select(col("doc_id"), col("ensemble_q"))
      .orderBy("doc_id")
  }

  /** Capped examples-proportional mixing (the T5 rule) over the
    * skewed lang strata with cap 100: at sf0.01 only the en head
    * binds at the cap, at sf0.1 every lang exceeds it and the
    * smallest becomes the keep-everything binding stratum — both
    * regimes of the rule exercise on real counts, and the kept SET
    * (not just its size) replays through the md5 threshold.
    */
  def cappedMixDocs(s: SparkSession, d: String): DataFrame =
    Sampling.cappedMix(t(s, d, "documents"), "lang", col("doc_id"), cap = 100L)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  /** Manifest diff between the even-doc half and the full corpus:
    * per-source counts and order-independent content digests (BIGINT
    * sums of 13-hex md5 fingerprint integers — invariant to
    * partitioning and engine), with the changed flag a re-run
    * verification reads. Every source differs here by construction;
    * the digest arithmetic is what the hash pins.
    */
  def manifestDiffHalves(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    TextAnalysis.manifestDiff(docs.filter(col("doc_id") % 2 === 0), docs,
        "text", "source")
      .orderBy("source")
  }


  /** The q168 epoch plan feeding the q100 packing window — the shape
    * a pretraining run actually executes: mix → order → pack. The
    * replicated corpus concatenates in composite (epoch, doc) order
    * within each source stream (epoch·10¹² + doc_id — epochs run
    * sequentially, each a full deterministic pass), and every
    * (doc, epoch) occurrence gets its token interval and the fixed
    * 512-token training sequences it spans. One window exchange on
    * the stream key over the generator output; the oracle chains the
    * UniMax allocation INTO the running-sum window, so a wrong epoch
    * count shifts every downstream pack id and breaks the hash.
    */
  def epochPacking(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    // greatest(·, 0) mirrors the oracle's NULL-text → 0 CASE (see
    // epochMixPlan; ADVICE r11)
    val toks = greatest(TextAnalysis.tokenCount(col("text")), lit(0))
    val total = docs.filter(col("source").isNotNull)
      .agg(sum(toks.cast("long")))
      .head.getLong(0)
    val mixed = Sampling.epochMix(
        docs.select(col("doc_id"), col("source"), col("text")),
        "source", col("doc_id"), toks,
        budget = 2L * total, maxEpochs = 3)
      .withColumn("eid", col("epoch") * lit(1000000000000L) + col("doc_id"))
    graft.ext.Chunking.packingPlan(mixed, "text", "eid", "source",
        budget = 512)
      .select(col("eid"),
        (col("eid") % 1000000000000L).as("doc_id"),
        (col("eid") / 1000000000000L).cast("long").as("epoch"),
        col("source"), col("n_tokens"), col("start_tok"), col("end_tok"),
        col("first_pack"), col("last_pack"))
      .orderBy("eid")
  }

  override def gates: Seq[Gate] = super.gates ++ Seq(

    // the shared q131 Lloyd recurrence, then the per-cluster exact
    // median (quantile_cont — the q164 percentile contract) and the
    // strict far-half cut
    Gate("q166_prototype_prune", Family.Ann, prototypePrune, _ =>
      s"""WITH ${kmeansCtesSql(8, 2)},
         |asg AS (SELECT vec_id, cid, dist FROM a3 WHERE rk = 1),
         |thr AS (SELECT cid, quantile_cont(CAST(dist AS DOUBLE), 0.5e0) AS t
         |  FROM asg GROUP BY cid)
         |SELECT a.vec_id, a.cid, a.dist AS dist_q
         |FROM asg a JOIN thr USING (cid)
         |WHERE CAST(a.dist AS DOUBLE) > t
         |ORDER BY a.vec_id""".stripMargin),


    // the q131 Lloyd recurrence chained into a per-cluster md5-ordered
    // quota rank — the cluster-balanced sampled SET replays exactly
    Gate("q188_cluster_balance", Family.Ann, clusterBalancedDocs, _ =>
      s"""WITH ${kmeansCtesSql(8, 2)},
         |asg AS (SELECT vec_id, cid, dist FROM a3 WHERE rk = 1),
         |rq AS (SELECT vec_id, cid, dist,
         |    row_number() OVER (PARTITION BY cid
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk2
         |  FROM asg)
         |SELECT vec_id, cid, dist AS dist_q FROM rq
         |WHERE rk2 <= 30 ORDER BY vec_id""".stripMargin),

    // the q163 positional-gram/coverage/rebuild shape, with the dup
    // span set replaced by the probe documents' distinct gram set
    Gate("q167_decontam_scrub", Family.Dedup, decontamScrub, _ =>
      s"""WITH t AS (SELECT doc_id, $rawTokensCaseSql AS w FROM documents),
         |occ AS (
         |  SELECT doc_id, u.i AS pos,
         |    md5(w[u.i] || ' ' || w[u.i+1] || ' ' || w[u.i+2] || ' ' || w[u.i+3] || ' ' ||
         |      w[u.i+4] || ' ' || w[u.i+5] || ' ' || w[u.i+6] || ' ' || w[u.i+7]) AS g
         |  FROM t, unnest(generate_series(1, len(w) - 7)) AS u(i)
         |  WHERE len(w) >= 8),
         |pg AS (SELECT DISTINCT g FROM occ WHERE doc_id IN (3, 7, 11, 19, 23)),
         |hit AS (
         |  SELECT DISTINCT o.doc_id, p.i AS pos
         |  FROM occ o JOIN pg ON pg.g = o.g,
         |    unnest(generate_series(o.pos, o.pos + 7)) AS p(i)),
         |kept AS (
         |  SELECT t.doc_id, u.i AS pos, w[u.i] AS tok
         |  FROM t, unnest(generate_series(1, len(w))) AS u(i)
         |  WHERE NOT EXISTS (SELECT 1 FROM hit h
         |    WHERE h.doc_id = t.doc_id AND h.pos = u.i)),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS s,
         |    CAST(count(*) AS BIGINT) AS nk
         |  FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, coalesce(a.s, '') AS scrubbed_text,
         |  CAST(len(t.w) - coalesce(a.nk, 0) AS BIGINT) AS n_removed
         |FROM t LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // UniMax water-filling in closed form (ascending-cap prefix sums:
    // sources before the stop index take their cap, the rest level at
    // the integer share with the remainder going to the
    // lexicographically smallest), then the per-epoch materialization
    // — full passes via generate_series, the fractional epoch via the
    // md5 threshold at the exact remainder fraction
    Gate("q168_epoch_mix", Family.Lm, epochMixPlan, _ =>
      s"""WITH $epochMixCtesSql
         |SELECT doc_id, source, epoch FROM mix
         |ORDER BY doc_id, epoch""".stripMargin),

    // the four q24 signal expressions, one quantile_cont per signal
    // over the whole corpus (the q166 percentile contract), then the
    // integer bin-sum fusion
    Gate("q170_quality_ensemble", Family.Lm, qualityEnsemble, _ =>
      s"""WITH $ensembleCtesSql
         |SELECT doc_id, ensemble_q FROM ens ORDER BY doc_id""".stripMargin),

    // the q170 scores, the exact corpus median, and the strict
    // above-median cut — the published store table must equal it
    Gate("q177_ensemble_curation", Family.Lm, ensembleCuration, _ =>
      s"""WITH $ensembleCtesSql,
         |md AS (SELECT quantile_cont(CAST(ensemble_q AS DOUBLE), 0.5e0) AS m
         |  FROM ens)
         |SELECT doc_id, ensemble_q FROM ens, md
         |WHERE CAST(ensemble_q AS DOUBLE) > m
         |ORDER BY doc_id""".stripMargin),

    // per-(type, day) counts, the trailing 7-row window sum/count per
    // type, and the exact-rational spike ratio with the NULL baseline
    // guard
    Gate("q183_temporal_spikes", Family.Sketch, temporalSpikesByType, _ =>
      """WITH c AS (
        |  SELECT event_type, epoch_us(date_trunc('day', ts)) AS day_us,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, day_us, n,
        |    CAST(count(n) OVER w AS BIGINT) AS tn,
        |    CAST(sum(n) OVER w AS BIGINT) AS tsum
        |  FROM c WINDOW w AS (PARTITION BY event_type ORDER BY day_us
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, day_us, n,
        |  CAST(coalesce(tsum, 0) AS BIGINT) AS trail_sum,
        |  CASE WHEN tn = 7 AND tsum > 0
        |    THEN CAST(floor(CAST(n AS DOUBLE) * 7.0e0 * 1000000.0e0
        |      / CAST(tsum AS DOUBLE)) AS BIGINT) END AS spike_q
        |FROM s ORDER BY event_type, day_us""".stripMargin),

    // tempered weights (sqrt·sqrt∘sqrt, quantized to BIGINT), ordered
    // cumulative intervals, md5 draw targets mod the total mass, and
    // the half-open containment match
    Gate("q182_negative_samples", Family.Lm, negativeSamples, _ =>
      """WITH tm AS (SELECT unnest(
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |         ELSE regexp_split_to_array(lower(trim(text)), '\s+') END) AS term
        |  FROM documents),
        |v AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tm GROUP BY term),
        |w AS (SELECT term, CAST(floor(sqrt(CAST(cnt AS DOUBLE))
        |    * sqrt(sqrt(CAST(cnt AS DOUBLE))) * 1000000.0e0 + 0.5e0) AS BIGINT) AS wq
        |  FROM v),
        |c AS (SELECT term, wq, CAST(sum(wq) OVER (ORDER BY term
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM w),
        |tot AS (SELECT CAST(sum(wq) AS BIGINT) AS wt FROM w),
        |dr AS (SELECT CAST(u.i AS BIGINT) AS draw_id
        |  FROM unnest(generate_series(0, 49)) AS u(i)),
        |tg AS (SELECT draw_id,
        |    list_reduce(list_transform(range(1, 14),
        |      i -> CAST(strpos('0123456789abcdef',
        |        substr(md5(CAST(draw_id AS VARCHAR) || ':ns'), i, 1)) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) % wt AS t
        |  FROM dr, tot)
        |SELECT tg.draw_id, c.term, c.wq AS w_q
        |FROM tg JOIN c ON tg.t >= c.cum - c.wq AND tg.t < c.cum
        |ORDER BY tg.draw_id""".stripMargin),

    // the q103 scale/frac/md5-threshold chain with targets
    // min(n, cap) — every double step written in the engine's order
    Gate("q180_capped_mix", Family.Lm, cappedMixDocs, _ =>
      """WITH counts AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents WHERE lang IS NOT NULL GROUP BY lang),
        |sc AS (SELECT min(CAST(n AS DOUBLE) / CAST(least(n, 100) AS DOUBLE)) AS scale
        |  FROM counts),
        |f AS (SELECT lang,
        |    least(CAST(least(n, 100) AS DOUBLE) * scale / CAST(n AS DOUBLE),
        |      1.0e0) AS frac
        |  FROM counts CROSS JOIN sc)
        |SELECT doc_id, lang FROM documents JOIN f USING (lang)
        |WHERE md5(CAST(doc_id AS VARCHAR)) <
        |  CASE WHEN frac >= 1.0e0 THEN 'g'
        |       ELSE printf('%08x', CAST(floor(frac * 4294967296.0e0) AS BIGINT)) END
        |ORDER BY doc_id""".stripMargin),

    // the fingerprint md5 (fpSql), the 13-hex-digit integer parse
    // (q127 idiom), order-free BIGINT sums per source, full-outer diff
    Gate("q179_manifest_diff", Family.Lm, manifestDiffHalves, _ => {
      def man(name: String, where: String): String =
        s"""$name AS (
           |  SELECT source, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(list_reduce(list_transform(range(1, 14),
           |      i -> CAST(strpos('0123456789abcdef',
           |        substr($fpSql, i, 1)) - 1 AS BIGINT)),
           |      (a, b) -> a * 16 + b)) % 4503599627370496 AS BIGINT) AS fp
           |  FROM documents $where GROUP BY source)""".stripMargin
      s"""WITH ${man("ma", "WHERE doc_id % 2 = 0")},
         |${man("mb", "")}
         |SELECT coalesce(ma.source, mb.source) AS source,
         |  CAST(coalesce(ma.n, 0) AS BIGINT) AS n_a,
         |  CAST(coalesce(mb.n, 0) AS BIGINT) AS n_b,
         |  CAST(coalesce(ma.fp, 0) AS BIGINT) AS fp_a,
         |  CAST(coalesce(mb.fp, 0) AS BIGINT) AS fp_b,
         |  (coalesce(ma.n, 0) != coalesce(mb.n, 0)
         |    OR coalesce(ma.fp, 0) != coalesce(mb.fp, 0)) AS changed
         |FROM ma FULL OUTER JOIN mb ON ma.source = mb.source
         |ORDER BY source""".stripMargin
    }),


    // both md5 decisions replay: the fim gate under the printf
    // threshold, the two 13-hex-digit boundary draws (the q127
    // strpos/list_reduce idiom, no +1 here) mod (n+1), then the PSM
    // sentinel assembly over 1-based list slices
    Gate("q175_fim_plan", Family.Lm, fimPlanDocs, _ => {
      def u(salt: String): String =
        s"""list_reduce(list_transform(range(1, 14),
           |      i -> CAST(strpos('0123456789abcdef',
           |        substr(md5(CAST(doc_id AS VARCHAR) || '$salt'), i, 1)) - 1 AS BIGINT)),
           |      (a, b) -> a * 16 + b)""".stripMargin
      s"""WITH t AS (SELECT doc_id, $rawTokensCaseSql AS w FROM documents),
         |b AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n,
         |    md5(CAST(doc_id AS VARCHAR) || ':fim')
         |      < printf('%08x', CAST(floor(0.5e0 * 4294967296.0e0) AS BIGINT)) AS fim,
         |    ${u(":c1")} % (len(w) + 1) AS c1,
         |    ${u(":c2")} % (len(w) + 1) AS c2
         |  FROM t),
         |c AS (SELECT doc_id, w, n, fim,
         |    least(c1, c2) AS lo, greatest(c1, c2) AS hi FROM b)
         |SELECT doc_id,
         |  CASE WHEN fim THEN coalesce(array_to_string(
         |      list_concat(list_concat(list_concat(list_concat(list_concat(
         |        ['<fim_prefix>'], w[1:lo]),
         |        ['<fim_suffix>']), w[hi+1:n]),
         |        ['<fim_middle>']), w[lo+1:hi]), ' '), '')
         |    ELSE coalesce(array_to_string(w, ' '), '') END AS fim_text,
         |  fim AS is_fim,
         |  CAST(CASE WHEN fim THEN lo ELSE n END AS BIGINT) AS n_prefix,
         |  CAST(CASE WHEN fim THEN hi - lo ELSE 0 END AS BIGINT) AS n_middle,
         |  CAST(CASE WHEN fim THEN n - hi ELSE 0 END AS BIGINT) AS n_suffix
         |FROM c ORDER BY doc_id""".stripMargin
    }),


    // every mask decision replays: md5(doc:pos:sc) under the replayed
    // printf threshold, L-window coverage, maximal-run starts, and
    // both sentinel rebuilds — list HOFs over the same position space
    Gate("q171_span_corruption", Family.Lm, spanCorruption, _ =>
      s"""WITH t AS (SELECT doc_id, $rawTokensCaseSql AS w FROM documents),
         |b AS (SELECT doc_id, w, len(w) AS n,
         |    list_transform(range(1, len(w) + 1), i ->
         |      md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR) || ':sc')
         |        < printf('%08x', CAST(floor(0.15e0 / 3.0e0 * 4294967296.0e0) AS BIGINT))) AS st
         |  FROM t),
         |m AS (SELECT doc_id, w, n, st,
         |    list_transform(range(1, n + 1), j ->
         |      len(list_filter(range(greatest(j - 2, 1), j + 1), s -> st[s])) > 0) AS mk
         |  FROM b),
         |r AS (SELECT doc_id, w, n, mk,
         |    list_filter(range(1, n + 1), j -> mk[j] AND (j = 1 OR NOT mk[j-1])) AS runs
         |  FROM m)
         |SELECT doc_id,
         |  coalesce(array_to_string(flatten(list_transform(range(1, n + 1), j ->
         |    CASE WHEN mk[j] THEN
         |      CASE WHEN list_contains(runs, j)
         |        THEN ['<extra_id_' || CAST(list_position(runs, j) AS VARCHAR) || '>']
         |        ELSE CAST([] AS VARCHAR[]) END
         |    ELSE [w[j]] END)), ' '), '') AS input_text,
         |  coalesce(array_to_string(flatten(list_transform(range(1, n + 1), j ->
         |    CASE WHEN mk[j] THEN
         |      CASE WHEN list_contains(runs, j)
         |        THEN ['<extra_id_' || CAST(list_position(runs, j) AS VARCHAR) || '>', w[j]]
         |        ELSE [w[j]] END
         |    ELSE CAST([] AS VARCHAR[]) END)), ' '), '') AS target_text,
         |  CAST(len(list_filter(mk, x -> x)) AS BIGINT) AS n_masked,
         |  CAST(len(runs) AS BIGINT) AS n_spans
         |FROM r ORDER BY doc_id""".stripMargin),

    // the q168 epoch plan feeding the q100 packing window: the
    // replicated corpus orders by the composite (epoch, doc) id
    // within each source stream, running token sums and pack spans
    // replay over it
    Gate("q169_epoch_packing", Family.Lm, epochPacking, _ =>
      s"""WITH $epochPackCtesSql
         |SELECT eid, doc_id, epoch, source, n_tokens, start_tok, end_tok,
         |  first_pack, last_pack
         |FROM pk ORDER BY eid""".stripMargin),

    // the q169 pack plan grouped per (source, pack): docs STARTING in
    // the pack plus the ordered within-pack boundary offsets — the
    // attention-reset manifest a trainer consumes
    Gate("q181_pack_manifest", Family.Lm, packManifest, _ =>
      s"""WITH $epochPackCtesSql
         |SELECT source, first_pack AS pack, CAST(count(*) AS BIGINT) AS n_docs,
         |  string_agg(CAST(start_tok % 512 AS VARCHAR), ','
         |    ORDER BY start_tok % 512, eid) AS boundaries
         |FROM pk WHERE n_tokens > 0
         |GROUP BY 1, 2
         |ORDER BY source, pack""".stripMargin),
  )

  /** The q170 quantile-bin ensemble through a final
    * `ens(doc_id, ensemble_q)` CTE — ONE source of truth for the
    * score gate and the q177 curation cut built on it.
    */
  protected def ensembleCtesSql: String =
    s"""f AS (SELECT doc_id,
       |    CAST(length(text) AS DOUBLE) AS nc,
       |    CAST($tokenCountSql AS DOUBLE) AS nt,
       |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) AS np,
       |    CAST(${stopHitsSql(graft.ext.TextAnalysis.stopwords("en"))} AS DOUBLE) AS ns
       |  FROM documents),
       |s AS (SELECT doc_id,
       |    nt AS s0,
       |    CASE WHEN nt > 0 THEN nc / nt ELSE 0.0e0 END AS s1,
       |    CASE WHEN nc > 0 THEN np / nc ELSE 0.0e0 END AS s2,
       |    CASE WHEN nt > 0 THEN ns / nt ELSE 0.0e0 END AS s3
       |  FROM f),
       |e AS (SELECT
       |    quantile_cont(s0, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS e0,
       |    quantile_cont(s1, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS e1,
       |    quantile_cont(s2, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS e2,
       |    quantile_cont(s3, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS e3
       |  FROM s),
       |ens AS (SELECT doc_id,
       |  CAST(len(list_filter(e0, x -> x <= s0))
       |     + len(list_filter(e1, x -> x <= s1))
       |     + len(list_filter(e2, x -> x <= s2))
       |     + len(list_filter(e3, x -> x <= s3)) AS BIGINT) AS ensemble_q
       |FROM s, e)""".stripMargin

  /** The q169 pack plan through a final `pk` CTE (eid, doc_id, epoch,
    * source, n_tokens, start/end_tok, first/last_pack) — ONE source of
    * truth for the packing gate and the q181 per-pack manifest.
    */
  protected def epochPackCtesSql: String =
    s"""$epochMixCtesSql,
       |e AS (
       |  SELECT m.epoch * 1000000000000 + m.doc_id AS eid,
       |    m.doc_id, m.epoch, m.source, CAST(d.ntok AS BIGINT) AS n_tokens
       |  FROM mix m JOIN d USING (doc_id, source)),
       |pk AS (
       |  SELECT eid, doc_id, epoch, source, n_tokens,
       |    CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS start_tok,
       |    CAST(sum(n_tokens) OVER w AS BIGINT) AS end_tok,
       |    CAST(floor((sum(n_tokens) OVER w - n_tokens) / 512.0e0) AS BIGINT) AS first_pack,
       |    CAST(floor(greatest(sum(n_tokens) OVER w - 1,
       |               sum(n_tokens) OVER w - n_tokens) / 512.0e0) AS BIGINT) AS last_pack
       |  FROM e
       |  WINDOW w AS (PARTITION BY source ORDER BY eid))""".stripMargin

  /** The q168 UniMax allocation + epoch materialization, through a
    * final `mix(doc_id, source, epoch)` CTE (per-doc token counts stay
    * visible as `d(doc_id, source, ntok)`) — ONE source of truth for
    * q168's plan gate and the q169 packing composition built on it.
    */
  protected val epochMixCtesSql: String =
      """d AS (
        |  SELECT doc_id, source,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ntok
        |  FROM documents WHERE source IS NOT NULL),
        |src AS (SELECT source, CAST(sum(ntok) AS BIGINT) AS n
        |  FROM d GROUP BY source),
        |tot AS (SELECT CAST(2 * sum(n) AS BIGINT) AS b FROM src),
        |ord AS (SELECT source, n, n * 3 AS cap,
        |    row_number() OVER (ORDER BY n * 3, source) AS i,
        |    sum(n * 3) OVER (ORDER BY n * 3, source
        |      ROWS UNBOUNDED PRECEDING) AS pc,
        |    count(*) OVER () AS m
        |  FROM src),
        |stp AS (SELECT coalesce(
        |    (SELECT min(i) FROM ord, tot
        |      WHERE cap > (b - (pc - cap)) // (m - i + 1)),
        |    (SELECT max(m) FROM ord) + 1) AS ks),
        |lvl AS (SELECT
        |    (SELECT b FROM tot)
        |      - coalesce((SELECT pc FROM ord, stp WHERE i = ks - 1), 0) AS remb,
        |    (SELECT max(m) FROM ord) - (SELECT ks FROM stp) + 1 AS act),
        |pre AS (SELECT o.source, o.n, o.cap AS b_s
        |  FROM ord o, stp WHERE o.i < ks),
        |post AS (SELECT o.source, o.n,
        |    (SELECT remb FROM lvl) // (SELECT act FROM lvl)
        |      + CASE WHEN row_number() OVER (ORDER BY o.source)
        |          <= (SELECT remb FROM lvl) % (SELECT act FROM lvl)
        |        THEN 1 ELSE 0 END AS b_s
        |  FROM ord o, stp WHERE o.i >= ks),
        |alloc AS (SELECT * FROM pre UNION ALL SELECT * FROM post),
        |plan AS (SELECT source, n, CAST(b_s // n AS BIGINT) AS fe,
        |    CAST(b_s % n AS BIGINT) AS remt FROM alloc),
        |thr AS (SELECT source, fe,
        |    printf('%08x', CAST(floor(CAST(remt AS DOUBLE) / CAST(n AS DOUBLE)
        |      * 4294967296.0e0) AS BIGINT)) AS h
        |  FROM plan),
        |fulle AS (
        |  SELECT d.doc_id, d.source, CAST(u.e AS BIGINT) AS epoch
        |  FROM d JOIN thr t USING (source),
        |    unnest(generate_series(1, t.fe)) AS u(e)
        |  WHERE t.fe >= 1),
        |part AS (
        |  SELECT d.doc_id, d.source, CAST(t.fe + 1 AS BIGINT) AS epoch
        |  FROM d JOIN thr t USING (source)
        |  WHERE md5(CAST(d.doc_id AS VARCHAR) || ':ep') < t.h),
        |mix AS (SELECT * FROM fulle UNION ALL SELECT * FROM part)""".stripMargin
}
