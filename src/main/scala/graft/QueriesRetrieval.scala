package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.etl.Features
import graft.ext.{Chunking, Components, Dedup, Pq, Similarity, TextAnalysis}
import graft.fs.{FeatureTableSpec, PointInTime, WriteMode}

/** Gate queries — retrieval (BM25/RRF/binary/int8 tiers), chunking and
  * packing, drift, curriculum ordering, and projections.
  */
private[graft] trait PipelinesRetrieval extends PipelinesBase { this: PipelinesCuration =>

  // BM25 keyword retrieval over the corpus for a fixed query-term set
  // — one scan + 1-row stats broadcast + TakeOrderedAndProject; the
  // quantized-integer score contract makes the gate hashable (see
  // Retrieval.bm25TopK).
  def bm25Search(s: SparkSession, d: String): DataFrame =
    ext.Retrieval.bm25TopK(t(s, d, "documents"), "text", "doc_id",
      Seq("spark", "vector", "stream"), k = 50)
      .orderBy(col("bm25_q").desc, col("doc_id"))

  // Scalar int8 quantization of the embedding corpus; the gate emits
  // the codes as a space-joined string + integer checksum (array
  // columns are not portable through the parquet/pandas compare).
  def int8Quantize(s: SparkSession, d: String): DataFrame =
    Pq.scalarQuantize(t(s, d, "embeddings"), "embedding", "vec_id")
      .select(col("vec_id"),
        array_join(transform(col("codes"), c => c.cast("string")), " ")
          .as("codes_str"),
        aggregate(col("codes"), lit(0L), (acc, x) => acc + x).as("code_sum"))
      .orderBy("vec_id")

  // Span-level exact-dup profile: distinct 8-token spans per doc that
  // also appear verbatim in another doc (Lee et al. 2022 shape).
  def dupSpans(s: SparkSession, d: String): DataFrame =
    TextAnalysis.dupSpanCounts(tSpread(s, d, "documents"), "doc_id", "text", n = 8)
      .orderBy("doc_id")

  // Corpus-fit unigram-LM familiarity score (linear-domain perplexity
  // stand-in) per document.
  def unigramLm(s: SparkSession, d: String): DataFrame =
    TextAnalysis.unigramLmScores(t(s, d, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  // Hybrid retrieval: BM25 keyword candidates fused with exact
  // quantized-dot vector candidates (query = embedding 0, sharing the
  // doc id domain) by reciprocal-rank fusion. Both candidate lists are
  // TakeOrderedAndProject top-100s, so the rank windows run on ≤100
  // rows — never on the corpus.
  def hybridRrf(s: SparkSession, d: String): DataFrame = {
    val text = ext.Retrieval.bm25TopK(t(s, d, "documents"), "text", "doc_id",
      Seq("spark", "vector", "stream"), k = 100)
    val vec = ext.Retrieval.quantizedDotTopK(t(s, d, "embeddings"),
      "embedding", "vec_id", queryId = 0L, k = 100)
      .withColumnRenamed("vec_id", "doc_id")
    ext.Retrieval.rrfFuse(Seq(
        ("text", text, col("bm25_q").desc),
        ("vec", vec, col("dot_q").desc)), "doc_id")
      .orderBy(col("rrf_q").desc, col("doc_id"))
  }

  // Per-group top-k curation: the top-5 quality documents per source.
  // The rank-≤-k filter is what Catalyst's InferWindowGroupLimit turns
  // into Partial+Final WindowGroupLimit — per-partition top-k HEAPS
  // before the shuffle — so at 100 TB no group is ever fully sorted;
  // only ≤k rows per partition per group reach the exchange.
  def groupTopK(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
    t(s, d, "documents")
      .select(col("doc_id"), col("source"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .orderBy("source", "rnk")
  }

  // Distribution-drift monitor between two snapshots of a categorical
  // feature (the chi-square-style alternative to PSI — PSI's ln term
  // is not oracle-portable, §5.3): per-category
  // (p−q)²/((p+q)/2), BIGINT-quantized. The two snapshot aggregates
  // and the 5-row full-outer merge are the whole plan; the 1-row
  // totals broadcast-cross back. At 100 TB this is two pruned scans
  // with partial aggs — drift checks cost two passes, ever.
  def distDrift(s: SparkSession, d: String): DataFrame = {
    // ONE scan, not one per snapshot: the year window pushes to the
    // scan and the two snapshot counts are conditional aggregates over
    // the same pass (a category absent from both years is absent either
    // way, so this equals the two-aggregate full outer merge).
    val y = year(col("o_orderdate"))
    val joined = t(s, d, "orders")
      .filter(y.isin(1996, 1997))
      .groupBy(col("o_orderpriority"))
      .agg(sum(when(y === 1996, 1L).otherwise(0L)).as("n_a"),
        sum(when(y === 1997, 1L).otherwise(0L)).as("n_b"))
    operators.Drift.driftTerms(joined, "o_orderpriority")
      .orderBy("o_orderpriority")
  }

  // End-to-end curation pipeline — the gate that pins the COMPOSITION,
  // not just the stages: exact dedup (earliest survivor per
  // fingerprint, q20/q21 machinery) → quality threshold (q24) →
  // benchmark decontamination (8-gram overlap vs the q79 probe set,
  // LEFT ANTI) → deterministic md5 half-sample (q98 discipline).
  // Contamination hits are computed on the post-quality survivor set —
  // per-doc hits are independent of other docs, so this is the cheap
  // equivalent of screening the full corpus.
  def curationPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = tSpread(s, d, "documents")
    val deduped = Dedup.exactDedup(docs, "text", "doc_id")
    val quality = deduped
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .filter(col("quality") >= 0.5)
    val probes = docs.filter(col("doc_id").isin(3L, 7L, 11L, 19L, 23L))
    val hits = TextAnalysis.contaminationHitsNgram(
      quality, "doc_id", "text", probes, "text", n = 8)
    quality.join(hits.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .filter(md5(col("doc_id").cast("string")) < "80000000")
      .select(col("doc_id"), col("source"), col("quality"))
      .orderBy("doc_id")
  }

  // Per-label embedding centroids — the nearest-class-mean /
  // cluster-monitoring building block. Cross-row sums ride the q106
  // BIGINT quantization (double sums are not order-stable); the mean
  // is one double division at the end. posexplode + (label, dim) hash
  // agg with map-side partials: output is |labels|·dims rows at any
  // corpus size.
  def labelCentroids(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("label"), (col("pos") + 1).as("pos"),
        floor(col("x").cast("double") * lit(1e6) + lit(0.5)).as("q"))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"))
      .select(col("label"), col("pos").cast("int").as("pos"), col("n"),
        col("sq"), (col("sq").cast("double") / col("n")).as("centroid_q"))
      .orderBy("label", "pos")

  // 1-bit sign-quantized Hamming retrieval — the 32×-compression tier
  // below int8/PQ; exact integer XOR+popcount arithmetic end to end.
  def binaryAnn(s: SparkSession, d: String): DataFrame =
    ext.Retrieval.binaryHammingTopK(t(s, d, "embeddings"), "embedding",
      "vec_id", queryId = 0L, k = 50)
      .orderBy("hamming", "vec_id")

  // Leakage-safe dedup-aware split: near-dup CLUSTERS (q97 components)
  // are the split unit, so no near-duplicate pair ever straddles
  // train/test — the q98 deterministic-md5 discipline applied to the
  // component id instead of the row id.
  def clusterSplit(s: SparkSession, d: String): DataFrame =
    dupClusters(s, d)
      .withColumn("split",
        when(md5(col("component").cast("string")) < "40000000", "test")
          .otherwise("train"))
      .orderBy("vec_id")

  // Top BPE merge-pair candidates over the corpus vocabulary (the
  // Sennrich et al. training-step statistic).
  def bpePairs(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bpeMergePairs(t(s, d, "documents"), "text", topK = 50)

  // Distributed Gram matrix of the embedding corpus, quantized to
  // BIGINT so the cross-row sums are exact and order-independent
  // (§5.3: double sums never hash-match across engines). The
  // production path is the one-pass graft_gram aggregate
  // (Projections.moments); this SQL-checkable formulation pins the
  // same reduction through explode + partial agg.
  def embeddingGram(s: SparkSession, d: String): DataFrame =
    ext.Projections.quantizedGram(t(s, d, "embeddings"), "embedding")

  // Curriculum schedule: short-first length curriculum (64-token
  // bands), deterministic md5 shuffle INSIDE each band, then a dense
  // global step index. The index comes from GlobalIndex's two-pass
  // range-sort + offset numbering — NOT row_number() over an empty
  // window spec, which funnels the corpus through one partition. The
  // oracle runs exactly that single-partition row_number, which is
  // fine for DuckDB at gate scale and pins the identical total order.
  def curriculumSchedule(s: SparkSession, d: String): DataFrame = {
    val banded = t(s, d, "documents")
      .select(col("doc_id"), ext.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      .withColumn("band",
        least(floor(col("n_tokens") / lit(64.0)), lit(7L)).cast("int"))
      .withColumn("rkey", md5(concat_ws(":", col("doc_id"), col("band"))))
    operators.GlobalIndex
      .withGlobalIndex(banded, Seq(col("band"), col("rkey"), col("doc_id")), "step")
      .select(col("step"), col("doc_id"), col("band"))
      .orderBy("step")
  }

  // PCA-whitened 8-dim projection of the embeddings: fit = one
  // mergeable-aggregate job + driver-side Jacobi eigensolve; apply =
  // k codegen'd graft_dot's against literal components, no shuffle.
  // The gate emits the ROTATION-INVARIANT contract, not the raw
  // projection (eigenvector sign/ulp are engine-specific, and raw
  // array columns crash the pandas compare harness): the population
  // covariance of the whitened projections, upper triangle, quantized
  // at 1e6. Whitening makes it the k×k identity by construction, so
  // the oracle is the exact identity grid — a hash gate on "the
  // whitening actually whitened THIS corpus" that is immune to
  // partial-sum order, Jacobi rotation order, and eigenvector sign.
  def pcaWhiten(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
    val k = 8
    val model = ext.Projections.fitPca(e, "embedding", dim = 64, k = k)
    val proj = ext.Projections.pcaProject(e, "embedding", model, whiten = true)
    // cov_ij = E[y_i y_j] − E[y_i]E[y_j]; the mean term is ~1e-26
    // (projections are centered against the same corpus) but kept so
    // the emitted statistic IS the covariance, not an approximation.
    val aggs = for { i <- 0 until k; j <- i until k } yield
      (avg(col("pca")(i) * col("pca")(j)) -
        avg(col("pca")(i)) * avg(col("pca")(j))).as(s"c_${i}_$j")
    val wide = proj.agg(aggs.head, aggs.tail: _*)
    val cells = for { i <- 0 until k; j <- i until k } yield
      struct(lit(i).as("i"), lit(j).as("j"),
        floor(col(s"c_${i}_$j") * lit(1e6) + lit(0.5)).cast("long").as("cov_q"))
    wide.select(explode(array(cells: _*)).as("p"))
      .select(col("p.i"), col("p.j"), col("p.cov_q"))
      .orderBy("i", "j")
  }

  override def gates: Seq[Gate] = super.gates ++ Seq(

    Gate("q125_dist_drift", Family.Sketch, distDrift, _ =>
      """WITH a AS (
        |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_a
        |  FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
        |  GROUP BY o_orderpriority),
        |b AS (
        |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_b
        |  FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997
        |  GROUP BY o_orderpriority),
        |j AS (
        |  SELECT coalesce(a.o_orderpriority, b.o_orderpriority) AS o_orderpriority,
        |    CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
        |    CAST(coalesce(n_b, 0) AS BIGINT) AS n_b
        |  FROM a FULL OUTER JOIN b ON a.o_orderpriority = b.o_orderpriority),
        |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
        |             CAST(sum(n_b) AS BIGINT) AS tb FROM j)
        |SELECT o_orderpriority, n_a, n_b,
        |  CAST(floor(((CAST(n_a AS DOUBLE) / ta - CAST(n_b AS DOUBLE) / tb)
        |      * (CAST(n_a AS DOUBLE) / ta - CAST(n_b AS DOUBLE) / tb))
        |    / ((CAST(n_a AS DOUBLE) / ta + CAST(n_b AS DOUBLE) / tb) / 2.0e0)
        |    * 1000000000000.0e0 + 0.5e0) AS BIGINT) AS drift_q
        |FROM j, t ORDER BY o_orderpriority""".stripMargin),


    // dedup → quality → decontaminate → sample, each stage the same
    // SQL its standalone gate uses
    Gate("q124_curation_pipeline", Family.Lm, curationPipeline, _ =>
      s"""WITH dd AS (
         |  SELECT doc_id, source, text FROM (
         |    SELECT doc_id, source, text,
         |      row_number() OVER (PARTITION BY $fpSql ORDER BY doc_id) AS rn
         |    FROM documents) WHERE rn = 1),
         |q AS (SELECT doc_id, source, text, quality FROM (
         |  SELECT doc_id, source, text,
         |    (CASE WHEN length(text) >= 100 AND length(text) <= 10000 THEN 1.0
         |          WHEN length(text) > 0 THEN 0.5 ELSE 0.0 END) * 0.5
         |    + (CASE WHEN (CASE WHEN $tokenCountSql > 0
         |            THEN CAST(${stopHitsSql(TextAnalysis.stopwords("en"))} AS DOUBLE)
         |              / CAST($tokenCountSql AS DOUBLE) ELSE 0.0 END) > 0.05 THEN 1.0
         |        ELSE (CASE WHEN $tokenCountSql > 0
         |            THEN CAST(${stopHitsSql(TextAnalysis.stopwords("en"))} AS DOUBLE)
         |              / CAST($tokenCountSql AS DOUBLE) ELSE 0.0 END) / 0.05 END) * 0.5
         |      AS quality
         |  FROM dd) WHERE quality >= 0.5),
         |sw AS (SELECT doc_id,
         |    $rawTokensCaseSql AS w
         |  FROM q),
         |sg AS (SELECT doc_id,
         |    ${gram8Sql("w")} AS grams
         |  FROM sw),
         |dg AS (SELECT doc_id, unnest(grams) AS gram FROM sg),
         |pw AS (SELECT doc_id,
         |    $rawTokensCaseSql AS w
         |  FROM documents WHERE doc_id IN (3, 7, 11, 19, 23)),
         |pgr AS (SELECT
         |    ${gram8Sql("w")} AS grams
         |  FROM pw),
         |pg AS (SELECT DISTINCT unnest(grams) AS gram FROM pgr),
         |hits AS (SELECT DISTINCT dg.doc_id FROM dg JOIN pg USING (gram))
         |SELECT doc_id, source, quality FROM q
         |WHERE doc_id NOT IN (SELECT doc_id FROM hits)
         |  AND md5(CAST(doc_id AS VARCHAR)) < '80000000'
         |ORDER BY doc_id""".stripMargin),


    Gate("q123_label_centroids", Family.Ann, labelCentroids, _ =>
      """WITH dims AS (
        |  SELECT label, u.i AS pos,
        |    CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 1000000.0e0 + 0.5e0)
        |      AS BIGINT) AS q
        |  FROM embeddings, generate_series(1, 64) AS u(i))
        |SELECT label, CAST(pos AS INTEGER) AS pos,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(q) AS BIGINT) AS sq,
        |  CAST(CAST(sum(q) AS BIGINT) AS DOUBLE) / count(*) AS centroid_q
        |FROM dims GROUP BY label, pos ORDER BY label, pos""".stripMargin),


    // q104's quality arithmetic verbatim + a partitioned rank
    Gate("q122_group_topk", Family.Lm, groupTopK, _ =>
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
         |  CAST(row_number() OVER (PARTITION BY source
         |    ORDER BY quality DESC, doc_id) AS INTEGER) AS rnk
         |  FROM q)
         |SELECT doc_id, source, quality, rnk FROM r WHERE rnk <= 5
         |ORDER BY source, rnk""".stripMargin),


    // sign packing: bit i of a half-word carries dimension (off+i)
    // with weight 2^(32-i) — the acc·2+bit fold's exact shift sum;
    // 32 bits per BIGINT so no engine hits signed overflow (§5.3)
    Gate("q119_binary_ann", Family.Ann, binaryAnn, _ =>
      """WITH p AS (
        |  SELECT vec_id,
        |    CAST(list_sum(list_transform(range(1, 33),
        |      i -> CASE WHEN embedding[i] > 0
        |                THEN (CAST(1 AS BIGINT) << (32 - i))
        |                ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS h1,
        |    CAST(list_sum(list_transform(range(1, 33),
        |      i -> CASE WHEN embedding[i + 32] > 0
        |                THEN (CAST(1 AS BIGINT) << (32 - i))
        |                ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS h2
        |  FROM embeddings),
        |q AS (SELECT h1 AS q1, h2 AS q2 FROM p WHERE vec_id = 0)
        |SELECT vec_id,
        |  CAST(bit_count(xor(h1, q1)) + bit_count(xor(h2, q2)) AS INTEGER)
        |    AS hamming
        |FROM p, q ORDER BY hamming, vec_id LIMIT 50""".stripMargin),


    // q97's recursive-closure oracle (shared CTE text) + the q98
    // md5-threshold split on the COMPONENT id
    Gate("q120_cluster_split", Family.Dedup, clusterSplit, _ =>
      s"""WITH RECURSIVE $ccClosureCtesSql, comp AS (
         |  SELECT node AS vec_id, min(lbl) AS component
         |  FROM reach GROUP BY node)
         |SELECT vec_id, component,
         |  CASE WHEN md5(CAST(component AS VARCHAR)) < '40000000'
         |       THEN 'test' ELSE 'train' END AS split
         |FROM comp ORDER BY vec_id""".stripMargin),


    Gate("q121_bpe_pairs", Family.Lm, bpePairs, _ =>
      """WITH d AS (SELECT
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
        |  FROM documents),
        |w AS (SELECT unnest(toks) AS word FROM d),
        |v AS (SELECT word, CAST(count(*) AS BIGINT) AS wcnt
        |  FROM w GROUP BY word),
        |pr AS (SELECT wcnt,
        |    unnest(CASE WHEN length(word) < 2 THEN []
        |           ELSE list_transform(range(1, length(word)),
        |             i -> substr(word, i, 2)) END) AS pair
        |  FROM v)
        |SELECT pair, CAST(sum(wcnt) AS BIGINT) AS cnt
        |FROM pr GROUP BY pair ORDER BY cnt DESC, pair LIMIT 50""".stripMargin),


    Gate("q114_bm25_search", Family.Ann, bm25Search, _ =>
      s"""WITH ${bm25CteSql(Seq("spark", "vector", "stream"))}
         |SELECT doc_id, dl, bm25_q FROM sc
         |ORDER BY bm25_q DESC, doc_id LIMIT 50""".stripMargin),


    Gate("q115_int8_quantize", Family.Ann, int8Quantize, _ =>
      """WITH dims AS (
        |  SELECT u.i AS pos, CAST(embedding[u.i] AS DOUBLE) AS x
        |  FROM embeddings, generate_series(1, 64) AS u(i)),
        |mm AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM dims GROUP BY pos),
        |arrs AS (SELECT list(mn ORDER BY pos) AS mins,
        |                list(mx ORDER BY pos) AS maxs FROM mm),
        |codes AS (
        |  SELECT vec_id, list_transform(range(1, 65), i ->
        |    CASE WHEN maxs[i] = mins[i] THEN 0
        |         ELSE CAST(floor((CAST(embedding[i] AS DOUBLE) - mins[i])
        |           / (maxs[i] - mins[i]) * 255.0e0 + 0.5e0) AS INTEGER) END) AS cs
        |  FROM embeddings, arrs)
        |SELECT vec_id, array_to_string(cs, ' ') AS codes_str,
        |  CAST(list_sum(cs) AS BIGINT) AS code_sum
        |FROM codes ORDER BY vec_id""".stripMargin),


    // same 8-token-window md5 grams as the q79 oracle (shared snippet;
    // no lowercasing — ngramFingerprints tokenizes raw trimmed text)
    Gate("q116_dup_spans", Family.Dedup, dupSpans, _ =>
      (s"""WITH t AS (SELECT doc_id,
         |    $rawTokensCaseSql AS w
         |  FROM documents),
         |g AS (SELECT doc_id,
         |    ${gram8Sql("w")} AS grams
         |  FROM t),""".stripMargin + "\n" +
      """dg AS (SELECT doc_id, unnest(grams) AS span FROM g),
        |dup AS (SELECT span FROM dg GROUP BY span HAVING count(*) >= 2),
        |pc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup
        |  FROM dg JOIN dup USING (span) GROUP BY doc_id),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
        |  FROM dg GROUP BY doc_id)
        |SELECT doc_id, CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup_spans
        |FROM t LEFT JOIN tot USING (doc_id) LEFT JOIN pc USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),


    Gate("q117_unigram_lm", Family.Lm, unigramLm, _ =>
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
        |  FROM documents),
        |tm AS (SELECT doc_id, unnest(toks) AS term FROM d),
        |v AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tm GROUP BY term),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v),
        |qp AS (SELECT term,
        |    CAST(floor(CAST(cnt AS DOUBLE) / total * 1000000000.0e0 + 0.5e0)
        |      AS BIGINT) AS qp
        |  FROM v, tot),
        |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(qp) AS BIGINT) AS lm_q
        |  FROM tm JOIN qp USING (term) GROUP BY doc_id)
        |SELECT doc_id, CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(lm_q, 0) AS BIGINT) AS lm_q
        |FROM d LEFT JOIN sc USING (doc_id) ORDER BY doc_id""".stripMargin),


    Gate("q118_hybrid_rrf", Family.Ann, hybridRrf, _ =>
      s"""WITH ${bm25CteSql(Seq("spark", "vector", "stream"))},
         |tr AS (
         |  SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY bm25_q DESC, doc_id) AS BIGINT)
         |      AS text_rank
         |  FROM (SELECT doc_id, bm25_q FROM sc
         |        ORDER BY bm25_q DESC, doc_id LIMIT 100)),
         |qe AS (SELECT vec_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0e0 + 0.5e0) AS BIGINT))
         |    AS v
         |  FROM embeddings),
         |q0 AS (SELECT v AS qv FROM qe WHERE vec_id = 0),
         |dots AS (SELECT vec_id AS doc_id,
         |    CAST(list_sum(list_transform(range(1, 65), i -> v[i] * qv[i]))
         |      AS BIGINT) AS dot_q
         |  FROM qe, q0),
         |vr AS (
         |  SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY dot_q DESC, doc_id) AS BIGINT)
         |      AS vec_rank
         |  FROM (SELECT doc_id, dot_q FROM dots
         |        ORDER BY dot_q DESC, doc_id LIMIT 100)),
         |f AS (
         |  SELECT coalesce(tr.doc_id, vr.doc_id) AS doc_id, text_rank, vec_rank
         |  FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.doc_id)
         |SELECT doc_id, text_rank, vec_rank,
         |  CAST(coalesce(CAST(floor(1000000000.0e0 / (60.0e0 + text_rank)) AS BIGINT), 0)
         |     + coalesce(CAST(floor(1000000000.0e0 / (60.0e0 + vec_rank)) AS BIGINT), 0)
         |    AS BIGINT) AS rrf_q
         |FROM f ORDER BY rrf_q DESC, doc_id LIMIT 50""".stripMargin),


    // q106: floor(x·1e6 + 0.5) quantization makes every product and
    // sum exact integer arithmetic — identical in both engines for
    // identical input doubles (floor is pure IEEE; round is not:
    // Spark routes doubles through shortest-decimal strings).
    Gate("q106_embedding_gram", Family.Ann, embeddingGram, _ =>
      """WITH q AS (
        |  SELECT list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS v
        |  FROM embeddings),
        |p AS (
        |  -- constant bound: generate_series rejects lateral column
        |  -- args; the embeddings table is 64-dim (TESTDATA.md)
        |  SELECT gi.i AS i, gj.j AS j, v[gi.i] * v[gj.j] AS prod
        |  FROM q, generate_series(1, 64) AS gi(i),
        |       generate_series(1, 64) AS gj(j)
        |  WHERE gj.j >= gi.i)
        |SELECT i, j, CAST(sum(prod) AS BIGINT) AS s
        |FROM p GROUP BY i, j ORDER BY i, j""".stripMargin),


    Gate("q108_curriculum_schedule", Family.Lm, curriculumSchedule, _ =>
      s"""WITH tok AS (
         |  SELECT doc_id, $tokenCountSql AS n_tokens FROM documents),
         |b AS (
         |  SELECT doc_id,
         |    CAST(least(floor(CAST(n_tokens AS DOUBLE) / 64.0), 7) AS INTEGER) AS band
         |  FROM tok),
         |r AS (
         |  SELECT doc_id, band,
         |    md5(CAST(doc_id AS VARCHAR) || ':' || CAST(band AS VARCHAR)) AS rkey
         |  FROM b)
         |SELECT CAST(row_number() OVER (ORDER BY band, rkey, doc_id) - 1 AS BIGINT) AS step,
         |  doc_id, band
         |FROM r ORDER BY step""".stripMargin),


    // q107_pca_whiten: the raw projection is engine-specific
    // (eigenvector sign / last-ulp rotation angles), but the gate
    // emits the population covariance of the whitened projections —
    // rotation- and sign-INVARIANT, identity by construction (fit and
    // gate both use population moments; whitening's eps=1e-12 biases
    // the diagonal by eps/λ ≲ 1e-10, far inside the 1e6 quantum) — so
    // the oracle is the exact constant identity grid. Per-row
    // projection parity / orthonormality are spec-asserted
    // (ProjectionsSpec) against local brute force.
    Gate("q107_pca_whiten", Family.Ann, pcaWhiten, _ =>
      """SELECT CAST(ii.i AS INTEGER) AS i, CAST(jj.j AS INTEGER) AS j,
        |  CAST(CASE WHEN ii.i = jj.j THEN 1000000 ELSE 0 END AS BIGINT) AS cov_q
        |FROM (SELECT unnest(range(8)) AS i) ii, (SELECT unnest(range(8)) AS j) jj
        |WHERE jj.j >= ii.i
        |ORDER BY i, j""".stripMargin),
  )
}
