package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ext.{Pq, Similarity, TextAnalysis}

/** Gate queries — text hygiene: decontamination (gram equi-join +
  * bloom-prefiltered), repetition filtering, PII scrubbing. Split out
  * of QueriesSqlSuite in r12 (the >700-line file discipline).
  */
private[graft] trait PipelinesTextHygiene extends PipelinesBase {

  // Scalable decontamination: word-8-gram fingerprint equi-join (the
  // corpus-sized-probe-set path; q75 is the broadcast-substring path).
  // Probe docs hit themselves on every gram; word-soup text shares no
  // natural 8-gram runs, so the oracle cross-checks the full explode →
  // dedupe → join → count pipeline.
  def contaminationNgram(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val probes = docs.filter(col("doc_id").isin(3, 7, 11, 19, 23))
    TextAnalysis.contaminationHitsNgram(docs, "doc_id", "text",
      probes, "text", n = 8)
      .orderBy("doc_id")
  }

  // Bloom-prefiltered decontamination — same fixture and result as
  // q79 (the oracle is the exact-overlap SQL; bloom FPs die in the
  // confirming join), but the corpus gram stream is cut at the scan
  // by might_contain against a one-row broadcast bloom before
  // anything shuffles.
  def contaminationBloom(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val probes = docs.filter(col("doc_id").isin(3, 7, 11, 19, 23))
    TextAnalysis.contaminationHitsNgramBloom(docs, "doc_id", "text",
      probes, "text", n = 8, expectedGrams = 1L << 16)
      .orderBy("doc_id")
  }

  // Gopher-style bigram repetition filter over the corpus (pure HOF
  // scan pass; see TextAnalysis.repetitionStats).
  def repetitionFilter(s: SparkSession, d: String): DataFrame = {
    val cols = TextAnalysis.repetitionStats(col("text"))
    t(s, d, "documents")
      .select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id")
  }

  // PII scrub: every 50th doc gets a deterministic planted email +
  // phone (the corpus carries none naturally), then the scrubber
  // redacts and counts. The oracle replants identically, so the gate
  // checks the regex semantics end to end.
  def piiScrub(s: SparkSession, d: String): DataFrame = {
    val planted = t(s, d, "documents").withColumn("t2",
      when(col("doc_id") % 50 === 0,
        concat(col("text"), lit(" Contact user"),
          col("doc_id").cast("string"), lit("@example.com or 555-867-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(".")))
        .otherwise(col("text")))
    planted.select(
      col("doc_id"),
      TextAnalysis.piiCount(col("t2")).as("n_pii"),
      TextAnalysis.scrubPii(col("t2")).as("clean_text"))
      .orderBy("doc_id")
  }

  // Benchmark decontamination: probes are verbatim extracts from a
  // fixed handful of docs (so they certainly occur somewhere); hits
  // per doc via a broadcast probe join — single corpus scan.
  def contamination(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val probes = docs.filter(col("doc_id").isin(3, 7, 11, 19, 23))
      .select(substring(col("text"), 5, 48).as("probe"))
    TextAnalysis.contaminationHits(docs, "doc_id", "text", probes, "probe")
      .withColumn("n_hits", col("n_hits").cast("long"))
      .orderBy("doc_id")
  }

  override def gates: Seq[Gate] = super.gates ++ Seq(
    Gate("q79_contamination_ngram", Family.Dedup, contaminationNgram, _ => contaminationNgramOverlapSql),

    // q109: the bloom-prefiltered path computes the SAME exact overlap
    // (false positives die in the confirming join), so it shares q79's
    // oracle verbatim — two different plans, one ground truth.
    Gate("q109_contamination_bloom", Family.Dedup, contaminationBloom, _ => contaminationNgramOverlapSql),

    Gate("q73_repetition_filter", Family.Lm, repetitionFilter, _ =>
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS w
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(greatest(len(w) - 1, 0) AS BIGINT) AS n_ngrams,
        |  CAST(CASE WHEN len(w) < 2 THEN 0
        |    ELSE len(list_distinct(list_transform(generate_series(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i + 1]))) END AS BIGINT) AS n_distinct,
        |  CASE WHEN len(w) < 2 THEN 0.0
        |    ELSE 1.0 - CAST(len(list_distinct(list_transform(generate_series(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i + 1]))) AS DOUBLE) / CAST(len(w) - 1 AS DOUBLE)
        |  END AS rep_ratio
        |FROM t ORDER BY doc_id""".stripMargin),

    Gate("q74_pii_scrub", Family.Lm, piiScrub, _ =>
      """WITH p AS (SELECT doc_id,
        |    CASE WHEN doc_id % 50 = 0
        |      THEN text || ' Contact user' || doc_id || '@example.com or 555-867-'
        |        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '.'
        |      ELSE text END AS t2
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    + len(regexp_extract_all(
        |        regexp_replace(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_pii,
        |  regexp_replace(regexp_replace(t2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean_text
        |FROM p ORDER BY doc_id""".stripMargin),

    Gate("q75_contamination", Family.Dedup, contamination, _ =>
      """WITH probes AS (
        |  SELECT DISTINCT substr(text, 5, 48) AS probe FROM documents
        |  WHERE doc_id IN (3, 7, 11, 19, 23))
        |SELECT doc_id, CAST(count(DISTINCT probe) AS BIGINT) AS n_hits
        |FROM documents, probes WHERE contains(text, probe)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
  )
}
