package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Sampling, Splits}
import graft.ext.{Calibration, CorpusStats, Perceptron, SetSimJoin, TextAnalysis}

/** Round-12 continuation gates: the asymmetric containment join, the
  * classifier reliability/AUC audit, the embargoed chronological
  * split, and the per-source distinct-n diversity audit. Each query
  * sits next to its `Gate` entry and DuckDB oracle.
  */
private[graft] trait PipelinesRound12 extends PipelinesBase { this: PipelinesRound10 =>

  /** Quote / subset-document detection: every document's first-8-token
    * snippet is planted back into the corpus under its negated id, then
    * [[SetSimJoin.containmentJoinExact]] at t = 0.9 must recover each
    * snippet→parent edge EXACTLY (plus whatever cross-template edges
    * the corpus genuinely contains — the oracle is brute-force over
    * the slice, so the hash proves the asymmetric prefix filter is
    * lossless). Jaccard cannot see these pairs: an 8-token quote
    * inside a 200-token document has union-dominated similarity ~0.04.
    * Slice doc_id % 10 = 3 for the same reason q154 slices: the
    * fixture's template density makes ANY exact algorithm's output
    * quadratic at full width; the operator keeps full-corpus posture.
    */
  def containmentQuotes(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").filter(col("doc_id") % 10 === 3)
      .select(col("doc_id"), col("text"))
    // quote ids = −doc_id − 1: disjoint from ANY non-negative corpus
    // id (a fixed +offset collides once the corpus outgrows it,
    // silently breaking tokenFrame's unique-id contract)
    val quotes = docs.select((-col("doc_id") - 1L).as("doc_id"),
      concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 1, 8)).as("text"))
    SetSimJoin.containmentJoinExact(docs.union(quotes), "text", "doc_id",
        minContainment = 0.9)
      .orderBy("id_a", "id_b")
  }

  /** Held-out reliability audit of the q151 classifier: train the
    * hashed perceptron on the labeled slice (doc_id % 5 = 0, label =
    * lang = 'en'), score the COMPLEMENT, and gate the full
    * [[Calibration.reliabilityAudit]] table — rank-decile bins with
    * exact counts/margin spans and the exact Mann-Whitney AUC. The
    * oracle replays the training recurrence, the margin projection,
    * the global (margin, id) rank, the integer-division bins, and the
    * tie-aware rank-sum — a drift anywhere (including in the
    * GlobalIndex two-pass rank) breaks the hash.
    */
  def classifierReliability(s: SparkSession, d: String): DataFrame = {
    val docs = tSpread(s, d, "documents")
    val labeled = docs.filter(col("doc_id") % 5 === 0)
    val w = Perceptron.batchPerceptronHashed(labeled, "doc_id", "text",
      positive = col("lang") === "en", iterations = 3)
      .orderBy("pos").collect().map(_.getLong(1)).toSeq
    val holdout = docs.filter(col("doc_id") % 5 =!= 0)
    val scored = Perceptron.withHashedPerceptronScore(holdout, "text", w)
      .select(col("doc_id"), col("margin_q"), (col("lang") === "en").as("lab"))
    Calibration.reliabilityAudit(scored, "doc_id", "margin_q", "lab", bins = 10)
  }

  /** Leakage-safe evaluation split over the event stream:
    * [[Splits.chronoSplitEmbargo]] at 4/5 train with a 1-day embargo,
    * summarized per (split, event_type) with exact micros spans — the
    * gate pins the exact integer boundary arithmetic and the
    * train < embargo < test ordering (ts_hi of train + embargo <
    * ts_lo of test by construction).
    */
  def embargoSplit(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    Splits.chronoSplitEmbargo(ev, "ts", trainNum = 4, trainDen = 5,
        embargoUs = 86400000000L)
      .groupBy(col("split"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(unix_micros(col("ts").cast("timestamp"))).as("ts_lo"),
        max(unix_micros(col("ts").cast("timestamp"))).as("ts_hi"))
      .orderBy("split", "event_type")
  }

  /** Per-source distinct-n diversity ([[CorpusStats]]): exact
    * type-token and bigram ratios per source — the cross-document
    * collapse signal per-document repetition scores cannot see.
    */
  def corpusDiversity(s: SparkSession, d: String): DataFrame =
    CorpusStats.distinctNgramDiversity(t(s, d, "documents"))

  /** Exact-total batch construction: EXACTLY 137 documents allocated
    * across the (skewed) language strata by largest-remainder
    * apportionment, each stratum filled in md5(doc_id) order — the
    * output SET hash-gates the whole allocation (integer quotas,
    * remainder ranking incl. the tie order, and the per-stratum md5
    * fill). 137 is deliberately coprime with the stratum sizes so the
    * remainders are non-trivial at every SF.
    */
  def quotaAllocation(s: SparkSession, d: String): DataFrame =
    Sampling.largestRemainderSample(t(s, d, "documents"), "lang",
        col("doc_id"), total = 137L)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")

  /** Train/test contamination matrix over the portable md5 80/20
    * split (the q41 discipline): per source, how many TEST documents
    * share at least one verbatim 8-token gram with ANY train
    * document — the audit number a decontamination pass (q167) is
    * judged by, computed BEFORE anyone scrubs. The gram overlap is
    * the q79 equi-join shape with the probe side swapped from 5 fixed
    * docs to the whole train split: both sides shuffle on the gram
    * key, no broadcast requirement, hot grams are ordinary AQE join
    * skew.
    */
  def splitContamination(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val isTrain = md5(col("doc_id").cast("string")) <
      lit(Sampling.hexThreshold(0.8))
    val train = docs.filter(isTrain)
    val test = docs.filter(!isTrain)
    val hits = TextAnalysis.contaminationHitsNgram(
      test, "doc_id", "text", train, "text", n = 8)
    test.select(col("doc_id"), col("source"))
      .join(hits, Seq("doc_id"), "left_outer")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("n_gram_hits") > 0, 1L).otherwise(0L)).as("n_contaminated"),
        sum(coalesce(col("n_gram_hits"), lit(0L))).as("gram_hits"))
      .withColumn("contam_rate",
        col("n_contaminated").cast("double") / col("n_test").cast("double"))
      .orderBy("source")
  }

  /** The STREAMING windowed-aggregation path as a hash gate — the
    * second streaming primitive made driver-visible (q184 covers
    * `flatMapGroupsWithState`; this covers watermark + event-time
    * `window()` + update-mode merge into the feature store): a real
    * Structured Streaming query runs
    * [[graft.streaming.StreamingFeatures.maintainDailyValueSums]] in
    * bounded mode over the staged events fixture, and the MAINTAINED
    * feature table gates against the batch daily-sum SQL. Determinism
    * under any file/micro-batch split: update mode emits each updated
    * group's CUMULATIVE aggregate and the store merge keeps the
    * latest, so the final table equals the total regardless of batch
    * boundaries; the 3650-day watermark delay keeps every day's state
    * live for the fixture's span (eviction-vs-late-data behavior is
    * StreamingFeaturesSpec's pinned territory, not this gate's).
    */
  def streamDailySums(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = t(s, d, "events").schema
    val streamDir = PipelinesTextSim.stagedStreamDir(d, "events.parquet")
    val stream = s.readStream.schema(schema).parquet(streamDir)
    val store = graft.fs.FeatureStore.temp(s)
    store.createTable(graft.fs.FeatureTableSpec("daily_sums_gate",
      Seq("user_id", "day_us"),
      StructType(Seq(StructField("user_id", LongType),
        StructField("day_us", LongType), StructField("n_events", LongType),
        StructField("sum_vq", LongType)))))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-q195-ck-").toString
    // per-(user, day) window state is partition-count independent
    val query = PipelinesTextSim.withStreamStatePartitions(s) {
      graft.streaming.StreamingFeatures.maintainDailyValueSums(stream, store,
        "daily_sums_gate", "user_id", "ts", "value", ckpt,
        valueScale = 100.0, watermarkDelay = Some("3650 days"))
    }
    query.awaitTermination()
    val out = store.readTable("daily_sums_gate")
      .select(col("user_id"), col("day_us"), col("n_events"), col("sum_vq"))
      .orderBy("user_id", "day_us")
      .localCheckpoint(true) // eager: safe to delete the sources below
    // Bench runs every gate at least twice per sweep — without cleanup
    // each run leaves a checkpoint (state store + WAL) and a feature
    // table copy in /tmp for the host's lifetime (r12 review)
    PipelinesRound12.deleteRecursively(java.nio.file.Paths.get(ckpt))
    PipelinesRound12.deleteRecursively(java.nio.file.Paths.get(store.root))
    out
  }

  /** JSONL round-trip through the real reader path (S1 sibling — the
    * dominant LLM corpus interchange format): materialize the corpus
    * as JSON-lines via the standard writer, re-read it with
    * [[graft.etl.Cleanse.readJsonLines]] under an explicit schema,
    * and gate a per-(source, lang) manifest whose fp_sum digests the
    * RAW text (md5-52 sums — deliberately not the normalized
    * fingerprint: an escaping bug that mangles a newline into a space
    * would survive normalization but breaks this hash). The oracle
    * parses the SAME files via DuckDB read_json, so the JSON
    * encode/decode itself is under cross-engine test, unicode and
    * escapes included.
    */
  def jsonlIngest(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val fixture = PipelinesRound12.jsonlFixturePathFor(d)
    t(s, d, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").json(fixture)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    graft.etl.Cleanse.readJsonLines(s, fixture, Some(schema))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        // DECIMAL(38,0) sum → mod 2^52 (the contentManifest digest
        // discipline): a BIGINT sum of ~2^51-mean terms overflows at
        // ≈4k docs per group (ANSI throws; the oracle's HUGEINT cast errors)
        (sum(conv(substring(md5(col("text")), 1, 13), 16, 10)
          .cast("decimal(38,0)")) % lit(1L << 52)).cast("long").as("fp_sum"))
      .orderBy("source", "lang")
  }

  override def gates: Seq[Gate] = super.gates ++ Seq(

    // brute-force directed containment over the sliced corpus + its
    // planted first-8-token quotes — the Spark side answers from
    // asymmetric prefix-filtered candidates, so a hash match proves
    // the A-prefix ⋈ B-all filter is lossless
    Gate("q189_containment_join", Family.Dedup, containmentQuotes, _ =>
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 3
        |  UNION ALL
        |  SELECT -doc_id - 1,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN ''
        |         ELSE array_to_string((regexp_split_to_array(trim(text), '\s+'))[1:8], ' ') END
        |  FROM documents WHERE doc_id % 10 = 3),
        |ts AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |         ELSE regexp_split_to_array(lower(trim(text)), '\s+') END) AS toks
        |  FROM corpus),
        |nz AS (SELECT doc_id, toks, len(toks) AS sz FROM ts WHERE len(toks) > 0),
        |pr AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / CAST(a.sz AS DOUBLE) AS c
        |  FROM nz a, nz b WHERE a.doc_id <> b.doc_id)
        |SELECT id_a, id_b,
        |  CAST(floor(c * 1000000000.0e0 + 0.5e0) AS BIGINT) AS cont_q
        |FROM pr WHERE c >= 0.9e0
        |ORDER BY id_a, id_b""".stripMargin),

    // the q151 training recurrence on the labeled slice, margins over
    // the COMPLEMENT, then the global (margin, id) rank, integer-
    // division decile bins, and the tie-aware Mann-Whitney rank-sum
    Gate("q190_classifier_reliability", Family.Lm, classifierReliability, _ =>
      s"""WITH ${perceptronCtesSql(3, " WHERE doc_id % 5 = 0")},
         |ho AS MATERIALIZED (
         |  SELECT doc_id, (lang = 'en') AS lab FROM documents WHERE doc_id % 5 <> 0),
         |fa AS MATERIALIZED (
         |  SELECT doc_id,
         |    CAST((strpos('0123456789abcdef', substr(md5(term), 1, 1)) - 1) * 16
         |      + (strpos('0123456789abcdef', substr(md5(term), 2, 1)) - 1) AS BIGINT) AS pos,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT doc_id, unnest(CASE WHEN length(trim(text)) = 0 THEN []
         |        ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END) AS term
         |      FROM documents WHERE doc_id % 5 <> 0)
         |  GROUP BY 1, 2),
         |sc AS (
         |  SELECT f.doc_id, CAST(sum(f.cnt * w.w) AS BIGINT) AS dot
         |  FROM fa f JOIN w3 w ON w.pos = f.pos
         |  GROUP BY 1),
         |mar AS MATERIALIZED (
         |  SELECT h.doc_id, h.lab,
         |    CAST(coalesce(sc.dot, 0) + (SELECT w FROM w3 WHERE pos = 256) AS BIGINT) AS m
         |  FROM ho h LEFT JOIN sc USING (doc_id)),
         |ix AS MATERIALIZED (
         |  SELECT doc_id, lab, m,
         |    row_number() OVER (ORDER BY m, doc_id) - 1 AS idx
         |  FROM mar),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN lab THEN 1 ELSE 0 END) AS BIGINT) AS np FROM ix),
         |g AS (SELECT m, min(idx) AS off, CAST(count(*) AS BIGINT) AS nm,
         |    CAST(sum(CASE WHEN lab THEN 1 ELSE 0 END) AS BIGINT) AS pm
         |  FROM ix GROUP BY m),
         |r AS (SELECT sum(CAST(pm AS HUGEINT) * CAST(2 * off + nm + 1 AS HUGEINT)) AS r2 FROM g),
         |a AS (SELECT CASE WHEN np > 0 AND np < n THEN
         |      CAST(r2 - CAST(np AS HUGEINT) * (np + 1) AS DOUBLE)
         |        / CAST(2 * CAST(np AS HUGEINT) * (n - np) AS DOUBLE) END AS auc
         |  FROM tot, r)
         |SELECT CAST((ix.idx * 10) // t.n AS INTEGER) AS bin,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN ix.lab THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |  CAST(sum(CASE WHEN ix.lab THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS pos_rate,
         |  min(ix.m) AS margin_lo, max(ix.m) AS margin_hi, min(a.auc) AS auc
         |FROM ix, tot t, a
         |GROUP BY 1, t.n
         |ORDER BY bin""".stripMargin),

    // exact integer boundary arithmetic + the three-way CASE, then the
    // per-(split, type) count/span summary
    Gate("q191_embargo_split", Family.Lm, embargoSplit, _ =>
      """WITH b AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events),
        |lab AS (
        |  SELECT event_type, epoch_us(ts) AS us,
        |    CASE WHEN epoch_us(ts) <= lo + ((hi - lo) * 4) // 5 THEN 'train'
        |         WHEN epoch_us(ts) <= lo + ((hi - lo) * 4) // 5 + 86400000000 THEN 'embargo'
        |         ELSE 'test' END AS split
        |  FROM events, b)
        |SELECT split, event_type, CAST(count(*) AS BIGINT) AS n,
        |  min(us) AS ts_lo, max(us) AS ts_hi
        |FROM lab GROUP BY 1, 2
        |ORDER BY split, event_type""".stripMargin),

    // the Hamilton apportionment replayed in exact integers: floor
    // quotas, remainder ranking with the stratum-name tie order, then
    // the per-stratum md5-ordered fill — the 137-row output SET gates
    Gate("q193_quota_allocation", Family.Lm, quotaAllocation, _ =>
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY 1),
        |tn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c),
        |q AS (SELECT lang, (137 * cnt) // n AS base, (137 * cnt) % n AS rem
        |  FROM c, tn),
        |rq AS (SELECT lang, base,
        |    row_number() OVER (ORDER BY rem DESC, lang) AS rk FROM q),
        |quota AS (SELECT lang,
        |    base + CASE WHEN rk <= 137 - (SELECT sum(base) FROM q)
        |      THEN 1 ELSE 0 END AS quota
        |  FROM rq),
        |ranked AS (SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT r.doc_id, r.lang, r.source
        |FROM ranked r JOIN quota USING (lang)
        |WHERE r.rn <= quota.quota
        |ORDER BY doc_id""".stripMargin),

    // the q41 md5 80/20 split feeding the q79 gram equi-join with the
    // whole train side as the probe set, rolled up per test source
    Gate("q194_split_contamination", Family.Dedup, splitContamination, _ =>
      s"""WITH t AS (SELECT doc_id, source,
         |    md5(CAST(doc_id AS VARCHAR)) <
         |      printf('%08x', CAST(floor(0.8e0 * 4294967296.0e0) AS BIGINT)) AS is_train,
         |    $rawTokensCaseSql AS w
         |  FROM documents),
         |g AS (SELECT doc_id, source, is_train,
         |    ${gram8Sql("w")} AS grams
         |  FROM t),
         |trg AS (SELECT DISTINCT gram FROM (
         |    SELECT unnest(grams) AS gram FROM g WHERE is_train)),
         |th AS (SELECT tg.doc_id, CAST(count(DISTINCT tg.gram) AS BIGINT) AS hits
         |  FROM (SELECT doc_id, unnest(grams) AS gram FROM g WHERE NOT is_train) tg
         |  JOIN trg USING (gram)
         |  GROUP BY 1)
         |SELECT g.source,
         |  CAST(count(*) AS BIGINT) AS n_test,
         |  CAST(sum(CASE WHEN coalesce(th.hits, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
         |  CAST(sum(coalesce(th.hits, 0)) AS BIGINT) AS gram_hits,
         |  CAST(sum(CASE WHEN coalesce(th.hits, 0) > 0 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS contam_rate
         |FROM g LEFT JOIN th USING (doc_id)
         |WHERE NOT g.is_train
         |GROUP BY 1
         |ORDER BY source NULLS FIRST""".stripMargin),

    // the batch daily-sum replay of the STREAMING bounded-mode
    // maintenance: window(ts, '1 day') starts are UTC-day aligned
    // (the session zone is pinned UTC), so date_trunc replays them
    Gate("q195_stream_daily_sums", Family.Streaming, streamDailySums, _ =>
      """SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS sum_vq
        |FROM events
        |WHERE ts IS NOT NULL AND value IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY user_id, day_us""".stripMargin),

    // DuckDB parses the SAME JSONL files Spark wrote — the JSON
    // encode/decode round-trip is the thing under test; fp_sum digests
    // RAW text (md5-52 sums, the q127 strpos/list_reduce idiom)
    Gate("q196_jsonl_ingest", Family.Lm, jsonlIngest, d =>
      s"""SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(list_reduce(list_transform(range(1, 14),
         |    i -> CAST(strpos('0123456789abcdef',
         |      substr(md5(text), i, 1)) - 1 AS BIGINT)),
         |    (a, b) -> a * 16 + b)) % 4503599627370496 AS BIGINT) AS fp_sum
         |FROM read_json('${PipelinesRound12.jsonlFixturePathFor(d)}/*.json',
         |  format = 'newline_delimited',
         |  columns = {doc_id: 'BIGINT', text: 'VARCHAR', lang: 'VARCHAR',
         |    source: 'VARCHAR', n_chars: 'BIGINT'})
         |GROUP BY 1, 2
         |ORDER BY source NULLS FIRST, lang NULLS FIRST""".stripMargin),

    // per-source exact distinct unigram/bigram counts and ratios over
    // the shared lowercase whitespace tokens
    Gate("q192_corpus_diversity", Family.Lm, corpusDiversity, _ =>
      """WITH base AS (
        |  SELECT source,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |         ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS t
        |  FROM documents),
        |sz AS (SELECT source, t, len(t) AS n FROM base),
        |ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT) AS n_bigrams
        |  FROM sz GROUP BY 1),
        |u1 AS (SELECT source, CAST(count(DISTINCT g) AS BIGINT) AS uniq_tokens
        |  FROM (SELECT source, unnest(t) AS g FROM sz) GROUP BY 1),
        |u2 AS (SELECT source, CAST(count(DISTINCT g) AS BIGINT) AS uniq_bigrams
        |  FROM (SELECT source,
        |      unnest(list_transform(range(1, n), i -> t[i] || ' ' || t[i + 1])) AS g
        |    FROM sz WHERE n > 1) GROUP BY 1)
        |SELECT ps.source, ps.n_docs, ps.n_tokens,
        |  coalesce(u1.uniq_tokens, 0) AS uniq_tokens,
        |  CASE WHEN ps.n_tokens > 0 THEN
        |    CAST(coalesce(u1.uniq_tokens, 0) AS DOUBLE) / CAST(ps.n_tokens AS DOUBLE) END AS ttr,
        |  ps.n_bigrams,
        |  coalesce(u2.uniq_bigrams, 0) AS uniq_bigrams,
        |  CASE WHEN ps.n_bigrams > 0 THEN
        |    CAST(coalesce(u2.uniq_bigrams, 0) AS DOUBLE) / CAST(ps.n_bigrams AS DOUBLE) END AS bigram_ttr
        |FROM ps
        |LEFT JOIN u1 ON ps.source IS NOT DISTINCT FROM u1.source
        |LEFT JOIN u2 ON ps.source IS NOT DISTINCT FROM u2.source
        |ORDER BY ps.source NULLS FIRST""".stripMargin),
  )
}

private[graft] object PipelinesRound12 {
  /** Best-effort recursive delete for per-run scratch (checkpoints,
    * temp feature stores) — never throws: cleanup failure must not
    * fail a gate that already produced its result.
    */
  def deleteRecursively(p: java.nio.file.Path): Unit =
    try {
      if (java.nio.file.Files.isDirectory(p)) {
        val s = java.nio.file.Files.list(p)
        try s.forEach(deleteRecursively(_)) finally s.close()
      }
      java.nio.file.Files.deleteIfExists(p); ()
    } catch { case _: Exception => () }

  // q196's JSONL fixture path: a pure function of the dataset dir
  // (q44's concurrent-SF discipline). The query derives it from its
  // `d`, and the oracle from the dataset dir it is given, so a process
  // running two SF dirs back-to-back never mixes their fixtures.
  def jsonlFixturePathFor(d: String): String =
    "/tmp/graft_q196_jsonl_" + d.replaceAll("[^A-Za-z0-9.-]", "_")
}
