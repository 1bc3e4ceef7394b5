package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.etl.Features
import graft.ext.{Chunking, Components, Dedup, Pq, Similarity, TextAnalysis}
import graft.fs.{FeatureTableSpec, PointInTime, WriteMode}

/** Gate queries — dedup (exact/MinHash/SimHash/n-gram), text analysis
  * (lang-id, quality, tokens, fingerprints), and the
  * similarity/ANN tier (kNN, cosine, LSH, IVF, PQ).
  */
private[graft] trait PipelinesTextSim extends PipelinesBase {

  // ---------------------------------------------------------- dedup

  def dedupExactGroups(s: SparkSession, d: String): DataFrame =
    Dedup.exactGroups(t(s, d, "documents")).orderBy("keep_id")

  def dedupExactRows(s: SparkSession, d: String): DataFrame =
    Dedup.exactDedup(t(s, d, "documents")).orderBy("doc_id")

  /** The synthetic corpus has no true near-dups, so the near-dup
    * queries run over `documents` UNION a deterministically perturbed
    * copy (doc_id + 1,000,000; first word dropped): every original doc
    * gains one planted near-duplicate, which selective LSH banding must
    * recover — candidate volume stays ~n, not n².
    */
  def docsWithPlantedDups(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    docs.unionByName(docs
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", regexp_replace(col("text"), "^\\S+\\s*", "")))
  }

  // The near-dup gates run the PORTABLE md5-base-hash flavor (r11
  // verdict ask #1): the affine family, banding, est-jaccard and
  // closure arithmetic were always exact-integer and replayable — the
  // xxh64 base hash was the only non-portable ingredient, so the md5
  // flavor turns all of q26/q27/q28/q101 into full hash gates. The
  // xxh64 production default keeps a DedupSpec parity pin (identical
  // pair sets on gate data).
  def minhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.minhashPairs(docsWithPlantedDups(s, d), "text", "doc_id",
      k = 2, numHashes = 32, bands = 8, minJaccard = 0.5,
      portableHash = true)
      .orderBy("id_a", "id_b")

  def simhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPairs(docsWithPlantedDups(s, d), "text", "doc_id",
      maxHamming = 8, portableHash = true)
      .orderBy("id_a", "id_b")

  def ngramJaccardPairs(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(docsWithPlantedDups(s, d), "text", "doc_id",
      n = 2, k = 2, numHashes = 32, bands = 8, minEstJaccard = 0.4,
      portableHash = true)
      .orderBy("id_a", "id_b")

  /** The STREAMING near-dup path as a hash gate (r11 verdict ask #8):
    * a real Structured Streaming query — file source →
    * `flatMapGroupsWithState` keyed on (band, bucket) → memory sink,
    * run to completion with Trigger.AvailableNow — whose emitted pair
    * set the DuckDB oracle replays as the BATCH portable-MinHash
    * candidate pipeline (the q26 CTEs at q101's n = 3 edge
    * parameters). Determinism under arbitrary file/micro-batch order:
    * every doc carries the SAME event time, so the watermark never
    * drops or evicts anything and each pair is found when its later
    * member is processed, whatever the order; per-band duplicate
    * emissions collapse under dropDuplicates. This makes the
    * spec-only streaming tier driver-visible: a broken state
    * function, band key, or signature flavor breaks the hash.
    */
  def streamNearDupPairs(s: SparkSession, d: String): DataFrame = {
    val schema = t(s, d, "documents").schema
    // the file source requires a DIRECTORY; the fixture is a single
    // parquet file — stage it (hardlink, copy fallback) once per sfDir
    val streamDir = PipelinesTextSim.stagedStreamDir(d)
    PipelinesTextSim.runToMemory(s, "q184") { _ =>
      val stream = s.readStream.schema(schema).parquet(streamDir)
        .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
      graft.streaming.NearDup.nearDupPairs(stream,
        n = 3, numHashes = 32, bands = 8, minJaccard = 0.5,
        watermarkDelay = "1 day", maxPerBucket = 1000000,
        portableHash = true)
    } { sink =>
      sink.select(col("id_a"), col("id_b"), col("est_jaccard"))
        .dropDuplicates("id_a", "id_b")
        .orderBy("id_a", "id_b")
    }
  }

  // ---------------------------------------------------- text analysis

  def tokenCount(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      .orderBy("doc_id")

  def langId(s: SparkSession, d: String): DataFrame = {
    val txt = col("text")
    t(s, d, "documents").select(
      (col("doc_id") +:
        TextAnalysis.langOrder.map(l => TextAnalysis.langScore(txt, l).as(s"score_$l")) :+
        TextAnalysis.predictedLang(txt).as("pred_lang")): _*)
      .orderBy("doc_id")
  }

  def qualityScore(s: SparkSession, d: String): DataFrame = {
    val feats = TextAnalysis.qualityFeatures(col("text"))
      .map { case (n, c) => c.as(n) }
    t(s, d, "documents")
      .select((col("doc_id") +: feats :+ TextAnalysis.qualityScore(col("text")).as("quality")): _*)
      .orderBy("doc_id")
  }

  def fingerprintDocs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  // ------------------------------------------------------ similarity

  def embeddingKnn(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
      .orderBy("query_id", "rank")
  }

  // near-dup pairs at t=0.4, hash-gated against the exhaustive DuckDB
  // all-pairs oracle. Round 6: the GATE runs the exact tiled path so
  // the gate row is deterministic at every SF — the banded-LSH variant
  // (probabilistic recall, miss odds grow with the qualifying-pair
  // count) moved to its own rows-only entry (q66) and keeps its
  // equals-the-exact-oracle assertion in ExtSpec on gate data.
  def cosineNearDup(s: SparkSession, d: String): DataFrame =
    Similarity.cosineAllPairsTiled(t(s, d, "embeddings"), threshold = 0.4)
      .orderBy("id_a", "id_b")

  // the LSH path itself, rows-only (probabilistic by design — recall
  // budget sized by missProb, not exact-equality-gated; parity with the
  // exact path is spec-asserted in ExtSpec on gate data). 1e-8/pair
  // (r=4, b=107) keeps whole-corpus miss odds ~1e-5 at sf0.1 scale.
  def cosineLshPairs(s: SparkSession, d: String): DataFrame =
    Similarity.cosineNearDupPairsLsh(t(s, d, "embeddings"), threshold = 0.4, dim = 64,
      missProb = 1e-8)
      .orderBy("id_a", "id_b")

  // LSH ANN as an INVARIANT gate (r12): the selection is
  // engine-specific (plane family), so the gate hashes the portable
  // facts — k distinct neighbors, dense ranks, true cosines bounded by
  // the exact top-1. No recall floor here: at 32 bits on the
  // near-isotropic gate corpus LSH recall is chance by information
  // theory (AnnRecallGateSpec regime 1); its floor lives in the
  // planted-near-dup regime of that spec.
  def lshAnn(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    annInvariantGate(
      Similarity.lshTopK(emb, q, k = 5, dim = 64),
      annExactTop5(s, d),
      k = 5, recallFloor = None)
  }

  // tiled exhaustive cosine pairs — the distributed exact path for
  // thresholds LSH can't prune; same all-pairs DuckDB oracle shape as
  // q30 at a different threshold.
  def cosineTiled(s: SparkSession, d: String): DataFrame =
    Similarity.cosineAllPairsTiled(t(s, d, "embeddings"), threshold = 0.45)
      .orderBy("id_a", "id_b")

  override def gates: Seq[Gate] = super.gates ++ Seq(

    Gate("q20_dedup_exact_groups", Family.Dedup, dedupExactGroups, _ =>
      s"""SELECT $fpSql AS fingerprint,
         |  CAST(min(doc_id) AS BIGINT) AS keep_id,
         |  CAST(count(*) AS BIGINT) AS n_copies
         |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin),


    Gate("q21_dedup_exact_rows", Family.Dedup, dedupExactRows, _ =>
      s"""SELECT doc_id, text, lang, source, n_chars FROM (
         |  SELECT *, row_number() OVER (PARTITION BY $fpSql ORDER BY doc_id) AS rn
         |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin),


    Gate("q22_token_count", Family.Lm, tokenCount, _ =>
      s"SELECT doc_id, $tokenCountSql AS n_tokens FROM documents ORDER BY doc_id"),


    Gate("q23_lang_id", Family.Lm, langId, _ =>
      s"""SELECT doc_id,
         |  ${langs.map(l => s"CAST(${stopHitsSql(TextAnalysis.stopwords(l))} AS INTEGER) AS score_$l").mkString(",\n  ")},
         |  $langCaseSql AS pred_lang
         |FROM (SELECT doc_id, text FROM documents) ORDER BY doc_id""".stripMargin),


    Gate("q24_quality_score", Family.Lm, qualityScore, _ =>
      s"""WITH f AS (SELECT doc_id,
         |    CAST(length(text) AS DOUBLE) AS nc,
         |    CAST($tokenCountSql AS DOUBLE) AS nt,
         |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) AS np,
         |    CAST(${stopHitsSql(TextAnalysis.stopwords("en"))} AS DOUBLE) AS ns
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(nt AS INTEGER) AS n_tokens,
         |  CASE WHEN nt > 0 THEN nc / nt ELSE 0.0 END AS avg_word_len,
         |  CASE WHEN nc > 0 THEN np / nc ELSE 0.0 END AS punct_ratio,
         |  CASE WHEN nt > 0 THEN ns / nt ELSE 0.0 END AS stopword_ratio,
         |  (CASE WHEN nc >= 100 AND nc <= 10000 THEN 1.0
         |        WHEN nc > 0 THEN 0.5 ELSE 0.0 END) * 0.5
         |  + (CASE WHEN (CASE WHEN nt > 0 THEN ns / nt ELSE 0.0 END) > 0.05 THEN 1.0
         |          ELSE (CASE WHEN nt > 0 THEN ns / nt ELSE 0.0 END) / 0.05 END) * 0.5
         |    AS quality
         |FROM f ORDER BY doc_id""".stripMargin),


    Gate("q25_fingerprint", Family.Dedup, fingerprintDocs, _ =>
      s"SELECT doc_id, $fpSql AS fingerprint FROM documents ORDER BY doc_id"),


    // portable-MinHash replay (r12): planted dups → word-2-gram md5-52
    // signatures under the shared affine family → 8 band arms →
    // agreement estimate at the 0.5 gate threshold
    Gate("q26_minhash_pairs", Family.Dedup, minhashPairs, _ =>
      s"""WITH $plantedDupsCteSql,
         |${minhashEstCtesSql("dp", n = 2, numHashes = 32, bands = 8)}
         |SELECT id_a, id_b, est_jaccard FROM mest
         |WHERE est_jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin),


    // portable-SimHash replay (r12): 52 md5 vote bits, candidates by
    // any equal 13-bit pigeonhole block, exact hamming <= 8
    Gate("q27_simhash_pairs", Family.Dedup, simhashPairs, _ =>
      s"""WITH $plantedDupsCteSql,
         |${simhashCtesSql("dp")},
         |scand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
         |  FROM ssg a JOIN ssg b ON a.doc_id < b.doc_id
         |  WHERE ((a.sh >> 0) & 8191) = ((b.sh >> 0) & 8191)
         |     OR ((a.sh >> 13) & 8191) = ((b.sh >> 13) & 8191)
         |     OR ((a.sh >> 26) & 8191) = ((b.sh >> 26) & 8191)
         |     OR ((a.sh >> 39) & 8191) = ((b.sh >> 39) & 8191))
         |SELECT id_a, id_b, hamming FROM scand WHERE hamming <= 8
         |ORDER BY id_a, id_b""".stripMargin),


    // q26's candidate pipeline at the 0.4 estimate threshold, then the
    // EXACT 2-gram Jaccard re-load on the surviving pairs
    Gate("q28_ngram_jaccard", Family.Dedup, ngramJaccardPairs, _ =>
      s"""WITH $plantedDupsCteSql,
         |${minhashEstCtesSql("dp", n = 2, numHashes = 32, bands = 8)},
         |mgs AS (SELECT doc_id,
         |    list_distinct(list_transform(generate_series(1, len(toks) - 1),
         |      i -> toks[i] || ' ' || toks[i+1])) AS grams
         |  FROM mtk WHERE len(toks) >= 2)
         |SELECT e.id_a, e.id_b,
         |  CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
         |    / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
         |FROM mest e JOIN mgs a ON a.doc_id = e.id_a
         |  JOIN mgs b ON b.doc_id = e.id_b
         |WHERE e.est_jaccard >= 0.4 ORDER BY id_a, id_b""".stripMargin),


    Gate("q29_embedding_knn", Family.Ann, embeddingKnn, _ =>
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        |    FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
        |scored AS (SELECT query_id, neighbor_id,
        |    list_cosine_similarity(qe, ce) AS cosine
        |  FROM q, c WHERE query_id != neighbor_id),
        |ranked AS (SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),


    Gate("q30_cosine_near_dup", Family.Dedup, cosineNearDup, _ =>
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS cosine
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin),

    Gate("q46_cosine_tiled", Family.Ann, cosineTiled, _ =>
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS cosine
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin),


    // the LSH path's recall budget (missProb 1e-8/pair, r=4 b=107)
    // makes its output EQUAL the exact all-pairs set on the gate
    // corpus — deterministically, given the fixed plane family and
    // data (verified at sf0.01 AND sf0.1; SimilaritySpec asserts the
    // same equality). The oracle is therefore q30's exhaustive scan at
    // the same threshold.
    Gate("q66_cosine_lsh", Family.Ann, cosineLshPairs, _ =>
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS cosine
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin),


    // invariant gate (r12): the LSH selection is engine-specific; the
    // driver hashes the portable per-query facts (annInvariantGate)
    Gate("q31_lsh_ann", Family.Ann, lshAnn, _ => annInvariantOracleSql(withRecall = false)),


    // the STREAMING flatMapGroupsWithState path must emit exactly the
    // batch portable-MinHash candidate set (q26 CTEs, n = 3)
    Gate("q184_stream_neardup", Family.Streaming, streamNearDupPairs, _ =>
      s"""WITH ${minhashEstCtesSql("documents", n = 3, numHashes = 32, bands = 8)}
         |SELECT id_a, id_b, est_jaccard FROM mest
         |WHERE est_jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin),
  )
}

private[graft] object PipelinesTextSim {
  /** Unique memory-sink names across repeated gate runs (Bench times
    * every query twice; a restarted query may not reuse an active
    * name).
    */
  private val streamGateRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Start a streaming query under 4 state partitions (r13): a
    * stateful operator opens its stores per shuffle partition, and
    * the session default (one shuffle partition per core,
    * `GraftSession`) would size a gate-sized run's state by the host
    * instead of by its keys, paying load/commit on mostly empty stores
    * every micro-batch (q197 measured 6.9 s → 2.7 s against 32).
    * Keyed-state output is partition-count independent; a production
    * deployment sizes this to its key volume. The partition count pins
    * into the query's offset log at start, so the session conf is
    * restored immediately after — queries run one at a time under
    * Verify/Bench.
    */
  def withStreamStatePartitions[A](s: org.apache.spark.sql.SparkSession)(
      start: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    try {
      // retuned r19 (was 8 since r17): state-store instances per
      // stateful operator scale with this, and each one pays
      // load/update/commit per micro-batch regardless of its row
      // share. Paired 8-vs-4 `Probe stream` A/B at sf0.1: the state-machine
      // gates dropped 0.4–0.95 s each (q204 5.16→4.21, q195 3.02→2.39,
      // q199 3.18→2.73, q197 3.94→3.53) while the CPU-heavy gates
      // (q184/q200–q202/q265) stayed flat; 2 showed no further gain.
      // Sized to gate-fixture state.
      s.conf.set("spark.sql.shuffle.partitions", "4")
      start
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Stages batch frames as file-source streams inside one
    * [[runToMemory]] invocation's temp dir, so the run deletes them
    * with its checkpoint and no other process shares the path.
    */
  final class StreamFixtures private[PipelinesTextSim] (
      s: SparkSession, dir: java.nio.file.Path) {
    private var staged = 0

    /** `frame` written as one parquet file in its own directory (the
      * file source rejects bare file paths), read back as a stream.
      */
    def stage(frame: DataFrame): DataFrame = {
      staged += 1
      val src = dir.resolve(s"src$staged").toString
      frame.coalesce(1).write.parquet(src)
      s.readStream.schema(frame.schema).parquet(src)
    }
  }

  /** Run a streaming gate to completion: the frame `stream` builds
    * (staging its sources through the given [[StreamFixtures]]) runs
    * under [[withStreamStatePartitions]] and Trigger.AvailableNow into
    * an append-mode memory sink, and `finish` of the sink's rows comes
    * back eagerly checkpointed. The sink view, the checkpoint and
    * every staged source are dropped before it returns, thrown or not:
    * Bench runs every gate at least twice, and a kept view pins the
    * run's whole output in driver memory. `tag` names the sink
    * (`graft_stream_<tag>_<n>`) and the temp dir (`graft-<tag>-*`).
    */
  def runToMemory(s: SparkSession, tag: String)(
      stream: StreamFixtures => org.apache.spark.sql.Dataset[_])(
      finish: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory(s"graft-$tag-")
    val name = s"graft_stream_${tag}_" + streamGateRuns.incrementAndGet()
    try {
      val frame = stream(new StreamFixtures(s, dir))
      val query = withStreamStatePartitions(s) {
        frame.writeStream.format("memory").queryName(name)
          .outputMode("append")
          .option("checkpointLocation", dir.resolve("ckpt").toString)
          .trigger(Trigger.AvailableNow()).start()
      }
      query.awaitTermination()
      finish(s.table(name)).localCheckpoint(true)
    } finally {
      s.catalog.dropTempView(name)
      PipelinesRound12.deleteRecursively(dir)
    }
  }

  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** A directory containing (a hardlink to) `<sfDir>/<fileName>` —
    * the streaming file source rejects bare file paths. Hardlinks
    * cost nothing; cross-device roots fall back to a copy. It serves
    * every gate that streams a raw fixture file unchanged (q184's
    * documents, q195's and q197's events); a frame computed per run is
    * staged by [[StreamFixtures]] instead.
    *
    * r13 (fresh-eyes audit): the staging path is now DETERMINISTIC per
    * (sfDir, fileName) — the old per-JVM temp dir leaked one /tmp dir
    * per JVM forever. Reuse across JVMs brings a staleness hazard (the
    * driver regenerates fixtures between rounds; a hardlink pins the
    * OLD inode when the source is replaced), so an existing staged
    * link that is no longer the same file is dropped and re-linked;
    * the copy fallback (isSameFile always false) re-copies once per
    * JVM — the same cost the temp-dir design paid.
    */
  def stagedStreamDir(sfDir: String,
      fileName: String = "documents.parquet"): String =
    stagedDirs.computeIfAbsent(s"$sfDir/$fileName", _ => {
      val src = java.nio.file.Paths.get(sfDir, fileName)
      // fail fast on a directory-shaped fixture: createLink throws on
      // directories and nio copy would stage it as an EMPTY dir — the
      // stream would silently read zero rows (r12 review)
      require(java.nio.file.Files.isRegularFile(src),
        s"stagedStreamDir: $src is not a regular file — a " +
          "directory-shaped parquet fixture needs its part files staged")
      val dir = java.nio.file.Paths.get("/tmp",
        "graft_stream_" + s"$sfDir/$fileName".replaceAll("[^A-Za-z0-9.-]", "_"))
      java.nio.file.Files.createDirectories(dir)
      val dst = dir.resolve(fileName)
      val fresh =
        try java.nio.file.Files.exists(dst) &&
          java.nio.file.Files.isSameFile(dst, src)
        catch { case _: Exception => false }
      if (!fresh) {
        java.nio.file.Files.deleteIfExists(dst)
        try java.nio.file.Files.createLink(dst, src)
        catch { case _: Exception =>
          // cross-device roots (copy), or a concurrent JVM won the
          // relink race after our delete (REPLACE tolerates both)
          java.nio.file.Files.copy(src, dst,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          ()
        }
      }
      dir.toString
    })
}
