package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-13 gates. Each query sits next to its `Gate` entry and
  * DuckDB oracle.
  */
// self-type includes PipelinesBehavior: q202's oracle replays q176's
// shared co-occurrence CTE (one source of truth for the pair semantics)
private[graft] trait PipelinesRound13 extends PipelinesBase { this: PipelinesBehavior =>

  /** Stream-stream interval join as a hash gate (r12 verdict ask #4 —
    * the THIRD real streaming tier made driver-visible, after q184's
    * flatMapGroupsWithState and q195's watermarked window agg):
    * purchases and clicks read as TWO file-source streams off the
    * staged events fixture, joined per user on
    * click.ts ∈ [purchase.ts, purchase.ts + 1 day) through
    * [[graft.streaming.StreamJoins.intervalJoin]] — Spark's
    * symmetric-hash stream-stream join, watermarks on BOTH sides —
    * run to completion with Trigger.AvailableNow into a memory sink.
    *
    * Determinism under arbitrary file/micro-batch order: an INNER
    * stream-stream join emits each pair in whatever micro-batch sees
    * its second member, so the emitted SET is order-independent as
    * long as the watermark never overtakes a pending match — the
    * 40-day delay clears the fixture's whole 30-day span. The DuckDB
    * oracle replays the identical interval join as batch SQL; dt_us
    * is an exact integer epoch difference, so the driver hashes every
    * joined pair.
    */
  def streamIntervalJoin(s: SparkSession, d: String): DataFrame = {
    val schema = t(s, d, "events").schema
    val streamDir = PipelinesTextSim.stagedStreamDir(d, "events.parquet")
    // def, not val: two INDEPENDENT readStream lineages — a shared one
    // would trip DetectAmbiguousSelfJoin on the key equality
    def src = s.readStream.schema(schema).parquet(streamDir)
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").cast("timestamp").as("p_ts"))
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").cast("timestamp").as("c_ts"))
    // a stream-stream join opens TWO state stores per partition — the
    // motivating case for the runner's shared state-partition scope
    // (6.9 s → 2.7 s measured; the join itself is sub-second)
    PipelinesTextSim.runToMemory(s, "q197") { _ =>
      graft.streaming.StreamJoins.intervalJoin(purchases, clicks,
        keyCol = "user_id", leftTsCol = "p_ts", rightTsCol = "c_ts",
        window = "1 day", watermarkDelay = "40 days")
    } { sink =>
      sink.select(col("user_id"), col("purchase_id"), col("click_id"),
          (unix_micros(col("c_ts")) - unix_micros(col("p_ts"))).as("dt_us"))
        .orderBy("purchase_id", "click_id")
    }
  }

  /** Streaming as-of (point-in-time) join as a hash gate (r13 — the
    * FOURTH streaming tier made driver-visible): purchases probe the
    * latest at-or-before "view" feature per user through
    * [[graft.streaming.StreamingPit.asOfJoin]] — two watermarked
    * streams unioned into ONE flatMapGroupsWithState where probes
    * BUFFER until the watermark passes their event time, so the lookup
    * is exact under any arrival order (the buffer-until-watermark
    * contract, spec-proven against batch PointInTime).
    *
    * Determinism: a sentinel row on EACH stream pushes both stream
    * clocks past every real probe (the operator holds probes at the
    * MIN of the two clocks), so the final no-data batch emits all of
    * them; views are pre-aggregated per (user, ts) so equal-timestamp
    * versions cannot race arrival order (none exist in the fixture;
    * the oracle mirrors the same rollup). featureRetention = forever:
    * exact batch parity, probes arbitrarily later than the last
    * feature still see it. The DuckDB oracle replays the as-of lookup
    * as a lateral top-1; ts are exact integer micros, values raw
    * doubles.
    */
  def streamAsOfJoin(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts").cast("timestamp").as("feat_ts"))
      .agg(max(col("value")).as("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        col("ts").cast("timestamp").as("ts"))
    val sentinelTs = lit("2024-12-31 00:00:00").cast("timestamp")
    val featFix = views.unionByName(s.range(1).select(
      lit(-1L).as("user_id"), sentinelTs.as("feat_ts"), lit(0.0).as("value")))
    val spineFix = purchases.unionByName(s.range(1).select(
      lit(-1L).as("event_id"), lit(-1L).as("user_id"), sentinelTs.as("ts")))
    PipelinesTextSim.runToMemory(s, "q199") { fx =>
      graft.streaming.StreamingPit.asOfJoin(fx.stage(spineFix), fx.stage(featFix),
        keyCol = "user_id", tsCol = "ts", idCol = "event_id",
        featTsCol = "feat_ts", valueCol = "value",
        watermarkDelay = "1 minute", featureRetention = "forever")
    } { sink =>
      sink.filter(col("probe_id") >= 0) // the sentinel can't emit; belt anyway
        .select(col("probe_id"), col("user_id"), col("ts_us"),
          col("feature_ts_us"), col("feature_value"))
        .orderBy("probe_id")
    }
  }

  /** IVF-routed semantic decontamination as an INVARIANT gate (r13 —
    * the driver-visible face of [[graft.ext.Decontamination
    * .retainBelowIvf]], q187's corpus-scale sibling). The routed
    * retained SET at nprobe < nlist depends on the cell geometry, so
    * the gate hashes what holds for ANY correct routing plus two
    * exactly-checkable facts:
    *
    *   - n_corpus / n_retained_exact — exact counts the oracle
    *     recomputes (the broadcast variant's retained set);
    *   - full_probe_matches_exact — at nprobe = nlist every probe
    *     routes everywhere, so the IVF path must reproduce the
    *     broadcast frame BIT-EXACTLY (ids and maxima; cosine operand
    *     order commutes exactly in IEEE);
    *   - routed_superset_ok — partial routing can only UNDER-drop:
    *     everything the exact pass retains, the routed pass retains;
    *   - routed_bounds_ok — a routed max cosine is a max over a probe
    *     SUBSET, so it never exceeds the true max. Checked against the
    *     UNFILTERED exact max frame ([[graft.ext.Decontamination
    *     .maxProbeCos]]) so vectors the exact pass DROPS are bounded
    *     too, not just the retained subset (r13 ADVICE fix).
    *
    * A broken cell assignment, routing join, or centroid sidecar flips
    * a boolean and fails the hash.
    */
  def decontamIvfGate(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val probes = emb.filter(col("vec_id") % 100 === 3)
    val dir = "/tmp/graft_q198_ivf_" + d.replaceAll("[^A-Za-z0-9.-]", "_")
    graft.ext.Similarity.ivfIndexWrite(emb, dir, nlist = 8)
    // the four materializations below (bc / full / routed / trueMax)
    // are INDEPENDENT passes over the same inputs — build the frames
    // sequentially, then submit the eager checkpoints concurrently so
    // each pass's task tail back-fills the others (guide §2.6 /
    // graft.ext.Par; r19 — the serial chain was this gate's wall)
    val bcDf = graft.ext.Decontamination
      .retainBelow(emb, probes, 0.3, excludeSelf = true)
    val fullDf = graft.ext.Decontamination
      .retainBelowIvf(s, dir, probes, 0.3, nprobe = 8, excludeSelf = true)
    val routedDf = graft.ext.Decontamination
      .retainBelowIvf(s, dir, probes, 0.3, nprobe = 2, excludeSelf = true)
    val trueMaxDf = graft.ext.Decontamination
      .maxProbeCos(emb, probes, excludeSelf = true)
    val checkpointed = graft.ext.Par.run(
      Seq(bcDf, fullDf, routedDf, trueMaxDf).map(df =>
        () => df.localCheckpoint(true)))
    val (bc, full, routed, trueMax) =
      (checkpointed(0), checkpointed(1), checkpointed(2), checkpointed(3))
    val nCorpus = emb.agg(count(lit(1)).as("n_corpus"))
    val nBc = bc.agg(count(lit(1)).as("n_retained_exact"))
    val d1 = full.exceptAll(bc).agg(count(lit(1)).as("_d1"))
    val d2 = bc.exceptAll(full).agg(count(lit(1)).as("_d2"))
    val d3 = bc.select("vec_id")
      .join(routed.select("vec_id"), Seq("vec_id"), "left_anti")
      .agg(count(lit(1)).as("_d3"))
    val d4 = routed.filter(col("max_probe_cos").isNotNull)
      .select(col("vec_id"), col("max_probe_cos").as("_routed"))
      .join(trueMax.select(col("vec_id"), col("max_probe_cos").as("_true")),
        Seq("vec_id"))
      .filter(col("_true").isNull || col("_routed") > col("_true"))
      .agg(count(lit(1)).as("_d4"))
    nCorpus.crossJoin(broadcast(nBc))
      .crossJoin(broadcast(d1)).crossJoin(broadcast(d2))
      .crossJoin(broadcast(d3)).crossJoin(broadcast(d4))
      .select(col("n_corpus"), col("n_retained_exact"),
        (col("_d1") === 0L && col("_d2") === 0L).as("full_probe_matches_exact"),
        (col("_d3") === 0L).as("routed_superset_ok"),
        (col("_d4") === 0L).as("routed_bounds_ok"))
  }

  /** Streaming content dedup as a hash gate (r13 — the FIFTH streaming
    * tier made driver-visible): the documents corpus, stamped with a
    * deterministic event time (epoch 2024-01-01 + doc_id seconds),
    * flows through [[graft.streaming.StreamingFeatures
    * .dedupDocsByContent]] — `dropDuplicatesWithinWatermark` keyed on
    * the SAME normalized-text md5 fingerprint as batch
    * `Dedup.exactDedup` — under Trigger.AvailableNow.
    *
    * Determinism under arbitrary file/micro-batch order: WHICH copy is
    * kept per fingerprint is arrival-order-specific, so the gate keeps
    * only the fingerprint column of each emission (identical across
    * copies) and re-derives keeper identity batch-side. The 40-day
    * delay exceeds the fixture's stamped span, so (a) every duplicate
    * pair is within the watermark of each other — the emitted SET must
    * equal batch-distinct exactly — and (b) no row can arrive behind
    * the watermark. n_emissions gates once-only emission: a dedup that
    * leaks a key twice (or drops one) breaks the hash, as does any
    * spurious fingerprint (NULL keep_id via the left-outer join).
    */
  def streamContentDedup(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    // 2024-01-01T00:00:00Z + doc_id seconds — exact integer micros
    val base = docs.select(col("doc_id"), col("text"))
      .withColumn("ts",
        timestamp_micros(lit(1704067200000000L) + col("doc_id") * lit(1000000L)))
    val groups = docs
      .withColumn("fingerprint",
        graft.ext.TextAnalysis.fingerprint(col("text")))
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    PipelinesTextSim.runToMemory(s, "q200") { fx =>
      graft.streaming.StreamingFeatures.dedupDocsByContent(fx.stage(base),
        textCol = "text", tsCol = "ts", watermarkDelay = "40 days")
    } { sink =>
      sink.groupBy(col("fingerprint")).agg(count(lit(1)).as("n_emissions"))
        .join(groups, Seq("fingerprint"), "left_outer")
        .select(col("fingerprint"), col("n_emissions"), col("keep_id"),
          col("n_copies"))
        .orderBy("keep_id")
    }
  }

  /** Streaming sessionization as a hash gate (r13 — the SIXTH
    * streaming tier made driver-visible, and the q34 batch gate's
    * stream twin): the events fixture flows through
    * [[graft.streaming.Sessionize.streaming]] — flatMapGroupsWithState
    * with EVENT-TIME TIMEOUT, one open session of state per user —
    * and every closed session gates against the batch lag/window
    * session SQL.
    *
    * Determinism: values are pre-quantized to integer-valued doubles
    * (floor(v·100 + 0.5), the q195 valueScale discipline) so the
    * per-session running sum is exact integer arithmetic regardless of
    * arrival order; equal-timestamp events cannot split a session in
    * either formulation (gap 0 ≤ gapMicros) and their sums commute. A
    * sentinel event 11 months past the fixture pushes the final
    * watermark beyond every real session's end + gap, so the closing
    * no-data batch times out and emits every open session. Output
    * omits session ordinals (engine-specific emission order) and keys
    * sessions by (user_id, start_us) — the oracle groups identically.
    */
  def streamSessionize(s: SparkSession, d: String): DataFrame = {
    val gapMicros = 14400000000L // 4 h — q34's session definition
    val ev = t(s, d, "events").select(
      col("user_id"),
      col("ts").cast("timestamp").as("ts"),
      floor(col("value") * lit(100.0) + lit(0.5)).cast("double").as("value"))
    val sentinelTs = lit("2024-12-31 00:00:00").cast("timestamp")
    val fix = ev.unionByName(s.range(1).select(
      lit(-1L).as("user_id"), sentinelTs.as("ts"), lit(0.0).as("value")))
    import s.implicits._
    PipelinesTextSim.runToMemory(s, "q201") { fx =>
      graft.streaming.Sessionize.streaming(
        fx.stage(fix).as[graft.streaming.Sessionize.SessEvent], gapMicros,
        watermarkDelay = "1 minute")
    } { sink =>
      sink.filter(col("user_id") >= 0) // the sentinel's session never times out
        .select(col("user_id"), col("start_us"), col("end_us"),
          col("n_events"), col("sum_value").cast("long").as("sum_vq"))
        .orderBy("user_id", "start_us")
    }
  }

  /** Streaming session co-occurrence mining as a hash gate (r13 — the
    * SEVENTH streaming tier driver-visible, and q176's stream twin,
    * closing the last spec-only streaming primitive):
    * [[graft.streaming.Sessionize.streamingCoOccurrence]] — a bounded
    * per-user deque (the open session's last `maxDist` event types,
    * O(maxDist) state however long the session runs) emits each
    * arriving in-gap event's pairs IMMEDIATELY, so no sentinel is
    * needed: every pair is out by the last data batch and the
    * event-time timeout merely clears state. The gate aggregates the
    * emitted pair stream to the SAME (src, dst, n_pairs) table as
    * batch [[graft.streaming.Sessionize.coOccurrencePairs]], replaying
    * q176's oracle verbatim (one shared CTE, one source of truth).
    *
    * Determinism boundary, ENFORCED rather than assumed: equal
    * per-user timestamps order by arrival in the stream where the
    * batch path tie-breaks on event_id, so the gate fails fast if the
    * fixture ever grows a (user, ts) collision instead of hash-flaking
    * (the q187 maxProbes discipline applied to a precondition).
    */
  def streamCoOccurrence(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").select(
      col("user_id"), col("ts").cast("timestamp").as("ts"), col("event_type"))
    require(ev.groupBy(col("user_id"), col("ts"))
      .agg(count(lit(1)).as("_n")).filter(col("_n") > 1).isEmpty,
      "streamCoOccurrence: events fixture has per-(user, ts) collisions — " +
        "stream arrival order vs the batch event_id tie-break would diverge")
    import s.implicits._
    PipelinesTextSim.runToMemory(s, "q202") { fx =>
      graft.streaming.Sessionize.streamingCoOccurrence(
        fx.stage(ev).as[graft.streaming.Sessionize.TypedEvent],
        gapMicros = 14400000000L, maxDist = 3, watermarkDelay = "40 days")
    } { sink =>
      sink.groupBy(col("src_type"), col("dst_type"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("src_type", "dst_type")
    }
  }

  /** End-to-end WAV/PCM audio feature extraction as a hash gate (r13
    * — the audio sibling of q186's video gate, making the REAL
    * `javax.sound` decode path driver-visible): per doc, a
    * deterministic 8-bit unsigned PCM clip (sample i =
    * (doc_id·31 + i·7) mod 256, (doc_id mod 5 + 1)·400 samples) is
    * ENCODED to a real WAV container through the JDK's
    * `AudioSystem.write`, run through [[graft.ext.Multimodal
    * .sampleAudioFrames]] (WAV parse → keep every 3rd frame → WAV
    * re-encode) and decoded by [[graft.ext.Multimodal.WavPcmDecoder]].
    * Unlike q186 (whose JPEG bytes are JRE-specific, so only the
    * frame COUNT crosses to the oracle), PCM samples survive the
    * encode→sample→re-encode→decode round trip bit-exactly, so the
    * gate hashes the decoded VALUES: kept-frame count, mean intensity
    * (one IEEE division of exact integers), and the full 8-bin
    * histogram — the DuckDB oracle replays all of it from the
    * generator arithmetic alone. Any header, frame-size, sampling, or
    * sign-mapping bug in the audio stack breaks the hash. One narrow
    * mapPartitions pass each way — no shuffle until the gate ORDER BY.
    */
  def audioFeatures(s: SparkSession, d: String): DataFrame = {
    import graft.ext.Multimodal
    import s.implicits._
    val media = t(s, d, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = ((id % 5) + 1).toInt * 400
          val pcm = new Array[Byte](n)
          var i = 0
          while (i < n) { pcm(i) = ((id * 31 + i * 7) % 256).toByte; i += 1 }
          val fmt = new javax.sound.sampled.AudioFormat(8000f, 8, 1,
            /* signed = */ false, /* bigEndian = */ false)
          val bos = new java.io.ByteArrayOutputStream()
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
          try javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          finally ais.close()
          (id, bos.toByteArray)
        }
      }
      .toDF("media_id", "payload")
      .withColumn("meta", struct(lit("audio/wav").as("format")))
    val sampled = Multimodal.sampleAudioFrames(media, everyK = 3)
    Multimodal.extractFeatures(sampled, Multimodal.WavPcmDecoder).toDF()
      .select(
        col("media_id").as("doc_id") +:
        expr("aggregate(histogram, 0L, (a, x) -> a + x)").as("n_frames") +:
        col("mean_intensity") +:
        (0 until 8).map(k => element_at(col("histogram"), k + 1).as(s"h$k")): _*)
      .orderBy("doc_id")
  }

  override def gates: Seq[Gate] = super.gates ++ Seq(

    // the batch replay of the streaming interval join: same key
    // equality, same half-open [p_ts, p_ts + 1 day) band, exact
    // integer micros difference
    Gate("q197_stream_interval_join", Family.Streaming, streamIntervalJoin, _ =>
      """WITH p AS (
        |  SELECT user_id, event_id AS purchase_id, ts AS p_ts
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, event_id AS click_id, ts AS c_ts
        |  FROM events WHERE event_type = 'click')
        |SELECT p.user_id, purchase_id, click_id,
        |  epoch_us(c_ts) - epoch_us(p_ts) AS dt_us
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c_ts >= p_ts AND c_ts < p_ts + INTERVAL 1 DAY
        |ORDER BY purchase_id, click_id""".stripMargin),

    // invariant gate: the routed retained set is geometry-specific;
    // the counts are exact (the q187 broadcast-decontam oracle), the
    // booleans assert routing-independent facts
    Gate("q198_decontam_ivf", Family.Dedup, decontamIvfGate, _ =>
      """WITH p AS (SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS pe
        |           FROM embeddings WHERE vec_id % 100 = 3),
        |m AS (SELECT e.vec_id,
        |        max(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), pe))
        |          AS max_probe_cos
        |      FROM embeddings e CROSS JOIN p
        |      WHERE e.vec_id != pid
        |      GROUP BY e.vec_id)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_corpus,
        |  (SELECT CAST(count(*) AS BIGINT) FROM m WHERE max_probe_cos < 0.3)
        |    AS n_retained_exact,
        |  TRUE AS full_probe_matches_exact,
        |  TRUE AS routed_superset_ok,
        |  TRUE AS routed_bounds_ok""".stripMargin),

    // batch replay of the streaming as-of join: per purchase, the
    // latest at-or-before view (views pre-rolled per (user, ts) like
    // the gate), exact integer micros, NULL when no version precedes
    Gate("q199_stream_asof_join", Family.Streaming, streamAsOfJoin, _ =>
      """WITH f AS (
        |  SELECT user_id, ts AS fts, max(value) AS value
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |p AS (
        |  SELECT event_id AS probe_id, user_id, ts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT probe_id, p.user_id, epoch_us(p.ts) AS ts_us,
        |  epoch_us(b.fts) AS feature_ts_us, b.value AS feature_value
        |FROM p LEFT JOIN LATERAL (
        |  SELECT fts, value FROM f
        |  WHERE f.user_id = p.user_id AND f.fts <= p.ts
        |  ORDER BY fts DESC LIMIT 1) b ON TRUE
        |ORDER BY probe_id""".stripMargin),

    // batch replay of the streaming content dedup: the emitted
    // fingerprint set must equal batch-distinct, each key exactly once
    Gate("q200_stream_dedup", Family.Streaming, streamContentDedup, _ =>
      s"""SELECT $fpSql AS fingerprint,
         |  CAST(1 AS BIGINT) AS n_emissions,
         |  CAST(min(doc_id) AS BIGINT) AS keep_id,
         |  CAST(count(*) AS BIGINT) AS n_copies
         |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin),

    // batch replay of the streaming sessionizer: q34's lag/window
    // session assignment, sessions keyed by (user, start) instead of
    // ordinal, values quantized per event (the q195 floor(v*100+0.5)
    // discipline) so both engines sum exact integers
    Gate("q201_stream_sessionize", Family.Streaming, streamSessionize, _ =>
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT) AS vq FROM events),
        |s AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL THEN 1
        |                     WHEN us - lag(us) OVER w > 14400000000 THEN 1
        |                     ELSE 0 END AS brk
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s2 AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |         ROWS UNBOUNDED PRECEDING) AS session_id FROM s)
        |SELECT user_id, min(us) AS start_us, max(us) AS end_us,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(vq) AS BIGINT) AS sum_vq
        |FROM s2 GROUP BY user_id, session_id
        |ORDER BY user_id, start_us""".stripMargin),

    // q176's oracle verbatim (the shared pair CTE): the streaming
    // bounded-deque miner must reproduce the batch pair-count table
    Gate("q202_stream_cooccur", Family.Streaming, streamCoOccurrence, _ =>
      s"""WITH $coocCtesSql
         |SELECT src_type, dst_type, n_pairs FROM pc
         |ORDER BY src_type, dst_type""".stripMargin),

    // the WAV round-trip replayed from the PCM generator arithmetic:
    // kept frames are i % 3 = 0 of (doc_id % 5 + 1)*400 samples, each
    // sample (doc_id*31 + i*7) mod 256; mean is ONE IEEE division of
    // exact integers, bins are v // 32
    Gate("q203_audio_features", Family.Ann, audioFeatures, _ =>
      """WITH e AS (
        |  SELECT doc_id,
        |    unnest(generate_series(0, (doc_id % 5 + 1) * 400 - 1)) AS i
        |  FROM documents),
        |v AS (SELECT doc_id, (doc_id * 31 + i * 7) % 256 AS v
        |      FROM e WHERE i % 3 = 0)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(sum(v) AS DOUBLE) / count(*) AS mean_intensity,
        |  CAST(count(*) FILTER (WHERE v // 32 = 0) AS BIGINT) AS h0,
        |  CAST(count(*) FILTER (WHERE v // 32 = 1) AS BIGINT) AS h1,
        |  CAST(count(*) FILTER (WHERE v // 32 = 2) AS BIGINT) AS h2,
        |  CAST(count(*) FILTER (WHERE v // 32 = 3) AS BIGINT) AS h3,
        |  CAST(count(*) FILTER (WHERE v // 32 = 4) AS BIGINT) AS h4,
        |  CAST(count(*) FILTER (WHERE v // 32 = 5) AS BIGINT) AS h5,
        |  CAST(count(*) FILTER (WHERE v // 32 = 6) AS BIGINT) AS h6,
        |  CAST(count(*) FILTER (WHERE v // 32 = 7) AS BIGINT) AS h7
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  )
}
