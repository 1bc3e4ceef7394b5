package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.fs.{FeatureStore, WriteMode}

/** [extension] Streaming feature refresh (SURVEY.md §2.9, §7.6).
  *
  * The reference is batch-only — its "real-time" story is publishing
  * precomputed features (FS:452-456). This module adds the natural
  * Structured-Streaming leg: `readStream` over an event source →
  * watermark + tumbling-window aggregation → `foreachBatch` upsert into
  * a feature table via the SAME `FeatureStore.writeTable(Merge)` used by
  * batch (K5 reused verbatim — the point of building merge first).
  *
  * Scale: the windowed agg is the standard partial-agg + state-store
  * plan; the merge in foreachBatch shuffles only the micro-batch delta
  * against the feature table.
  */
object StreamingFeatures {

  /** Per-user rolling feature aggregation over an event stream.
    * Watermark bounds state; append mode emits each window once final.
    */
  def userEventFeatures(events: DataFrame, windowLength: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("n_purchases"))
      .select(col("user_id"), col("window.start").as("window_start"),
        col("n_events"), col("sum_value"), col("n_purchases"))

  /** Start `frame` under Trigger.AvailableNow with `f` applied to each
    * non-empty micro-batch: the one sink every maintainer below runs
    * through.
    */
  private def eachBatch(frame: DataFrame, outputMode: String,
      checkpointDir: String)(f: DataFrame => Unit): StreamingQuery =
    frame.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) f(batch)
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Wire a streaming source into a feature table: each micro-batch is
    * key-merged into `tableName` (update mode, the batch path's
    * `writeTable(Merge)`); the state maintainers below that upsert end
    * here. Returns the started query; callers own its lifecycle.
    */
  def refreshFeatureTable(
      stream: DataFrame,
      store: FeatureStore,
      tableName: String,
      checkpointDir: String): StreamingQuery =
    eachBatch(stream, "update", checkpointDir)(
      store.writeTable(tableName, _, WriteMode.Merge))

  /** Running (unwindowed) per-key aggregate state — the streaming
    * sibling of `operators/IncrementalAgg`: same state columns
    * (cnt / exact-decimal sm / mn / mx), but the running totals live in
    * the streaming engine's OWN state store (RocksDB-backed partial
    * aggregation), so each micro-batch emits the complete new state row
    * for every touched key (update mode) and foreachBatch row-upserts
    * those into the feature table. Idempotent under batch re-delivery —
    * a re-run rewrites the same full state rows, where an arithmetic
    * `IncrementalAgg.merge` in foreachBatch would double-count (that
    * merge belongs to the scheduled-batch path, where delta replay is
    * the caller's contract). State size is O(|keys|) — the same as the
    * result table itself; there is nothing to watermark away.
    */
  def maintainAggState(
      stream: DataFrame,
      store: FeatureStore,
      tableName: String,
      keys: Seq[String],
      valueCol: String,
      checkpointDir: String): StreamingQuery = {
    import org.apache.spark.sql.types.DecimalType
    val v = col(valueCol)
    val agg = stream.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("cnt"),
      sum(v.cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("sm"),
      min(v).as("mn"),
      max(v).as("mx"))
    refreshFeatureTable(agg, store, tableName, checkpointDir)
  }

  /** Streaming conversion-funnel state — the q93 funnel as a running
    * per-user aggregate. Both funnel fields are conditional MINS
    * (mergeable across micro-batches), so the state rides the same
    * update-mode groupBy + merge-upsert shape as [[maintainAggState]]:
    * each micro-batch emits the complete new state row for every
    * touched user and foreachBatch upserts them. The aggregate
    * expression is `PipelinesExt.funnelAgg` — the SAME builder the
    * batch gate runs, so stream ≡ batch by construction, asserted
    * across micro-batches in StreamingFeaturesSpec. `converted` is
    * derived per emitted row (never stored state). State is O(|users|)
    * — the size of the result table itself; nothing to watermark away.
    */
  def maintainFunnelState(
      events: DataFrame,
      store: FeatureStore,
      tableName: String,
      checkpointDir: String,
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts"): StreamingQuery = {
    val shaped = events.select(
      col(userCol).as("user_id"),
      col(typeCol).as("event_type"),
      unix_micros(col(tsCol).cast("timestamp")).as("us"))
    refreshFeatureTable(graft.PipelinesExt.funnelAgg(shaped), store, tableName,
      checkpointDir)
  }

  /** Streaming sketch state — the [[graft.functions.SketchAggregates]]
    * tier (KMV distinct-count, CM-heap heavy hitters) as a running
    * per-key streaming aggregate. Both sketches are MERGEABLE
    * summaries (that is what makes them map-side-combinable in batch),
    * so the streaming engine's state store holds exactly one
    * fixed-size buffer per group and each micro-batch merges its
    * partial sketch into it — constant state per key at any stream
    * rate, and the same update-mode merge-upsert shape as
    * [[maintainAggState]]. KMV is order-independent by construction
    * (k smallest hashes of a set), so stream ≡ batch EXACTLY;
    * CM counters are additive (identical under any partitioning), and
    * the candidate heap re-ranks against the merged counters, so the
    * top-k agrees with batch whenever the candidate cap holds all
    * observed keys (asserted in the spec; at adversarial cardinality
    * the usual CM-heap approximation applies to both paths alike).
    */
  def maintainSketchState(
      stream: DataFrame,
      store: FeatureStore,
      tableName: String,
      keys: Seq[String],
      distinctCol: String,
      heavyCol: String,
      topK: Int,
      checkpointDir: String): StreamingQuery = {
    val agg = stream.groupBy(keys.map(col): _*).agg(
      graft.functions.SketchAggregates.kmvDistinct(col(distinctCol)).as("distinct_est"),
      graft.functions.SketchAggregates.cmTopK(col(heavyCol).cast("string"), topK)
        .as("top_items"))
    refreshFeatureTable(agg, store, tableName, checkpointDir)
  }

  /** File-based streaming read of an events directory with an explicit
    * schema (streaming sources cannot infer).
    */
  def readEventStream(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Streaming CDC apply: each micro-batch of change rows (keys + op
    * column 'upsert' | 'delete' + values) lands as ONE atomic
    * [[FeatureStore.applyChanges]] version bump — the streaming leg of
    * the Delta MERGE WHEN-MATCHED-DELETE shape. Batches replayed after
    * a crash re-apply idempotently (upsert of identical rows and
    * delete of absent keys are both no-ops on the final state).
    *
    * Pass `seqCol` for real CDC feeds: a micro-batch routinely carries
    * SEVERAL events for one key, and applyChanges resolves them
    * last-event-wins by that order; without it, a multi-event key in a
    * batch is a named error (the Delta multiple-source-match
    * semantics).
    */
  def applyChangeStream(
      changes: DataFrame,
      store: FeatureStore,
      tableName: String,
      opCol: String,
      checkpointDir: String,
      seqCol: Option[String] = None): StreamingQuery =
    eachBatch(changes, "append", checkpointDir)(
      store.applyChanges(tableName, _, opCol, seqCol))

  /** Streaming corpus-stats maintenance — the 1-row side of a live
    * BM25 index ([[maintainDocFrequency]] keeps the per-term df; this
    * keeps N and Σdl): a running stateful aggregate over a constant
    * key, merged into a 1-row feature table per micro-batch. Together
    * the two state tables are exactly the inputs
    * `Retrieval.bm25TopK` derives per query — scoring against
    * maintained state instead of re-aggregating the corpus is what
    * makes BM25 serviceable on a stream (StreamingFeaturesSpec asserts
    * state-derived scores ≡ the batch operator's).
    */
  def maintainCorpusStats(
      docStream: DataFrame,
      store: FeatureStore,
      tableName: String,
      textCol: String,
      checkpointDir: String): StreamingQuery = {
    val toks = coalesce(
      graft.ext.TextAnalysis.tokens(lower(col(textCol))),
      array().cast("array<string>"))
    val agg = docStream.select(size(toks).as("dl"))
      .groupBy(lit("corpus").as("corpus_key"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    refreshFeatureTable(agg, store, tableName, checkpointDir)
  }

  /** Streaming per-dimension quantization-bounds maintenance — the
    * state behind the frozen-grid SQ8 serving tier
    * (Pq.scalarQuantizeWithBounds): running per-dim min/max as a
    * stateful streaming aggregate (min and max are mergeable, so state
    * is two doubles per dimension), changed dims key-merged into the
    * feature table. Re-encode (or decide to) when the maintained
    * bounds move materially; meanwhile every batch encodes against the
    * SAME grid.
    */
  def maintainQuantBounds(
      vecStream: DataFrame,
      store: FeatureStore,
      tableName: String,
      vecCol: String,
      checkpointDir: String): StreamingQuery = {
    val dims = vecStream
      .select(posexplode(col(vecCol)).as(Seq("pos", "_xf")))
      .select(col("pos"), col("_xf").cast("double").as("x"))
    val agg = dims.groupBy(col("pos"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    refreshFeatureTable(agg, store, tableName, checkpointDir)
  }

  /** Streaming document-frequency maintenance — the index-side state a
    * live BM25/TF-IDF tier (Retrieval.bm25TopK, TextAnalysis.termStats)
    * needs when the corpus grows continuously: per-term df as a RUNNING
    * stateful aggregate. Terms are deduped INSIDE each document row
    * (array_distinct before the explode — df counts documents, not
    * occurrences), the running count lives in the streaming state store
    * (update mode emits only changed terms), and changed terms
    * key-merge into the feature table through the same writeTable(Merge)
    * path as every other state maintainer. State is one long per term —
    * bounded by the vocabulary, not the corpus.
    */
  def maintainDocFrequency(
      docStream: DataFrame,
      store: FeatureStore,
      tableName: String,
      textCol: String,
      checkpointDir: String): StreamingQuery = {
    val terms = docStream.select(
      explode(array_distinct(
        graft.ext.TextAnalysis.tokens(lower(col(textCol))))).as("term"))
    val agg = terms.groupBy(col("term")).agg(count(lit(1)).as("df"))
    refreshFeatureTable(agg, store, tableName, checkpointDir)
  }

  /** Streaming DSIR bucket-stats maintenance — the corpus model behind
    * hashed-unigram importance scoring
    * (`TextAnalysis.hashedImportanceScores`): per-bucket raw/target
    * token counts as a running stateful aggregate. State is two
    * mergeable longs per md5 hex bucket, ≤ 16^bucketHexLen keys (256 at
    * the default) — CONSTANT-sized at any corpus scale, the cheapest
    * state in this module. Changed buckets key-merge into the feature
    * table; batch scoring against the maintained state
    * (`hashedImportanceScoresWithStats`) reproduces the batch operator
    * exactly (StreamingFeaturesSpec stream≡batch parity).
    */
  def maintainDsirBuckets(
      docStream: DataFrame,
      store: FeatureStore,
      tableName: String,
      textCol: String,
      targetPred: org.apache.spark.sql.Column,
      checkpointDir: String,
      bucketHexLen: Int = 2): StreamingQuery = {
    val agg = docStream
      .select(targetPred.as("_is_t"),
        explode(graft.ext.TextAnalysis.tokens(lower(col(textCol)))).as("_term"))
      .select(col("_is_t"),
        substring(md5(col("_term")), 1, bucketHexLen).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("_is_t"), 1L).otherwise(0L)).as("n_target"))
    refreshFeatureTable(agg, store, tableName, checkpointDir)
  }

  /** Streaming per-term OCCURRENCE counts (positions, not documents —
    * the unigram half of the bigram-LM model,
    * `TextAnalysis.termOccurrenceCounts`): one running long per vocab
    * term, update mode emits changed terms only.
    */
  def maintainTermCounts(
      docStream: DataFrame,
      store: FeatureStore,
      tableName: String,
      textCol: String,
      checkpointDir: String): StreamingQuery = {
    val agg = docStream
      .select(explode(
        graft.ext.TextAnalysis.tokens(lower(col(textCol)))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    refreshFeatureTable(agg, store, tableName, checkpointDir)
  }

  /** Streaming adjacent-token pair counts (the bigram half of the
    * bigram-LM model, `TextAnalysis.bigramPairCounts`): a running long
    * keyed by (prev, cur). Pairs never cross document boundaries, so
    * each micro-batch's contribution is self-contained and the counts
    * are exactly mergeable; the per-prev continuation total is DERIVED
    * at scoring time (sum over cur), needing no second state table.
    * Batch scoring against both maintained tables
    * (`bigramLmScoresWithStats`) reproduces the batch operator exactly
    * (StreamingFeaturesSpec stream≡batch parity).
    */
  def maintainBigramCounts(
      docStream: DataFrame,
      store: FeatureStore,
      tableName: String,
      textCol: String,
      checkpointDir: String): StreamingQuery = {
    val toks = graft.ext.TextAnalysis.tokens(lower(col(textCol)))
    val agg = docStream
      .select(toks.as("_w"))
      .filter(size(col("_w")) >= 2)
      .select(explode(zip_with(
        slice(col("_w"), lit(1), size(col("_w")) - 1),
        slice(col("_w"), lit(2), size(col("_w")) - 1),
        (p, c) => struct(p.as("p"), c.as("c")))).as("_bg"))
      .select(col("_bg.p").as("prev"), col("_bg.c").as("cur"))
      .groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("cnt"))
    refreshFeatureTable(agg, store, tableName, checkpointDir)
  }

  /** Streaming per-(key, calendar-day) value-sum maintenance — the
    * state behind the day-bucketed decay tier
    * (`operators/Decay.decayedFromDailySums`): daily sums are kept in
    * the UNDECAYED domain, so they merge exactly across micro-batches
    * (counts and quantized sums are plain longs) and any anchor can
    * apply the decay weights at read time — pre-decayed state would
    * silently re-anchor on every batch, the frozen-grid trap in
    * reverse.
    *
    * State growth is an explicit trade exposed as `watermarkDelay`:
    *   - `None` (default, exact mode): the aggregation is
    *     UNWATERMARKED, so stream state holds one (count, sum) pair
    *     per distinct (key, day) EVER seen — it grows with the key ×
    *     active-day product (not with event volume), and arbitrarily
    *     late backfill still merges exactly (the stream≡batch parity
    *     contract). Retention of old days in the TABLE is the vacuum
    *     policy; the state store itself never evicts in this mode.
    *   - `Some(delay)` (bounded mode): a watermark of `delay` past
    *     the max seen event time lets closed days evict from the
    *     state store (the group key is the event-time day window),
    *     capping state at the keys active inside the delay horizon —
    *     but events later than `delay` are DROPPED, so parity holds
    *     only within the lateness bound. Use at least a day of slack
    *     (e.g. "25 hours") so a calendar day fully closes before its
    *     state evicts. REQUIRES a UTC session time zone (asserted at
    *     call time): the eviction window is epoch-aligned while exact
    *     mode's date_trunc follows the session zone, and the two must
    *     share day boundaries.
    */
  def maintainDailyValueSums(
      eventStream: DataFrame,
      store: FeatureStore,
      tableName: String,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      checkpointDir: String,
      valueScale: Double = 100.0,
      watermarkDelay: Option[String] = None): StreamingQuery = {
    // Bounded mode groups on window(_, '1 day'), which is UTC-epoch
    // aligned; exact mode (and the batch decay tier this table feeds)
    // uses date_trunc('day'), which follows spark.sql.session.timeZone.
    // In a non-UTC session the two modes would assign the same event to
    // DIFFERENT day_us keys, silently breaking the documented
    // exact ≡ bounded parity — fail fast instead.
    watermarkDelay.foreach { _ =>
      val tz = eventStream.sparkSession.sessionState.conf.sessionLocalTimeZone
      val rules = java.time.ZoneId.of(tz).getRules
      require(rules.isFixedOffset &&
          rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds == 0,
        s"maintainDailyValueSums: bounded mode requires a UTC session time " +
          s"zone so window() and date_trunc('day') share day boundaries; " +
          s"got spark.sql.session.timeZone='$tz' — set it to UTC or use " +
          "exact mode (watermarkDelay = None)")
    }
    val cleaned = eventStream
      .filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .withColumn("_ets", col(tsCol).cast("timestamp"))
      .withColumn("_vq",
        floor(col(valueCol) * lit(valueScale) + lit(0.5)).cast("long"))
    val agg = watermarkDelay match {
      case None =>
        cleaned
          .select(col(keyCol),
            unix_micros(date_trunc("day", col("_ets"))).as("day_us"),
            col("_vq"))
          .groupBy(col(keyCol), col("day_us"))
          .agg(count(lit(1)).as("n_events"), sum(col("_vq")).as("sum_vq"))
      case Some(delay) =>
        // grouping on the event-time WINDOW (not a derived long) is
        // what lets the state store recognize closed days and evict
        cleaned
          .withWatermark("_ets", delay)
          .groupBy(col(keyCol), window(col("_ets"), "1 day").as("_day"))
          .agg(count(lit(1)).as("n_events"), sum(col("_vq")).as("sum_vq"))
          .select(col(keyCol), unix_micros(col("_day.start")).as("day_us"),
            col("n_events"), col("sum_vq"))
    }
    refreshFeatureTable(agg, store, tableName, checkpointDir)
  }

  /** Streaming duplicate-CLUSTER maintenance — the serving gap between
    * batch CC (recompute from scratch) and the streaming pair emitters
    * (`NearDup` produces pairs, not labels): each micro-batch of
    * (src, dst) near-dup pairs merges into the DURABLE labeling table
    * via [[graft.ext.Components.incrementalComponentsUpdates]] — seed
    * labels are read from the table, star rounds run on the delta plus
    * the touched components' stars only, and only the CHANGED labels
    * are upserted (key: node). The untouched majority of a 100 TB-corpus
    * labeling is neither read into the rounds nor rewritten.
    *
    * Idempotent under micro-batch replay: re-applying edges that are
    * already intra-component leaves every label fixed, so at-least-once
    * delivery stays exactly-once per node. Batch-boundary-insensitive:
    * labels are canonical component minima, which depend on the edge
    * SET, not its arrival order — the stream≡batch parity contract
    * (asserted across micro-batches in StreamingFeaturesSpec).
    */
  def maintainDupComponents(
      pairStream: DataFrame,
      store: FeatureStore,
      tableName: String,
      checkpointDir: String,
      srcCol: String = "src",
      dstCol: String = "dst"): StreamingQuery =
    eachBatch(pairStream, "append", checkpointDir) { batch =>
      val prior = store.readTable(tableName)
        .select(col("node"), col("component"))
      val updates = graft.ext.Components.incrementalComponentsUpdates(
        prior, batch, srcCol, dstCol)
      if (!updates.isEmpty)
        store.writeTable(tableName, updates, WriteMode.Merge)
    }

  /** Streaming ANN-index maintenance — continuous ingestion into a
    * materialized IVF index: each micro-batch of embedding rows appends
    * into the index directory via
    * [[graft.ext.Similarity.ivfIndexAppend]] (assignment against the
    * FROZEN centroid sidecar — geometry never moves under the written
    * data), so probes see new vectors after the next batch while
    * keeping their static cell pruning. Only each micro-batch shuffles
    * (one repartition on its cell ids); the index itself is never
    * read. Pair with [[graft.ext.Similarity.ivfIndexStaleness]] on a
    * schedule: when drift vs the fit-time baseline crosses the
    * deployment threshold, stop the stream, re-fit, restart — with a
    * flat dir via a full `ivfIndexWrite`, with a versioned root via
    * [[graft.ext.IvfIndex.rebuild]] (atomic pointer swap; probes never
    * see a half-written index).
    *
    * Crash windows: a failure DURING the parquet append leaves only
    * `_temporary` litter (job-commit rename never ran), which readers
    * ignore — the index is unchanged and the replayed batch appends
    * cleanly. A failure AFTER the append commits but BEFORE the
    * checkpoint commits makes the replay double-write that batch:
    * NOT idempotent under micro-batch replay — run with exactly-once
    * sources / checkpointed triggers, or dedup upstream by vector id.
    */
  def maintainIvfIndex(
      vectorStream: DataFrame,
      indexDir: String,
      checkpointDir: String,
      idCol: String = "vec_id",
      embCol: String = "embedding"): StreamingQuery =
    eachBatch(vectorStream, "append", checkpointDir)(
      graft.ext.Similarity.ivfIndexAppend(_, indexDir, idCol, embCol))

  /** Exactly-once event dedup for at-least-once sources: state-backed
    * `dropDuplicates` on the event id, bounded by the watermark (state
    * for ids older than the delay is evicted — the standard streaming
    * dedup contract; without the watermark state grows forever).
    */
  def dedupEvents(events: DataFrame, idCol: String = "event_id",
      tsCol: String = "ts", watermarkDelay: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .dropDuplicates(idCol, tsCol)

  /** Content-level streaming dedup for document streams — the
    * streaming analog of batch `Dedup.exactDedup`, keyed by the SAME
    * normalized-text md5 fingerprint. Duplicate content arrives at
    * DIFFERENT event times, so this uses
    * `dropDuplicatesWithinWatermark`: two docs with equal fingerprints
    * whose event times fall within the watermark delay collapse to the
    * first seen; fingerprint state evicts once the watermark passes.
    * Per-key state is one (16-byte key, timestamp) entry — at 100 TB/
    * day the state store holds only the delay window, not the corpus.
    */
  def dedupDocsByContent(docs: DataFrame, textCol: String = "text",
      tsCol: String = "ts", watermarkDelay: String = "1 hour"): DataFrame =
    docs
      .withColumn("fingerprint", graft.ext.TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Input/output/state rows for [[labelRevisits]] — a fixed typed
    * contract (the `flatMapGroupsWithState` path needs encoders, and
    * a pinned schema keeps the stream and the batch
    * [[graft.ext.Warc.revisitRecords]] comparable field-for-field).
    */
  final case class CaptureIn(digest: String, url: String, ts: Long,
      doc_id: Long, crawl: Int)
  final case class RevisitOut(doc_id: Long, crawl: Int, url: String,
      ts: Long, payload_digest: String, record_type: String,
      refers_to_url: Option[String], refers_to_ts: Option[Long])
  final case class FirstCapture(url: String, ts: Long)

  /** Streaming revisit labeling — the stateful analog of
    * [[graft.ext.Warc.revisitRecords]]: per payload digest the state
    * remembers the FIRST capture ever seen (url, ts); that capture is
    * the stored `response` and every later one — same batch or any
    * later batch — emits as a `revisit` stub pointing at it. Within a
    * micro-batch rows sort by (ts, url) so batch ≡ stream on ordered
    * replays (the q252 oracle gates both; StreamingRevisitSpec pins
    * the multi-batch ordered replay). OUT-OF-ORDER replays (an
    * earlier-ts capture arriving in a LATER micro-batch) are
    * Append-mode-bounded: the already-emitted response cannot be
    * retracted, so the late row emits as a revisit against the stored
    * original, but state rolls DOWN to the earliest (ts, url) so every
    * SUBSEQUENT stub points where batch `revisitRecords` points — the
    * divergence is confined to rows emitted before the late arrival.
    * Per-key state is ONE (url, ts) pair per distinct payload — at
    * archive scale that is the dedup index itself, the thing a
    * revisit-writing crawler must keep anyway; pair with a state-store
    * TTL in deployments that bound the dedup horizon.
    */
  def labelRevisits(captures: org.apache.spark.sql.Dataset[CaptureIn])
      : org.apache.spark.sql.Dataset[RevisitOut] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = captures.sparkSession
    import spark.implicits._
    captures.groupByKey(_.digest)
      .flatMapGroupsWithState[FirstCapture, RevisitOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (digest, rows, state) =>
          val sorted = rows.toSeq.sortBy(r => (r.ts, r.url))
          val batchFirst = {
            val h = sorted.head
            FirstCapture(h.url, h.ts)
          }
          val hadState = state.exists
          val first = state.getOption.getOrElse(batchFirst)
          // roll state DOWN to the earliest capture ever seen: a late
          // batch carrying a smaller ts updates the anchor so future
          // stubs match batch revisitRecords (this batch's stubs still
          // point at the stored original — Append cannot retract)
          val earliest =
            if (batchFirst.ts < first.ts ||
              (batchFirst.ts == first.ts && batchFirst.url < first.url))
              batchFirst
            else first
          if (!hadState || earliest != first) state.update(earliest)
          sorted.iterator.zipWithIndex.map { case (r, idx) =>
            val isResponse = !hadState && idx == 0
            RevisitOut(r.doc_id, r.crawl, r.url, r.ts, digest,
              if (isResponse) "response" else "revisit",
              if (isResponse) None else Some(first.url),
              if (isResponse) None else Some(first.ts))
          }
      }
  }

  /** Guarded streaming refresh — the expectations-with-quarantine
    * ingest pattern: each micro-batch splits on the row-local checks,
    * merges the CLEAN rows into `tableName`, and appends the violating
    * rows (plus their named reasons) to `quarantineTable` for triage.
    * Bad data never reaches the serving table, and never disappears
    * either. Both sinks reuse the store's idempotent key-merge, so
    * at-least-once re-delivery stays exactly-once per key.
    */
  def refreshFeatureTableGuarded(
      stream: DataFrame,
      store: FeatureStore,
      tableName: String,
      checks: Seq[graft.operators.Expectations.Expectation],
      quarantineTable: String,
      checkpointDir: String): StreamingQuery = {
    // fail fast at the call site: a non-row-local or empty check list
    // would otherwise only surface as a StreamingQueryException inside
    // the first micro-batch
    graft.operators.Expectations.requireRowLocal(checks)
    eachBatch(stream, "update", checkpointDir) { batch =>
      // the split + two merges + emptiness probes read the batch up
      // to four times; cache it so the source (and the check
      // expressions) run once per micro-batch
      val cached = batch.persist()
      try {
        val (good, bad) = graft.operators.Expectations.enforce(cached, checks)
        if (!good.isEmpty) store.writeTable(tableName, good, WriteMode.Merge)
        if (!bad.isEmpty) store.writeTable(quarantineTable,
          bad.withColumn("violations", concat_ws(",", col("violations"))),
          WriteMode.Merge)
      } finally { cached.unpersist(); () }
    }
  }
}
