package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Gate queries — behavioral/event analytics: funnels, cohort
  * retention, session funnels, transition matrices. Split out of
  * QueriesCuration in r12 (the >700-line file discipline).
  */
private[graft] trait PipelinesBehavior extends PipelinesBase {

  // Conversion funnel: per-user first view / first subsequent purchase
  // — conditional-min aggregates over one events scan, epoch-µs output
  // (the q17 timestamp discipline). NULL-safe conversion flag via
  // coalesce so never-purchased users gate to 0, not NULL.

  /** The funnel aggregate itself, over a frame with (user_id,
    * event_type, us) — SHARED by the q93 batch gate and the streaming
    * `StreamingFeatures.maintainFunnelState`, so stream/batch parity
    * holds by construction (the q08 shared-builder discipline). Both
    * mins are mergeable, which is what makes the same expression a
    * valid running streaming state.
    */
  def funnelAgg(ev: DataFrame): DataFrame =
    ev.groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", col("us"))).as("first_view_us"),
        min(when(col("event_type") === "purchase", col("us"))).as("first_purchase_us"))
      .withColumn("converted",
        coalesce(col("first_purchase_us") > col("first_view_us"), lit(false))
          .cast("int"))

  def conversionFunnel(s: SparkSession, d: String): DataFrame =
    funnelAgg(t(s, d, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us")))
      .orderBy("user_id")

  // Cohort retention: users bucketed by the ISO week of their first
  // event; activity weeks indexed by exact micro-second arithmetic
  // ((w − cohort_w) div week_µs — both weeks are date_trunc'd so the
  // division is exact, no calendar functions past the shared trunc).
  def cohortRetention(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"))
    val first = ev.groupBy(col("user_id"))
      .agg(unix_micros(date_trunc("week", min(col("ts")))).as("cohort_us"))
    val active = ev
      .select(col("user_id"),
        unix_micros(date_trunc("week", col("ts"))).as("w_us"))
      .distinct()
    active.join(first, Seq("user_id"))
      .groupBy(col("cohort_us"),
        ((col("w_us") - col("cohort_us")) / lit(604800000000L)).cast("long")
          .as("week_n"))
      .agg(count(lit(1)).cast("long").as("n_users"))
      .orderBy("cohort_us", "week_n")
  }

  // Behavioral transition matrix: counts of consecutive event-type
  // pairs per user timeline (lead over the per-user time order, then
  // one group-by) — the Markov-chain input for path analysis. Total
  // ordering (us, event_id) makes the pairs deterministic under ties.
  def eventTransitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    t(s, d, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy("event_type", "next_type")
  }

  // Session-scoped funnel: the q93 conversion shape applied WITHIN
  // gap-based sessions — per (user, session), first view and first
  // later purchase. Composes the per-event session assignment with
  // conditional-min aggregates; the whole plan still has one exchange
  // on user_id (windows and group-by share it).
  def sessionFunnel(s: SparkSession, d: String): DataFrame =
    graft.streaming.Sessionize
      .assignBatch(t(s, d, "events"), gapMicros = 4L * 3600 * 1000000)
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(when(col("event_type") === "view", col("_us"))).as("first_view_us"),
        min(when(col("event_type") === "purchase", col("_us"))).as("first_purchase_us"))
      .withColumn("converted",
        coalesce(col("first_purchase_us") > col("first_view_us"), lit(false))
          .cast("int"))
      .orderBy("user_id", "session_id")

  /** Session skip-gram co-occurrence pairs: each event pairs with the
    * next 3 events of its session (the q34 4-hour gap definition);
    * the directed pair counts are the item2vec training table. All
    * lookaheads ride the ONE session sort — no within-session
    * self-join anywhere.
    */
  def sessionCoOccurrence(s: SparkSession, d: String): DataFrame =
    graft.streaming.Sessionize.coOccurrencePairs(t(s, d, "events"),
        gapMicros = 14400000000L, maxDist = 3)
      .orderBy("src_type", "dst_type")

  /** Lift association over the q176 pairs — the log-free PMI sibling
    * (ln is §5.3-excluded): exact integer-rational
    * n_pairs·N·1e6/(n_src·n_dst), marginals and total from the same
    * shared pair CTE the oracle replays.
    */
  def sessionCoOccurLift(s: SparkSession, d: String): DataFrame =
    graft.streaming.Sessionize.coOccurrenceLift(t(s, d, "events"),
        gapMicros = 14400000000L, maxDist = 3)
      .orderBy("src_type", "dst_type")

  /** The q176 session-co-occurrence extraction through a final
    * `pc(src_type, dst_type, n_pairs)` CTE — ONE source of truth for
    * the pair gate and the q178 lift scores built on it.
    */
  protected def coocCtesSql: String = {
    val arms = (1 to 3).map { k =>
      s"""SELECT event_type AS src_type,
         |    CASE WHEN lead(session_id, $k) OVER v$k = session_id
         |         THEN lead(event_type, $k) OVER v$k END AS dst_type
         |  FROM s2 WINDOW v$k AS (PARTITION BY user_id ORDER BY us, event_id)"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
       |s AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL THEN 1
       |                     WHEN us - lag(us) OVER w > 14400000000 THEN 1
       |                     ELSE 0 END AS brk
       |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |s2 AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
       |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM s),
       |p AS ($arms),
       |pc AS (SELECT src_type, dst_type, CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM p WHERE dst_type IS NOT NULL
       |  GROUP BY src_type, dst_type)""".stripMargin
  }

  override def gates: Seq[Gate] = super.gates ++ Seq(
    Gate("q96_event_transitions", Family.Sql, eventTransitions, _ =>
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        |t AS (SELECT event_type,
        |        lead(event_type) OVER (PARTITION BY user_id
        |          ORDER BY us, event_id) AS next_type
        |      FROM e)
        |SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n_transitions
        |FROM t WHERE next_type IS NOT NULL
        |GROUP BY event_type, next_type
        |ORDER BY event_type, next_type""".stripMargin),

    Gate("q95_session_funnel", Family.Sql, sessionFunnel, _ =>
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |           FROM events),
        |s AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL THEN 1
        |                     WHEN us - lag(us) OVER w > 14400000000 THEN 1
        |                     ELSE 0 END AS brk
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s2 AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM s)
        |SELECT user_id, session_id,
        |  min(CASE WHEN event_type = 'view' THEN us END) AS first_view_us,
        |  min(CASE WHEN event_type = 'purchase' THEN us END) AS first_purchase_us,
        |  CAST(coalesce(
        |    min(CASE WHEN event_type = 'purchase' THEN us END) >
        |    min(CASE WHEN event_type = 'view' THEN us END), false) AS INT) AS converted
        |FROM s2 GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin),

    Gate("q93_funnel", Family.Sql, conversionFunnel, _ =>
      """SELECT user_id,
        |  min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS first_view_us,
        |  min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS first_purchase_us,
        |  CAST(coalesce(
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) >
        |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END), false) AS INT)
        |    AS converted
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    Gate("q94_cohort_retention", Family.Sql, cohortRetention, _ =>
      """WITH f AS (
        |  SELECT user_id, epoch_us(date_trunc('week', min(ts))) AS cohort_us
        |  FROM events GROUP BY user_id),
        |a AS (
        |  SELECT DISTINCT user_id, epoch_us(date_trunc('week', ts)) AS w_us
        |  FROM events)
        |SELECT cohort_us,
        |  CAST((w_us - cohort_us) // 604800000000 AS BIGINT) AS week_n,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM a JOIN f USING (user_id)
        |GROUP BY cohort_us, week_n ORDER BY cohort_us, week_n""".stripMargin),
    // the q34 session assignment, then one lead() arm per distance
    // with the same-session guard, unioned and counted
    Gate("q176_session_cooccur", Family.Sql, sessionCoOccurrence, _ =>
      s"""WITH $coocCtesSql
         |SELECT src_type, dst_type, n_pairs FROM pc
         |ORDER BY src_type, dst_type""".stripMargin),

    // pair marginals + total over the shared pair CTE, then the exact
    // integer-rational lift (the log-free PMI sibling) — products and
    // division written in the engine's exact order
    Gate("q178_cooccur_lift", Family.Sql, sessionCoOccurLift, _ =>
      s"""WITH $coocCtesSql,
         |st AS (SELECT src_type, CAST(sum(n_pairs) AS BIGINT) AS n_src
         |  FROM pc GROUP BY 1),
         |dt AS (SELECT dst_type, CAST(sum(n_pairs) AS BIGINT) AS n_dst
         |  FROM pc GROUP BY 1),
         |tt AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS n FROM pc)
         |SELECT src_type, dst_type, n_pairs,
         |  CAST(floor(CAST(n_pairs AS DOUBLE) * CAST(n AS DOUBLE) * 1000000.0e0
         |    / (CAST(n_src AS DOUBLE) * CAST(n_dst AS DOUBLE))) AS BIGINT) AS lift_q
         |FROM pc JOIN st USING (src_type) JOIN dt USING (dst_type) CROSS JOIN tt
         |ORDER BY src_type, dst_type""".stripMargin),

  )
}
