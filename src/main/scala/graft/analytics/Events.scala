package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Num, Op, Tables}

/** Event-stream analytics over the `events` table — the reference's
  * journey/funnel/dashboard/billing surface (SURVEY.md §2.5 A5–A8,
  * §2.7 W1–W3, §2.9 ST4) as batch DataFrame plans. The streaming
  * variants live in graft.streaming.
  *
  * All wall-clock semantics are pinned to Tables.AsOf (SURVEY §7
  * determinism rules).
  */
object Events {

  /** A6: event-sequence journey analysis (snowflake_loader.py:202-223).
    * Ordered collect is made deterministic via array_sort over
    * struct(ts, event_id) — Spark's collect_list has no intrinsic order.
    * Two-level aggregation: per-user sequence, then sequence frequency.
    */
  def journey(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
            x => x.getField("event_type")),
          ",").as("event_sequence"),
        count(lit(1)).as("n_events"),
        ((unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))) / 1e6).as("duration_sec"))
    perUser.groupBy(col("event_sequence"))
      .agg(count(lit(1)).as("frequency"),
        Num.r(avg(col("n_events")), 4).as("avg_events"),
        Num.savg(sum(col("duration_sec")), count(col("duration_sec")), 6, 3).as("avg_duration_sec"))
  }

  val journeySql: String =
    """WITH per_user AS (
      |  SELECT user_id,
      |         string_agg(event_type, ',' ORDER BY ts, event_id) AS event_sequence,
      |         count(*) AS n_events,
      |         epoch(max(ts) - min(ts)) AS duration_sec
      |  FROM events GROUP BY user_id)
      |SELECT event_sequence, count(*) AS frequency,
      |       floor((avg(n_events)) * 10000.0 + 0.5) / 10000.0 AS avg_events,
      |       floor((floor((sum(duration_sec)) * 1000000.0 + 0.5) / 1000000.0 / (count(duration_sec))) * 1000.0 + 0.5) / 1000.0 AS avg_duration_sec
      |FROM per_user GROUP BY event_sequence""".stripMargin

  /** A7: conversion funnel — stage map, per-stage distinct users,
    * LAG window for stage-to-stage conversion rate
    * (snowflake_loader.py:225-254).
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val staged = Tables.events(spark, dir)
      .withColumn("funnel_stage",
        when(col("event_type") === "view", 1)
          .when(col("event_type") === "click", 2)
          .when(col("event_type") === "signup", 3)
          .when(col("event_type") === "purchase", 4))
      .filter(col("funnel_stage").isNotNull)
    val counts = staged.groupBy(col("funnel_stage"))
      .agg(countDistinct(col("user_id")).as("n_users"))
    counts
      .withColumn("prev_users", lag(col("n_users"), 1).over(Window.orderBy(col("funnel_stage"))))
      .withColumn("conversion_rate",
        Num.r(col("n_users").cast("double") / col("prev_users"), 4))
      .drop("prev_users")
  }

  val funnelSql: String =
    """WITH staged AS (
      |  SELECT CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
      |              WHEN 'signup' THEN 3 WHEN 'purchase' THEN 4 END AS funnel_stage,
      |         user_id
      |  FROM events
      |  WHERE event_type IN ('view', 'click', 'signup', 'purchase')),
      |counts AS (
      |  SELECT funnel_stage, count(DISTINCT user_id) AS n_users
      |  FROM staged GROUP BY funnel_stage)
      |SELECT funnel_stage, n_users,
      |       floor((CAST(n_users AS DOUBLE) /
      |             lag(n_users) OVER (ORDER BY funnel_stage)) * 10000.0 + 0.5) / 10000.0 AS conversion_rate
      |FROM counts""".stripMargin

  /** A7 reference-parity funnel (snowflake_loader.py:225-254): the exact
    * query shape — 5-stage widget event map, trailing-7-day filter pinned
    * to asOf, GROUP BY (funnel_stage, event_type), previous_stage_sessions
    * kept as an output column, NULL-guarded conversion rate. The testdata
    * event types are bijectively renamed onto the widget vocabulary so
    * every stage is populated. `funnel` above stays as the 4-stage analog.
    */
  def funnelRef(spark: SparkSession, dir: String): DataFrame = {
    val asOf = lit(Tables.AsOf).cast("timestamp")
    val staged = Tables.events(spark, dir)
      .filter(col("ts") >= asOf - expr("INTERVAL 7 DAYS"))
      .withColumn("event_type",
        when(col("event_type") === "view", "page_view")
          .when(col("event_type") === "click", "widget_open")
          .when(col("event_type") === "signup", "user_message")
          .when(col("event_type") === "purchase", "product_interest")
          .otherwise("conversion"))
      .withColumn("funnel_stage",
        when(col("event_type") === "page_view", 1)
          .when(col("event_type") === "widget_open", 2)
          .when(col("event_type") === "user_message", 3)
          .when(col("event_type") === "product_interest", 4)
          .otherwise(5))
    val counts = staged.groupBy(col("funnel_stage"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("unique_sessions"))
    val w = Window.orderBy(col("funnel_stage"))
    counts
      .withColumn("previous_stage_sessions", lag(col("unique_sessions"), 1).over(w))
      .withColumn("conversion_rate",
        when(col("previous_stage_sessions") > 0,
          Num.r(col("unique_sessions").cast("double") / col("previous_stage_sessions"), 6)))
  }

  val funnelRefSql: String =
    s"""WITH staged AS (
       |  SELECT user_id,
       |         CASE event_type WHEN 'view' THEN 'page_view' WHEN 'click' THEN 'widget_open'
       |              WHEN 'signup' THEN 'user_message' WHEN 'purchase' THEN 'product_interest'
       |              ELSE 'conversion' END AS event_type,
       |         CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
       |              WHEN 'signup' THEN 3 WHEN 'purchase' THEN 4 ELSE 5 END AS funnel_stage
       |  FROM events
       |  WHERE ts >= TIMESTAMP '${Tables.AsOf}' - INTERVAL 7 DAYS),
       |counts AS (
       |  SELECT funnel_stage, event_type, count(DISTINCT user_id) AS unique_sessions
       |  FROM staged GROUP BY 1, 2)
       |SELECT funnel_stage, event_type, unique_sessions,
       |       lag(unique_sessions) OVER (ORDER BY funnel_stage) AS previous_stage_sessions,
       |       CASE WHEN lag(unique_sessions) OVER (ORDER BY funnel_stage) > 0
       |            THEN ${Num.rSql("CAST(unique_sessions AS DOUBLE) / lag(unique_sessions) OVER (ORDER BY funnel_stage)", 6)}
       |            END AS conversion_rate
       |FROM counts""".stripMargin

  /** A5: real-time KPI dashboard — single-row filtered conditional
    * aggregation over hour/day windows relative to a fixed asOf
    * (enhanced_schema.sql:254-281).
    */
  def dashboard(spark: SparkSession, dir: String): DataFrame = {
    val asOf = lit(Tables.AsOf).cast("timestamp")
    val lastHour = col("ts") >= asOf - expr("INTERVAL 1 HOUR")
    val lastDay = col("ts") >= asOf - expr("INTERVAL 24 HOURS")
    Tables.events(spark, dir).agg(
      count(when(lastHour, 1)).as("events_last_hour"),
      countDistinct(when(lastHour, col("user_id"))).as("users_last_hour"),
      count(when(lastDay, 1)).as("events_last_day"),
      countDistinct(when(lastDay, col("user_id"))).as("users_last_day"),
      count(when(lastDay && col("event_type") === "purchase", 1)).as("purchases_last_day"),
      Num.r(sum(when(lastDay && col("event_type") === "purchase", col("value"))
        .otherwise(lit(0.0))), 2).as("purchase_value_last_day"),
      Num.savg(sum(when(lastDay, col("value"))), count(when(lastDay, 1)), 2, 4).as("avg_value_last_day"),
      count(lit(1)).as("total_events"),
      countDistinct(col("user_id")).as("total_users"))
  }

  val dashboardSql: String =
    s"""SELECT
      |  count(CASE WHEN ts >= TIMESTAMP '${Tables.AsOf}' - INTERVAL 1 HOUR THEN 1 END) AS events_last_hour,
      |  count(DISTINCT CASE WHEN ts >= TIMESTAMP '${Tables.AsOf}' - INTERVAL 1 HOUR THEN user_id END) AS users_last_hour,
      |  count(CASE WHEN ts >= TIMESTAMP '${Tables.AsOf}' - INTERVAL 24 HOURS THEN 1 END) AS events_last_day,
      |  count(DISTINCT CASE WHEN ts >= TIMESTAMP '${Tables.AsOf}' - INTERVAL 24 HOURS THEN user_id END) AS users_last_day,
      |  count(CASE WHEN ts >= TIMESTAMP '${Tables.AsOf}' - INTERVAL 24 HOURS AND event_type = 'purchase' THEN 1 END) AS purchases_last_day,
      |  floor((sum(CASE WHEN ts >= TIMESTAMP '${Tables.AsOf}' - INTERVAL 24 HOURS AND event_type = 'purchase' THEN value ELSE 0 END)) * 100.0 + 0.5) / 100.0 AS purchase_value_last_day,
      |  floor((floor((sum(CASE WHEN ts >= TIMESTAMP '${Tables.AsOf}' - INTERVAL 24 HOURS THEN value END)) * 100.0 + 0.5) / 100.0 / (count(CASE WHEN ts >= TIMESTAMP '${Tables.AsOf}' - INTERVAL 24 HOURS THEN 1 END))) * 10000.0 + 0.5) / 10000.0 AS avg_value_last_day,
      |  count(*) AS total_events,
      |  count(DISTINCT user_id) AS total_users
      |FROM events""".stripMargin

  /** W3/S9-analog: last event per key — the Redis seq-guard hot-state
    * materialization (enhanced_kpi_consumer.py:638-673). An argmax
    * aggregate (max of a struct ordered (ts, event_id)) rather than a
    * row_number window: partial aggregation keeps one candidate per key
    * per map task, so a hot key costs O(tasks), not one task sorting the
    * key's full history. The struct's field order IS the (ts desc,
    * event_id desc) tiebreak.
    */
  def lastEventPerUser(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"), col("value")))
        .as("last"))
      .select(col("user_id"), col("last.event_id").as("event_id"),
        col("last.event_type").as("event_type"), col("last.value").as("value"),
        col("last.ts").as("ts"))

  val lastEventPerUserSql: String =
    """SELECT user_id, event_id, event_type, value, ts FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |            ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1""".stripMargin

  /** A8 [spec-only billing consumer]: tumbling 1-minute usage metering
    * keyed by account (config.yaml:208-212). date_trunc keeps the key
    * SQL-portable; the streaming variant uses window().
    */
  def billingUsage(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("account_id", col("user_id") % 10)
      .groupBy(col("account_id"), date_trunc("minute", col("ts")).as("bucket_min"))
      .agg(count(lit(1)).as("n_events"),
        Num.r(sum(col("value")), 2).as("total_value"))

  val billingUsageSql: String =
    """SELECT user_id % 10 AS account_id, date_trunc('minute', ts) AS bucket_min,
      |       count(*) AS n_events, floor((sum(value)) * 100.0 + 0.5) / 100.0 AS total_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Gap-based sessionization (30-min inactivity gap) — the scale-tier
    * generalization of the reference's explicit session ids (ST5 noted
    * absent in the reference; standard event-pipeline operator).
    * One shuffle on user_id; per-user sort inside the window.
    */
  /** Pane-decomposed (SlidingAgg.sessionCounts): breaks within a day-pane
    * come from pane-local lags, boundary breaks from the per-(user, pane)
    * relation — no task sorts one user's full history. (user_id, ts) is
    * unique in events, so ordering by ts alone matches (ts, event_id).
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame =
    graft.scale.SlidingAgg.sessionCounts(
      Tables.events(spark, dir).select("user_id", "ts"), Seq("user_id"), col("ts"),
      gapMicros = 1800L * 1000000L, paneMicros = 86400L * 1000000L)

  val sessionizeSql: String =
    """WITH flagged AS (
      |  SELECT user_id,
      |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |                OR date_diff('microsecond',
      |                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
      |                     ts) > 1800000000
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM events)
      |SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
      |FROM flagged GROUP BY user_id""".stripMargin

  /** Running per-user cumulative value (W1-family running window). */
  /** Pane-decomposed prefix sum (SlidingAgg.runningSum): pane-local
    * prefixes + a cumulated carry of earlier panes' totals. The r(2)
    * snap absorbs the reordered-summation ulps — grid-resident values
    * land half a unit from any floor boundary.
    */
  def runningTotal(spark: SparkSession, dir: String): DataFrame =
    graft.scale.SlidingAgg.runningSum(
      Tables.events(spark, dir).select("event_id", "user_id", "ts", "value"),
      Seq("user_id"), col("ts"), col("event_id"), col("value"),
      paneMicros = 86400L * 1000000L, out = "rv")
      .select(col("event_id"), col("user_id"), Num.r(col("rv"), 2).as("running_value"))

  val runningTotalSql: String =
    """SELECT event_id, user_id,
      |       floor((sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100.0 + 0.5) / 100.0 AS running_value
      |FROM events""".stripMargin

  /** Semi-structured JSON payload access (reference JSONB/VARIANT columns,
    * SURVEY §1.2): extract props.k, aggregate by it.
    *
    * One `from_json` typed-struct parse per row instead of
    * `get_json_object` string-path extraction: the Jackson parse happens
    * once in the scan projection and both the grouping key and max() read
    * the already-extracted field. (r2→r3 A/B: the get_json_object plan
    * measured 3.9 s at sf0.1 after the warmup fix; JSON parse is the
    * whole cost of this query, so the parser choice is the plan.)
    */
  def jsonProps(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n_events"),
        Num.savg(sum(col("value")), count(col("value")), 2, 4).as("avg_value"),
        max(col("k")).as("max_k"))

  val jsonPropsSql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
      |       count(*) AS n_events, floor((floor((sum(value)) * 100.0 + 0.5) / 100.0 / (count(value))) * 10000.0 + 0.5) / 10000.0 AS avg_value,
      |       max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
      |FROM events GROUP BY 1""".stripMargin

  /** U1-analog: multi-source union then normalize+aggregate — splits
    * events into per-type "topics", unions them back (consumer's
    * 3-topic loop, enhanced_kpi_consumer.py:74-89).
    */
  def unionTopics(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val a = ev.filter(col("event_type").isin("view", "click"))
      .withColumn("topic", lit("frontend.user.interaction"))
    val b = ev.filter(col("event_type").isin("signup", "purchase"))
      .withColumn("topic", lit("text.agent.turn.completed"))
    val c = ev.filter(col("event_type") === "error")
      .withColumn("topic", lit("agent.tool.invoked"))
    a.unionByName(b).unionByName(c)
      .groupBy(col("topic"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        Num.r(sum(col("value")), 2).as("total_value"))
  }

  val unionTopicsSql: String =
    """SELECT CASE WHEN event_type IN ('view','click') THEN 'frontend.user.interaction'
      |            WHEN event_type IN ('signup','purchase') THEN 'text.agent.turn.completed'
      |            ELSE 'agent.tool.invoked' END AS topic,
      |       count(*) AS n_events, count(DISTINCT user_id) AS n_users,
      |       floor((sum(value)) * 100.0 + 0.5) / 100.0 AS total_value
      |FROM events GROUP BY 1""".stripMargin

  /** A4: session analytics summary — KPI rollup LEFT JOIN interaction
    * analytics at the session grain plus duration minutes
    * (enhanced_schema.sql:208-232, J1).
    */
  def sessionSummary(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val kpis = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("started_at"), max(col("ts")).as("ended_at"))
    val fa = ev.filter(col("event_type").isin("view", "click"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_interactions"),
        Num.savg(sum(col("value")), count(col("value")), 2, 4).as("avg_interaction_value"))
    kpis.join(fa, Seq("user_id"), "left")
      .select(col("user_id"), col("n_events"), col("n_interactions"),
        col("avg_interaction_value"),
        Num.r((unix_micros(col("ended_at")) - unix_micros(col("started_at"))) / 60000000.0, 4)
          .as("session_duration_min"))
  }

  val sessionSummarySql: String =
    s"""WITH kpis AS (
       |  SELECT user_id, count(*) AS n_events, min(ts) AS s, max(ts) AS e
       |  FROM events GROUP BY user_id),
       |fa AS (
       |  SELECT user_id, count(*) AS n_interactions,
       |         ${Num.savgSql("sum(value)", "count(value)", 2, 4)} AS avg_interaction_value
       |  FROM events WHERE event_type IN ('view', 'click') GROUP BY user_id)
       |SELECT kpis.user_id, n_events, n_interactions, avg_interaction_value,
       |       ${Num.rSql("date_diff('microsecond', s, e) / 60000000.0", 4)} AS session_duration_min
       |FROM kpis LEFT JOIN fa ON kpis.user_id = fa.user_id""".stripMargin

  /** Cohort retention matrix — the product-analytics companion to the
    * funnel/journey tier: users grouped by first-active week, and for
    * each (cohort, week-offset) cell the share of the cohort still
    * active. Week ids are integer µs-epoch division (never a date_trunc
    * — both engines share the exact arithmetic and no calendar/TZ
    * semantics can diverge).
    *
    * Scale shape: the instance stream collapses to distinct (user,
    * week) FIRST — keyed on the composite, so a hot user spreads over
    * its weeks rather than one task — and everything after runs on
    * that bounded relation (users × weeks): the per-user cohort min,
    * the cell counts, the cohort sizes. count(*) is exact-distinct
    * users per cell because the input rows are already distinct.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 604800000000").as("wk"))
      .distinct()
    val cohort = uw.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    val sizes = cohort.groupBy(col("cohort_wk"))
      .agg(count(lit(1)).as("cohort_users"))
    uw.join(cohort, "user_id")
      .select(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
      .groupBy(col("cohort_wk"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, "cohort_wk")
      .select(col("cohort_wk"), col("week_offset"), col("n_active"),
        col("cohort_users"),
        Num.r(col("n_active").cast("double") / col("cohort_users"), 6)
          .as("retention"))
  }

  val cohortRetentionSql: String =
    s"""WITH uw AS (
       |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
       |cohort AS (SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY 1),
       |sizes AS (SELECT cohort_wk, CAST(count(*) AS BIGINT) AS cohort_users
       |          FROM cohort GROUP BY 1),
       |act AS (
       |  SELECT c.cohort_wk, u.wk - c.cohort_wk AS week_offset,
       |         CAST(count(*) AS BIGINT) AS n_active
       |  FROM uw u JOIN cohort c USING (user_id) GROUP BY 1, 2)
       |SELECT a.cohort_wk, a.week_offset, a.n_active, s.cohort_users,
       |       ${Num.rSql("CAST(a.n_active AS DOUBLE) / s.cohort_users", 6)} AS retention
       |FROM act a JOIN sizes s USING (cohort_wk)""".stripMargin

  /** Event-type transition matrix (first-order Markov): for every
    * consecutive event pair in a user's timeline, the count and the
    * row-normalized transition probability — the path-analysis /
    * Sankey-diagram artifact next to the funnel. Consecutive pairs are
    * extracted with the SlidingAgg two-level pane decomposition
    * (CLAUDE.md per-key sequential rule: pane-local lags + boundary
    * pairs over the tiny per-(key, pane) relation — no task sorts a
    * user's full history), ordered by (ts, event_id) so the chain is
    * identical to the naive per-user lag the oracle runs. The
    * normalizer join touches one row per distinct event type.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.scale.SlidingAgg.transitionCounts(
      Tables.events(spark, dir).select("user_id", "ts", "event_id", "event_type"),
      Seq("user_id"), col("ts"), col("event_type"), col("event_id"),
      7L * 86400 * 1000000)
    val totals = pairs.groupBy(col("prev")).agg(sum(col("n")).as("tn"))
    pairs.join(totals, "prev")
      .select(col("prev"), col("next"), col("n"),
        Num.r(col("n").cast("double") / col("tn"), 6).as("p"))
  }

  /** Markov-2 journey paths: consecutive event-type TRIPLES per user with
    * the next-step distribution given the two-event prefix — one order up
    * from [[eventTransitions]], extracted with the same pane
    * decomposition ([[graft.scale.SlidingAgg.trigramCounts]]: pane-local
    * double lags + a ≤4-rows-per-pane edge stream for boundary triples,
    * so no task ever sorts a user's full history). The conditional
    * normalizer join touches one row per distinct (e1, e2) prefix.
    */
  def journeyTrigrams(spark: SparkSession, dir: String): DataFrame = {
    val tri = graft.scale.SlidingAgg.trigramCounts(
      Tables.events(spark, dir).select("user_id", "ts", "event_id", "event_type"),
      Seq("user_id"), col("ts"), col("event_type"), col("event_id"),
      7L * 86400 * 1000000)
    val totals = tri.groupBy(col("e1"), col("e2")).agg(sum(col("n")).as("tn"))
    tri.join(totals, Seq("e1", "e2"))
      .select(col("e1"), col("e2"), col("e3"), col("n"),
        Num.r(col("n").cast("double") / col("tn"), 6).as("p"))
  }

  val journeyTrigramsSql: String =
    s"""WITH s AS (
       |  SELECT event_type AS e,
       |         lag(event_type, 1) OVER w AS p1,
       |         lag(event_type, 2) OVER w AS p2
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |c AS (
       |  SELECT p2 AS e1, p1 AS e2, e AS e3, CAST(count(*) AS BIGINT) AS n
       |  FROM s WHERE p2 IS NOT NULL GROUP BY 1, 2, 3),
       |t AS (SELECT e1, e2, CAST(sum(n) AS BIGINT) AS tn FROM c GROUP BY 1, 2)
       |SELECT c.e1, c.e2, c.e3, c.n,
       |       ${Num.rSql("CAST(c.n AS DOUBLE) / t.tn", 6)} AS p
       |FROM c JOIN t USING (e1, e2)""".stripMargin

  val eventTransitionsSql: String =
    s"""WITH s AS (
       |  SELECT user_id, event_type,
       |         lag(event_type) OVER (PARTITION BY user_id
       |           ORDER BY ts, event_id) AS prev
       |  FROM events),
       |c AS (
       |  SELECT prev, event_type AS next, CAST(count(*) AS BIGINT) AS n
       |  FROM s WHERE prev IS NOT NULL GROUP BY 1, 2),
       |t AS (SELECT prev, CAST(sum(n) AS BIGINT) AS tn FROM c GROUP BY 1)
       |SELECT c.prev, c.next, c.n,
       |       ${Num.rSql("CAST(c.n AS DOUBLE) / t.tn", 6)} AS p
       |FROM c JOIN t USING (prev)""".stripMargin

  /** |z| threshold above which a day's volume counts as anomalous
    * (identical literal in both engines).
    */
  val AnomalyZ = 2.0

  /** Daily event-volume anomaly detection — the ingestion monitor that
    * pages when a day's volume departs from the corpus' own
    * distribution (a feed gap or a duplicate-replay spike, the two
    * failure modes §2.10's alerting rules watch for). Day ids are
    * integer µs-epoch division; counts are exact integers, so the only
    * doubles are the derived moments, re-snapped at every stage
    * (q_score_znorm discipline) so both engines walk the same
    * staircase. Shape: one count aggregate over the scan, moments over
    * the bounded per-day relation, broadcast back — the per-day z is
    * map-side.
    */
  def dailyAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_events"))
    val stats = broadcast(daily.agg(
      count(lit(1)).as("nd"),
      Num.r(sum(col("n_events").cast("double")), 6).as("s"),
      Num.r(sum(col("n_events").cast("double") * col("n_events")), 6).as("s2")))
    daily.crossJoin(stats)
      .withColumn("mu", Num.r(col("s") / col("nd"), 9))
      .withColumn("sigma",
        Num.r(sqrt(greatest(
          Num.r(col("s2") / col("nd") - col("mu") * col("mu"), 9), lit(0.0))), 9))
      .select(col("day"), col("n_events"),
        when(col("sigma") > 0.0,
          Num.r((col("n_events") - col("mu")) / col("sigma"), 6))
          .otherwise(0.0).as("z"))
      .withColumn("is_anomaly", abs(col("z")) >= AnomalyZ)
  }

  val dailyAnomalySql: String =
    s"""WITH daily AS (
       |  SELECT epoch_us(ts) // 86400000000 AS day,
       |         CAST(count(*) AS BIGINT) AS n_events
       |  FROM events GROUP BY 1),
       |st AS (
       |  SELECT count(*) AS nd,
       |         ${Num.rSql("sum(CAST(n_events AS DOUBLE))", 6)} AS s,
       |         ${Num.rSql("sum(CAST(n_events AS DOUBLE) * n_events)", 6)} AS s2
       |  FROM daily),
       |m AS (
       |  SELECT day, n_events,
       |         ${Num.rSql("s / nd", 9)} AS mu,
       |         ${Num.rSql(s"sqrt(greatest(${Num.rSql("s2 / nd - (" + Num.rSql("s / nd", 9) + ") * (" + Num.rSql("s / nd", 9) + ")", 9)}, 0.0))", 9)} AS sigma
       |  FROM daily CROSS JOIN st)
       |SELECT day, n_events,
       |       CASE WHEN sigma > 0.0
       |            THEN ${Num.rSql("(n_events - mu) / sigma", 6)}
       |            ELSE 0.0 END AS z,
       |       abs(CASE WHEN sigma > 0.0
       |            THEN ${Num.rSql("(n_events - mu) / sigma", 6)}
       |            ELSE 0.0 END) >= $AnomalyZ AS is_anomaly
       |FROM m""".stripMargin

  /** Entry-type conversion: sessions (30-minute gap) grouped by their
    * FIRST event's type, with the share that contains a purchase — the
    * landing-page-effectiveness table, requiring real session IDs rather
    * than session counts. IDs come from [[graft.scale.SlidingAgg.sessionIds]]
    * (pane-decomposed prev-time + exact 0/1 prefix sums — no per-user
    * full-history task); the per-session entry event is a min-struct
    * argmin ((user_id, ts) unique ⇒ tie-free in both engines).
    */
  def sessionEntryConversion(spark: SparkSession, dir: String): DataFrame = {
    val sess = graft.scale.SlidingAgg.sessionIds(
      Tables.events(spark, dir).select("user_id", "ts", "event_id", "event_type"),
      Seq("user_id"), col("ts"), col("event_id"),
      gapMicros = 1800L * 1000000L, paneMicros = 86400L * 1000000L)
    val perSession = sess.groupBy(col("user_id"), col("session_id"))
      .agg(
        min(struct(col("ts"), col("event_id"), col("event_type")))
          .getField("event_type").as("entry_type"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("converted"),
        count(lit(1)).as("n_events"))
    perSession.groupBy(col("entry_type"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("converted")).as("n_converted"),
        Num.r(sum(col("n_events")).cast("double") / count(lit(1)), 4).as("avg_events"),
        Num.r(sum(col("converted")).cast("double") / count(lit(1)), 6).as("conversion_rate"))
  }

  val sessionEntryConversionSql: String =
    s"""WITH p AS (
       |  SELECT user_id, ts, event_id, event_type,
       |         CASE WHEN lag(ts) OVER w IS NULL
       |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > ${1800L * 1000000L}
       |              THEN 1 ELSE 0 END AS brk
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |s AS (
       |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM p),
       |ps AS (
       |  SELECT user_id, sid,
       |         arg_min(event_type, ts) AS entry_type,
       |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted,
       |         count(*) AS n
       |  FROM s GROUP BY 1, 2)
       |SELECT entry_type, CAST(count(*) AS BIGINT) AS n_sessions,
       |       CAST(sum(converted) AS BIGINT) AS n_converted,
       |       ${Num.rSql("CAST(sum(n) AS DOUBLE) / count(*)", 4)} AS avg_events,
       |       ${Num.rSql("CAST(sum(converted) AS DOUBLE) / count(*)", 6)} AS conversion_rate
       |FROM ps GROUP BY 1""".stripMargin

  /** Markov absorption: probability of reaching a purchase within 1–3
    * steps from each event type, with purchase absorbing — the
    * how-close-is-this-state-to-converting score the transition matrix
    * (q_event_transitions) exists to answer. Each step is one join of
    * the BOUNDED |types|² transition relation against the previous
    * reach vector plus a snapped sum — never touches the event stream
    * again. reach_{k+1}(i) = p(i→pur) + Σ_{j≠pur} p(i→j)·reach_k(j);
    * products/sums re-snap at 1e-9 each step so both engines iterate
    * identical doubles (the q_lr_train stage-snapping discipline).
    */
  def purchaseReach(spark: SparkSession, dir: String): DataFrame = {
    // The transition matrix is bounded by |event types|² but its subtree
    // scans the full event stream; r1/r2/r3 and the final 3-way join
    // reference it up to ~15× logically. localCheckpoint breaks the
    // lineage so the events scan runs once (the Attribution.scala
    // markovAttribution pattern); `direct` is ≤ |types| rows and every
    // downstream step re-derives from these two checkpointed relations.
    // EAGER: localCheckpoint runs Spark jobs at CONSTRUCTION time (the
    // Archive.compactDay contract) — building this DataFrame is not a
    // free plan constructor, and each construction pins checkpoint RDDs
    // until GC. Callers that only want the plan should not call this.
    val trans = eventTransitions(spark, dir)
      .select(col("prev"), col("next"), col("p"))
      .localCheckpoint()
    val states = trans.select(col("prev").as("state")).distinct()
    val direct = states.join(
      trans.filter(col("next") === "purchase")
        .select(col("prev").as("state"), col("p").as("d")),
      Seq("state"), "left")
      .select(col("state"), coalesce(col("d"), lit(0.0)).as("d"))
      .localCheckpoint()
    def step(reach: DataFrame): DataFrame = {
      val contrib = trans.filter(col("next") =!= "purchase")
        .join(reach.select(col("state").as("next"), col("reach")), "next")
        .groupBy(col("prev").as("state"))
        .agg(Num.r(sum(col("p") * col("reach")), 9).as("c"))
      direct.join(contrib, Seq("state"), "left")
        .select(col("state"), Num.r(col("d") + coalesce(col("c"), lit(0.0)), 9).as("reach"))
    }
    val r1 = direct.select(col("state"), col("d").as("reach"))
    val r2 = step(r1)
    val r3 = step(r2)
    r1.select(col("state"), col("reach").as("reach1"))
      .join(r2.select(col("state"), col("reach").as("reach2")), "state")
      .join(r3.select(col("state"), col("reach").as("reach3")), "state")
  }

  val purchaseReachSql: String =
    s"""WITH tr AS ($eventTransitionsSql),
       |st AS (SELECT DISTINCT prev AS state FROM tr),
       |dct AS (
       |  SELECT st.state, coalesce(t.p, 0.0) AS d
       |  FROM st LEFT JOIN (SELECT prev, p FROM tr WHERE next = 'purchase') t
       |    ON st.state = t.prev),
       |r1 AS (SELECT state, d AS reach FROM dct),
       |c2 AS (
       |  SELECT tr.prev AS state, ${Num.rSql("sum(tr.p * r1.reach)", 9)} AS c
       |  FROM tr JOIN r1 ON tr.next = r1.state WHERE tr.next <> 'purchase'
       |  GROUP BY 1),
       |r2 AS (
       |  SELECT dct.state, ${Num.rSql("dct.d + coalesce(c2.c, 0.0)", 9)} AS reach
       |  FROM dct LEFT JOIN c2 ON dct.state = c2.state),
       |c3 AS (
       |  SELECT tr.prev AS state, ${Num.rSql("sum(tr.p * r2.reach)", 9)} AS c
       |  FROM tr JOIN r2 ON tr.next = r2.state WHERE tr.next <> 'purchase'
       |  GROUP BY 1),
       |r3 AS (
       |  SELECT dct.state, ${Num.rSql("dct.d + coalesce(c3.c, 0.0)", 9)} AS reach
       |  FROM dct LEFT JOIN c3 ON dct.state = c3.state)
       |SELECT r1.state, r1.reach AS reach1, r2.reach AS reach2, r3.reach AS reach3
       |FROM r1 JOIN r2 ON r1.state = r2.state JOIN r3 ON r1.state = r3.state""".stripMargin

  /** CUSUM drift constants (identical literals both engines): K = slack
    * per step (in σ units), H = decision threshold. */
  val CusumK = 0.5
  val CusumH = 4.0

  /** CUSUM change-point monitor on daily event volume — the
    * small-persistent-shift detector the z-score monitor (q_daily_anomaly)
    * structurally cannot be: a +1σ drift never crosses a 2σ point
    * threshold but accumulates in the CUSUM within days. Consumes the
    * registered q_daily_anomaly chain verbatim (data-card discipline).
    *
    * The recurrence s⁺ = max(0, s⁺+z−K) is nonlinear — NOT a prefix sum,
    * so no window/pane decomposition exists. It is, however, a scan over
    * the BOUNDED day grid (one row per calendar day — dimension-sized at
    * any corpus scale), so it runs as an `aggregate` HOF over the
    * collected, sorted grid: the corpus is never collected, only its
    * daily margin. Both engines walk the same day order adding identical
    * snapped z's, so every partial state is IEEE-identical (DuckDB runs
    * the same scan as a recursive CTE).
    */
  def cusumVolume(spark: SparkSession, dir: String): DataFrame = {
    val z = dailyAnomaly(spark, dir).select(col("day"), col("n_events"), col("z"))
    z.agg(array_sort(collect_list(struct(col("day"), col("n_events"), col("z")))).as("a"))
      .select(explode(expr(
        s"""aggregate(a,
           |  cast(array() as array<struct<day:bigint,n_events:bigint,z:double,sp:double,sn:double>>),
           |  (acc, x) -> acc || array(named_struct(
           |    'day', x.day, 'n_events', x.n_events, 'z', x.z,
           |    'sp', greatest(0D, (CASE WHEN size(acc) = 0 THEN 0D
           |                        ELSE element_at(acc, size(acc)).sp END) + x.z - $CusumK),
           |    'sn', least(0D, (CASE WHEN size(acc) = 0 THEN 0D
           |                     ELSE element_at(acc, size(acc)).sn END) + x.z + $CusumK))),
           |  acc -> acc)""".stripMargin)).as("r"))
      .select(col("r.day").as("day"), col("r.n_events").as("n_events"), col("r.z").as("z"),
        Num.r(col("r.sp"), 6).as("cusum_pos"), Num.r(col("r.sn"), 6).as("cusum_neg"))
      .withColumn("is_shift",
        col("cusum_pos") > CusumH || col("cusum_neg") < -CusumH)
  }

  val cusumVolumeSql: String =
    s"""WITH RECURSIVE da AS ($dailyAnomalySql),
       |idx AS (
       |  SELECT day, n_events, z, row_number() OVER (ORDER BY day) AS i FROM da),
       |c AS (
       |  SELECT i, day, n_events, z,
       |         greatest(0.0, z - $CusumK) AS sp, least(0.0, z + $CusumK) AS sn
       |  FROM idx WHERE i = 1
       |  UNION ALL
       |  SELECT idx.i, idx.day, idx.n_events, idx.z,
       |         greatest(0.0, c.sp + idx.z - $CusumK),
       |         least(0.0, c.sn + idx.z + $CusumK)
       |  FROM c JOIN idx ON idx.i = c.i + 1)
       |SELECT day, n_events, z,
       |       ${Num.rSql("sp", 6)} AS cusum_pos, ${Num.rSql("sn", 6)} AS cusum_neg,
       |       (${Num.rSql("sp", 6)} > $CusumH OR ${Num.rSql("sn", 6)} < -$CusumH) AS is_shift
       |FROM c""".stripMargin

  /** The event-type domain, pinned explicitly so the pivot's column set
    * is deterministic (Spark's value-less pivot would scan-and-sort the
    * domain — an extra corpus pass AND a schema that drifts with data).
    */
  val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Per-user event-type crosstab (pivot): one row per user, one count
    * column per event type — the wide activity matrix BI layers ask of
    * an engine. With explicit pivot values this
    * is ONE hash aggregate whose map-side combine carries a fixed
    * 5-slot buffer per user; no domain-discovery scan, no extra
    * shuffle. The oracle uses portable CASE sums (identical semantics
    * to PIVOT, no dialect dependence).
    */
  def eventPivot(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
    EventTypes.foldLeft(p)((df, t) => df.withColumnRenamed(t, s"n_$t"))
      .na.fill(0L, EventTypes.map("n_" + _))
  }

  val eventPivotSql: String = {
    val cols = EventTypes.map(t =>
      s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS n_$t")
    s"""SELECT user_id, ${cols.mkString(", ")}
       |FROM events GROUP BY 1""".stripMargin
  }

  /** Daily OHLC (open/high/low/close) bars of purchase value — the
    * time-bucketed financial aggregate. Open/close are min/max-struct
    * argmins over (ts, event_id) — one hash aggregate, no window, no
    * per-day sort; ties cannot exist ((user-independent) (ts, event_id)
    * is unique) and the struct comparison is lexicographic in both
    * engines' formulations.
    */
  def valueOhlc(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        min(struct(col("ts"), col("event_id"), col("value"))).getField("value").as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(struct(col("ts"), col("event_id"), col("value"))).getField("value").as("close"),
        count(lit(1)).as("n_trades"),
        Num.ssum(sum(col("value")), 2, 2).as("volume"))

  val valueOhlcSql: String =
    s"""WITH p AS (
       |  SELECT CAST(ts AS DATE) AS day, ts, event_id, value FROM events
       |  WHERE event_type = 'purchase'),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY day ORDER BY ts, event_id) AS rn,
       |         row_number() OVER (PARTITION BY day ORDER BY ts DESC, event_id DESC) AS rrn
       |  FROM p)
       |SELECT day, max(CASE WHEN rn = 1 THEN value END) AS open,
       |       max(value) AS high, min(value) AS low,
       |       max(CASE WHEN rrn = 1 THEN value END) AS close,
       |       CAST(count(*) AS BIGINT) AS n_trades,
       |       ${Num.ssumSql("sum(value)", 2, 2)} AS volume
       |FROM r GROUP BY 1""".stripMargin

  /** Two-proportion z-test of purchase conversion between the user-id
    * parity arms — the experiment-evaluation operator (the deterministic
    * split stands in for an assignment column). Per-user conversion is a
    * distinct-collapse aggregate, the z statistic is closed-form
    * arithmetic on four integers; sqrt is IEEE-correctly-rounded in both
    * engines (unlike ln/exp), so only the final z needs a snap.
    */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      .withColumn("arm", col("user_id") % 2)
    val arms = perUser.agg(
      count(when(col("arm") === 0, 1)).as("n_a"),
      sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("conv_a"),
      count(when(col("arm") === 1, 1)).as("n_b"),
      sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("conv_b"))
    // Arm-count guards: an empty parity arm (possible on a filtered or
    // tiny input) would make rate/z divide by zero, which Spark 4 ANSI
    // throws on even for DOUBLE division.
    arms
      .withColumn("rate_a",
        when(col("n_a") > 0, Num.r(col("conv_a").cast("double") / col("n_a"), 6)))
      .withColumn("rate_b",
        when(col("n_b") > 0, Num.r(col("conv_b").cast("double") / col("n_b"), 6)))
      .withColumn("z", when(
        col("n_a") > 0 && col("n_b") > 0 &&
          col("conv_a") + col("conv_b") > 0 &&
          col("conv_a") + col("conv_b") < col("n_a") + col("n_b"),
        Num.r(
          (col("conv_a").cast("double") / col("n_a") - col("conv_b").cast("double") / col("n_b")) /
            sqrt((col("conv_a") + col("conv_b")).cast("double") / (col("n_a") + col("n_b")) *
              (lit(1.0) - (col("conv_a") + col("conv_b")).cast("double") / (col("n_a") + col("n_b"))) *
              (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 4)))
  }

  val abTestSql: String =
    s"""WITH u AS (
       |  SELECT user_id, user_id % 2 AS arm,
       |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
       |  FROM events GROUP BY 1, 2),
       |a AS (
       |  SELECT CAST(count(CASE WHEN arm = 0 THEN 1 END) AS BIGINT) AS n_a,
       |         CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
       |         CAST(count(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS n_b,
       |         CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
       |  FROM u)
       |SELECT n_a, conv_a, n_b, conv_b,
       |       CASE WHEN n_a > 0 THEN ${Num.rSql("CAST(conv_a AS DOUBLE) / n_a", 6)} END AS rate_a,
       |       CASE WHEN n_b > 0 THEN ${Num.rSql("CAST(conv_b AS DOUBLE) / n_b", 6)} END AS rate_b,
       |       CASE WHEN n_a > 0 AND n_b > 0 AND conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b THEN
       |       ${Num.rSql(
        "(CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b) / " +
          "sqrt(CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) * " +
          "(1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) * " +
          "(1.0 / n_a + 1.0 / n_b))", 4)} END AS z
       |FROM a""".stripMargin

  /** Per-state dwell-time accounting: for every event type, how long
    * users SIT in that state before their next event — total dwell,
    * mean dwell, and each state's share of all engaged time. The
    * time-in-state report behind funnel latency and abandonment
    * analyses; a state whose mean dwell balloons between releases is a
    * UX regression the count-based dials miss. A user's LAST event
    * opens no interval (no next event bounds it) and is excluded, same
    * as the oracle's lead().
    *
    * Scale shape: dwell = next-event time − event time via the
    * pane-decomposed [[graft.scale.SlidingAgg.nextTime]] (no per-user
    * history sort), one hash aggregate to the |event types|-bounded
    * relation, and the share margin as a window over that bounded
    * relation only. Durations are exact integer µs until the two
    * snapped display divisions.
    */
  def stateDwell(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val withNext = graft.scale.SlidingAgg.nextTime(
      ev, Seq("user_id"), col("ts"), col("event_id"),
      7L * 86400 * 1000000, "nt")
    val agg = withNext.filter(col("nt").isNotNull)
      .select(col("event_type"),
        (col("nt") - unix_micros(col("ts"))).as("dw"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dw")).as("total_dwell_us"))
    val wAll = Window.partitionBy(lit(0))
    agg.withColumn("tot", sum(col("total_dwell_us")).over(wAll))
      .select(col("event_type"), col("n_intervals"), col("total_dwell_us"),
        Num.r(col("total_dwell_us").cast("double") / col("n_intervals"), 2)
          .as("avg_dwell_us"),
        when(col("tot") > 0,
          Num.r(col("total_dwell_us").cast("double") / col("tot"), 6))
          .as("dwell_share"))
  }

  val stateDwellSql: String =
    s"""WITH s AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS us,
       |         lead(epoch_us(ts)) OVER (PARTITION BY user_id
       |           ORDER BY ts, event_id) AS nt
       |  FROM events),
       |d AS (SELECT event_type, nt - us AS dw FROM s WHERE nt IS NOT NULL),
       |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_intervals,
       |             CAST(sum(dw) AS BIGINT) AS total_dwell_us
       |      FROM d GROUP BY 1),
       |t AS (SELECT CAST(sum(total_dwell_us) AS BIGINT) AS tot FROM a)
       |SELECT event_type, n_intervals, total_dwell_us,
       |       ${Num.rSql("CAST(total_dwell_us AS DOUBLE) / n_intervals", 2)} AS avg_dwell_us,
       |       CASE WHEN tot > 0
       |            THEN ${Num.rSql("CAST(total_dwell_us AS DOUBLE) / tot", 6)}
       |       END AS dwell_share
       |FROM a CROSS JOIN t""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("q_state_dwell", stateDwell, stateDwellSql),
    Op("q_value_ohlc", valueOhlc, valueOhlcSql),
    Op("q_ab_test", abTest, abTestSql),
    Op("q_daily_anomaly", dailyAnomaly, dailyAnomalySql),
    Op("q_cusum_volume", cusumVolume, cusumVolumeSql),
    Op("q_session_entry", sessionEntryConversion, sessionEntryConversionSql),
    Op("q_purchase_reach", purchaseReach, purchaseReachSql),
    Op("q_event_pivot", eventPivot, eventPivotSql),
    Op("q_event_transitions", eventTransitions, eventTransitionsSql),
    Op("q_journey_trigrams", journeyTrigrams, journeyTrigramsSql),
    Op("q_cohort_retention", cohortRetention, cohortRetentionSql),
    Op("q_session_summary", sessionSummary, sessionSummarySql),
    Op("q_journey", journey, journeySql),
    Op("q_funnel", funnel, funnelSql),
    Op("q_funnel_ref", funnelRef, funnelRefSql),
    Op("q_dashboard", dashboard, dashboardSql),
    Op("q_last_event_per_user", lastEventPerUser, lastEventPerUserSql),
    Op("q_billing_usage", billingUsage, billingUsageSql),
    Op("q_sessionize", sessionize, sessionizeSql),
    Op("q_running_total", runningTotal, runningTotalSql),
    Op("q_json_props", jsonProps, jsonPropsSql),
    Op("q_union_topics", unionTopics, unionTopicsSql))
}
