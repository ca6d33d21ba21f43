package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Num, Op, Tables}

/** Marketing-attribution tier over the event stream: which touchpoints
  * get credit for a purchase, and how engaged a user is right now.
  *
  * The event table carries no URL/campaign payload, so the "channel" is
  * the touch's event type (click / view / signup) — the operator shapes
  * (as-of last-touch, windowed linear multi-touch, decayed recency
  * score, grouped OLS trend) are what matter; swapping the channel
  * column for a UTM tag changes nothing structural.
  *
  * Scale stances:
  *   - last-touch rides [[graft.scale.AsofJoin.asofBucketed]] — no task
  *     ever sorts one user's full history;
  *   - linear multi-touch rides [[graft.scale.RangeJoin.rangeJoin]] — a
  *     2× bounded left fan-out equi-join, never a nested loop, and the
  *     per-purchase credit split windows a ≤3-row group (one row per
  *     touch type), never raw pairs;
  *   - the recency score is a plain one-shuffle aggregate because
  *     harmonic decay against a FIXED as-of instant is order-free — no
  *     sequential scan per user exists in the first place;
  *   - the per-nation trend is two aggregates (day grid, then moment
  *     sums); the OLS solve is closed-form arithmetic on five moments.
  *
  * Cross-engine determinism: every fp score is grid-snapped (Num) before
  * compare/rank; OLS moment sums are snapped to the price grid before
  * the closed-form solve so both engines divide identical doubles.
  */
object Attribution {

  private val TouchTypes = Seq("click", "view", "signup")

  private def purchases(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))

  private def touches(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).filter(col("event_type").isin(TouchTypes: _*))
      .select(col("user_id"), col("ts").as("touch_ts"), col("event_type").as("touch_type"))

  /** Last-touch attribution: each purchase credits its full value to the
    * user's most recent touch at-or-before the purchase (`direct` when
    * the user has no prior touch), aggregated per channel. (user_id, ts)
    * is unique in events, satisfying the as-of right-side contract. */
  def lastTouch(spark: SparkSession, dir: String): DataFrame =
    graft.scale.AsofJoin.asofBucketed(
      purchases(spark, dir), touches(spark, dir), Seq("user_id"),
      col("ts"), col("touch_ts"), t => date_trunc("week", t))
      .groupBy(coalesce(col("touch_type"), lit("direct")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        Num.ssum(sum(col("value")), 2, 2).as("attributed_revenue"))

  val lastTouchSql: String =
    s"""SELECT coalesce(t.event_type, 'direct') AS channel,
       |       CAST(count(*) AS BIGINT) AS n_purchases,
       |       ${Num.ssumSql("sum(p.value)", 2, 2)} AS attributed_revenue
       |FROM (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
       |ASOF LEFT JOIN (SELECT user_id, ts, event_type FROM events
       |                WHERE event_type IN ('click', 'view', 'signup')) t
       |  ON p.user_id = t.user_id AND p.ts >= t.ts
       |GROUP BY 1""".stripMargin

  /** Linear multi-touch attribution window. */
  val AttribWindowDays = 7L

  /** Linear multi-touch attribution: each purchase splits its value
    * equally across the user's touches in the trailing 7-day window
    * `[ts-7d, ts)`; purchases with no windowed touch credit `direct` in
    * full. Per-row credits are snapped to a 1e-6 grid before the channel
    * sum so both engines accumulate identical doubles. */
  def linearTouch(spark: SparkSession, dir: String): DataFrame = {
    val p = purchases(spark, dir)
    val pairs = graft.scale.RangeJoin.rangeJoin(
      p, touches(spark, dir), Seq("user_id"),
      col("ts"), col("touch_ts"), AttribWindowDays * 24L * 3600L * 1000000L)
    // one row per (purchase, touch type): the credit-split window below
    // partitions a <=3-row group, never the raw pair set. Checkpointed:
    // it is ≤3 narrow rows per purchase and feeds BOTH the credit split
    // and the direct-credit anti-join — without the barrier the anti-join
    // re-ran the whole range join (a second purchases + touches pass
    // over the event stream). EAGER at construction.
    val perType = pairs.groupBy(col("event_id"), col("value"), col("touch_type"))
      .agg(count(lit(1)).as("n_t"))
      .localCheckpoint()
    val withTot = perType.withColumn("n_tot",
      sum(col("n_t")).over(Window.partitionBy(col("event_id"))))
    val credited = withTot.select(
      col("touch_type").as("channel"), col("event_id"),
      Num.r((col("value") * col("n_t")) / col("n_tot"), 6).as("credit"))
    val direct = p.join(perType.select("event_id").distinct(), Seq("event_id"), "left_anti")
      .select(lit("direct").as("channel"), col("event_id"), col("value").as("credit"))
    credited.unionByName(direct)
      .groupBy(col("channel"))
      .agg(countDistinct(col("event_id")).as("n_purchases"),
        Num.ssum(sum(col("credit")), 6, 2).as("credited_revenue"))
  }

  val linearTouchSql: String =
    s"""WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
       |t AS (SELECT user_id, ts AS touch_ts, event_type AS touch_type FROM events
       |      WHERE event_type IN ('click', 'view', 'signup')),
       |pair AS (SELECT p.event_id, p.value, t.touch_type
       |         FROM p JOIN t ON p.user_id = t.user_id
       |          AND t.touch_ts >= p.ts - INTERVAL $AttribWindowDays DAYS AND t.touch_ts < p.ts),
       |pt AS (SELECT event_id, value, touch_type, CAST(count(*) AS BIGINT) AS n_t
       |       FROM pair GROUP BY 1, 2, 3),
       |wt AS (SELECT *, CAST(sum(n_t) OVER (PARTITION BY event_id) AS BIGINT) AS n_tot FROM pt),
       |cr AS (SELECT touch_type AS channel, event_id,
       |              ${Num.rSql("(value * n_t) / n_tot", 6)} AS credit FROM wt
       |       UNION ALL
       |       SELECT 'direct', event_id, value FROM p
       |       WHERE NOT EXISTS (SELECT 1 FROM pair WHERE pair.event_id = p.event_id))
       |SELECT channel, CAST(count(DISTINCT event_id) AS BIGINT) AS n_purchases,
       |       ${Num.ssumSql("sum(credit)", 6, 2)} AS credited_revenue
       |FROM cr GROUP BY 1""".stripMargin

  /** Recency-weighted engagement: per user, the harmonic-decay score
    * sum(value / (1 + days_before_asof)) over all events, with last-seen
    * recency — the "hot users right now" board. Harmonic decay (not
    * exp/pow) keeps every per-row weight an IEEE division both engines
    * compute bit-identically; the per-user sum snaps to 1e-4 before the
    * rank so top-20 order cannot flip on an accumulation ulp. */
  def recencyEngagement(spark: SparkSession, dir: String): DataFrame = {
    val asofDay = to_date(lit(Tables.AsOf))
    Tables.events(spark, dir)
      .select(col("user_id"), col("value"),
        datediff(asofDay, to_date(col("ts"))).cast("long").as("days_ago"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("days_ago")).as("last_seen_days"),
        Num.r(sum(col("value") / (lit(1L) + col("days_ago"))), 4).as("recency_score"))
      .orderBy(col("recency_score").desc, col("user_id"))
      .limit(20)
  }

  private val AsOfDay = Tables.AsOf.take(10)

  val recencyEngagementSql: String =
    s"""SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       |       CAST(min(datediff('day', CAST(ts AS DATE), DATE '$AsOfDay')) AS BIGINT) AS last_seen_days,
       |       ${Num.rSql(s"sum(value / (1 + datediff('day', CAST(ts AS DATE), DATE '$AsOfDay')))", 4)} AS recency_score
       |FROM events GROUP BY 1
       |ORDER BY recency_score DESC, user_id LIMIT 20""".stripMargin

  /** Per-nation revenue trend: closed-form OLS of daily order revenue
    * against the epoch-day index. The day grid is one aggregate (revenue
    * snapped to the price grid), the five OLS moments are a second; the
    * solve is arithmetic on the moment row. Moment sums are snapped
    * (Σy, Σxy to the 2-decimal grid; Σx, Σx² exact integers) so the
    * slope/intercept divisions see identical doubles in both engines,
    * and the solve is written textually parallel in Scala and SQL. */
  def revenueTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
          .cast("long").as("x"))
      .agg(Num.ssum(sum(col("o_totalprice")), 2, 2).as("y"))
    val m = daily.groupBy(col("n_name")).agg(
      count(lit(1)).as("n_days"),
      sum(col("x")).as("sx"),
      sum(col("x") * col("x")).as("sxx"),
      Num.r(sum(col("y")), 2).as("sy"),
      Num.r(sum(col("x") * col("y")), 2).as("sxy"))
    // Guard the OLS denominator: a nation with a single active day makes
    // n·Σx² − (Σx)² zero and Spark 4 ANSI throws DIVIDE_BY_ZERO at
    // runtime (double division included). Slope is undefined there →
    // NULL, and the intercept NULL-propagates identically in both
    // engines.
    m.withColumn("den",
        col("n_days") * col("sxx") - col("sx") * col("sx"))
      .withColumn("slope",
        when(col("den") =!= 0,
          Num.r((col("n_days") * col("sxy") - col("sx") * col("sy")) /
            col("den"), 6)))
      .withColumn("intercept",
        when(col("slope").isNotNull,
          Num.r((col("sy") - col("slope") * col("sx")) / col("n_days"), 2)))
      .select("n_name", "n_days", "slope", "intercept")
  }

  val revenueTrendSql: String =
    s"""WITH daily AS (
       |  SELECT n_name,
       |         CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
       |         ${Num.ssumSql("sum(o_totalprice)", 2, 2)} AS y
       |  FROM orders
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY 1, 2),
       |m AS (
       |  SELECT n_name, CAST(count(*) AS BIGINT) AS n_days,
       |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx,
       |         ${Num.rSql("sum(y)", 2)} AS sy, ${Num.rSql("sum(x * y)", 2)} AS sxy
       |  FROM daily GROUP BY 1),
       |sl AS (
       |  SELECT *, CASE WHEN n_days * sxx - sx * sx <> 0
       |              THEN ${Num.rSql("(n_days * sxy - sx * sy) / (n_days * sxx - sx * sx)", 6)}
       |            END AS slope
       |  FROM m)
       |SELECT n_name, n_days, slope,
       |       CASE WHEN slope IS NOT NULL
       |         THEN ${Num.rSql("(sy - slope * sx) / n_days", 2)}
       |       END AS intercept
       |FROM sl""".stripMargin

  // ---------------------------------------------------------------------
  // Markov removal-effect (data-driven) attribution.
  // ---------------------------------------------------------------------

  /** Absorption horizon: reach-within-8-steps, the documented truncation
    * (the chain's spectral gap makes longer horizons move the shares
    * below the 1e-6 display grid on this data).
    */
  val MarkovSteps = 8

  /** Markov removal-effect attribution — the data-driven model that
    * replaces positional heuristics (last/linear touch): build the
    * first-order journey chain with a synthetic `(start)` state and
    * `purchase` absorbing, compute the start→purchase absorption
    * probability, then re-compute it with each channel's state REMOVED;
    * a channel's credit is its removal effect 1 − reach₋c/reach,
    * normalized over channels (negative effects clamp to zero, the
    * standard convention).
    *
    * Scale shape: the event stream is touched exactly twice — the
    * pane-decomposed transition counts ([[graft.scale.SlidingAgg]], no
    * per-user history sort) and a grouped-argmax first-touch aggregate —
    * and everything after runs on the |types+1|²-bounded transition
    * matrix, localCheckpointed once and reused by every removal arm (the
    * branch-reuse rule). All K+1 arms advance TOGETHER as one (rc, state)
    * relation per step — K+1 chains cost the same three bounded shuffles
    * per step as one. Products/sums re-snap at 1e-9 every step
    * (q_purchase_reach discipline) so both engines iterate identical
    * doubles; the share normalizer snaps before the final division.
    */
  def markovAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val pairs = graft.scale.SlidingAgg.transitionCounts(
      ev, Seq("user_id"), col("ts"), col("event_type"), col("event_id"),
      7L * 86400 * 1000000)
    val firsts = ev.groupBy(col("user_id"))
      .agg(min(struct(col("ts"), col("event_id"), col("event_type"))).as("f"))
      .groupBy(col("f.event_type").as("next")).agg(count(lit(1)).as("n"))
      .select(lit("(start)").as("prev"), col("next"), col("n"))
    val counts = pairs.select(col("prev"), col("next"), col("n"))
      .unionByName(firsts)
    val totals = counts.groupBy(col("prev")).agg(sum(col("n")).as("tn"))
    val trans = counts.join(totals, "prev")
      .select(col("prev"), col("next"),
        Num.r(col("n").cast("double") / col("tn"), 9).as("p"))
      .localCheckpoint()
    val channels = trans.select(col("prev").as("rc")).distinct()
      .filter(col("rc") =!= "(start)" && col("rc") =!= "purchase")
      .unionByName(spark.range(1).select(lit("(none)").as("rc")))
    // trx and direct are LOOP-INVARIANT and |channels|·|trans|-bounded;
    // without a checkpoint each of the MarkovSteps−1 rounds re-embeds
    // (and re-executes) the channels-distinct + crossJoin subtree — the
    // unchecked plan was 5k lines / 340 Exchanges / 94 nested-loop joins
    // at sf0.1 and execution re-ran the bounded aggregates ~7× (the
    // branch-reuse rule, CLAUDE.md). Two eager checkpoints of tiny
    // relations collapse every round to two equi-joins + one aggregate.
    // (The r8 lesson in SKILL.md — per-step checkpoints of REACH were
    // slower — still holds: reach stays un-checkpointed, its lineage is
    // a chain, not a blowup.)
    val trx = channels.crossJoin(trans)
      .filter(col("prev") =!= col("rc") && col("next") =!= col("rc"))
      .localCheckpoint()
    val direct = channels
      .crossJoin(trans.select(col("prev").as("state")).distinct())
      .filter(col("state") =!= col("rc"))
      .join(trx.filter(col("next") === "purchase")
        .select(col("rc"), col("prev").as("state"), col("p").as("d0")),
        Seq("rc", "state"), "left")
      .select(col("rc"), col("state"), coalesce(col("d0"), lit(0.0)).as("d"))
      .localCheckpoint()
    var reach = direct.select(col("rc"), col("state"), col("d").as("reach"))
    for (_ <- 2 to MarkovSteps) {
      val contrib = trx.filter(col("next") =!= "purchase")
        .join(reach.select(col("rc"), col("state").as("next"), col("reach")),
          Seq("rc", "next"))
        .groupBy(col("rc"), col("prev").as("state"))
        .agg(Num.r(sum(col("p") * col("reach")), 9).as("c"))
      reach = direct.join(contrib, Seq("rc", "state"), "left")
        .select(col("rc"), col("state"),
          Num.r(col("d") + coalesce(col("c"), lit(0.0)), 9).as("reach"))
    }
    val startReach = reach.filter(col("state") === "(start)")
      .select(col("rc"), col("reach"))
    val base = broadcast(startReach.filter(col("rc") === "(none)")
      .select(col("reach").as("base")))
    val eff = startReach.filter(col("rc") =!= "(none)")
      .crossJoin(base)
      .select(col("rc").as("channel"), col("reach").as("reach_removed"),
        col("base").as("reach_full"),
        when(col("base") > 0,
          Num.r(lit(1.0) - col("reach") / col("base"), 6)).as("removal_effect"))
    val clamped = when(col("removal_effect") > 0, col("removal_effect"))
      .otherwise(0.0)
    val wAll = Window.partitionBy(lit(0))
    eff.withColumn("tot", Num.r(sum(clamped).over(wAll), 9))
      .select(col("channel"), col("reach_removed"), col("reach_full"),
        col("removal_effect"),
        when(col("tot") > 0, Num.r(clamped / col("tot"), 6))
          .as("attribution_share"))
  }

  val markovAttributionSql: String = {
    val steps = (2 to MarkovSteps).map { k =>
      s"""c$k AS (
         |  SELECT trx.rc, trx.prev AS state, ${Num.rSql("sum(trx.p * r" + (k - 1) + ".reach)", 9)} AS c
         |  FROM trx JOIN r${k - 1} ON trx.rc = r${k - 1}.rc AND trx.next = r${k - 1}.state
         |  WHERE trx.next <> 'purchase' GROUP BY 1, 2),
         |r$k AS (
         |  SELECT dct.rc, dct.state, ${Num.rSql(s"dct.d + coalesce(c$k.c, 0.0)", 9)} AS reach
         |  FROM dct LEFT JOIN c$k ON dct.rc = c$k.rc AND dct.state = c$k.state)""".stripMargin
    }.mkString(",\n")
    val clampedSql = "CASE WHEN removal_effect > 0 THEN removal_effect ELSE 0.0 END"
    s"""WITH s AS (
       |  SELECT user_id, event_type,
       |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
       |  FROM events),
       |c0 AS (SELECT prev, event_type AS next, CAST(count(*) AS BIGINT) AS n
       |       FROM s WHERE prev IS NOT NULL GROUP BY 1, 2),
       |fst AS (SELECT '(start)' AS prev, event_type AS next, CAST(count(*) AS BIGINT) AS n
       |        FROM (SELECT event_type, row_number() OVER (PARTITION BY user_id
       |                ORDER BY ts, event_id) AS rn FROM events)
       |        WHERE rn = 1 GROUP BY 1, 2),
       |cnt AS (SELECT * FROM c0 UNION ALL SELECT * FROM fst),
       |tt AS (SELECT prev, CAST(sum(n) AS BIGINT) AS tn FROM cnt GROUP BY 1),
       |tr AS MATERIALIZED (SELECT cnt.prev, cnt.next,
       |              ${Num.rSql("CAST(cnt.n AS DOUBLE) / tt.tn", 9)} AS p
       |       FROM cnt JOIN tt USING (prev)),
       |ch AS (SELECT DISTINCT prev AS rc FROM tr
       |       WHERE prev NOT IN ('(start)', 'purchase')
       |       UNION ALL SELECT '(none)'),
       |trx AS MATERIALIZED (SELECT ch.rc, tr.prev, tr.next, tr.p FROM ch CROSS JOIN tr
       |        WHERE tr.prev <> ch.rc AND tr.next <> ch.rc),
       |sts AS MATERIALIZED (SELECT ch.rc, p.prev AS state
       |        FROM ch CROSS JOIN (SELECT DISTINCT prev FROM tr) p
       |        WHERE p.prev <> ch.rc),
       |dct AS MATERIALIZED (SELECT sts.rc, sts.state, coalesce(t.p, 0.0) AS d
       |        FROM sts LEFT JOIN
       |          (SELECT rc, prev, p FROM trx WHERE next = 'purchase') t
       |          ON sts.rc = t.rc AND sts.state = t.prev),
       |r1 AS (SELECT rc, state, d AS reach FROM dct),
       |$steps,
       |sr AS (SELECT rc, reach FROM r$MarkovSteps WHERE state = '(start)'),
       |base AS (SELECT reach AS base FROM sr WHERE rc = '(none)'),
       |eff AS (SELECT rc AS channel, sr.reach AS reach_removed,
       |               base.base AS reach_full,
       |               CASE WHEN base.base > 0
       |                    THEN ${Num.rSql("1.0 - sr.reach / base.base", 6)}
       |               END AS removal_effect
       |        FROM sr CROSS JOIN base WHERE rc <> '(none)'),
       |tot AS (SELECT ${Num.rSql(s"sum($clampedSql)", 9)} AS tot FROM eff)
       |SELECT channel, reach_removed, reach_full, removal_effect,
       |       CASE WHEN tot > 0
       |            THEN ${Num.rSql(s"($clampedSql) / tot", 6)}
       |       END AS attribution_share
       |FROM eff CROSS JOIN tot""".stripMargin
  }

  val ops: Seq[Op] = Seq(
    Op("q_attribution_last", lastTouch, lastTouchSql),
    Op("q_attribution_linear", linearTouch, linearTouchSql),
    Op("q_attribution_markov", markovAttribution, markovAttributionSql),
    Op("q_recency_engagement", recencyEngagement, recencyEngagementSql),
    Op("q_revenue_trend", revenueTrend, revenueTrendSql))
}
