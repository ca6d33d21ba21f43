package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Num, Op, Tables}

/** User-lifecycle analytics over the event stream: active-user curves,
  * adoption, and signup→purchase conversion latency.
  *
  * The recurring scale problem in this tier is SLIDING DISTINCT counts
  * (WAU: distinct users in a trailing 7-day window, per day). Distinct
  * counts don't sum across days, so the per-day distincts can't be
  * combined into a window; and windowing raw events per user re-sorts
  * full histories. The decomposition here: collapse to distinct
  * (user, day) FIRST (one shuffle, the only corpus-sized one), then fan
  * each pair out to the ≤7 report days it covers (bounded 7× explode of
  * the *collapsed* relation), and count per report day — every stage is
  * a plain hash aggregate, no per-user sequencing anywhere.
  */
object Lifecycle {

  /** Trailing window width (days) for the weekly-active count. */
  val WauDays = 7

  private def userDays(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()

  /** Daily + trailing-7-day active users per calendar day with activity.
    * DAU is the (user, day) relation counted per day; WAU fans each
    * (user, day) out to the 7 report days whose trailing window contains
    * it, de-dups (a user active twice in one window must count once) and
    * counts. Report days are restricted to days that actually exist in
    * the data (broadcast of the tiny day grid). */
  def rollingActive(spark: SparkSession, dir: String): DataFrame = {
    val ud = userDays(spark, dir)
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), WauDays - 1))).as("day"))
      .distinct()
      .join(broadcast(dau.select(col("day"))), Seq("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day")).select("day", "dau", "wau")
  }

  val rollingActiveSql: String =
    s"""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
       |days AS (SELECT DISTINCT day FROM ud)
       |SELECT d.day,
       |       CAST((SELECT count(*) FROM ud WHERE ud.day = d.day) AS BIGINT) AS dau,
       |       CAST((SELECT count(DISTINCT user_id) FROM ud
       |             WHERE ud.day BETWEEN d.day - ${WauDays - 1} AND d.day) AS BIGINT) AS wau
       |FROM days d""".stripMargin

  /** Adoption curve: per day, first-time users and the cumulative user
    * count. First-activity day per user is one aggregate; the running
    * total then runs over the bounded day grid (one row per calendar
    * day), so the unpartitioned window is over a dimension-sized
    * relation, never the corpus. */
  def adoptionCurve(spark: SparkSession, dir: String): DataFrame = {
    val firstDay = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(to_date(min(col("ts"))).as("day"))
    firstDay.groupBy(col("day")).agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users",
        sum(col("new_users")).over(
          Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)))
      .select("day", "new_users", "cum_users")
  }

  val adoptionCurveSql: String =
    """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY 1),
      |n AS (SELECT day, CAST(count(*) AS BIGINT) AS new_users FROM f GROUP BY 1)
      |SELECT day, new_users,
      |       CAST(sum(new_users) OVER (ORDER BY day
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
      |FROM n""".stripMargin

  /** Signup→purchase conversion latency by signup-week cohort: per
    * cohort, how many signed up, how many later purchased, and the mean
    * days-to-convert. Both "firsts" are min-aggregates (order-free — no
    * per-user event sequencing), joined once on user_id. */
  def timeToConvert(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("signup_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
    val lat = signups
      .join(purchases, Seq("user_id"), "left")
      .groupBy(col("user_id"), col("signup_ts"))
      .agg(min(when(col("p_ts") >= col("signup_ts"), col("p_ts"))).as("first_purchase_ts"))
      .select(col("user_id"), to_date(date_trunc("week", col("signup_ts"))).as("cohort_week"),
        datediff(to_date(col("first_purchase_ts")), to_date(col("signup_ts")))
          .cast("long").as("days_to_convert"))
    lat.groupBy(col("cohort_week")).agg(
      count(lit(1)).as("n_signups"),
      count(col("days_to_convert")).as("n_converted"),
      Num.r(sum(col("days_to_convert")).cast("double") / count(col("days_to_convert")), 2)
        .as("avg_days"))
  }

  val timeToConvertSql: String =
    s"""WITH s AS (SELECT user_id, min(ts) AS signup_ts FROM events
       |           WHERE event_type = 'signup' GROUP BY 1),
       |lat AS (
       |  SELECT s.user_id, CAST(date_trunc('week', s.signup_ts) AS DATE) AS cohort_week,
       |         CAST(datediff('day', CAST(s.signup_ts AS DATE), CAST(min(CASE
       |            WHEN p.ts >= s.signup_ts THEN p.ts END) AS DATE)) AS BIGINT) AS days_to_convert
       |  FROM s LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
       |    ON s.user_id = p.user_id
       |  GROUP BY 1, 2, s.signup_ts)
       |SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_signups,
       |       CAST(count(days_to_convert) AS BIGINT) AS n_converted,
       |       ${Num.rSql("CAST(sum(days_to_convert) AS DOUBLE) / count(days_to_convert)", 2)} AS avg_days
       |FROM lat GROUP BY 1""".stripMargin

  /** A user counts as churned when silent for more than this many days
    * before the as-of instant; more recent last-activity is censored. */
  val ChurnHorizonDays = 7

  private val AsOfDay = Tables.AsOf.take(10)

  /** Kaplan–Meier survival curve of user lifetime (days from first to
    * last activity, churn = silent > 7 days before as-of, later
    * last-activity censored). Per-user lifetimes are one aggregate; the
    * (duration, churned, censored) table is DAY-GRID bounded; n-at-risk
    * is a reverse cumulative window over that grid; and the survival
    * product Π(1 − dₜ/nₜ) — a sequential product with no prefix-sum
    * decomposition (short of log-space, which would put libm in the
    * oracle path) — runs as the CUSUM-style `aggregate` HOF scan over
    * the collected bounded grid, mirrored by a recursive-CTE oracle.
    * Factors snap at 1e-9 per step so both engines multiply identical
    * doubles.
    */
  def kaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    val asofDay = to_date(lit(Tables.AsOf))
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("first"), to_date(max(col("ts"))).as("last"))
      .select(
        datediff(col("last"), col("first")).cast("long").as("t"),
        (datediff(asofDay, col("last")) > ChurnHorizonDays).as("churned"))
    val grid = perUser.groupBy(col("t")).agg(
      count(when(col("churned"), 1)).as("d"),
      count(when(!col("churned"), 1)).as("c"))
    val atRisk = grid.withColumn("n_at_risk",
      sum(col("d") + col("c")).over(
        Window.orderBy(col("t").desc).rowsBetween(Window.unboundedPreceding, 0)))
    atRisk
      .agg(array_sort(collect_list(struct(col("t"), col("d"), col("c"), col("n_at_risk"))))
        .as("a"))
      .select(explode(expr(
        """aggregate(a,
          |  cast(array() as array<struct<t:bigint,d:bigint,c:bigint,n_at_risk:bigint,s:double>>),
          |  (acc, x) -> acc || array(named_struct(
          |    't', x.t, 'd', x.d, 'c', x.c, 'n_at_risk', x.n_at_risk,
          |    's', floor((CASE WHEN size(acc) = 0 THEN 1D
          |                ELSE element_at(acc, size(acc)).s END) *
          |         (1D - x.d / CAST(x.n_at_risk AS DOUBLE)) * 1000000000D + 0.5D) / 1000000000D)),
          |  acc -> acc)""".stripMargin)).as("r"))
      .select(col("r.t").as("t"), col("r.n_at_risk").as("n_at_risk"),
        col("r.d").as("n_churned"), col("r.c").as("n_censored"),
        col("r.s").as("survival"))
  }

  val kaplanMeierSql: String =
    s"""WITH RECURSIVE pu AS (
       |  SELECT user_id, min(CAST(ts AS DATE)) AS f, max(CAST(ts AS DATE)) AS l
       |  FROM events GROUP BY 1),
       |lt AS (
       |  SELECT CAST(datediff('day', f, l) AS BIGINT) AS t,
       |         datediff('day', l, DATE '$AsOfDay') > $ChurnHorizonDays AS churned
       |  FROM pu),
       |g AS (
       |  SELECT t, CAST(count(CASE WHEN churned THEN 1 END) AS BIGINT) AS d,
       |         CAST(count(CASE WHEN NOT churned THEN 1 END) AS BIGINT) AS c
       |  FROM lt GROUP BY 1),
       |ar AS (
       |  SELECT *, CAST(sum(d + c) OVER (ORDER BY t DESC
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_at_risk,
       |         row_number() OVER (ORDER BY t) AS i
       |  FROM g),
       |km AS (
       |  SELECT i, t, d, c, n_at_risk,
       |         floor(1.0 * (1.0 - d / CAST(n_at_risk AS DOUBLE)) * 1000000000.0 + 0.5) / 1000000000.0 AS s
       |  FROM ar WHERE i = 1
       |  UNION ALL
       |  SELECT ar.i, ar.t, ar.d, ar.c, ar.n_at_risk,
       |         floor(km.s * (1.0 - ar.d / CAST(ar.n_at_risk AS DOUBLE)) * 1000000000.0 + 0.5) / 1000000000.0
       |  FROM km JOIN ar ON ar.i = km.i + 1)
       |SELECT t, n_at_risk, d AS n_churned, c AS n_censored, s AS survival
       |FROM km""".stripMargin

  /** Days-to-convert quantile ladder (p50/p90/p99 over converting
    * users) — the distributional completion of [[timeToConvert]]'s
    * means: latency days are a bounded value domain, so the exact
    * quantiles ride the [[graft.scale.ValueQuantiles]] histogram
    * decomposition (one shuffle, no fact ranking). */
  def conversionQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("signup_ts"))
    val lat = signups
      .join(ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts")), Seq("user_id"))
      .filter(col("p_ts") >= col("signup_ts"))
      .groupBy(col("user_id"), col("signup_ts"))
      .agg(min(col("p_ts")).as("first_p"))
      .select(datediff(to_date(col("first_p")), to_date(col("signup_ts")))
        .cast("long").as("days"))
    graft.scale.ValueQuantiles.quantiles(lat, Seq.empty, col("days"),
      Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L)), "days_to_convert")
      .select(col("p"), col("n_rows").as("n_converted"), col("days_to_convert"))
  }

  val conversionQuantilesSql: String =
    """WITH s AS (SELECT user_id, min(ts) AS st FROM events
      |           WHERE event_type = 'signup' GROUP BY 1),
      |lat AS (
      |  SELECT CAST(datediff('day', CAST(s.st AS DATE), CAST(min(p.ts) AS DATE)) AS BIGINT) AS days
      |  FROM s JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
      |    ON s.user_id = p.user_id AND p.ts >= s.st
      |  GROUP BY s.user_id, s.st),
      |r AS (SELECT days, row_number() OVER (ORDER BY days) AS rn,
      |             count(*) OVER () AS cnt FROM lat),
      |q AS (SELECT * FROM (VALUES ('p50', 1, 2), ('p90', 9, 10), ('p99', 99, 100)) AS q(p, nu, de))
      |SELECT q.p, CAST(r.cnt AS BIGINT) AS n_converted, r.days AS days_to_convert
      |FROM r, q WHERE r.rn = (q.nu * r.cnt + q.de - 1) // q.de""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("q_conversion_quantiles", conversionQuantiles, conversionQuantilesSql),
    Op("q_kaplan_meier", kaplanMeier, kaplanMeierSql),
    Op("q_rolling_active", rollingActive, rollingActiveSql),
    Op("q_adoption_curve", adoptionCurve, adoptionCurveSql),
    Op("q_time_to_convert", timeToConvert, timeToConvertSql))
}
