package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Num, Op, Tables}

/** Time-series forecasting diagnostics over the daily revenue grid:
  * Holt double-exponential smoothing (level + trend state, one-step
  * forecast) and the autocorrelation function at lags 1–7.
  *
  * Scale stance: both operators aggregate the fact table ONCE into the
  * bounded calendar grid (one row per day — dimension-sized at any
  * corpus scale, the q_seasonal_decompose posture). Holt's recurrence is
  * nonlinear state (like CUSUM) with no prefix-sum decomposition, so it
  * runs as the `aggregate`-HOF scan over the collected grid with a
  * recursive-CTE oracle; ACF is 7 equi-joins of the dense gap-filled
  * grid against itself (bounded 7× fan-out, no window over facts).
  *
  * Determinism: the smoothing state re-snaps at 1e-9 each step so both
  * engines iterate bit-identical doubles; ACF moments snap before every
  * divide — at scale −4 (a 1e4 grid): the moment sums reach ~1e15,
  * where a positive-scale snap would push x·10^s past Long range and
  * Spark's LONG-returning floor() saturates while DuckDB's
  * double-returning floor() does not (caught live at sf0.01).
  */
object Forecast {

  /** Holt smoothing constants — identical literals in both engines. */
  val HoltAlpha = 0.3
  val HoltBeta = 0.1

  private def dailyRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(Num.ssum(sum(col("o_totalprice")), 2, 2).as("y"))

  /** Holt linear smoothing: level/trend state per day plus the one-step
    * forecast. Initialization: l₁ = y₁, b₁ = 0.
    *
    * The recurrence is nonlinear state (the per-step 1e-9 snap breaks
    * the affine-scan decomposition deliberately — it is the cross-engine
    * determinism contract), so it runs sequentially over the collected
    * DAY GRID — a calendar-bounded dimension (~2.4k days across the
    * TPC-H date span; ~36k for a century), never the corpus, which was
    * already collapsed by the dailyRevenue aggregate. Since r12 the fold
    * is [[graft.scale.SeqFold.HoltFoldExpr]] — a Catalyst expression
    * running the identical recurrence as an O(grid) Scala loop; the
    * original HOF form ([[holtForecastHof]]) re-copied the accumulator
    * array per step (O(grid²) churn in ArrayAggregate's interpreted
    * path) and stays only as ForecastSpec's equality pin.
    */
  def holtForecast(spark: SparkSession, dir: String): DataFrame =
    dailyRevenue(spark, dir)
      .agg(array_sort(collect_list(struct(col("day"), col("y")))).as("a"))
      .select(explode(
        graft.scale.SeqFold.holtFold(col("a"), HoltAlpha, HoltBeta)).as("r"))
      .select(col("r.day").as("day"), col("r.y").as("y"),
        col("r.l").as("level"), col("r.b").as("trend"),
        Num.r(col("r.l") + col("r.b"), 2).as("forecast_next"))

  /** The original HOF fold — kept (unregistered) as the differential
    * baseline ForecastSpec pins [[holtForecast]] bit-identical against.
    */
  private[graft] def holtForecastHof(spark: SparkSession, dir: String): DataFrame =
    dailyRevenue(spark, dir)
      .agg(array_sort(collect_list(struct(col("day"), col("y")))).as("a"))
      .select(explode(expr(
        s"""aggregate(a,
           |  cast(array() as array<struct<day:date,y:double,l:double,b:double>>),
           |  (acc, x) -> acc || array(CASE WHEN size(acc) = 0
           |    THEN named_struct('day', x.day, 'y', x.y, 'l', x.y, 'b', 0D)
           |    ELSE named_struct('day', x.day, 'y', x.y,
           |      'l', floor(($HoltAlpha * x.y + ${1.0 - HoltAlpha} *
           |             (element_at(acc, size(acc)).l + element_at(acc, size(acc)).b)) *
           |             1000000000D + 0.5D) / 1000000000D,
           |      'b', floor(($HoltBeta * ((floor(($HoltAlpha * x.y + ${1.0 - HoltAlpha} *
           |             (element_at(acc, size(acc)).l + element_at(acc, size(acc)).b)) *
           |             1000000000D + 0.5D) / 1000000000D) - element_at(acc, size(acc)).l) +
           |             ${1.0 - HoltBeta} * element_at(acc, size(acc)).b) *
           |             1000000000D + 0.5D) / 1000000000D) END),
           |  acc -> acc)""".stripMargin)).as("r"))
      .select(col("r.day").as("day"), col("r.y").as("y"),
        col("r.l").as("level"), col("r.b").as("trend"),
        Num.r(col("r.l") + col("r.b"), 2).as("forecast_next"))

  val holtForecastSql: String = {
    val a = HoltAlpha.toString
    val ac = (1.0 - HoltAlpha).toString
    val b = HoltBeta.toString
    val bc = (1.0 - HoltBeta).toString
    val lNew = s"floor(($a * d.y + $ac * (h.l + h.b)) * 1000000000.0 + 0.5) / 1000000000.0"
    s"""WITH RECURSIVE daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |         ${Num.ssumSql("sum(o_totalprice)", 2, 2)} AS y
       |  FROM orders GROUP BY 1),
       |d AS (SELECT *, row_number() OVER (ORDER BY day) AS i FROM daily),
       |h AS (
       |  SELECT i, day, y, y AS l, CAST(0.0 AS DOUBLE) AS b FROM d WHERE i = 1
       |  UNION ALL
       |  SELECT d.i, d.day, d.y,
       |         $lNew,
       |         floor(($b * (($lNew) - h.l) + $bc * h.b) * 1000000000.0 + 0.5) / 1000000000.0
       |  FROM h JOIN d ON d.i = h.i + 1)
       |SELECT day, y, l AS level, b AS trend,
       |       ${Num.rSql("l + b", 2)} AS forecast_next
       |FROM h""".stripMargin
  }

  /** ACF lags reported. */
  val AcfMaxLag = 7

  /** Autocorrelation of gap-filled daily revenue at lags 1–7 — the
    * seasonality detector (a weekly cycle shows as an acf peak at lag
    * 7). The dense calendar grid comes from one sequence span (the
    * q_gap_fill discipline, zero-filled); deviations use the snapped
    * grand mean; each lag is an equi-join on shifted dates. */
  def acf(spark: SparkSession, dir: String): DataFrame = {
    // the bounded daily relation is reused by FIVE branches (span, fill,
    // mean, denominator, both join sides); without materialization the
    // plan re-derives it each time — 12 fact scans for a 7-row output.
    // localCheckpoint pins the dimension-sized grid once: ONE fact scan.
    val daily = dailyRevenue(spark, dir).localCheckpoint()
    val grid = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
      .join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("y"), lit(0.0)).as("y"))
    val stats = broadcast(grid.agg(
      count(lit(1)).as("n"), Num.r(sum(col("y")), 2).as("sy")))
    val dev = grid.crossJoin(stats)
      .select(col("day"), (col("y") - Num.r(col("sy") / col("n"), 9)).as("d"))
    val denom = broadcast(dev.agg(Num.r(sum(col("d") * col("d")), -4).as("den")))
    val lagged = dev.select(col("day"), col("d"))
      .crossJoin(spark.range(1, AcfMaxLag + 1).toDF("lag"))
      .select(col("lag"), date_sub(col("day"), col("lag").cast("int")).as("pday"), col("d"))
      .join(dev.select(col("day").as("pday"), col("d").as("pd")), Seq("pday"))
    lagged.groupBy(col("lag"))
      .agg(Num.r(sum(col("d") * col("pd")), -4).as("num"), count(lit(1)).as("n_pairs"))
      .crossJoin(denom)
      // den = 0 on a constant series (all deviations zero) — ACF is
      // undefined there and Spark 4 ANSI throws on double div-by-zero.
      .select(col("lag"), col("n_pairs"),
        when(col("den") =!= 0.0, Num.r(col("num") / col("den"), 6)).as("acf"))
  }

  val acfSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |         ${Num.ssumSql("sum(o_totalprice)", 2, 2)} AS y
       |  FROM orders GROUP BY 1),
       |grid AS (
       |  SELECT g.day, coalesce(daily.y, 0.0) AS y
       |  FROM (SELECT unnest(generate_series(min(day), max(day), INTERVAL 1 DAY))::DATE AS day
       |        FROM daily) g LEFT JOIN daily ON g.day = daily.day),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n, ${Num.rSql("sum(y)", 2)} AS sy FROM grid),
       |dev AS (SELECT day, y - (${Num.rSql("sy / n", 9)}) AS d FROM grid CROSS JOIN st),
       |den AS (SELECT ${Num.rSql("sum(d * d)", -4)} AS den FROM dev),
       |lg AS (SELECT unnest(range(1, ${AcfMaxLag + 1})) AS lag),
       |pairs AS (
       |  SELECT lg.lag, a.d, b.d AS pd
       |  FROM dev a CROSS JOIN lg JOIN dev b ON b.day = a.day - CAST(lg.lag AS INT))
       |SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
       |       CASE WHEN den <> 0 THEN ${Num.rSql(s"(${Num.rSql("sum(d * pd)", -4)}) / den", 6)} END AS acf
       |FROM pairs CROSS JOIN den
       |GROUP BY lag, den""".stripMargin

  /** Holt–Winters constants — identical literals in both engines. */
  val HwAlpha = 0.3
  val HwBeta = 0.1
  val HwGamma = 0.2

  /** Additive Holt–Winters (triple exponential smoothing) with weekly
    * period 7 over the GAP-FILLED daily revenue grid — the seasonal
    * completion of [[holtForecast]] (whose q_acf sibling is the detector
    * that says period 7 is there). Per day: level, trend, the day's
    * updated seasonal slot, and the one-step forecast l + b + s_next.
    * Deterministic init (l₁ = y₁, b₁ = 0, s = 0⃗) so no lookahead pass
    * exists; slots align to the dense calendar (slot = (i−1) mod 7 + 1),
    * which is why the series must be gap-filled first.
    *
    * Same scale stance as [[holtForecast]] (the recurrence is nonlinear
    * state over the calendar-bounded grid; the corpus was already
    * collapsed by the daily aggregate and the fill is one sequence
    * span). Level/trend/seasonal all re-snap at 1e-9 per step, so both
    * engines iterate bit-identical doubles; the oracle is the same
    * recursive CTE shape carrying the 7-slot seasonal list
    * (indexed-lambda update, 1-based like the Spark side's j + 1).
    * Since r12 the fold is
    * [[graft.scale.SeqFold.HoltWintersFoldExpr]] (O(grid) Scala loop);
    * the HOF form stays as [[holtWintersHof]] for the spec pin.
    */
  def holtWinters(spark: SparkSession, dir: String): DataFrame = {
    val folded = hwGrid(spark, dir)
      .agg(array_sort(collect_list(struct(col("day"), col("y")))).as("a"))
      .select(explode(graft.scale.SeqFold.holtWintersFold(
        col("a"), HwAlpha, HwBeta, HwGamma)).as("r"))
    hwSelect(folded)
  }

  private def hwGrid(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyRevenue(spark, dir).localCheckpoint()
    daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
      .join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("y"), lit(0.0)).as("y"))
  }

  private def hwSelect(folded: DataFrame): DataFrame =
    folded.select(col("r.day").as("day"), col("r.y").as("y"),
      col("r.l").as("level"), col("r.b").as("trend"),
      element_at(col("r.s"), ((col("r.i") - lit(1)) % lit(7)) + lit(1))
        .as("seasonal"),
      Num.r(col("r.l") + col("r.b") +
        element_at(col("r.s"), (col("r.i") % lit(7)) + lit(1)), 2)
        .as("forecast_next"))

  /** The original HOF fold — kept (unregistered) as the differential
    * baseline ForecastSpec pins [[holtWinters]] bit-identical against.
    */
  private[graft] def holtWintersHof(spark: SparkSession, dir: String): DataFrame = {
    val grid = hwGrid(spark, dir)
    val prev = "element_at(acc, size(acc))"
    val kEx = s"(($prev.i) % 7) + 1"
    val sPrev = s"element_at($prev.s, $kEx)"
    val lNew = s"floor(($HwAlpha * (x.y - $sPrev) + ${1.0 - HwAlpha} * " +
      s"($prev.l + $prev.b)) * 1000000000D + 0.5D) / 1000000000D"
    val bNew = s"floor(($HwBeta * (($lNew) - $prev.l) + ${1.0 - HwBeta} * " +
      s"$prev.b) * 1000000000D + 0.5D) / 1000000000D"
    val sNew = s"floor(($HwGamma * (x.y - ($lNew)) + ${1.0 - HwGamma} * " +
      s"$sPrev) * 1000000000D + 0.5D) / 1000000000D"
    val folded = grid
      .agg(array_sort(collect_list(struct(col("day"), col("y")))).as("a"))
      .select(explode(expr(
        s"""aggregate(a,
           |  cast(array() as array<struct<i:int,day:date,y:double,l:double,b:double,s:array<double>>>),
           |  (acc, x) -> acc || array(CASE WHEN size(acc) = 0
           |    THEN named_struct('i', 1, 'day', x.day, 'y', x.y, 'l', x.y, 'b', 0D,
           |           's', array(0D, 0D, 0D, 0D, 0D, 0D, 0D))
           |    ELSE named_struct('i', $prev.i + 1, 'day', x.day, 'y', x.y,
           |      'l', $lNew,
           |      'b', $bNew,
           |      's', transform($prev.s, (v, j) ->
           |        CASE WHEN j + 1 = $kEx THEN $sNew ELSE v END)) END),
           |  acc -> acc)""".stripMargin)).as("r"))
    hwSelect(folded)
  }

  val holtWintersSql: String = {
    val sPrev = "h.s[((h.i) % 7) + 1]"
    val lNew = s"floor(($HwAlpha * (d.y - $sPrev) + ${1.0 - HwAlpha} * " +
      s"(h.l + h.b)) * 1000000000.0 + 0.5) / 1000000000.0"
    val bNew = s"floor(($HwBeta * (($lNew) - h.l) + ${1.0 - HwBeta} * " +
      s"h.b) * 1000000000.0 + 0.5) / 1000000000.0"
    val sNew = s"floor(($HwGamma * (d.y - ($lNew)) + ${1.0 - HwGamma} * " +
      s"$sPrev) * 1000000000.0 + 0.5) / 1000000000.0"
    s"""WITH RECURSIVE daily0 AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |         ${Num.ssumSql("sum(o_totalprice)", 2, 2)} AS y
       |  FROM orders GROUP BY 1),
       |grid AS (
       |  SELECT g.day, coalesce(daily0.y, 0.0) AS y
       |  FROM (SELECT unnest(generate_series(min(day), max(day), INTERVAL 1 DAY))::DATE AS day
       |        FROM daily0) g LEFT JOIN daily0 ON g.day = daily0.day),
       |d AS (SELECT *, CAST(row_number() OVER (ORDER BY day) AS INT) AS i FROM grid),
       |h AS (
       |  SELECT i, day, y, y AS l, CAST(0.0 AS DOUBLE) AS b,
       |         [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]::DOUBLE[] AS s
       |  FROM d WHERE i = 1
       |  UNION ALL
       |  SELECT d.i, d.day, d.y,
       |         $lNew,
       |         $bNew,
       |         list_transform(h.s, (v, j) ->
       |           CASE WHEN j = ((h.i) % 7) + 1 THEN $sNew ELSE v END)
       |  FROM h JOIN d ON d.i = h.i + 1)
       |SELECT day, y, l AS level, b AS trend,
       |       s[((i - 1) % 7) + 1] AS seasonal,
       |       ${Num.rSql("l + b + s[(i % 7) + 1]", 2)} AS forecast_next
       |FROM h""".stripMargin
  }

  val ops: Seq[Op] = Seq(
    Op("q_holt_forecast", holtForecast, holtForecastSql),
    Op("q_holt_winters", holtWinters, holtWintersSql),
    Op("q_acf", acf, acfSql))
}
