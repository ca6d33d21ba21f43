package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Op, Tables}
import graft.scale.ValueQuantiles

/** Robust (order-statistic) anomaly detection over the event stream —
  * the monitoring tier's heavy-tail-safe siblings of the z-score monitor
  * (q_daily_anomaly): median/MAD location-scale and Tukey-fence outlier
  * accounting. Mean/std break down exactly when monitoring matters (a
  * burst of extreme values inflates σ and hides itself); the median and
  * IQR don't.
  *
  * Both operators ride [[graft.scale.ValueQuantiles]] — event values live
  * on a bounded 2-decimal grid, so every quantile is located on the
  * per-(type, value) histogram with cumulative windows over that bounded
  * relation only; the corpus is scanned once per histogram and never
  * ranked. Deviations |v − median| of grid values are IEEE subtractions
  * of identical doubles in both engines, so the second histogram is
  * cross-engine identical too.
  */
object RobustStats {

  private val Median = Seq(("p50", 1L, 2L))
  private val Quartiles = Seq(("p25", 1L, 4L), ("p75", 3L, 4L))

  /** Median + MAD (median absolute deviation) of event value per type:
    * two value-histogram quantile passes — the second over the bounded
    * deviation histogram derived by joining the per-type median back
    * onto the scan. */
  def valueMad(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("value"))
    val med = ValueQuantiles.quantiles(ev, Seq("event_type"), col("value"), Median, "median")
      .select(col("event_type"), col("n_rows").as("n"), col("median"))
    val dev = ev.join(med, "event_type")
      .select(col("event_type"), abs(col("value") - col("median")).as("dev"))
    val mad = ValueQuantiles.quantiles(dev, Seq("event_type"), col("dev"), Median, "mad")
      .select(col("event_type"), col("mad"))
    med.join(mad, "event_type").select("event_type", "n", "median", "mad")
  }

  val valueMadSql: String =
    """WITH r AS (
      |  SELECT event_type, value,
      |         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
      |         count(*) OVER (PARTITION BY event_type) AS cnt
      |  FROM events),
      |med AS (
      |  SELECT event_type, CAST(cnt AS BIGINT) AS n, value AS median
      |  FROM r WHERE rn = (cnt + 1) // 2),
      |d AS (
      |  SELECT e.event_type, abs(e.value - med.median) AS dev,
      |         row_number() OVER (PARTITION BY e.event_type
      |           ORDER BY abs(e.value - med.median)) AS rn,
      |         count(*) OVER (PARTITION BY e.event_type) AS cnt
      |  FROM events e JOIN med ON e.event_type = med.event_type),
      |mad AS (SELECT event_type, dev AS mad FROM d WHERE rn = (cnt + 1) // 2)
      |SELECT med.event_type, med.n, med.median, mad.mad
      |FROM med JOIN mad ON med.event_type = mad.event_type""".stripMargin

  /** Tukey-fence outlier accounting per event type: Q1/Q3 from the value
    * histogram, fences at 1.5·IQR, and a second scan counts/bounds the
    * outliers. Fence arithmetic is IEEE on identical grid doubles. */
  def iqrOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("value"))
    val qs = ValueQuantiles.quantiles(ev, Seq("event_type"), col("value"), Quartiles, "q")
    val fences = qs.groupBy(col("event_type"), col("n_rows"))
      .agg(min(when(col("p") === "p25", col("q"))).as("q1"),
        min(when(col("p") === "p75", col("q"))).as("q3"))
      .select(col("event_type"), col("n_rows").as("n"), col("q1"), col("q3"),
        (col("q1") - lit(1.5) * (col("q3") - col("q1"))).as("lo"),
        (col("q3") + lit(1.5) * (col("q3") - col("q1"))).as("hi"))
    ev.join(fences, "event_type")
      .groupBy(col("event_type"), col("n"), col("q1"), col("q3"))
      .agg(count(when(col("value") < col("lo") || col("value") > col("hi"), 1))
        .as("n_outliers"),
        min(when(col("value") < col("lo") || col("value") > col("hi"), col("value")))
          .as("min_outlier"),
        max(when(col("value") < col("lo") || col("value") > col("hi"), col("value")))
          .as("max_outlier"))
  }

  val iqrOutliersSql: String =
    """WITH r AS (
      |  SELECT event_type, value,
      |         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
      |         count(*) OVER (PARTITION BY event_type) AS cnt
      |  FROM events),
      |f AS (
      |  SELECT q1.event_type, CAST(q1.cnt AS BIGINT) AS n, q1.value AS q1, q3.value AS q3,
      |         q1.value - 1.5 * (q3.value - q1.value) AS lo,
      |         q3.value + 1.5 * (q3.value - q1.value) AS hi
      |  FROM (SELECT * FROM r WHERE rn = (1 * cnt + 3) // 4) q1
      |  JOIN (SELECT * FROM r WHERE rn = (3 * cnt + 3) // 4) q3
      |    ON q1.event_type = q3.event_type)
      |SELECT e.event_type, f.n, f.q1, f.q3,
      |       CAST(count(CASE WHEN e.value < f.lo OR e.value > f.hi THEN 1 END) AS BIGINT) AS n_outliers,
      |       min(CASE WHEN e.value < f.lo OR e.value > f.hi THEN e.value END) AS min_outlier,
      |       max(CASE WHEN e.value < f.lo OR e.value > f.hi THEN e.value END) AS max_outlier
      |FROM events e JOIN f ON e.event_type = f.event_type
      |GROUP BY 1, 2, 3, 4""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("q_value_mad", valueMad, valueMadSql),
    Op("q_iqr_outliers", iqrOutliers, iqrOutliersSql))
}
