package graft

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Observability analog of the reference's Prometheus monitoring layer
  * (`src/utils/monitoring.py:65-298` metric registry, `:301-342` health
  * checks, `:345-440` alert manager; thresholds `config/config.yaml:228-232`)
  * re-expressed the Spark-native way SURVEY §2.10 names: a
  * `QueryExecutionListener` accumulates per-query rows/bytes/duration/
  * shuffle from the executed plan's SQLMetrics into a bounded in-memory
  * ring, queryable as a DataFrame — counters+histograms-by-scrape
  * becomes a metrics TABLE you aggregate with the same engine.
  *
  * Scale note: the listener runs on the DRIVER's listener bus and holds
  * O(maxEntries) fixed-width rows — nothing per-task, nothing
  * per-partition, no executor-side state; identical footprint on
  * local[32] and a 1000-executor cluster.
  */
object Metrics {

  /** One executed query: the fields the reference tracks per operation
    * (duration histogram, processed-count counter, error counter) plus
    * the scan/shuffle volume Spark can attribute exactly.
    */
  case class QueryMetric(
      name: String,          // funcName from the listener (count, save, ...)
      startedAtMs: Long,
      durationMs: Long,
      rowsOut: Long,         // root operator's numOutputRows
      filesRead: Long,       // sum of scan numFiles
      bytesRead: Long,       // sum of scan filesSize (pruned size, not table size)
      shuffleBytes: Long,    // sum of shuffle bytes written
      succeeded: Boolean,
      error: String)         // "" when succeeded

  /** Driver-held bounded ring of query metrics; register on a session
    * via `attach`. Thread-safe: listener-bus callbacks synchronize on
    * the buffer.
    */
  class Recorder(maxEntries: Int = 4096) extends QueryExecutionListener {
    private val buf = mutable.ArrayDeque.empty[QueryMetric]
    private val dropped = new AtomicLong(0L)

    private[graft] def record(m: QueryMetric): Unit = buf.synchronized {
      if (buf.size >= maxEntries) { buf.removeHead(); dropped.incrementAndGet() }
      buf.append(m)
    }

    /** All physical nodes of the FINAL plan. AQE re-plans under the
      * adaptive root AND materializes each stage behind a QueryStageExec
      * LEAF (its `children` is empty — the real operators hang off
      * `plan`), so a plain children-walk sees neither the scans nor the
      * exchanges; both wrappers are unwrapped here.
      */
    private def finalNodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
      case a: AdaptiveSparkPlanExec => finalNodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        q +: finalNodes(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        r +: finalNodes(r.child)
      case p => p +: p.children.flatMap(finalNodes)
    }

    private def sumMetric(nodes: Seq[SparkPlan], names: Set[String]): Long =
      nodes.flatMap(_.metrics.collect {
        case (k, m) if names(k) => m.value
      }).sum

    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
      val nodes = finalNodes(qe.executedPlan)
      // pre-order: the first node carrying numOutputRows is the TOPMOST
      // row-producing operator — the query's output cardinality (roots
      // like ResultQueryStage / WholeStageCodegen carry no row metric)
      val rowsOut = nodes.collectFirst {
        case p if p.metrics.contains("numOutputRows") =>
          p.metrics("numOutputRows").value
      }.getOrElse(0L)
      record(QueryMetric(funcName,
        System.currentTimeMillis() - durationNs / 1000000L,
        durationNs / 1000000L,
        rowsOut,
        sumMetric(nodes, Set("numFiles")),
        sumMetric(nodes, Set("filesSize")),
        sumMetric(nodes, Set("shuffleBytesWritten")),
        succeeded = true, error = ""))
    }

    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit =
      record(QueryMetric(funcName, System.currentTimeMillis(), 0L,
        0L, 0L, 0L, 0L, succeeded = false,
        error = String.valueOf(exception.getMessage)))

    def snapshot(): Seq[QueryMetric] = buf.synchronized { buf.toSeq }
    def droppedCount: Long = dropped.get()

    /** The metrics table — the scrape endpoint's Spark-native form. */
    def metricsDf(spark: SparkSession): DataFrame = {
      import spark.implicits._
      snapshot().toDF()
    }

    /** Alert rows per the reference's thresholds (`config.yaml:228-232`):
      * error rate over the retained window vs 5%, per-query duration vs
      * the 5000 ms response-time bound. Returns (alert_type, severity,
      * observed, threshold) — the shape AlertManager.send_alert posts.
      */
    def alerts(spark: SparkSession,
        errorRateThreshold: Double = ErrorRateThreshold,
        responseTimeMsThreshold: Long = ResponseTimeMsThreshold): DataFrame = {
      val m = metricsDf(spark)
      val slow = m.filter(col("succeeded") && col("durationMs") > responseTimeMsThreshold)
        .select(lit("response_time").as("alert_type"), lit("warning").as("severity"),
          col("durationMs").cast("double").as("observed"),
          lit(responseTimeMsThreshold.toDouble).as("threshold"))
      val err = m.agg(
          (sum(when(!col("succeeded"), 1L).otherwise(0L)).cast("double") /
            count(lit(1))).as("rate"))
        .filter(col("rate") > errorRateThreshold)
        .select(lit("error_rate").as("alert_type"), lit("critical").as("severity"),
          col("rate").as("observed"), lit(errorRateThreshold).as("threshold"))
      slow.unionAll(err)
    }

    /** Health check (`monitoring.py:301-342`): healthy iff the recent
      * window stays under the error-rate threshold and the listener
      * ring hasn't been forced to drop history.
      */
    def healthy(errorRateThreshold: Double = ErrorRateThreshold): Boolean = {
      val s = snapshot()
      s.isEmpty || s.count(!_.succeeded).toDouble / s.size <= errorRateThreshold
    }
  }

  /** `config.yaml:230` error_rate_threshold / `:231` response_time. */
  val ErrorRateThreshold = 0.05
  val ResponseTimeMsThreshold = 5000L

  /** Register a fresh recorder on the session's listener bus. */
  def attach(spark: SparkSession, maxEntries: Int = 4096): Recorder = {
    val r = new Recorder(maxEntries)
    spark.listenerManager.register(r)
    r
  }

  def detach(spark: SparkSession, r: Recorder): Unit =
    spark.listenerManager.unregister(r)

  /** q_run_metrics — the deterministic subset of the metrics table: run
    * two fixed collects under a fresh recorder and report the
    * listener-attributed output cardinality per query. Durations/bytes
    * are host-dependent, but rowsOut comes from the executed plan's
    * numOutputRows and must equal the true table cardinality — which is
    * exactly what the DuckDB oracle checks (count(*) per table). This is
    * the scrape endpoint made oracle-checkable. The listener bus is
    * drained before the recorder attaches: an earlier query's event still
    * queued would otherwise reach it first and be reported as region's
    * row count. Both waits are bounded by `waitMs`; a bus still backed up
    * after it fails the query (ListenerBusDrain names the backlog) rather
    * than risk reporting another query's rows.
    */
  def runMetrics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val waitMs = 30_000L
    org.apache.spark.ListenerBusDrain(spark.sparkContext, waitMs)
    val r = attach(spark)
    val entries = try {
      Tables.region(spark, dir).collect()
      Tables.nation(spark, dir).collect()
      // listener-bus delivery is async; poll until both land (bounded)
      val deadline = System.nanoTime() + waitMs * 1_000_000L
      while (r.snapshot().size < 2 && System.nanoTime() < deadline) Thread.sleep(50)
      r.snapshot()
    } finally detach(spark, r)
    entries.take(2).zipWithIndex
      .map { case (m, i) => (i, m.rowsOut, m.succeeded) }
      .toDF("seq", "rows_out", "succeeded")
  }

  val runMetricsSql: String =
    """SELECT 0 AS seq, CAST((SELECT count(*) FROM region) AS BIGINT) AS rows_out, true AS succeeded
      |UNION ALL
      |SELECT 1, CAST((SELECT count(*) FROM nation) AS BIGINT), true""".stripMargin

  /** The reference's batch error-rate alert (`config.yaml:230`) applied
    * to the validation-split accounting (P3, `stages/Pipeline.scala`):
    * true when the dead-letter fraction trips the 5% circuit breaker —
    * the assertion form of `enhanced_kpi_consumer`'s abort rule.
    */
  def validationAlert(total: DataFrame, deadLetter: DataFrame,
      threshold: Double = ErrorRateThreshold): Boolean =
    graft.stages.Validation.errorRate(total, deadLetter) > threshold
}
