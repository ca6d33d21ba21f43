package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, the Spark transform, and the DuckDB
  * SQL that must return the same relation with identically aliased
  * columns. A query registered without its oracle does not compile. */
final case class Op(name: String, run: (SparkSession, String) => DataFrame, oracleSql: String)

/** Driver contract (SURVEY.md §7).
  *
  * `ops` lists every operator group's registrations once; `queries` and
  * `oracleSql` are the two driver-facing views of it, so every query
  * key has its DuckDB oracle by construction.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    analytics.Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  lazy val ops: Seq[Op] =
    analytics.Relational.ops ++ analytics.Events.ops ++
      analytics.TransformQueries.ops ++ analytics.ScaleQueries.ops ++
      analytics.ParityQueries.ops ++ analytics.CorpusQueries.ops ++
      analytics.CorpusStats.ops ++ analytics.CorpusDiversity.ops ++
      analytics.CorpusAudit.ops ++ analytics.Audit.ops ++
      analytics.Attribution.ops ++ analytics.Lifecycle.ops ++
      analytics.RobustStats.ops ++ analytics.Forecast.ops ++
      analytics.Preference.ops ++ analytics.Density.ops

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ops.map(op => op.name -> op.run).toMap

  def oracleSql: Map[String, String] = ops.map(op => op.name -> op.oracleSql).toMap
}
