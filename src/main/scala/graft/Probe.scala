package graft

/** Ad-hoc diagnostic REPL-substitute: evaluate one SQL statement against
  * the normalized tables of a testdata directory and print the result.
  * Spark SQL only (plan shapes, premise measurements, bucket histograms)
  * — the DuckDB oracle side has duckdb's own CLI.
  *
  * Usage: runMain graft.Probe <sfDir> "<sql>" [maxRows]
  * Registered temp views: region nation customer supplier part orders
  * lineitem events documents embeddings (via Tables.*, so events.ts is
  * encoding-normalized like every query path).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val (dir, sql) = (args(0), args(1))
    val maxRows = if (args.length > 2) args(2).toInt else 50
    val spark = Sessions.local()
    Tables.registerViews(spark, dir)
    spark.sql(sql).show(maxRows, truncate = false)
    spark.stop()
  }
}
