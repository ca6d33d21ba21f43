package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Testdata table loaders (see /root/repo/TESTDATA.md).
  *
  * All queries take an `sfDir` (e.g. /root/testdata/sf0.01) and read one
  * parquet file per table. Reads are plain `spark.read.parquet`, so Catalyst
  * predicate pushdown / column pruning apply to every downstream query.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def events(spark: SparkSession, dir: String): DataFrame =
    eventTs(load(spark, dir, "events"))

  /** `events.ts` has shipped in three parquet encodings across testdata
    * generations; normalize all of them to a microsecond TimestampType
    * column so every downstream query, batch or streaming, sees the
    * same type:
    *
    *  - TIMESTAMP(NANOS): Spark reads it as a long when
    *    spark.sql.legacy.parquet.nanosAsLong=true (set by Verify/Bench/
    *    tests). Convert with integer `div` (floor(ns/1000), the same
    *    truncation DuckDB applies) — never `/`, ns values exceed double's
    *    2^53 mantissa.
    *  - timestamp[us] isAdjustedToUTC=false → TIMESTAMP_NTZ: cast to
    *    TimestampType. Session TZ is UTC everywhere in this project, so
    *    the cast is instant-preserving.
    *  - timestamp[us] isAdjustedToUTC=true → TimestampType: passthrough.
    */
  def eventTs(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    events.schema("ts").dataType match {
      case LongType =>
        events.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        events.withColumn("ts", col("ts").cast(TimestampType))
      case _ => events
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Register every table as a temp view (events encoding-normalized) —
    * the Probe/diagnostic entry point.
    */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(t => load(spark, dir, t).createOrReplaceTempView(t))
    events(spark, dir).createOrReplaceTempView("events")
  }

  /** Fixed "as of" instant for queries whose reference semantics use
    * wall-clock `now()` (SURVEY.md §7 determinism rules). Chosen just past
    * the max `events.ts` in the testdata (2024-01-30 23:26).
    */
  val AsOf = "2024-01-31 00:00:00"
}
