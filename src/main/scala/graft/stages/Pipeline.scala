package graft.stages

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-cutting pipeline operators: validation split (P1–P3), keyed
  * upsert/dedup (D1–D4), and envelope construction (F35/S11).
  */
object Validation {

  /** P1 validation predicate (base_transformer.py:34-41): every
    * required field is non-null.
    */
  def hasRequired(required: Seq[String]): Column =
    required.map(f => col(f).isNotNull).reduce(_ && _)

  /** Optional input column: resolve if present, else a typed null —
    * sparse, heterogeneous payloads may omit fields (F20).
    */
  def optCol(df: DataFrame, name: String): Column =
    if (df.columns.contains(name)) col(name) else lit(null).cast("string")

  /** P1: split into (valid, deadLetter) on required-field nullness
    * (base_transformer.py:34-41; consumer dead-letter accounting
    * enhanced_kpi_consumer.py:256-301). Both branches share one scan —
    * at scale, prefer computing the predicate once and writing both
    * outputs from a single pass (persist if both are consumed).
    */
  def split(df: DataFrame, required: Seq[String]): (DataFrame, DataFrame) = {
    val ok = hasRequired(required)
    (df.filter(ok), df.filter(!ok))
  }

  /** P2: enum whitelist filter (frontend_events_extractor.py:48-57). */
  val AllowedEventTypes = Seq("widget_load", "widget_open", "widget_close",
    "message_sent", "message_received", "voice_start", "voice_end",
    "page_view", "click", "form_submit", "error", "performance")
  def whitelist(df: DataFrame, column: String, allowed: Seq[String]): DataFrame =
    df.filter(col(column).isInCollection(allowed))

  /** P3: batch error-rate accounting — outcome counts for the circuit
    * breaker (abort if error fraction > threshold is a driver-side
    * decision on this tiny result).
    */
  def errorRate(total: DataFrame, deadLetter: DataFrame): Double = {
    val t = total.count()
    if (t == 0) 0.0 else deadLetter.count().toDouble / t
  }
}

object Upsert {

  /** D1/D2: last-write-wins keyed upsert — row_number over the key
    * window, ordered by the version columns descending
    * (enhanced_kpi_consumer.py:395-434 ON CONFLICT DO UPDATE).
    * One shuffle on the key; skew handled by AQE.
    */
  def lastWriteWins(df: DataFrame, keys: Seq[String], versionDesc: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(versionDesc: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** D4: insert-only unique-key dedup (frontend_analytics event_id UNIQUE).
    * dropDuplicates keeps an arbitrary row per key — matching the
    * reference's DO NOTHING (first insert wins, arrival order undefined).
    */
  def uniqueKey(df: DataFrame, keys: Seq[String]): DataFrame =
    df.dropDuplicates(keys)

  /** D3: merge a new batch into an existing table, key-wise, batch wins
    * (recompute-then-replace). Full-outer-free formulation: union + LWW
    * with a precedence column.
    */
  def mergeBatch(existing: DataFrame, batch: DataFrame, keys: Seq[String]): DataFrame = {
    val e = existing.withColumn("__prec", lit(0))
    val b = batch.withColumn("__prec", lit(1))
    lastWriteWins(e.unionByName(b), keys, Seq(col("__prec").desc)).drop("__prec")
  }
}

/** F35 envelope construction (base_transformer.py:101-124) + S11 flatten
  * (snowflake_loader.py:173-188).
  */
object Envelope {

  /** Wrap enriched rows in the standardized event envelope. `eventIdCol`
    * lets oracle-checked paths inject a deterministic id (uuid() is
    * nondeterministic — SURVEY §7); `appliedAtMs` pins metadata time.
    */
  def wrap(df: DataFrame, eventType: String, source: String,
      tsMs: Column, eventIdCol: Column, appliedAtMs: Long): DataFrame = {
    val payload = struct(df.columns.map(col): _*)
    df.select(
      eventIdCol.as("event_id"),
      lit(eventType).as("event_type"),
      lit(source).as("source"),
      tsMs.as("ts_ms"),
      payload.as("data"),
      struct(
        lit("graft").as("transformer"),
        lit("1.0.0").as("version"),
        lit(appliedAtMs).as("applied_at_ms")).as("metadata"))
  }

  /** S11: envelope → flat warehouse row — lift envelope fields, format
    * the timestamp, keep the payload as JSON plus splatted fields.
    */
  def flattenForWarehouse(df: DataFrame): DataFrame =
    df.select(
      col("event_id"),
      col("event_type"),
      col("source"),
      date_format(timestamp_millis(col("ts_ms")), "yyyy-MM-dd HH:mm:ss").as("event_ts"),
      to_json(col("data")).as("metadata_json"),
      col("data.*"))
}
