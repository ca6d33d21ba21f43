package graft.stages

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{DeviceInfo, Normalize, Scoring, UrlInfo}
import Validation.optCol

/** Frontend interaction transform stage (SURVEY.md §3 Trace 2;
  * etl/transform/frontend_transformer.py:23-72).
  *
  * Pure projection stage: F14–F19 enrichment structs + SC3–SC6 scores.
  */
object FrontendTransform {
  val RequiredFields = Seq("event_type", "timestamp")

  /** F20 extract_event_specific_data — event-type-dependent payload kept
    * as a JSON string column (heterogeneous shapes; SURVEY §7 risk
    * register). Note: to_json drops null fields, so absent attributes
    * disappear rather than serializing as JSON nulls — same information,
    * tighter storage.
    */
  def eventData(df: DataFrame): Column = {
    val et = lower(coalesce(col("event_type"), lit("")))
    def js(names: String*) =
      to_json(struct(names.map(n => optCol(df, n).as(n)): _*))
    when(et === "click", js("element_id", "element_class", "element_text", "click_coordinates"))
      .when(et === "scroll", js("scroll_depth", "scroll_direction", "max_scroll_depth"))
      .when(et === "form_submit", js("form_id", "form_fields", "form_completion_time"))
      .when(et.contains("widget"), js("widget_position", "widget_size", "widget_config"))
      .otherwise(coalesce(optCol(df, "event_data"), lit("{}")))
  }

  def enrich(raw: DataFrame, asOfMs: Long): DataFrame = {
    val u = col("page_url")
    val hasUrl = u.isNotNull && u =!= ""
    raw.filter(Validation.hasRequired(RequiredFields)).select(
      Normalize.normString(col("session_id")).as("session_id"),
      Normalize.normString(col("user_id")).as("user_id"),
      Normalize.normalizeEventType(col("event_type")).as("event_type"),
      Normalize.normString(col("interaction_type")).as("interaction_type"),
      Normalize.normString(col("widget_id")).as("widget_id"),
      // F15 page_info (frontend_transformer.py:100-142)
      struct(
        when(hasUrl, u).as("url"),
        when(hasUrl, UrlInfo.urlDomain(u)).as("domain"),
        when(hasUrl, UrlInfo.urlPath(u)).as("path"),
        Normalize.normString(col("page_title")).as("title"),
        when(hasUrl, UrlInfo.pageCategory(UrlInfo.urlPath(u))).otherwise("unknown").as("category"),
        when(hasUrl, UrlInfo.urlParam(u, "utm_source")).as("utm_source"),
        when(hasUrl, UrlInfo.urlParam(u, "utm_medium")).as("utm_medium"),
        when(hasUrl, UrlInfo.urlParam(u, "utm_campaign")).as("utm_campaign")).as("page_info"),
      UrlInfo.referrerInfo(col("referrer")).as("referrer_info"),
      DeviceInfo.deviceInfo(col("user_agent"), col("screen_resolution"),
        col("viewport_size")).as("device_info"),
      Normalize.standardizeTsNum(col("timestamp")).as("timestamp"),
      // F19 timing_info lift (optional fields)
      struct(optCol(raw, "load_time_ms").as("load_time_ms"),
        optCol(raw, "time_on_page").as("time_on_page"),
        optCol(raw, "time_since_last_event").as("time_since_last_event"),
        optCol(raw, "session_duration").as("session_duration"),
        optCol(raw, "page_load_complete").as("page_load_complete")).as("timing_info"),
      eventData(raw).as("event_data"),
      Scoring.userSegment(col("page_url"), col("event_type"), col("referrer")).as("user_segment"),
      Scoring.engagementScore(col("event_type"), col("time_on_page")).as("engagement_score"),
      Scoring.conversionStage(col("event_type"), col("page_url")).as("conversion_stage"),
      Scoring.eventQualityScore(col("session_id"), col("user_agent"), col("page_url"),
        col("timestamp")).as("quality_score"))
  }
}
