package graft.stages

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{CostModel, ModelInfo, Normalize, Scoring, TextAnalysis}

/** Text-agent turn transform stage (SURVEY.md §3 Trace 3;
  * etl/transform/text_agent_transformer.py:22-67).
  *
  * Produces the deeply nested analytic record: model_info,
  * performance_metrics, content_analysis, tool_usage, quality_metrics,
  * business_metrics. Everything is Column arithmetic — the whole stage is
  * one codegen'd projection.
  *
  * Expected input columns: session_id, turn_id, user_id, channel,
  * timestamp (ms), model, tokens_in, tokens_out, latency_ms,
  * response_text, tools_used array<string>,
  * tool_results map<string, struct<success boolean>>.
  */
object TextAgentTransform {
  val RequiredFields = Seq("session_id", "turn_id", "model", "tokens_in", "tokens_out")

  def enrich(raw: DataFrame, asOfMs: Long): DataFrame = {
    val m = col("model")
    val text = coalesce(col("response_text"), lit(""))
    val tin = col("tokens_in").cast("int")
    val tout = col("tokens_out").cast("int")
    val lat = coalesce(col("latency_ms").cast("double"), lit(0.0))
    val cost = CostModel.estimateCost(tin, tout, m)
    val convInd = TextAnalysis.conversionIndicators(text)

    raw.filter(Validation.hasRequired(RequiredFields)).select(
      Normalize.normString(col("session_id")).as("session_id"),
      Normalize.normString(col("turn_id")).as("turn_id"),
      Normalize.normString(col("user_id")).as("user_id"),
      // default-then-normalize, matching the reference's
      // normalize_string(raw.get('channel', 'text')): an absent channel
      // (null column) defaults to "text"; an explicit empty string
      // normalizes to NULL
      Normalize.normString(coalesce(col("channel"), lit("text"))).as("channel"),
      struct(
        m.as("model_name"),
        ModelInfo.modelFamily(m).as("model_family"),
        ModelInfo.modelSize(m).as("estimated_size"),
        ModelInfo.modelCapabilities(m).as("capabilities"),
        ModelInfo.modelVersion(m).as("model_version")).as("model_info"),
      struct(
        tin.as("tokens_in"),
        tout.as("tokens_out"),
        ModelInfo.totalTokens(tin, tout).as("total_tokens"),
        lat.as("latency_ms"),
        ModelInfo.tokensPerSecond(tout, lat).as("tokens_per_second"),
        ModelInfo.compressionRatio(tin, tout).as("compression_ratio"),
        Scoring.efficiencyScore(tout, lat).as("efficiency_score")).as("performance_metrics"),
      struct(
        TextAnalysis.responseLength(text).as("response_length"),
        TextAnalysis.wordCount(text).as("word_count"),
        TextAnalysis.sentenceCount(text).as("sentence_count"),
        TextAnalysis.hasCodeBlocks(text).as("has_code_blocks"),
        TextAnalysis.hasLinks(text).as("has_links"),
        TextAnalysis.language(text).as("language"),
        TextAnalysis.sentiment(text).as("sentiment"),
        TextAnalysis.topics(text).as("topics"),
        TextAnalysis.redactedPreview(text).as("redacted_preview")).as("content_analysis"),
      Normalize.standardizeTsNum(col("timestamp")).as("timestamp"),
      // F31 tool usage (text_agent_transformer.py:279-323)
      struct(
        coalesce(size(col("tools_used")), lit(0)).as("tools_count"),
        coalesce(col("tools_used"), array().cast("array<string>")).as("tools_used"),
        toolSuccessRate(col("tool_results")).as("tool_success_rate"),
        toolCategories(col("tools_used")).as("tool_categories")).as("tool_usage"),
      struct(
        Scoring.completenessScore(text).as("completeness_score"),
        Scoring.relevanceScore(text).as("relevance_score"),
        Scoring.helpfulnessScore(text).as("helpfulness_score"),
        Scoring.overallQualityScore(text).as("overall_quality_score"),
        Scoring.responseAppropriateness(text, tout).as("response_appropriateness")).as("quality_metrics"),
      struct(
        cost.as("estimated_cost_usd"),
        Scoring.costPerToken(cost, tin, tout).as("cost_per_token"),
        (size(convInd) > 0).as("has_conversion_indicators"),
        convInd.as("conversion_indicators"),
        TextAnalysis.supportResolution(text).as("support_resolution_type"),
        Scoring.businessValueScore(text, tout).as("business_value_score")).as("business_metrics"))
  }

  /** F31 tool_success_rate — successes/total over the results map; empty
    * or missing ⇒ 1.0; absent `success` key defaults true
    * (text_agent_transformer.py:292-300).
    */
  def toolSuccessRate(toolResults: Column): Column =
    when(toolResults.isNull || size(toolResults) === 0, 1.0)
      .otherwise(
        size(filter(map_values(toolResults),
          v => coalesce(v.getField("success"), lit(true)))).cast("double") /
          size(toolResults))

  /** F31 tool_categories — substring buckets, deduplicated; the reference
    * returns list(set(...)) whose order is unspecified, so we return a
    * sorted array (callers compare as sets).
    */
  def toolCategories(toolsUsed: Column): Column = {
    val cats = transform(coalesce(toolsUsed, array().cast("array<string>")), t => {
      val u = lower(t)
      when(u.contains("search") || u.contains("find") || u.contains("lookup"), "search")
        .when(u.contains("calc") || u.contains("math") || u.contains("compute"), "calculation")
        .when(u.contains("data") || u.contains("database") || u.contains("query"), "data_access")
        .when(u.contains("api") || u.contains("service") || u.contains("request"), "api_call")
        .otherwise("other")
    })
    array_sort(array_distinct(cats))
  }
}
