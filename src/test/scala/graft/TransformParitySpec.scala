package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.stages.{FrontendTransform, MarketoTransform, TextAgentTransform}

/** Golden parity tests: the reference's own canonical sample records
  * (examples/enhanced_pipeline_demo.py:33-99 — its only verification
  * artifacts, see FIXTURES.md §A) run through the reference transformers
  * produce the expected values asserted here.
  */
object Spark {
  // pinned at 4 cores so PlanSpec's plan-shape pins and the suite's
  // timing do not depend on the host
  lazy val session: SparkSession = Sessions.local(4)
}

class TransformParitySpec extends AnyFunSuite {
  lazy val spark = Spark.session
  import spark.implicits._

  // asOf far from the fixture's updatedAt so no recency bonus applies
  val AsOfMs = 1735689600000L // 2025-01-01T00:00:00Z

  test("marketo lead golden record (demo.py:33-52)") {
    val df = Seq(
      (12345L, "john.doe@acme-corp.com", "John", "Doe", "ACME Corporation",
        "VP of Engineering", "1-555-123-4567", "Website", "Organic Search",
        "New", "2024-01-15T10:30:00Z", "2024-01-15T14:22:00Z",
        "United States", "California", "San Francisco", "94105", null: String)
    ).toDF("id", "email", "firstName", "lastName", "company", "title", "phone",
      "leadSource", "originalSourceType", "leadStatus", "createdAt", "updatedAt",
      "country", "state", "city", "postalCode", "timezone")
    val r = MarketoTransform.enrich(df, AsOfMs).head()
    assert(r.getAs[Long]("lead_id") == 12345L)
    assert(r.getAs[String]("email") == "john.doe@acme-corp.com")
    assert(r.getAs[String]("phone") == "1-(555) 123-4567")
    assert(r.getAs[String]("lead_source") == "Website")
    assert(r.getAs[Long]("created_at") == 1705314600000L)
    assert(r.getAs[Long]("updated_at") == 1705328520000L)
    assert(r.getAs[String]("full_name") == "John Doe")
    assert(r.getAs[String]("email_domain") == "acme-corp.com")
    assert(r.getAs[Int]("lead_quality_score") == 85)
    val geo = r.getAs[Row]("geographic_info")
    assert(geo.getAs[String]("country") == "United States")
    assert(geo.getAs[String]("postal_code") == "94105")
    assert(geo.getAs[String]("timezone") == null)
  }

  test("marketo messy-data normalization goldens (demo.py:228-238)") {
    val df = Seq(
      (1L, "  JANE.SMITH@GMAIL.COM  ", "jane", null: String, "", null: String,
        "(555) 987-6543 ext 123", "web", null: String, null: String,
        null: String, null: String, null: String, null: String, null: String,
        null: String, null: String)
    ).toDF("id", "email", "firstName", "lastName", "company", "title", "phone",
      "leadSource", "originalSourceType", "leadStatus", "createdAt", "updatedAt",
      "country", "state", "city", "postalCode", "timezone")
    val r = MarketoTransform.enrich(df, AsOfMs).head()
    assert(r.getAs[String]("email") == "jane.smith@gmail.com")
    assert(r.getAs[String]("lead_source") == "Website")
    // 13 digits -> neither 10 nor 11-with-1 -> original trimmed
    assert(r.getAs[String]("phone") == "(555) 987-6543 ext 123")
    assert(r.getAs[String]("company") == null) // empty string -> NULL
    assert(r.getAs[String]("full_name") == "jane")
  }

  test("frontend event golden record (demo.py:54-72)") {
    val df = Seq(
      ("widget_open", 1705320000000L, "sess_abc123def456", "user_789xyz",
        "click", "chat_widget_v2",
        "https://acme-corp.com/products/enterprise-solution",
        "Enterprise Solutions | ACME Corp",
        "https://google.com/search?q=enterprise+crm",
        "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 Chrome/120.0.0.0",
        "1920x1080", "1200x800", 45L, null: java.lang.Long, null: java.lang.Long,
        null: java.lang.Long, null: java.lang.Boolean)
    ).toDF("event_type", "timestamp", "session_id", "user_id", "interaction_type",
      "widget_id", "page_url", "page_title", "referrer", "user_agent",
      "screen_resolution", "viewport_size", "time_on_page", "load_time_ms",
      "time_since_last_event", "session_duration", "page_load_complete")
    val r = FrontendTransform.enrich(df, AsOfMs).head()
    assert(r.getAs[String]("event_type") == "widget_open")
    val page = r.getAs[Row]("page_info")
    assert(page.getAs[String]("domain") == "acme-corp.com")
    assert(page.getAs[String]("path") == "/products/enterprise-solution")
    assert(page.getAs[String]("category") == "product")
    assert(page.getAs[String]("utm_source") == null)
    val ref = r.getAs[Row]("referrer_info")
    assert(ref.getAs[String]("referrer_domain") == "google.com")
    assert(ref.getAs[String]("referrer_type") == "search")
    val dev = r.getAs[Row]("device_info")
    assert(dev.getAs[String]("device_type") == "desktop")
    assert(dev.getAs[String]("browser") == "chrome")
    assert(dev.getAs[String]("operating_system") == "windows")
    assert(!dev.getAs[Boolean]("is_mobile"))
    assert(r.getAs[Long]("timestamp") == 1705320000000L)
    assert(r.getAs[String]("user_segment") == "engaged")
    assert(r.getAs[Int]("engagement_score") == 65)
    assert(r.getAs[String]("conversion_stage") == "consideration")
    assert(r.getAs[Int]("quality_score") == 100)
  }

  test("text-agent turn golden record (demo.py:74-99)") {
    val row = Row("sess_abc123def456", "turn_001", "user_789xyz", "web_chat",
      1705320060000L, "claude-3-sonnet", 150, 342, 1250.0,
      "I can help you with our enterprise CRM solution. Would you like me to schedule a demo with our solutions team?",
      Seq("web_search", "company_lookup", "pricing_calculator"),
      Map("web_search" -> Row(true), "company_lookup" -> Row(true),
        "pricing_calculator" -> Row(true)))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("session_id", StringType), StructField("turn_id", StringType),
      StructField("user_id", StringType), StructField("channel", StringType),
      StructField("timestamp", LongType), StructField("model", StringType),
      StructField("tokens_in", IntegerType), StructField("tokens_out", IntegerType),
      StructField("latency_ms", DoubleType), StructField("response_text", StringType),
      StructField("tools_used", ArrayType(StringType)),
      StructField("tool_results", MapType(StringType,
        StructType(Seq(StructField("success", BooleanType)))))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(row)), schema)
    val r = TextAgentTransform.enrich(df, AsOfMs).head()

    val mi = r.getAs[Row]("model_info")
    assert(mi.getAs[String]("model_family") == "claude")
    assert(mi.getAs[String]("estimated_size") == "unknown")
    assert(mi.getAs[scala.collection.Seq[String]]("capabilities").toSeq == Seq("text_generation"))
    assert(mi.getAs[String]("model_version") == "3")

    val pm = r.getAs[Row]("performance_metrics")
    assert(pm.getAs[Int]("total_tokens") == 492)
    assert(pm.getAs[Double]("tokens_per_second") == 273.6)
    assert(pm.getAs[Double]("compression_ratio") == 2.28)
    assert(pm.getAs[Int]("efficiency_score") == 100)

    val ca = r.getAs[Row]("content_analysis")
    assert(ca.getAs[Int]("response_length") == 110)
    assert(ca.getAs[Int]("word_count") == 21)
    assert(ca.getAs[Int]("sentence_count") == 2)
    assert(!ca.getAs[Boolean]("has_code_blocks"))
    assert(!ca.getAs[Boolean]("has_links"))
    assert(ca.getAs[String]("language") == "english")
    assert(ca.getAs[String]("sentiment") == "positive")
    assert(ca.getAs[scala.collection.Seq[String]]("topics").toSeq == Seq("support"))

    val tu = r.getAs[Row]("tool_usage")
    assert(tu.getAs[Int]("tools_count") == 3)
    assert(tu.getAs[Double]("tool_success_rate") == 1.0)
    assert(tu.getAs[scala.collection.Seq[String]]("tool_categories").toSet == Set("calculation", "search"))

    val qm = r.getAs[Row]("quality_metrics")
    assert(qm.getAs[Double]("completeness_score") == 80.0)
    assert(qm.getAs[Double]("relevance_score") == 70.0)
    assert(qm.getAs[Double]("helpfulness_score") == 70.0)
    assert(qm.getAs[Double]("overall_quality_score") == 73.3)
    assert(qm.getAs[String]("response_appropriateness") == "appropriate")

    val bm = r.getAs[Row]("business_metrics")
    assert(bm.getAs[Double]("estimated_cost_usd") == 0.009408)
    assert(math.abs(bm.getAs[Double]("cost_per_token") - 1.9121951219512193e-05) < 1e-18)
    assert(bm.getAs[Boolean]("has_conversion_indicators"))
    assert(bm.getAs[scala.collection.Seq[String]]("conversion_indicators").toSeq == Seq("demo_request"))
    assert(bm.getAs[String]("support_resolution_type") == "informational")
    assert(bm.getAs[Int]("business_value_score") == 90)
  }

  test("PII redaction goldens (base_transformer.py:65-83)") {
    import org.apache.spark.sql.functions.col
    val cases = Seq(
      "email me at joe@x.com" -> "email me at [EMAIL_REDACTED]",
      "call 555-123-4567 ok" -> "call [PHONE_REDACTED] ok",
      // \b before "(" never matches after a space — reference quirk kept
      "call (555) 123-4567 ok" -> "call (555) 123-4567 ok",
      "x(555) 123-4567" -> "x[PHONE_REDACTED]",
      "card 1234 5678 9012 3456" -> "card [CARD_REDACTED]",
      "ssn 123-45-6789" -> "ssn [SSN_REDACTED]")
    val df = cases.map(_._1).toDF("t")
      .withColumn("r", graft.functions.Pii.redact(col("t")))
    val got = df.collect().map(r => r.getString(0) -> r.getString(1))
    assert(got.toSeq == cases)
  }
}
