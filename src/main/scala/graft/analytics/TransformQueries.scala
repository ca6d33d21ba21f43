package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Num, Op, Tables}
import graft.functions._

/** Oracle-checked queries exercising the transform function library
  * (SURVEY.md §2.3 F5–F14, §2.4 SC1–SC14) on inputs synthesized
  * deterministically FROM the testdata tables. The Spark side uses the
  * graft.functions library; the DuckDB side mirrors the same semantics in
  * SQL — a differential test of every normalization/scoring rule at data
  * scale (the fixture goldens in TransformParitySpec pin the reference
  * semantics point-wise; these pin them set-wise).
  */
object TransformQueries {

  // ---- shared synthetic inputs (identical text in both dialects) ----

  private def nameClean: Column = regexp_replace(lower(col("c_name")), "#", ".")
  private val nameCleanSql = "replace(lower(c_name), '#', '.')"

  private def emailRaw: Column = {
    val k = col("c_custkey") % 4
    when(k === 0, concat(upper(nameClean), lit("@Gmail.COM")))
      .when(k === 1, concat(lit("  "), nameClean, lit("@Test.Org  ")))
      .when(k === 2, lit("bad email"))
      .otherwise(concat(nameClean, lit("@acme-corp.com")))
  }
  private val emailRawSql =
    s"""CASE c_custkey % 4
       | WHEN 0 THEN upper($nameCleanSql) || '@Gmail.COM'
       | WHEN 1 THEN '  ' || $nameCleanSql || '@Test.Org  '
       | WHEN 2 THEN 'bad email'
       | ELSE $nameCleanSql || '@acme-corp.com' END""".stripMargin.replace("\n", " ")

  private def digits10: Column =
    lpad((col("c_custkey") * 7 % 10000000000L).cast("string"), 10, "0")
  private val digits10Sql = "lpad(CAST(c_custkey * 7 % 10000000000 AS VARCHAR), 10, '0')"

  private def phoneRaw: Column = {
    val k = col("c_custkey") % 4
    when(k === 0, digits10)
      .when(k === 1, concat(lit("1"), digits10))
      .when(k === 2, concat(lit("+44 20 7946 "), col("c_custkey").cast("string")))
      .otherwise(lit(null).cast("string"))
  }
  private val phoneRawSql =
    s"""CASE c_custkey % 4
       | WHEN 0 THEN $digits10Sql
       | WHEN 1 THEN '1' || $digits10Sql
       | WHEN 2 THEN '+44 20 7946 ' || CAST(c_custkey AS VARCHAR)
       | ELSE NULL END""".stripMargin.replace("\n", " ")

  private def sourceRaw: Column = {
    val k = col("c_custkey") % 6
    when(k === 0, "web").when(k === 1, "ORGANIC SEARCH").when(k === 2, " referral ")
      .when(k === 3, "fax machine").when(k === 4, "direct mail").otherwise("Paid Search")
  }
  private val sourceRawSql =
    """CASE c_custkey % 6 WHEN 0 THEN 'web' WHEN 1 THEN 'ORGANIC SEARCH'
      | WHEN 2 THEN ' referral ' WHEN 3 THEN 'fax machine'
      | WHEN 4 THEN 'direct mail' ELSE 'Paid Search' END""".stripMargin.replace("\n", " ")

  private def firstRaw: Column =
    when(col("c_custkey") % 3 === 0, lit(null).cast("string"))
      .otherwise(concat(lit("First"), col("c_custkey").cast("string")))
  private val firstRawSql =
    "CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE 'First' || CAST(c_custkey AS VARCHAR) END"

  private def lastRaw: Column =
    when(col("c_custkey") % 5 === 0, lit("")).otherwise(concat(lit("Last"), col("c_custkey").cast("string")))
  private val lastRawSql =
    "CASE WHEN c_custkey % 5 = 0 THEN '' ELSE 'Last' || CAST(c_custkey AS VARCHAR) END"

  /** F3/F5/F6/F7/F8/F9 differential: normalize synthesized messy contacts. */
  def normalizeContacts(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      col("c_custkey"),
      Normalize.normalizeEmail(emailRaw).as("email"),
      Normalize.emailDomain(emailRaw).as("email_domain"),
      Normalize.normalizePhone(phoneRaw).as("phone"),
      Normalize.normalizeLeadSource(sourceRaw).as("lead_source"),
      Normalize.fullName(firstRaw, lastRaw).as("full_name"))

  val normalizeContactsSql: String = {
    val e = s"($emailRawSql)"
    val p = s"($phoneRawSql)"
    val digits = s"regexp_replace($p, '\\D', '', 'g')"
    // DuckDB has no initcap; emulate Spark initcap (upper first letter,
    // lower rest, space-separated words)
    val initcap = s"list_aggr(list_transform(string_split(($sourceRawSql), ' '), " +
      "x -> upper(x[1]) || lower(x[2:])), 'string_agg', ' ')"
    s"""SELECT c_custkey,
       |  CASE WHEN regexp_matches(lower(trim($e)), '^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}$$')
       |       THEN lower(trim($e)) END AS email,
       |  CASE WHEN $e IS NOT NULL AND contains($e, '@')
       |       THEN lower(split_part($e, '@', 2)) END AS email_domain,
       |  CASE WHEN $p IS NULL OR $p = '' THEN NULL
       |       WHEN length($digits) = 10
       |       THEN '(' || substr($digits,1,3) || ') ' || substr($digits,4,3) || '-' || substr($digits,7,4)
       |       WHEN length($digits) = 11 AND substr($digits,1,1) = '1'
       |       THEN '1-(' || substr($digits,2,3) || ') ' || substr($digits,5,3) || '-' || substr($digits,8,4)
       |       ELSE trim($p) END AS phone,
       |  coalesce(CASE lower(trim($sourceRawSql))
       |    WHEN 'web' THEN 'Website' WHEN 'website' THEN 'Website'
       |    WHEN 'organic search' THEN 'Organic Search' WHEN 'paid search' THEN 'Paid Search'
       |    WHEN 'social media' THEN 'Social Media' WHEN 'email' THEN 'Email Marketing'
       |    WHEN 'webinar' THEN 'Webinar' WHEN 'trade show' THEN 'Trade Show'
       |    WHEN 'referral' THEN 'Referral' WHEN 'direct mail' THEN 'Direct Mail' END,
       |    $initcap) AS lead_source,
       |  nullif(concat_ws(' ', nullif(trim($firstRawSql), ''), nullif(trim($lastRawSql), '')), '') AS full_name
       |FROM customer""".stripMargin
  }

  /** SC1 differential: lead quality scores over synthesized leads.
    * asOf-pinned recency; raw-field truthiness semantics.
    */
  def leadScores(spark: SparkSession, dir: String): DataFrame = {
    val asOfMs = 1706659200000L // 2024-01-31T00:00:00Z
    val updatedMs = lit(asOfMs) - (col("c_custkey") % 20) * 86400000L
    val company = when(col("c_custkey") % 2 === 0, "Acme Corp").otherwise(lit(null).cast("string"))
    val title = when(col("c_custkey") % 7 === 0, "VP").otherwise(lit(null).cast("string"))
    Tables.customer(spark, dir).select(
      col("c_custkey"),
      Scoring.leadScore(emailRaw, firstRaw, lastRaw, company, title, phoneRaw,
        sourceRaw, updatedMs, lit(asOfMs)).as("lead_quality_score"))
  }

  val leadScoresSql: String = {
    val e = s"($emailRawSql)"
    s"""SELECT c_custkey,
       |  least(
       |    (CASE WHEN $e IS NULL OR $e = '' THEN 0
       |          WHEN NOT contains($e, '@') THEN 0
       |          WHEN lower(split_part($e, '@', 2))
       |            IN ('gmail.com','yahoo.com','hotmail.com','outlook.com') THEN 5
       |          ELSE 20 END)
       |    + (CASE WHEN ($firstRawSql) IS NOT NULL AND ($firstRawSql) <> '' THEN 10 ELSE 0 END)
       |    + (CASE WHEN ($lastRawSql) IS NOT NULL AND ($lastRawSql) <> '' THEN 10 ELSE 0 END)
       |    + (CASE WHEN c_custkey % 2 = 0 THEN 10 ELSE 0 END)
       |    + (CASE WHEN c_custkey % 7 = 0 THEN 10 ELSE 0 END)
       |    + (CASE WHEN ($phoneRawSql) IS NOT NULL AND ($phoneRawSql) <> '' THEN 10 ELSE 0 END)
       |    + (CASE lower(coalesce($sourceRawSql, ''))
       |        WHEN 'referral' THEN 25 WHEN 'webinar' THEN 20 WHEN 'trade show' THEN 20
       |        WHEN 'organic search' THEN 15 WHEN 'website' THEN 15 WHEN 'paid search' THEN 10
       |        WHEN 'social media' THEN 10 WHEN 'email' THEN 5 ELSE 0 END)
       |    + (CASE WHEN c_custkey % 20 <= 1 THEN 10 WHEN c_custkey % 20 <= 7 THEN 5 ELSE 0 END),
       |  100) AS lead_quality_score
       |FROM customer""".stripMargin
  }

  // ---- F18 device parse over synthesized UAs ----

  val UaByType: Map[String, String] = Map(
    "view" -> "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 Chrome/120.0.0.0",
    "click" -> "Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X) AppleWebKit/605.1.15 Version/17.0 Mobile/15E148 Safari/604.1",
    "purchase" -> "Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/115.0",
    "signup" -> "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 Chrome/120.0.0.0 Edg/120.0.2210.91",
    "error" -> "Googlebot/2.1 (+http://www.google.com/bot.html)")

  private def uaCol: Column =
    UaByType.foldLeft(when(lit(false), "")) { case (acc, (t, ua)) =>
      acc.when(col("event_type") === t, ua)
    }.otherwise("")
  private val uaColSql: String =
    "CASE event_type " + UaByType.map { case (t, ua) => s"WHEN '$t' THEN '$ua'" }.mkString(" ") +
      " ELSE '' END"

  def deviceParse(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("ua", uaCol)
      .groupBy(
        DeviceInfo.deviceType(col("ua")).as("device_type"),
        DeviceInfo.browser(col("ua")).as("browser"),
        DeviceInfo.operatingSystem(col("ua")).as("operating_system"),
        DeviceInfo.isMobile(col("ua")).as("is_mobile"))
      .agg(count(lit(1)).as("n"))

  val deviceParseSql: String = {
    val ua = s"lower($uaColSql)"
    s"""SELECT
       |  CASE WHEN $ua = '' THEN 'unknown'
       |       WHEN contains($ua,'mobile') OR contains($ua,'iphone') OR contains($ua,'ipod') OR contains($ua,'android') THEN 'mobile'
       |       WHEN contains($ua,'tablet') OR contains($ua,'ipad') THEN 'tablet'
       |       ELSE 'desktop' END AS device_type,
       |  CASE WHEN $ua = '' THEN 'unknown'
       |       WHEN contains($ua,'chrome') AND NOT contains($ua,'edg') THEN 'chrome'
       |       WHEN contains($ua,'firefox') THEN 'firefox'
       |       WHEN contains($ua,'safari') AND NOT contains($ua,'chrome') THEN 'safari'
       |       WHEN contains($ua,'edg') THEN 'edge'
       |       WHEN contains($ua,'opera') THEN 'opera'
       |       ELSE 'other' END AS browser,
       |  CASE WHEN $ua = '' THEN 'unknown'
       |       WHEN contains($ua,'windows') THEN 'windows'
       |       WHEN contains($ua,'mac os') OR contains($ua,'macos') THEN 'macos'
       |       WHEN contains($ua,'linux') THEN 'linux'
       |       WHEN contains($ua,'android') THEN 'android'
       |       WHEN contains($ua,'ios') OR contains($ua,'iphone') OR contains($ua,'ipad') THEN 'ios'
       |       ELSE 'other' END AS operating_system,
       |  CASE WHEN $ua = '' THEN false
       |       ELSE contains($ua,'mobile') OR contains($ua,'iphone') OR contains($ua,'ipod')
       |            OR contains($ua,'android') OR contains($ua,'blackberry') OR contains($ua,'windows phone') END AS is_mobile,
       |  count(*) AS n
       |FROM events GROUP BY 1, 2, 3, 4""".stripMargin
  }

  // ---- F15–F17 + SC4/SC5 over synthesized URLs ----

  private def urlCol: Column = {
    val k = get_json_object(col("props"), "$.k").cast("int")
    val base = concat(lit("https://shop"), (col("user_id") % 3).cast("string"), lit(".example.com"))
    concat(base,
      when(col("event_type") === "view", concat(lit("/product/p"), k.cast("string")))
        .when(col("event_type") === "click", lit("/search?q=crm&utm_source=google"))
        .when(col("event_type") === "purchase", lit("/checkout/cart"))
        .when(col("event_type") === "signup", lit("/account/profile"))
        .otherwise(lit("/")))
  }
  private val urlColSql: String =
    """'https://shop' || CAST(user_id % 3 AS VARCHAR) || '.example.com' ||
      | CASE event_type
      |  WHEN 'view' THEN '/product/p' || CAST(CAST(json_extract_string(props,'$.k') AS INT) AS VARCHAR)
      |  WHEN 'click' THEN '/search?q=crm&utm_source=google'
      |  WHEN 'purchase' THEN '/checkout/cart'
      |  WHEN 'signup' THEN '/account/profile'
      |  ELSE '/' END""".stripMargin.replace("\n", " ")

  private def referrerCol: Column = {
    val k = col("user_id") % 4
    when(k === 0, "https://google.com/search?q=x")
      .when(k === 1, "https://facebook.com/page/1")
      .when(k === 2, "https://partner.site.io/article")
      .otherwise("")
  }
  private val referrerColSql: String =
    """CASE user_id % 4 WHEN 0 THEN 'https://google.com/search?q=x'
      | WHEN 1 THEN 'https://facebook.com/page/1'
      | WHEN 2 THEN 'https://partner.site.io/article' ELSE '' END""".stripMargin.replace("\n", " ")

  def urlReferrer(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("url", urlCol).withColumn("referrer", referrerCol)
      // materialize parse_url outputs once — the contains-chains below
      // reference them ~20×, and per-reference URL re-parsing would
      // otherwise dominate the scan
      .withColumn("path", UrlInfo.urlPath(col("url")))
      .withColumn("rdomain", lower(UrlInfo.urlDomain(col("referrer"))))
      .groupBy(
        UrlInfo.pageCategory(col("path")).as("page_category"),
        UrlInfo.referrerType(col("rdomain")).as("referrer_type"),
        Scoring.userSegment(col("url"), col("event_type"), col("referrer")).as("user_segment"),
        Scoring.conversionStage(col("event_type"), col("url")).as("conversion_stage"))
      .agg(count(lit(1)).as("n"))

  val urlReferrerSql: String = {
    val url = s"($urlColSql)"
    val rf = s"($referrerColSql)"
    val path = s"lower(regexp_extract($url, '^[a-z]+://[^/]+([^?#]*)', 1))"
    val rdom = s"lower(regexp_extract($rf, '^[a-z]+://([^/]+)', 1))"
    val lurl = s"lower($url)"
    s"""SELECT
       |  CASE WHEN $path = '' OR $path = '/' THEN 'homepage'
       |       WHEN contains($path,'/product') OR contains($path,'/p/') THEN 'product'
       |       WHEN contains($path,'/category') OR contains($path,'/c/') OR contains($path,'/collection') THEN 'category'
       |       WHEN contains($path,'/cart') OR contains($path,'/checkout') THEN 'checkout'
       |       WHEN contains($path,'/about') OR contains($path,'/company') THEN 'about'
       |       WHEN contains($path,'/contact') OR contains($path,'/support') THEN 'contact'
       |       WHEN contains($path,'/blog') OR contains($path,'/news') OR contains($path,'/article') THEN 'content'
       |       WHEN contains($path,'/search') OR contains($path,'/results') THEN 'search'
       |       WHEN contains($path,'/account') OR contains($path,'/profile') OR contains($path,'/dashboard') THEN 'account'
       |       ELSE 'other' END AS page_category,
       |  CASE WHEN $rf = '' OR $rdom = '' THEN 'direct'
       |       WHEN contains($rdom,'google.com') OR contains($rdom,'bing.com') OR contains($rdom,'yahoo.com')
       |            OR contains($rdom,'duckduckgo.com') OR contains($rdom,'baidu.com')
       |            OR contains($rdom,'yandex.com') OR contains($rdom,'ask.com') THEN 'search'
       |       WHEN contains($rdom,'facebook.com') OR contains($rdom,'twitter.com') OR contains($rdom,'linkedin.com')
       |            OR contains($rdom,'instagram.com') OR contains($rdom,'pinterest.com') OR contains($rdom,'youtube.com')
       |            OR contains($rdom,'tiktok.com') OR contains($rdom,'snapchat.com') OR contains($rdom,'reddit.com')
       |            OR contains($rdom,'tumblr.com') THEN 'social'
       |       WHEN contains($rdom,'gmail.com') OR contains($rdom,'outlook.com') OR contains($rdom,'mail.google.com')
       |            OR contains($rdom,'webmail') OR contains($rdom,'mail.') THEN 'email'
       |       ELSE 'referral' END AS referrer_type,
       |  CASE WHEN contains($lurl,'checkout') OR event_type = 'purchase' THEN 'buyer'
       |       WHEN event_type IN ('widget_open','message_sent') THEN 'engaged'
       |       WHEN contains($lurl,'product') THEN 'browser'
       |       WHEN $rf = '' THEN 'direct'
       |       ELSE 'visitor' END AS user_segment,
       |  CASE WHEN event_type = 'purchase' OR contains($lurl,'thank-you') THEN 'conversion'
       |       WHEN contains($lurl,'checkout') OR contains($lurl,'cart') THEN 'purchase_intent'
       |       WHEN event_type = 'widget_open' OR contains($lurl,'contact') THEN 'consideration'
       |       WHEN contains($lurl,'product') THEN 'interest'
       |       ELSE 'awareness' END AS conversion_stage,
       |  count(*) AS n
       |FROM events GROUP BY 1, 2, 3, 4""".stripMargin
  }

  // ---- F26–F28 + SC8–SC11 text quality over documents ----

  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextAnalysis.responseLength(t).as("response_length"),
      TextAnalysis.wordCount(t).as("word_count"),
      TextAnalysis.sentenceCount(t).as("sentence_count"),
      TextAnalysis.language(t).as("language"),
      TextAnalysis.sentiment(t).as("sentiment"),
      Scoring.completenessScore(t).as("completeness_score"),
      Scoring.relevanceScore(t).as("relevance_score"),
      Scoring.helpfulnessScore(t).as("helpfulness_score"),
      Scoring.overallQualityScore(t).as("overall_quality_score"))
  }

  val textQualitySql: String = {
    val t = "text"
    val lt = s"lower($t)"
    def inList(words: Seq[String]) = words.map(w => s"'$w'").mkString("(", ",", ")")
    def langCount(words: Seq[String]) =
      s"len(list_filter((string_split_regex(trim(lower($t)), '\\s+'))[1:50], x -> x IN ${inList(words)}))"
    val en = langCount(TextAnalysis.EnglishWords)
    val es = langCount(TextAnalysis.SpanishWords)
    val fr = langCount(TextAnalysis.FrenchWords)
    def substrCount(words: Seq[String]) =
      words.map(w => s"(CASE WHEN contains($lt, '$w') THEN 1 ELSE 0 END)").mkString(" + ")
    val pos = substrCount(TextAnalysis.PositiveWords)
    val neg = substrCount(TextAnalysis.NegativeWords)
    val completeness =
      s"""CASE WHEN $t IS NULL OR $t = '' THEN 0.0 ELSE least(50.0
         | + (CASE WHEN length($t) > 100 THEN 20 ELSE 0 END)
         | + (CASE WHEN length($t) > 500 THEN 10 ELSE 0 END)
         | + (CASE WHEN contains($t, '.') THEN 10 ELSE 0 END)
         | + (CASE WHEN contains($t, chr(10)) THEN 5 ELSE 0 END)
         | + (CASE WHEN contains($lt,'however') OR contains($lt,'additionally') OR contains($lt,'furthermore') THEN 5 ELSE 0 END),
         | 100.0) END""".stripMargin.replace("\n", " ")
    val relevance =
      s"""CASE WHEN $t IS NULL OR $t = '' THEN 0.0 ELSE least(70.0
         | + (CASE WHEN contains($lt,'sorry') AND contains($lt,'help') THEN -20 ELSE 0 END)
         | + (CASE WHEN contains($lt,'specifically') OR contains($lt,'exactly') OR contains($lt,'precisely') THEN 10 ELSE 0 END),
         | 100.0) END""".stripMargin.replace("\n", " ")
    val helpfulCount = Scoring.HelpfulIndicators
      .map(w => s"(CASE WHEN contains($lt, '$w') THEN 1 ELSE 0 END)").mkString(" + ")
    val helpfulness =
      s"""CASE WHEN $t IS NULL OR $t = '' THEN 0.0 ELSE greatest(least(60.0
         | + least(($helpfulCount) * 5, 30)
         | + (CASE WHEN contains($lt,'cannot') OR contains($lt,'can''t') THEN -15 ELSE 0 END)
         | + (CASE WHEN contains($lt,'sorry') THEN -5 ELSE 0 END),
         | 100.0), 0.0) END""".stripMargin.replace("\n", " ")
    s"""SELECT doc_id,
       |  CASE WHEN $t IS NULL THEN 0 ELSE length($t) END AS response_length,
       |  CASE WHEN $t IS NULL OR length(trim($t)) = 0 THEN 0
       |       ELSE len(string_split_regex(trim($t), '\\s+')) END AS word_count,
       |  CASE WHEN $t IS NULL THEN 0
       |       ELSE length($t) - length(replace(replace(replace($t,'.',''),'!',''),'?','')) END AS sentence_count,
       |  CASE WHEN $t IS NULL OR $t = '' THEN 'unknown'
       |       WHEN $en >= $es AND $en >= $fr THEN 'english'
       |       WHEN $es > $fr THEN 'spanish'
       |       WHEN $fr > 0 THEN 'french'
       |       ELSE 'unknown' END AS language,
       |  CASE WHEN $t IS NULL OR $t = '' THEN 'neutral'
       |       WHEN ($pos) > ($neg) THEN 'positive'
       |       WHEN ($neg) > ($pos) THEN 'negative'
       |       ELSE 'neutral' END AS sentiment,
       |  ($completeness) AS completeness_score,
       |  ($relevance) AS relevance_score,
       |  ($helpfulness) AS helpfulness_score,
       |  ${Num.rSql(s"(($completeness) + ($relevance) + ($helpfulness)) / 3", 1)} AS overall_quality_score
       |FROM documents""".stripMargin
  }

  // ---- F2 PII redaction over documents with injected PII ----

  private def piiText: Column =
    concat(col("text"),
      lit(" Contact user"), col("doc_id").cast("string"),
      lit("@example.com card 4111 1111 1111 1111 tel 555-123-4567 ssn 123-45-6789 end"))
  private val piiTextSql =
    "text || ' Contact user' || CAST(doc_id AS VARCHAR) || " +
      "'@example.com card 4111 1111 1111 1111 tel 555-123-4567 ssn 123-45-6789 end'"

  def piiRedact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      Pii.redact(piiText).as("redacted"))

  val piiRedactSql: String =
    s"SELECT doc_id, ${Pii.redactSql(s"($piiTextSql)")} AS redacted FROM documents"

  // ---- F21–F25, F32, SC7, SC12 over events with synthesized models ----

  val ModelByType: Map[String, String] = Map(
    "view" -> "gpt-4-turbo", "click" -> "claude-3-opus",
    "purchase" -> "llama-2-70b-chat", "signup" -> "gemini-pro-vision",
    "error" -> "mistral-7b-instruct-v0.2")

  private def modelCol: Column =
    ModelByType.foldLeft(when(lit(false), "")) { case (acc, (t, m)) =>
      acc.when(col("event_type") === t, m)
    }.otherwise("unknown")
  private val modelColSql: String =
    "CASE event_type " + ModelByType.map { case (t, m) => s"WHEN '$t' THEN '$m'" }.mkString(" ") +
      " ELSE 'unknown' END"

  def modelCosts(spark: SparkSession, dir: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("int")
    val tin = (k + 1) * 3
    val tout = floor(col("value") * 2).cast("int")
    val lat = ((k + 1) * 50).cast("double")
    val m = modelCol
    Tables.events(spark, dir).select(
      col("event_id"),
      ModelInfo.modelFamily(m).as("model_family"),
      ModelInfo.modelSize(m).as("model_size"),
      ModelInfo.modelVersion(m).as("model_version"),
      CostModel.estimateCost(tin, tout, m).as("estimated_cost_usd"),
      Scoring.efficiencyScore(tout, lat).as("efficiency_score"),
      ModelInfo.tokensPerSecond(tout, lat).as("tokens_per_second"),
      ModelInfo.compressionRatio(tin, tout).as("compression_ratio"),
      Scoring.responseAppropriateness(lit("x"), tout).as("response_appropriateness"))
  }

  val modelCostsSql: String = {
    val m = s"($modelColSql)"
    val lm = s"lower($m)"
    val k = "CAST(json_extract_string(props,'$.k') AS INT)"
    val tin = s"(($k + 1) * 3)"
    val tout = s"CAST(floor(value * 2) AS INT)"
    val lat = s"CAST((($k + 1) * 50) AS DOUBLE)"
    val family =
      s"""CASE WHEN contains($lm,'gpt') THEN 'gpt' WHEN contains($lm,'claude') THEN 'claude'
         | WHEN contains($lm,'llama') THEN 'llama' WHEN contains($lm,'palm') THEN 'palm'
         | WHEN contains($lm,'gemini') THEN 'gemini' ELSE 'other' END""".stripMargin.replace("\n", " ")
    val rin = s"CASE WHEN ($family) = 'claude' THEN 0.008 ELSE 0.01 END"
    val rout = s"CASE WHEN ($family) = 'claude' THEN 0.024 ELSE 0.02 END"
    val tps = s"($tout / ($lat / 1000.0))"
    s"""SELECT event_id,
       |  ($family) AS model_family,
       |  CASE WHEN contains($lm,'large') OR contains($lm,'xl') OR contains($lm,'70b') OR contains($lm,'175b') THEN 'large'
       |       WHEN contains($lm,'medium') OR contains($lm,'base') OR contains($lm,'13b') OR contains($lm,'30b') THEN 'medium'
       |       WHEN contains($lm,'small') OR contains($lm,'mini') OR contains($lm,'7b') THEN 'small'
       |       ELSE 'unknown' END AS model_size,
       |  nullif(regexp_extract($m, 'v?\\d+(\\.\\d+)*', 0), '') AS model_version,
       |  ${Num.rSql(s"$tin / 1000.0 * ($rin) + $tout / 1000.0 * ($rout)", 6)} AS estimated_cost_usd,
       |  CASE WHEN $lat <= 0 THEN 0
       |       WHEN $tps > 50 THEN 100 WHEN $tps > 25 THEN 80 WHEN $tps > 10 THEN 60
       |       WHEN $tps > 5 THEN 40 WHEN $tps > 1 THEN 20 ELSE 10 END AS efficiency_score,
       |  ${Num.rSql(tps, 2)} AS tokens_per_second,
       |  ${Num.rSql(s"CAST($tout AS DOUBLE) / $tin", 2)} AS compression_ratio,
       |  CASE WHEN $tout < 10 THEN 'too_short' WHEN $tout > 1000 THEN 'very_long'
       |       WHEN $tout > 500 THEN 'long' WHEN $tout > 100 THEN 'appropriate'
       |       ELSE 'concise' END AS response_appropriateness
       |FROM events""".stripMargin
  }

  // ---- F11/F13/SC2 marketo activity enrichment ----

  def activityEnrich(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      // parse the JSON payload once, not once per derived key
      .withColumn("aid", get_json_object(col("props"), "$.k").cast("int") % 120)
      .groupBy(
        Normalize.activityTypeName(col("aid")).as("activity_type"),
        Normalize.activityCategory(col("aid")).as("activity_category"),
        Scoring.activityEngagementScore(col("aid")).as("engagement_score"))
      .agg(count(lit(1)).as("n"))

  val activityEnrichSql: String = {
    val id = "(CAST(json_extract_string(props,'$.k') AS INT) % 120)"
    val nameCases = Normalize.ActivityTypeMap.toSeq.sortBy(_._1)
      .map { case (i, n) => s"WHEN $i THEN '$n'" }.mkString(" ")
    val scoreCases = Scoring.ActivityEngagementScores.toSeq.sortBy(_._1)
      .map { case (i, s) => s"WHEN $i THEN $s" }.mkString(" ")
    s"""SELECT
       |  CASE $id $nameCases ELSE 'Unknown Activity (' || CAST($id AS VARCHAR) || ')' END AS activity_type,
       |  CASE WHEN $id IN (6,7,8,9,10,11) THEN 'email' WHEN $id IN (1,3) THEN 'web'
       |       WHEN $id = 2 THEN 'form' WHEN $id = 104 THEN 'content'
       |       WHEN $id IN (110,113) THEN 'event' WHEN $id IN (24,25) THEN 'campaign'
       |       WHEN $id IN (12,13) THEN 'data' WHEN $id = 22 THEN 'engagement'
       |       ELSE 'other' END AS activity_category,
       |  CASE $id $scoreCases ELSE 5 END AS engagement_score,
       |  count(*) AS n
       |FROM events GROUP BY 1, 2, 3""".stripMargin
  }

  // ---- F14 event-type normalization + F35/S11 envelope flatten ----

  def eventNorm(spark: SparkSession, dir: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("int")
    val messy = when(k % 3 === 0, upper(col("event_type")))
      .when(k % 3 === 1, concat(col("event_type"), lit("-EXTRA")))
      .otherwise(col("event_type"))
    Tables.events(spark, dir)
      .groupBy(Normalize.normalizeEventType(messy).as("event_type_norm"))
      .agg(count(lit(1)).as("n"))
  }

  val eventNormSql: String = {
    val k = "CAST(json_extract_string(props,'$.k') AS INT)"
    val messy = s"CASE $k % 3 WHEN 0 THEN upper(event_type) WHEN 1 THEN event_type || '-EXTRA' ELSE event_type END"
    s"""SELECT CASE WHEN ($messy) IS NULL OR ($messy) = '' THEN 'unknown'
       |            ELSE lower(replace(($messy), '-', '_')) END AS event_type_norm,
       |       count(*) AS n
       |FROM events GROUP BY 1""".stripMargin
  }

  def envelopeFlatten(spark: SparkSession, dir: String): DataFrame = {
    // payload columns renamed so the envelope's own event_id does not
    // collide with data.* on flatten
    val enriched = Tables.events(spark, dir)
      .select(col("event_id").as("src_event_id"), col("user_id"), col("value"),
        unix_millis(col("ts")).as("ts_ms_src"))
    val wrapped = graft.stages.Envelope.wrap(
      enriched, "frontend.interaction.transformed", "graft_events",
      col("ts_ms_src"), concat(lit("ev-"), col("src_event_id").cast("string")),
      appliedAtMs = 1706659200000L)
    graft.stages.Envelope.flattenForWarehouse(wrapped)
      .select(col("event_id"), col("event_type"), col("source"), col("event_ts"),
        col("user_id"), col("value"))
  }

  val envelopeFlattenSql: String =
    """SELECT 'ev-' || CAST(event_id AS VARCHAR) AS event_id,
      |       'frontend.interaction.transformed' AS event_type,
      |       'graft_events' AS source,
      |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
      |       user_id, value
      |FROM events""".stripMargin

  /** SC15 cross-source combined score (enhanced_pipeline_demo.py:258-276,
    * J5): lead quality × frontend engagement × agent efficiency joined at
    * a shared grain (deterministic bucket = key % 10 here), mean-combined
    * with the 3-band recommendation.
    */
  def combinedScore(spark: SparkSession, dir: String): DataFrame = {
    val asOfMs = 1706659200000L
    val updatedMs = lit(asOfMs) - (col("c_custkey") % 20) * 86400000L
    val company = when(col("c_custkey") % 2 === 0, "Acme Corp").otherwise(lit(null).cast("string"))
    val title = when(col("c_custkey") % 7 === 0, "VP").otherwise(lit(null).cast("string"))
    val leads = Tables.customer(spark, dir)
      .select((col("c_custkey") % 10).as("bucket"),
        Scoring.leadScore(emailRaw, firstRaw, lastRaw, company, title, phoneRaw,
          sourceRaw, updatedMs, lit(asOfMs)).as("ls"))
      .groupBy(col("bucket")).agg(avg(col("ls")).as("avg_lead_score"))
    val k = get_json_object(col("props"), "$.k").cast("int")
    val engagement = Tables.events(spark, dir)
      .select((col("user_id") % 10).as("bucket"),
        Scoring.engagementScore(col("event_type"), col("value").cast("int")).as("es"),
        Scoring.efficiencyScore(floor(col("value") * 2).cast("int"),
          ((k + 1) * 50).cast("double")).as("qs"))
      .groupBy(col("bucket"))
      .agg(avg(col("es")).as("avg_engagement"), avg(col("qs")).as("avg_quality"))
    val combined = graft.Num.r(
      (col("avg_lead_score") + col("avg_engagement") + col("avg_quality")) / 3, 4)
    leads.join(engagement, Seq("bucket"))
      .select(col("bucket"),
        graft.Num.r(col("avg_lead_score"), 4).as("avg_lead_score"),
        graft.Num.r(col("avg_engagement"), 4).as("avg_engagement"),
        graft.Num.r(col("avg_quality"), 4).as("avg_quality"),
        combined.as("combined_score"),
        when(combined >= 80, "high_priority").when(combined >= 60, "medium_priority")
          .otherwise("low_priority").as("recommendation"))
  }

  val combinedScoreSql: String = {
    val e = s"($emailRawSql)"
    val leadScoreExpr =
      s"""least(
         |    (CASE WHEN $e IS NULL OR $e = '' THEN 0
         |          WHEN NOT contains($e, '@') THEN 0
         |          WHEN lower(split_part($e, '@', 2))
         |            IN ('gmail.com','yahoo.com','hotmail.com','outlook.com') THEN 5
         |          ELSE 20 END)
         |    + (CASE WHEN ($firstRawSql) IS NOT NULL AND ($firstRawSql) <> '' THEN 10 ELSE 0 END)
         |    + (CASE WHEN ($lastRawSql) IS NOT NULL AND ($lastRawSql) <> '' THEN 10 ELSE 0 END)
         |    + (CASE WHEN c_custkey % 2 = 0 THEN 10 ELSE 0 END)
         |    + (CASE WHEN c_custkey % 7 = 0 THEN 10 ELSE 0 END)
         |    + (CASE WHEN ($phoneRawSql) IS NOT NULL AND ($phoneRawSql) <> '' THEN 10 ELSE 0 END)
         |    + (CASE lower(coalesce($sourceRawSql, ''))
         |        WHEN 'referral' THEN 25 WHEN 'webinar' THEN 20 WHEN 'trade show' THEN 20
         |        WHEN 'organic search' THEN 15 WHEN 'website' THEN 15 WHEN 'paid search' THEN 10
         |        WHEN 'social media' THEN 10 WHEN 'email' THEN 5 ELSE 0 END)
         |    + (CASE WHEN c_custkey % 20 <= 1 THEN 10 WHEN c_custkey % 20 <= 7 THEN 5 ELSE 0 END),
         |  100)""".stripMargin
    val kSql = "CAST(json_extract_string(props,'$.k') AS INT)"
    val tout = "CAST(floor(value * 2) AS INT)"
    val lat = s"CAST((($kSql + 1) * 50) AS DOUBLE)"
    val tps = s"($tout / ($lat / 1000.0))"
    val esSql =
      """least(
        |  (CASE event_type WHEN 'purchase' THEN 100 WHEN 'form_submit' THEN 80
        |        WHEN 'widget_open' THEN 60 WHEN 'message_sent' THEN 70
        |        WHEN 'click' THEN 20 WHEN 'scroll' THEN 10 WHEN 'page_view' THEN 15 ELSE 5 END)
        |  + (CASE WHEN CAST(floor(value) AS INT) > 300 THEN 20 WHEN CAST(floor(value) AS INT) > 120 THEN 10
        |          WHEN CAST(floor(value) AS INT) > 30 THEN 5 ELSE 0 END), 100)""".stripMargin
    val qsSql =
      s"""CASE WHEN $lat <= 0 THEN 0
         |     WHEN $tps > 50 THEN 100 WHEN $tps > 25 THEN 80 WHEN $tps > 10 THEN 60
         |     WHEN $tps > 5 THEN 40 WHEN $tps > 1 THEN 20 ELSE 10 END""".stripMargin
    val comb = Num.rSql("(avg_lead_score + avg_engagement + avg_quality) / 3", 4)
    s"""WITH leads AS (
       |  SELECT c_custkey % 10 AS bucket, avg($leadScoreExpr) AS avg_lead_score
       |  FROM customer GROUP BY 1),
       |eng AS (
       |  SELECT user_id % 10 AS bucket, avg($esSql) AS avg_engagement,
       |         avg($qsSql) AS avg_quality
       |  FROM events GROUP BY 1)
       |SELECT leads.bucket,
       |  ${Num.rSql("avg_lead_score", 4)} AS avg_lead_score,
       |  ${Num.rSql("avg_engagement", 4)} AS avg_engagement,
       |  ${Num.rSql("avg_quality", 4)} AS avg_quality,
       |  $comb AS combined_score,
       |  CASE WHEN $comb >= 80 THEN 'high_priority'
       |       WHEN $comb >= 60 THEN 'medium_priority'
       |       ELSE 'low_priority' END AS recommendation
       |FROM leads JOIN eng ON leads.bucket = eng.bucket""".stripMargin
  }

  /** SC3-extended [spec-only] engagement with scroll/form bonuses
    * (TRANSFORM_LAYER_BENEFITS.md:113-124).
    */
  def engagementExtended(spark: SparkSession, dir: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("int")
    Tables.events(spark, dir)
      .groupBy(Scoring.engagementScoreExtended(
        col("event_type"), floor(col("value")).cast("int"), k,
        col("event_type") === "signup").as("engagement_score"))
      .agg(count(lit(1)).as("n"))
  }

  val engagementExtendedSql: String = {
    val k = "CAST(json_extract_string(props,'$.k') AS INT)"
    s"""SELECT least(
       |  (CASE event_type WHEN 'purchase' THEN 100 WHEN 'form_submit' THEN 80
       |        WHEN 'widget_open' THEN 60 WHEN 'message_sent' THEN 70
       |        WHEN 'click' THEN 20 WHEN 'scroll' THEN 10 WHEN 'page_view' THEN 15 ELSE 5 END)
       |  + (CASE WHEN CAST(floor(value) AS INT) > 300 THEN 20 ELSE 0 END)
       |  + (CASE WHEN $k > 75 THEN 15 ELSE 0 END)
       |  + (CASE WHEN event_type = 'signup' THEN 25 ELSE 0 END), 100) AS engagement_score,
       |  count(*) AS n
       |FROM events GROUP BY 1""".stripMargin
  }

  val ops: Seq[Op] = Seq(
    Op("q_engagement_extended", engagementExtended, engagementExtendedSql),
    Op("q_combined_score", combinedScore, combinedScoreSql),
    Op("q_normalize_contacts", normalizeContacts, normalizeContactsSql),
    Op("q_lead_scores", leadScores, leadScoresSql),
    Op("q_device_parse", deviceParse, deviceParseSql),
    Op("q_url_referrer", urlReferrer, urlReferrerSql),
    Op("q_text_quality", textQuality, textQualitySql),
    Op("q_pii_redact", piiRedact, piiRedactSql),
    Op("q_model_costs", modelCosts, modelCostsSql),
    Op("q_activity_enrich", activityEnrich, activityEnrichSql),
    Op("q_event_norm", eventNorm, eventNormSql),
    Op("q_envelope_flatten", envelopeFlatten, envelopeFlattenSql))
}
