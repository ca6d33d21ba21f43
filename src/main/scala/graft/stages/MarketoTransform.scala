package graft.stages

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{Normalize, Scoring}

/** Marketo lead transform stage (SURVEY.md §3 Trace 1;
  * etl/transform/marketo_transformer.py:21-62).
  *
  * DataFrame→DataFrame: validates required fields (P1), normalizes
  * contacts (F5–F7, F3), derives full_name/email_domain/geo (F8–F10) and
  * the lead quality score (SC1). One narrow projection — no shuffle; at
  * 100 TB this is a pure map stage that pipelines with the scan.
  */
object MarketoTransform {
  val RequiredFields = Seq("id", "email")

  /** Enrich raw leads; `asOfMs` pins SC1 recency and F1 parse fallback
    * (reference uses wall-clock now()).
    *
    * TWO chained projections, deliberately non-collapsible (JIT-cliff
    * headroom, VERDICT r9 #7): one fused projection generated a single
    * ~7.2k-bytecode consume method against HotSpot's 8 000 compile
    * refusal — one more enrichment column would have pushed the whole
    * fused stage (scan + filter + join consumers included) into the
    * interpreter. With `spark.sql.codegen.splitConsumeFuncByOperator`
    * (default on) each Project gets its own consume method, so splitting
    * the chain halves the widest method — IF CollapseProject doesn't
    * merge the pair back. The blocker is `_recency_ms`: a non-cheap
    * alias (rlike + try_to_timestamp) that leadScore references twice
    * (null gate + day arithmetic), which trips CollapseProject's
    * multi-reference guard for the whole Project pair. Semantically the
    * split is the identity: same expressions, same columns, and
    * RegistrySweepSpec pins the resulting method sizes.
    */
  def enrich(raw: DataFrame, asOfMs: Long): DataFrame = {
    val asOf = lit(asOfMs)
    def oc(n: String) = Validation.optCol(raw, n)
    // stage 1: string/timestamp normalization (the regex-heavy half) +
    // cheap raw pass-throughs the scoring stage consumes
    val normalized = raw.filter(Validation.hasRequired(RequiredFields)).select(
      col("id").cast("long").as("lead_id"),
      Normalize.normalizeEmail(col("email")).as("email"),
      Normalize.normString(col("firstName")).as("first_name"),
      Normalize.normString(col("lastName")).as("last_name"),
      Normalize.normString(col("company")).as("company"),
      Normalize.normString(col("title")).as("title"),
      Normalize.normalizePhone(col("phone")).as("phone"),
      Normalize.normalizeLeadSource(col("leadSource")).as("lead_source"),
      Normalize.normString(col("originalSourceType")).as("original_source_type"),
      Normalize.normString(col("leadStatus")).as("lead_status"),
      Normalize.standardizeTsStr(col("createdAt"), asOf).as("created_at"),
      Normalize.standardizeTsStr(col("updatedAt"), asOf).as("updated_at"),
      Normalize.fullName(col("firstName"), col("lastName")).as("full_name"),
      Normalize.emailDomain(col("email")).as("email_domain"),
      // recency uses recencyTsStr (NULL on naive/unparseable updatedAt — the
      // reference's try/except awards no bonus there), while the updated_at
      // OUTPUT column above keeps standardizeTsStr's asOf fallback mirroring
      // the reference's now() fallback.
      Normalize.recencyTsStr(col("updatedAt")).as("_recency_ms"),
      col("email").as("_r_email"),
      col("firstName").as("_r_first"),
      col("lastName").as("_r_last"),
      col("company").as("_r_company"),
      col("title").as("_r_title"),
      col("phone").as("_r_phone"),
      col("leadSource").as("_r_source"),
      oc("country").as("_r_country"),
      oc("state").as("_r_state"),
      oc("city").as("_r_city"),
      oc("postalCode").as("_r_postal"),
      oc("timezone").as("_r_tz"))
    // stage 2: SC1 scoring + geo struct assembly over stage-1 columns
    normalized.select(
      col("lead_id"), col("email"), col("first_name"), col("last_name"),
      col("company"), col("title"), col("phone"), col("lead_source"),
      col("original_source_type"), col("lead_status"),
      col("created_at"), col("updated_at"), col("full_name"),
      col("email_domain"),
      Scoring.leadScore(col("_r_email"), col("_r_first"), col("_r_last"),
        col("_r_company"), col("_r_title"), col("_r_phone"),
        col("_r_source"), col("_recency_ms"), asOf).as("lead_quality_score"),
      struct(
        Normalize.normString(col("_r_country")).as("country"),
        Normalize.normString(col("_r_state")).as("state"),
        Normalize.normString(col("_r_city")).as("city"),
        Normalize.normString(col("_r_postal")).as("postal_code"),
        Normalize.normString(col("_r_tz")).as("timezone")).as("geographic_info"))
  }
}
