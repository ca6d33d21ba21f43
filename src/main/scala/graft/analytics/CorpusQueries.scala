package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Num, Op, Tables}
import graft.functions.{Pii, TextAnalysis}
import graft.scale.Dedup

/** Round-7 corpus-preparation operators: the remaining standard stages of
  * a web-scale training-data pipeline that the dedup/curation tier did not
  * yet cover — paragraph-granular exact dedup (the RefinedWeb/CCNet line
  * dedup stage), a corpus PII incidence report, the Gopher quality-rule
  * flags (Rae et al. 2021, "Scaling Language Models" appendix A), data
  * recipe token-budget math, near-dup cluster statistics, and distributed
  * global enumeration for shard offsets.
  *
  * Reference analog: the dedup/quality gates of the curation config
  * (`/root/reference/config/config.yaml` quality section) — these extend
  * that surface with the public-literature operators a 100 TB corpus run
  * needs. All follow the repo's cross-engine rules: rounding through
  * graft.Num only, hashes as md5-prefix 52-bit longs both engines compute
  * identically, thresholds as identical literals in both expressions.
  */
object CorpusQueries {

  // ---------------------------------------------------------------------
  // Paragraph-level exact dedup (RefinedWeb/CCNet line dedup).
  // ---------------------------------------------------------------------

  /** Paragraph granularity: the corpus is single-line synthetic text, so
    * the paragraph boundary is a fixed 16-word chunk — the same stand-in
    * the chunking tier uses. At 100 TB the splitter is `split(text,
    * '\n\n')` and everything downstream is unchanged.
    */
  val ParaSize = 16

  /** Paragraph-level exact dedup: every 16-word paragraph keeps only its
    * FIRST occurrence corpus-wide (min (doc_id, para_idx)); later
    * occurrences — including cross-document boilerplate — are dropped,
    * and the report accounts tokens removed per source.
    *
    * Scale design: paragraph text is hashed to a 52-bit long in the scan
    * stage, so the only shuffle bytes are (hash, source, counts) — text
    * never moves. The keeper election is a grouped min-struct over the
    * (hash, source) partial relation (map-side partial agg, no window,
    * no per-hash sort), then one more tiny aggregate per hash. Two
    * hash-keyed shuffles end to end regardless of corpus size; skewed
    * boilerplate paragraphs (a hash with huge df) cost one combiner row
    * per upstream partition, not a hot task.
    */
  def paragraphDedup(spark: SparkSession, dir: String): DataFrame =
    paragraphDedupOf(Tables.documents(spark, dir))

  /** Core form over any documents relation (reused by the data card). */
  def paragraphDedupOf(docs: DataFrame): DataFrame = {
    val inst = docs
      .select(col("doc_id"), col("source"), split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"), col("source"), posexplode(expr(
        s"transform(sequence(1, size(w), $ParaSize), s -> slice(w, s, $ParaSize))"))
        .as(Seq("para_idx", "p")))
      .select(col("doc_id"), col("source"), col("para_idx").cast("int").as("para_idx"),
        size(col("p")).as("n_tokens"),
        conv(substring(md5(array_join(col("p"), " ")), 1, 13), 16, 10)
          .cast("long").as("ph"))
    // per-(hash, source) partials: instances of one hash share identical
    // text, hence identical n_tokens — carry it via min
    val bySrc = inst.groupBy(col("ph"), col("source")).agg(
      count(lit(1)).as("n_inst"),
      min(col("n_tokens")).as("tok"),
      min(struct(col("doc_id"), col("para_idx"))).as("first"))
    // global keeper per hash: min (doc_id, para_idx) across sources; the
    // input here is already collapsed to distinct (hash, source) rows
    val keeper = bySrc.groupBy(col("ph")).agg(
      min(struct(col("first.doc_id").as("doc_id"),
        col("first.para_idx").as("para_idx"), col("source").as("src"))).as("k"))
    bySrc.join(keeper, "ph")
      .withColumn("kept",
        when(col("k.src") === col("source") &&
          col("k.doc_id") === col("first.doc_id") &&
          col("k.para_idx") === col("first.para_idx"), 1L).otherwise(0L))
      .groupBy(col("source")).agg(
        sum(col("n_inst")).as("n_paras"),
        sum(col("n_inst") - col("kept")).as("n_removed"),
        sum(col("n_inst") * col("tok")).as("tokens_total"),
        sum(col("kept") * col("tok")).as("tokens_kept"))
      .withColumn("pct_tokens_removed",
        Num.r((col("tokens_total") - col("tokens_kept")).cast("double") /
          col("tokens_total"), 6))
  }

  val paragraphDedupSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS w
       |  FROM documents),
       |inst AS (
       |  SELECT doc_id, source, CAST((s - 1) // $ParaSize AS INT) AS para_idx,
       |         len(w[s : s + ${ParaSize - 1}]) AS n_tokens,
       |         ('0x' || substr(md5(array_to_string(w[s : s + ${ParaSize - 1}], ' ')), 1, 13))::BIGINT AS ph
       |  FROM toks CROSS JOIN unnest(range(1, len(w) + 1, $ParaSize)) AS t(s)),
       |keep AS (
       |  SELECT ph, doc_id AS k_doc, para_idx AS k_idx FROM (
       |    SELECT *, row_number() OVER (PARTITION BY ph
       |              ORDER BY doc_id, para_idx) AS rn FROM inst) WHERE rn = 1)
       |SELECT i.source,
       |  CAST(count(*) AS BIGINT) AS n_paras,
       |  CAST(sum(CASE WHEN i.doc_id = k.k_doc AND i.para_idx = k.k_idx
       |                THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
       |  CAST(sum(i.n_tokens) AS BIGINT) AS tokens_total,
       |  CAST(sum(CASE WHEN i.doc_id = k.k_doc AND i.para_idx = k.k_idx
       |                THEN i.n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept,
       |  ${Num.rSql(
      "CAST(sum(i.n_tokens) - sum(CASE WHEN i.doc_id = k.k_doc AND i.para_idx = k.k_idx THEN i.n_tokens ELSE 0 END) AS DOUBLE) / sum(i.n_tokens)",
      6)} AS pct_tokens_removed
       |FROM inst i JOIN keep k USING (ph)
       |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // Corpus PII incidence report.
  // ---------------------------------------------------------------------

  /** Deterministic PII fixture: the synthetic corpus carries no PII, so
    * the report op injects category instances on disjoint doc_id strata —
    * the same fixture discipline as q_pii_redact, but varied per category
    * so the counts exercise every detector.
    */
  private def piiDocText: Column = concat(
    col("text"),
    when(col("doc_id") % 3 === 0,
      concat(lit(" reach user"), col("doc_id").cast("string"), lit("@example.com")))
      .otherwise(lit("")),
    when(col("doc_id") % 4 === 0, lit(" call 555-123-4567")).otherwise(lit("")),
    when(col("doc_id") % 5 === 0, lit(" from 10.0.0.1")).otherwise(lit("")),
    when(col("doc_id") % 7 === 0, lit(" card 4111 1111 1111 1111")).otherwise(lit("")),
    when(col("doc_id") % 11 === 0, lit(" ssn 123-45-6789")).otherwise(lit("")))

  private val piiDocTextSql: String =
    "text" +
      " || (CASE WHEN doc_id % 3 = 0 THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END)" +
      " || (CASE WHEN doc_id % 4 = 0 THEN ' call 555-123-4567' ELSE '' END)" +
      " || (CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.0.1' ELSE '' END)" +
      " || (CASE WHEN doc_id % 7 = 0 THEN ' card 4111 1111 1111 1111' ELSE '' END)" +
      " || (CASE WHEN doc_id % 11 = 0 THEN ' ssn 123-45-6789' ELSE '' END)"

  /** Corpus PII report: per-source match counts for every detector class
    * plus the redaction char delta — the audit artifact a pipeline emits
    * before a training run. Detection is `regexp_count` in the scan stage
    * (codegen'd, zero shuffles before the per-source aggregate); the
    * regexes are the F2 chain's own patterns (functions/Pii.scala), so
    * report and redaction can never disagree on what counts as PII.
    */
  def docsPii(spark: SparkSession, dir: String): DataFrame = {
    val c = piiDocText
    val redacted = Pii.redactIp(Pii.redact(c))
    Tables.documents(spark, dir)
      .select(col("source"),
        regexp_count(c, lit(Pii.EmailRe)).as("e"),
        (regexp_count(c, lit(Pii.PhoneDashRe)) +
          regexp_count(c, lit(Pii.PhoneParenRe))).as("p"),
        regexp_count(c, lit(Pii.CardRe)).as("cd"),
        regexp_count(c, lit(Pii.SsnRe)).as("s"),
        regexp_count(c, lit(Pii.IpRe)).as("ip"),
        (length(c) - length(redacted)).as("delta"))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("e") + col("p") + col("cd") + col("s") + col("ip") > 0, 1L)
          .otherwise(0L)).as("docs_with_pii"),
        sum(col("e").cast("long")).as("n_emails"),
        sum(col("p").cast("long")).as("n_phones"),
        sum(col("cd").cast("long")).as("n_cards"),
        sum(col("s").cast("long")).as("n_ssns"),
        sum(col("ip").cast("long")).as("n_ips"),
        sum(col("delta").cast("long")).as("chars_redacted"))
  }

  val docsPiiSql: String = {
    def cnt(re: String) = s"len(regexp_extract_all(c, '$re'))"
    val redacted = s"regexp_replace(${Pii.redactSql("c")}, '${Pii.IpRe}', '[IP_REDACTED]', 'g')"
    s"""WITH d AS (SELECT source, ($piiDocTextSql) AS c FROM documents)
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN ${cnt(Pii.EmailRe)} + ${cnt(Pii.PhoneDashRe)}
       |      + ${cnt(Pii.PhoneParenRe)} + ${cnt(Pii.CardRe)} + ${cnt(Pii.SsnRe)}
       |      + ${cnt(Pii.IpRe)} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
       |  CAST(sum(${cnt(Pii.EmailRe)}) AS BIGINT) AS n_emails,
       |  CAST(sum(${cnt(Pii.PhoneDashRe)} + ${cnt(Pii.PhoneParenRe)}) AS BIGINT) AS n_phones,
       |  CAST(sum(${cnt(Pii.CardRe)}) AS BIGINT) AS n_cards,
       |  CAST(sum(${cnt(Pii.SsnRe)}) AS BIGINT) AS n_ssns,
       |  CAST(sum(${cnt(Pii.IpRe)}) AS BIGINT) AS n_ips,
       |  CAST(sum(len(c) - len($redacted)) AS BIGINT) AS chars_redacted
       |FROM d GROUP BY 1""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Gopher quality-rule flags.
  // ---------------------------------------------------------------------

  /** Gopher rule thresholds, scaled to this corpus's 10-99-word synthetic
    * documents (the published bounds are 50..100k words / 3..10 mean word
    * length; the RULE STRUCTURE is what's re-expressed here, with bounds
    * that actually split the test distribution). Thresholds compare
    * against grid-rounded values so both engines cut identically.
    */
  val GopherMinWords = 30L
  val GopherMaxWords = 90L
  val GopherMinWordLen = 3.9
  val GopherMaxWordLen = 5.0
  val GopherMaxSymbolRatio = 0.1

  /** Per-document Gopher quality flags (Rae et al. 2021): word-count
    * bounds, mean-word-length bounds, symbol-to-word ratio ('#'/'...'),
    * and stopword presence. Pure scan-stage arithmetic over the token
    * array — no shuffle at all; at 100 TB this is a free rider on
    * whatever scan feeds curation.
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    gopherFlags(Tables.documents(spark, dir))

  /** Core form over any documents relation — pure scan-stage
    * expressions, so the streaming form (Streams.gopherStream) is this
    * same code over the ingest stream.
    */
  def gopherFlags(docs: DataFrame): DataFrame = {
    val w = col("w")
    docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"),
        (regexp_count(col("text"), lit("#")) +
          regexp_count(col("text"), lit("\\.\\.\\."))).as("n_sym"))
      .select(col("doc_id"),
        size(w).cast("long").as("n_words"),
        Num.r(expr("aggregate(w, 0L, (a, x) -> a + length(x))").cast("double") /
          size(w), 6).as("mean_word_len"),
        size(array_distinct(array_intersect(w,
          array(TextAnalysis.EnglishWords.map(lit): _*)))).cast("long").as("n_stop"),
        Num.r(col("n_sym").cast("double") / size(w), 6).as("symbol_ratio"))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("n_stop"), col("symbol_ratio"),
        (col("n_words") >= GopherMinWords && col("n_words") <= GopherMaxWords)
          .as("flag_words"),
        (col("mean_word_len") >= GopherMinWordLen &&
          col("mean_word_len") <= GopherMaxWordLen).as("flag_word_len"),
        (col("n_stop") >= 1L).as("flag_stop"),
        (col("symbol_ratio") < GopherMaxSymbolRatio).as("flag_symbol"))
      .withColumn("keep",
        col("flag_words") && col("flag_word_len") && col("flag_stop") &&
          col("flag_symbol"))
  }

  val gopherRulesSql: String = {
    val stopList = TextAnalysis.EnglishWords.map(s => s"'$s'").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w,
       |         len(regexp_extract_all(text, '#'))
       |           + len(regexp_extract_all(text, '\\.\\.\\.')) AS n_sym
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
       |    ${Num.rSql("CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE) / len(w)", 6)} AS mean_word_len,
       |    CAST(len(list_distinct(list_intersect(w, [$stopList]))) AS BIGINT) AS n_stop,
       |    ${Num.rSql("CAST(n_sym AS DOUBLE) / len(w)", 6)} AS symbol_ratio
       |  FROM t)
       |SELECT doc_id, n_words, mean_word_len, n_stop, symbol_ratio,
       |  n_words >= $GopherMinWords AND n_words <= $GopherMaxWords AS flag_words,
       |  mean_word_len >= $GopherMinWordLen AND mean_word_len <= $GopherMaxWordLen AS flag_word_len,
       |  n_stop >= 1 AS flag_stop,
       |  symbol_ratio < $GopherMaxSymbolRatio AS flag_symbol,
       |  (n_words >= $GopherMinWords AND n_words <= $GopherMaxWords)
       |    AND (mean_word_len >= $GopherMinWordLen AND mean_word_len <= $GopherMaxWordLen)
       |    AND n_stop >= 1 AND symbol_ratio < $GopherMaxSymbolRatio AS keep
       |FROM m""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Token-budget data recipe.
  // ---------------------------------------------------------------------

  /** Fixed token budget the recipe allocates (the knob a training run
    * sets; a literal so both engines share the exact double).
    */
  val RecipeBudget = 1000000.0

  /** Data-recipe math (the LLaMA-style mixture table): per-source token
    * totals → sqrt-scaled sampling weights → allocated token budget and
    * the epoch/repeat factor each source needs to fill it. One aggregate
    * shuffle; the per-source relation is bounded by the source catalog,
    * so the normalizer rides as one broadcast row (same shape as the
    * mixture-weight tier). sqrt is the IEEE correctly-rounded primitive
    * in both engines, and the weight is grid-rounded BEFORE the budget
    * multiply so downstream arithmetic starts from identical doubles.
    */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val bySrc = Tables.documents(spark, dir)
      .select(col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      .groupBy(col("source")).agg(sum(col("n_tok")).as("src_tokens"))
      .withColumn("sq", sqrt(col("src_tokens").cast("double")))
    val z = broadcast(bySrc.agg(sum(col("sq")).as("z")))
    bySrc.crossJoin(z)
      .withColumn("weight", Num.r(col("sq") / col("z"), 6))
      .select(col("source"), col("src_tokens"), col("weight"),
        floor(lit(RecipeBudget) * col("weight")).cast("long").as("target_tokens"),
        Num.r(lit(RecipeBudget) * col("weight") / col("src_tokens"), 6).as("epochs"))
  }

  val tokenBudgetSql: String =
    s"""WITH bys AS (
       |  SELECT source,
       |         CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS src_tokens
       |  FROM documents GROUP BY 1),
       |sq AS (SELECT source, src_tokens, sqrt(CAST(src_tokens AS DOUBLE)) AS sq FROM bys),
       |tot AS (SELECT sum(sq) AS z FROM sq),
       |w AS (SELECT source, src_tokens, ${Num.rSql("sq / z", 6)} AS weight
       |      FROM sq CROSS JOIN tot)
       |SELECT source, src_tokens, weight,
       |       CAST(floor($RecipeBudget * weight) AS BIGINT) AS target_tokens,
       |       ${Num.rSql(s"$RecipeBudget * weight / src_tokens", 6)} AS epochs
       |FROM w""".stripMargin

  /** Shard budget for the largest-remainder allocation. */
  val ShardBudget = 1000L

  /** Largest-remainder (Hamilton) allocation of an integer shard budget
    * across sources proportional to token volume — the step after
    * q_token_budget's fractional weights: a data recipe ships INTEGER
    * shard counts that must sum exactly to the budget, and independent
    * floor() per source under-allocates by up to |sources|−1. The whole
    * operator is integer arithmetic (base = (B·tok) div total; remainder
    * ranks on the exact integer numerator B·tok − base·total), so there
    * is no fp anywhere — bit-identical by construction. Every window
    * runs over the bounded per-source relation.
    */
  def budgetAllocation(spark: SparkSession, dir: String): DataFrame = {
    val bySrc = Tables.documents(spark, dir)
      .select(col("source"), size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      .groupBy(col("source")).agg(sum(col("n_tok")).as("src_tokens"))
    val w = Window.partitionBy()
    val based = bySrc
      .withColumn("total", sum(col("src_tokens")).over(w))
      .withColumn("base", expr(s"($ShardBudget * src_tokens) div total"))
      .withColumn("rem", lit(ShardBudget) * col("src_tokens") - col("base") * col("total"))
      .withColumn("leftover", lit(ShardBudget) - sum(col("base")).over(w))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("source").asc)))
    based.select(col("source"), col("src_tokens"), col("base"),
      (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L)).as("shards"))
  }

  val budgetAllocationSql: String =
    s"""WITH bys AS (
       |  SELECT source,
       |         CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS src_tokens
       |  FROM documents GROUP BY 1),
       |b AS (
       |  SELECT *, CAST(sum(src_tokens) OVER () AS BIGINT) AS total FROM bys),
       |c AS (
       |  SELECT *, ($ShardBudget * src_tokens) // total AS base,
       |         $ShardBudget * src_tokens - (($ShardBudget * src_tokens) // total) * total AS rem
       |  FROM b),
       |d AS (
       |  SELECT *, CAST($ShardBudget - sum(base) OVER () AS BIGINT) AS leftover,
       |         row_number() OVER (ORDER BY rem DESC, source ASC) AS rk
       |  FROM c)
       |SELECT source, src_tokens, CAST(base AS BIGINT) AS base,
       |       CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS shards
       |FROM d""".stripMargin

  /** z² for the 95% Wilson interval, embedded as the same literal in both
    * engines. Written as the exact decimal 3.8416 (= 1.96²) rather than
    * computed: `1.96 * 1.96` toString's to 3.8415999999999997, and a
    * 17-digit scalar literal parses in DuckDB as DECIMAL(17,16) whose
    * →DOUBLE conversion can drift an ulp from Spark's direct parse. The
    * short literal converts exactly in both engines. */
  val WilsonZ2: Double = 3.8416

  /** Wilson 95% confidence interval of the classifier keep rate per
    * source — keep-rate points without intervals invite over-reading on
    * small sources. Reuses the registered classifier chain verbatim (the
    * data-card discipline), one doc_id join for source, one bounded
    * aggregate; sqrt is IEEE-exact so the interval arithmetic is
    * bit-identical on the integer (n, k) inputs.
    */
  def keepRateCi(spark: SparkSession, dir: String): DataFrame = {
    val probs = ScaleQueries.qualityClassify(Tables.documents(spark, dir))
      .select(col("doc_id"), col("keep"))
    val agg = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(probs, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), count(when(col("keep"), 1)).as("k"))
    val z2 = lit(WilsonZ2)
    val p = col("k").cast("double") / col("n")
    val denom = lit(1.0) + z2 / col("n")
    val center = (p + z2 / (lit(2.0) * col("n"))) / denom
    val half = sqrt(p * (lit(1.0) - p) / col("n") +
      z2 / (lit(4.0) * col("n") * col("n"))) * sqrt(z2) / denom
    agg.select(col("source"), col("n"), col("k"),
      Num.r(p, 6).as("keep_rate"),
      Num.r(center - half, 6).as("ci_lo"),
      Num.r(center + half, 6).as("ci_hi"))
  }

  val keepRateCiSql: String = {
    val z2 = WilsonZ2.toString
    s"""WITH qc AS (${ScaleQueries.qualityClassifierSql}),
       |a AS (
       |  SELECT d.source, CAST(count(*) AS BIGINT) AS n,
       |         CAST(count(CASE WHEN qc.keep THEN 1 END) AS BIGINT) AS k
       |  FROM documents d JOIN qc ON d.doc_id = qc.doc_id
       |  GROUP BY 1)
       |SELECT source, n, k,
       |       ${Num.rSql("CAST(k AS DOUBLE) / n", 6)} AS keep_rate,
       |       ${Num.rSql(
        s"((CAST(k AS DOUBLE) / n + $z2 / (2.0 * n)) / (1.0 + $z2 / n)) - " +
          s"(sqrt(CAST(k AS DOUBLE) / n * (1.0 - CAST(k AS DOUBLE) / n) / n + $z2 / (4.0 * n * n)) * sqrt($z2) / (1.0 + $z2 / n))",
        6)} AS ci_lo,
       |       ${Num.rSql(
        s"((CAST(k AS DOUBLE) / n + $z2 / (2.0 * n)) / (1.0 + $z2 / n)) + " +
          s"(sqrt(CAST(k AS DOUBLE) / n * (1.0 - CAST(k AS DOUBLE) / n) / n + $z2 / (4.0 * n * n)) * sqrt($z2) / (1.0 + $z2 / n))",
        6)} AS ci_hi
       |FROM a""".stripMargin
  }

  /** Effective sample size of classifier-probability-weighted sampling
    * per source — ESS = (Σp)²/Σp² (Kish): how many "real" samples a
    * weighted draw is worth; ESS/n near 1 means weights are flat, near
    * 1/n means one document dominates. Probabilities come snapped from
    * the registered classifier chain, sums re-snap before the ratio, so
    * both engines divide identical doubles. One join, one bounded
    * aggregate.
    */
  def essWeights(spark: SparkSession, dir: String): DataFrame = {
    val probs = ScaleQueries.qualityClassify(Tables.documents(spark, dir))
      .select(col("doc_id"), col("prob"))
    Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(probs, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        Num.r(sum(col("prob")), 6).as("sp"),
        Num.r(sum(col("prob") * col("prob")), 8).as("spp"))
      .select(col("source"), col("n"),
        Num.r(col("sp") * col("sp") / col("spp"), 4).as("ess"),
        Num.r(col("sp") * col("sp") / col("spp") / col("n"), 6).as("ess_ratio"))
  }

  val essWeightsSql: String =
    s"""WITH qc AS (${ScaleQueries.qualityClassifierSql}),
       |a AS (
       |  SELECT d.source, CAST(count(*) AS BIGINT) AS n,
       |         ${Num.rSql("sum(qc.prob)", 6)} AS sp,
       |         ${Num.rSql("sum(qc.prob * qc.prob)", 8)} AS spp
       |  FROM documents d JOIN qc ON d.doc_id = qc.doc_id
       |  GROUP BY 1)
       |SELECT source, n,
       |       ${Num.rSql("sp * sp / spp", 4)} AS ess,
       |       ${Num.rSql("sp * sp / spp / n", 6)} AS ess_ratio
       |FROM a""".stripMargin

  // ---------------------------------------------------------------------
  // Near-dup cluster statistics.
  // ---------------------------------------------------------------------

  /** Duplicate-cluster size histogram over the near-dup graph (Jaccard ≥
    * 0.5 through the Dedup.minhashDupPairs gate), plus the singleton
    * balance: for each cluster size, how many clusters and docs. The
    * dedup-rate dashboard row a corpus run reports. Costs one extra tiny
    * aggregate on top of the cluster relation (cluster ids are bounded by
    * corpus size, the histogram by log of it). The cluster relation is
    * q_dup_clusters_lsh's, so this carries its exact answer's oracle SQL:
    * a corpus whose shingle pair expansion fits Dedup.MaxGroupPairs takes
    * the gate's fast path, the exact shingle tier, and past it LSH
    * candidates are exact-verified (precision exact by construction) with
    * recall pinned set-equal, the gate forced, by ScaleSpec at sf0.001
    * and sf0.01 and RegimeSpec at sf0.1.
    */
  def dupStatsLsh(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val clusters = Dedup.dupClusters(
      Dedup.minhashDupPairs(docs, "text", "doc_id", 3, 0.5))
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    val hist = sizes.groupBy(col("cluster_size")).agg(
      count(lit(1)).as("n_clusters"), sum(col("cluster_size")).as("n_docs"))
    // components are built from edges, so every cluster has >= 2 members;
    // the singleton row is the complement against the corpus count
    val totals = docs.agg(count(lit(1)).as("total")).crossJoin(
      clusters.agg(count(lit(1)).as("clustered")))
    val singletons = totals.select(
      lit(1L).as("cluster_size"),
      (col("total") - col("clustered")).as("n_clusters"),
      (col("total") - col("clustered")).as("n_docs"))
    hist.unionByName(singletons)
  }

  // Reuses the exact-jaccard recursive-CTE cluster relation (see
  // ScaleQueries.dupClustersCteSql) as the histogram input.
  val dupStatsSql: String =
    s"""${ScaleQueries.dupClustersCteSql},
       |csz AS (SELECT cluster_id, count(*) AS cs FROM clusters GROUP BY 1),
       |hist AS MATERIALIZED (
       |  SELECT CAST(cs AS BIGINT) AS cluster_size,
       |         CAST(count(*) AS BIGINT) AS n_clusters,
       |         CAST(sum(cs) AS BIGINT) AS n_docs
       |  FROM csz GROUP BY 1)
       |SELECT * FROM hist
       |UNION ALL
       |SELECT 1,
       |  CAST((SELECT count(*) FROM documents) - coalesce((SELECT sum(n_docs) FROM hist), 0) AS BIGINT),
       |  CAST((SELECT count(*) FROM documents) - coalesce((SELECT sum(n_docs) FROM hist), 0) AS BIGINT)""".stripMargin

  // ---------------------------------------------------------------------
  // Distributed global enumeration.
  // ---------------------------------------------------------------------

  /** Range-bucket width on the sort key (n_chars). At 100 TB the bucket
    * histogram is what a range partitioner samples anyway; the width just
    * has to keep per-bucket row counts within a task.
    */
  val IndexBucketWidth = 64L

  /** Global corpus enumeration: a contiguous 0..n-1 index in (n_chars,
    * doc_id) order — the shard-offset assignment of a length-sorted
    * export, and the classic operation a naive plan serializes (a global
    * row_number window is ONE partition holding the corpus).
    *
    * Decomposition: bucket rows by a range of the sort key, count per
    * bucket (tiny relation), turn counts into exclusive prefix offsets
    * with a window over that bounded relation ONLY, broadcast the offsets
    * back, and number rows inside each bucket in parallel. The single-
    * partition window touches one row per bucket — never the corpus.
    */
  def globalIndex(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        (col("n_chars") / IndexBucketWidth).cast("long").as("bkt"))
    val counts = d.groupBy(col("bkt")).agg(count(lit(1)).as("n"))
    // bounded relation: one row per occupied bucket
    val offs = counts
      .withColumn("off", coalesce(sum(col("n")).over(
        Window.orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .drop("n")
    d.join(broadcast(offs), "bkt")
      .withColumn("global_idx",
        row_number().over(Window.partitionBy(col("bkt"))
          .orderBy(col("n_chars"), col("doc_id"))).cast("long") + col("off") - 1)
      .select(col("doc_id"), col("n_chars"), col("global_idx"))
  }

  val globalIndexSql: String =
    """SELECT doc_id, n_chars,
      |       CAST(row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS BIGINT) AS global_idx
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------------
  // Exact distributed median.
  // ---------------------------------------------------------------------

  /** EXACT per-source median (lower median, so no cross-engine fp
    * interpolation exists at all) of document length — the
    * quantile-at-scale shape: a naive exact median sorts each source's
    * full history in one window task, and the approximate tier
    * (q_approx_quantiles) trades error for mergeability. This plan gets
    * exactness AND parallelism from the q_global_index range-bucket
    * decomposition: per-(source, bucket) counts form a bounded relation
    * whose prefix offsets locate the ONE bucket containing the median
    * rank, and only that bucket's rows rank — in parallel per source,
    * each task holding one bucket, never a source's history.
    */
  def exactMedian(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars"), col("doc_id"),
        (col("n_chars") / IndexBucketWidth).cast("long").as("bkt"))
    val counts = d.groupBy(col("source"), col("bkt")).agg(count(lit(1)).as("n"))
    // bounded relation: one row per occupied (source, bucket); the total
    // is a second window over the SAME partitioning (a separate totals
    // aggregate would re-derive the counts subtree and scan the corpus
    // again — the ValueQuantiles one-scan rule)
    val target = counts
      .withColumn("off",
        coalesce(sum(col("n")).over(Window.partitionBy(col("source"))
          .orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_docs", sum(col("n")).over(Window.partitionBy(col("source"))))
      .withColumn("k", expr("(n_docs + 1) div 2"))
      .filter(col("k") > col("off") && col("k") <= col("off") + col("n"))
      .select(col("source"), col("bkt"), col("off"), col("k"), col("n_docs"))
    d.join(broadcast(target), Seq("source", "bkt"))
      .withColumn("r", row_number().over(Window.partitionBy(col("source"), col("bkt"))
        .orderBy(col("n_chars"), col("doc_id"))))
      .filter(col("off") + col("r") === col("k"))
      .select(col("source"), col("n_docs"), col("n_chars").as("median_chars"))
  }

  val exactMedianSql: String =
    """WITH t AS (
      |  SELECT source, n_chars,
      |         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS r,
      |         count(*) OVER (PARTITION BY source) AS cnt
      |  FROM documents)
      |SELECT source, CAST(cnt AS BIGINT) AS n_docs, n_chars AS median_chars
      |FROM t WHERE r = (cnt + 1) // 2""".stripMargin

  /** Quantile ladder as exact rationals (label, numerator, denominator):
    * the target rank is k = ceil(p·n) computed in integer arithmetic
    * ((nu·n + de − 1) div de), so no fp product can straddle an integer
    * boundary differently across engines. */
  val QuantileSpecs = Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L))

  /** EXACT per-source quantile LADDER (p50/p90/p99) — [[exactMedian]]
    * generalized to any rank set in the same two corpus passes. The
    * per-(source, bucket) count relation locates, per quantile, the ONE
    * bucket containing its rank; ranking then runs only inside targeted
    * buckets (a bucket holding several quantile ranks ranks once per
    * rank, still bucket-bounded). The quantile set rides an explode of
    * the bounded per-source totals — adding a 4th quantile costs zero
    * extra corpus work.
    */
  def exactQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars"), col("doc_id"),
        (col("n_chars") / IndexBucketWidth).cast("long").as("bkt"))
    val counts = d.groupBy(col("source"), col("bkt")).agg(count(lit(1)).as("n"))
    // offsets AND totals as windows over one partitioning of the bounded
    // count relation; the quantile set rides an explode of its rows
    // (×|specs| fan-out of a bounded relation, no join, no second scan)
    val target = counts
      .withColumn("off",
        coalesce(sum(col("n")).over(Window.partitionBy(col("source"))
          .orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_docs", sum(col("n")).over(Window.partitionBy(col("source"))))
      .select(col("source"), col("bkt"), col("off"), col("n"), col("n_docs"),
        explode(array(QuantileSpecs.map {
          case (l, nu, de) => struct(lit(l).as("p"), lit(nu).as("nu"), lit(de).as("de"))
        }: _*)).as("q"))
      .withColumn("k", expr("(q.nu * n_docs + q.de - 1) div q.de"))
      .withColumn("p", col("q.p"))
      .filter(col("k") > col("off") && col("k") <= col("off") + col("n"))
      .select(col("source"), col("bkt"), col("off"), col("k"), col("p"), col("n_docs"))
    d.join(broadcast(target), Seq("source", "bkt"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("source"), col("bkt"), col("p"))
          .orderBy(col("n_chars"), col("doc_id"))))
      .filter(col("off") + col("r") === col("k"))
      .select(col("source"), col("p"), col("n_docs"), col("n_chars").as("q_chars"))
  }

  val exactQuantilesSql: String =
    """WITH t AS (
      |  SELECT source, n_chars,
      |         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS r,
      |         count(*) OVER (PARTITION BY source) AS cnt
      |  FROM documents),
      |q AS (SELECT * FROM (VALUES ('p50', 1, 2), ('p90', 9, 10), ('p99', 99, 100)) AS q(p, nu, de))
      |SELECT t.source, q.p, CAST(t.cnt AS BIGINT) AS n_docs, t.n_chars AS q_chars
      |FROM t, q WHERE t.r = (q.nu * t.cnt + q.de - 1) // q.de""".stripMargin

  // ---------------------------------------------------------------------
  // Classifier-vs-rules calibration curve.
  // ---------------------------------------------------------------------

  /** Calibration of the hashed-linear quality classifier against the
    * Gopher rule gate: per classifier-probability decile, how often do
    * the hand-written rules agree ("keep")? This is the curve a curation
    * run reads to pick the classifier threshold — a well-calibrated
    * classifier shows rule-pass rate rising with probability; a flat
    * curve means the model and the rules measure different things and
    * the threshold can't be transferred. Scale shape: both inputs are
    * zero-shuffle scan-stage expression chains over the same table; the
    * join is doc_id-keyed and the output is 10 bucket rows — the only
    * shuffles are the join and the tiny decile aggregate.
    */
  def classifierCalibration(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val probs = ScaleQueries.qualityClassify(docs).select(col("doc_id"), col("prob"))
    val rules = gopherFlags(docs).select(col("doc_id"), col("keep").as("rule_keep"))
    probs.join(rules, "doc_id")
      .select(least(floor(col("prob") * 10).cast("int"), lit(9)).as("bucket"),
        col("rule_keep"), col("prob"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rule_keep"), 1L).otherwise(0L)).as("n_rule_pass"),
        Num.savg(sum(col("prob")), count(lit(1)), 6, 6).as("avg_prob"))
      .select(col("bucket"), col("n_docs"), col("n_rule_pass"),
        Num.r(col("n_rule_pass").cast("double") / col("n_docs"), 6)
          .as("rule_pass_rate"),
        col("avg_prob"))
  }

  val classifierCalibrationSql: String =
    s"""WITH p AS (${ScaleQueries.qualityClassifierSql}),
       |g AS ($gopherRulesSql),
       |b AS (
       |  SELECT least(CAST(floor(p.prob * 10) AS INT), 9) AS bucket,
       |         g.keep AS rule_keep, p.prob
       |  FROM p JOIN g USING (doc_id)),
       |s AS (
       |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(CASE WHEN rule_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_rule_pass,
       |         ${Num.savgSql("sum(prob)", "count(*)", 6, 6)} AS avg_prob
       |  FROM b GROUP BY 1)
       |SELECT bucket, n_docs, n_rule_pass,
       |       ${Num.rSql("CAST(n_rule_pass AS DOUBLE) / n_docs", 6)} AS rule_pass_rate,
       |       avg_prob
       |FROM s""".stripMargin

  // ---------------------------------------------------------------------
  // Quality threshold solved for a token budget.
  // ---------------------------------------------------------------------

  /** Budget share of corpus tokens the quality gate may keep. */
  val QualityBudgetShare = 0.2

  /** Inverse quantile for the curation dial: the quality-classifier
    * threshold that keeps AT MOST 20% of corpus tokens, plus the
    * per-source accounting at that threshold — the question a data
    * recipe actually asks ("what cutoff hits my budget?", not "what does
    * cutoff 0.5 keep?"). Greedy from the top: keep whole probability
    * buckets, highest first, while the running token total stays within
    * budget; the threshold is the lowest kept bucket.
    *
    * Scale shape: the classifier scores in one scan; the (prob, tokens)
    * histogram is bounded by the 1e-6 probability grid, the cumulative
    * runs over that bounded relation only, and the scalar threshold
    * broadcasts back onto ONE per-source conditional aggregate (kept and
    * total in the same pass — no second grouping). The scored relation
    * is persisted for its two consumers (branch-reuse rule). A corpus
    * whose top bucket alone exceeds the budget yields a NULL threshold
    * and zero kept rows in both engines.
    */
  def qualityBudget(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val scored = ScaleQueries.qualityClassify(docs)
      .select(col("doc_id"), col("prob"), col("n_tokens"))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .persist()
    val hist = scored.groupBy(col("prob")).agg(sum(col("n_tokens")).as("t"))
    val tot = broadcast(hist.agg(sum(col("t")).as("n")))
    val w = Window.orderBy(col("prob").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = broadcast(hist
      .withColumn("cum", sum(col("t")).over(w))
      .crossJoin(tot)
      .filter(col("cum") <= floor(col("n") * lit(QualityBudgetShare)).cast("long"))
      .agg(min(col("prob")).as("threshold")))
    val kept = when(col("prob") >= col("threshold"), lit(1))
    val out = scored.crossJoin(thr)
      .groupBy(col("source"))
      .agg(max(col("threshold")).as("threshold"),
        count(lit(1)).as("n_docs"),
        count(kept).as("kept_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        coalesce(sum(when(col("prob") >= col("threshold"), col("n_tokens"))),
          lit(0L)).as("kept_tokens"))
      .select(col("source"), col("threshold"), col("n_docs"), col("kept_docs"),
        col("total_tokens"), col("kept_tokens"),
        when(col("total_tokens") > 0,
          Num.r(col("kept_tokens").cast("double") / col("total_tokens"), 6))
          .as("token_keep_rate"))
      .localCheckpoint()
    scored.unpersist()
    out
  }

  val qualityBudgetSql: String =
    s"""WITH p AS (${ScaleQueries.qualityClassifierSql}),
       |sc AS (
       |  SELECT p.doc_id, p.prob, p.n_tokens, d.source
       |  FROM p JOIN documents d USING (doc_id)),
       |hist AS (SELECT prob, CAST(sum(n_tokens) AS BIGINT) AS t FROM sc GROUP BY 1),
       |tot AS (SELECT CAST(sum(t) AS BIGINT) AS n FROM hist),
       |cum AS (SELECT prob, CAST(sum(t) OVER (ORDER BY prob DESC) AS BIGINT) AS cum
       |        FROM hist),
       |thr AS (SELECT min(prob) AS threshold
       |        FROM cum CROSS JOIN tot
       |        WHERE cum <= CAST(floor(n * $QualityBudgetShare) AS BIGINT))
       |SELECT source, max(threshold) AS threshold,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(count(CASE WHEN prob >= threshold THEN 1 END) AS BIGINT) AS kept_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |       CAST(coalesce(sum(CASE WHEN prob >= threshold THEN n_tokens END), 0) AS BIGINT) AS kept_tokens,
       |       CASE WHEN sum(n_tokens) > 0
       |            THEN ${Num.rSql(
      "CAST(coalesce(sum(CASE WHEN prob >= threshold THEN n_tokens END), 0) AS DOUBLE) / sum(n_tokens)",
      6)}
       |       END AS token_keep_rate
       |FROM sc CROSS JOIN thr
       |GROUP BY source""".stripMargin

  // ---------------------------------------------------------------------
  // Split-conformal coverage of the quality classifier.
  // ---------------------------------------------------------------------

  /** Conformal α grid as exact rationals (label, nu, de) with α = nu/de
    * — integer rank arithmetic, no fp product near an integer boundary
    * (the ValueQuantiles rule).
    */
  val ConformalAlphas = Seq(("0.05", 1L, 20L), ("0.10", 1L, 10L), ("0.20", 1L, 5L))

  /** Conformal-score grid: nonconformity snapped at 1e-4 BEFORE
    * thresholding, so the calibration histogram is bounded by
    * construction (≤ 10 001 distinct values) and the global cumulative
    * window runs over a bounded relation — never over per-document rows
    * (the conformal guarantee is invariant to any fixed score transform,
    * snapping included, as long as calibration and test use the SAME
    * snapped score).
    */
  val ConformalGrid = 4

  /** Split-conformal calibration of the quality classifier (Vovk et al.;
    * Angelopoulos & Bates 2023 survey): a DETERMINISTIC 20 % calibration
    * split supplies the order statistic k = ⌈(1−α)(n+1)⌉ of the
    * nonconformity score a = 1 − prob, and the held-out 80 % reports the
    * empirical coverage P(a ≤ t̂) — the distribution-free check a
    * curation pipeline runs before trusting a classifier threshold at a
    * new corpus snapshot (coverage ≈ 1−α ⇒ the threshold transfers;
    * coverage collapse ⇒ score drift, recalibrate). One row per α with
    * the threshold, rank, and coverage.
    *
    * Scale shape: scoring is the zero-shuffle scan-stage classifier
    * (qualityClassify); the split is a stable md5 bucket of doc_id (pure
    * map-side); the scored relation is checkpointed once for its two
    * consumers (calibration histogram, coverage pass). The only
    * non-scan work is the bounded-histogram window (≤ 10⁴ rows by the
    * ConformalGrid construction) and a 3-row broadcast cross join into
    * the coverage aggregate. Determinism: scores are grid-snapped before
    * ranking, ranks are integer rationals over (n+1), the vacuous case
    * (k > n, possible only at n < (1−α)/α) pins the threshold to the
    * max calibration score and says so in a flag.
    */
  def conformalCoverage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = ScaleQueries.qualityClassify(Tables.documents(spark, dir))
      .select(col("doc_id"),
        Num.r(lit(1.0) - col("prob"), ConformalGrid).as("a"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 5 === 0L).as("calib"))
      .localCheckpoint()
    val hist = scored.filter(col("calib"))
      .groupBy(col("a")).agg(count(lit(1)).as("n"))
    val th = hist
      .withColumn("cum", sum(col("n")).over(
        Window.orderBy(col("a")).rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n_calib", sum(col("n")).over(
        Window.partitionBy()))
      .select(col("a"), col("n"), col("cum"), col("n_calib"),
        explode(array(ConformalAlphas.map { case (l, nu, de) =>
          struct(lit(l).as("alpha"), lit(nu).as("nu"), lit(de).as("de"))
        }: _*)).as("q"))
      .withColumn("k",
        expr("((q.de - q.nu) * (n_calib + 1) + q.de - 1) div q.de"))
      .withColumn("k2", least(col("k"), col("n_calib")))
      .filter(col("k2") > col("cum") - col("n") && col("k2") <= col("cum"))
      .select(col("q.alpha").as("alpha"), col("n_calib"), col("k"),
        (col("k") > col("n_calib")).as("vacuous"), col("a").as("threshold"))
    scored.filter(!col("calib"))
      .crossJoin(broadcast(th))
      .groupBy(col("alpha"), col("n_calib"), col("k"), col("vacuous"),
        col("threshold"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("a") <= col("threshold"), 1L).otherwise(0L)).as("n_covered"))
      .select(col("alpha"), col("n_calib"), col("k"), col("vacuous"),
        col("threshold"), col("n_test"), col("n_covered"),
        Num.r(col("n_covered").cast("double") / col("n_test"), 6).as("coverage"))
  }

  val conformalCoverageSql: String = {
    val kExpr = "((q.de - q.nu) * (w.n_calib + 1) + q.de - 1) // q.de"
    val vals = ConformalAlphas
      .map { case (l, nu, de) => s"('$l', $nu, $de)" }.mkString(", ")
    s"""WITH sc AS MATERIALIZED (
       |  SELECT doc_id, ${Num.rSql("1.0 - prob", ConformalGrid)} AS a,
       |         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |           % 5 = 0 AS calib
       |  FROM (${ScaleQueries.qualityClassifierSql}) qc),
       |hist AS (SELECT a, count(*) AS n FROM sc WHERE calib GROUP BY 1),
       |w AS (
       |  SELECT a, n,
       |         sum(n) OVER (ORDER BY a ROWS UNBOUNDED PRECEDING) AS cum,
       |         sum(n) OVER () AS n_calib
       |  FROM hist),
       |q AS (SELECT * FROM (VALUES $vals) AS q(alpha, nu, de)),
       |th AS (
       |  SELECT q.alpha, CAST(w.n_calib AS BIGINT) AS n_calib,
       |         CAST($kExpr AS BIGINT) AS k,
       |         $kExpr > w.n_calib AS vacuous,
       |         w.a AS threshold
       |  FROM w CROSS JOIN q
       |  WHERE least($kExpr, w.n_calib) > w.cum - w.n
       |    AND least($kExpr, w.n_calib) <= w.cum)
       |SELECT th.alpha, th.n_calib, th.k, th.vacuous, th.threshold,
       |       CAST(count(*) AS BIGINT) AS n_test,
       |       CAST(sum(CASE WHEN sc.a <= th.threshold THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_covered,
       |       ${Num.rSql(
            "CAST(sum(CASE WHEN sc.a <= th.threshold THEN 1 ELSE 0 END) AS DOUBLE)" +
              " / count(*)", 6)} AS coverage
       |FROM sc CROSS JOIN th WHERE NOT sc.calib
       |GROUP BY 1, 2, 3, 4, 5""".stripMargin
  }

  val ops: Seq[Op] = Seq(
    Op("q_conformal_coverage", conformalCoverage, conformalCoverageSql),
    Op("q_quality_budget", qualityBudget, qualityBudgetSql),
    Op("q_paragraph_dedup", paragraphDedup, paragraphDedupSql),
    Op("q_docs_pii", docsPii, docsPiiSql),
    Op("q_gopher_rules", gopherRules, gopherRulesSql),
    Op("q_token_budget", tokenBudget, tokenBudgetSql),
    Op("q_budget_allocation", budgetAllocation, budgetAllocationSql),
    Op("q_keep_rate_ci", keepRateCi, keepRateCiSql),
    Op("q_ess_weights", essWeights, essWeightsSql),
    Op("q_dup_stats_lsh", dupStatsLsh, dupStatsSql),
    Op("q_global_index", globalIndex, globalIndexSql),
    Op("q_exact_median", exactMedian, exactMedianSql),
    Op("q_exact_quantiles", exactQuantiles, exactQuantilesSql),
    Op("q_classifier_calibration", classifierCalibration, classifierCalibrationSql))
}
