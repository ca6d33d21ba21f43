package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Num, Op, Tables}
import graft.functions.TextAnalysis

/** Corpus AUDIT tier — the checks a training-data run publishes about its
  * own pipeline rather than about the corpus: cross-split contamination,
  * classifier discrimination (AUC) against the rule gate, line/paragraph
  * boilerplate incidence, the stage-by-stage survival funnel, and an
  * encoding-anomaly (mojibake) report.
  *
  * Reference analog: the quality/validation gates of the curation config
  * (`/root/reference/config/config.yaml` quality section) — these are the
  * public-literature audit artifacts (CCNet line dedup accounting, the
  * Gopher appendix's filter-funnel tables, ROC/AUC model-vs-rules checks,
  * ftfy-style encoding triage) a 100 TB run reports next to them.
  *
  * Cross-engine discipline as everywhere in the repo: rounding through
  * graft.Num only, hashes as md5-prefix longs both engines compute
  * identically, thresholds as identical literals in both expressions,
  * integer arithmetic kept exact until the final display division.
  */
object CorpusAudit {

  // ---------------------------------------------------------------------
  // Cross-split paragraph leakage.
  // ---------------------------------------------------------------------

  /** Cross-split contamination audit at PARAGRAPH granularity. The 80/10/10
    * split keys on md5(text), so exact-duplicate DOCUMENTS can never leak
    * across splits by construction (CorpusAuditSpec pins that) — but two
    * near-duplicate documents hash to different buckets while still sharing
    * verbatim paragraphs, and a shared paragraph in train and test is
    * leakage a doc-level split cannot see.
    *
    * Scale shape (same as paragraphDedup): paragraphs hash to 52-bit longs
    * in the scan stage, the (hash, split) partial collapses instances, the
    * per-hash spread count runs over distinct (hash, split) rows. Two
    * hash-keyed shuffles; text never moves.
    */
  def splitLeakage(docs: DataFrame): DataFrame = {
    val bucket = conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long") % 100
    val splitCol = when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    val inst = docs
      .select(splitCol.as("split"), split(trim(col("text")), "\\s+").as("w"))
      .select(col("split"), explode(expr(
        s"transform(sequence(1, size(w), ${CorpusQueries.ParaSize}), s -> slice(w, s, ${CorpusQueries.ParaSize}))"))
        .as("p"))
      .select(col("split"),
        conv(substring(md5(array_join(col("p"), " ")), 1, 13), 16, 10)
          .cast("long").as("ph"))
    val bySplit = inst.groupBy(col("ph"), col("split"))
      .agg(count(lit(1)).as("n_inst"))
    // input rows here are distinct (ph, split): a plain count is the spread
    val spread = bySplit.groupBy(col("ph")).agg(count(lit(1)).as("n_splits"))
    bySplit.join(spread, "ph")
      .groupBy(col("split")).agg(
        sum(col("n_inst")).as("n_paras"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("n_splits") > 1, 1L).otherwise(0L)).as("n_leaked_hashes"),
        sum(when(col("n_splits") > 1, col("n_inst")).otherwise(0L)).as("n_leaked_paras"))
      .withColumn("pct_leaked",
        Num.r(col("n_leaked_paras").cast("double") / col("n_paras"), 6))
  }

  def splitLeakageQ(spark: SparkSession, dir: String): DataFrame =
    splitLeakage(Tables.documents(spark, dir))

  val splitLeakageSql: String = {
    val P = CorpusQueries.ParaSize
    s"""WITH toks AS (
       |  SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split, w
       |  FROM (SELECT ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 AS b,
       |               string_split_regex(trim(text), '\\s+') AS w
       |        FROM documents)),
       |inst AS (
       |  SELECT split,
       |         ('0x' || substr(md5(array_to_string(w[s : s + ${P - 1}], ' ')), 1, 13))::BIGINT AS ph
       |  FROM toks CROSS JOIN unnest(range(1, len(w) + 1, $P)) AS t(s)),
       |bysp AS (
       |  SELECT ph, split, CAST(count(*) AS BIGINT) AS n_inst FROM inst GROUP BY 1, 2),
       |spread AS (SELECT ph, CAST(count(*) AS BIGINT) AS n_splits FROM bysp GROUP BY 1)
       |SELECT split,
       |  CAST(sum(n_inst) AS BIGINT) AS n_paras,
       |  CAST(count(*) AS BIGINT) AS n_distinct,
       |  CAST(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked_hashes,
       |  CAST(sum(CASE WHEN n_splits > 1 THEN n_inst ELSE 0 END) AS BIGINT) AS n_leaked_paras,
       |  ${Num.rSql(
        "CAST(sum(CASE WHEN n_splits > 1 THEN n_inst ELSE 0 END) AS DOUBLE) / sum(n_inst)",
        6)} AS pct_leaked
       |FROM bysp JOIN spread USING (ph)
       |GROUP BY 1""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Classifier AUC against the rule gate.
  // ---------------------------------------------------------------------

  /** Tie-aware AUC from a (prob, keep) relation, without ranking the
    * corpus: instances collapse to one row per DISTINCT probability value
    * (pos/neg counts) in a single hash-aggregate shuffle, and the rank
    * arithmetic — Mann–Whitney with midrank tie handling — runs as a
    * window over that bounded relation only (probs are grid-rounded at 6
    * decimals upstream, so the relation is ≤1e6 rows regardless of corpus
    * size; in practice far smaller). The pairwise statistic stays in exact
    * integer arithmetic (2× scaling absorbs the tie half-credit) until the
    * one final display division.
    */
  def aucOf(scored: DataFrame): DataFrame = {
    val byProb = scored.groupBy(col("prob")).agg(
      sum(when(col("keep"), 1L).otherwise(0L)).as("pos"),
      sum(when(col("keep"), 0L).otherwise(1L)).as("neg"))
    // bounded relation: one row per distinct rounded probability
    val w = Window.orderBy(col("prob")).rowsBetween(Window.unboundedPreceding, -1)
    val cum = byProb.withColumn("cneg", coalesce(sum(col("neg")).over(w), lit(0L)))
    cum.agg(
      sum(col("pos")).as("n_pos"),
      sum(col("neg")).as("n_neg"),
      sum(col("pos") * (lit(2L) * col("cneg") + col("neg"))).as("num2"))
      .select(col("n_pos"), col("n_neg"),
        Num.r(col("num2").cast("double") /
          (lit(2.0) * col("n_pos") * col("n_neg")), 6).as("auc"))
      .withColumn("gini", Num.r(lit(2.0) * col("auc") - lit(1.0), 6))
  }

  /** AUC of the hashed-linear quality classifier's probability against the
    * Gopher rule gate's keep label — the discrimination number next to the
    * q_classifier_calibration curve: calibration says whether a threshold
    * transfers, AUC says whether the model ORDERS documents the way the
    * rules would gate them at all.
    */
  def classifierAuc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val probs = ScaleQueries.qualityClassify(docs).select(col("doc_id"), col("prob"))
    val labels = CorpusQueries.gopherFlags(docs)
      .select(col("doc_id"), col("keep"))
    aucOf(probs.join(labels, "doc_id"))
  }

  val classifierAucSql: String =
    s"""WITH p AS (${ScaleQueries.qualityClassifierSql}),
       |g AS (${CorpusQueries.gopherRulesSql}),
       |j AS (SELECT p.prob, g.keep FROM p JOIN g USING (doc_id)),
       |bp AS (
       |  SELECT prob,
       |         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS pos,
       |         CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS neg
       |  FROM j GROUP BY 1),
       |cum AS (
       |  SELECT prob, pos, neg,
       |         CAST(coalesce(sum(neg) OVER (ORDER BY prob
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cneg
       |  FROM bp),
       |a AS (
       |  SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
       |         CAST(sum(neg) AS BIGINT) AS n_neg,
       |         CAST(sum(pos * (2 * cneg + neg)) AS BIGINT) AS num2
       |  FROM cum),
       |f AS (
       |  SELECT n_pos, n_neg,
       |         ${Num.rSql("CAST(num2 AS DOUBLE) / (2.0 * n_pos * n_neg)", 6)} AS auc
       |  FROM a)
       |SELECT n_pos, n_neg, auc, ${Num.rSql("2.0 * auc - 1.0", 6)} AS gini
       |FROM f""".stripMargin

  // ---------------------------------------------------------------------
  // Line/paragraph boilerplate incidence.
  // ---------------------------------------------------------------------

  /** Corpus-wide instance-count threshold above which a paragraph counts
    * as boilerplate (CCNet removes lines duplicated across documents; the
    * published cut is a document-frequency threshold — this corpus's
    * synthetic near-dup rate makes 3 the smallest value that separates
    * genuinely repeated boilerplate from the near-dup pairs themselves).
    */
  val BoilerDf = 3L

  /** Line-level boilerplate report: unlike q_paragraph_dedup (which keeps
    * the FIRST occurrence of every paragraph), the boilerplate gate drops
    * ALL instances — including the first — of any paragraph repeated ≥
    * BoilerDf times corpus-wide; headers, footers and navigation chrome
    * are noise in every document they appear in. Same scale shape as the
    * dedup: hashes leave the scan, two hash-keyed shuffles, text never
    * moves, a hot boilerplate hash costs one combiner row per upstream
    * partition.
    */
  def boilerplate(docs: DataFrame): DataFrame = {
    val inst = docs
      .select(col("source"), split(trim(col("text")), "\\s+").as("w"))
      .select(col("source"), explode(expr(
        s"transform(sequence(1, size(w), ${CorpusQueries.ParaSize}), s -> slice(w, s, ${CorpusQueries.ParaSize}))"))
        .as("p"))
      .select(col("source"), size(col("p")).as("n_tokens"),
        conv(substring(md5(array_join(col("p"), " ")), 1, 13), 16, 10)
          .cast("long").as("ph"))
    // instances of one hash share identical text, hence identical n_tokens
    val bySrc = inst.groupBy(col("ph"), col("source")).agg(
      count(lit(1)).as("n_inst"), min(col("n_tokens")).as("tok"))
    val dfRel = bySrc.groupBy(col("ph")).agg(sum(col("n_inst")).as("df"))
    bySrc.join(dfRel, "ph")
      .groupBy(col("source")).agg(
        sum(col("n_inst")).as("n_paras"),
        sum(col("n_inst") * col("tok")).as("n_tokens"),
        sum(when(col("df") >= BoilerDf, col("n_inst")).otherwise(0L)).as("boiler_paras"),
        sum(when(col("df") >= BoilerDf, col("n_inst") * col("tok")).otherwise(0L))
          .as("boiler_tokens"))
      .withColumn("pct_boiler_tokens",
        Num.r(col("boiler_tokens").cast("double") / col("n_tokens"), 6))
  }

  def boilerplateQ(spark: SparkSession, dir: String): DataFrame =
    boilerplate(Tables.documents(spark, dir))

  val boilerplateSql: String = {
    val P = CorpusQueries.ParaSize
    s"""WITH toks AS (
       |  SELECT source, string_split_regex(trim(text), '\\s+') AS w FROM documents),
       |inst AS (
       |  SELECT source, len(w[s : s + ${P - 1}]) AS n_tokens,
       |         ('0x' || substr(md5(array_to_string(w[s : s + ${P - 1}], ' ')), 1, 13))::BIGINT AS ph
       |  FROM toks CROSS JOIN unnest(range(1, len(w) + 1, $P)) AS t(s)),
       |bysrc AS (
       |  SELECT ph, source, CAST(count(*) AS BIGINT) AS n_inst,
       |         min(n_tokens) AS tok
       |  FROM inst GROUP BY 1, 2),
       |dfrel AS (SELECT ph, CAST(sum(n_inst) AS BIGINT) AS df FROM bysrc GROUP BY 1)
       |SELECT source,
       |  CAST(sum(n_inst) AS BIGINT) AS n_paras,
       |  CAST(sum(n_inst * tok) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN df >= $BoilerDf THEN n_inst ELSE 0 END) AS BIGINT) AS boiler_paras,
       |  CAST(sum(CASE WHEN df >= $BoilerDf THEN n_inst * tok ELSE 0 END) AS BIGINT) AS boiler_tokens,
       |  ${Num.rSql(
        s"CAST(sum(CASE WHEN df >= $BoilerDf THEN n_inst * tok ELSE 0 END) AS DOUBLE) / sum(n_inst * tok)",
        6)} AS pct_boiler_tokens
       |FROM bysrc JOIN dfrel USING (ph)
       |GROUP BY 1""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Pipeline survival funnel.
  // ---------------------------------------------------------------------

  /** Stage-by-stage survival funnel: docs and tokens remaining after each
    * curation gate, applied cumulatively in pipeline order — all →
    * language (english) → Gopher rules → classifier → exact dedup. The
    * Gopher-appendix-style accounting table a corpus run publishes.
    *
    * This is the ACCOUNTING view — a production run fuses all four gate
    * expressions into the single curation scan (exactly what
    * q_corpus_curation does); here each gate's own chain is reused
    * verbatim so funnel numbers can never drift from the gates they
    * describe, at the cost of doc_id-keyed joins that sf-scale audit runs
    * absorb. Stages 0–3 are conditional sums in ONE aggregate; the dedup
    * stage adds one digest-keyed argmin over the survivors.
    */
  def pipelineFunnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val lang = docs.select(col("doc_id"),
      (TextAnalysis.language(col("text")) === "english").as("lang_ok"),
      md5(col("text")).as("digest"))
    val g = CorpusQueries.gopherFlags(docs)
      .select(col("doc_id"), col("n_words"), col("keep").as("g_ok"))
    val c = ScaleQueries.qualityClassify(docs)
      .select(col("doc_id"), col("keep").as("c_ok"))
    // Checkpointed: the gate relation feeds BOTH the stage-count
    // aggregate and the dedup argmin, and Catalyst does not CSE logical
    // plans — without the barrier each consumer re-runs all three gate
    // chains (language + gopher + classifier = three corpus scans,
    // twice). The checkpointed rows are narrow (digest, count, 3 bools);
    // EAGER at construction (the Archive.compactDay contract).
    val j = lang.join(g, "doc_id").join(c, "doc_id")
      .select(col("digest"), col("n_words"), col("lang_ok"),
        (col("lang_ok") && col("g_ok")).as("s2"),
        (col("lang_ok") && col("g_ok") && col("c_ok")).as("s3"))
      .localCheckpoint()
    val base = j.agg(
      count(lit(1)).as("n0"), sum(col("n_words")).as("t0"),
      sum(when(col("lang_ok"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("lang_ok"), col("n_words")).otherwise(0L)).as("t1"),
      sum(when(col("s2"), 1L).otherwise(0L)).as("n2"),
      sum(when(col("s2"), col("n_words")).otherwise(0L)).as("t2"),
      sum(when(col("s3"), 1L).otherwise(0L)).as("n3"),
      sum(when(col("s3"), col("n_words")).otherwise(0L)).as("t3"))
    // exact duplicates share text hence n_words: min is the keeper's count
    val dedup = j.filter(col("s3")).groupBy(col("digest"))
      .agg(min(col("n_words")).as("tok"))
      .agg(count(lit(1)).as("n4"), coalesce(sum(col("tok")), lit(0L)).as("t4"))
    base.crossJoin(dedup)
      .select(explode(array(
        struct(lit(0).as("stage"), lit("all").as("gate"),
          col("n0").as("n_docs"), col("t0").as("n_tokens")),
        struct(lit(1).as("stage"), lit("language").as("gate"),
          col("n1").as("n_docs"), col("t1").as("n_tokens")),
        struct(lit(2).as("stage"), lit("gopher").as("gate"),
          col("n2").as("n_docs"), col("t2").as("n_tokens")),
        struct(lit(3).as("stage"), lit("classifier").as("gate"),
          col("n3").as("n_docs"), col("t3").as("n_tokens")),
        struct(lit(4).as("stage"), lit("dedup").as("gate"),
          col("n4").as("n_docs"), col("t4").as("n_tokens")))).as("s"),
        col("n0"))
      .select(col("s.stage").as("stage"), col("s.gate").as("gate"),
        col("s.n_docs").as("n_docs"), col("s.n_tokens").as("n_tokens"),
        Num.r(col("s.n_docs").cast("double") / col("n0"), 6).as("pct_docs"))
  }

  val pipelineFunnelSql: String =
    s"""WITH g AS (${CorpusQueries.gopherRulesSql}),
       |c AS (${ScaleQueries.qualityClassifierSql}),
       |l AS (SELECT doc_id, (${ScaleQueries.langSql("text")}) = 'english' AS lang_ok,
       |             md5(text) AS digest
       |      FROM documents),
       |j AS (
       |  SELECT l.digest, g.n_words, l.lang_ok,
       |         l.lang_ok AND g.keep AS s2,
       |         l.lang_ok AND g.keep AND c.keep AS s3
       |  FROM l JOIN g USING (doc_id) JOIN c USING (doc_id)),
       |base AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n0, CAST(sum(n_words) AS BIGINT) AS t0,
       |    CAST(sum(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(sum(CASE WHEN lang_ok THEN n_words ELSE 0 END) AS BIGINT) AS t1,
       |    CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       |    CAST(sum(CASE WHEN s2 THEN n_words ELSE 0 END) AS BIGINT) AS t2,
       |    CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
       |    CAST(sum(CASE WHEN s3 THEN n_words ELSE 0 END) AS BIGINT) AS t3
       |  FROM j),
       |ded AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n4,
       |         CAST(coalesce(sum(tok), 0) AS BIGINT) AS t4
       |  FROM (SELECT digest, min(n_words) AS tok FROM j WHERE s3 GROUP BY 1)),
       |st AS (
       |  SELECT CAST(0 AS INT) AS stage, 'all' AS gate, n0 AS n_docs, t0 AS n_tokens, n0
       |    FROM base CROSS JOIN ded
       |  UNION ALL SELECT CAST(1 AS INT), 'language', n1, t1, n0 FROM base CROSS JOIN ded
       |  UNION ALL SELECT CAST(2 AS INT), 'gopher', n2, t2, n0 FROM base CROSS JOIN ded
       |  UNION ALL SELECT CAST(3 AS INT), 'classifier', n3, t3, n0 FROM base CROSS JOIN ded
       |  UNION ALL SELECT CAST(4 AS INT), 'dedup', n4, t4, n0 FROM base CROSS JOIN ded)
       |SELECT stage, gate, n_docs, n_tokens,
       |       ${Num.rSql("CAST(n_docs AS DOUBLE) / n0", 6)} AS pct_docs
       |FROM st""".stripMargin

  // ---------------------------------------------------------------------
  // Encoding-anomaly (mojibake) report.
  // ---------------------------------------------------------------------

  /** Deterministic encoding-anomaly fixture: the synthetic corpus is clean
    * ASCII, so the report op injects the three classic damage classes on
    * disjoint doc_id strata — the same fixture discipline as q_docs_pii:
    * UTF-8-read-as-Latin-1 mojibake digraphs, U+FFFD replacement
    * characters (lossy transcoding), and raw C0 control bytes.
    */
  private def mojiText: Column = concat(
    col("text"),
    when(col("doc_id") % 3 === 0, lit(" cafÃ© naÃ¯ve")).otherwise(lit("")),
    when(col("doc_id") % 5 === 0, lit(" donâ€™t")).otherwise(lit("")),
    when(col("doc_id") % 7 === 0, lit(" bad�byte")).otherwise(lit("")),
    when(col("doc_id") % 11 === 0, lit(" ctl\u0007bell")).otherwise(lit("")))

  private val mojiTextSql: String =
    "text" +
      " || (CASE WHEN doc_id % 3 = 0 THEN ' cafÃ© naÃ¯ve' ELSE '' END)" +
      " || (CASE WHEN doc_id % 5 = 0 THEN ' donâ€™t' ELSE '' END)" +
      " || (CASE WHEN doc_id % 7 = 0 THEN ' bad�byte' ELSE '' END)" +
      " || (CASE WHEN doc_id % 11 = 0 THEN ' ctl' || chr(7) || 'bell' ELSE '' END)"

  val MojiRe = "Ã©|Ã¯|Ã¨|â€™|â€œ"
  val ReplRe = "�"
  val CtrlRe = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"

  /** Per-source encoding-anomaly incidence (the ftfy triage report): how
    * many documents carry mojibake digraphs, replacement characters, or
    * raw control bytes, and the per-class match counts. Detection is
    * `regexp_count` in the scan stage — codegen'd, zero shuffles before
    * the per-source aggregate; at 100 TB this rides the curation scan.
    */
  def mojibake(spark: SparkSession, dir: String): DataFrame =
    mojibakeOf(mojiFlags(Tables.documents(spark, dir)))

  /** Per-document anomaly counts — pure scan-stage expressions, so the
    * streaming form (Streams.mojibakeStream) is this same code over the
    * document ingest stream.
    */
  def mojiFlags(docs: DataFrame): DataFrame = {
    val c = mojiText
    docs.select(col("doc_id"), col("source"),
      regexp_count(c, lit(MojiRe)).as("m"),
      regexp_count(c, lit(ReplRe)).as("r"),
      regexp_count(c, lit(CtrlRe)).as("k"))
  }

  def mojibakeOf(flags: DataFrame): DataFrame =
    flags
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("m") + col("r") + col("k") > 0, 1L).otherwise(0L))
          .as("n_flagged"),
        sum(col("m").cast("long")).as("n_mojibake"),
        sum(col("r").cast("long")).as("n_replacement"),
        sum(col("k").cast("long")).as("n_control"))
      .withColumn("pct_flagged",
        Num.r(col("n_flagged").cast("double") / col("n_docs"), 6))

  val mojibakeSql: String = {
    def cnt(re: String) = s"len(regexp_extract_all(c, '$re'))"
    s"""WITH d AS (SELECT source, ($mojiTextSql) AS c FROM documents)
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN ${cnt(MojiRe)} + ${cnt(ReplRe)} + ${cnt(CtrlRe)} > 0
       |           THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       |  CAST(sum(${cnt(MojiRe)}) AS BIGINT) AS n_mojibake,
       |  CAST(sum(${cnt(ReplRe)}) AS BIGINT) AS n_replacement,
       |  CAST(sum(${cnt(CtrlRe)}) AS BIGINT) AS n_control,
       |  ${Num.rSql(
        s"CAST(sum(CASE WHEN ${cnt(MojiRe)} + ${cnt(ReplRe)} + ${cnt(CtrlRe)} > 0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)",
        6)} AS pct_flagged
       |FROM d GROUP BY 1""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Dedup threshold sweep.
  // ---------------------------------------------------------------------

  /** The Jaccard thresholds the sweep evaluates (identical literals in
    * both engines). 0.5 is the floor because that is the LSH family's
    * banding operating point — the candidate relation is only
    * recall-complete at or above it.
    */
  val SweepThresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9, 0.95)

  /** Dedup-rate-vs-threshold curve: for each candidate Jaccard cut, how
    * many near-dup pairs survive and how many documents they touch — the
    * curve a corpus run reads to pick its dedup threshold (too low eats
    * genuine documents, too high leaves templated spam).
    *
    * Scale shape: the pair input is the LSH scale path
    * (Dedup.minhashDupPairs — banded candidates, exact-verified on the
    * candidate set only), NOT the corpus-quadratic shingle self-join; the
    * sweep itself is one explode over six literals + two tiny aggregates.
    * Oracle: the exact-Jaccard pair relation (same argument as
    * q_minhash_pairs — a corpus whose shingle pair expansion fits
    * Dedup.MaxGroupPairs takes the exact tier through the minhashDupPairs
    * gate; past it precision is exact by construction and recall
    * set-equality against the exact tier is pinned, the gate forced, by
    * ScaleSpec at sf0.001 and sf0.01 and RegimeSpec at sf0.1).
    */
  def dupThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // Checkpointed: the verified pair relation (bounded by TRUE near-dup
    // pairs) feeds both the per-threshold pair counts and the distinct-
    // doc counts — without the barrier each consumer re-runs the whole
    // LSH candidate + verify pipeline. EAGER at construction.
    val pairs = graft.scale.Dedup.minhashDupPairs(docs, "text", "doc_id", 3, 0.5)
      .select(col("d1"), col("d2"), Num.r(col("jaccard"), 6).as("j"))
      .localCheckpoint()
    val n = broadcast(docs.agg(count(lit(1)).as("n_corpus")))
    val byT = pairs
      .select(col("j"), col("d1"), col("d2"),
        explode(array(SweepThresholds.map(lit): _*)).as("threshold"))
      .filter(col("j") >= col("threshold"))
    val pairAgg = byT.groupBy(col("threshold")).agg(count(lit(1)).as("n_pairs"))
    val docAgg = byT
      .select(col("threshold"), explode(array(col("d1"), col("d2"))).as("doc"))
      .distinct()
      .groupBy(col("threshold")).agg(count(lit(1)).as("n_dup_docs"))
    pairAgg.join(docAgg, "threshold")
      .crossJoin(n)
      .select(col("threshold"), col("n_pairs"), col("n_dup_docs"),
        Num.r(col("n_dup_docs").cast("double") / col("n_corpus"), 6)
          .as("pct_dup_docs"))
  }

  val dupThresholdSweepSql: String = {
    val ts = SweepThresholds.mkString("[", ", ", "]")
    s"""WITH ${ScaleQueries.jaccardCtesSql},
       |pr AS (
       |  SELECT d1, d2, ${Num.rSql("CAST(c AS DOUBLE) / (s1.n_sh + s2.n_sh - c)", 6)} AS j
       |  FROM inter
       |  JOIN sizes s1 ON d1 = s1.doc_id
       |  JOIN sizes s2 ON d2 = s2.doc_id
       |  WHERE CAST(c AS DOUBLE) / (s1.n_sh + s2.n_sh - c) >= 0.5),
       |f AS (
       |  SELECT t.threshold, d1, d2, j
       |  FROM pr CROSS JOIN (SELECT unnest($ts::DOUBLE[]) AS threshold) t
       |  WHERE j >= t.threshold),
       |pa AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs FROM f GROUP BY 1),
       |da AS (
       |  SELECT threshold, CAST(count(*) AS BIGINT) AS n_dup_docs
       |  FROM (SELECT DISTINCT threshold, doc
       |        FROM (SELECT threshold, unnest([d1, d2]) AS doc FROM f))
       |  GROUP BY 1)
       |SELECT threshold, n_pairs, n_dup_docs,
       |       ${Num.rSql("CAST(n_dup_docs AS DOUBLE) / (SELECT count(*) FROM documents)", 6)} AS pct_dup_docs
       |FROM pa JOIN da USING (threshold)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Per-source score normalization.
  // ---------------------------------------------------------------------

  /** Per-source z-normalization of the classifier score — the step that
    * makes quality scores comparable ACROSS sources before mixing (a raw
    * threshold transfers badly between a curated and a crawled source;
    * the z-score is relative to each source's own distribution), plus a
    * ±3 winsorized variant for downstream weighting.
    *
    * Scale shape: per-source moments are one hash aggregate over the
    * scan (bounded by the source catalog), broadcast back onto a second
    * scan for the map-side z — nothing ever shuffles at document
    * granularity. Cross-engine: sums snap to an 1e-8 grid (well above
    * fp partial-order noise, and coarse enough that the x*1e8 product
    * stays exactly representable at any realistic corpus sum), then
    * every derived moment re-snaps at 1e-9 — both engines walk the same
    * staircase of doubles.
    */
  def scoreZnorm(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val p = ScaleQueries.qualityClassify(docs).select(col("doc_id"), col("prob"))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    val stats = p.groupBy(col("source")).agg(
      count(lit(1)).as("n"),
      Num.r(sum(col("prob")), 8).as("sp"),
      Num.r(sum(col("prob") * col("prob")), 8).as("sp2"))
      .withColumn("mu", Num.r(col("sp") / col("n"), 9))
      .withColumn("m2", Num.r(col("sp2") / col("n"), 9))
      .withColumn("sigma",
        Num.r(sqrt(greatest(Num.r(col("m2") - col("mu") * col("mu"), 9), lit(0.0))), 9))
      .select(col("source"), col("mu"), col("sigma"))
    p.join(broadcast(stats), "source")
      .withColumn("z",
        when(col("sigma") > 0.0, Num.r((col("prob") - col("mu")) / col("sigma"), 6))
          .otherwise(0.0))
      .select(col("doc_id"), col("source"), col("prob"), col("z"),
        greatest(least(col("z"), lit(3.0)), lit(-3.0)).as("z_winsor"))
  }

  val scoreZnormSql: String =
    s"""WITH c AS (${ScaleQueries.qualityClassifierSql}),
       |p AS (SELECT c.doc_id, d.source, c.prob
       |      FROM c JOIN documents d USING (doc_id)),
       |stats AS (
       |  SELECT source, count(*) AS n,
       |         ${Num.rSql("sum(prob)", 8)} AS sp,
       |         ${Num.rSql("sum(prob * prob)", 8)} AS sp2
       |  FROM p GROUP BY 1),
       |mom AS (
       |  SELECT source,
       |         ${Num.rSql("sp / n", 9)} AS mu,
       |         ${Num.rSql("sp2 / n", 9)} AS m2
       |  FROM stats),
       |sg AS (
       |  SELECT source, mu,
       |         ${Num.rSql(s"sqrt(greatest(${Num.rSql("m2 - mu * mu", 9)}, 0.0))", 9)} AS sigma
       |  FROM mom),
       |z AS (
       |  SELECT p.doc_id, p.source, p.prob,
       |         CASE WHEN s.sigma > 0.0
       |              THEN ${Num.rSql("(p.prob - s.mu) / s.sigma", 6)}
       |              ELSE 0.0 END AS z
       |  FROM p JOIN sg s USING (source))
       |SELECT doc_id, source, prob, z,
       |       greatest(least(z, 3.0), -3.0) AS z_winsor
       |FROM z""".stripMargin

  // ---------------------------------------------------------------------
  // Data card.
  // ---------------------------------------------------------------------

  /** The per-source data card — the one-table summary a corpus release
    * publishes (HF dataset-card style): volume, language share, duplicate
    * and boilerplate token shares, PII and encoding-anomaly incidence,
    * rule/classifier keep rates, mean classifier score. Every column is a
    * per-source join of an operator THIS engine already registers, reused
    * verbatim — the card can never disagree with the underlying reports.
    *
    * Cost shape: each constituent is its own scan + bounded per-source
    * aggregate; the final join touches one row per source. An audit
    * artifact, not a hot path — at 100 TB each constituent is the same
    * scan its standalone query runs, and a production run would fuse the
    * scan-stage constituents (language/gopher/classifier/pii/mojibake
    * ride one scan; only the paragraph tiers need their own shuffles).
    */
  def dataCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val base = docs.select(col("source"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("nt"),
      (TextAnalysis.language(col("text")) === "english").as("en"))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("n_tokens"),
        sum(when(col("en"), 1L).otherwise(0L)).as("n_en"))
    val pd = CorpusQueries.paragraphDedupOf(docs)
      .select(col("source"), col("pct_tokens_removed").as("dup_token_pct"))
    val bp = boilerplate(docs)
      .select(col("source"), col("pct_boiler_tokens").as("boiler_token_pct"))
    val pii = CorpusQueries.docsPii(spark, dir)
      .select(col("source"), col("docs_with_pii"))
    val mj = mojibake(spark, dir).select(col("source"), col("n_flagged"))
    val g = CorpusQueries.gopherFlags(docs).select(col("doc_id"), col("keep"))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("n_gopher"))
    val c = ScaleQueries.qualityClassify(docs)
      .select(col("doc_id"), col("keep"), col("prob"))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source")).agg(
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_clf"),
        Num.savg(sum(col("prob")), count(lit(1)), 6, 6).as("avg_prob"))
    base.join(pd, "source").join(bp, "source").join(pii, "source")
      .join(mj, "source").join(g, "source").join(c, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        Num.r(col("n_en").cast("double") / col("n_docs"), 6).as("english_pct"),
        col("dup_token_pct"), col("boiler_token_pct"),
        Num.r(col("docs_with_pii").cast("double") / col("n_docs"), 6).as("pii_doc_pct"),
        Num.r(col("n_flagged").cast("double") / col("n_docs"), 6).as("moji_doc_pct"),
        Num.r(col("n_gopher").cast("double") / col("n_docs"), 6).as("gopher_keep_pct"),
        Num.r(col("n_clf").cast("double") / col("n_docs"), 6).as("clf_keep_pct"),
        col("avg_prob"))
  }

  val dataCardSql: String =
    s"""WITH base AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_tokens,
       |         CAST(sum(CASE WHEN (${ScaleQueries.langSql("text")}) = 'english'
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_en
       |  FROM documents GROUP BY 1),
       |pd AS (SELECT source, pct_tokens_removed AS dup_token_pct
       |       FROM (${CorpusQueries.paragraphDedupSql}) x),
       |bp AS (SELECT source, pct_boiler_tokens AS boiler_token_pct
       |       FROM ($boilerplateSql) x),
       |pii AS (SELECT source, docs_with_pii FROM (${CorpusQueries.docsPiiSql}) x),
       |mj AS (SELECT source, n_flagged FROM ($mojibakeSql) x),
       |g AS (
       |  SELECT d.source, CAST(sum(CASE WHEN x.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher
       |  FROM (${CorpusQueries.gopherRulesSql}) x JOIN documents d USING (doc_id)
       |  GROUP BY 1),
       |c AS (
       |  SELECT d.source, CAST(sum(CASE WHEN x.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_clf,
       |         ${Num.savgSql("sum(x.prob)", "count(*)", 6, 6)} AS avg_prob
       |  FROM (${ScaleQueries.qualityClassifierSql}) x JOIN documents d USING (doc_id)
       |  GROUP BY 1)
       |SELECT base.source, n_docs, n_tokens,
       |  ${Num.rSql("CAST(n_en AS DOUBLE) / n_docs", 6)} AS english_pct,
       |  dup_token_pct, boiler_token_pct,
       |  ${Num.rSql("CAST(docs_with_pii AS DOUBLE) / n_docs", 6)} AS pii_doc_pct,
       |  ${Num.rSql("CAST(n_flagged AS DOUBLE) / n_docs", 6)} AS moji_doc_pct,
       |  ${Num.rSql("CAST(n_gopher AS DOUBLE) / n_docs", 6)} AS gopher_keep_pct,
       |  ${Num.rSql("CAST(n_clf AS DOUBLE) / n_docs", 6)} AS clf_keep_pct,
       |  avg_prob
       |FROM base
       |JOIN pd ON base.source = pd.source
       |JOIN bp ON base.source = bp.source
       |JOIN pii ON base.source = pii.source
       |JOIN mj ON base.source = mj.source
       |JOIN g ON base.source = g.source
       |JOIN c ON base.source = c.source""".stripMargin

  // ---------------------------------------------------------------------
  // Spearman length bias of the quality classifier.
  // ---------------------------------------------------------------------

  /** Doubled midranks (2·midrank, always an integer) of one grid-valued
    * column, computed WITHOUT ranking the corpus: the column collapses to
    * its value histogram (one hash-aggregate shuffle, one row per distinct
    * value — bounded: `prob` lives on the 1e-6 grid, `n_chars` under the
    * max document length), the rank arithmetic runs as a cumulative window
    * over that bounded relation only, and the ranks broadcast-join back
    * onto the rows by value. 2·midrank = 2·|{< v}| + c + 1 for a value
    * with c ties. Same decomposition family as [[aucOf]] / the exact
    * quantile ladder.
    */
  private[graft] def doubledRanks(df: DataFrame, v: String, out: String): DataFrame = {
    val byVal = df.groupBy(col(v)).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col(v)).rowsBetween(Window.unboundedPreceding, -1)
    byVal
      .withColumn(out,
        lit(2L) * coalesce(sum(col("c")).over(w), lit(0L)) + col("c") + lit(1L))
      .select(col(v), col(out))
  }

  /** Spearman rank correlation between the hashed-linear quality
    * classifier's probability and raw document length — the length-bias
    * audit: quality classifiers notoriously learn "long ⇒ good", and a
    * curation gate built on one then skews the corpus's length
    * distribution. ρ is Pearson over midranks (tie-aware), so the number
    * is monotone-invariant — it catches the bias even when the
    * prob↔length relation is nonlinear.
    *
    * Scale shape: two bounded value histograms + broadcast rank joins
    * (the corpus is never sorted; the only windows run over the distinct-
    * value relations), then one scan accumulates the five rank moments.
    * Ranks are doubled so every term is integer-valued; the moment sums
    * run in DOUBLE and snap at negative scales (Num.r overflow rule —
    * Spark's LONG floor saturates past 2^63 where DuckDB's stays double,
    * and n·Σrₓrᵧ ≈ 4n⁴ leaves BIGINT near n = 1.2e6 anyway): exact below
    * 2^53, and the 1e4 grid absorbs fp accumulation noise for another
    * ~decade of corpus growth (sum·2⁻⁵² ≪ 5e3 up to Σ ≈ 1e19). The final
    * ratio is identical double arithmetic in both engines. Variance-zero
    * denominators (degenerate corpora) are CASE-guarded per the ANSI
    * divide-by-zero rule.
    */
  def spearmanQuality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // persisted: the scored relation feeds BOTH rank histograms and the
    // moment scan, and Catalyst does not CSE logical branches — without
    // this the classifier scan+join re-runs three times (ABBench spearman
    // arms at sf1: 2.8 s warm unpersisted → 1.65 s persisted)
    val scored = ScaleQueries.qualityClassify(docs)
      .select(col("doc_id"), col("prob"))
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .persist()
    val rx = doubledRanks(scored, "prob", "rx")
    val ry = doubledRanks(scored, "n_chars", "ry")
    val j = scored
      .join(broadcast(rx), "prob")
      .join(broadcast(ry), "n_chars")
    val m = j.agg(
      count(lit(1)).as("n"),
      Num.r(sum(col("rx").cast("double")), -2).as("sx"),
      Num.r(sum(col("ry").cast("double")), -2).as("sy"),
      Num.r(sum((col("rx") * col("rx")).cast("double")), -4).as("sxx"),
      Num.r(sum((col("ry") * col("ry")).cast("double")), -4).as("syy"),
      Num.r(sum((col("rx") * col("ry")).cast("double")), -4).as("sxy"))
    // radicands clamp at 0: on a (near-)constant column the moment grids
    // can snap n·syy − sy² to a small NEGATIVE value (e.g. all-equal
    // n_chars: syy snaps down while sy² is exact) — DuckDB's sqrt THROWS
    // on negatives and Spark's NaN would slip past the ≠0 guard; clamped,
    // den = 0 and the guard yields the documented NULL in both engines
    val den = sqrt(greatest(col("n") * col("sxx") - col("sx") * col("sx"), lit(0.0))) *
      sqrt(greatest(col("n") * col("syy") - col("sy") * col("sy"), lit(0.0)))
    // materialize the one-row result eagerly so the scored cache can be
    // released before returning (the pagerank/triangleStatsOf pattern)
    val out = m.select(col("n"),
      when(den =!= 0.0,
        Num.r((col("n") * col("sxy") - col("sx") * col("sy")) / den, 6))
        .as("rho_len_quality"))
      .localCheckpoint()
    scored.unpersist()
    out
  }

  /** DuckDB replay: 2·midrank = 2·rank() + tie-count − 1 (rank() = 1 +
    * |{< v}|), windowed directly at gate scale; moments cast to DOUBLE
    * before summing and snapped on the same grids.
    */
  val spearmanQualitySql: String = {
    val den = "(sqrt(greatest(n * sxx - sx * sx, 0.0)) * sqrt(greatest(n * syy - sy * sy, 0.0)))"
    s"""WITH p AS (${ScaleQueries.qualityClassifierSql}),
       |j AS (
       |  SELECT p.prob, d.n_chars
       |  FROM p JOIN documents d USING (doc_id)),
       |r AS (
       |  SELECT 2 * rank() OVER (ORDER BY prob)
       |           + CAST(count(*) OVER (PARTITION BY prob) AS BIGINT) - 1 AS rx,
       |         2 * rank() OVER (ORDER BY n_chars)
       |           + CAST(count(*) OVER (PARTITION BY n_chars) AS BIGINT) - 1 AS ry
       |  FROM j),
       |m AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         ${Num.rSql("sum(CAST(rx AS DOUBLE))", -2)} AS sx,
       |         ${Num.rSql("sum(CAST(ry AS DOUBLE))", -2)} AS sy,
       |         ${Num.rSql("sum(CAST(rx * rx AS DOUBLE))", -4)} AS sxx,
       |         ${Num.rSql("sum(CAST(ry * ry AS DOUBLE))", -4)} AS syy,
       |         ${Num.rSql("sum(CAST(rx * ry AS DOUBLE))", -4)} AS sxy
       |  FROM r)
       |SELECT n,
       |       CASE WHEN $den <> 0
       |            THEN ${Num.rSql(s"(n * sxy - sx * sy) / $den", 6)}
       |       END AS rho_len_quality
       |FROM m""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Neyman-allocation audit sampling design.
  // ---------------------------------------------------------------------

  /** Fixed total audit-sample budget. */
  val AuditBudget = 1000

  /** Neyman (variance-optimal) allocation of a fixed audit-sample budget
    * across sources: n_h ∝ N_h·σ_h — the stratified-sampling design that
    * minimizes the variance of the corpus-wide estimate for a fixed
    * number of human-audited documents (big uniform strata need few
    * samples; small high-variance strata need many). σ here is the
    * population sd of document length, the variable a length-biased
    * audit estimate is most sensitive to.
    *
    * Scale shape: one hash-aggregate shuffle to per-source exact integer
    * moments (n, Σx, Σx² — n_chars is integer so both sums are exact
    * BIGINTs; Σx² stays under 2^63 to ~10⁹ docs/source at 10⁴ chars);
    * everything after runs on the source-bounded relation, with the
    * budget total as ANOTHER WINDOW over it (one fact scan — the
    * ValueQuantiles pattern, since Catalyst does not CSE a reused
    * branch). Cross-engine: σ is snapped to the 1e-6 grid before the
    * total, the total snaps on the UNIT grid — coarse enough that
    * sum-order noise over source-count terms stays under half a step to
    * t ≈ 1e14 (≈ 3·10¹⁰ docs/source at σ = 3·10³), fine enough that any
    * corpus with real variance (t ≥ 1) keeps a nonzero total — and the
    * share/allocation divisions then run on identical doubles. The
    * degenerate all-constant corpus (t = 0) is CASE-guarded.
    */
  def neymanAlloc(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sx"),
        sum(col("n_chars") * col("n_chars")).as("sxx"))
    val s2 = m.select(col("source"), col("n_docs"),
      Num.r(sqrt(greatest(
        (col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double") / col("n_docs")) /
          col("n_docs"), lit(0.0))), 6).as("sig6"))
    val wAll = Window.partitionBy(lit(0))
    val term = col("n_docs").cast("double") * col("sig6")
    s2.withColumn("t", Num.r(sum(term).over(wAll), 0))
      .select(col("source"), col("n_docs"), col("sig6").as("sigma_chars"),
        when(col("t") =!= 0.0, Num.r(term / col("t"), 6)).as("alloc_share"),
        when(col("t") =!= 0.0,
          Num.r(lit(AuditBudget.toDouble) * (term / col("t")), 0).cast("long"))
          .as("alloc_n"))
  }

  val neymanAllocSql: String =
    s"""WITH m AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(n_chars) AS BIGINT) AS sx,
       |         CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
       |  FROM documents GROUP BY 1),
       |s2 AS (
       |  SELECT source, n_docs,
       |         ${Num.rSql(
      "sqrt(greatest((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n_docs) / n_docs, 0.0))",
      6)} AS sig6
       |  FROM m),
       |t AS (SELECT ${Num.rSql("sum(CAST(n_docs AS DOUBLE) * sig6)", 0)} AS t FROM s2)
       |SELECT source, n_docs, sig6 AS sigma_chars,
       |       CASE WHEN t <> 0.0
       |            THEN ${Num.rSql("CAST(n_docs AS DOUBLE) * sig6 / t", 6)} END AS alloc_share,
       |       CASE WHEN t <> 0.0
       |            THEN CAST(${Num.rSql(
      s"${AuditBudget.toDouble} * (CAST(n_docs AS DOUBLE) * sig6 / t)", 0)} AS BIGINT)
       |       END AS alloc_n
       |FROM s2 CROSS JOIN t""".stripMargin

  // ---------------------------------------------------------------------
  // Language-ID confusion audit.
  // ---------------------------------------------------------------------

  /** Confusion matrix between the corpus's LABELED language and the
    * n-gram-heuristic detector (TextAnalysis.language) — the audit that
    * sizes detector error before a language-filtered curation pass: the
    * detector only speaks en/es/fr, so the zh/de rows quantify exactly
    * how much out-of-model text would leak through (or be dropped by) a
    * detector-gated filter. One scan, one hash aggregate to the
    * |labels × detector classes|-bounded relation; the per-label share
    * margin is a window over that bounded relation only.
    */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.documents(spark, dir)
      .select(col("lang"), TextAnalysis.language(col("text")).as("detected"))
      .groupBy(col("lang"), col("detected")).agg(count(lit(1)).as("n"))
    m.withColumn("lt", sum(col("n")).over(Window.partitionBy(col("lang"))))
      .select(col("lang"), col("detected"), col("n"),
        Num.r(col("n").cast("double") / col("lt"), 6).as("share"))
  }

  val langConfusionSql: String =
    s"""WITH m AS (
       |  SELECT lang, ${ScaleQueries.langSql("text")} AS detected,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM documents GROUP BY 1, 2),
       |t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS lt FROM m GROUP BY 1)
       |SELECT m.lang, m.detected, m.n,
       |       ${Num.rSql("CAST(m.n AS DOUBLE) / t.lt", 6)} AS share
       |FROM m JOIN t USING (lang)""".stripMargin

  // ---------------------------------------------------------------------

  val ops: Seq[Op] = Seq(
    Op("q_split_leakage", splitLeakageQ, splitLeakageSql),
    Op("q_classifier_auc", classifierAuc, classifierAucSql),
    Op("q_line_boilerplate", boilerplateQ, boilerplateSql),
    Op("q_pipeline_funnel", pipelineFunnel, pipelineFunnelSql),
    Op("q_mojibake", mojibake, mojibakeSql),
    Op("q_dup_threshold_sweep", dupThresholdSweep, dupThresholdSweepSql),
    Op("q_score_znorm", scoreZnorm, scoreZnormSql),
    Op("q_data_card", dataCard, dataCardSql),
    Op("q_spearman_quality", spearmanQuality, spearmanQualitySql),
    Op("q_neyman_alloc", neymanAlloc, neymanAllocSql),
    Op("q_lang_confusion", langConfusion, langConfusionSql))
}
