package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Num, Op, Tables}
import graft.functions.TextAnalysis
import graft.scale.VectorOps

/** Corpus-diversity operators: the statistical-law fits and diversity
  * measures a training-data run reports next to the entropy/KL tier
  * (graft.analytics.CorpusStats), plus greedy coreset selection on the
  * embedding table — the data-pruning primitive behind diverse-subset
  * recipes.
  *
  * Reference analog: the quality/monitoring reporting surface of the
  * curation config (`/root/reference/config/config.yaml` quality
  * section); the operators themselves are standard public-literature
  * corpus diagnostics (Zipf's law, distinct-n diversity, tokenizer
  * fertility, k-center greedy from the active-learning/coreset
  * literature). House rules throughout: rounding via graft.Num only,
  * term/gram strings never reach a shuffle (xxhash64 longs), identical
  * literals and textually parallel arithmetic in the Spark expression
  * and the DuckDB oracle.
  */
object CorpusDiversity {

  // ---------------------------------------------------------------------
  // Zipf's-law fit per source.
  // ---------------------------------------------------------------------

  /** Number of top-frequency terms the rank–frequency regression runs
    * over. Part of the operator's deterministic definition — both
    * engines fit exactly this many points (fewer only if a source's
    * vocabulary is smaller).
    */
  val ZipfTopK = 100

  /** Per-source Zipf's-law fit: least-squares slope/intercept of
    * ln(frequency) on ln(rank) over the top-`ZipfTopK` terms. Natural
    * corpora fit slope ≈ −1; a source whose slope is far off (too flat:
    * template/boilerplate spam; too steep: tiny effective vocabulary) is
    * a curation signal no per-document gate sees.
    *
    * Scale shape: token instances shuffle ONCE into the (source,
    * term-hash) count relation (map-side combined, vocabulary-bounded);
    * the top-K per source comes from the bounded TopKAgg (O(sources·k)
    * state per task, no per-source sort); the regression then runs over
    * sources×k rows. No term string and no Window node anywhere.
    *
    * Determinism across engines: ranks only matter through the multiset
    * of (rank, count) points, which is tiebreak-invariant — any top-K
    * cut under (count desc, any-total-tiebreak) yields the same sorted
    * count sequence — so the hash-keyed Spark heap and the string-keyed
    * oracle window agree exactly. Regression sums are snapped to 1e-9
    * before the slope division (the q_lr_train stage discipline).
    */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .select(col("source"), xxhash64(col("term")).as("th"))
      .groupBy(col("source"), col("th")).agg(count(lit(1)).as("c"))
    val top = tf.groupBy(col("source"))
      .agg(graft.scale.TopK.topK(col("c").cast("double"), col("th"), ZipfTopK).as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), (col("pos") + 1).cast("double").as("rank"),
        col("col.score").as("c"))
    val s = top.groupBy(col("source")).agg(
      count(lit(1)).as("n"),
      Num.r(sum(log(col("rank"))), 9).as("sx"),
      Num.r(sum(log(col("c"))), 9).as("sy"),
      Num.r(sum(log(col("rank")) * log(col("c"))), 9).as("sxy"),
      Num.r(sum(log(col("rank")) * log(col("rank"))), 9).as("sxx"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    s.select(col("source"), col("n").as("n_terms"),
      Num.r(slope, 6).as("slope"),
      Num.r((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"))
  }

  val zipfFitSql: String = {
    val slope = "(n * sxy - sx * sy) / (n * sxx - sx * sx)"
    s"""WITH tk AS (
       |  SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
       |  FROM documents),
       |tf AS (SELECT source, term, count(*) AS c FROM tk WHERE term <> '' GROUP BY 1, 2),
       |top AS (
       |  SELECT source, CAST(rank AS DOUBLE) AS rank, CAST(c AS DOUBLE) AS c FROM (
       |    SELECT source, c,
       |           row_number() OVER (PARTITION BY source
       |                              ORDER BY c DESC, term ASC) AS rank
       |    FROM tf) WHERE rank <= $ZipfTopK),
       |s AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n,
       |         ${Num.rSql("sum(ln(rank))", 9)} AS sx,
       |         ${Num.rSql("sum(ln(c))", 9)} AS sy,
       |         ${Num.rSql("sum(ln(rank) * ln(c))", 9)} AS sxy,
       |         ${Num.rSql("sum(ln(rank) * ln(rank))", 9)} AS sxx
       |  FROM top GROUP BY 1)
       |SELECT source, n AS n_terms,
       |       ${Num.rSql(slope, 6)} AS slope,
       |       ${Num.rSql(s"(sy - ($slope) * sx) / n", 6)} AS intercept
       |FROM s""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Tokenizer fertility per source.
  // ---------------------------------------------------------------------

  /** Per-source tokenizer fertility — BPE-ish tokens per whitespace word
    * and characters per token, the tokenizer-efficiency report a
    * data-recipe run uses to convert document budgets into token budgets
    * (and to spot sources the tokenizer fragments badly, e.g. code or
    * non-Latin scripts). Runs entirely in the scan stage through the
    * codegen'd single-scan counters (`WsTokenCount`/`BpeCount` behind
    * TextAnalysis) plus ONE tiny per-source aggregate — zero joins, all
    * integer sums, so the engines agree exactly with no snapping needed
    * before the display rounding.
    */
  def tokenFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("source")).agg(
        sum(TextAnalysis.wordCount(col("text")).cast("long")).as("ws_tokens"),
        sum(TextAnalysis.bpeTokenCount(col("text")).cast("long")).as("bpe_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .select(col("source"), col("ws_tokens"), col("bpe_tokens"), col("n_chars"),
        Num.r(col("bpe_tokens").cast("double") / col("ws_tokens"), 6)
          .as("fertility"),
        Num.r(col("n_chars").cast("double") / col("bpe_tokens"), 6)
          .as("chars_per_token"))

  val tokenFertilitySql: String =
    s"""WITH t AS (
       |  SELECT source,
       |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
       |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS wst,
       |    CASE WHEN text IS NULL THEN 0
       |         ELSE len(regexp_extract_all(text, '${TextAnalysis.BpeTokenRe}')) END AS bpet,
       |    n_chars
       |  FROM documents),
       |s AS (
       |  SELECT source, CAST(sum(wst) AS BIGINT) AS ws_tokens,
       |         CAST(sum(bpet) AS BIGINT) AS bpe_tokens,
       |         CAST(sum(n_chars) AS BIGINT) AS n_chars
       |  FROM t GROUP BY 1)
       |SELECT source, ws_tokens, bpe_tokens, n_chars,
       |       ${Num.rSql("CAST(bpe_tokens AS DOUBLE) / ws_tokens", 6)} AS fertility,
       |       ${Num.rSql("CAST(n_chars AS DOUBLE) / bpe_tokens", 6)} AS chars_per_token
       |FROM s""".stripMargin

  // ---------------------------------------------------------------------
  // N-gram diversity + cross-source novelty.
  // ---------------------------------------------------------------------

  /** Per-source word-trigram diversity: distinct-n ratio (distinct
    * trigrams / trigram instances — the standard text-diversity measure;
    * low = repetitive/templated output) and cross-source novelty (share
    * of the source's distinct trigrams occurring in NO other source —
    * high = genuinely new content, low = mirrored/duplicated provenance,
    * the same dial q_source_overlap reads from the near-dup graph but at
    * n-gram granularity).
    *
    * Scale shape: trigrams are built map-side with zip_with over slices
    * (per CLAUDE.md — indexing the split array inside a HOF lambda
    * re-evaluates the split per element) and leave the scan as xxhash64
    * longs; gram instances shuffle once into the (source, gram-hash)
    * relation, everything after is gram-vocabulary-bounded: the
    * source-count aggregate and the hash-keyed join back are both over
    * distinct grams, co-partitioned on the 8-byte hash. 64-bit gram-hash
    * collisions undercount novelty by ~n²/2⁶⁵ — negligible at any
    * realistic gram vocabulary (the shingle tier's standing trade).
    */
  def ngramDiversity(spark: SparkSession, dir: String): DataFrame = {
    val w = col("w")
    val tri = when(size(w) >= 3,
      zip_with(slice(w, lit(1), size(w) - 2),
        zip_with(slice(w, lit(2), size(w) - 2), slice(w, lit(3), size(w) - 2),
          (b, c) => concat(b, lit(" "), c)),
        (a, bc) => concat(a, lit(" "), bc)))
      .otherwise(array().cast("array<string>"))
    val sg = Tables.documents(spark, dir)
      .select(col("source"), split(trim(lower(col("text"))), "\\s+").as("w"))
      .select(col("source"), explode(tri).as("g"))
      .select(col("source"), xxhash64(col("g")).as("gh"))
      .groupBy(col("source"), col("gh")).agg(count(lit(1)).as("c"))
    val per = sg.groupBy(col("source")).agg(
      sum(col("c")).as("n_trigrams"),
      count(lit(1)).as("distinct_trigrams"))
    val ns = sg.groupBy(col("gh")).agg(count(lit(1)).as("nsrc"))
    val nov = sg.join(ns, "gh").filter(col("nsrc") === 1)
      .groupBy(col("source")).agg(count(lit(1)).as("novel"))
    per.join(nov, Seq("source"), "left")
      .select(col("source"), col("n_trigrams"), col("distinct_trigrams"),
        coalesce(col("novel"), lit(0L)).as("novel_distinct"),
        Num.r(col("distinct_trigrams").cast("double") / col("n_trigrams"), 6)
          .as("distinct_ratio"),
        Num.r(coalesce(col("novel"), lit(0L)).cast("double") /
          col("distinct_trigrams"), 6).as("novelty"))
  }

  val ngramDiversitySql: String =
    s"""WITH toks AS (
       |  SELECT source, string_split_regex(trim(lower(text)), '\\s+') AS w
       |  FROM documents),
       |tg AS (
       |  SELECT source, unnest(CASE WHEN len(w) >= 3
       |      THEN list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
       |      ELSE [] END) AS g
       |  FROM toks),
       |sg AS (SELECT source, g, count(*) AS c FROM tg GROUP BY 1, 2),
       |per AS (
       |  SELECT source, CAST(sum(c) AS BIGINT) AS n_trigrams,
       |         CAST(count(*) AS BIGINT) AS distinct_trigrams
       |  FROM sg GROUP BY 1),
       |ns AS (SELECT g, count(*) AS nsrc FROM sg GROUP BY 1),
       |nov AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS novel
       |  FROM sg JOIN ns USING (g) WHERE nsrc = 1 GROUP BY 1)
       |SELECT per.source, n_trigrams, distinct_trigrams,
       |       CAST(coalesce(novel, 0) AS BIGINT) AS novel_distinct,
       |       ${Num.rSql("CAST(distinct_trigrams AS DOUBLE) / n_trigrams", 6)} AS distinct_ratio,
       |       ${Num.rSql("CAST(coalesce(novel, 0) AS DOUBLE) / distinct_trigrams", 6)} AS novelty
       |FROM per LEFT JOIN nov USING (source)""".stripMargin

  // ---------------------------------------------------------------------
  // Heaps'-law fit per source (vocabulary growth).
  // ---------------------------------------------------------------------

  /** Bucket width for the cumulative-sum decomposition — the same
    * range-bucket + broadcast-prefix-offset shape as q_global_index, so
    * no corpus-wide window ever forms.
    */
  val HeapsBucketWidth = 256L

  /** Per-source Heaps'-law fit: V = K·n^β — vocabulary size as a power
    * law of tokens read, fit as the least-squares line of ln(V) on
    * ln(n) over the per-document cumulative points in doc_id order.
    * β far below the corpus norm means a source stops contributing new
    * vocabulary early (templated/repetitive content); the (β, ln K)
    * pair also extrapolates vocabulary cost for a planned token budget.
    *
    * Scale shape — no corpus-wide window anywhere: each term's FIRST
    * document is a vocab-bounded min-aggregate (one token shuffle, the
    * same relation family as the entropy/KL tier); per-document new-term
    * and token counts join hash-keyed on (source, doc_id); the running
    * sums decompose into doc_id range-buckets (per-bucket sums → prefix
    * offsets over the bounded bucket relation, broadcast → within-bucket
    * pane-local windows — the q_global_index decomposition); the
    * regression is the Zipf-fit aggregate with the same 1e-9 stage
    * snapping. Documents with a zero running count (empty prefixes) are
    * excluded from the fit in both engines (ln is undefined there).
    */
  def heapsFit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val tc = docs.select(col("source"), col("doc_id"),
      TextAnalysis.wordCount(col("text")).cast("long").as("t"))
    val nw = docs
      .select(col("source"), col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .select(col("source"), xxhash64(col("term")).as("th"), col("doc_id"))
      .groupBy(col("source"), col("th")).agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("source"), col("doc_id")).agg(count(lit(1)).as("newt"))
    val j = tc.join(nw, Seq("source", "doc_id"), "left")
      .select(col("source"), col("doc_id"), col("t"),
        coalesce(col("newt"), lit(0L)).as("newt"),
        (col("doc_id") / HeapsBucketWidth).cast("long").as("bkt"))
    val offs = j.groupBy(col("source"), col("bkt"))
      .agg(sum(col("t")).as("bt"), sum(col("newt")).as("bn"))
      .select(col("source"), col("bkt"),
        coalesce(sum(col("bt")).over(Window.partitionBy(col("source"))
          .orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)).as("offt"),
        coalesce(sum(col("bn")).over(Window.partitionBy(col("source"))
          .orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)).as("offn"))
    val pane = Window.partitionBy(col("source"), col("bkt"))
      .orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, 0)
    val pts = j.join(broadcast(offs), Seq("source", "bkt"))
      .select(col("source"),
        (sum(col("t")).over(pane) + col("offt")).as("n"),
        (sum(col("newt")).over(pane) + col("offn")).as("v"))
      .filter(col("n") > 0 && col("v") > 0)
      .select(col("source"),
        log(col("n").cast("double")).as("x"), log(col("v").cast("double")).as("y"))
    val s = pts.groupBy(col("source")).agg(
      count(lit(1)).as("n"),
      Num.r(sum(col("x")), 9).as("sx"),
      Num.r(sum(col("y")), 9).as("sy"),
      Num.r(sum(col("x") * col("y")), 9).as("sxy"),
      Num.r(sum(col("x") * col("x")), 9).as("sxx"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    s.select(col("source"), col("n").as("n_docs"),
      Num.r(slope, 6).as("beta"),
      Num.r((col("sy") - slope * col("sx")) / col("n"), 6).as("lnk"))
  }

  val heapsFitSql: String = {
    val slope = "(n * sxy - sx * sy) / (n * sxx - sx * sx)"
    s"""WITH tk AS (
       |  SELECT source, doc_id,
       |         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
       |  FROM documents),
       |nw AS (
       |  SELECT source, doc_id, CAST(count(*) AS BIGINT) AS newt FROM (
       |    SELECT source, term, min(doc_id) AS doc_id
       |    FROM tk WHERE term <> '' GROUP BY 1, 2) GROUP BY 1, 2),
       |tc AS (
       |  SELECT source, doc_id,
       |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
       |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS t
       |  FROM documents),
       |cum AS (
       |  SELECT tc.source,
       |         sum(t) OVER (PARTITION BY tc.source ORDER BY tc.doc_id) AS n,
       |         sum(coalesce(newt, 0)) OVER (PARTITION BY tc.source ORDER BY tc.doc_id) AS v
       |  FROM tc LEFT JOIN nw USING (source, doc_id)),
       |pts AS (
       |  SELECT source, ln(CAST(n AS DOUBLE)) AS x, ln(CAST(v AS DOUBLE)) AS y
       |  FROM cum WHERE n > 0 AND v > 0),
       |s AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n,
       |         ${Num.rSql("sum(x)", 9)} AS sx,
       |         ${Num.rSql("sum(y)", 9)} AS sy,
       |         ${Num.rSql("sum(x * y)", 9)} AS sxy,
       |         ${Num.rSql("sum(x * x)", 9)} AS sxx
       |  FROM pts GROUP BY 1)
       |SELECT source, n AS n_docs,
       |       ${Num.rSql(slope, 6)} AS beta,
       |       ${Num.rSql(s"(sy - ($slope) * sx) / n", 6)} AS lnk
       |FROM s""".stripMargin
  }

  // ---------------------------------------------------------------------
  // K-center greedy coreset selection.
  // ---------------------------------------------------------------------

  /** Number of greedy k-center steps — part of the operator's
    * deterministic definition (both engines run exactly this many).
    */
  val KcSteps = 8

  /** Greedy k-center coreset selection over the embedding table (the
    * farthest-point-first 2-approximation from the facility-location /
    * active-learning literature — the selection primitive behind
    * diverse-subset data-pruning recipes): seed with the lowest vec_id,
    * then `KcSteps` times pick the point farthest from its nearest
    * already-selected center. Output: one row per step with the chosen
    * vector and the coverage radius² at selection time (non-increasing —
    * the curve a pruning run reads to pick its subset size).
    *
    * Scale shape — the driver-held-model pattern (q_lr_train, PCA, the
    * k-means codebook): each step is ONE corpus scan with the ≤`KcSteps`
    * selected centers as broadcast literals (codegen'd DotProduct per
    * center, v·v hoisted so the scan pays one self-dot), reduced by a
    * tiny max-struct aggregate; the driver holds only the selected
    * vectors. Nothing quadratic in corpus size forms. Determinism: d² is
    * computed bit-identically in both engines (left-to-right double dot
    * products, `least` is exact), ranking uses the 1e-6-snapped distance
    * with a vec_id tiebreak (round-before-rank per CLAUDE.md). The
    * oracle unrolls the same steps as MATERIALIZED CTEs, carrying the
    * running min-distance relation forward (least(prev, d²(v, new)) —
    * the same values Spark's k-way least sees).
    */
  def coresetKcenter(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    def vecOf(r: org.apache.spark.sql.Row, i: Int): Seq[Double] =
      r.getSeq[Any](i).map(_.asInstanceOf[Number].doubleValue).toSeq
    val seed = emb.orderBy(col("vec_id").asc).limit(1)
      .select(col("embedding")).collect()(0)
    var centers = Seq(vecOf(seed, 0))
    val picks = Seq.newBuilder[(Int, Long, Double)]
    for (t <- 1 to KcSteps) {
      val dExprs: Seq[Column] = centers.map { c =>
        val cl = typedLit(c)
        col("__vv") - lit(2.0) * VectorOps.dot(col("embedding"), cl) +
          VectorOps.dot(cl, cl)
      }
      val dMin = if (dExprs.size == 1) dExprs.head else least(dExprs: _*)
      val best = emb
        .withColumn("__vv", VectorOps.dot(col("embedding"), col("embedding")))
        .select(Num.r(dMin, 6).as("d"), col("vec_id"))
        .agg(max(struct(col("d"), negate(col("vec_id")).as("nid"))).as("best"))
        .select(col("best.d").as("d"), negate(col("best.nid")).as("vec_id"))
        .collect()(0)
      val vid = best.getLong(1)
      picks += ((t, vid, best.getDouble(0)))
      val cRow = emb.filter(col("vec_id") === vid)
        .select(col("embedding")).collect()(0)
      centers = centers :+ vecOf(cRow, 0)
    }
    import spark.implicits._
    picks.result().toDF("step", "vec_id", "radius2")
      .select(col("step").cast("int").as("step"), col("vec_id"), col("radius2"))
  }

  val coresetKcenterSql: String = {
    def d2(v: String, c: String): String =
      s"(list_dot_product($v,$v) - 2.0 * list_dot_product($v,$c) + list_dot_product($c,$c))"
    val steps = (1 to KcSteps).map { k =>
      val dPrev = if (k == 1) "d1" else s"d$k"
      val dDef =
        if (k == 1)
          s"""d1 AS MATERIALIZED (
             |  SELECT e.vec_id, e.v, ${d2("e.v", "c0.v")} AS d
             |  FROM e CROSS JOIN c0)""".stripMargin
        else
          s"""d$k AS MATERIALIZED (
             |  SELECT d${k - 1}.vec_id, d${k - 1}.v,
             |         least(d${k - 1}.d, ${d2(s"d${k - 1}.v", s"p${k - 1}.pv")}) AS d
             |  FROM d${k - 1} CROSS JOIN p${k - 1})""".stripMargin
      s"""$dDef,
         |p$k AS MATERIALIZED (
         |  SELECT vec_id AS pid, v AS pv, ${Num.rSql("d", 6)} AS pd
         |  FROM $dPrev ORDER BY ${Num.rSql("d", 6)} DESC, vec_id ASC LIMIT 1)"""
        .stripMargin
    }.mkString(",\n")
    val rows = (1 to KcSteps)
      .map(k => s"SELECT $k AS step, pid, pd FROM p$k")
      .mkString("\nUNION ALL ")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |c0 AS MATERIALIZED (SELECT vec_id, v FROM e ORDER BY vec_id ASC LIMIT 1),
       |$steps
       |SELECT CAST(step AS INT) AS step, pid AS vec_id, pd AS radius2
       |FROM ($rows)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Johnson–Lindenstrauss random projection of the embedding table.
  // ---------------------------------------------------------------------

  /** Input/output dimensions of the JL sketch. */
  val JlInDim = 64
  val JlOutDim = 16

  /** Deterministic Rademacher sign matrix: sign(k, j) from Knuth
    * multiplicative hashing of the flat index — pure 64-bit integer
    * arithmetic, so both engines see the IDENTICAL ±1 literals (the
    * matrix is materialized into the plan and the oracle SQL from this
    * one function; no RNG, no seed drift).
    */
  private[graft] def jlSign(k: Int, j: Int): Double = {
    val h = ((k.toLong * JlInDim + j) * 2654435761L) % 4294967296L
    if (h < 2147483648L) 1.0 else -1.0
  }

  /** Johnson–Lindenstrauss sketch of the embedding table: project each
    * 64-d vector onto `JlOutDim` Rademacher sign vectors (scaled by
    * 1/√k, here exactly 4.0) — the cheap distance-preserving reduction
    * an ANN tier uses for candidate generation when even PQ codes are
    * too wide, and the standard first stage of a streaming similarity
    * sketch. Entirely map-side: the sign matrix rides in the plan as
    * foldable literals, each output coordinate is one codegen'd
    * DotProduct over the scan — zero shuffles, zero joins, nothing
    * collected. Output is flat (vec_id, k, x) rows so the oracle
    * compares scalars. Determinism: the ±1 matrix is integer-derived
    * (same literals both engines), dots accumulate left-to-right, and
    * coordinates are rounded at 1e-6 for display.
    */
  def jlProject(spark: SparkSession, dir: String): DataFrame =
    jlProjectOf(Tables.embeddings(spark, dir))

  /** Core form over any (vec_id, embedding) relation — stateless
    * scan-stage expressions only, so the streaming form
    * (Streams.jlStream) is this same code over the embedding ingest
    * stream.
    */
  def jlProjectOf(emb: DataFrame): DataFrame = {
    val comps = (0 until JlOutDim).map { k =>
      val s = typedLit((0 until JlInDim).map(j => jlSign(k, j)))
      Num.r(VectorOps.dot(col("embedding"), s) / lit(4.0), 6)
    }
    emb
      .select(col("vec_id"), posexplode(array(comps: _*)))
      .select(col("vec_id"), col("pos").cast("int").as("k"), col("col").as("x"))
  }

  val jlProjectSql: String = {
    val rows = (0 until JlOutDim).map { k =>
      val s = (0 until JlInDim).map(j =>
        if (jlSign(k, j) > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"SELECT vec_id, CAST($k AS INT) AS k, " +
        Num.rSql(s"list_dot_product(v, $s) / 4.0", 6) + " AS x FROM e"
    }.mkString("\nUNION ALL ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings)
       |$rows""".stripMargin
  }

  // ---------------------------------------------------------------------
  // ANN through the JL sketch: candidates on 16 dims, exact rerank.
  // ---------------------------------------------------------------------

  /** Candidate-set size per query for the sketch stage. */
  val JlCand = 50

  /** Approximate kNN through the JL sketch — the two-stage shape a
    * production sketch index runs: stage 1 scores every corpus vector
    * against each query IN THE 16-d SKETCH SPACE (the projected dot
    * p(v)·p(q) = Σₖ pₖ(v)·pₖ(q), an unbiased estimate of v·q) and keeps
    * the top `JlCand` candidates per query through the bounded TopKAgg;
    * stage 2 fetches only the candidates' full vectors (a broadcast
    * hash join on ~queries·JlCand ids) and reranks by EXACT cosine,
    * keeping top 3. At 100 TB the sketch table is what's persisted and
    * scanned (16 doubles/vector instead of 64 floats) and the exact
    * tier touches only candidates. Determinism: the query projections
    * enter both engines snapped at 1e-9 (driver-computed literals in
    * Spark, a CTE of the identical expression in the oracle), the
    * 16-term candidate score accumulates left-to-right, and both stages
    * round before ranking with a vec_id tiebreak.
    */
  def annJl(spark: SparkSession, dir: String): DataFrame = {
    import graft.scale.Similarity
    val emb = Tables.embeddings(spark, dir)
    val qids = ScaleQueries.KnnQueryIds
    val signs = (0 until JlOutDim).map(k =>
      (0 until JlInDim).map(j => jlSign(k, j)))
    val qs = emb.filter(col("vec_id").isInCollection(qids))
      .select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val v = r.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue).toArray
        val p = signs.map { s =>
          var acc = 0.0; var j = 0
          while (j < JlInDim) { acc += v(j) * s(j); j += 1 }
          Num.rd(acc / 4.0, 9)
        }
        (r.getLong(0), p)
      }.sortBy(_._1)
    // Two chained constant-table MatVecDots: sketch components once per
    // row, then all query scores in one expression. The inline form
    // (16 dots × 5 queries against literal sign/projection vectors) put
    // this stage past the JIT bytecode cliff (16 131 bytecodes) and ran
    // interpreted at ~264 µs/row (sf10 stress; PlanSpec now pins the
    // stage under 8 000). Bit-identity with the oracle is preserved:
    // ps = Σₖ (jlp[k]/4.0)·qp[k] = Σₖ jlp[k]·(qp[k]/4.0) exactly,
    // because scaling by a power of two is exact and commutes with IEEE
    // rounding of each product — so the /4.0 moves onto the driver-held
    // (already 1e-9-snapped) query projections.
    val qpDiv4: Seq[Seq[Double]] = qs.map(_._2.map(_ / 4.0).toSeq)
    val scored = qs.zipWithIndex.map { case ((qid, _), qi) =>
      struct(lit(qid).as("q_id"), Num.r(element_at(col("__ps"), qi + 1), 6).as("ps"))
    }
    val cands = emb
      .withColumn("__ps",
        VectorOps.matVec(VectorOps.matVec(col("embedding"), signs), qpDiv4))
      .select(col("vec_id"), explode(array(scored: _*)).as("s"))
      .select(col("vec_id"), col("s.q_id").as("q_id"), col("s.ps").as("ps"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"))
      .agg(graft.scale.TopK.topK(col("ps"), col("vec_id"), JlCand).as("top"))
      .select(col("q_id"), explode(col("top")).as("e"))
      .select(col("q_id"), col("e.id").as("vec_id"))
    val queries = emb.filter(col("vec_id").isInCollection(qids))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
    emb.join(broadcast(cands.join(queries, "q_id")), "vec_id")
      .select(col("q_id"), col("vec_id"),
        Num.r(Similarity.cosine(col("embedding"), col("q_embedding")), 6).as("cos_sim"))
      .groupBy(col("q_id"))
      .agg(graft.scale.TopK.topK(col("cos_sim"), col("vec_id"), 3).as("top"))
      .select(col("q_id"), explode(col("top")).as("e"))
      .select(col("q_id"), col("e.id").as("vec_id"), col("e.score").as("cos_sim"))
  }

  val annJlSql: String = {
    val qids = ScaleQueries.KnnQueryIds.mkString(",")
    def sList(k: Int): String = (0 until JlInDim).map(j =>
      if (jlSign(k, j) > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
    val qpList = (0 until JlOutDim).map(k =>
      Num.rSql(s"list_dot_product(qv, ${sList(k)}) / 4.0", 9))
      .mkString("list_value(", ",\n      ", ")")
    val psExpr = (0 until JlOutDim).map(k =>
      s"(list_dot_product(e.v, ${sList(k)}) / 4.0) * p[${k + 1}]")
      .mkString(" + ")
    val cos = s"""CASE WHEN sqrt(list_dot_product(e.v,e.v)) * sqrt(list_dot_product(qv,qv)) > 0
                 | THEN list_dot_product(e.v,qv) /
                 |      (sqrt(list_dot_product(e.v,e.v)) * sqrt(list_dot_product(qv,qv)))
                 | ELSE 0.0 END""".stripMargin.replace("\n", " ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |            FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN ($qids)),
       |qp AS (SELECT q_id, $qpList AS p FROM q),
       |cand AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id
       |                              ORDER BY ps DESC, vec_id ASC) AS rn
       |    FROM (SELECT qp.q_id, e.vec_id, ${Num.rSql("$PS$", 6)} AS ps
       |          FROM e CROSS JOIN qp WHERE e.vec_id <> qp.q_id))
       |  WHERE rn <= $JlCand)
       |SELECT q_id, vec_id, cos_sim FROM (
       |  SELECT q_id, vec_id, cos_sim,
       |         row_number() OVER (PARTITION BY q_id
       |                            ORDER BY cos_sim DESC, vec_id ASC) AS rn
       |  FROM (SELECT cand.q_id, cand.vec_id, ${Num.rSql(cos, 6)} AS cos_sim
       |        FROM cand JOIN e ON cand.vec_id = e.vec_id
       |        JOIN q ON cand.q_id = q.q_id))
       |WHERE rn <= 3""".stripMargin.replace("$PS$", psExpr)
  }

  // ---------------------------------------------------------------------

  val ops: Seq[Op] = Seq(
    Op("q_zipf_fit", zipfFit, zipfFitSql),
    Op("q_token_fertility", tokenFertility, tokenFertilitySql),
    Op("q_ngram_diversity", ngramDiversity, ngramDiversitySql),
    Op("q_heaps_fit", heapsFit, heapsFitSql),
    Op("q_jl_project", jlProject, jlProjectSql),
    Op("q_ann_jl", annJl, annJlSql),
    Op("q_coreset_kcenter", coresetKcenter, coresetKcenterSql))
}
