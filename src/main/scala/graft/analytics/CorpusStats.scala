package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Num, Op, Tables}
import graft.scale.{Dedup, Similarity, VecSum}

/** Corpus-statistics operators: the measurement surface a training-data
  * run reports alongside the curation gates — vocabulary entropy and
  * type-token ratios per source, per-source KL divergence against the
  * corpus unigram distribution (the domain-shift dial DSIR-style
  * reweighting turns), the cross-source near-duplicate overlap matrix,
  * embedding-space benchmark decontamination (the semantic sibling of
  * the shingle-overlap decontaminate tier), and the distributed
  * second-moment/covariance matrix of the embedding table (the Gram
  * statistic PCA / whitening / drift monitors start from).
  *
  * Reference analog: the quality/monitoring reports of the curation
  * config (`/root/reference/config/config.yaml` quality section); the
  * operators themselves are the public-literature corpus diagnostics a
  * 100 TB pipeline runs on every snapshot. House rules throughout:
  * rounding via graft.Num only, no term string ever reaches a shuffle
  * (xxhash64 longs), identical literals and textually parallel
  * arithmetic in the Spark expression and the DuckDB oracle.
  */
object CorpusStats {

  // ---------------------------------------------------------------------
  // Per-source vocabulary statistics.
  // ---------------------------------------------------------------------

  /** Per-source unigram Shannon entropy (nats), vocabulary size, and
    * type-token ratio. Entropy uses the aggregation-friendly identity
    * H = ln N − (Σ c·ln c)/N, so the per-source relation needs only
    * (Σ c, count, Σ c·ln c) — two hash-aggregate shuffles end to end
    * ((source, term-hash) partials, then source), both map-side
    * combined; no term string and no per-source sort anywhere. At
    * 100 TB the first shuffle is bounded by Σ per-source vocabularies,
    * not by token instances.
    */
  def vocabEntropy(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .select(col("source"), xxhash64(col("term")).as("th"))
      .groupBy(col("source"), col("th")).agg(count(lit(1)).as("c"))
    tf.groupBy(col("source")).agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab_size"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("clc"))
      .select(col("source"), col("n_tokens"), col("vocab_size"),
        Num.r(col("vocab_size").cast("double") / col("n_tokens"), 6)
          .as("type_token_ratio"),
        Num.r(log(col("n_tokens").cast("double")) - col("clc") / col("n_tokens"), 6)
          .as("entropy"))
  }

  val vocabEntropySql: String =
    s"""WITH tk AS (
       |  SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
       |  FROM documents),
       |tf AS (SELECT source, term, count(*) AS c FROM tk WHERE term <> '' GROUP BY 1, 2),
       |s AS (
       |  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
       |         CAST(count(*) AS BIGINT) AS vocab_size,
       |         sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clc
       |  FROM tf GROUP BY 1)
       |SELECT source, n_tokens, vocab_size,
       |       ${Num.rSql("CAST(vocab_size AS DOUBLE) / n_tokens", 6)} AS type_token_ratio,
       |       ${Num.rSql("ln(CAST(n_tokens AS DOUBLE)) - clc / n_tokens", 6)} AS entropy
       |FROM s""".stripMargin

  // ---------------------------------------------------------------------
  // Per-source KL divergence vs the corpus unigram distribution.
  // ---------------------------------------------------------------------

  /** KL(source ‖ corpus) over unigram distributions — the domain-shift
    * measure importance-sampling recipes (DSIR et al.) are built on; a
    * source identical to the corpus mix scores 0, a skewed domain scores
    * high. Every source term occurs in the corpus, so the ratio is
    * always finite. Scale shape: the (source, term-hash) partial
    * relation is reused for BOTH distributions (the corpus counts are an
    * aggregate of it — the token instances shuffle once, to vocabulary-
    * bounded rows); the per-term join is hash-keyed on the 8-byte term
    * hash; source totals and the corpus scalar ride in as broadcasts.
    */
  def sourceKl(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .select(col("source"), xxhash64(col("term")).as("th"))
      .groupBy(col("source"), col("th")).agg(count(lit(1)).as("c"))
    val corpus = tf.groupBy(col("th")).agg(sum(col("c")).as("ct"))
    val bySrc = broadcast(tf.groupBy(col("source")).agg(sum(col("c")).as("ns")))
    val total = broadcast(corpus.agg(sum(col("ct")).as("n")))
    tf.join(corpus, "th")
      .join(bySrc, "source")
      .crossJoin(total)
      .select(col("source"), col("ns"),
        ((col("c").cast("double") / col("ns")) *
          log((col("c").cast("double") / col("ns")) /
            (col("ct").cast("double") / col("n")))).as("t"))
      .groupBy(col("source")).agg(
        max(col("ns")).as("n_tokens"),
        Num.r(sum(col("t")), 6).as("kl_vs_corpus"))
  }

  val sourceKlSql: String =
    s"""WITH tk AS (
       |  SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
       |  FROM documents),
       |tf AS (SELECT source, term, count(*) AS c FROM tk WHERE term <> '' GROUP BY 1, 2),
       |corpus AS (SELECT term, CAST(sum(c) AS BIGINT) AS ct FROM tf GROUP BY 1),
       |bysrc AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM tf GROUP BY 1),
       |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS n FROM corpus)
       |SELECT tf.source, max(ns) AS n_tokens,
       |       ${Num.rSql(
      "sum((CAST(c AS DOUBLE) / ns) * ln((CAST(c AS DOUBLE) / ns) / (CAST(ct AS DOUBLE) / n)))",
      6)} AS kl_vs_corpus
       |FROM tf JOIN corpus USING (term) JOIN bysrc ON tf.source = bysrc.source
       |CROSS JOIN tot
       |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // Cross-source near-duplicate overlap matrix.
  // ---------------------------------------------------------------------

  /** Which sources duplicate each other: the Jaccard ≥ 0.5 near-dup
    * pairs rolled up to an unordered (source, source) matrix — the
    * provenance dashboard a dedup run emits (mirror-site detection, crawl
    * overlap). The pairs come through the Dedup.minhashDupPairs gate
    * (the exact shingle tier within its budget, exact-verified LSH
    * candidates past it, pinned equal by RegimeSpec at sf0.1), so the
    * exact answer's oracle holds at every scale. The pair relation is
    * tiny relative to the corpus, so the two provenance joins shuffle
    * pairs + a two-column id→source projection, never document text; the
    * matrix itself is bounded by (sources choose 2).
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val srcs = docs.select(col("doc_id"), col("source"))
    Dedup.minhashDupPairs(docs, "text", "doc_id", 3, 0.5)
      .join(srcs.select(col("doc_id").as("d1"), col("source").as("s1")), "d1")
      .join(srcs.select(col("doc_id").as("d2"), col("source").as("s2")), "d2")
      .select(least(col("s1"), col("s2")).as("src_a"),
        greatest(col("s1"), col("s2")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  val sourceOverlapSql: String =
    s"""WITH ${ScaleQueries.jaccardCtesSql},
       |pairs AS (SELECT d1, d2 FROM inter
       |  JOIN sizes s1 ON d1 = s1.doc_id
       |  JOIN sizes s2 ON d2 = s2.doc_id
       |  WHERE CAST(c AS DOUBLE) / (s1.n_sh + s2.n_sh - c) >= 0.5)
       |SELECT least(da.source, db.source) AS src_a,
       |       greatest(da.source, db.source) AS src_b,
       |       CAST(count(*) AS BIGINT) AS n_pairs
       |FROM pairs
       |JOIN documents da ON pairs.d1 = da.doc_id
       |JOIN documents db ON pairs.d2 = db.doc_id
       |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // Embedding-space (semantic) decontamination.
  // ---------------------------------------------------------------------

  /** Cosine threshold for "too close to an eval item". Chosen to split
    * the synthetic distribution at every gate scale (max-sim quartiles
    * sit at ~0.19/0.23/0.28); a literal so both engines share the double.
    */
  val SemDecontThreshold = 0.3

  /** Embedding-space benchmark decontamination: flag corpus vectors
    * whose max cosine to ANY eval-set vector reaches the threshold —
    * the semantic sibling of the shingle-overlap decontaminate tier
    * (catches paraphrased eval leakage that n-gram overlap misses).
    * Eval membership uses the same deterministic synthesis as
    * q_decontaminate (vec_id % 25 — testdata wiring only; the operator
    * takes whatever eval relation is broadcast). Scale shape: the eval
    * set is bounded by the benchmark, so it broadcasts; one corpus scan
    * computes all pairs map-side; the per-vector max is a hash
    * aggregate. Similarity is rounded BEFORE the max so the comparison
    * never rides an ulp.
    */
  def semanticDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val eval = emb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("e_id"), col("embedding").as("e_embedding"))
    semanticDecontaminateAgainst(emb.filter(col("vec_id") % 25 =!= 0), eval)
  }

  /** Core form against an EXTERNAL eval relation (vec_id/embedding as
    * e_id/e_embedding) — the eval broadcast is bounded by the benchmark
    * suite, never the corpus, and the whole computation is a stateless
    * map + hash aggregate, so the streaming form
    * (Streams.semanticDecontStream) is this same code over the ingest
    * stream of new embeddings.
    */
  def semanticDecontaminateAgainst(corpus: DataFrame, eval: DataFrame): DataFrame =
    corpus
      .crossJoin(broadcast(eval))
      .select(col("vec_id"),
        Num.r(Similarity.cosine(col("embedding"), col("e_embedding")), 6).as("cs"))
      .groupBy(col("vec_id"))
      .agg(max(col("cs")).as("max_eval_sim"))
      .withColumn("contaminated", col("max_eval_sim") >= SemDecontThreshold)

  val semanticDecontaminateSql: String =
    s"""WITH e AS (SELECT vec_id, ${ScaleQueries.dblEmb} AS v FROM embeddings),
       |ev AS (SELECT vec_id AS e_id, v AS evv FROM e WHERE vec_id % 25 = 0),
       |s AS (
       |  SELECT e.vec_id, max(${Num.rSql(ScaleQueries.cosSql("e.v", "evv"), 6)}) AS max_eval_sim
       |  FROM e CROSS JOIN ev WHERE e.vec_id % 25 <> 0
       |  GROUP BY 1)
       |SELECT vec_id, max_eval_sim,
       |       max_eval_sim >= $SemDecontThreshold AS contaminated
       |FROM s""".stripMargin

  // ---------------------------------------------------------------------
  // Distributed embedding covariance (Gram / second-moment matrix).
  // ---------------------------------------------------------------------

  val Dim = 64

  /** Upper-triangle covariance matrix of the embedding table — the
    * d×d statistic PCA, whitening, and embedding-drift monitors are
    * built from, and the classic "all second moments in ONE pass"
    * distributed computation: each row contributes its d(d+1)/2
    * products map-side, the bounded VecSumAgg holds ONE 2080-slot
    * buffer per task (never a row expansion — the same aggregate that
    * cured the k-means update's dim× posexplode), and the single
    * result row fans back out to (i, j, cov) only after aggregation.
    * Products are built directly over the scan column, not a derived
    * array, so no lambda re-evaluation trap applies. At 100 TB: one
    * scan, zero shuffles before a 2 KB-per-task aggregate.
    */
  def embedCovariance(spark: SparkSession, dir: String): DataFrame = {
    val d = Dim
    // flattened upper triangle in (i asc, j asc) order; position of
    // (i, j) is i*d - i(i-1)/2 + (j - i)
    val prods = expr(
      s"""flatten(transform(sequence(0, ${d - 1}), i ->
         |  transform(sequence(i, ${d - 1}), j ->
         |    CAST(embedding[i] AS DOUBLE) * CAST(embedding[j] AS DOUBLE))))"""
        .stripMargin)
    val idx = expr(
      s"""flatten(transform(sequence(0, ${d - 1}), i ->
         |  transform(sequence(i, ${d - 1}), j ->
         |    struct(i AS i, j AS j,
         |           CAST(i * $d - (i * (i - 1)) DIV 2 + (j - i) AS INT) AS k))))"""
        .stripMargin)
    Tables.embeddings(spark, dir)
      .agg(VecSum.vecSum(prods).as("p"), VecSum.vecSum(col("embedding")).as("m"))
      .select(col("p.sums").as("ps"), col("m.sums").as("ms"), col("m.n").as("n"))
      .select(col("ps"), col("ms"), col("n"), explode(idx).as("x"))
      .select(col("x.i").as("i"), col("x.j").as("j"),
        Num.r(element_at(col("ps"), col("x.k") + 1) / col("n") -
          (element_at(col("ms"), col("x.i") + 1) / col("n")) *
            (element_at(col("ms"), col("x.j") + 1) / col("n")), 6).as("cov"))
  }

  /** Shared covariance CTE prefix (ends with the raw second-moment
    * relation `s` + scalar `n`) — used by the covariance oracle and the
    * PCA power-iteration oracle below.
    */
  private val covCtesSql: String =
    s"""e AS (SELECT vec_id, ${ScaleQueries.dblEmb} AS v FROM embeddings),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
       |idx AS (
       |  SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j
       |  FROM range(0, $Dim) t(i) CROSS JOIN range(0, $Dim) u(j) WHERE j >= i),
       |s AS (
       |  SELECT i, j, sum(v[i + 1] * v[j + 1]) AS s2,
       |         sum(v[i + 1]) AS si, sum(v[j + 1]) AS sj
       |  FROM e CROSS JOIN idx GROUP BY 1, 2)""".stripMargin

  val embedCovarianceSql: String =
    s"""WITH $covCtesSql
       |SELECT i, j,
       |       ${Num.rSql("s2 / n - (si / n) * (sj / n)", 6)} AS cov
       |FROM s CROSS JOIN n""".stripMargin

  // ---------------------------------------------------------------------
  // Distributed PCA: top principal component by power iteration.
  // ---------------------------------------------------------------------

  /** Power-iteration count. 12 doublings from e₀ are plenty for a top
    * eigenvalue separated from the rest — and the count is part of the
    * operator's DETERMINISTIC definition (both engines run exactly this
    * many snapped iterations, so they agree bit-wise regardless of
    * convergence).
    */
  val PcaIters = 12

  /** First principal component of the embedding table, distributed the
    * way PCA actually scales: ONE corpus scan aggregates the d×d second
    * moments (the bounded VecSumAgg covariance above), the driver runs
    * power iteration on the d×d matrix (64² doubles — model-sized, like
    * the k-means codebook and the LR weight vector), and ONE more scan
    * projects every embedding onto the eigenvector map-side (broadcast
    * literal, codegen'd dot product). Nothing quadratic in corpus size
    * ever forms. Output: per-vector first-PC coordinate plus the shared
    * eigenvalue column (the variance-explained numerator). The oracle
    * unrolls the identical snapped iterations as chained CTEs over the
    * same rounded covariance relation.
    */
  def pcaProject(spark: SparkSession, dir: String): DataFrame = {
    val d = Dim
    val a = Array.ofDim[Double](d, d)
    embedCovariance(spark, dir).collect().foreach { r =>
      val i = r.getAs[Int]("i"); val j = r.getAs[Int]("j")
      val c = r.getAs[Double]("cov")
      a(i)(j) = c; a(j)(i) = c
    }
    // every mat-vec result and normalized component re-snaps to 1e-9, so
    // the engines' summation orders (driver loop vs SQL aggregate) never
    // compound across iterations (the q_lr_train discipline)
    def matvec(x: Array[Double]): Array[Double] =
      Array.tabulate(d) { i =>
        var acc = 0.0; var j = 0
        while (j < d) { acc += a(i)(j) * x(j); j += 1 }
        Num.rd(acc, 9)
      }
    var v = Array.tabulate(d)(i => if (i == 0) 1.0 else 0.0)
    for (_ <- 1 to PcaIters) {
      val y = matvec(v)
      var nn = 0.0; var i = 0
      while (i < d) { nn += y(i) * y(i); i += 1 }
      val nv = math.sqrt(nn)
      v = y.map(x => Num.rd(x / nv, 9))
    }
    val yF = matvec(v)
    val lambda = Num.rd(math.sqrt(yF.map(x => x * x).sum), 6)
    val vLit = array(v.map(lit): _*)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        Num.r(graft.scale.VectorOps.dot(col("embedding"), vLit), 6).as("pc1"),
        lit(lambda).as("lambda"))
  }

  val pcaProjectSql: String = {
    // every per-iteration CTE is MATERIALIZED: DuckDB inlines plain CTEs,
    // and a 12-deep chain each referencing its predecessor twice would
    // re-expand the covariance scan 2^12 times
    val iters = (1 to PcaIters).map { k =>
      val prev = if (k == 1) "v0" else s"v${k - 1}"
      s"""y$k AS MATERIALIZED (
         |  SELECT covf.i AS i, ${Num.rSql(s"sum(covf.c * $prev.x)", 9)} AS y
         |  FROM covf JOIN $prev ON covf.j = $prev.i GROUP BY 1),
         |n$k AS MATERIALIZED (SELECT sqrt(sum(y * y)) AS nv FROM y$k),
         |v$k AS MATERIALIZED (SELECT i, ${Num.rSql("y / nv", 9)} AS x FROM y$k CROSS JOIN n$k)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $covCtesSql,
       |cov AS MATERIALIZED (SELECT i, j, ${Num.rSql("s2 / n - (si / n) * (sj / n)", 6)} AS c
       |        FROM s CROSS JOIN n),
       |covf AS MATERIALIZED (SELECT i, j, c FROM cov
       |         UNION ALL SELECT j AS i, i AS j, c FROM cov WHERE i <> j),
       |v0 AS (SELECT CAST(i AS INT) AS i, CASE WHEN i = 0 THEN 1.0 ELSE 0.0 END AS x
       |       FROM range(0, $Dim) t(i)),
       |$iters,
       |yf AS (
       |  SELECT covf.i AS i, ${Num.rSql(s"sum(covf.c * v$PcaIters.x)", 9)} AS y
       |  FROM covf JOIN v$PcaIters ON covf.j = v$PcaIters.i GROUP BY 1),
       |lam AS (SELECT ${Num.rSql("sqrt(sum(y * y))", 6)} AS lambda FROM yf),
       |vec AS (SELECT array_agg(x ORDER BY i) AS pv FROM v$PcaIters)
       |SELECT e.vec_id, ${Num.rSql("list_dot_product(e.v, pv)", 6)} AS pc1, lambda
       |FROM e CROSS JOIN vec CROSS JOIN lam""".stripMargin
  }

  // ---------------------------------------------------------------------
  // DoReMi-style mixture reweighting step.
  // ---------------------------------------------------------------------

  /** Multiplicative-weights step size (the DoReMi η) — a literal so both
    * engines exponentiate the identical double.
    */
  val DoremiEta = 1.0

  /** One DoReMi-style mirror-descent step on the domain mixture (Xie et
    * al. 2023, "DoReMi: Optimizing Data Mixtures"): sources whose proxy
    * loss exceeds the corpus average get upweighted multiplicatively,
    * w'ₛ ∝ w⁰ₛ · exp(η · (Lₛ − L̄)), starting from token-share weights.
    * The proxy loss is the per-source cross-entropy against the corpus
    * unigram LM (the self-trained stand-in for DoReMi's reference-model
    * excess loss), and L̄ is the corpus unigram entropy — all three
    * statistics derive from the SAME (source, term-hash, count) relation
    * the entropy/KL tier builds, so the whole step costs the one token
    * shuffle plus vocab-bounded aggregates. Every stage value (loss,
    * base weight, unnormalized score) is snapped to 1e-9 before the next
    * multiply — the q_lr_train discipline — making the engines agree
    * bit-wise through the exp and the normalization.
    */
  def mixtureDoremi(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .select(col("source"), xxhash64(col("term")).as("th"))
      .groupBy(col("source"), col("th")).agg(count(lit(1)).as("c"))
    val corpus = tf.groupBy(col("th")).agg(sum(col("c")).as("ct"))
    val tot = broadcast(corpus.agg(sum(col("ct")).as("n")))
    // corpus unigram entropy L̄ = −Σ (ct/n)·ln(ct/n), snapped
    val href = broadcast(corpus.crossJoin(tot)
      .agg(Num.r(-sum((col("ct").cast("double") / col("n")) *
        log(col("ct").cast("double") / col("n"))), 9).as("h_ref")))
    // per-source cross-entropy Lₛ = −(Σ c·ln(ct/n))/ns, snapped
    val bySrc = tf.join(corpus, "th").crossJoin(tot)
      .groupBy(col("source")).agg(
        sum(col("c")).as("ns"),
        max(col("n")).as("n"),
        Num.r(-sum(col("c").cast("double") *
          log(col("ct").cast("double") / col("n"))) /
          sum(col("c")), 9).as("loss"))
      .select(col("source"), col("ns"), col("loss"),
        Num.r(col("ns").cast("double") / col("n"), 9).as("w0"))
    val scored = bySrc.crossJoin(href)
      .select(col("source"), col("ns"), col("loss"), col("w0"),
        Num.r(col("w0") * exp(lit(DoremiEta) * (col("loss") - col("h_ref"))), 9)
          .as("score"))
    val z = broadcast(scored.agg(sum(col("score")).as("z")))
    scored.crossJoin(z)
      .select(col("source"), col("ns").as("n_tokens"),
        Num.r(col("loss"), 6).as("loss"),
        Num.r(col("w0"), 6).as("w_base"),
        Num.r(col("score") / col("z"), 6).as("w_new"))
  }

  val mixtureDoremiSql: String =
    s"""WITH tk AS (
       |  SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
       |  FROM documents),
       |tf AS (SELECT source, term, count(*) AS c FROM tk WHERE term <> '' GROUP BY 1, 2),
       |corpus AS (SELECT term, CAST(sum(c) AS BIGINT) AS ct FROM tf GROUP BY 1),
       |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS n FROM corpus),
       |href AS (
       |  SELECT ${Num.rSql("-sum((CAST(ct AS DOUBLE) / n) * ln(CAST(ct AS DOUBLE) / n))", 9)} AS h_ref
       |  FROM corpus CROSS JOIN tot),
       |bysrc AS (
       |  SELECT tf.source, CAST(sum(c) AS BIGINT) AS ns, max(n) AS n,
       |         ${Num.rSql("-sum(CAST(c AS DOUBLE) * ln(CAST(ct AS DOUBLE) / n)) / sum(c)", 9)} AS loss
       |  FROM tf JOIN corpus USING (term) CROSS JOIN tot
       |  GROUP BY 1),
       |w AS (
       |  SELECT source, ns, loss, ${Num.rSql("CAST(ns AS DOUBLE) / n", 9)} AS w0
       |  FROM bysrc),
       |sc AS (
       |  SELECT source, ns, loss, w0,
       |         ${Num.rSql(s"w0 * exp($DoremiEta * (loss - h_ref))", 9)} AS score
       |  FROM w CROSS JOIN href),
       |z AS (SELECT sum(score) AS z FROM sc)
       |SELECT source, ns AS n_tokens,
       |       ${Num.rSql("loss", 6)} AS loss,
       |       ${Num.rSql("w0", 6)} AS w_base,
       |       ${Num.rSql("score / z", 6)} AS w_new
       |FROM sc CROSS JOIN z""".stripMargin

  // ---------------------------------------------------------------------
  // Embedding outlier scoring (diagonal Mahalanobis).
  // ---------------------------------------------------------------------

  /** Outlier threshold on the dimension-normalized score (E[m²/d] = 1
    * for in-distribution vectors; the synthetic corpus tops out ~1.06).
    * A literal so both engines share the double.
    */
  val OutlierThreshold = 1.02

  /** Per-vector embedding outlier score — the diagonal-covariance
    * Mahalanobis distance m²/d against the corpus distribution, the
    * standard embedding-space quality gate (drop encoder failures /
    * garbage inputs before ANN indexing or semantic dedup). Scale
    * shape: per-dim mean/std come from ONE scan (two bounded VecSumAgg
    * buffers), ride back as a broadcast single-row relation, and the
    * scoring is a stateless map over the corpus — the same
    * stats-broadcast shape as int8 quantization. Stats are snapped to
    * 1e-9 before use (the PCA discipline) so both engines score from
    * identical doubles; the score is rounded before the threshold
    * compare.
    */
  def embedOutliers(spark: SparkSession, dir: String): DataFrame = {
    val sq = expr(
      "transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
    val stats = Tables.embeddings(spark, dir)
      .agg(VecSum.vecSum(col("embedding")).as("s1"), VecSum.vecSum(sq).as("s2"))
      .select(col("s1.n").as("n"),
        expr(s"transform(s1.sums, s -> floor((s / s1.n) * 1.0E9 + 0.5) / 1.0E9)")
          .as("mus"),
        expr(("zip_with(s1.sums, s2.sums, (a, b) -> " +
          "floor(sqrt(b / s1.n - (a / s1.n) * (a / s1.n)) * 1.0E9 + 0.5) / 1.0E9)"))
          .as("sds"))
    Tables.embeddings(spark, dir)
      .crossJoin(broadcast(stats))
      .select(col("vec_id"),
        Num.r(expr(
          """aggregate(
            |  zip_with(zip_with(embedding, mus, (x, m) -> CAST(x AS DOUBLE) - m),
            |           sds, (z, s) -> (z / s) * (z / s)),
            |  CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)""".stripMargin) /
          lit(Dim), 6).as("m2d"))
      .withColumn("outlier", col("m2d") >= OutlierThreshold)
  }

  val embedOutliersSql: String =
    s"""WITH e AS (SELECT vec_id, ${ScaleQueries.dblEmb} AS v FROM embeddings),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
       |dim AS (SELECT CAST(i AS INT) AS i FROM range(1, ${Dim + 1}) t(i)),
       |st AS (
       |  SELECT i, ${Num.rSql("sum(v[i]) / n", 9)} AS mu,
       |         ${Num.rSql("sqrt(sum(v[i] * v[i]) / n - (sum(v[i]) / n) * (sum(v[i]) / n))", 9)} AS sd
       |  FROM e CROSS JOIN dim CROSS JOIN n GROUP BY i, n.n),
       |ms AS (SELECT array_agg(mu ORDER BY i) AS mus, array_agg(sd ORDER BY i) AS sds
       |       FROM st)
       |SELECT e.vec_id,
       |  ${Num.rSql(
      s"list_sum(list_transform(range(1, ${Dim + 1}), i -> ((v[i] - mus[i]) / sds[i]) * ((v[i] - mus[i]) / sds[i]))) / $Dim",
      6)} AS m2d,
       |  ${Num.rSql(
      s"list_sum(list_transform(range(1, ${Dim + 1}), i -> ((v[i] - mus[i]) / sds[i]) * ((v[i] - mus[i]) / sds[i]))) / $Dim",
      6)} >= $OutlierThreshold AS outlier
       |FROM e CROSS JOIN ms""".stripMargin

  // ---------------------------------------------------------------------
  // Exact-digest cross-source duplication matrix.
  // ---------------------------------------------------------------------

  /** Cross-source EXACT-duplicate matrix at paragraph granularity: for
    * every source pair, how many distinct 16-word paragraphs appear
    * verbatim in both — the byte-identical provenance complement of
    * q_source_overlap's near-dup matrix (shared-boilerplate detection is
    * how a crawl audit distinguishes verbatim re-hosting from paraphrase
    * overlap; whole-document digests are too coarse — this corpus has
    * zero cross-source document-level duplicates but dozens of shared
    * paragraphs). Scale shape: paragraphs collapse to the paragraph-
    * dedup tier's 52-bit md5-prefix hash in the scan stage, the (hash,
    * source) relation is distinct-paragraph-bounded after one hash
    * aggregate, and the pair expansion is a self-join on the hash key —
    * per-hash fan-out is bounded by the SOURCE count (a config-sized
    * dimension, not a data-sized one). Output is canonically ordered
    * src_a < src_b.
    */
  def sourceDupMatrix(spark: SparkSession, dir: String): DataFrame = {
    val ps = CorpusQueries.ParaSize
    val sd = Tables.documents(spark, dir)
      .select(col("source"), split(trim(col("text")), "\\s+").as("w"))
      .select(col("source"), explode(expr(
        s"transform(sequence(1, size(w), $ps), s -> slice(w, s, $ps))")).as("p"))
      .select(col("source"),
        conv(substring(md5(array_join(col("p"), " ")), 1, 13), 16, 10)
          .cast("long").as("ph"))
      .groupBy(col("ph"), col("source")).agg(count(lit(1)).as("c"))
    val a = sd.select(col("ph"), col("source").as("src_a"), col("c").as("c_a"))
    val b = sd.select(col("ph"), col("source").as("src_b"), col("c").as("c_b"))
    a.join(b, "ph")
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared_paras"),
        sum(least(col("c_a"), col("c_b"))).as("n_dup_instances"))
  }

  val sourceDupMatrixSql: String = {
    val ps = CorpusQueries.ParaSize
    s"""WITH toks AS (
       |  SELECT source, string_split_regex(trim(text), '\\s+') AS w
       |  FROM documents),
       |sd AS (
       |  SELECT source,
       |         ('0x' || substr(md5(array_to_string(w[s : s + ${ps - 1}], ' ')), 1, 13))::BIGINT AS ph,
       |         count(*) AS c
       |  FROM toks CROSS JOIN unnest(range(1, len(w) + 1, $ps)) AS t(s)
       |  GROUP BY 1, 2)
       |SELECT a.source AS src_a, b.source AS src_b,
       |       CAST(count(*) AS BIGINT) AS n_shared_paras,
       |       CAST(sum(least(a.c, b.c)) AS BIGINT) AS n_dup_instances
       |FROM sd a JOIN sd b ON a.ph = b.ph AND a.source < b.source
       |GROUP BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Vocabulary drift between ingestion halves.
  // ---------------------------------------------------------------------

  /** Vocabulary drift between the two doc_id halves of the corpus — the
    * snapshot-over-snapshot monitor an ingestion pipeline runs to catch
    * a source changing under it (new template, language flip, crawler
    * breakage): smoothed KL(late ‖ early) over the union vocabulary plus
    * the share of late-half terms unseen in the early half. Additive
    * 0.5-smoothing over the union vocabulary keeps the KL finite on
    * never-before-seen terms. Scale shape: token instances shuffle once
    * into (half, term-hash) counts; everything after — the full outer
    * join on the 8-byte hash, the totals, the KL sum — is union-vocab-
    * bounded. The doc_id midpoint stands in for the ingestion timestamp
    * the production table would carry.
    */
  def vocabDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val half = broadcast(docs.agg(max(col("doc_id")).as("mx"))
      .select(expr("mx div 2").as("half")))
    val tf = docs.crossJoin(half)
      .select(when(col("doc_id") <= col("half"), lit(1)).otherwise(lit(2)).as("b"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .select(col("b"), xxhash64(col("term")).as("th"))
      .groupBy(col("b"), col("th")).agg(count(lit(1)).as("c"))
    val j = tf.filter(col("b") === 1).select(col("th"), col("c").as("c1"))
      .join(tf.filter(col("b") === 2).select(col("th"), col("c").as("c2")),
        Seq("th"), "full_outer")
      .select(coalesce(col("c1"), lit(0L)).as("c1"),
        coalesce(col("c2"), lit(0L)).as("c2"))
    val stats = broadcast(j.agg(
      sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
      count(lit(1)).as("v"),
      sum(when(col("c1") > 0, 1L).otherwise(0L)).as("v1"),
      sum(when(col("c2") > 0, 1L).otherwise(0L)).as("v2"),
      sum(when(col("c1") === 0 && col("c2") > 0, 1L).otherwise(0L)).as("new2")))
    val p2 = (col("c2").cast("double") + lit(0.5)) /
      (col("n2").cast("double") + lit(0.5) * col("v"))
    val p1 = (col("c1").cast("double") + lit(0.5)) /
      (col("n1").cast("double") + lit(0.5) * col("v"))
    j.crossJoin(stats)
      .select(col("n1"), col("n2"), col("v1"), col("v2"), col("new2"),
        (p2 * log(p2 / p1)).as("t"))
      .groupBy(col("n1"), col("n2"), col("v1"), col("v2"), col("new2"))
      .agg(Num.r(sum(col("t")), 6).as("kl_drift"))
      .select(col("n1"), col("n2"), col("v1").as("vocab_1"), col("v2").as("vocab_2"),
        Num.r(col("new2").cast("double") / col("v2"), 6).as("new_term_share"),
        col("kl_drift"))
  }

  val vocabDriftSql: String = {
    val p2 = "(CAST(c2 AS DOUBLE) + 0.5) / (CAST(n2 AS DOUBLE) + 0.5 * v)"
    val p1 = "(CAST(c1 AS DOUBLE) + 0.5) / (CAST(n1 AS DOUBLE) + 0.5 * v)"
    s"""WITH mx AS (SELECT max(doc_id) // 2 AS half FROM documents),
       |tk AS (
       |  SELECT CASE WHEN doc_id <= half THEN 1 ELSE 2 END AS b,
       |         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
       |  FROM documents CROSS JOIN mx),
       |tf AS (SELECT b, term, count(*) AS c FROM tk WHERE term <> '' GROUP BY 1, 2),
       |j AS (
       |  SELECT coalesce(a.c, 0) AS c1, coalesce(bb.c, 0) AS c2
       |  FROM (SELECT term, c FROM tf WHERE b = 1) a
       |  FULL JOIN (SELECT term, c FROM tf WHERE b = 2) bb USING (term)),
       |st AS (
       |  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
       |         CAST(count(*) AS BIGINT) AS v,
       |         CAST(sum(CASE WHEN c1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
       |         CAST(sum(CASE WHEN c2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS v2,
       |         CAST(sum(CASE WHEN c1 = 0 AND c2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS new2
       |  FROM j)
       |SELECT n1, n2, v1 AS vocab_1, v2 AS vocab_2,
       |       ${Num.rSql("CAST(new2 AS DOUBLE) / v2", 6)} AS new_term_share,
       |       ${Num.rSql(s"sum(($p2) * ln(($p2) / ($p1)))", 6)} AS kl_drift
       |FROM j CROSS JOIN st
       |GROUP BY n1, n2, v1, v2, new2""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Embedding-centroid drift between ingestion halves.
  // ---------------------------------------------------------------------

  /** Embedding-space drift between the two vec_id halves: cosine between
    * the per-half mean vectors and the L2 centroid shift — the semantic
    * sibling of the vocabulary drift monitor (a source can keep its
    * vocabulary while its CONTENT distribution moves; the centroid sees
    * that). Scale shape: each half's mean is ONE VecSumAgg buffer (64
    * doubles per task), so the whole monitor is one corpus scan plus a
    * 2-row join; the per-dim means are snapped to 1e-9 (the covariance
    * tier's grid) before the cosine/L2 arithmetic, which then evaluates
    * over identical doubles in both engines.
    */
  def embedDrift(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val half = broadcast(emb.agg(max(col("vec_id")).as("mx"))
      .select(expr("mx div 2").as("half")))
    val means = emb.crossJoin(half)
      .withColumn("b", when(col("vec_id") <= col("half"), lit(1)).otherwise(lit(2)))
      .groupBy(col("b"))
      .agg(VecSum.vecSum(col("embedding")).as("s"))
      .select(col("b"), col("s.n").as("n"),
        expr("transform(s.sums, x -> floor((x / s.n) * 1.0E9 + 0.5) / 1.0E9)")
          .as("mus"))
    val m1 = means.filter(col("b") === 1)
      .select(col("n").as("n1"), col("mus").as("ma"))
    val m2 = means.filter(col("b") === 2)
      .select(col("n").as("n2"), col("mus").as("mb"))
    def dotHof(a: String, b: String): Column =
      expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)")
    m1.crossJoin(m2)
      .select(col("n1"), col("n2"),
        Num.r(dotHof("ma", "mb") /
          (sqrt(dotHof("ma", "ma")) * sqrt(dotHof("mb", "mb"))), 6).as("centroid_cos"),
        Num.r(sqrt(expr(
          "aggregate(zip_with(ma, mb, (x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)")), 6)
          .as("l2_shift"))
  }

  val embedDriftSql: String = {
    def dotSql(a: String, b: String): String =
      s"list_sum(list_transform(range(1, ${Dim + 1}), i -> $a[i] * $b[i]))"
    s"""WITH e AS (SELECT vec_id, ${ScaleQueries.dblEmb} AS v FROM embeddings),
       |mx AS (SELECT max(vec_id) // 2 AS half FROM e),
       |eb AS (SELECT CASE WHEN vec_id <= half THEN 1 ELSE 2 END AS b, v
       |       FROM e CROSS JOIN mx),
       |st AS (
       |  SELECT b, i, floor((sum(v[i]) / count(*)) * 1.0E9 + 0.5) / 1.0E9 AS mu
       |  FROM eb CROSS JOIN range(1, ${Dim + 1}) t(i) GROUP BY b, i),
       |n AS (SELECT b, CAST(count(*) AS BIGINT) AS n FROM eb GROUP BY b),
       |mv AS (SELECT b, array_agg(mu ORDER BY i) AS mus FROM st GROUP BY b)
       |SELECT na.n AS n1, nb.n AS n2,
       |  ${Num.rSql(
      s"${dotSql("a.mus", "b.mus")} / (sqrt(${dotSql("a.mus", "a.mus")}) * sqrt(${dotSql("b.mus", "b.mus")}))",
      6)} AS centroid_cos,
       |  ${Num.rSql(
      s"sqrt(list_sum(list_transform(range(1, ${Dim + 1}), i -> (a.mus[i] - b.mus[i]) * (a.mus[i] - b.mus[i]))))",
      6)} AS l2_shift
       |FROM (SELECT mus FROM mv WHERE b = 1) a
       |CROSS JOIN (SELECT mus FROM mv WHERE b = 2) b
       |CROSS JOIN (SELECT n FROM n WHERE b = 1) na
       |CROSS JOIN (SELECT n FROM n WHERE b = 2) nb""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Per-source readability profile.
  // ---------------------------------------------------------------------

  /** Flesch reading-ease profile per source: 206.835 − 1.015·(W/S) −
    * 84.6·(Syl/W), with syllables approximated as vowel-group runs and
    * sentences as terminal-punctuation runs — the standard cheap proxy
    * (exact syllabification needs a dictionary; the vowel-run estimate
    * is the one production quality filters ship). A source whose
    * readability drifts (crawler starts ingesting minified JS, OCR noise,
    * legalese) moves this dial before the vocabulary dials notice.
    *
    * Scale shape: three regexp counters per document inside the scan
    * projection (codegen'd, no explode — the token arrays never
    * materialize past the size() call), then one hash aggregate to
    * per-source sums. W/S/Syl are integer-valued doubles so their sums
    * are exact below 2^53; per-document scores are snapped at 1e-6
    * before the savg (sum grid 1e-2 — accumulation noise over 10¹⁰ docs
    * stays under half a step). W and S are clamped ≥ 1 in both engines
    * (ANSI divide-by-zero rule).
    */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    val w0 = greatest(size(split(trim(lower(col("text"))), "\\s+")), lit(1))
      .cast("double")
    val sent = greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))),
      lit(1)).cast("double")
    val syl = size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
      .cast("double")
    val flesch = Num.r(
      lit(206.835) - lit(1.015) * (col("w") / col("s")) -
        lit(84.6) * (col("y") / col("w")), 6)
    Tables.documents(spark, dir)
      .select(col("source"), w0.as("w"), sent.as("s"), syl.as("y"))
      .select(col("source"), col("w"), col("s"), col("y"), flesch.as("f"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        Num.savg(sum(col("f")), count(lit(1)), 2, 4).as("avg_flesch"),
        Num.r(sum(col("w")) / sum(col("s")), 6).as("words_per_sentence"),
        Num.r(sum(col("y")) / sum(col("w")), 6).as("syllables_per_word"))
  }

  val readabilitySql: String =
    s"""WITH d AS (
       |  SELECT source,
       |    CAST(greatest(len(string_split_regex(trim(lower(text)), '\\s+')), 1) AS DOUBLE) AS w,
       |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE) AS s,
       |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE) AS y
       |  FROM documents),
       |f AS (
       |  SELECT source, w, s, y,
       |         ${Num.rSql("206.835 - 1.015 * (w / s) - 84.6 * (y / w)", 6)} AS f
       |  FROM d)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |       ${Num.savgSql("sum(f)", "count(*)", 2, 4)} AS avg_flesch,
       |       ${Num.rSql("sum(w) / sum(s)", 6)} AS words_per_sentence,
       |       ${Num.rSql("sum(y) / sum(w)", 6)} AS syllables_per_word
       |FROM f GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // Per-source two-sample Kolmogorov–Smirnov drift.
  // ---------------------------------------------------------------------

  /** Two-sample KS statistic of one integer-valued column, each source
    * against the REST of the corpus: D = max over v of
    * |F_src(v) − F_rest(v)| — the nonparametric sibling of [[sourceKl]]
    * (KL needs the same support; KS reads the raw CDF gap, so it flags a
    * crawler that suddenly ships truncated pages even when the vocabulary
    * is unchanged).
    *
    * Scale shape: the column collapses to its (source, value) histogram —
    * one hash-aggregate shuffle, bounded by sources × distinct values —
    * and every window (per-source CDF, global CDF) runs over that bounded
    * relation densified on the sources × grid cross of two tiny
    * broadcasts; the corpus is never sorted. The CDF gap is compared in
    * EXACT integer arithmetic (cross-multiplied: |cs·(n−ns) −
    * (cal−cs)·ns|, every term BIGINT in both engines), so the max is
    * deterministic; one final division of two exact integers lands on the
    * same double cross-engine before the 1e-6 snap. Integer-exactness
    * bound: cs·(n−ns) ≤ N², safe under 2^63 to N ≈ 3e9 documents per
    * snapshot (ANSI overflow would throw, not corrupt). The rest-side
    * denominator is zero for a single-source corpus — CASE-guarded per
    * the ANSI divide-by-zero rule.
    */
  private[graft] def ksOf(pairs: DataFrame, v: String): DataFrame = {
    // persisted: the histogram feeds FIVE consumers (grid, per-source
    // totals, global CDF, grand total, densify join) and Catalyst does
    // not CSE logical branches — unpersisted, each consumer re-runs the
    // corpus scan + aggregate; the relation is bounded by
    // sources × distinct values, so pinning it is cheap
    val hist = pairs.groupBy(col("source"), col(v)).agg(count(lit(1)).as("c"))
      .persist()
    val out = ksFromHist(hist, v).localCheckpoint()
    hist.unpersist()
    out
  }

  /** The CDF/gap pipeline over an already-built (source, v, c) histogram
    * — separated so plan tests can assert the pre-checkpoint shape.
    */
  private[graft] def ksFromHist(hist: DataFrame, v: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = hist.select(col(v)).distinct()
    val srcTot = hist.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val wAll = Window.orderBy(col(v))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ca = hist.groupBy(col(v)).agg(sum(col("c")).as("cg"))
      .select(col(v), sum(col("cg")).over(wAll).as("cal"))
    val total = broadcast(hist.agg(sum(col("c")).as("n")))
    val dense = srcTot.crossJoin(grid)
      .join(hist, Seq("source", v), "left")
      .select(col("source"), col("ns"), col(v),
        coalesce(col("c"), lit(0L)).as("c"))
    val wS = Window.partitionBy(col("source")).orderBy(col(v))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dense
      .withColumn("cs", sum(col("c")).over(wS))
      .join(broadcast(ca), v)
      .crossJoin(total)
      .select(col("source"), col("ns"), col("n"),
        abs(col("cs") * (col("n") - col("ns")) -
          (col("cal") - col("cs")) * col("ns")).as("num"))
      .groupBy(col("source"), col("ns"), col("n"))
      .agg(max(col("num")).as("m"))
      .select(col("source"), col("ns").as("n_docs"),
        when(col("ns") * (col("n") - col("ns")) =!= 0,
          Num.r(col("m").cast("double") /
            (col("ns") * (col("n") - col("ns"))).cast("double"), 6))
          .as("ks_len"))
  }

  def ksDrift(spark: SparkSession, dir: String): DataFrame =
    ksOf(Tables.documents(spark, dir).select(col("source"), col("n_chars")),
      "n_chars")

  /** DuckDB replay: same histogram/densify/window decomposition at gate
    * scale; every cumulative count CAST to BIGINT so the cross-multiplied
    * gap stays integer-typed (HUGEINT rule), the final ratio CAST to
    * DOUBLE on both sides.
    */
  val ksDriftSql: String =
    s"""WITH h AS (
       |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
       |  FROM documents GROUP BY 1, 2),
       |st AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM h GROUP BY 1),
       |g AS (SELECT DISTINCT n_chars FROM h),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM h),
       |ca AS (
       |  SELECT n_chars,
       |         CAST(sum(cg) OVER (ORDER BY n_chars) AS BIGINT) AS cal
       |  FROM (SELECT n_chars, sum(c) AS cg FROM h GROUP BY 1)),
       |dense AS (
       |  SELECT st.source, st.ns, g.n_chars,
       |         coalesce(h.c, CAST(0 AS BIGINT)) AS c
       |  FROM st CROSS JOIN g
       |  LEFT JOIN h ON h.source = st.source AND h.n_chars = g.n_chars),
       |cums AS (
       |  SELECT source, ns, n_chars,
       |         CAST(sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS BIGINT) AS cs
       |  FROM dense),
       |j AS (
       |  SELECT source, ns, n,
       |         abs(cs * (n - ns) - (cal - cs) * ns) AS num
       |  FROM cums JOIN ca USING (n_chars) CROSS JOIN tot)
       |SELECT source, ns AS n_docs,
       |       CASE WHEN ns * (n - ns) <> 0
       |            THEN ${Num.rSql(
      "CAST(max(num) AS DOUBLE) / CAST(ns * (n - ns) AS DOUBLE)", 6)}
       |       END AS ks_len
       |FROM j GROUP BY source, ns, n""".stripMargin

  // ---------------------------------------------------------------------

  val ops: Seq[Op] = Seq(
    Op("q_ks_drift", ksDrift, ksDriftSql),
    Op("q_readability", readability, readabilitySql),
    Op("q_vocab_entropy", vocabEntropy, vocabEntropySql),
    Op("q_source_kl", sourceKl, sourceKlSql),
    Op("q_source_overlap", sourceOverlap, sourceOverlapSql),
    Op("q_semantic_decontaminate", semanticDecontaminate, semanticDecontaminateSql),
    Op("q_embed_covariance", embedCovariance, embedCovarianceSql),
    Op("q_pca_project", pcaProject, pcaProjectSql),
    Op("q_embed_outliers", embedOutliers, embedOutliersSql),
    Op("q_mixture_doremi", mixtureDoremi, mixtureDoremiSql),
    Op("q_source_dup_matrix", sourceDupMatrix, sourceDupMatrixSql),
    Op("q_vocab_drift", vocabDrift, vocabDriftSql),
    Op("q_embed_drift", embedDrift, embedDriftSql))
}
