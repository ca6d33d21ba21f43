package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Num, Op, Tables}
import graft.scale.Bounded

/** Pairwise-preference aggregation — the RLHF-data tier: given a stream
  * of head-to-head outcomes ("A was preferred over B"), estimate a
  * per-player strength. This is the ranking half of preference-data
  * curation (reward-model training sets, arena-style eval boards,
  * annotator-agreement weighting): the raw pair stream is corpus-sized,
  * the player table is bounded, and the estimate must be reproducible
  * run-to-run.
  *
  * Estimator: Bradley–Terry via the MM (minorization–maximization)
  * fixed-point of Hunter 2004, "MM algorithms for generalized
  * Bradley-Terry models" (Annals of Statistics 32(1)) —
  * p_i ← W_i / Σ_j n_ij / (p_i + p_j), a data-parallel update: one
  * equi-join of the (i, j, n) game relation against the current ratings
  * on each endpoint, one sum per player. A fixed iteration count keeps
  * the operator oracle-expressible (the SQL unrolls the same loop, the
  * pagerank discipline), and a +0.5 win smoothing keeps every rating
  * strictly positive so the update is total (an undefeated-or-winless
  * player otherwise pins a later denominator at 0 — ANSI-mode divide
  * guard by construction, not by CASE).
  *
  * Scale shape: games are PRE-AGGREGATED per unordered pair before the
  * loop (the pair stream collapses to the co-occurrence graph, the only
  * corpus-sized shuffle), the symmetrized graph is persisted once and
  * re-read by all iterations, and each round's ratings relation is
  * player-bounded — it rides as a BROADCAST against the edge relation,
  * so an iteration never reshuffles the graph. Ratings are
  * `localCheckpoint`ed per round: each update references the previous
  * ratings TWICE (both endpoints), so an unbroken lineage would replay
  * round k−1 twice per round — 2^iters plan blowup (the branch-reuse
  * rule, CLAUDE.md).
  *
  * Cross-engine determinism (the pagerank rules): per-edge terms
  * n/(p_i + p_j) are IEEE divisions of identical inputs; each round
  * snaps the per-player inbound sum at 1e-9 and the new rating at 1e-9,
  * so round k+1 starts from bit-identical doubles in both engines; the
  * final mean-normalization snaps the player-bounded sum before its
  * divide (Num grid rule) and the published rating at 1e-6.
  */
object Preference {

  /** Fixed MM iteration count — identical unrolled depth in the oracle.
    * Five rounds is convergence to well inside the 1e-6 display grid on
    * every swept scale; the count is a determinism contract, not a
    * tolerance knob.
    */
  val BtIters = 5

  /** Bradley–Terry ratings from a pre-aggregated game relation
    * `(i, j, n, w)` with i < j, n = decisive games between the pair,
    * w = wins of i over j. Returns one row per player that played ≥ 1
    * decisive game: (player, games, wins, rating), rating normalized to
    * mean 1.0 over rated players.
    */
  /** The shared MM fixed point: symmetrized game graph (persisted — the
    * caller unpersists), per-player win/game totals, and the converged
    * strength relation (i, p). Split out so the SE audit
    * ([[btRatingSeOf]]) evaluates its Fisher information at the SAME
    * fixed point the published ratings come from.
    */
  /** Collected-MM budget in rows of the (i < j) game relation. The
    * graph is pair-bounded by construction (co-occurring player pairs,
    * ≤ C(players, 2)): at sf0.1 it is ~3×10⁵ rows — driver-trivial —
    * while each MM round of the DataFrame loop costs a fixed ~3 jobs
    * (two broadcast builds + the checkpoint materialization) that the
    * r12 PERF scaling block measured core-count-INVARIANT (c8/c32 ratio
    * 0.68–0.87: pure scheduling floor, not compute). Past the budget
    * (a genuinely large player universe) the broadcast-join loop below
    * is unchanged — the 100 TB path never collects.
    */
  val BtCollectPairs = 1000000L

  /** The MM fixed point computed on the DRIVER from the collected
    * pair-bounded graph (VERDICT r12 #3, the dupClusters union-find
    * precedent): one collect job replaces BtIters × (2 broadcast builds
    * + 1 checkpoint job). Arithmetic is the same expression stream as
    * the DataFrame loop — per-edge n/(pᵢ+pⱼ) IEEE divisions, the
    * per-player sum snapped at 1e-9 BEFORE the update divide, the new
    * rating snapped at 1e-9 — so each round re-enters from doubles on
    * the same 1e-9 grid both engines' loops land on; summation order
    * differs from Spark's partial-agg order exactly as Spark's differs
    * from DuckDB's, which is the noise class the per-round snap exists
    * to absorb (Num.scala scaladoc; gates re-run at sf0.001/0.01/0.1).
    * Returns the same (sym, pl, r) relation triple as the loop, as
    * parallelized local relations — downstream joins (mean, SE Fisher
    * terms) are unchanged and Spark-evaluated in both paths.
    */
  private def btFitLocal(g: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val spark = g.sparkSession
    import spark.implicits._
    val rows = g.select(col("i"), col("j"), col("n"), col("w")).collect()
    val idxOf = new java.util.HashMap[Long, Int](rows.length * 2)
    val ids = new scala.collection.mutable.ArrayBuffer[Long]()
    def idOf(x: Long): Int =
      if (idxOf.containsKey(x)) idxOf.get(x)
      else { val k = ids.length; idxOf.put(x, k); ids += x; k }
    val m = rows.length
    val ea = new Array[Int](m); val eb = new Array[Int](m)
    val en = new Array[Long](m); val ew = new Array[Long](m)
    var k = 0
    while (k < m) {
      val row = rows(k)
      ea(k) = idOf(row.getLong(0)); eb(k) = idOf(row.getLong(1))
      en(k) = row.getLong(2); ew(k) = row.getLong(3)
      k += 1
    }
    val nP = ids.length
    val wins = new Array[Long](nP); val games = new Array[Long](nP)
    k = 0
    while (k < m) {
      wins(ea(k)) += ew(k); games(ea(k)) += en(k)
      wins(eb(k)) += en(k) - ew(k); games(eb(k)) += en(k)
      k += 1
    }
    val p = Array.fill(nP)(1.0)
    for (_ <- 1 to BtIters) {
      val den = new Array[Double](nP)
      k = 0
      while (k < m) {
        val t = en(k).toDouble / (p(ea(k)) + p(eb(k)))
        den(ea(k)) += t; den(eb(k)) += t
        k += 1
      }
      // Num.rd stays below long overflow here: den ≤ Σn/2 ≈ 10⁶ at 1e-9
      var i = 0
      while (i < nP) {
        p(i) = Num.rd((wins(i).toDouble + 0.5) / Num.rd(den(i), 9), 9)
        i += 1
      }
    }
    val symRows = (0 until m).flatMap(k => Seq(
      (ids(ea(k)), ids(eb(k)), en(k), ew(k)),
      (ids(eb(k)), ids(ea(k)), en(k), en(k) - ew(k))))
    val slices = math.max(1, spark.sparkContext.defaultParallelism)
    val sym = spark.sparkContext.parallelize(symRows, slices).toDF("i", "j", "n", "w")
    val pl = spark.sparkContext
      .parallelize((0 until nP).map(i => (ids(i), wins(i), games(i))), slices)
      .toDF("i", "wins", "games")
    val r = spark.sparkContext
      .parallelize((0 until nP).map(i => (ids(i), p(i))), slices)
      .toDF("i", "p")
    (sym, pl, r)
  }

  private def btFit(gd: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // The incoming game relation is checkpointed first: the loop's union
    // references it twice, so the composed callers' offers self-join +
    // pair aggregate would otherwise run twice inside the
    // persist-populating job (branch-reuse rule).
    val g = gd.localCheckpoint()
    // CERTIFIED-BOUNDED fast path: one count on the checkpointed graph
    // is the certificate (VERDICT r12 #3 — the MM loop's cost at gate
    // scales is per-round job floor, not compute).
    Bounded(g.sparkSession, BtCollectPairs)(
      Bounded.longRows(g.select(col("i"), col("j"), col("n"), col("w"))))(
      btFitLocal(g)) {
      // Symmetrize so "opponents of i" is one equi-join: each unordered
      // pair contributes a row in both directions. Edge-sized (bounded by
      // co-occurring pairs, not players²) — persisted once for the loop,
      // like pagerankOn's edge relation.
      val sym = g.select(col("i"), col("j"), col("n"), col("w"))
        .unionByName(g.select(col("j").as("i"), col("i").as("j"), col("n"),
          (col("n") - col("w")).as("w")))
        .persist()
      sym.count()
      val pl = sym.groupBy(col("i"))
        .agg(sum(col("w")).as("wins"), sum(col("n")).as("games"))
        .localCheckpoint()
      var r = pl.select(col("i"), lit(1.0).as("p"))
      for (_ <- 1 to BtIters) {
        val den = sym
          .join(broadcast(r.select(col("i"), col("p").as("pi"))), "i")
          .join(broadcast(r.select(col("i").as("j"), col("p").as("pj"))), "j")
          .groupBy(col("i"))
          .agg(Num.r(sum(col("n") / (col("pi") + col("pj"))), 9).as("den"))
        r = pl.join(den, "i")
          .select(col("i"), Num.r((col("wins") + lit(0.5)) / col("den"), 9).as("p"))
          .localCheckpoint()
      }
      (sym, pl, r)
    }
  }

  def btRatingOf(gd: DataFrame): DataFrame = {
    val (sym, pl, r) = btFit(gd)
    val mean = r.agg((Num.r(sum(col("p")), 6) / count(lit(1))).as("mp"))
    val out = r.join(pl, "i").crossJoin(broadcast(mean))
      .select(col("i").as("player"), col("games"), col("wins"),
        Num.r(col("p") / col("mp"), 6).as("rating"))
      .localCheckpoint()
    sym.unpersist()
    out
  }

  /** Ratings WITH per-player standard errors — the uncertainty leg the
    * r11 verdict flagged as missing from the preference tier: a BT
    * board published without SEs invites over-reading sparsely-played
    * players exactly like a win rate without its Wilson interval. The
    * SE is the diagonal-Fisher approximation at the MM fixed point: the
    * observed information for strength pᵢ is
    *
    *   I_ii = −∂²ℓ/∂pᵢ² = Wᵢ/pᵢ² − Σ_j n_ij/(pᵢ+pⱼ)²
    *
    * (Hunter 2004 §3 — the same n/(pᵢ+pⱼ) terms the MM update already
    * joins for), so SE(pᵢ) = 1/√I_ii, divided by the same mean the
    * rating is normalized by. One extra Θ(edges) join-aggregate over
    * the persisted game graph — no corpus rescans, broadcast ratings,
    * exactly the MM round's shape. Published `se` is NULL when the
    * curvature is non-positive (a winless player's likelihood has no
    * interior maximum in pᵢ — the SE is genuinely undefined there, and
    * both engines compare identical doubles so the NULL set matches).
    * Cross-engine: the per-edge sum snaps at 1e-9 (Num grid rule);
    * info and the final sqrt/divide are IEEE ops on identical inputs.
    */
  def btRatingSeOf(gd: DataFrame): DataFrame = {
    val (sym, pl, r) = btFit(gd)
    val s2 = sym
      .join(broadcast(r.select(col("i"), col("p").as("pi"))), "i")
      .join(broadcast(r.select(col("i").as("j"), col("p").as("pj"))), "j")
      .groupBy(col("i"))
      .agg(Num.r(sum(col("n") / ((col("pi") + col("pj")) *
        (col("pi") + col("pj")))), 9).as("s2"))
    val mean = r.agg((Num.r(sum(col("p")), 6) / count(lit(1))).as("mp"))
    val info = col("wins").cast("double") / (col("p") * col("p")) - col("s2")
    val out = r.join(pl, "i").join(s2, "i").crossJoin(broadcast(mean))
      .select(col("i").as("player"), col("games"), col("wins"),
        Num.r(col("p") / col("mp"), 6).as("rating"),
        // strictly-positive floor (not just > 0): a curvature under 1e-6
        // would publish an SE in the 1e3+ range where the 1e-6 display
        // snap's long-floor could saturate differently across engines
        // (the q_acf overflow class) — and such an SE is statistically
        // meaningless anyway. Identical literal in the oracle.
        when(info > 1.0e-6,
          Num.r(sqrt(lit(1.0) / info) / col("mp"), 6)).as("se"))
      .localCheckpoint()
    sym.unpersist()
    out
  }

  /** Registered wiring: supplier price competition as the preference
    * stream. Within each order, each supplier's best (minimum) effective
    * unit price competes; for every unordered supplier pair co-occurring
    * in an order, the cheaper one wins (exact-equal offers are a draw
    * and drop — both engines compare the identical IEEE double). The
    * per-(order, supplier) offer collapse and the per-pair game
    * aggregate are the only fact-table shuffles; per-order fan-out is
    * line-count-bounded (≤ C(7,2) pairs), so no key explodes.
    */
  /** Decisive games per unordered supplier pair — the co-occurrence game
    * graph both the BT estimator and the win-rate CI audit consume:
    * (i, j, n decisive games, w wins of i), i < j. The per-(order,
    * supplier) offer collapse and the per-pair aggregate are the only
    * fact-table shuffles; per-order fan-out is line-count-bounded
    * (≤ C(7,2) pairs), so no key explodes.
    */
  private def supplierGames(spark: SparkSession, dir: String): DataFrame = {
    // Checkpointed: the a/b self-join below re-embeds this corpus-sized
    // aggregate subtree on BOTH sides (Catalyst does not CSE logical
    // branches, and the shuffle-vs-broadcast exchange pair defeats
    // ReuseExchange — the r12 before-plan shows two full lineitem scans
    // + two-phase aggs). One eager checkpoint of the narrow (o, s, c)
    // relation halves the family's only fact-table work.
    val offers = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey").as("o"), col("l_suppkey").as("s"))
      .agg(min(col("l_extendedprice") * (lit(1.0) - col("l_discount")) /
        col("l_quantity")).as("c"))
      .localCheckpoint()
    val a = offers.select(col("o"), col("s").as("i"), col("c").as("ci"))
    val b = offers.select(col("o"), col("s").as("j"), col("c").as("cj"))
    a.join(b, Seq("o"))
      .filter(col("i") < col("j") && col("ci") =!= col("cj"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("ci") < col("cj"), 1L).otherwise(0L)).as("w"))
  }

  /** Game-graph ARTIFACT (the knnGraphBuild/dbscanBuild precedent): the
    * offers collapse + pair aggregate is the only corpus-sized work in
    * the whole preference family, and every family member pays it again
    * when registered standalone (sf10: ~11–13 s of each of q_bt_rating
    * 17.4 / q_bt_transitivity 18.4 / q_pair_winrate_ci 13.3). A
    * production pipeline builds the pair-bounded game graph once per
    * corpus snapshot and feeds [[btRatingOf]] / [[transitivityOf]] /
    * [[pairWinrateCiOf]] the parquet — each is then Θ(pairs).
    * Registered queries stay composed for oracle parity; PreferenceSpec
    * pins artifact ≡ composed for all three consumers.
    */
  def gamesBuild(spark: SparkSession, dir: String, path: String): DataFrame = {
    supplierGames(spark, dir).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  def btRating(spark: SparkSession, dir: String): DataFrame =
    btRatingOf(supplierGames(spark, dir)).withColumnRenamed("player", "s_suppkey")

  def btRatingSe(spark: SparkSession, dir: String): DataFrame =
    btRatingSeOf(supplierGames(spark, dir)).withColumnRenamed("player", "s_suppkey")

  /** Shared CTE prefix of the BT oracle family: offers → game graph →
    * symmetrized edges → player totals → the unrolled MM loop → the
    * normalization mean. Both [[btRatingSql]] and [[btRatingSeSql]]
    * append their own final select, so the fixed point is textually
    * identical across the family (the cross-engine fp rule).
    */
  private val btCtes: String = {
    val iters = (1 to BtIters).map { k =>
      val prev = s"bt${k - 1}"
      s"""dd$k AS (
         |  SELECT sym.i, ${Num.rSql("sum(sym.n / (pi.p + pj.p))", 9)} AS den
         |  FROM sym JOIN $prev pi ON sym.i = pi.i
         |  JOIN $prev pj ON sym.j = pj.i
         |  GROUP BY 1),
         |bt$k AS (
         |  SELECT pl.i, ${Num.rSql("(pl.wins + 0.5) / d.den", 9)} AS p
         |  FROM pl JOIN dd$k d ON pl.i = d.i)""".stripMargin
    }.mkString(",\n")
    s"""WITH offers AS (
       |  SELECT l_orderkey AS o, l_suppkey AS s,
       |         min(l_extendedprice * (1.0 - l_discount) / l_quantity) AS c
       |  FROM lineitem GROUP BY 1, 2),
       |gd AS (
       |  SELECT a.s AS i, b.s AS j, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(CASE WHEN a.c < b.c THEN 1 ELSE 0 END) AS BIGINT) AS w
       |  FROM offers a JOIN offers b ON a.o = b.o AND a.s < b.s AND a.c <> b.c
       |  GROUP BY 1, 2),
       |sym AS MATERIALIZED (
       |  SELECT i, j, n, w FROM gd
       |  UNION ALL SELECT j AS i, i AS j, n, n - w AS w FROM gd),
       |pl AS MATERIALIZED (
       |  SELECT i, CAST(sum(w) AS BIGINT) AS wins,
       |         CAST(sum(n) AS BIGINT) AS games FROM sym GROUP BY 1),
       |bt0 AS (SELECT i, CAST(1.0 AS DOUBLE) AS p FROM pl),
       |$iters,
       |mean AS (SELECT ${Num.rSql("sum(p)", 6)} / count(*) AS mp FROM bt$BtIters)""".stripMargin
  }

  val btRatingSql: String =
    s"""$btCtes
       |SELECT b.i AS s_suppkey, pl.games, pl.wins,
       |       ${Num.rSql("b.p / mean.mp", 6)} AS rating
       |FROM bt$BtIters b JOIN pl ON b.i = pl.i CROSS JOIN mean""".stripMargin

  val btRatingSeSql: String = {
    val info = s"CAST(pl.wins AS DOUBLE) / (b.p * b.p) - s2.s2"
    s"""$btCtes,
       |s2 AS (
       |  SELECT sym.i, ${Num.rSql(
      "sum(sym.n / ((pi.p + pj.p) * (pi.p + pj.p)))", 9)} AS s2
       |  FROM sym JOIN bt$BtIters pi ON sym.i = pi.i
       |  JOIN bt$BtIters pj ON sym.j = pj.i
       |  GROUP BY 1)
       |SELECT b.i AS s_suppkey, pl.games, pl.wins,
       |       ${Num.rSql("b.p / mean.mp", 6)} AS rating,
       |       CASE WHEN $info > 1e-6
       |            THEN ${Num.rSql(s"sqrt(1.0 / ($info)) / mean.mp", 6)}
       |       END AS se
       |FROM bt$BtIters b JOIN pl ON b.i = pl.i JOIN s2 ON b.i = s2.i
       |CROSS JOIN mean""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Annotation QA: inter-rater agreement (Cohen's κ, Krippendorff's α).
  // ---------------------------------------------------------------------

  /** Deterministic two-rater relation over the SAME items the BT rating
    * consumes — one row per (order, supplier-pair) with each rater's
    * verdict ∈ {i, j, tie}. The "raters" are two judgment rules a real
    * annotation pipeline would field side by side: rater 1 prefers the
    * supplier with the cheaper best UNIT price (the BT criterion), rater
    * 2 the one with the cheaper best line CHARGE
    * (extendedprice·(1−discount), no quantity normalization) — correlated
    * but not identical, so the agreement statistics are non-degenerate.
    * Both criteria are min-aggregates of identical IEEE expressions and
    * the verdicts are raw double comparisons of identical inputs, so the
    * label relation is bit-identical across engines with no rounding.
    */
  private def raterItems(spark: SparkSession, dir: String): DataFrame = {
    val offers = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey").as("o"), col("l_suppkey").as("s"))
      .agg(min(col("l_extendedprice") * (lit(1.0) - col("l_discount")) /
          col("l_quantity")).as("ca"),
        min(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("cb"),
        min(col("l_extendedprice")).as("cc"))
      // same branch-reuse checkpoint as supplierGames: the a/b self-join
      // otherwise scans + aggregates lineitem twice
      .localCheckpoint()
    val a = offers.select(col("o"), col("s").as("i"),
      col("ca").as("cai"), col("cb").as("cbi"), col("cc").as("cci"))
    val b = offers.select(col("o"), col("s").as("j"),
      col("ca").as("caj"), col("cb").as("cbj"), col("cc").as("ccj"))
    a.join(b, Seq("o"))
      .filter(col("i") < col("j"))
      .select(
        when(col("cai") < col("caj"), "i").when(col("caj") < col("cai"), "j")
          .otherwise("tie").as("r1"),
        when(col("cbi") < col("cbj"), "i").when(col("cbj") < col("cbi"), "j")
          .otherwise("tie").as("r2"),
        when(col("cci") < col("ccj"), "i").when(col("ccj") < col("cci"), "j")
          .otherwise("tie").as("r3"))
  }

  /** Cohen's κ and Krippendorff's α (nominal, two raters, no missing
    * values) from a label relation `(r1, r2)` — the QA statistics every
    * preference/RLHF data pipeline publishes next to its ratings (a
    * rating fit on labels the raters themselves don't agree on is
    * noise). Pure integer contingency math until the final divisions:
    *
    *   κ = (p_o − p_e) / (1 − p_e),  p_o = agree/N,
    *       p_e = Σ_c row_c·col_c / N²
    *   α = 1 − 2·disagree·(2N−1) / (4N² − Σ_c n_c²),  n_c = row_c + col_c
    *
    * (the α form is the two-rater coincidence-matrix reduction: each
    * disagreeing unit contributes 2 off-diagonal coincidences, n = 2N
    * pairable values, D_e = (n² − Σn_c²)/(n(n−1))). Both statistics are
    * single IEEE divisions of exact integers, snapped at 1e-6 for
    * display. Degenerate corpora (both raters constant and identical)
    * pin p_e = 1 and the α denominator to 0 with zero disagreements —
    * perfect agreement by convention, published as 1.0 through the ANSI
    * divide guard. One corpus-sized scan, one 1-row aggregate — nothing
    * shuffles but the contingency counters.
    */
  def agreementOf(items: DataFrame): DataFrame = {
    def n1(l: String) = sum(when(col("r1") === l, 1L).otherwise(0L))
    def n2(l: String) = sum(when(col("r2") === l, 1L).otherwise(0L))
    val agg = items.agg(
      count(lit(1)).as("n_items"),
      sum(when(col("r1") === col("r2"), 1L).otherwise(0L)).as("n_agree"),
      n1("i").as("a_i"), n1("j").as("a_j"), n1("tie").as("a_t"),
      n2("i").as("b_i"), n2("j").as("b_j"), n2("tie").as("b_t"))
    val n = col("n_items")
    val po = col("n_agree").cast("double") / n
    val pe = (col("a_i") * col("b_i") + col("a_j") * col("b_j") +
      col("a_t") * col("b_t")).cast("double") / (n * n).cast("double")
    val disagree = n - col("n_agree")
    val ssq = (col("a_i") + col("b_i")) * (col("a_i") + col("b_i")) +
      (col("a_j") + col("b_j")) * (col("a_j") + col("b_j")) +
      (col("a_t") + col("b_t")) * (col("a_t") + col("b_t"))
    val aden = lit(4L) * n * n - ssq
    // every division here is n-denominated; on an EMPTY corpus the agg
    // row has n_items = 0 — guard each published statistic the same way
    // the kappa/alpha arms already are (ANSI divide rule, ADVICE r11) so
    // a degenerate corpus yields a defined row (1.0 by the perfect-
    // agreement convention) instead of engine-dependent behavior
    agg.select(n.as("n_items"), col("n_agree"),
      when(n > 0L, Num.r(po, 6)).otherwise(1.0).as("po"),
      when(n > 0L && lit(1.0) - pe =!= 0.0,
        Num.r((po - pe) / (lit(1.0) - pe), 6)).otherwise(1.0).as("kappa"),
      when(aden =!= 0L,
        Num.r(lit(1.0) - (lit(2L) * disagree * (lit(2L) * n - lit(1L)))
          .cast("double") / aden.cast("double"), 6)).otherwise(1.0).as("alpha"))
  }

  def raterAgreement(spark: SparkSession, dir: String): DataFrame =
    agreementOf(raterItems(spark, dir))

  val raterAgreementSql: String =
    s"""WITH offers AS (
       |  SELECT l_orderkey AS o, l_suppkey AS s,
       |         min(l_extendedprice * (1.0 - l_discount) / l_quantity) AS ca,
       |         min(l_extendedprice * (1.0 - l_discount)) AS cb
       |  FROM lineitem GROUP BY 1, 2),
       |items AS (
       |  SELECT CASE WHEN a.ca < b.ca THEN 'i'
       |              WHEN b.ca < a.ca THEN 'j' ELSE 'tie' END AS r1,
       |         CASE WHEN a.cb < b.cb THEN 'i'
       |              WHEN b.cb < a.cb THEN 'j' ELSE 'tie' END AS r2
       |  FROM offers a JOIN offers b ON a.o = b.o AND a.s < b.s),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(CASE WHEN r1 = r2 THEN 1 ELSE 0 END) AS BIGINT) AS agree,
       |         CAST(sum(CASE WHEN r1 = 'i' THEN 1 ELSE 0 END) AS BIGINT) AS a_i,
       |         CAST(sum(CASE WHEN r1 = 'j' THEN 1 ELSE 0 END) AS BIGINT) AS a_j,
       |         CAST(sum(CASE WHEN r1 = 'tie' THEN 1 ELSE 0 END) AS BIGINT) AS a_t,
       |         CAST(sum(CASE WHEN r2 = 'i' THEN 1 ELSE 0 END) AS BIGINT) AS b_i,
       |         CAST(sum(CASE WHEN r2 = 'j' THEN 1 ELSE 0 END) AS BIGINT) AS b_j,
       |         CAST(sum(CASE WHEN r2 = 'tie' THEN 1 ELSE 0 END) AS BIGINT) AS b_t
       |  FROM items)
       |SELECT n AS n_items, agree AS n_agree,
       |       CASE WHEN n > 0
       |            THEN ${Num.rSql("CAST(agree AS DOUBLE) / n", 6)}
       |            ELSE 1.0 END AS po,
       |       CASE WHEN n > 0 AND 1.0 - CAST(a_i * b_i + a_j * b_j + a_t * b_t AS DOUBLE)
       |                        / CAST(n * n AS DOUBLE) <> 0.0
       |            THEN ${Num.rSql(
      "(CAST(agree AS DOUBLE) / n - CAST(a_i * b_i + a_j * b_j + a_t * b_t AS DOUBLE) / CAST(n * n AS DOUBLE)) / " +
        "(1.0 - CAST(a_i * b_i + a_j * b_j + a_t * b_t AS DOUBLE) / CAST(n * n AS DOUBLE))", 6)}
       |            ELSE 1.0 END AS kappa,
       |       CASE WHEN 4 * n * n - ((a_i + b_i) * (a_i + b_i) +
       |                 (a_j + b_j) * (a_j + b_j) + (a_t + b_t) * (a_t + b_t)) <> 0
       |            THEN ${Num.rSql(
      "1.0 - CAST(2 * (n - agree) * (2 * n - 1) AS DOUBLE) / " +
        "CAST(4 * n * n - ((a_i + b_i) * (a_i + b_i) + (a_j + b_j) * (a_j + b_j) + (a_t + b_t) * (a_t + b_t)) AS DOUBLE)", 6)}
       |            ELSE 1.0 END AS alpha
       |FROM agg""".stripMargin

  /** Fleiss' κ over a three-rater label relation `(r1, r2, r3)` — the
    * multi-rater generalization (Cohen's κ is two-rater only): with
    * r = 3 raters and per-item category counts n_sk,
    *
    *   P̄  = (Σ_s Σ_k n_sk² − r·N) / (N·r·(r−1))
    *   P̄e = Σ_k (Σ_s n_sk)² / (N·r)²
    *   κ  = (P̄ − P̄e) / (1 − P̄e)
    *
    * Integer sums all the way to two IEEE divisions (int→double casts of
    * identical int64 values round identically in both engines), the same
    * ANSI guard/1.0 convention as [[agreementOf]] when all raters are
    * constant and identical. The third judgment rule is the raw
    * best-line-price minimum — a deliberately cruder criterion, so the
    * three-rater panel has realistic disagreement structure.
    */
  def fleissOf(items: DataFrame): DataFrame = {
    def cnt(l: String) =
      when(col("r1") === l, 1L).otherwise(0L) +
        when(col("r2") === l, 1L).otherwise(0L) +
        when(col("r3") === l, 1L).otherwise(0L)
    val counted = items.select(cnt("i").as("ni"), cnt("j").as("nj"),
      cnt("tie").as("nt"))
    val agg = counted.agg(
      count(lit(1)).as("n_items"),
      sum(col("ni") * col("ni") + col("nj") * col("nj") +
        col("nt") * col("nt")).as("ssq"),
      sum(col("ni")).as("si"), sum(col("nj")).as("sj"),
      sum(col("nt")).as("st"))
    val n = col("n_items")
    val pbar = (col("ssq") - lit(3L) * n).cast("double") /
      (lit(6L) * n).cast("double")
    val pe = (col("si") * col("si") + col("sj") * col("sj") +
      col("st") * col("st")).cast("double") / (lit(9L) * n * n).cast("double")
    // same empty-corpus guard discipline as agreementOf (ADVICE r11)
    agg.select(n.as("n_items"),
      when(n > 0L, Num.r(pbar, 6)).otherwise(1.0).as("p_bar"),
      when(n > 0L, Num.r(pe, 6)).otherwise(1.0).as("p_e"),
      when(n > 0L && lit(1.0) - pe =!= 0.0,
        Num.r((pbar - pe) / (lit(1.0) - pe), 6)).otherwise(1.0)
        .as("fleiss_kappa"))
  }

  def fleissKappa(spark: SparkSession, dir: String): DataFrame =
    fleissOf(raterItems(spark, dir))

  val fleissKappaSql: String =
    s"""WITH offers AS (
       |  SELECT l_orderkey AS o, l_suppkey AS s,
       |         min(l_extendedprice * (1.0 - l_discount) / l_quantity) AS ca,
       |         min(l_extendedprice * (1.0 - l_discount)) AS cb,
       |         min(l_extendedprice) AS cc
       |  FROM lineitem GROUP BY 1, 2),
       |items AS (
       |  SELECT CASE WHEN a.ca < b.ca THEN 'i'
       |              WHEN b.ca < a.ca THEN 'j' ELSE 'tie' END AS r1,
       |         CASE WHEN a.cb < b.cb THEN 'i'
       |              WHEN b.cb < a.cb THEN 'j' ELSE 'tie' END AS r2,
       |         CASE WHEN a.cc < b.cc THEN 'i'
       |              WHEN b.cc < a.cc THEN 'j' ELSE 'tie' END AS r3
       |  FROM offers a JOIN offers b ON a.o = b.o AND a.s < b.s),
       |counted AS (
       |  SELECT (CASE WHEN r1 = 'i' THEN 1 ELSE 0 END +
       |          CASE WHEN r2 = 'i' THEN 1 ELSE 0 END +
       |          CASE WHEN r3 = 'i' THEN 1 ELSE 0 END) AS ni,
       |         (CASE WHEN r1 = 'j' THEN 1 ELSE 0 END +
       |          CASE WHEN r2 = 'j' THEN 1 ELSE 0 END +
       |          CASE WHEN r3 = 'j' THEN 1 ELSE 0 END) AS nj,
       |         (CASE WHEN r1 = 'tie' THEN 1 ELSE 0 END +
       |          CASE WHEN r2 = 'tie' THEN 1 ELSE 0 END +
       |          CASE WHEN r3 = 'tie' THEN 1 ELSE 0 END) AS nt
       |  FROM items),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(ni * ni + nj * nj + nt * nt) AS BIGINT) AS ssq,
       |         CAST(sum(ni) AS BIGINT) AS si, CAST(sum(nj) AS BIGINT) AS sj,
       |         CAST(sum(nt) AS BIGINT) AS st
       |  FROM counted)
       |SELECT n AS n_items,
       |       CASE WHEN n > 0 THEN ${Num.rSql(
      "CAST(ssq - 3 * n AS DOUBLE) / CAST(6 * n AS DOUBLE)", 6)}
       |            ELSE 1.0 END AS p_bar,
       |       CASE WHEN n > 0 THEN ${Num.rSql(
      "CAST(si * si + sj * sj + st * st AS DOUBLE) / CAST(9 * n * n AS DOUBLE)", 6)}
       |            ELSE 1.0 END AS p_e,
       |       CASE WHEN n > 0 AND 1.0 - CAST(si * si + sj * sj + st * st AS DOUBLE)
       |                        / CAST(9 * n * n AS DOUBLE) <> 0.0
       |            THEN ${Num.rSql(
      "(CAST(ssq - 3 * n AS DOUBLE) / CAST(6 * n AS DOUBLE) - CAST(si * si + sj * sj + st * st AS DOUBLE) / CAST(9 * n * n AS DOUBLE)) / " +
        "(1.0 - CAST(si * si + sj * sj + st * st AS DOUBLE) / CAST(9 * n * n AS DOUBLE))", 6)}
       |            ELSE 1.0 END AS fleiss_kappa
       |FROM agg""".stripMargin

  // ---------------------------------------------------------------------
  // Win-rate confidence: Wilson CIs on per-pair win rates.
  // ---------------------------------------------------------------------

  /** Minimum decisive games for a pair to publish an interval — below
    * this the Wilson CI spans most of [0,1] and the row is noise.
    */
  val WinMinGames = 5L

  /** Wilson 95% interval on each supplier pair's head-to-head win rate —
    * the q_keep_rate_ci discipline applied to the preference stream: a
    * BT rating (or an arena board) published without per-pair intervals
    * invites over-reading sparse matchups. `decisive` marks pairs whose
    * interval excludes 0.5 (a statistically real head-to-head edge).
    * Same formula text as CorpusQueries.keepRateCi (z² = 3.8416, the
    * exact-literal rule); the snapped bounds compare against 0.5, so the
    * flag cannot flip on an ulp. Input is the pair-bounded game graph —
    * one bounded aggregate over it, no corpus rescans.
    */
  def pairWinrateCi(spark: SparkSession, dir: String): DataFrame =
    pairWinrateCiOf(supplierGames(spark, dir))

  /** The audit over any pre-aggregated game relation — the
    * [[gamesBuild]]-artifact consumer form.
    */
  def pairWinrateCiOf(games: DataFrame): DataFrame = {
    val z2 = lit(CorpusQueries.WilsonZ2)
    val gd = games.filter(col("n") >= lit(WinMinGames))
    val p = col("w").cast("double") / col("n")
    val denom = lit(1.0) + z2 / col("n")
    val center = (p + z2 / (lit(2.0) * col("n"))) / denom
    val half = sqrt(p * (lit(1.0) - p) / col("n") +
      z2 / (lit(4.0) * col("n") * col("n"))) * sqrt(z2) / denom
    gd.select(col("i").as("supp_i"), col("j").as("supp_j"),
        col("n"), col("w"),
        Num.r(p, 6).as("win_rate"),
        Num.r(center - half, 6).as("ci_lo"),
        Num.r(center + half, 6).as("ci_hi"))
      .withColumn("decisive", col("ci_lo") > 0.5 || col("ci_hi") < 0.5)
  }

  val pairWinrateCiSql: String = {
    val z2 = CorpusQueries.WilsonZ2.toString
    val p = "CAST(w AS DOUBLE) / n"
    val center = s"(($p + $z2 / (2.0 * n)) / (1.0 + $z2 / n))"
    val half = s"(sqrt($p * (1.0 - $p) / n + $z2 / (4.0 * n * n)) * sqrt($z2) / (1.0 + $z2 / n))"
    s"""WITH offers AS (
       |  SELECT l_orderkey AS o, l_suppkey AS s,
       |         min(l_extendedprice * (1.0 - l_discount) / l_quantity) AS c
       |  FROM lineitem GROUP BY 1, 2),
       |gd AS (
       |  SELECT a.s AS i, b.s AS j, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(CASE WHEN a.c < b.c THEN 1 ELSE 0 END) AS BIGINT) AS w
       |  FROM offers a JOIN offers b ON a.o = b.o AND a.s < b.s AND a.c <> b.c
       |  GROUP BY 1, 2),
       |ci AS (
       |  SELECT i AS supp_i, j AS supp_j, n, w,
       |         ${Num.rSql(p, 6)} AS win_rate,
       |         ${Num.rSql(s"$center - $half", 6)} AS ci_lo,
       |         ${Num.rSql(s"$center + $half", 6)} AS ci_hi
       |  FROM gd WHERE n >= $WinMinGames)
       |SELECT supp_i, supp_j, n, w, win_rate, ci_lo, ci_hi,
       |       (ci_lo > 0.5 OR ci_hi < 0.5) AS decisive
       |FROM ci""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Magnitude-bias audit: win rate vs offer-magnitude delta buckets.
  // ---------------------------------------------------------------------

  /** Bucket width (in quantity units) for the magnitude-delta histogram.
    * Fixed literal buckets are the honest scale answer (the RFM cut
    * rule): quantity lives on a bounded grid (1–50 per line, ≤ 7 lines)
    * so |Δ| spans ~0–350 and ten width-5 buckets with a top catch-all
    * cover the mass at every swept scale; quantile-derived deciles would
    * add a corpus-wide sort for no audit value.
    */
  val MagBucketWidth = 5.0
  val MagBucketMax = 9L

  /** Verbosity/magnitude-bias audit — the standard RLHF annotation check
    * next to rater agreement: does the judged winner correlate with a
    * superficial magnitude attribute (response LENGTH in preference
    * data; here the supplier's total offered QUANTITY, the direct
    * analog) rather than the judged criterion alone? For every decisive
    * pair item, the item lands in a |Δmagnitude| bucket and scores
    * whether the HIGHER-magnitude side won; per bucket the win rate gets
    * the same Wilson interval as q_pair_winrate_ci (identical z²
    * literal), and `biased` marks buckets whose interval excludes 0.5.
    * A flat ~0.5 profile = magnitude-blind judging; a profile that
    * drifts with Δ = the bias a reward model would inherit.
    *
    * Scale shape: the offers collapse + pair join is the family's one
    * corpus-sized stage (same as [[supplierGames]]); everything after is
    * a ≤ 10-row aggregate. Determinism: quantities are integer-valued
    * doubles so sums, deltas and the bucket floor are exact in both
    * engines; the win indicator compares the identical IEEE minima the
    * other family members compare.
    */
  def magnitudeBias(spark: SparkSession, dir: String): DataFrame =
    magnitudeBiasOf(Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey").as("o"), col("l_suppkey").as("s"))
      .agg(min(col("l_extendedprice") * (lit(1.0) - col("l_discount")) /
        col("l_quantity")).as("c"),
        sum(col("l_quantity")).as("m")))

  /** The audit over any per-(item, candidate) offer relation
    * `(o, s, c, m)` — split out so PreferenceSpec can pin hand-built
    * biased and magnitude-blind fixtures.
    */
  def magnitudeBiasOf(offers: DataFrame): DataFrame = {
    // branch-reuse checkpoint (see supplierGames): the a/b self-join
    // otherwise re-runs the caller's offers collapse on both sides
    val off = offers.localCheckpoint()
    val a = off.select(col("o"), col("s").as("i"), col("c").as("ci"),
      col("m").as("mi"))
    val b = off.select(col("o"), col("s").as("j"), col("c").as("cj"),
      col("m").as("mj"))
    val items = a.join(b, Seq("o"))
      .filter(col("i") < col("j") && col("ci") =!= col("cj") &&
        col("mi") =!= col("mj"))
      .select(
        least(floor(abs(col("mi") - col("mj")) / lit(MagBucketWidth)),
          lit(MagBucketMax)).as("bucket"),
        when((col("ci") < col("cj")) === (col("mi") > col("mj")), 1L)
          .otherwise(0L).as("hw"))
    val agg = items.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_games"), sum(col("hw")).as("n_higher_wins"))
    val z2 = lit(CorpusQueries.WilsonZ2)
    val p = col("n_higher_wins").cast("double") / col("n_games")
    val denom = lit(1.0) + z2 / col("n_games")
    val center = (p + z2 / (lit(2.0) * col("n_games"))) / denom
    val half = sqrt(p * (lit(1.0) - p) / col("n_games") +
      z2 / (lit(4.0) * col("n_games") * col("n_games"))) * sqrt(z2) / denom
    agg.select(col("bucket"), col("n_games"), col("n_higher_wins"),
        Num.r(p, 6).as("win_rate_higher"),
        Num.r(center - half, 6).as("ci_lo"),
        Num.r(center + half, 6).as("ci_hi"))
      .withColumn("biased", col("ci_lo") > 0.5 || col("ci_hi") < 0.5)
  }

  val magnitudeBiasSql: String = {
    val z2 = CorpusQueries.WilsonZ2.toString
    val p = "CAST(n_higher_wins AS DOUBLE) / n_games"
    val center = s"(($p + $z2 / (2.0 * n_games)) / (1.0 + $z2 / n_games))"
    val half = s"(sqrt($p * (1.0 - $p) / n_games + $z2 / (4.0 * n_games * n_games)) * sqrt($z2) / (1.0 + $z2 / n_games))"
    s"""WITH offers AS (
       |  SELECT l_orderkey AS o, l_suppkey AS s,
       |         min(l_extendedprice * (1.0 - l_discount) / l_quantity) AS c,
       |         sum(l_quantity) AS m
       |  FROM lineitem GROUP BY 1, 2),
       |items AS (
       |  SELECT least(CAST(floor(abs(a.m - b.m) / $MagBucketWidth) AS BIGINT),
       |               $MagBucketMax) AS bucket,
       |         CASE WHEN (a.c < b.c) = (a.m > b.m) THEN 1 ELSE 0 END AS hw
       |  FROM offers a JOIN offers b
       |    ON a.o = b.o AND a.s < b.s AND a.c <> b.c AND a.m <> b.m),
       |agg AS (
       |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_games,
       |         CAST(sum(hw) AS BIGINT) AS n_higher_wins
       |  FROM items GROUP BY 1),
       |ci AS (
       |  SELECT bucket, n_games, n_higher_wins,
       |         ${Num.rSql(p, 6)} AS win_rate_higher,
       |         ${Num.rSql(s"$center - $half", 6)} AS ci_lo,
       |         ${Num.rSql(s"$center + $half", 6)} AS ci_hi
       |  FROM agg)
       |SELECT bucket, n_games, n_higher_wins, win_rate_higher, ci_lo, ci_hi,
       |       (ci_lo > 0.5 OR ci_hi < 0.5) AS biased
       |FROM ci""".stripMargin
  }

  /** Position-bias audit — the second standard RLHF annotation check
    * (response ORDER in a side-by-side comparison; here the supplier's
    * earliest line position within the order, the direct analog): does
    * the judged winner correlate with being listed FIRST rather than
    * with the judged criterion? Per decisive pair item with distinct
    * positions, the item lands in a position-delta bucket (|Δpos| is
    * already small-integer-bounded — ≤ 6 with ≤ 7 lines per order — so
    * the raw delta IS the bucket, no width needed) and scores whether
    * the EARLIER-listed side won; Wilson intervals and the `biased`
    * flag as in [[magnitudeBiasOf]]. Expected profile on this stream:
    * ~0.5 everywhere (unit price does not depend on line order) — the
    * audit's value is certifying the null, exactly like a well-run
    * annotation pipeline's position-bias report.
    */
  def positionBias(spark: SparkSession, dir: String): DataFrame =
    positionBiasOf(Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey").as("o"), col("l_suppkey").as("s"))
      .agg(min(col("l_extendedprice") * (lit(1.0) - col("l_discount")) /
        col("l_quantity")).as("c"),
        min(col("l_linenumber").cast("long")).as("p")))

  /** The audit over any `(o, s, c, p)` offer relation — PreferenceSpec
    * pins a position-rigged fixture and the unbiased null.
    */
  def positionBiasOf(offers: DataFrame): DataFrame = {
    // branch-reuse checkpoint (see supplierGames): the a/b self-join
    // otherwise re-runs the caller's offers collapse on both sides
    val off = offers.localCheckpoint()
    val a = off.select(col("o"), col("s").as("i"), col("c").as("ci"),
      col("p").as("pi"))
    val b = off.select(col("o"), col("s").as("j"), col("c").as("cj"),
      col("p").as("pj"))
    val items = a.join(b, Seq("o"))
      .filter(col("i") < col("j") && col("ci") =!= col("cj") &&
        col("pi") =!= col("pj"))
      .select(abs(col("pi") - col("pj")).as("delta_pos"),
        when((col("ci") < col("cj")) === (col("pi") < col("pj")), 1L)
          .otherwise(0L).as("ew"))
    val agg = items.groupBy(col("delta_pos"))
      .agg(count(lit(1)).as("n_games"), sum(col("ew")).as("n_earlier_wins"))
    val z2 = lit(CorpusQueries.WilsonZ2)
    val p = col("n_earlier_wins").cast("double") / col("n_games")
    val denom = lit(1.0) + z2 / col("n_games")
    val center = (p + z2 / (lit(2.0) * col("n_games"))) / denom
    val half = sqrt(p * (lit(1.0) - p) / col("n_games") +
      z2 / (lit(4.0) * col("n_games") * col("n_games"))) * sqrt(z2) / denom
    agg.select(col("delta_pos"), col("n_games"), col("n_earlier_wins"),
        Num.r(p, 6).as("win_rate_earlier"),
        Num.r(center - half, 6).as("ci_lo"),
        Num.r(center + half, 6).as("ci_hi"))
      .withColumn("biased", col("ci_lo") > 0.5 || col("ci_hi") < 0.5)
  }

  val positionBiasSql: String = {
    val z2 = CorpusQueries.WilsonZ2.toString
    val p = "CAST(n_earlier_wins AS DOUBLE) / n_games"
    val center = s"(($p + $z2 / (2.0 * n_games)) / (1.0 + $z2 / n_games))"
    val half = s"(sqrt($p * (1.0 - $p) / n_games + $z2 / (4.0 * n_games * n_games)) * sqrt($z2) / (1.0 + $z2 / n_games))"
    s"""WITH offers AS (
       |  SELECT l_orderkey AS o, l_suppkey AS s,
       |         min(l_extendedprice * (1.0 - l_discount) / l_quantity) AS c,
       |         CAST(min(l_linenumber) AS BIGINT) AS p
       |  FROM lineitem GROUP BY 1, 2),
       |items AS (
       |  SELECT abs(a.p - b.p) AS delta_pos,
       |         CASE WHEN (a.c < b.c) = (a.p < b.p) THEN 1 ELSE 0 END AS ew
       |  FROM offers a JOIN offers b
       |    ON a.o = b.o AND a.s < b.s AND a.c <> b.c AND a.p <> b.p),
       |agg AS (
       |  SELECT delta_pos, CAST(count(*) AS BIGINT) AS n_games,
       |         CAST(sum(ew) AS BIGINT) AS n_earlier_wins
       |  FROM items GROUP BY 1),
       |ci AS (
       |  SELECT delta_pos, n_games, n_earlier_wins,
       |         ${Num.rSql(p, 6)} AS win_rate_earlier,
       |         ${Num.rSql(s"$center - $half", 6)} AS ci_lo,
       |         ${Num.rSql(s"$center + $half", 6)} AS ci_hi
       |  FROM agg)
       |SELECT delta_pos, n_games, n_earlier_wins, win_rate_earlier,
       |       ci_lo, ci_hi, (ci_lo > 0.5 OR ci_hi < 0.5) AS biased
       |FROM ci""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Tournament transitivity: cyclic-triad rate of the majority digraph.
  // ---------------------------------------------------------------------

  /** Active-player cap for the transitivity audit. The triad enumeration
    * is C(k,3) BY CONSTRUCTION — the audit runs on the top-k players by
    * decisive games (deterministic suppkey tiebreak), never on the full
    * player table, because a near-complete tournament on p players holds
    * C(p,3) triads (1.7e11 at sf1's 10 k suppliers — the q_heavy_hitters
    * regime class, dodged by bounding the domain, not by testdata luck).
    * 64 active players = 41 664 triads at any corpus size.
    */
  val TransTopK = 64

  /** Intransitivity audit of the preference stream — the third QA leg
    * next to rater agreement and win-rate CIs: a preference corpus whose
    * majority outcomes cycle (A beats B beats C beats A) caps how well
    * ANY total-order model (BT, Elo) can fit it, so pipelines publish
    * the cyclic-triad rate next to the ratings. Over the top-[[TransTopK]]
    * most-active players: majority edge u→v when u won strictly more
    * decisive games (exact 50/50 pairs carry no direction and drop);
    * among triads whose three pairs ALL have majority edges, a triad is
    * cyclic iff it has no 2-out-degree node — counted once via the
    * min-node rotation (u < v, u < w for cycles; u < v < w for the triad
    * total). Everything after the player cap is k-bounded: the edge set
    * ≤ C(k,2), the triad joins ≤ C(k,3) rows.
    */
  def btTransitivity(spark: SparkSession, dir: String): DataFrame =
    transitivityOf(supplierGames(spark, dir))

  /** The audit over any pre-aggregated game relation `(i, j, n, w)`,
    * i < j — split out so PreferenceSpec can pin hand-built cyclic and
    * transitive tournaments.
    */
  def transitivityOf(gd: DataFrame): DataFrame = {
    // checkpoint the game relation: act references it twice and ed once —
    // three executions of the composed caller's offers self-join + pair
    // aggregate without the barrier (branch-reuse rule)
    val g = gd.localCheckpoint()
    // top-k active players: player-bounded relation, deterministic order
    val act = g.select(col("i").as("p"), col("n"))
      .unionByName(g.select(col("j").as("p"), col("n")))
      .groupBy(col("p")).agg(sum(col("n")).as("games"))
      .orderBy(col("games").desc, col("p").asc)
      .limit(TransTopK)
      .select(col("p"))
    // majority digraph on the active set (ties drop: no direction)
    val ed = g
      .join(act.select(col("p").as("i")), Seq("i"))
      .join(act.select(col("p").as("j")), Seq("j"))
      .filter(col("w") * 2 =!= col("n"))
      .select(when(col("w") * 2 > col("n"), col("i")).otherwise(col("j")).as("u"),
        when(col("w") * 2 > col("n"), col("j")).otherwise(col("i")).as("v"))
      .localCheckpoint() // six consumers of a join-derived relation
    // undirected closure for the triad total: both endpoints ordered
    val un = ed.select(least(col("u"), col("v")).as("a"),
      greatest(col("u"), col("v")).as("b"))
    val triads = un.as("e1")
      .join(un.as("e2"), col("e1.b") === col("e2.a"))
      .join(un.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .agg(count(lit(1)).as("n_triads"))
    // directed 3-cycles, one rotation each (min node leads)
    val cyc = ed.as("c1")
      .join(ed.as("c2"), col("c1.v") === col("c2.u"))
      .join(ed.as("c3"),
        col("c3.u") === col("c2.v") && col("c3.v") === col("c1.u"))
      .filter(col("c1.u") < col("c1.v") && col("c1.u") < col("c2.v"))
      .agg(count(lit(1)).as("n_cyclic"))
    val base = ed.agg(count(lit(1)).as("n_edges"))
      .crossJoin(triads).crossJoin(cyc)
    base.select(col("n_edges"), col("n_triads"), col("n_cyclic"),
      when(col("n_triads") > 0L,
        Num.r(col("n_cyclic").cast("double") / col("n_triads"), 6))
        .otherwise(0.0).as("cyclic_rate"))
  }

  val btTransitivitySql: String =
    s"""WITH offers AS (
       |  SELECT l_orderkey AS o, l_suppkey AS s,
       |         min(l_extendedprice * (1.0 - l_discount) / l_quantity) AS c
       |  FROM lineitem GROUP BY 1, 2),
       |gd AS (
       |  SELECT a.s AS i, b.s AS j, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(CASE WHEN a.c < b.c THEN 1 ELSE 0 END) AS BIGINT) AS w
       |  FROM offers a JOIN offers b ON a.o = b.o AND a.s < b.s AND a.c <> b.c
       |  GROUP BY 1, 2),
       |act AS (
       |  SELECT p FROM (
       |    SELECT p, CAST(sum(n) AS BIGINT) AS games FROM (
       |      SELECT i AS p, n FROM gd UNION ALL SELECT j AS p, n FROM gd)
       |    GROUP BY 1)
       |  ORDER BY games DESC, p ASC LIMIT $TransTopK),
       |ed AS MATERIALIZED (
       |  SELECT CASE WHEN w * 2 > n THEN i ELSE j END AS u,
       |         CASE WHEN w * 2 > n THEN j ELSE i END AS v
       |  FROM gd
       |  WHERE w * 2 <> n AND i IN (SELECT p FROM act)
       |    AND j IN (SELECT p FROM act)),
       |un AS MATERIALIZED (
       |  SELECT least(u, v) AS a, greatest(u, v) AS b FROM ed),
       |tri AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_triads
       |  FROM un e1 JOIN un e2 ON e1.b = e2.a
       |  JOIN un e3 ON e3.a = e1.a AND e3.b = e2.b),
       |cyc AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_cyclic
       |  FROM ed c1 JOIN ed c2 ON c1.v = c2.u
       |  JOIN ed c3 ON c3.u = c2.v AND c3.v = c1.u
       |  WHERE c1.u < c1.v AND c1.u < c2.v),
       |base AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM ed)
       |SELECT n_edges, n_triads, n_cyclic,
       |       CASE WHEN n_triads > 0
       |            THEN ${Num.rSql("CAST(n_cyclic AS DOUBLE) / n_triads", 6)}
       |            ELSE 0.0 END AS cyclic_rate
       |FROM base CROSS JOIN tri CROSS JOIN cyc""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("q_bt_rating", btRating, btRatingSql),
    Op("q_bt_rating_se", btRatingSe, btRatingSeSql),
    Op("q_rater_agreement", raterAgreement, raterAgreementSql),
    Op("q_fleiss_kappa", fleissKappa, fleissKappaSql),
    Op("q_pair_winrate_ci", pairWinrateCi, pairWinrateCiSql),
    Op("q_magnitude_bias", magnitudeBias, magnitudeBiasSql),
    Op("q_position_bias", positionBias, positionBiasSql),
    Op("q_bt_transitivity", btTransitivity, btTransitivitySql))
}
