package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Preference

/** Bradley–Terry preference aggregation: constructed-tournament order,
  * smoothing totality on degenerate records, and the registered wiring's
  * bookkeeping invariants on testdata.
  */
class PreferenceSpec extends AnyFunSuite {
  lazy val spark = Spark.session
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"

  test("constructed tournament: dominance order survives the MM estimate") {
    // A beats B 9/10, B beats C 9/10, A beats C 9/10 — uniform game
    // counts, strict dominance chain; BT must order p_A > p_B > p_C.
    val gd = Seq((1L, 2L, 10L, 9L), (2L, 3L, 10L, 9L), (1L, 3L, 10L, 9L))
      .toDF("i", "j", "n", "w")
    val r = Preference.btRatingOf(gd)
      .orderBy(col("rating").desc).select("player").as[Long].collect()
    assert(r.toSeq == Seq(1L, 2L, 3L))
  }

  test("smoothing keeps the update total on undefeated/winless players") {
    // Player 1 wins every game, player 3 loses every game: without the
    // +0.5 smoothing the winless rating hits exactly 0 and the next
    // round's p_i + p_j for the 2–3 edge divides by zero under ANSI.
    val gd = Seq((1L, 2L, 5L, 5L), (2L, 3L, 5L, 5L)).toDF("i", "j", "n", "w")
    val r = Preference.btRatingOf(gd)
      .select("player", "rating").as[(Long, Double)].collect().toMap
    assert(r.size == 3 && r.values.forall(_ > 0.0))
    assert(r(1L) > r(2L) && r(2L) > r(3L))
  }

  test("agreement fixture: hand-computed Cohen's kappa and Krippendorff's alpha") {
    // 4 units: (i,i), (j,j), (i,j), (tie,tie) — N=4, agree=3, po=3/4.
    // kappa: rater-1 marginals (2,1,1), rater-2 (1,2,1) → pe = (2·1 +
    // 1·2 + 1·1)/16 = 5/16; kappa = (0.75 − 0.3125)/0.6875 = 7/11 =
    // 0.63636… → snapped 0.636364.
    // alpha (two-rater coincidence form): disagree=1, n=2N=8, n_c =
    // (3,3,2), Σn_c²=22 → alpha = 1 − 2·1·7/(64−22) = 1 − 14/42 = 2/3
    // → snapped 0.666667.
    val items = Seq(("i", "i"), ("j", "j"), ("i", "j"), ("tie", "tie"))
      .toDF("r1", "r2")
    val r = Preference.agreementOf(items).head()
    assert(r.getLong(0) == 4L && r.getLong(1) == 3L)
    assert(r.getDouble(2) == 0.75)
    assert(r.getDouble(3) == 0.636364, s"kappa ${r.getDouble(3)}")
    assert(r.getDouble(4) == 0.666667, s"alpha ${r.getDouble(4)}")
  }

  test("agreement degenerate case: constant identical raters pin kappa = alpha = 1") {
    // both raters always say tie: po = 1, pe = 1 (0/0 kappa), alpha
    // denominator 4N² − Σn_c² = 0 with zero disagreements — the guards
    // publish perfect agreement instead of an ANSI divide error
    val items = Seq(("tie", "tie"), ("tie", "tie"), ("tie", "tie"))
      .toDF("r1", "r2")
    val r = Preference.agreementOf(items).head()
    assert(r.getDouble(3) == 1.0 && r.getDouble(4) == 1.0)
  }

  test("registered agreement wiring: statistics live in their ranges") {
    val r = Preference.raterAgreement(spark, sf).head()
    val (n, agree) = (r.getLong(0), r.getLong(1))
    assert(n > 0L && agree >= 0L && agree <= n)
    val (po, kappa, alpha) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
    assert(po >= 0.0 && po <= 1.0)
    assert(kappa >= -1.0 && kappa <= 1.0)
    assert(alpha >= -1.0 && alpha <= 1.0)
    // the two criteria are correlated by construction: agreement must
    // beat chance by a real margin, else the rater relation degenerated
    assert(kappa > 0.1, s"kappa $kappa: raters no better than chance")
  }

  test("pair win-rate CIs: Wilson bounds bracket the rate and flag decisiveness") {
    val out = Preference.pairWinrateCi(spark, sf).cache()
    assert(out.filter(col("n") < Preference.WinMinGames).isEmpty)
    assert(out.filter(col("ci_lo") > col("win_rate") ||
      col("win_rate") > col("ci_hi")).isEmpty)
    assert(out.filter(col("ci_lo") < 0.0 || col("ci_hi") > 1.0).isEmpty)
    assert(out.filter(col("decisive") =!=
      (col("ci_lo") > 0.5 || col("ci_hi") < 0.5)).isEmpty)
    // w ≤ n and the rate is w/n on the display grid
    assert(out.filter(col("w") > col("n")).isEmpty)
    assert(out.count() > 0L)
    out.unpersist()
  }

  test("Fleiss fixture: hand-computed three-rater kappa and the degenerate panel") {
    // 4 items × 3 raters: (i,i,i), (i,i,j), (tie,tie,j), (i,j,tie).
    // Per-item Σn_k²: 9, 5, 5, 3 → ssq=22; P̄ = (22 − 12)/24 = 0.41666…
    // → snapped 0.416667. Marginals S=(6,3,3) → P̄e = 54/144 = 0.375.
    // κ = (10/24 − 0.375)/0.625 = 0.06666… → snapped 0.066667.
    val items = Seq(("i", "i", "i"), ("i", "i", "j"), ("tie", "tie", "j"),
      ("i", "j", "tie")).toDF("r1", "r2", "r3")
    val r = Preference.fleissOf(items).head()
    assert(r.getLong(0) == 4L)
    assert(r.getDouble(1) == 0.416667, s"p_bar ${r.getDouble(1)}")
    assert(r.getDouble(2) == 0.375)
    assert(r.getDouble(3) == 0.066667, s"kappa ${r.getDouble(3)}")
    // constant identical panel: P̄e = 1 → guard publishes 1.0
    val const = Seq(("tie", "tie", "tie"), ("tie", "tie", "tie"))
      .toDF("r1", "r2", "r3")
    assert(Preference.fleissOf(const).head().getDouble(3) == 1.0)
  }

  test("registered Fleiss wiring: statistics live in their ranges") {
    val r = Preference.fleissKappa(spark, sf).head()
    assert(r.getLong(0) > 0L)
    val (pb, pe, k) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
    assert(pb >= 0.0 && pb <= 1.0 && pe > 0.0 && pe < 1.0)
    assert(k >= -1.0 && k <= 1.0)
    // the three rules are correlated by construction
    assert(k > 0.1, s"fleiss kappa $k: panel no better than chance")
  }

  test("transitivity fixture: a rock-paper-scissors triad is cyclic, a chain is not") {
    // 1 beats 2, 2 beats 3, 3 beats 1 — one triad, one directed 3-cycle
    val cyc = Seq((1L, 2L, 3L, 3L), (2L, 3L, 3L, 3L), (1L, 3L, 3L, 0L))
      .toDF("i", "j", "n", "w")
    val rc = Preference.transitivityOf(cyc).head()
    assert((rc.getLong(0), rc.getLong(1), rc.getLong(2)) == ((3L, 1L, 1L)))
    assert(rc.getDouble(3) == 1.0)
    // 1 beats 2, 2 beats 3, 1 beats 3 — same triad, transitive
    val chain = Seq((1L, 2L, 3L, 3L), (2L, 3L, 3L, 3L), (1L, 3L, 3L, 3L))
      .toDF("i", "j", "n", "w")
    val rt = Preference.transitivityOf(chain).head()
    assert((rt.getLong(0), rt.getLong(1), rt.getLong(2)) == ((3L, 1L, 0L)))
    assert(rt.getDouble(3) == 0.0)
    // an exact 50/50 pair carries no direction: the triad dissolves
    val tied = Seq((1L, 2L, 4L, 2L), (2L, 3L, 3L, 3L), (1L, 3L, 3L, 3L))
      .toDF("i", "j", "n", "w")
    val rd = Preference.transitivityOf(tied).head()
    assert((rd.getLong(0), rd.getLong(1)) == ((2L, 0L)))
  }

  test("family consumes the shared game-graph artifact: artifact forms ≡ composed forms") {
    // the knnGraphBuild pattern applied to the preference family: the
    // registered queries recompute the offers collapse for oracle
    // parity; the production path reads gamesBuild's parquet once and
    // every consumer is Theta(pairs)
    val path = java.nio.file.Files.createTempDirectory("pref_games").toString
    val games = Preference.gamesBuild(spark, sf, s"$path/games")
    def set(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(set(Preference.btRatingOf(games)
        .withColumnRenamed("player", "s_suppkey")) ==
      set(Preference.btRating(spark, sf)))
    assert(set(Preference.transitivityOf(games)) ==
      set(Preference.btTransitivity(spark, sf)))
    assert(set(Preference.pairWinrateCiOf(games)) ==
      set(Preference.pairWinrateCi(spark, sf)))
  }

  test("rating SEs: symmetry, games-monotonicity, and the winless NULL") {
    // symmetric 2-player tournament: at the fixed point both strengths
    // are equal, so info = W/p² − n/(2p)² = (5 − 2.5)/p² and the
    // normalized SE is 1/sqrt(2.5) = 0.6324555… up to display snapping
    val sym = Preference.btRatingSeOf(
        Seq((1L, 2L, 10L, 5L)).toDF("i", "j", "n", "w"))
      .select("player", "rating", "se").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(sym(1L)._1 == 1.0 && sym(2L)._1 == 1.0)
    assert(sym(1L)._2 == sym(2L)._2, "symmetric players must share an SE")
    assert(math.abs(sym(1L)._2 - 0.6324555) < 1e-5, s"se ${sym(1L)._2}")
    // 10× the games at the same win rate → strictly tighter SEs
    val big = Preference.btRatingSeOf(
        Seq((1L, 2L, 100L, 50L)).toDF("i", "j", "n", "w"))
      .select("se").as[Double].collect()
    assert(big.forall(_ < sym(1L)._2), "more games must shrink the SE")
    // a winless player's likelihood has no interior maximum: se is NULL
    val skew = Preference.btRatingSeOf(
        Seq((1L, 2L, 5L, 5L)).toDF("i", "j", "n", "w"))
      .select("player", "se").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(skew(1L).isDefined && skew(2L).isEmpty)
  }

  test("magnitude bias fixtures: a biased judge flags, a blind judge does not") {
    // 20 items where the higher-quantity offer ALWAYS wins (cheaper c),
    // |Δm| = 5 → bucket 1; plus one magnitude-tie item that must drop
    val biased = (1 to 20).flatMap(o => Seq((o.toLong, 1L, 1.0, 10.0),
        (o.toLong, 2L, 2.0, 5.0))) ++
      Seq((21L, 1L, 1.0, 7.0), (21L, 2L, 2.0, 7.0))
    val rb = Preference.magnitudeBiasOf(
      biased.toDF("o", "s", "c", "m")).collect()
    assert(rb.length == 1)
    assert(rb.head.getLong(0) == 1L && rb.head.getLong(1) == 20L)
    assert(rb.head.getDouble(3) == 1.0 && rb.head.getBoolean(6),
      "uniform higher-magnitude wins must flag as biased")
    // alternating winners at the same |Δm|: rate 0.5, interval spans 0.5
    val blind = (1 to 20).flatMap { o =>
      val (cLo, cHi) = if (o % 2 == 0) (1.0, 2.0) else (2.0, 1.0)
      Seq((o.toLong, 1L, cLo, 10.0), (o.toLong, 2L, cHi, 5.0))
    }
    val rn = Preference.magnitudeBiasOf(
      blind.toDF("o", "s", "c", "m")).collect()
    assert(rn.length == 1 && rn.head.getDouble(3) == 0.5 &&
      !rn.head.getBoolean(6))
    // the catch-all bucket: |Δm| = 60 lands in bucket 9, not 12
    val far = Preference.magnitudeBiasOf(
      Seq((1L, 1L, 1.0, 70.0), (1L, 2L, 2.0, 10.0)).toDF("o", "s", "c", "m"))
      .collect()
    assert(far.head.getLong(0) == 9L)
  }

  test("position bias fixtures: a first-listed-always-wins judge flags; alternation does not") {
    // 20 items where the earlier-listed offer always wins, |Δpos| = 2
    val rigged = (1 to 20).flatMap(o => Seq((o.toLong, 1L, 1.0, 1L),
      (o.toLong, 2L, 2.0, 3L)))
    val rr = Preference.positionBiasOf(
      rigged.toDF("o", "s", "c", "p")).collect()
    assert(rr.length == 1 && rr.head.getLong(0) == 2L)
    assert(rr.head.getDouble(3) == 1.0 && rr.head.getBoolean(6))
    // alternating winners: rate 0.5, unbiased; equal positions drop
    val fair = (1 to 20).flatMap { o =>
      val (cLo, cHi) = if (o % 2 == 0) (1.0, 2.0) else (2.0, 1.0)
      Seq((o.toLong, 1L, cLo, 1L), (o.toLong, 2L, cHi, 2L))
    } ++ Seq((21L, 1L, 1.0, 1L), (21L, 2L, 2.0, 1L))
    val rf = Preference.positionBiasOf(
      fair.toDF("o", "s", "c", "p")).collect()
    assert(rf.length == 1 && rf.head.getLong(1) == 20L &&
      rf.head.getDouble(3) == 0.5 && !rf.head.getBoolean(6))
  }

  test("registered wiring: per-player bookkeeping matches the pair stream") {
    val out = Preference.btRating(spark, sf)
    val agg = out.agg(sum("wins").as("w"), sum("games").as("g"),
      min("rating").as("mn"), count(lit(1)).as("np"))
      .head()
    // every decisive game awards exactly one win, counted once per side
    assert(agg.getLong(0) * 2 == agg.getLong(1))
    assert(agg.getDouble(2) > 0.0)
    // mean-1.0 normalization over rated players (snapped grid)
    val mean = out.agg(avg("rating")).head().getDouble(0)
    assert(math.abs(mean - 1.0) < 1e-4, s"mean rating $mean")
  }
}
