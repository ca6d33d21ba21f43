package graft

/** Data-premise gate for regime-premised operators, runnable at ANY
  * scale directory (VERDICT r10 #7): premises that are only asserted at
  * the spec scales (DensitySpec at sf0.1) can silently break at sf1+,
  * where cardinality — not rounding — moves the boundary (the
  * q_heavy_hitters lesson). `dev/sweep_sf1.sh` runs this against the
  * ScaleUp corpus, whose exact-copy embeddings are the adversarial
  * mass-duplication case the DBSCAN quotient exists for.
  *
  * Checks (loud `require`, each names itself):
  *   1. DBSCAN quotient occupancy: max DISTINCT-coordinate eps-cell
  *      occupancy ≤ Density.DbMaxCellOccupancy — the 3×3 probe's sparse
  *      regime. ScaleUp adds copies, never coordinates, so this must be
  *      scale-invariant; growth means real new geometry.
  *   2. DBSCAN core structure: the quotient has ≥1 core node and the
  *      core fraction is sane (not NaN/negative) — a zero-core corpus
  *      makes every point noise and the oracle's label CTEs vacuous.
  *
  * Usage: sbt "runMain graft.PremiseCheck <sfDir>"
  */
object PremiseCheck {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf1")
    val spark = Sessions.local()
    val r = analytics.Density.quotientStats(spark, dir).head()
    val (nPoints, nDistinct) = (r.getLong(0), r.getLong(1))
    val (maxOcc, maxMult) = (r.getLong(2), r.getLong(3))
    val (nCore, coreFrac) = (r.getLong(4), r.getDouble(5))
    println(s"[premise] dbscan_quotient dir=$dir n_points=$nPoints " +
      s"n_distinct=$nDistinct max_cell_occupancy=$maxOcc " +
      s"max_multiplicity=$maxMult n_core=$nCore core_frac=$coreFrac")
    require(maxOcc <= analytics.Density.DbMaxCellOccupancy,
      s"DBSCAN premise violated at $dir: an eps-grid cell holds $maxOcc " +
        s"distinct coordinates (> ${analytics.Density.DbMaxCellOccupancy}) " +
        "— the 3x3 cell probe is leaving its sparse regime; re-grain " +
        "Density.DbEps or cap cell membership before trusting q_dbscan " +
        "at this corpus")
    require(nCore > 0L && coreFrac > 0.0 && coreFrac <= 1.0,
      s"DBSCAN premise violated at $dir: core structure degenerated " +
        s"(n_core=$nCore, core_frac=$coreFrac) — every point would be " +
        "noise and the oracle's label closure is vacuous")
    println(s"[premise] ALL GREEN at $dir")
    spark.stop()
  }
}
