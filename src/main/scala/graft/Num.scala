package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{floor, lit, sum}

/** Cross-engine-stable rounding.
  *
  * Spark's `round()` converts the double to its shortest decimal string and
  * applies HALF_UP (so 141428.95499999998 → "141428.955" → 141428.96), while
  * DuckDB rounds the binary value (→ 141428.95). Any aggregate landing on an
  * exact .xx5 therefore hash-mismatches between engines. Instead both the
  * Spark plans and the oracle SQL use the literal IEEE expression
  * floor(x * 10^s + 0.5) / 10^s, which evaluates bit-identically in any
  * engine that computes the same underlying double.
  */
object Num {
  private def p(s: Int): Double = math.pow(10, s)

  /** Round half-up (toward +inf) at scale s, IEEE-stable across engines. */
  def r(c: Column, s: Int): Column = floor(c * lit(p(s)) + lit(0.5)) / lit(p(s))

  /** The scalar twin of [[r]] for driver-side doubles: the same IEEE
    * expression (Spark's floor-to-LONG and math.floor agree wherever
    * |x·10^s| < 2⁶³), and math.pow(10, s) is exact for these powers.
    */
  def rd(x: Double, s: Int): Double = math.floor(x * p(s) + 0.5) / p(s)

  /** The same expression as SQL text for the DuckDB oracle. */
  def rSql(e: String, s: Int): String = {
    val pow = p(s)
    s"floor(($e) * $pow + 0.5) / $pow"
  }

  /** Grid-snapped average: SUM of double data differs between engines by
    * an ulp (different partial-aggregation order), which can flip the
    * rounding of sum-derived values landing exactly on a rounding
    * boundary. When the input data lives on a decimal grid (prices at 2
    * decimals, price×discount products at 4), the accumulated fp error
    * (~1e-6 at these scales) is far below half a grid step — so snapping
    * the sum to the grid FIRST yields the identical double in both
    * engines, and every downstream division/round is then bit-identical
    * by construction.
    */
  def savg(sumExpr: Column, countExpr: Column, grid: Int, display: Int): Column =
    r(r(sumExpr, grid) / countExpr, display)

  def savgSql(sumExpr: String, countExpr: String, grid: Int, display: Int): String =
    rSql(s"${rSql(sumExpr, grid)} / ($countExpr)", display)

  /** Grid-snapped sum rounded for display. */
  def ssum(sumExpr: Column, grid: Int, display: Int): Column =
    r(r(sumExpr, grid), display)

  def ssumSql(sumExpr: String, grid: Int, display: Int): String =
    rSql(rSql(sumExpr, grid), display)

  /** EXACT decimal sum of grid-decimal data, returned as DOUBLE — for
    * sums whose accumulated double error can reach HALF A GRID STEP.
    *
    * ssum's premise (fp noise ≪ half-grid) is row-count-bounded: a
    * double carries ~16 significant digits, so a 2-decimal sum is only
    * snap-safe while the total stays ≲ 1e11; the r9 sf1 sweep measured
    * the grand-total revenue cell (3.75e11 over 15 M orders) landing on
    * .595 with the two engines on opposite sides (q_rollup_revenue /
    * q_cube_orders, drift exactly one grid step). Casting each addend to
    * DECIMAL(18, scale) FIRST makes the sum integer-exact in both
    * engines (the addends live on the grid by construction, and a
    * sub-ulp double is unambiguous at any decimal scale ≤ 13), the
    * widened decimal sum cannot overflow before ~1e26, and the final
    * decimal→double cast is the same IEEE nearest in both. Use for any
    * aggregate whose group can span the whole fact table (grand totals,
    * rollup/cube margins); per-key sums at bounded group sizes keep the
    * cheaper ssum.
    */
  def dsum(c: Column, scale: Int): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  def dsumSql(e: String, scale: Int): String =
    s"CAST(sum(CAST(($e) AS DECIMAL(18,$scale))) AS DOUBLE)"
}
