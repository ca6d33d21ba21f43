package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry integrity: the SparkEntry maps are built with ++ over a
  * dozen per-module maps, where a duplicate query name would silently
  * shadow an earlier module's operator (and its oracle). This spec
  * makes any collision a named test failure instead.
  */
class RegistrySpec extends AnyFunSuite {

  private val moduleQueryMaps = Seq(
    "Relational" -> analytics.Relational.queries.keySet,
    "Events" -> analytics.Events.queries.keySet,
    "TransformQueries" -> analytics.TransformQueries.queries.keySet,
    "ScaleQueries" -> analytics.ScaleQueries.queries.keySet,
    "ParityQueries" -> analytics.ParityQueries.queries.keySet,
    "CorpusQueries" -> analytics.CorpusQueries.queries.keySet,
    "CorpusStats" -> analytics.CorpusStats.queries.keySet,
    "CorpusDiversity" -> analytics.CorpusDiversity.queries.keySet,
    "CorpusAudit" -> analytics.CorpusAudit.queries.keySet,
    "Audit" -> analytics.Audit.queries.keySet,
    "Attribution" -> analytics.Attribution.queries.keySet,
    "Lifecycle" -> analytics.Lifecycle.queries.keySet,
    "RobustStats" -> analytics.RobustStats.queries.keySet,
    "Forecast" -> analytics.Forecast.queries.keySet,
    "Preference" -> analytics.Preference.queries.keySet,
    "Density" -> analytics.Density.queries.keySet)

  test("no query name is registered by two modules") {
    val owners = moduleQueryMaps.flatMap { case (m, ks) => ks.map(_ -> m) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val dups = owners.filter(_._2.size > 1)
    assert(dups.isEmpty, s"query names registered twice: $dups")
    assert(SparkEntry.queries.size == moduleQueryMaps.map(_._2.size).sum)
  }

  /** Rows-only allowlist WITH justifications: adding a query without an
    * oracle now requires writing down here WHY no cross-engine SQL can
    * exist and WHAT exact verification replaces it — so a rows-only
    * addition self-documents instead of silently weakening the gate.
    */
  private val rowsOnlyJustified: Map[String, String] = Map(
    // EMPTY since r13: q_image_neardup — the last rows-only row — now
    // publishes the sketch-tier contract shape (exact payload columns
    // plus codec-contract booleans the DuckDB oracle asserts as TRUE),
    // so every registered query is oracle-checked. q_approx_distinct /
    // q_approx_quantiles left the same way in r12.
  )

  test("every oracle key has a query, and every rows-only query carries a justification") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert((os -- qs).isEmpty, s"oracles without queries: ${os -- qs}")
    val rowsOnly = qs -- os
    assert(rowsOnly == rowsOnlyJustified.keySet,
      s"rows-only set drifted from the justified allowlist: " +
        s"unjustified=${rowsOnly -- rowsOnlyJustified.keySet} " +
        s"stale=${rowsOnlyJustified.keySet -- rowsOnly}")
    rowsOnlyJustified.foreach { case (k, why) =>
      assert(why.length > 40, s"$k: justification too thin to be useful")
    }
  }

  test("oracle_sql.json string escape leaves no raw control char") {
    val out = Verify.jsonString("a\tb\rc\"d\\e\u0001f")
    assert(!out.exists(_ < ' '))
    assert(out == "\"a\\tb\\rc\\\"d\\\\e\\u0001f\"")
  }
}
