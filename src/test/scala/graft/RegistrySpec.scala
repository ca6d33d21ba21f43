package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry integrity: `SparkEntry.ops` is one `Op(name, run, oracleSql)`
  * per query, and the driver's `queries` / `oracleSql` maps are keyed
  * views of it, so a duplicate name would silently shadow an earlier
  * module's operator and its oracle. No Spark job runs here.
  */
class RegistrySpec extends AnyFunSuite {

  test("registered names are distinct, and queries and oracleSql are views of ops") {
    val names = SparkEntry.ops.map(_.name)
    val dups = names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    assert(dups.isEmpty, s"query names registered twice: ${dups.toSeq.sorted}")
    assert(SparkEntry.queries.size == SparkEntry.ops.size)
    assert(SparkEntry.oracleSql.size == SparkEntry.ops.size)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("a filtered bench run's order depends only on the seed and the selected names") {
    val only = Seq("q_semantic_neardup", "q_knn_graph", "q_embed_neardup", "q_minhash_pairs")
    val registry = SparkEntry.queries.keys.toSeq
    val selected = registry.filter(n => only.exists(n.contains))
    val order = Bench.runOrder(selected, only, 42L)
    assert(order.sorted == selected.sorted && selected.size >= only.size)
    // the registry as it is, and with five more names (the near-dup
    // queries an earlier registry held)
    val removed = Seq("q_jaccard_pairs", "q_containment_pairs", "q_dup_clusters",
      "q_canonical_docs", "q_dup_stats")
    for (names <- Seq(registry, registry ++ removed, (removed ++ registry).reverse))
      assert(Bench.runOrder(names, only, 42L) == order)
    assert(Bench.runOrder(registry, Nil, 42L).sorted == registry.sorted)
  }

  // A module whose `ops` precedes a `*Sql` val it reads registers a null
  // oracle: Scala initialises object vals in declaration order.
  test("every registered query carries non-blank oracle SQL") {
    val blank = SparkEntry.ops.filter(op => op.oracleSql == null || op.oracleSql.isBlank)
    assert(blank.isEmpty, s"queries without oracle SQL: ${blank.map(_.name)}")
  }

  test("oracle_sql.json string escape leaves no raw control char") {
    val out = Verify.jsonString("a\tb\rc\"d\\e\u0001f")
    assert(!out.exists(_ < ' '))
    assert(out == "\"a\\tb\\rc\\\"d\\\\e\\u0001f\"")
  }
}
