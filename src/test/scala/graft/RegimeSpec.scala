package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.analytics.ScaleQueries

/** Regime premises asserted FROM THE DATA at sf0.1 — the largest local
  * testdata scale, where cardinality-dependent premises actually bend.
  *
  * Several queries carry an oracle that is only valid inside a sketch's
  * or decomposition's EXACT regime (Misra–Gries distinct ≤ counters,
  * sketch-gate → exact-verify, LSH recall == exact, broadcast-fits,
  * calendar-bounded grids). The q_heavy_hitters lesson (wrong for six
  * rounds, caught only at sf0.1: the premise held at both GATE scales by
  * testdata accident) is that every such premise must be asserted at the
  * scale where cardinality grows, not just where the oracle runs. Each
  * test here names the queries whose oracle mapping it underwrites.
  *
  * These are data-premise audits, not unit tests: when one fails, the
  * fix is a by-construction bound in the OPERATOR (bounded key space,
  * explicit cap, verify pass), never a test-side tolerance.
  */
class RegimeSpec extends AnyFunSuite {
  lazy val spark = Spark.session
  val sf = "/root/testdata/sf0.1"

  private def pairSet(df: DataFrame): Set[(Long, Long, Double, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getAs[Double]("containment"), r.getAs[Double]("jaccard"))).toSet

  test("q_heavy_hitters: Misra–Gries stays exact — distinct keys per group ≤ counters") {
    // oracle premise: the plain grouped-count SQL is only equal to the
    // sketch output while every group's distinct key count fits the MG
    // counters (MisraGries is exact iff no decrement ever fires). Both
    // the bucketing expression and the counter budget are read FROM THE
    // OPERATOR — a test re-hardcoding `% 200` certified nothing beyond
    // its own constant and could never see the operator drift back to a
    // raw high-cardinality key (the six-round q_heavy_hitters miss).
    assert(ScaleQueries.HHBucketMod <= ScaleQueries.HHCounters,
      "the by-construction bound itself: bucket modulus must fit the counters")
    val maxDistinct = Tables.events(spark, sf)
      .select(col("event_type"),
        ScaleQueries.hhBucket(col("user_id")).as("user_bucket"))
      .groupBy("event_type")
      .agg(countDistinct(col("user_bucket")).as("d"))
      .agg(max(col("d"))).head.getLong(0)
    assert(maxDistinct <= ScaleQueries.HHCounters,
      s"per-type bucket cardinality $maxDistinct exceeds the " +
        s"${ScaleQueries.HHCounters} MG counters")
  }

  test("q_containment_lsh: every doc's RAREST winnow fingerprint stays probe-able (df ≤ MaxGroup)") {
    // The one documented theoretical hole in the candidate union
    // (ScaleQueries.containmentLsh rarest-probe tier): a doc whose EVERY
    // winnow fingerprint has quotient-df > Dedup.MaxGroup is invisible
    // to all three tiers. Measured zero at every swept scale — this
    // assert makes the premise DATA-NAMED at sf0.1 so the next testdata
    // regeneration that voids the containment envelope fails here by
    // name instead of silently dropping pairs. df counts DISTINCT texts
    // (the r9 quotient), matching the operator's construction.
    val docs = ScaleQueries.docsWithPrefixes(spark, sf)
    val hashed = docs.select(col("doc_id"), md5(col("text")).as("h"))
    val reps = docs.join(
      hashed.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id")), Seq("doc_id"))
    val fps = graft.scale.Winnow.fingerprints(reps, "text", "doc_id", k = 3, win = 3)
    val fpDf = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
    val worstRarest = fps.join(fpDf, Seq("fp"))
      .groupBy(col("doc_id")).agg(min(col("df")).as("rdf"))
      .agg(max(col("rdf"))).head.getLong(0)
    assert(worstRarest <= graft.scale.Dedup.MaxGroup,
      s"a doc's rarest winnow fingerprint has df=$worstRarest > " +
        s"MaxGroup=${graft.scale.Dedup.MaxGroup} — it is invisible to every " +
        "containment candidate tier; raise the probe ceiling or re-derive " +
        "the envelope before trusting q_containment_lsh's exact oracle")
  }

  test("q_heavy_hitters_lossy / q_heavy_hitters_cms: sketch-gated outputs equal the exact HAVING query") {
    // premise behind sharing the plain HAVING oracle: the verify pass
    // removes every sketch artifact, at THIS cardinality too
    val ev = Tables.events(spark, sf)
      .select((col("event_id") % (lit(1) + col("event_id") % 8)).as("k"))
    val n = ev.count()
    val exact = ev.groupBy("k").agg(count(lit(1)).as("n_events"))
      .filter(col("n_events") * (ScaleQueries.HHVerifyK + 1) > lit(n))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lossy = ScaleQueries.heavyHittersLossy(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cms = ScaleQueries.heavyHittersCms(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "skewed fixture lost its heavy keys — premise test is vacuous")
    assert(lossy == exact, s"MG two-pass diverges: ${lossy.diff(exact)} / ${exact.diff(lossy)}")
    assert(cms == exact, s"CMS gate diverges: ${cms.diff(exact)} / ${exact.diff(cms)}")
  }

  test("q_decontaminate_bloom: bloom-gated overlap equals the exact tier") {
    def key(df: DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getAs[Double]("ratio"))).toSet
    val exact = key(ScaleQueries.decontaminate(spark, sf))
    val bloom = key(ScaleQueries.decontaminateBloom(spark, sf))
    assert(exact.nonEmpty)
    assert(bloom == exact,
      s"bloom gate diverges: missing ${(exact -- bloom).take(3)}, extra ${(bloom -- exact).take(3)}")
  }

  test("q_minhash_pairs / q_dup_*_lsh: LSH recall equals the exact Jaccard tier at sf0.1") {
    // THE premise behind q_dup_clusters_lsh / q_canonical_docs_lsh /
    // q_dup_stats_lsh / q_source_overlap carrying the exact tier's oracle SQL: banded
    // MinHash candidates, exact-verified, recover every exact pair.
    // Precision is exact by construction (candidates are re-scored with
    // true Jaccard); recall is probabilistic and cardinality-dependent —
    // exactly what must be measured HERE, not at sf0.001 (ScaleSpec).
    // Pair-equality implies cluster- and histogram-equality downstream.
    // Forced past the pair-budget gate, so the check keeps testing LSH
    // should this corpus's pair expansion ever fit Dedup.MaxGroupPairs.
    val exact = ScaleQueries.jaccardPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard"))).toSet
    val lsh = Gates.withFallback(spark)(ScaleQueries.minhashPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard"))).toSet)
    assert(exact.nonEmpty)
    assert(lsh == exact,
      s"LSH missed ${(exact -- lsh).take(5)}, extra ${(lsh -- exact).take(5)}")
  }

  test("q_containment_lsh: winnow-candidate containment equals the exact tier at sf0.1") {
    val exact = pairSet(ScaleQueries.containmentPairs(spark, sf))
    // forced past the pair-budget gate to the candidate tiers
    val lsh = Gates.withFallback(spark)(pairSet(ScaleQueries.containmentLsh(spark, sf)))
    assert(exact.nonEmpty)
    assert(lsh == exact,
      s"winnow candidates missed ${(exact -- lsh).take(5)}, extra ${(lsh -- exact).take(5)}")
  }

  test("q_simhash_pairs: banded tiers equal brute-force Hamming at sf0.1") {
    // The premise behind q_simhash_pairs' exact FNV-replay oracle: the
    // chunk-pair banding + emit-once + hot-tier re-banding recover EVERY
    // Hamming-≤6 pair. The only lossy site is an over-cap sub-bucket at
    // a pair's first-clean (band, outside-nibble-band) — tenable only
    // because Tier 0 folds duplicate signatures first (the sf1 sweep
    // caught the pre-Tier-0 design dropping 7.5% of pairs). Brute force
    // over all C(n,2) signature pairs is affordable at this scale and is
    // the assertion-grade ground truth.
    import spark.implicits._
    val sigs = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.scale.SimHash64.simhash64(col("text")).as("sig"))
      .localCheckpoint()
    val a = sigs.select(col("doc_id").as("d1"), col("sig").as("s1"))
    val b = sigs.select(col("doc_id").as("d2"), col("sig").as("s2"))
    val brute = a.crossJoin(b).filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        bit_count(col("s1").bitwiseXOR(col("s2"))).as("hamming"))
      .filter(col("hamming") <= ScaleQueries.SimHamming)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = ScaleQueries.simhashPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty)
    assert(banded == brute,
      s"banded tiers missed ${(brute -- banded).take(5)}, extra ${(banded -- brute).take(5)}")
  }

  test("q_mk_trend: the weekly grid stays calendar-bounded") {
    // the pairwise Mann-Kendall stage is |weeks|² per nation; the premise
    // that makes it scale-safe is that |weeks| tracks the CALENDAR span
    // (TPC-H ~7 years ≈ 370 weeks), not the row count
    val weeks = Tables.orders(spark, sf)
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 604800000000").as("week"))
      .agg(countDistinct(col("week"))).head.getLong(0)
    assert(weeks <= 600, s"weekly grid has $weeks cells — no longer calendar-bounded")
  }

  test("q_fuzzy_match: blocking keys keep candidate groups bounded") {
    // the ER join is per-block quadratic; the premise is that name-suffix
    // blocks stay small (synthetic names end in the customer number, so
    // blocks are near-singletons — a block crossing Dedup.MaxGroup means
    // the blocking key has degenerated into a cross join)
    val maxBlock = Tables.customer(spark, sf)
      .groupBy(substring(col("c_name"), -5, 5).as("blk"))
      .agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head.getLong(0)
    assert(maxBlock <= graft.scale.Dedup.MaxGroup,
      s"largest fuzzy-match block has $maxBlock members")
  }

  test("q_knn_graph / q_semantic_neardup: the broadcast candidate side fits a sane budget") {
    // knnGraph broadcasts the assigned-vector relation; the premise is
    // vectors-are-tiny-next-to-the-corpus. Budget: 512 MB serialized
    // upper bound (dim doubles + ids + cluster), far under the 24g
    // driver but loud long before a real broadcast failure.
    val dim = Tables.embeddings(spark, sf)
      .select(size(col("embedding"))).head.getInt(0)
    val nVec = Tables.embeddings(spark, sf).count()
    val approxBytes = nVec * (dim * 8L + 64L)
    assert(approxBytes < 512L * 1024 * 1024,
      s"$nVec vectors × dim $dim ≈ ${approxBytes / 1024 / 1024} MB exceeds the broadcast budget — raise cells + switch the salted-shuffle arm")
  }
}
