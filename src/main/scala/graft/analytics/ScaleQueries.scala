package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Num, Op, Tables}
import graft.scale.{Bounded, CellKernel, Dedup, Partitioning, Similarity, SimHash64, Winnow}
import graft.functions.TextAnalysis

/** Scale-tier queries: deduplication, similarity search, token/fingerprint
  * ops over `documents` and `embeddings` (the LLM-training-data operators
  * of BASELINE.json's north star). Every query carries DuckDB oracle SQL;
  * the hash-permuted tiers (MinHash) carry their exact answer's
  * SQL, and ScaleSpec/RegimeSpec pin them against the exact tier with
  * their gates forced.
  */
object ScaleQueries {

  /** documents ∪ re-keyed copies of every 10th doc — deterministic corpus
    * WITH exact duplicates (the raw table has only near-dups).
    */
  private def docsWithCopies(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    d.unionByName(
      d.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
  }
  private val docsWithCopiesSql =
    """(SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  /** Exact dedup via digest groupBy. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactDupGroups(docsWithCopies(spark, dir), "text", "doc_id")

  val dedupExactSql: String =
    s"""SELECT min(doc_id) AS canonical_doc_id, count(*) AS n_copies
       |FROM $docsWithCopiesSql d
       |GROUP BY md5(text) HAVING count(*) > 1""".stripMargin

  /** Exact word-3-gram Jaccard near-dup pairs: the spec reference LSH
    * recall is pinned against (q_minhash_pairs runs it as its fast path).
    */
  private[graft] def jaccardPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(Tables.documents(spark, dir), "text", "doc_id", 3, 0.5)
      .select(col("d1"), col("d2"), Num.r(col("jaccard"), 6).as("jaccard"))

  /** Shared shingle/intersection CTEs for the Jaccard-family oracles.
    * AS MATERIALIZED (DuckDB-only syntax; oracles run in DuckDB only):
    * DuckDB 1.0 INLINES a CTE once per reference — `sh` is referenced
    * three times (self-join sides + sizes) and the downstream cluster
    * CTEs re-reference the whole chain; at sf1 the un-hinted plan
    * re-evaluated the quadratic intersection up to 3×, filled 77 GB of
    * spill and died (q_dup_stats, first sf1 sweep). Evaluate-once is
    * the semantics the Spark side already has.
    */
  private[analytics] val jaccardCtesSql: String =
    """toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
      |sh AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, s FROM (
      |    SELECT doc_id, unnest(CASE WHEN len(w) >= 3
      |        THEN list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
      |        ELSE [] END) AS s
      |    FROM toks) t),
      |sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS MATERIALIZED (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  val jaccardPairsSql: String =
    s"""WITH $jaccardCtesSql
       |SELECT d1, d2,
       |       ${Num.rSql("CAST(c AS DOUBLE) / (s1.n_sh + s2.n_sh - c)", 6)} AS jaccard
       |FROM inter
       |JOIN sizes s1 ON d1 = s1.doc_id
       |JOIN sizes s2 ON d2 = s2.doc_id
       |WHERE CAST(c AS DOUBLE) / (s1.n_sh + s2.n_sh - c) >= 0.5""".stripMargin

  /** Corpus augmented with 40%-word-prefix excerpts of every 10th
    * document — the containment fixture: an excerpt's shingles are a
    * subset of its parent's, so containment reads ~1.0 while Jaccard
    * falls with the length ratio below any dedup threshold (measured at
    * sf0.001: every Jaccard ≥ 0.5 pair also clears containment 0.9, so
    * without the excerpts this query would be [[jaccardPairs]] under
    * another name).
    */
  /** Synthetic fixture ids are parent ids shifted by a fixed offset —
    * collision-free ONLY while 0 <= doc_id < bound. The premise is
    * asserted per row: a corpus violating it fails loudly on the Spark
    * side instead of silently corrupting the pair relation in both
    * engines identically (oracle parity would hide the corruption).
    */
  private def shiftedDocId(off: Long, bound: Long): Column =
    when(col("doc_id") >= 0 && col("doc_id") < bound, col("doc_id") + off)
      .otherwise(raise_error(concat(
        lit("synthetic doc_id premise violated: doc_id="),
        col("doc_id").cast("string"), lit(s" outside [0, $bound)"))))

  private[graft] def docsWithPrefixes(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val w = split(trim(col("text")), "\\s+")
    d.unionByName(
      d.filter(col("doc_id") % 10 === 0)
        .select(shiftedDocId(2000000L, 2000000L).as("doc_id"),
          array_join(slice(w, lit(1),
            greatest(lit(5), floor(size(w) * 2 / 5).cast("int"))), " ").as("text")))
  }

  /** Containment (|A∩B| / min(|A|,|B|)) near-superset pairs ≥ 0.9 over
    * the prefix-augmented corpus; jaccard rides along so the report shows
    * which pairs a resemblance-thresholded pass would have missed.
    * [[containmentLsh]]'s fast path and the spec reference for its tiers.
    */
  private[graft] def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(docsWithPrefixes(spark, dir), "text", "doc_id", 3, 0.9)
      .select(col("d1"), col("d2"),
        Num.r(col("containment"), 6).as("containment"),
        Num.r(col("jaccard"), 6).as("jaccard"))

  /** Rare-fingerprint df cap for the winnow half of containmentLsh's
    * candidate union. Fingerprints above it are crowd boilerplate: their
    * pair expansion is Θ(Σ C(df,2)) over near-dup crowds — measured
    * 3.04e9 pre-fold rows at the sf10 stress (uncapped-to-1000), which
    * filled the disk — while the pairs they would contribute are
    * high-resemblance crowd pairs the minhash half already catches.
    * Below the cap live the doc-SPECIFIC runs (an excerpt shares its
    * parent's doc-specific windows at df≈2), 12.8M pre-fold rows at
    * sf10. The split premise is certified where the oracle can check:
    * equality with the exact tier, the gate forced to these tiers, in
    * ScaleSpec at sf0.001 and sf0.01 and in RegimeSpec at sf0.1.
    *
    * RE-MEASURE AT THE NEXT CORPUS DECADE (the BASELINE.md minhash-perms
    * rule): the rarest-probe ceiling (rdf ≤ Dedup.MaxGroup, see
    * containmentLsh) leaves a theoretical hole — a pair could hold a
    * sub-MaxGroup shingle while every winnow MIN is hotter (fps ⊂
    * shingles). Measured ZERO at sf0.001/0.01/0.1 AND sf1 (exact set
    * equality, 327,234 = 327,234), and RegimeSpec asserts the
    * rarest-fp ≤ MaxGroup premise from the data at sf0.1 — but these are
    * per-scale certificates, not proofs. Before trusting the exact-tier
    * oracle at 10× today's corpus, re-run the equality sweep and the
    * RegimeSpec premise check there.
    */
  val ContainRareDf = 100

  /** Containment via a candidate UNION — the SCALE path sibling of
    * [[containmentPairs]] (the q_dup_stats_lsh precedent), then each
    * candidate is exact-verified on its shingle sets (precision exact by
    * construction). Two candidate sources, split by the jaccard regime:
    *
    *  - MINHASH banding (the q_dup_*_lsh machinery): organic
    *    resemblance pairs — a near-copy pair has jaccard ≈ 0.95 and
    *    containment ≥ jaccard, and 128-perm banding recall there is the
    *    RegimeSpec-certified arithmetic. Crowd boilerplate cannot blow
    *    this side up: band keys are random projections, so buckets hold
    *    true near-dup groups, not everyone sharing a template phrase.
    *  - RARE winnowed fingerprints (df ≤ [[ContainRareDf]]): the
    *    low-jaccard containment pairs banding misses (an excerpt's
    *    jaccard is its length ratio, e.g. 0.4 → (1−0.4⁴)³² ≈ 44% miss
    *    odds) — recall rides the winnowing guarantee (any shared run of
    *    ≥ k+win−1 words yields a shared fingerprint) applied to the
    *    pair's doc-SPECIFIC runs, which are rare by definition.
    *
    * (k=3, win=3): detection guarantee at k+win-1 = 5 shared words —
    * the fixture's MINIMUM excerpt length, so excerpt→parent recall is
    * structural, not a density accident (the default (4,5) guarantee
    * starts at 8 words and measurably missed two 7-word excerpts).
    *
    * Gated on the exact tier's own cost: when the augmented corpus's
    * 3-shingle pair expansion [[Dedup.pairExpansion]] is at most
    * [[Dedup.MaxGroupPairs]], the exact tier [[containmentPairs]] runs —
    * no shingle then has df > Dedup.MaxGroup, so its df cap drops nothing
    * and the pairs, doubles and rounding are the same, without the tiers'
    * fixed cost of checkpoints, band self-join and winnow passes. So the
    * exact tier's oracle SQL is exact by construction within the budget;
    * past it (sf0.1 and up, or a corpus of mass duplication) it rests on
    * the premise that the verified pair set equals the exact tier's,
    * which ScaleSpec asserts at sf0.001 and sf0.01 and RegimeSpec at
    * sf0.1, each with the gate forced to these tiers (the q_heavy_hitters
    * rule).
    */
  def containmentLsh(spark: SparkSession, dir: String): DataFrame =
    Bounded(spark, Dedup.MaxGroupPairs)(
      Dedup.pairExpansion(Dedup.postings(docsWithPrefixes(spark, dir), "text", "doc_id", 3)))(
      containmentPairs(spark, dir))(containmentTiers(spark, dir))

  /** [[containmentLsh]]'s candidate tiers, the path past its budget. */
  private def containmentTiers(spark: SparkSession, dir: String): DataFrame = {
    // The augmented corpus feeds several derivations (the quotient
    // mapping, minhash signatures, winnow fingerprints, both verify
    // sides' shingle sets) and each would re-run the union-of-scans
    // subtree — persist it for the build, checkpoint the small pair
    // output, release the cache (the pmiCollocations pattern; EAGER at
    // construction).
    val docs = docsWithPrefixes(spark, dir).persist()
    // DISTINCT-TEXT QUOTIENT (r9, forced by the sf1 sweep): containment
    // and jaccard are pure functions of the TEXT, so candidates and
    // verification run once per distinct text and the verified rep pairs
    // expand through the exact-dup groups afterwards. Without the
    // quotient the rare-fingerprint premise is replication-FRAGILE: sf1's
    // ScaleUp replicas multiplied every fingerprint's df 10–20× and
    // pushed the low-jaccard excerpts' doc-specific windows over the
    // fixed ContainRareDf cap — 2,240 of 327,234 pairs (all
    // containment-1.0 excerpt↔parent, jaccard 0.05–0.39, i.e. exactly
    // the pairs only the winnow side can reach) silently vanished while
    // every GATE scale stayed green. On the quotient a fingerprint's df
    // counts DISTINCT texts, so mass duplication cannot move it — the
    // cap premise depends on genuine boilerplate density only, which the
    // RegimeSpec/ScaleSpec equalities certify where the oracle can check.
    // (The q_heavy_hitters rule: the premise now holds by construction
    // under duplication, not by testdata accident.)
    // Grouped argmin + join back, NOT an unbounded-frame window: under
    // the mass-duplication regime this query exists for, a window
    // partitioned by md5(text) buffers an entire exact-dup group in one
    // WindowExec task (spillable, but a perf cliff at exactly the hot
    // groups that matter). The aggregate keeps per-group state at one
    // (digest, min) row and the join streams.
    val hashed = docs.select(col("doc_id"), md5(col("text")).as("h"))
    val mapping = hashed
      .join(hashed.groupBy(col("h")).agg(min(col("doc_id")).as("rep")), Seq("h"))
      .select(col("doc_id"), col("rep"))
      .localCheckpoint()
    val repDocs = docs.join(
      mapping.filter(col("doc_id") === col("rep")).select(col("doc_id")), Seq("doc_id"))
    val mh = Dedup.lshCandidates(
      Dedup.minhashSignatures(repDocs, "text", "doc_id", 3))
    // one fingerprint relation feeds both winnow tiers (EAGER checkpoint)
    val fps = Winnow.fingerprints(repDocs, "text", "doc_id",
      k = 3, win = 3).localCheckpoint()
    val fpDf = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
    // RARE-FP tier: all pairs within genuinely rare fingerprints
    // (doc-specific runs; df ≤ ContainRareDf bounds Σ C(df,2))
    val rare = fps
      .join(fpDf.filter(col("df") > 1 && col("df") <= ContainRareDf), Seq("fp"))
      .groupBy(col("fp"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .select(explode(Dedup.pairsOf(col("ds"))).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
    // RAREST-PROBE tier (r9, forced by the sf1 sweep): a doc whose EVERY
    // fingerprint is common — a 5-word excerpt has exactly one winnow
    // fingerprint, and the synthetic vocabulary gives that window df=120
    // at sf1 — is invisible to the rare tier at any fixed cap, yet its
    // parent provably holds that same fingerprint (the winnowing
    // substring guarantee). Such a doc PROBES the index with its single
    // rarest fingerprint: a contained doc's rarest fp is in its
    // container's set by construction. Probing is restricted to docs the
    // rare tier provably cannot see — rdf > ContainRareDf, since a doc
    // whose rarest fp IS rare gets that entire bucket expanded all-pairs
    // above (a strict superset of its probe) — which cut the sf10 probe
    // stream from 96.4 M rows (77.9 M candidate pairs, ~all verification
    // rejects) to the boilerplate-only docs. Ceiling df ≤ MaxGroup
    // matches the EXACT tier's inverted-index envelope; in principle a
    // pair could hold a sub-MaxGroup shingle while every winnow MIN is
    // hotter (fps ⊂ shingles), but the sf1 sweep measured exact set
    // equality (327,234 = 327,234) and the RegimeSpec equalities pin the
    // gate scales.
    val rarest = fps.join(fpDf, Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(min(struct(col("df"), col("fp"))).as("r"))
      .select(col("doc_id").as("pd"), col("r.fp").as("fp"), col("r.df").as("rdf"))
      .filter(col("rdf") > ContainRareDf &&
        col("rdf") <= graft.scale.Dedup.MaxGroup)
    val probed = rarest
      .join(fps.select(col("fp"), col("doc_id").as("od")), Seq("fp"))
      .filter(col("pd") =!= col("od"))
      .select(least(col("pd"), col("od")).as("d1"),
        greatest(col("pd"), col("od")).as("d2"))
    val cands = mh.unionByName(rare).unionByName(probed).distinct()
    val vRep = Dedup.containmentAbove(
      Dedup.overlapsOf(repDocs, "text", "doc_id", 3, cands), 0.9)
    // cross-group expansion: every member pair of a verified rep pair
    // shares the reps' texts, hence their exact scores
    val cross = vRep
      .join(mapping.select(col("rep").as("d1"), col("doc_id").as("m1")), Seq("d1"))
      .join(mapping.select(col("rep").as("d2"), col("doc_id").as("m2")), Seq("d2"))
      .select(least(col("m1"), col("m2")).as("d1"),
        greatest(col("m1"), col("m2")).as("d2"),
        col("containment"), col("jaccard"))
    // within-group pairs: identical texts score exactly 1.0 — provided
    // the text has at least one shingle (shingle-less docs never pair in
    // the exact tier). Θ(true pairs) by definition; the self-join
    // streams a hot group's members in spillable state.
    val okReps = repDocs
      .where(size(Dedup.shingleHashes(col("text"), 3)) > 0)
      .select(col("doc_id").as("rep"))
    val within = mapping.select(col("rep"), col("doc_id").as("m1"))
      .join(mapping.select(col("rep"), col("doc_id").as("m2")), Seq("rep"))
      .filter(col("m1") < col("m2"))
      .join(okReps, Seq("rep"))
      .select(col("m1").as("d1"), col("m2").as("d2"),
        lit(1.0).as("containment"), lit(1.0).as("jaccard"))
    val out = cross.unionByName(within)
      .select(col("d1"), col("d2"),
        Num.r(col("containment"), 6).as("containment"),
        Num.r(col("jaccard"), 6).as("jaccard"))
    try out.localCheckpoint() finally docs.unpersist()
  }

  val containmentPairsSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 2000000 AS doc_id,
       |         array_to_string(list_slice(w, 1,
       |           greatest(5, CAST(floor(len(w) * 2 / 5) AS INT))), ' ') AS text
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents)
       |  WHERE doc_id % 10 = 0),
       |toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM base),
       |sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, unnest(CASE WHEN len(w) >= 3
       |        THEN list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
       |        ELSE [] END) AS s
       |    FROM toks) t),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT d1, d2,
       |       ${Num.rSql("CAST(c AS DOUBLE) / least(s1.n_sh, s2.n_sh)", 6)} AS containment,
       |       ${Num.rSql("CAST(c AS DOUBLE) / (s1.n_sh + s2.n_sh - c)", 6)} AS jaccard
       |FROM inter
       |JOIN sizes s1 ON d1 = s1.doc_id
       |JOIN sizes s2 ON d2 = s2.doc_id
       |WHERE CAST(c AS DOUBLE) / least(s1.n_sh, s2.n_sh) >= 0.9""".stripMargin

  /** The full recursive-CTE prelude ending in a `clusters(doc_id,
    * cluster_id)` relation — transitive closure of the exact near-dup
    * pairs with min-reachable labels, shared by the cluster/canonical
    * oracles here and the dup-statistics oracle (CorpusQueries.dupStatsSql).
    */
  private[analytics] val dupClustersCteSql: String =
    s"""WITH RECURSIVE $jaccardCtesSql,
       |pairs AS MATERIALIZED (SELECT d1, d2 FROM inter
       |  JOIN sizes s1 ON d1 = s1.doc_id
       |  JOIN sizes s2 ON d2 = s2.doc_id
       |  WHERE CAST(c AS DOUBLE) / (s1.n_sh + s2.n_sh - c) >= 0.5),
       |edges AS MATERIALIZED (SELECT d1 AS a, d2 AS b FROM pairs
       |          UNION ALL SELECT d2, d1 FROM pairs),
       |reach(node, r) AS (
       |  SELECT DISTINCT a, a FROM edges
       |  UNION
       |  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node),
       |clusters AS MATERIALIZED (SELECT node AS doc_id, min(r) AS cluster_id
       |             FROM reach GROUP BY node)""".stripMargin

  val dupClustersSql: String =
    s"""$dupClustersCteSql
       |SELECT doc_id, cluster_id FROM clusters""".stripMargin

  val canonicalDocsSql: String =
    s"""$dupClustersCteSql,
       |scored AS (
       |  SELECT c.cluster_id, d.doc_id, ${completenessSql("d.text")} AS q
       |  FROM clusters c JOIN documents d ON c.doc_id = d.doc_id)
       |SELECT cluster_id, doc_id AS canonical_doc_id, n_members,
       |       ${Num.rSql("q", 4)} AS quality
       |FROM (SELECT *,
       |        row_number() OVER (PARTITION BY cluster_id
       |                           ORDER BY q DESC, doc_id ASC) AS rn,
       |        count(*) OVER (PARTITION BY cluster_id) AS n_members
       |      FROM scored)
       |WHERE rn = 1""".stripMargin

  /** Jaccard ≥ 0.5 near-dup pairs through the minhashDupPairs gate:
    * a corpus whose shingle pair expansion fits Dedup.MaxGroupPairs takes
    * the gate's fast path, the exact shingle tier; past it MinHash+LSH
    * candidates are exact-verified. The MinHash permutations have no SQL
    * analog, so neither do the signatures, but the pairs carry the exact
    * answer's oracle: ScaleSpec (sf0.001, sf0.01) and RegimeSpec (sf0.1)
    * assert with the gate forced that LSH recall equals it.
    */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashDupPairs(Tables.documents(spark, dir), "text", "doc_id", 3, 0.5)
      .select(col("d1"), col("d2"), Num.r(col("jaccard"), 6).as("jaccard"))

  /** Dedup clustering: connected components (min doc_id as cluster id)
    * over the Jaccard ≥ 0.5 pairs of Dedup.minhashDupPairs, and
    * [[canonicalDocsLsh]]'s highest-quality member per cluster (smallest
    * doc_id on ties; Dedup.canonicalPerCluster — one hash aggregate, no
    * window). The gate's fast path, the exact shingle tier, runs when the
    * corpus's shingle pair expansion fits Dedup.MaxGroupPairs (exact by
    * construction); past it banded LSH candidates are exact-verified
    * (precision exact by construction), so the path shuffles only
    * signatures and band buckets instead of the Σ C(df,2) pair expansion
    * that is quadratic in duplication. Recall is pinned equal to the
    * exact answer, the gate forced, by ScaleSpec at sf0.001 and sf0.01
    * and RegimeSpec at sf0.1 — recall is cardinality-dependent, so it is
    * asserted where cardinality grows (the q_heavy_hitters rule). So the
    * cluster and canonical relations equal the exact answer and carry its
    * recursive-CTE oracle SQL; fixed seeds keep the rows deterministic.
    */
  def dupClustersLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.dupClusters(
      Dedup.minhashDupPairs(Tables.documents(spark, dir), "text", "doc_id", 3, 0.5))

  def canonicalDocsLsh(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val clusters = Dedup.dupClusters(
      Dedup.minhashDupPairs(docs, "text", "doc_id", 3, 0.5))
    Dedup.canonicalPerCluster(docs, clusters, "doc_id",
        graft.functions.Scoring.completenessScore(col("text")))
      .select(col("cluster_id"), col("canonical_doc_id"), col("n_members"),
        Num.r(col("quality"), 4).as("quality"))
  }

  /** SimHash near-dup pairs via chunk-pair LSH + Hamming verification
    * (custom codegen'd signature expression).
    *
    * Banding matches the distance contract by pigeonhole: with the 64-bit
    * signature split into 8 disjoint 8-bit chunks, a Hamming-≤6 pair
    * dirties at most 6 chunks, so at least TWO chunks are clean — and
    * therefore at least one of the C(8,2) = 28 ordered chunk PAIRS is
    * fully clean. Banding on chunk pairs (16-bit buckets, 65 536 values
    * per band) keeps exact recall at radius 6.
    *
    * Why pairs and not the minimal 7 single chunks (radius+1 pigeonhole):
    * single ~9-bit chunks have only 512 bucket values, and the bucket
    * population grows with corpus size until every bucket crosses the
    * hot-bucket drop cap (Dedup.MaxGroup) — at the sf10 stress corpus
    * (500 k docs) the 7-chunk scheme silently recovered only 8.1 M of the
    * 53.9 M true radius-6 pairs (85 % recall loss) because saturated
    * buckets were dropped wholesale. 16-bit buckets hold only true
    * near-dup clusters plus ~n/65 536 random collisions, pushing the
    * saturation point out by two orders of magnitude; the price is the
    * 28/7 = 4× band expansion (7.3 s → 49.3 s at sf10 — the cost of not
    * losing 85 % of the answer). Beyond ~10 M docs, widen the band key
    * again (chunk triples, 24-bit buckets) together with the same
    * pigeonhole arithmetic.
    */
  val SimHamming = 6
  private val SimChunkPairs: Seq[(Int, Int)] = // C(8,2) ordered 8-bit chunk pairs
    for (i <- 0 until 8; j <- (i + 1) until 8) yield (i, j)

  /** In-bucket pair stream as a sort-merge SELF-JOIN over the bucket key —
    * NO per-group buffer anywhere. The prior shape (collect_list per
    * bucket, expand pairs from the array) buffered every bucket's members
    * in Java-heap aggregation state BEFORE the size filter could drop it;
    * at the sf10 stress the hot tier's sub-bucket aggregation held up to
    * 524 288 live groups per task (the raised ObjectHashAggregate
    * fallback threshold) × a list buffer each and OOM'd the JVM. The
    * self-join keeps members in spillable UnsafeRow state (SMJ buffers
    * one key's right side at a time, ≤ MaxGroup rows, spilling past
    * memory), and the Hamming radius filter still runs BEFORE the
    * distinct shuffle — random 16-bit collisions die in the join output,
    * only true near-pairs reach the distinct. `members` must be a
    * checkpoint/persisted relation so the two join sides read a
    * materialization, not two re-derivations of the corpus scan.
    *
    * `emitHere(x)` is the EMIT-ONCE gate: a pair within Hamming radius is
    * found in every clean band it shares — up to 28 chunk-pair bands (and
    * up to 120 nibble bands in the hot tier), so without the gate the
    * pre-distinct stream carries up to 28 copies of every true pair
    * (measured at the sf10 stress: 53.9 M true pairs → ~1.5e9 rows of
    * shuffle spill, out of disk). The clean-band set is a pure function
    * of the signature XOR, so each side of the join can decide LOCALLY
    * whether this band is the pair's first clean band and emit only
    * there — the distinct then folds nothing in the common case and
    * stays as the invariant's safety net.
    */
  private def sigSelfJoinPairs(members: DataFrame, keys: Seq[String],
      emitHere: Column => Column): DataFrame = {
    // Repartition on the bucket key BELOW the two aliasing projections:
    // the exchange subtree is then IDENTICAL on both join sides, so
    // ReuseExchange materializes it once — the banded relation is
    // shuffled one time and read twice, instead of two full shuffles.
    val m = members.repartition(keys.map(col): _*)
    val left = m.select(
      keys.map(col) :+ col("doc_id").as("d1") :+ col("sig").as("s1"): _*)
    val right = m.select(
      keys.map(col) :+ col("doc_id").as("d2") :+ col("sig").as("s2"): _*)
    left.join(right, keys)
      .filter(col("d1") < col("d2"))
      .select((keys.map(col) :+ col("d1") :+ col("d2")
        :+ col("s1").bitwiseXOR(col("s2")).as("x")): _*)
      .filter(emitHere(col("x")))
      .select(col("d1"), col("d2"), bit_count(col("x")).as("hamming"))
      .filter(col("hamming") <= SimHamming)
  }

  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // Checkpointed once (eager — building this DataFrame runs jobs, like
    // Archive.compactDay): five passes read it (the Hamming-0 equi-join's
    // two sides, the distinct-sig relation, the expansion join's two
    // sides) and the corpus is scanned exactly once regardless.
    val sigs = Tables.documents(spark, dir)
      .select(col("doc_id"), SimHash64.simhash64(col("text")).as("sig"))
      .localCheckpoint()
    // TIER 0 — Hamming-0 pairs (identical signatures): an exact streaming
    // equi-join on the signature, NO banding and NO cap premise. Mass
    // duplication — the thing that used to saturate buckets AND sub-
    // buckets (a duplicate-heavy group never splits under re-banding:
    // its members agree on every nibble) — is answered exactly here BY
    // CONSTRUCTION, and the banded tiers below see each signature once,
    // so their bucket census counts DISTINCT near-neighbors, not copies.
    // Output volume is exactly these pairs' share of the answer.
    val eqPairs = sigs.select(col("sig"), col("doc_id").as("d1"))
      .join(sigs.select(col("sig"), col("doc_id").as("d2")), Seq("sig"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), bit_count(lit(0L)).as("hamming"))
    // TIERS 1–2 band DISTINCT signatures; the signature value doubles as
    // the pair id (sigSelfJoinPairs pairs on "doc_id", ordered by it —
    // any total order works, the expansion below normalizes to doc ids).
    val ds = sigs.select(col("sig")).distinct()
      .select(col("sig").as("doc_id"), col("sig"))
    val chunkArr = array(SimChunkPairs.zipWithIndex.map { case ((ci, cj), idx) =>
      struct(lit(idx).as("chunk_idx"),
        expr(s"((sig >> ${ci * 8}) & 255) * 256 + ((sig >> ${cj * 8}) & 255)")
          .as("chunk"))
    }: _*)
    val bands = ds
      .select(explode(chunkArr).as("c"), col("doc_id"), col("sig"))
      .select(col("c.chunk_idx").as("chunk_idx"), col("c.chunk").as("chunk"),
        col("doc_id"), col("sig"))
      .localCheckpoint()
    // Bucket census: a streaming count whose per-group state is one long,
    // at ANY corpus size — this is what classifies buckets as ok/hot
    // without ever materializing a bucket's members in one buffer.
    val census = bands.groupBy(col("chunk_idx"), col("chunk"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
    // Members of non-singleton buckets, with their bucket's census count
    // attached; checkpointed because ok/hot tiers each read it twice
    // (the self-join sides) — 4 reads of one materialization.
    val members = bands.join(census, Seq("chunk_idx", "chunk"))
      .localCheckpoint()
    // Emit-once: a pair leaves the ok tier only at its FIRST clean band
    // b0. If b0's bucket is over the cap, the ok tier is silent for the
    // pair at every band (later clean bands fail the gate) and the HOT
    // tier at b0 — which re-bands exactly that bucket — owns it. Either
    // way exactly one tier emits at exactly one band, and the tiers are
    // mutually exclusive per (pair, band) because a bucket is either
    // ≤ cap or > cap.
    val okPairs = sigSelfJoinPairs(
      members.filter(col("cnt") <= Dedup.MaxGroup), Seq("chunk_idx", "chunk"),
      x => col("chunk_idx") === SimHash64.firstCleanChunk(x))
    // HOT-BUCKET tier (r9: the cap premise measurably failed at sf1 — 86
    // over-cap buckets, max 8017 docs, 15% pair recall silently dropped
    // wholesale). Members of an over-cap bucket are RE-BANDED, scoped to
    // their bucket, on the 66 nibble pairs drawn OUTSIDE the band's two
    // defining bytes (SimHash64.OutsideNibblePairs — inside nibbles can
    // never split a bucket whose members agree on those bytes whole;
    // the all-120-pairs first cut left a 66 014-doc sf10 bucket with a
    // 66 014-doc largest sub-bucket). Pigeonhole keeps exact recall: a
    // Hamming-≤6 pair clean at the band has all dirty bits among the 12
    // outside nibbles, so ≥15 outside pairs are fully clean. A sub-bucket
    // still over cap would now mean >MaxGroup DISTINCT signatures in a
    // 24-bit agreement with both endpoints at their first-clean sites —
    // duplicate copies are already folded by Tier 0, which is what makes
    // the drop premise tenable (measured: zero drops at every oracle
    // scale up to sf1). Over-cap members are dropped via an anti-join
    // against the over-cap key list (bounded by hot_members × 66 /
    // MaxGroup keys, broadcastable by construction).
    val hotX = members.filter(col("cnt") > Dedup.MaxGroup)
      .select(col("chunk_idx"), col("chunk"),
        explode(SimHash64.outsideBands(col("sig"), col("chunk_idx"))).as("nib"),
        col("doc_id"), col("sig"))
    val overCap = hotX.groupBy(col("chunk_idx"), col("chunk"), col("nib"))
      .agg(count(lit(1)).as("scnt"))
      .filter(col("scnt") > Dedup.MaxGroup)
      .select(col("chunk_idx"), col("chunk"), col("nib"))
    // Hot-tier emit-once: first clean chunk band AND first clean OUTSIDE
    // nibble band there (nib >>> 8 recovers the band index). Drop premise,
    // sharpened accordingly: a pair is dropped iff the sub-bucket at its
    // FIRST clean (band, outside-nibble-band) is over cap.
    val hotPairs = sigSelfJoinPairs(
      hotX.join(broadcast(overCap), Seq("chunk_idx", "chunk", "nib"), "left_anti"),
      Seq("chunk_idx", "chunk", "nib"),
      x => col("chunk_idx") === SimHash64.firstCleanChunk(x) &&
        shiftright(col("nib"), 8) === SimHash64.firstCleanOutside(x, col("chunk_idx")))
    // Expansion: each distinct-sig pair fans back out to every doc pair
    // across the two signature groups (disjoint groups, so least/greatest
    // normalization can't collide and each doc pair appears once).
    val sigPairs = okPairs.unionByName(hotPairs).distinct()
    sigPairs
      .join(sigs.select(col("sig").as("d1"), col("doc_id").as("da")), Seq("d1"))
      .join(sigs.select(col("sig").as("d2"), col("doc_id").as("db")), Seq("d2"))
      .select(least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2"), col("hamming"))
      .unionByName(eqPairs)
  }

  /** Cross-engine oracle for q_simhash_pairs — possible because SimHash64
    * is seedless FNV-1a over whitespace tokens, fully replayable in SQL:
    * a recursive CTE folds FNV-1a per token in HUGEINT arithmetic
    * (mod-2⁶⁴ emulates Java's long wraparound; xor operands stay below
    * 2⁶⁴ so two's-complement agreement is exact), bit votes tally per
    * (doc, bit), and the signed signature re-biases at 2⁶³. The pair tier
    * is brute-force Hamming ≤ SimHamming over the 500-doc gate corpus —
    * sound as an oracle for the banded Spark path because the chunk-pair
    * pigeonhole guarantees exact recall at radius 6 (see SimChunkPairs) and
    * ScaleSpec guards the hot-bucket-cap premise. Character caveat: the
    * Scala side iterates UTF-16 units, the SQL side codepoints —
    * equivalent for BMP text (gate corpora are ASCII; SchemaContractSpec
    * would surface a drift through value mismatches here).
    */
  val simhashPairsSql: String = {
    val offset = java.lang.Long.toUnsignedString(graft.scale.SimHash64.FnvOffset)
    val prime = graft.scale.SimHash64.FnvPrime.toString
    s"""WITH RECURSIVE
       |tok AS (
       |  SELECT doc_id, t AS tok, row_number() OVER () AS tid
       |  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS t FROM documents)
       |  WHERE t <> ''),
       |fnv AS (
       |  SELECT tid, doc_id, CAST(0 AS INT) AS i, $offset::HUGEINT AS h, length(tok) AS n, tok
       |  FROM tok
       |  UNION ALL
       |  SELECT tid, doc_id, i + 1,
       |         (xor(h, unicode(substr(tok, i + 1, 1))::HUGEINT) * $prime::HUGEINT)
       |           % 18446744073709551616::HUGEINT,
       |         n, tok
       |  FROM fnv WHERE i < n),
       |th AS (SELECT tid, doc_id, h FROM fnv WHERE i = n),
       |votes AS (
       |  SELECT doc_id, b,
       |         sum(CASE WHEN ((h >> b) & 1::HUGEINT) = 1 THEN 1 ELSE -1 END) AS tally
       |  FROM th CROSS JOIN (SELECT unnest(range(64)) AS b)
       |  GROUP BY 1, 2),
       |usig AS (
       |  SELECT doc_id,
       |         coalesce(sum(CASE WHEN tally > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END), 0::HUGEINT) AS u
       |  FROM votes GROUP BY 1),
       |sigs AS (
       |  SELECT d.doc_id,
       |         CAST(CASE WHEN coalesce(u.u, 0::HUGEINT) >= (1::HUGEINT << 63)
       |              THEN coalesce(u.u, 0::HUGEINT) - 18446744073709551616::HUGEINT
       |              ELSE coalesce(u.u, 0::HUGEINT) END AS BIGINT) AS sig
       |  FROM documents d LEFT JOIN usig u ON d.doc_id = u.doc_id)
       |SELECT a.doc_id AS d1, b.doc_id AS d2,
       |       CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
       |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= $SimHamming""".stripMargin
  }

  /** Exact cosine top-10 against vec 0 (brute-force baseline). */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(Tables.embeddings(spark, dir), 0L, 10)

  /** DuckDB: the f32 embedding list as DOUBLEs, and the cosine of two
    * such lists (0.0 when either norm is 0). */
  private[analytics] final val dblEmb = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
  private[analytics] def cosSql(a: String, b: String) =
    s"""CASE WHEN sqrt(list_dot_product($a,$a)) * sqrt(list_dot_product($b,$b)) > 0
       | THEN list_dot_product($a,$b) /
       |      (sqrt(list_dot_product($a,$a)) * sqrt(list_dot_product($b,$b)))
       | ELSE 0.0 END""".stripMargin.replace("\n", " ")

  val cosineTopKSql: String =
    s"""WITH e AS (SELECT vec_id, $dblEmb AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
       |SELECT e.vec_id, ${Num.rSql(cosSql("e.v", "qv"), 6)} AS cos_sim
       |FROM e CROSS JOIN q WHERE e.vec_id <> 0
       |ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin

  /** Batch kNN join: top-3 neighbors for each of 5 query vectors in one
    * corpus scan (broadcast queries + bounded TopKAgg — no window, no
    * per-group sort).
    */
  val KnnQueryIds: Seq[Long] = Seq(0L, 10L, 20L, 30L, 40L)
  def knnJoin(spark: SparkSession, dir: String): DataFrame =
    Similarity.knnJoin(Tables.embeddings(spark, dir), KnnQueryIds, 3)

  val knnJoinSql: String =
    s"""WITH e AS (SELECT vec_id, $dblEmb AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e
       |      WHERE vec_id IN (${KnnQueryIds.mkString(",")})),
       |s AS (SELECT q.q_id, e.vec_id, ${Num.rSql(cosSql("e.v", "qv"), 6)} AS cos_sim
       |      FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id)
       |SELECT q_id, vec_id, cos_sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |            ORDER BY cos_sim DESC, vec_id ASC) AS rn FROM s)
       |WHERE rn <= 3""".stripMargin

  val PlaneIds: Seq[Long] = Seq(1L, 2L, 3L, 4L)
  private val planesSql =
    s"SELECT vec_id AS pid, $dblEmb AS pe FROM embeddings WHERE vec_id IN (1,2,3,4)"
  private val sigsSql =
    s"""SELECT e.vec_id, e.v,
       |  string_agg(CASE WHEN list_dot_product(e.v, p.pe) >= 0 THEN '1' ELSE '0' END,
       |             '' ORDER BY p.pid) AS bucket
       |FROM (SELECT vec_id, $dblEmb AS v FROM embeddings) e
       |CROSS JOIN ($planesSql) p GROUP BY e.vec_id, e.v""".stripMargin

  /** LSH-bucketed approximate top-5 (same buckets in both engines). */
  def annLsh(spark: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(Tables.embeddings(spark, dir), 0L, PlaneIds, 5)

  val annLshSql: String =
    s"""WITH sigs AS ($sigsSql),
       |q AS (SELECT bucket AS qb, v AS qv FROM sigs WHERE vec_id = 0)
       |SELECT s.vec_id, ${Num.rSql(cosSql("s.v", "qv"), 6)} AS cos_sim
       |FROM sigs s CROSS JOIN q
       |WHERE s.bucket = q.qb AND s.vec_id <> 0
       |ORDER BY cos_sim DESC, vec_id ASC LIMIT 5""".stripMargin

  /** Embedding near-dup pairs at cos ≥ 0.4 within LSH buckets. */
  def embedNearDup(spark: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairs(Tables.embeddings(spark, dir), PlaneIds, 0.4)

  val embedNearDupSql: String =
    s"""WITH sigs AS ($sigsSql)
       |SELECT a.vec_id AS v1, b.vec_id AS v2,
       |       ${Num.rSql(cosSql("a.v", "b.v"), 6)} AS cos_sim
       |FROM sigs a JOIN sigs b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE ${Num.rSql(cosSql("a.v", "b.v"), 6)} >= 0.4""".stripMargin

  /** Per-label centroid similarity (IVF building block). */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Similarity.labelCentroidSimilarity(Tables.embeddings(spark, dir))

  /** IVF search: probe the nearest label centroid, exact top-5 inside
    * that inverted list only.
    */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(Tables.embeddings(spark, dir), 0L, 5)

  val ivfTopKSql: String =
    s"""WITH e AS (SELECT vec_id, label, $dblEmb AS v FROM embeddings),
       |expl AS (
       |  SELECT label, i, avg(v[i]) AS cx
       |  FROM e CROSS JOIN range(1, 65) t(i) GROUP BY label, i),
       |cent AS (SELECT label, array_agg(cx ORDER BY i) AS c FROM expl GROUP BY label),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |probe AS (
       |  SELECT cent.label FROM cent CROSS JOIN q
       |  ORDER BY ${cosSql("cent.c", "qv")} DESC, cent.label ASC LIMIT 1)
       |SELECT e.vec_id, e.label, ${Num.rSql(cosSql("e.v", "qv"), 6)} AS cos_sim
       |FROM e JOIN probe ON e.label = probe.label CROSS JOIN q
       |WHERE e.vec_id <> 0
       |ORDER BY cos_sim DESC, vec_id ASC LIMIT 5""".stripMargin

  val labelCentroidsSql: String =
    s"""WITH e AS (SELECT vec_id, label, $dblEmb AS v FROM embeddings),
       |expl AS (
       |  SELECT label, i, avg(v[i]) AS cx
       |  FROM e CROSS JOIN range(1, 65) t(i) GROUP BY label, i),
       |cent AS (
       |  SELECT label, array_agg(cx ORDER BY i) AS c FROM expl GROUP BY label)
       |SELECT e.vec_id, e.label, ${Num.rSql(cosSql("e.v", "cent.c"), 6)} AS centroid_sim
       |FROM e JOIN cent ON e.label = cent.label""".stripMargin

  /** Token counting + document fingerprinting (md5 digest and the
    * polynomial rolling hash — graft.scale.PolyHash, codegen'd, mirrored
    * arithmetically in the oracle).
    */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextAnalysis.wordCount(col("text")).as("ws_tokens"),
      TextAnalysis.bpeTokenCount(col("text")).as("bpe_tokens"),
      md5(col("text").cast("binary")).as("fingerprint"),
      graft.scale.PolyHash.polyHash(col("text")).as("poly_fingerprint"))

  val tokenCountsSql: String =
    s"""SELECT doc_id,
       |  CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
       |       ELSE len(string_split_regex(trim(text), '\\s+')) END AS ws_tokens,
       |  CASE WHEN text IS NULL THEN 0
       |       ELSE len(regexp_extract_all(text, '${TextAnalysis.BpeTokenRe}')) END AS bpe_tokens,
       |  md5(text) AS fingerprint,
       |  ${graft.scale.PolyHash.sql("text")} AS poly_fingerprint
       |FROM documents""".stripMargin

  /** Top bigrams per detected language — the corpus-profiling shape
    * (top terms per stratum) via the string-keyed bounded TopKStrAgg:
    * per-map-task state is O(languages·k) (score, term) pairs, so the
    * final shuffle carries k terms per language instead of every bigram
    * count, and no per-group sort materializes. Oracle: the window
    * formulation; tie order (count desc, bigram asc binary) matches
    * UTF8String.compareTo vs DuckDB binary collation.
    */
  def ngramTopK(spark: SparkSession, dir: String): DataFrame = {
    // The corpus-wide count shuffle keys on (language, xxhash64(bigram))
    // — 8-byte longs instead of two-word strings (~3× smaller, the
    // shingle tier's trick). Winners resolve through a TINY second join:
    // per-language kth count (min of the bounded k-heap) broadcasts, the
    // few (language, hash) survivors broadcast against a re-scan of the
    // grams, and the bounded TopKStrAgg re-ranks by (count desc, bigram
    // asc) — identical to the oracle's row_number tie order, because
    // every boundary TIE survives the >= kth cut (hash order never
    // decides a rank). Candidate multiplicity is boundary-tie-bounded;
    // a degenerate stratum whose kth count is 1 (all-unique bigrams)
    // would inflate the broadcast and wants the df-cap treatment first.
    val grams = Tables.documents(spark, dir)
      .select(TextAnalysis.language(col("text")).as("language"),
        split(trim(lower(col("text"))), "\\s+").as("w"))
      .select(col("language"), explode(Winnow.wordGrams(col("w"), 2)).as("bigram"))
    val counts = grams
      .select(col("language"), xxhash64(col("bigram")).as("bh"))
      .groupBy(col("language"), col("bh"))
      .agg(count(lit(1)).as("c"))
    val kth = counts.groupBy("language")
      .agg(array_min(graft.scale.TopK.topK(col("c").cast("double"), col("bh"), 5)
        .getField("score")).as("kth"))
    val cands = counts.join(broadcast(kth), "language")
      .filter(col("c").cast("double") >= col("kth"))
      .select("language", "bh", "c")
    grams.withColumn("bh", xxhash64(col("bigram")))
      .join(broadcast(cands), Seq("language", "bh"))
      .select(col("language"), col("bigram"), col("c"))
      .distinct()
      .groupBy(col("language"))
      .agg(graft.scale.TopK.topKStr(col("c").cast("double"), col("bigram"), 5).as("top"))
      .select(col("language"), posexplode(col("top")).as(Seq("rank0", "e")))
      .select(col("language"), (col("rank0") + 1).as("rank"),
        col("e.id").as("bigram"), col("e.score").cast("long").as("n"))
  }

  val ngramTopKSql: String =
    s"""WITH toks AS (
       |  SELECT ${langSql("text")} AS language,
       |         string_split_regex(trim(lower(text)), '\\s+') AS w
       |  FROM documents),
       |bg AS (
       |  SELECT language, unnest(CASE WHEN len(w) >= 2
       |      THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
       |      ELSE [] END) AS bigram
       |  FROM toks),
       |counts AS (SELECT language, bigram, count(*) AS c FROM bg GROUP BY 1, 2)
       |SELECT language, rank, bigram, n FROM (
       |  SELECT language, bigram, c AS n,
       |         row_number() OVER (PARTITION BY language
       |                            ORDER BY c DESC, bigram ASC) AS rank
       |  FROM counts) WHERE rank <= 5""".stripMargin

  /** PMI-ranked collocations: the top word bigrams by pointwise mutual
    * information, min-count-gated — the classic corpus-linguistics
    * extraction (multiword expressions, named-entity fragments, domain
    * jargon) and the phrase-vocabulary seed for tokenizer/phrase-mining
    * passes. PMI = ln(p(ab) / (p(a)·p(b))) over bigram vs unigram
    * distributions.
    *
    * Scale shape: token instances shuffle once to vocabulary-bounded
    * unigram counts and once to bigram counts, both keyed on 8-byte
    * xxhash64 longs (no term string in a shuffle — house rule); the
    * min-count filter prunes the bigram relation BEFORE its two
    * hash-keyed unigram joins; totals ride as broadcasts (the bigram
    * total comes from a narrow per-document size aggregate, not a third
    * explode). Winner strings resolve through the [[ngramTopK]]
    * boundary-tie pattern: the rounded kth PMI broadcasts, the boundary
    * survivors (bounded by ties at the cut) broadcast against one
    * re-scan of the grams, and the final rank runs as a window over that
    * bounded candidate relation only — ROUND BEFORE RANKING with the
    * bigram-string tiebreak, so rank order cannot flip on an ulp.
    */
  val PmiK = 20
  val PmiMinCount = 5

  def pmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    val (scored, out0) = pmiPlan(spark, dir)
    // ≤ PmiK rows out: localCheckpoint so the persisted gram relation
    // can be released before returning (the pagerank edges pattern).
    // try/finally: if the eager checkpoint throws (OOM, executor loss)
    // the persisted relation must not leak for the session lifetime.
    try out0.localCheckpoint() finally scored.unpersist()
  }

  /** The pmi assembly pre-checkpoint, exposed for the PlanSpec scan
    * gate: returns (persisted scored relation, final plan). The scored
    * gram-count shuffle has two consumers (the kth-score aggregate and
    * the candidate filter) — without the persist each would re-run the
    * full corpus bigram shuffle.
    */
  private[graft] def pmiPlan(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val wArr = split(trim(lower(col("text"))), "\\s+")
    val pairsArr = when(size(col("w")) >= 2,
      zip_with(slice(col("w"), lit(1), size(col("w")) - 1),
        slice(col("w"), lit(2), size(col("w")) - 1),
        (a, b) => struct(a.as("wa"), b.as("wb"))))
      .otherwise(array().cast("array<struct<wa:string,wb:string>>"))
    val grams = docs.select(wArr.as("w"))
      .select(explode(pairsArr).as("p"))
      .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
    val uni = docs.select(explode(wArr).as("term"))
      .filter(col("term") =!= "")
      .select(xxhash64(col("term")).as("th"))
      .groupBy(col("th")).agg(count(lit(1)).as("cu"))
    val n1 = broadcast(uni.agg(sum(col("cu")).as("n1")))
    val nb = broadcast(docs.select(greatest(size(wArr) - 1, lit(0)).as("nb0"))
      .agg(sum(col("nb0")).as("nb")))
    val scored = grams
      .select(xxhash64(col("wa")).as("ha"), xxhash64(col("wb")).as("hb"))
      .groupBy(col("ha"), col("hb")).agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= PmiMinCount)
      .join(uni.select(col("th").as("ha"), col("cu").as("ca")), "ha")
      .join(uni.select(col("th").as("hb"), col("cu").as("cb")), "hb")
      .crossJoin(n1).crossJoin(nb)
      .select(col("ha"), col("hb"), col("cab"),
        Num.r(log((col("cab").cast("double") / col("nb")) /
          ((col("ca").cast("double") / col("n1")) *
            (col("cb").cast("double") / col("n1")))), 6).as("pmi"))
      // Two consumers (kth aggregate + candidate filter) would each
      // re-run the full corpus bigram shuffle; scored is bounded by the
      // min-count-pruned gram vocab, so persist it between them (the
      // qualityBudget branch-reuse precedent).
      .persist()
    val kth = broadcast(scored.agg(
      array_min(graft.scale.TopK.topK(col("pmi"), col("ha"), PmiK)
        .getField("score")).as("kth")))
    val cands = scored.crossJoin(kth)
      .filter(col("pmi") >= col("kth"))
      .select(col("ha"), col("hb"), col("cab"), col("pmi"))
    val rec = grams
      .select(col("wa"), col("wb"),
        xxhash64(col("wa")).as("ha"), xxhash64(col("wb")).as("hb"))
      .join(broadcast(cands), Seq("ha", "hb"))
      .select(concat(col("wa"), lit(" "), col("wb")).as("bigram"),
        col("cab"), col("pmi"))
      .distinct()
    val out = rec
      .withColumn("rank",
        row_number().over(Window.orderBy(col("pmi").desc, col("bigram").asc)))
      .filter(col("rank") <= PmiK)
      .select(col("rank"), col("bigram"), col("cab").as("n"), col("pmi"))
    (scored, out)
  }

  val pmiCollocationsSql: String =
    s"""WITH toks AS (
       |  SELECT string_split_regex(trim(lower(text)), '\\s+') AS w FROM documents),
       |uni AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM (
       |          SELECT unnest(w) AS term FROM toks) WHERE term <> '' GROUP BY 1),
       |n1 AS (SELECT CAST(sum(c) AS BIGINT) AS n1 FROM uni),
       |nbt AS (SELECT CAST(sum(greatest(len(w) - 1, 0)) AS BIGINT) AS nb FROM toks),
       |bg AS (SELECT p[1] AS wa, p[2] AS wb FROM (
       |         SELECT unnest(CASE WHEN len(w) >= 2
       |             THEN list_transform(range(1, len(w)), i -> [w[i], w[i+1]])
       |             ELSE [] END) AS p
       |         FROM toks)),
       |big AS (SELECT wa, wb, CAST(count(*) AS BIGINT) AS cab
       |        FROM bg GROUP BY 1, 2 HAVING count(*) >= $PmiMinCount),
       |scored AS (
       |  SELECT wa || ' ' || wb AS bigram, cab,
       |         ${Num.rSql(
      "ln((CAST(cab AS DOUBLE) / nb) / ((CAST(a.c AS DOUBLE) / n1) * (CAST(b.c AS DOUBLE) / n1)))",
      6)} AS pmi
       |  FROM big JOIN uni a ON wa = a.term JOIN uni b ON wb = b.term
       |  CROSS JOIN n1 CROSS JOIN nbt)
       |SELECT rank, bigram, cab AS n, pmi FROM (
       |  SELECT *, row_number() OVER (ORDER BY pmi DESC, bigram ASC) AS rank
       |  FROM scored)
       |WHERE rank <= $PmiK""".stripMargin

  /** Multimodal asset-table stats through the binary+metadata schema
    * (graft.multimodal): proves the asset plumbing end-to-end with a SQL
    * oracle over the source documents.
    */
  def multimodalStats(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.syntheticAssets(spark, dir).toDF()
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_assets"),
        sum(length(col("media"))).as("total_bytes"),
        sum(col("meta.durationMs")).as("total_duration_ms"),
        Num.r(avg(col("meta.width")), 4).as("avg_width"))

  val multimodalStatsSql: String =
    s"""SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       |  count(*) AS n_assets,
       |  CAST(sum(length(text)) AS BIGINT) AS total_bytes,
       |  CAST(sum(n_chars * 10) AS BIGINT) AS total_duration_ms,
       |  ${Num.rSql("avg(doc_id % 640 + 64)", 4)} AS avg_width
       |FROM documents GROUP BY 1""".stripMargin

  /** Grouped top-k via the bounded TypedImperativeAggregate (TopKAgg):
    * top-3 events by value per user — O(keys·k) shuffle instead of the
    * window formulation's full per-group sort. Oracle = the window
    * formulation in DuckDB (identical results, different physical plan).
    */
  def topkPerUser(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(graft.scale.TopK.topK(col("value"), col("event_id"), 3).as("top"))
      .select(col("user_id"), posexplode(col("top")).as(Seq("rank", "e")))
      .select(col("user_id"), (col("rank") + 1).as("rank"),
        col("e.score").as("value"), col("e.id").as("event_id"))

  val topkPerUserSql: String =
    """SELECT user_id, rank, value, event_id FROM (
      |  SELECT user_id, value, event_id,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY value DESC, event_id ASC) AS rank
      |  FROM events) WHERE rank <= 3""".stripMargin

  // ---- corpus curation / mixing — the end-to-end training-data shape ----

  private[analytics] def langSql(t: String): String = {
    def inList(words: Seq[String]) = words.map(w => s"'$w'").mkString("(", ",", ")")
    def cnt(words: Seq[String]) =
      s"len(list_filter((string_split_regex(trim(lower($t)), '\\s+'))[1:50], x -> x IN ${inList(words)}))"
    val (en, es, fr) = (cnt(TextAnalysis.EnglishWords), cnt(TextAnalysis.SpanishWords),
      cnt(TextAnalysis.FrenchWords))
    s"""CASE WHEN $t IS NULL OR $t = '' THEN 'unknown'
       | WHEN $en >= $es AND $en >= $fr THEN 'english'
       | WHEN $es > $fr THEN 'spanish'
       | WHEN $fr > 0 THEN 'french'
       | ELSE 'unknown' END""".stripMargin.replace("\n", " ")
  }

  private def completenessSql(t: String): String = {
    val lt = s"lower($t)"
    s"""CASE WHEN $t IS NULL OR $t = '' THEN 0.0 ELSE least(50.0
       | + (CASE WHEN length($t) > 100 THEN 20 ELSE 0 END)
       | + (CASE WHEN length($t) > 500 THEN 10 ELSE 0 END)
       | + (CASE WHEN contains($t, '.') THEN 10 ELSE 0 END)
       | + (CASE WHEN contains($t, chr(10)) THEN 5 ELSE 0 END)
       | + (CASE WHEN contains($lt,'however') OR contains($lt,'additionally') OR contains($lt,'furthermore') THEN 5 ELSE 0 END),
       | 100.0) END""".stripMargin.replace("\n", " ")
  }

  /** Corpus curation — the canonical training-data filter stack composed
    * end-to-end: language-ID filter → quality threshold → exact dedup
    * (keep min doc_id per digest) → per-source accounting. One narrow
    * projection, one window shuffle on the 128-bit digest, one partial
    * aggregation — the whole pipeline is 2 shuffles regardless of corpus
    * size, and the dedup window never moves document text.
    */
  def corpusCuration(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val scored = Tables.documents(spark, dir).select(
      col("doc_id"), col("source"),
      TextAnalysis.language(t).as("language"),
      graft.functions.Scoring.completenessScore(t).as("quality"),
      TextAnalysis.bpeTokenCount(t).as("n_tokens"),
      md5(t).as("digest"))
    val kept = scored.filter(col("language") === "english" && col("quality") >= 60.0)
    // keep-min-doc_id per digest as a grouped argmin (doc_id leads the
    // struct and is unique) — partial aggregation map-side, vs the
    // row_number window's full per-partition sort
    val canonical = kept
      .groupBy(col("digest"))
      .agg(min(struct(col("doc_id"), col("source"), col("n_tokens"),
        col("quality"))).as("c"))
      .select(col("c.doc_id").as("doc_id"), col("c.source").as("source"),
        col("c.n_tokens").as("n_tokens"), col("c.quality").as("quality"))
    canonical.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("total_tokens"),
      Num.savg(sum(col("quality")), count(lit(1)), 0, 4).as("avg_quality"),
      min(col("doc_id")).as("min_doc_id"))
  }

  val corpusCurationSql: String = {
    val re = TextAnalysis.BpeTokenRe // DuckDB strings are raw: no re-escaping
    s"""WITH scored AS (
       |  SELECT doc_id, source,
       |         ${langSql("text")} AS language,
       |         ${completenessSql("text")} AS quality,
       |         len(regexp_extract_all(text, '$re')) AS n_tokens,
       |         md5(text) AS digest
       |  FROM documents),
       |kept AS (SELECT * FROM scored WHERE language = 'english' AND quality >= 60.0),
       |canonical AS (
       |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
       |                 FROM kept) WHERE rn = 1)
       |SELECT source, count(*) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |       ${Num.savgSql("sum(quality)", "count(*)", 0, 4)} AS avg_quality,
       |       min(doc_id) AS min_doc_id
       |FROM canonical GROUP BY source""".stripMargin
  }

  /** Deterministic stratified sampling (data mixing): docs are assigned a
    * stable [0,100) bucket from the md5 of their TEXT (not their id — so
    * exact duplicates always sample identically and re-runs are
    * reproducible across engines and cluster sizes), then kept according
    * to a per-source rate. The standard "mixture weights" operator of a
    * training-data pipeline; embarrassingly parallel, no shuffle before
    * the final accounting aggregate.
    */
  def corpusSample(spark: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long") % 100
    val srcNum = substring(col("source"), 4, 10).cast("int")
    val rate = (srcNum % 4) * 20 + 20 // src*0→20% … src*3→80%
    Tables.documents(spark, dir)
      .filter(bucket < rate)
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_sampled"),
        sum(col("n_chars")).as("sampled_chars"),
        min(col("doc_id")).as("min_doc_id"))
  }

  val corpusSampleSql: String =
    """SELECT source, count(*) AS n_sampled,
      |       CAST(sum(n_chars) AS BIGINT) AS sampled_chars,
      |       min(doc_id) AS min_doc_id
      |FROM documents
      |WHERE ('0x' || substr(md5(text), 1, 8))::BIGINT % 100
      |      < (CAST(substr(source, 4) AS INT) % 4) * 20 + 20
      |GROUP BY source""".stripMargin

  /** Exact interpolated percentiles of corpus length per source — the
    * distribution profile a curation pipeline reports. Spark percentile()
    * and DuckDB quantile_cont share the type-7 linear-interpolation
    * definition, so the doubles are comparable bit-wise after grid
    * rounding.
    */
  def corpusQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("source")).agg(
        Num.r(expr("percentile(n_chars, 0.5)"), 4).as("p50_chars"),
        Num.r(expr("percentile(n_chars, 0.9)"), 4).as("p90_chars"),
        Num.r(expr("percentile(n_chars, 0.99)"), 4).as("p99_chars"))

  val corpusQuantilesSql: String =
    s"""SELECT source,
       |  ${Num.rSql("quantile_cont(n_chars, 0.5)", 4)} AS p50_chars,
       |  ${Num.rSql("quantile_cont(n_chars, 0.9)", 4)} AS p90_chars,
       |  ${Num.rSql("quantile_cont(n_chars, 0.99)", 4)} AS p99_chars
       |FROM documents GROUP BY source""".stripMargin

  /** Sketch tier of the percentile family (same posture as
    * q_approx_distinct's HLL next to the exact countDistinct): Spark's
    * percentile_approx (a KLL/GK-style mergeable rank sketch) replaces
    * the exact percentile, whose per-group state is O(distinct values) —
    * the regime where exact quantiles stop scaling.
    */
  val ApproxQuantileAcc = 1000

  /** Rank-error budget for the published contract: the sketch guarantees
    * ≤ 1/accuracy; the check allows 2/accuracy plus one absolute row so
    * an off-by-one at a tie boundary can't flake the gate while a broken
    * sketch (rank error ~percent-scale) still fails loudly.
    */
  val ApproxQuantileEps = 2.0 / ApproxQuantileAcc

  private[graft] def approxQuantilesRaw(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("source")).agg(
        expr(s"approx_percentile(n_chars, 0.5, $ApproxQuantileAcc)").as("p50_chars"),
        expr(s"approx_percentile(n_chars, 0.9, $ApproxQuantileAcc)").as("p90_chars"),
        expr(s"approx_percentile(n_chars, 0.99, $ApproxQuantileAcc)").as("p99_chars"))

  /** Bound-checked form of the sketch tier (VERDICT r11 Next #3): the
    * sketch's cut points are implementation-defined and can never
    * hash-match DuckDB, so the PUBLISHED row carries, per source, the
    * exact doc count plus one boolean per percentile asserting the
    * sketch's rank-error contract — value v for quantile q must satisfy
    * count(x < v) ≤ (q+ε)·N + 1 and count(x ≤ v) ≥ (q−ε)·N − 1 (the
    * two-sided form that is tie-safe: a value's rank is the interval
    * [count(<v), count(≤v)]). DuckDB emits the same exact count and TRUE
    * literals, so the row hash-matches iff the sketch honored its bound.
    * Plan shape: the per-source sketch relation is source-bounded and
    * rides back as a BROADCAST against one corpus scan that counts the
    * ranks — two scans total, the second embarrassingly parallel; the
    * production path publishes the sketch alone and skips the rank
    * audit (it exists to be cheap-to-run, not always-on).
    */
  def approxQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val ap = approxQuantilesRaw(spark, dir)
      .select(col("source"), col("p50_chars").as("a50"),
        col("p90_chars").as("a90"), col("p99_chars").as("a99"))
    def lt(v: String) = sum(when(col("n_chars") < col(v), 1L).otherwise(0L))
    def le(v: String) = sum(when(col("n_chars") <= col(v), 1L).otherwise(0L))
    def ok(ltC: String, leC: String, q: Double) =
      (col(ltC).cast("double") <=
        lit(q + ApproxQuantileEps) * col("n_docs").cast("double") + lit(1.0)) &&
        (col(leC).cast("double") >=
          lit(q - ApproxQuantileEps) * col("n_docs").cast("double") - lit(1.0))
    Tables.documents(spark, dir)
      .join(broadcast(ap), Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        lt("a50").as("lt50"), le("a50").as("le50"),
        lt("a90").as("lt90"), le("a90").as("le90"),
        lt("a99").as("lt99"), le("a99").as("le99"))
      .select(col("source"), col("n_docs"),
        ok("lt50", "le50", 0.5).as("ok_p50"),
        ok("lt90", "le90", 0.9).as("ok_p90"),
        ok("lt99", "le99", 0.99).as("ok_p99"))
  }

  val approxQuantilesSql: String =
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |       TRUE AS ok_p50, TRUE AS ok_p90, TRUE AS ok_p99
      |FROM documents GROUP BY source""".stripMargin

  /** Frame sampling through the multimodal asset pipeline: video assets →
    * every-5th-frame rows (graft.multimodal.Multimodal.sampleFrames) →
    * per-asset accounting. Frame BYTES are the documented codec stub; the
    * index arithmetic (25 fps from duration, stride, last index) is exact
    * and oracle-checked.
    */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    graft.multimodal.Multimodal
      .sampleFrames(graft.multimodal.Multimodal.syntheticAssets(spark, dir), everyNth = 5)
      .groupBy(col("assetId"))
      .agg(count(lit(1)).as("n_frames"), max(col("frameIdx")).cast("long").as("last_idx"))
      .select(col("assetId").as("asset_id"), col("n_frames"), col("last_idx"))
  }

  val frameSampleSql: String =
    """SELECT doc_id AS asset_id,
      |       (((n_chars * 10) // 40) + 4) // 5 AS n_frames,
      |       ((((n_chars * 10) // 40) - 1) // 5) * 5 AS last_idx
      |FROM documents WHERE doc_id % 3 = 2""".stripMargin

  /** Deterministic k-means (graft.scale.KMeans): one Lloyd iteration from
    * the k-lowest-vec_id seeds, then the final assignment. The oracle
    * unrolls the same iteration as CTEs — seeds → assign → per-dimension
    * means → reassign — over the identical v·v − 2·v·c + c·c double
    * arithmetic, so the engines agree bit-wise before the display
    * rounding.
    */
  val KmeansK = 8
  def kmeansAssign(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val trained = graft.scale.KMeans.fit(emb, KmeansK, iters = 1)
    graft.scale.KMeans.assign(emb, trained)
      .select(col("vec_id"), col("cluster"), Num.r(col("dist2"), 6).as("dist2"))
  }

  private def d2Sql(v: String, c: String): String =
    s"(list_dot_product($v,$v) - 2.0 * list_dot_product($v,$c) + list_dot_product($c,$c))"

  /** Shared CTE prefix: seeds → one Lloyd pass → trained centroids
    * (`cent`) — used by both the assignment oracle and the semantic-dedup
    * oracle.
    */
  private val kmeansCtesSql: String =
    s"""e AS (SELECT vec_id, $dblEmb AS v FROM embeddings),
       |seeds AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id ASC) - 1 AS INT) AS cid, v AS c
       |  FROM (SELECT * FROM e ORDER BY vec_id ASC LIMIT $KmeansK)),
       |a1 AS (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT e.vec_id, e.v, seeds.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${d2Sql("e.v", "seeds.c")} ASC, seeds.cid ASC) AS rn
       |    FROM e CROSS JOIN seeds) WHERE rn = 1),
       |expl AS (
       |  SELECT cid, i, avg(v[i]) AS cx
       |  FROM a1 CROSS JOIN range(1, 65) t(i) GROUP BY cid, i),
       |cent AS (SELECT cid, array_agg(cx ORDER BY i) AS c FROM expl GROUP BY cid)""".stripMargin

  val kmeansAssignSql: String =
    s"""WITH $kmeansCtesSql
       |SELECT vec_id, cluster, dist2 FROM (
       |  SELECT e.vec_id, cent.cid AS cluster,
       |         ${Num.rSql(d2Sql("e.v", "cent.c"), 6)} AS dist2,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${d2Sql("e.v", "cent.c")} ASC, cent.cid ASC) AS rn
       |  FROM e CROSS JOIN cent) WHERE rn = 1""".stripMargin

  /** Clustering-quality diagnostics over the k-means assignment: per
    * cluster the member count, corpus share, mean squared distance, and
    * inertia share — the balance report that tells an IVF/SemDeDup run
    * whether its codebook collapsed (one giant cell ruins both the n²/K
    * pair bound and probe selectivity). One extra aggregate over the
    * assignment relation; the totals ride as one broadcast row. Sums of
    * grid-rounded dist2 snap at the same grid, so both engines derive
    * identical ratios.
    */
  def clusterBalance(spark: SparkSession, dir: String): DataFrame = {
    val asg = kmeansAssign(spark, dir)
    val tot = broadcast(asg.agg(
      count(lit(1)).as("n_total"),
      Num.r(sum(col("dist2")), 6).as("tot_inertia")))
    asg.groupBy(col("cluster")).agg(
      count(lit(1)).as("n_vecs"),
      Num.r(sum(col("dist2")), 6).as("inertia"),
      Num.savg(sum(col("dist2")), count(lit(1)), 6, 6).as("avg_dist2"))
      .crossJoin(tot)
      .select(col("cluster"), col("n_vecs"),
        Num.r(col("n_vecs").cast("double") / col("n_total"), 6).as("pct_vecs"),
        col("avg_dist2"), col("inertia"),
        Num.r(col("inertia") / col("tot_inertia"), 6).as("inertia_pct"))
  }

  val clusterBalanceSql: String =
    s"""WITH a AS ($kmeansAssignSql),
       |tot AS (
       |  SELECT count(*) AS n_total, ${Num.rSql("sum(dist2)", 6)} AS tot_inertia
       |  FROM a),
       |g AS (
       |  SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs,
       |         ${Num.rSql("sum(dist2)", 6)} AS inertia,
       |         ${Num.savgSql("sum(dist2)", "count(*)", 6, 6)} AS avg_dist2
       |  FROM a GROUP BY 1)
       |SELECT cluster, n_vecs,
       |       ${Num.rSql("CAST(n_vecs AS DOUBLE) / n_total", 6)} AS pct_vecs,
       |       avg_dist2, inertia,
       |       ${Num.rSql("inertia / tot_inertia", 6)} AS inertia_pct
       |FROM g CROSS JOIN tot""".stripMargin

  /** Prototypes per cluster for the SemDeDup-style keep-list. */
  val ProtoK = 5

  /** Per-cluster prototype selection: the `ProtoK` vectors closest to
    * their k-means centroid — the representative subset cluster-level
    * pruning recipes (SemDeDup prototypes, cluster-balanced subset
    * picks) keep per cell. Scale shape: the assignment is the one-scan
    * map-side argmin over broadcast centroids (KMeans.assign), and the
    * per-cluster bottom-k runs through the bounded TopKAgg on the
    * NEGATED snapped distance — O(clusters·k) state per task, no
    * per-cluster sort, no Window. Ranking rounds before ranking
    * (CLAUDE.md) with a vec_id tiebreak so an ulp can never flip the
    * keep-list.
    */
  def clusterPrototypes(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val trained = graft.scale.KMeans.fit(emb, KmeansK, iters = 1)
    graft.scale.KMeans.assign(emb, trained)
      .select(col("cluster"), Num.r(col("dist2"), 6).as("d"), col("vec_id"))
      .groupBy(col("cluster"))
      .agg(graft.scale.TopK.topK(negate(col("d")), col("vec_id"), ProtoK).as("top"))
      .select(col("cluster"), posexplode(col("top")))
      .select(col("cluster"), (col("pos") + 1).as("rank"),
        col("col.id").as("vec_id"), negate(col("col.score")).as("dist2"))
  }

  val clusterPrototypesSql: String =
    s"""WITH $kmeansCtesSql,
       |asg AS (
       |  SELECT vec_id, cluster, d2r FROM (
       |    SELECT e.vec_id, cent.cid AS cluster,
       |           ${Num.rSql(d2Sql("e.v", "cent.c"), 6)} AS d2r,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${d2Sql("e.v", "cent.c")} ASC, cent.cid ASC) AS rn
       |    FROM e CROSS JOIN cent) WHERE rn = 1)
       |SELECT cluster, CAST(rank AS INT) AS rank, vec_id, d2r AS dist2 FROM (
       |  SELECT cluster, vec_id, d2r,
       |         row_number() OVER (PARTITION BY cluster
       |                            ORDER BY d2r ASC, vec_id ASC) AS rank
       |  FROM asg) WHERE rank <= $ProtoK""".stripMargin

  /** Product quantization codes (Jégou et al. 2011): per-subspace
    * deterministic codebooks + one-scan assignment — the compressed
    * representation an IVF-PQ vector index stores. The oracle unrolls
    * the per-subspace Lloyd pass exactly like the k-means oracle, over
    * sliced embeddings.
    */
  def pqCodes(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val books = graft.scale.ProductQuantize.fitCodebooks(emb)
    graft.scale.ProductQuantize.assignCodes(emb, books)
      .select(col("vec_id"), col("subspace"), col("code"),
        Num.r(col("dist2"), 6).as("dist2"))
  }

  val pqCodesSql: String = {
    val m = graft.scale.ProductQuantize.M
    val sd = graft.scale.ProductQuantize.SubDim
    val k = graft.scale.ProductQuantize.K
    s"""WITH e AS (SELECT vec_id, $dblEmb AS v FROM embeddings),
       |sub AS (
       |  SELECT vec_id, CAST(s AS INT) AS s, v[(s*$sd+1):(s*$sd+$sd)] AS sv
       |  FROM e CROSS JOIN range(0, $m) t(s)),
       |seeds AS (
       |  SELECT s, CAST(row_number() OVER (PARTITION BY s ORDER BY vec_id ASC) - 1 AS INT) AS cid,
       |         sv AS c
       |  FROM sub WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id ASC LIMIT $k)),
       |a1 AS (
       |  SELECT vec_id, s, sv, cid FROM (
       |    SELECT sub.vec_id, sub.s, sub.sv, seeds.cid,
       |           row_number() OVER (PARTITION BY sub.vec_id, sub.s
       |             ORDER BY ${d2Sql("sub.sv", "seeds.c")} ASC, seeds.cid ASC) AS rn
       |    FROM sub JOIN seeds ON sub.s = seeds.s) WHERE rn = 1),
       |expl AS (
       |  SELECT s, cid, i, avg(sv[i]) AS cx
       |  FROM a1 CROSS JOIN range(1, ${sd + 1}) t(i) GROUP BY s, cid, i),
       |cent AS (SELECT s, cid, array_agg(cx ORDER BY i) AS c FROM expl GROUP BY s, cid)
       |SELECT vec_id, subspace, code, dist2 FROM (
       |  SELECT sub.vec_id, sub.s AS subspace, cent.cid AS code,
       |         ${Num.rSql(d2Sql("sub.sv", "cent.c"), 6)} AS dist2,
       |         row_number() OVER (PARTITION BY sub.vec_id, sub.s
       |           ORDER BY ${d2Sql("sub.sv", "cent.c")} ASC, cent.cid ASC) AS rn
       |  FROM sub JOIN cent ON sub.s = cent.s) WHERE rn = 1""".stripMargin
  }

  /** PQ quantization-distortion report: per subspace the mean/max
    * reconstruction error and its share of total distortion — the
    * codebook-health diagnostic next to q_retrieval_metrics (a subspace
    * hoarding distortion needs more codewords or a rotation; uniform
    * shares are what healthy PQ looks like). One aggregate over the
    * code-assignment relation the index build already produces; the
    * totals ride as one broadcast row.
    */
  def pqDistortion(spark: SparkSession, dir: String): DataFrame = {
    val codes = pqCodes(spark, dir)
    val tot = broadcast(codes.agg(Num.r(sum(col("dist2")), 6).as("total")))
    codes.groupBy(col("subspace")).agg(
      count(lit(1)).as("n_vecs"),
      Num.r(sum(col("dist2")), 6).as("sub_dist2"),
      Num.savg(sum(col("dist2")), count(lit(1)), 6, 6).as("avg_dist2"),
      max(col("dist2")).as("max_dist2"))
      .crossJoin(tot)
      .select(col("subspace"), col("n_vecs"), col("avg_dist2"), col("max_dist2"),
        Num.r(col("sub_dist2") / col("total"), 6).as("dist2_share"))
  }

  val pqDistortionSql: String =
    s"""WITH base AS ($pqCodesSql),
       |tot AS (SELECT ${Num.rSql("sum(dist2)", 6)} AS total FROM base),
       |g AS (
       |  SELECT subspace, CAST(count(*) AS BIGINT) AS n_vecs,
       |         ${Num.rSql("sum(dist2)", 6)} AS sub_dist2,
       |         ${Num.savgSql("sum(dist2)", "count(*)", 6, 6)} AS avg_dist2,
       |         max(dist2) AS max_dist2
       |  FROM base GROUP BY 1)
       |SELECT subspace, n_vecs, avg_dist2, max_dist2,
       |       ${Num.rSql("sub_dist2 / total", 6)} AS dist2_share
       |FROM g CROSS JOIN tot""".stripMargin

  /** PQ asymmetric-distance top-k: exact query, code-compressed corpus,
    * distance = sum of M per-subspace lookup-table entries. One scan,
    * zero joins, TakeOrderedAndProject. The oracle reuses the PQ CTE
    * chain and sums the per-subspace terms in subspace order
    * (list_sum over an ordered list) so the fp accumulation matches
    * Spark's left-to-right reduce.
    */
  val PqQueryId = 1L
  def pqAdcTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    graft.scale.ProductQuantize.adcTopK(
      emb, graft.scale.ProductQuantize.fitCodebooks(emb), PqQueryId, 10)
  }

  val pqAdcTopKSql: String = {
    val m = graft.scale.ProductQuantize.M
    val sd = graft.scale.ProductQuantize.SubDim
    val k = graft.scale.ProductQuantize.K
    s"""WITH e AS (SELECT vec_id, $dblEmb AS v FROM embeddings),
       |sub AS (
       |  SELECT vec_id, CAST(s AS INT) AS s, v[(s*$sd+1):(s*$sd+$sd)] AS sv
       |  FROM e CROSS JOIN range(0, $m) t(s)),
       |seeds AS (
       |  SELECT s, CAST(row_number() OVER (PARTITION BY s ORDER BY vec_id ASC) - 1 AS INT) AS cid,
       |         sv AS c
       |  FROM sub WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id ASC LIMIT $k)),
       |a1 AS (
       |  SELECT vec_id, s, sv, cid FROM (
       |    SELECT sub.vec_id, sub.s, sub.sv, seeds.cid,
       |           row_number() OVER (PARTITION BY sub.vec_id, sub.s
       |             ORDER BY ${d2Sql("sub.sv", "seeds.c")} ASC, seeds.cid ASC) AS rn
       |    FROM sub JOIN seeds ON sub.s = seeds.s) WHERE rn = 1),
       |expl AS (
       |  SELECT s, cid, i, avg(sv[i]) AS cx
       |  FROM a1 CROSS JOIN range(1, ${sd + 1}) t(i) GROUP BY s, cid, i),
       |cent AS (SELECT s, cid, array_agg(cx ORDER BY i) AS c FROM expl GROUP BY s, cid),
       |codes AS (
       |  SELECT vec_id, s, cid FROM (
       |    SELECT sub.vec_id, sub.s, cent.cid,
       |           row_number() OVER (PARTITION BY sub.vec_id, sub.s
       |             ORDER BY ${d2Sql("sub.sv", "cent.c")} ASC, cent.cid ASC) AS rn
       |    FROM sub JOIN cent ON sub.s = cent.s) WHERE rn = 1),
       |q AS (SELECT s, sv AS qsv FROM sub WHERE vec_id = $PqQueryId),
       |lut AS (
       |  SELECT cent.s, cent.cid, ${d2Sql("q.qsv", "cent.c")} AS qd
       |  FROM cent JOIN q ON cent.s = q.s)
       |SELECT vec_id, ${Num.rSql("list_sum(list(qd ORDER BY lut.s))", 6)} AS adc_dist2
       |FROM codes JOIN lut ON codes.s = lut.s AND codes.cid = lut.cid
       |WHERE vec_id <> $PqQueryId
       |GROUP BY vec_id
       |ORDER BY adc_dist2 ASC, vec_id ASC LIMIT 10""".stripMargin
  }

  /** IVF-PQ probed search: coarse k-means cells (same codebook as the
    * k-means tier), PQ codes of cell RESIDUALS, query probes its
    * nearest cell and ADC-scores only that cell's codes. The oracle
    * chains the coarse kmeans CTEs into a residual-PQ Lloyd pass and a
    * probed ADC sum — every stage the same deterministic construction
    * the flat-PQ oracle uses.
    */
  def ivfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    graft.scale.IvfPq.search(emb, graft.scale.IvfPq.fit(emb), PqQueryId, 10)
  }

  /** The production index cycle made driver-visible: write the PQ codes
    * table PARTITIONED BY CELL, then multi-probe search reads back ONLY
    * the probed cells' files (partition pruning gated in PlanSpec) —
    * codes, not embeddings. nprobe=2 exercises the multi-probe ADC
    * (per-cell query-residual lookup tables).
    */
  val IvfPqNProbe = 2
  def ivfPqProbed(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val model = graft.scale.IvfPq.fit(emb)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivfpq_codes_${math.abs(dir.hashCode.toLong)}"
    graft.scale.IvfPq.writeCodes(emb, model, path)
    graft.scale.IvfPq.searchCodes(spark.read.parquet(path), emb, model,
      PqQueryId, 10, nprobe = IvfPqNProbe)
  }

  /** Shared IVF-PQ oracle chain: coarse cells → residuals → residual-PQ
    * codebooks → per-vector codes, plus the multi-probe query CTEs
    * (cell ranking `probe`, per-cell query residuals `qresm`, per-cell
    * ADC lookup tables `lutm`). Suffix SQL picks nprobe via `lutm.pr`.
    */
  private val ivfPqCtesSql: String = {
    val m = graft.scale.ProductQuantize.M
    val sd = graft.scale.ProductQuantize.SubDim
    val k = graft.scale.ProductQuantize.K
    s"""$kmeansCtesSql,
       |asg AS (
       |  SELECT vec_id, v, cell FROM (
       |    SELECT e.vec_id, e.v, cent.cid AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${d2Sql("e.v", "cent.c")} ASC, cent.cid ASC) AS rn
       |    FROM e CROSS JOIN cent) WHERE rn = 1),
       |res AS (
       |  SELECT asg.vec_id, asg.cell,
       |         list_transform(range(1, ${m * sd + 1}), i -> asg.v[i] - cent.c[i]) AS r
       |  FROM asg JOIN cent ON asg.cell = cent.cid),
       |rsub AS (
       |  SELECT vec_id, cell, CAST(s AS INT) AS s, r[(s*$sd+1):(s*$sd+$sd)] AS sv
       |  FROM res CROSS JOIN range(0, $m) t(s)),
       |pseed AS (
       |  SELECT s, CAST(row_number() OVER (PARTITION BY s ORDER BY vec_id ASC) - 1 AS INT) AS cid,
       |         sv AS c
       |  FROM rsub WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id ASC LIMIT $k)),
       |pa1 AS (
       |  SELECT vec_id, s, sv, cid FROM (
       |    SELECT rsub.vec_id, rsub.s, rsub.sv, pseed.cid,
       |           row_number() OVER (PARTITION BY rsub.vec_id, rsub.s
       |             ORDER BY ${d2Sql("rsub.sv", "pseed.c")} ASC, pseed.cid ASC) AS rn
       |    FROM rsub JOIN pseed ON rsub.s = pseed.s) WHERE rn = 1),
       |pexpl AS (
       |  SELECT s, cid, i, avg(sv[i]) AS cx
       |  FROM pa1 CROSS JOIN range(1, ${sd + 1}) t(i) GROUP BY s, cid, i),
       |pcent AS (SELECT s, cid, array_agg(cx ORDER BY i) AS c FROM pexpl GROUP BY s, cid),
       |pcodes AS (
       |  SELECT vec_id, cell, s, cid FROM (
       |    SELECT rsub.vec_id, rsub.cell, rsub.s, pcent.cid,
       |           row_number() OVER (PARTITION BY rsub.vec_id, rsub.s
       |             ORDER BY ${d2Sql("rsub.sv", "pcent.c")} ASC, pcent.cid ASC) AS rn
       |    FROM rsub JOIN pcent ON rsub.s = pcent.s) WHERE rn = 1),
       |qv2 AS (SELECT v FROM e WHERE vec_id = $PqQueryId),
       |probe AS (
       |  SELECT cid AS cell,
       |         row_number() OVER (ORDER BY ${d2Sql("qv2.v", "cent.c")} ASC, cid ASC) AS pr
       |  FROM cent CROSS JOIN qv2),
       |qresm AS (
       |  SELECT p.cell, p.pr, CAST(t.s AS INT) AS s,
       |         list_transform(range(1, ${m * sd + 1}), i -> qv2.v[i] - cent.c[i])[(t.s*$sd+1):(t.s*$sd+$sd)] AS sv
       |  FROM probe p JOIN cent ON p.cell = cent.cid
       |  CROSS JOIN qv2 CROSS JOIN range(0, $m) t(s)),
       |lutm AS (
       |  SELECT qresm.cell, qresm.pr, pcent.s, pcent.cid,
       |         ${d2Sql("qresm.sv", "pcent.c")} AS qd
       |  FROM pcent JOIN qresm ON pcent.s = qresm.s)""".stripMargin
  }

  /** Probed ADC top-k over the shared chain: nprobe = max probe rank. */
  private def ivfPqSearchSql(nprobe: Int, k: Int): String =
    s"""SELECT vec_id, ${Num.rSql("list_sum(list(qd ORDER BY lutm.s))", 6)} AS adc_dist2
       |FROM pcodes JOIN lutm ON pcodes.cell = lutm.cell
       |  AND pcodes.s = lutm.s AND pcodes.cid = lutm.cid
       |WHERE lutm.pr <= $nprobe AND vec_id <> $PqQueryId
       |GROUP BY vec_id ORDER BY adc_dist2 ASC, vec_id ASC LIMIT $k""".stripMargin

  val ivfPqTopKSql: String =
    s"""WITH $ivfPqCtesSql
       |${ivfPqSearchSql(1, 10)}""".stripMargin

  /** The nprobe tiers both index-evaluation operators report. */
  val AnnRecallProbes = Seq(1, 2, 4)

  /** The two small relations both index-evaluation operators read, for
    * PqQueryId: the EXACT L2 top-10 id set (rounded-before-rank with id
    * tiebreak, so the SET is engine-stable) and the IVF-PQ candidates
    * of the max-nprobe cells with their ADC distances. ONE scan of those
    * cells scores every candidate once; each probe tier is then a
    * pr-filter + rank over the tiny scored relation (three
    * IvfPq.search arms would rescan the corpus 3x). Both are
    * materialized with an eager localCheckpoint, so no cache entry
    * outlives the query.
    */
  private def pqEval(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") === PqQueryId).select("embedding").collect()(0)
      .getSeq[Any](0).map(_.asInstanceOf[Number].doubleValue)
    val qq = q.foldLeft(0.0)((a, x) => a + x * x)
    val d2 = graft.scale.VectorOps.dot(col("embedding"), col("embedding")) -
      lit(2.0) * graft.scale.VectorOps.dot(col("embedding"), typedLit(q)) + lit(qq)
    val exact = emb.filter(col("vec_id") =!= PqQueryId)
      .select(col("vec_id"), Num.r(d2, 6).as("d2"))
      .orderBy(col("d2").asc, col("vec_id").asc).limit(10).select("vec_id")
    val scored = graft.scale.IvfPq.scoredSearch(
      emb, graft.scale.IvfPq.fit(emb), PqQueryId, AnnRecallProbes.max)
    (exact.localCheckpoint(), scored.localCheckpoint())
  }

  /** ANN quality harness as an operator: recall@10 of the IVF-PQ probe
    * against the EXACT L2 top-10 for the same query — the standard
    * vector-index evaluation, runnable as a query because both sides
    * are deterministic. Exact distances round before ranking with a
    * vec_id tiebreak (CLAUDE.md fp-rank rule) so the top-10 SET is
    * engine-stable.
    */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val (exact, scored) = pqEval(spark, dir)
    AnnRecallProbes.map { np =>
      scored.filter(col("pr") <= np)
        .orderBy(col("adc_dist2").asc, col("vec_id").asc).limit(10)
        .select("vec_id")
        .join(exact, "vec_id")
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(np).as("nprobe"), lit(10).as("k"), col("n_overlap"),
          Num.r(col("n_overlap") / 10.0, 4).as("recall_at_10"))
    }.reduce(_ unionAll _)
  }

  val annRecallSql: String = {
    val arms = AnnRecallProbes.map { np =>
      s"""SELECT $np AS nprobe, 10 AS k, CAST(count(*) AS BIGINT) AS n_overlap,
         |       ${Num.rSql("count(*) / 10.0", 4)} AS recall_at_10
         |FROM (${ivfPqSearchSql(np, 10)}) a JOIN exact USING (vec_id)""".stripMargin
    }
    s"""WITH $ivfPqCtesSql,
       |exact AS (
       |  SELECT vec_id FROM (
       |    SELECT e.vec_id FROM e CROSS JOIN qv2 WHERE e.vec_id <> $PqQueryId
       |    ORDER BY ${Num.rSql(d2Sql("e.v", "qv2.v"), 6)} ASC, e.vec_id ASC LIMIT 10))
       |${arms.mkString("\nUNION ALL\n")}""".stripMargin
  }

  val ivfPqProbedSql: String =
    s"""WITH $ivfPqCtesSql
       |${ivfPqSearchSql(IvfPqNProbe, 10)}""".stripMargin

  /** DCG weights 1/log2(rank+1) for ranks 1..10, computed ONCE in Scala
    * and embedded as the same literal doubles in both engines (neither
    * engine evaluates a log — Java's Math.log and DuckDB's libm may
    * differ by an ulp; a shared literal cannot). IdcgAt10 is their fixed-
    * order sum, the ideal DCG when all 10 results are relevant.
    */
  val DcgWeights: Seq[Double] =
    (1 to 10).map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0)))

  /** Ideal DCG@10, snapped to a 1e-12 grid BEFORE embedding: the raw sum
    * toString's to 17 digits, which DuckDB parses as DECIMAL(18,17) whose
    * →DOUBLE conversion can drift an ulp from Spark's direct parse (the
    * Benford-constant trap, CLAUDE.md). The snapped value's short literal
    * converts exactly in both engines; 1e-12 ≪ the 1e-6 output round. */
  val IdcgAt10: Double = math.rint(DcgWeights.sum * 1e12) / 1e12

  /** Full retrieval-quality report for the IVF-PQ index: recall@10, MRR,
    * and binary-relevance nDCG@10 against the exact L2 top-10, one row
    * per probe tier — the evaluation table a vector-index deployment
    * publishes next to its latency numbers (recall says how much truth
    * the probe finds, MRR/nDCG say how well it ORDERS what it finds).
    * Same one-scan shape as q_ann_recall ([[pqEval]]): each tier is a
    * filter + rank over the tiny checkpointed candidate set (bounded by
    * the index's probe budget, never the corpus). Ranks assign over rounded distances with an id
    * tiebreak; DCG weights are shared literals (see DcgWeights).
    */
  def retrievalMetrics(spark: SparkSession, dir: String): DataFrame = {
    val (exact, scored) = pqEval(spark, dir)
    val wA = org.apache.spark.sql.expressions.Window
      .orderBy(col("adc_dist2").asc, col("vec_id").asc)
    AnnRecallProbes.map { np =>
      scored.filter(col("pr") <= np)
        .withColumn("arank", row_number().over(wA))
        .filter(col("arank") <= 10)
        .join(exact, "vec_id")
        .agg(count(lit(1)).as("n_overlap"),
          min(col("arank")).as("minr"),
          sum(element_at(typedLit(DcgWeights), col("arank"))).as("dcg"))
        .select(lit(np).as("nprobe"), lit(10).as("k"), col("n_overlap"),
          Num.r(col("n_overlap") / 10.0, 4).as("recall_at_10"),
          Num.r(coalesce(lit(1.0) / col("minr"), lit(0.0)), 6).as("mrr"),
          Num.r(coalesce(col("dcg"), lit(0.0)) / lit(IdcgAt10), 6)
            .as("ndcg_at_10"))
    }.reduce(_ unionAll _)
  }

  val retrievalMetricsSql: String = {
    val ws = DcgWeights.mkString("[", ", ", "]")
    val arms = AnnRecallProbes.map { np =>
      s"""SELECT $np AS nprobe, 10 AS k,
         |       CAST(count(*) AS BIGINT) AS n_overlap,
         |       ${Num.rSql("count(*) / 10.0", 4)} AS recall_at_10,
         |       ${Num.rSql("coalesce(1.0 / min(arank), 0.0)", 6)} AS mrr,
         |       ${Num.rSql(s"coalesce(sum(($ws::DOUBLE[])[arank]), 0.0) / $IdcgAt10", 6)} AS ndcg_at_10
         |FROM (SELECT vec_id,
         |             row_number() OVER (ORDER BY adc_dist2 ASC, vec_id ASC) AS arank
         |      FROM (${ivfPqSearchSql(np, 10)}) s) a
         |JOIN exact USING (vec_id)""".stripMargin
    }
    s"""WITH $ivfPqCtesSql,
       |exact AS (
       |  SELECT vec_id FROM (
       |    SELECT e.vec_id FROM e CROSS JOIN qv2 WHERE e.vec_id <> $PqQueryId
       |    ORDER BY ${Num.rSql(d2Sql("e.v", "qv2.v"), 6)} ASC, e.vec_id ASC LIMIT 10))
       |${arms.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** SemDeDup-style semantic near-duplicate detection (Abbas et al.
    * 2023): cluster the embedding space with the trained k-means
    * codebook, then compare pairs ONLY within a cluster — the global
    * O(n²) cosine sweep becomes Σ n_c², and k is the knob that bounds
    * per-cluster volume at corpus scale (SemDeDup's premise: semantic
    * duplicates land in the same cluster, so cross-cluster pairs need
    * never be scored). The within-cluster compare is a streaming
    * equi-join on cluster id (no per-cluster array ever materializes in
    * one task), cosine runs on the codegen'd DotProduct, and the score
    * is rounded before the threshold so both engines cut on the same
    * grid.
    */
  val SemDedupTau = 0.4

  /** `k` is THE scale knob: cells hold ~n/k vectors and the pair stage is
    * Σ C(cell, 2) ≈ n²/(2k), so k must grow with n to keep cells bounded
    * (the registered gate query keeps the oracle-pinned default k; the
    * sf10 stress measured the fixed-k failure mode — see BASELINE.md
    * "sf10 stress"). The within-cell pairs come from
    * `CellKernel.pairsAbove`, which emits each vector's qualifying pairs
    * in one loop over its cell under the cell-table budget and runs a
    * salted cell equi-join past it.
    */
  def semanticNearDup(spark: SparkSession, dir: String, k: Int = KmeansK): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val trained = graft.scale.KMeans.fit(emb, k, iters = 1)
    val cells = graft.scale.KMeans.assign(emb, trained)
      .select(col("cluster"), col("vec_id"), col("embedding"))
    CellKernel.pairsAbove(cells, SemDedupTau)
      .select(col("cluster"), col("vec_id").as("v1"), col("nbr_id").as("v2"), col("cos_sim"))
  }

  val semanticNearDupSql: String =
    s"""WITH $kmeansCtesSql,
       |asg AS (
       |  SELECT vec_id, v, cluster FROM (
       |    SELECT e.vec_id, e.v, cent.cid AS cluster,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${d2Sql("e.v", "cent.c")} ASC, cent.cid ASC) AS rn
       |    FROM e CROSS JOIN cent) WHERE rn = 1)
       |SELECT a.cluster, a.vec_id AS v1, b.vec_id AS v2,
       |       ${Num.rSql(cosSql("a.v", "b.v"), 6)} AS cos_sim
       |FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |WHERE ${Num.rSql(cosSql("a.v", "b.v"), 6)} >= $SemDedupTau""".stripMargin

  /** kNN-GRAPH construction: top-k neighbors for EVERY vector, with
    * candidates restricted to the vector's k-means cell — the IVF
    * approximation that makes all-vectors graph building tractable
    * (SemDeDup/DiverseSampling-style pipelines build exactly this
    * artifact). The quadratic term drops from n² to n²/K (K cells,
    * ~n/K per cell); at 100 TB you raise K so cells stay bounded, and
    * the per-cell compare is one loop per vector over its cell
    * (`CellKernel`) or, past its budget, a broadcast equi-join on
    * cluster followed by the bounded TopKAgg (O(n·k) state, no
    * per-vector sort). Scores are rounded BEFORE ranking with an id
    * tiebreak so rank order can't flip on an ulp.
    */
  val KnnGraphK = 3

  /** `cells` is the IVF scale knob (see semanticNearDup): the pair
    * stream is n·(n/cells), so cells must track n to keep the per-vector
    * candidate list bounded. The registered gate query keeps the fixed
    * default; BASELINE.md "sf10 stress" records the measured fixed-k
    * cost at 200k vectors and the cells-raised arm. Beyond the
    * cell-table budget of `CellKernel.topK` (its broadcast join
    * fallback), the salted-slice shuffle arm (ABBench) and the IVF-PQ
    * tier are the documented escalation.
    */
  def knnGraph(spark: SparkSession, dir: String, cells: Int = KmeansK): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val trained = graft.scale.KMeans.fit(emb, cells, iters = 1)
    CellKernel.topK(graft.scale.KMeans.assign(emb, trained)
      .select(col("cluster"), col("vec_id"), col("embedding")), KnnGraphK)
  }

  val knnGraphSql: String =
    s"""WITH $kmeansCtesSql,
       |asg AS (
       |  SELECT vec_id, v, cluster FROM (
       |    SELECT e.vec_id, e.v, cent.cid AS cluster,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${d2Sql("e.v", "cent.c")} ASC, cent.cid ASC) AS rn
       |    FROM e CROSS JOIN cent) WHERE rn = 1),
       |p AS (
       |  SELECT a.cluster, a.vec_id, b.vec_id AS nbr_id,
       |         ${Num.rSql(cosSql("a.v", "b.v"), 6)} AS cos_sim
       |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id)
       |SELECT cluster, vec_id, rank, nbr_id, cos_sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos_sim DESC, nbr_id ASC) AS rank FROM p)
       |WHERE rank <= $KnnGraphK""".stripMargin

  /** Materialize the kNN graph ONCE as a parquet edge artifact and hand
    * back the reader — the shared-build form the graph family consumes
    * (VERDICT r9 #2; the IvfPq.codes / DedupIndex precedent). At the
    * sf10 stress q_pagerank (152.5 s), q_triangle_count (105.8),
    * q_graph_coherence (97.1) and q_knn_graph (95.0) each re-ran the
    * same ~95 s cell-join floor — ~25% of the full sweep — because each
    * registration is a self-contained query. A production fleet builds
    * the edge relation once per corpus snapshot and every graph query
    * runs Θ(edges) against the parquet: [[pagerankOn]],
    * [[triangleStatsOf]] and [[graphCoherenceOn]] take the edge
    * relation as input, and GraphArtifactSpec pins their result
    * equality with the composed single-query registrations (which stay
    * registered for oracle parity). The artifact keeps knnGraph's FULL
    * schema (cluster, vec_id, rank, nbr_id, cos_sim): consumers
    * column-prune at the scan, and the relation doubles as the
    * q_knn_graph result itself.
    */
  def knnGraphBuild(spark: SparkSession, dir: String, path: String,
      cells: Int = KmeansK): DataFrame = {
    knnGraph(spark, dir, cells).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** Incremental ANN maintenance — the q_delta_dedup operating mode
    * applied to the vector tier: a DELTA of new vectors is searched
    * against the persisted corpus without reshuffling it. The trained
    * coarse codebook (driver-held, same k-means tier) assigns both sides
    * as a pure projection; each delta vector's top-k comes from one loop
    * over its cell of the broadcast history or, past the cell-table
    * budget, from the delta riding as a BROADCAST against one scan of
    * the history's assigned vectors, ranked by the bounded TopKAgg. At
    * 100 TB the history is only ever scanned (filter-pruned to probed
    * cells via the persisted IVF-PQ codes table in the production
    * layout), never shuffled, and each increment's cost is proportional
    * to the increment. Delta = every 10th vector re-embedded under a new
    * id (deterministic, oracle-expressible).
    */
  def knnDelta(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val trained = graft.scale.KMeans.fit(emb, KmeansK, iters = 1)
    val hist = graft.scale.KMeans.assign(emb, trained)
      .select(col("cluster"), col("vec_id"), col("embedding"))
    val deltaRaw = emb.filter(col("vec_id") % 10 === 0)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val delta = graft.scale.KMeans.assign(deltaRaw, trained)
      .select(col("cluster"), col("vec_id").as("q_id"), col("embedding"))
    // the cross form keeps a history row whose id equals the q_id, as
    // the oracle's join does
    CellKernel.topK(delta, hist, KnnGraphK).withColumnRenamed("nbr_id", "vec_id")
  }

  val knnDeltaSql: String =
    s"""WITH $kmeansCtesSql,
       |asg AS (
       |  SELECT vec_id, v, cluster FROM (
       |    SELECT e.vec_id, e.v, cent.cid AS cluster,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${d2Sql("e.v", "cent.c")} ASC, cent.cid ASC) AS rn
       |    FROM e CROSS JOIN cent) WHERE rn = 1),
       |delta AS (SELECT vec_id + 1000000 AS q_id, v AS qv FROM e WHERE vec_id % 10 = 0),
       |dasg AS (
       |  SELECT q_id, qv, cluster FROM (
       |    SELECT delta.q_id, delta.qv, cent.cid AS cluster,
       |           row_number() OVER (PARTITION BY delta.q_id
       |             ORDER BY ${d2Sql("delta.qv", "cent.c")} ASC, cent.cid ASC) AS rn
       |    FROM delta CROSS JOIN cent) WHERE rn = 1),
       |p AS (
       |  SELECT asg.cluster, dasg.q_id, asg.vec_id,
       |         ${Num.rSql(cosSql("asg.v", "dasg.qv"), 6)} AS cos_sim
       |  FROM asg JOIN dasg ON asg.cluster = dasg.cluster)
       |SELECT cluster, q_id, rank, vec_id, cos_sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos_sim DESC, vec_id ASC) AS rank FROM p)
       |WHERE rank <= $KnnGraphK""".stripMargin

  /** PageRank damping factor and fixed iteration count — identical
    * literals in both engines; fixed iterations keep the operator
    * oracle-expressible (the SQL unrolls the same loop). */
  val PrDamping = 0.85
  val PrIters = 3

  /** PageRank centrality over the kNN similarity graph — graph-native
    * "representativeness" scoring for curation (a document many near
    * neighbors point at is a cluster center; isolated documents rank at
    * the teleport floor). Power iteration as data-parallel relational
    * algebra: each round is one edges⋈rank join, one sum-per-dst
    * aggregate, and one outer join back onto the vertex set — no driver
    * state beyond the loop counter, no per-vertex sequencing, so a round
    * is the same three shuffles at any graph size. Mass from dangling
    * vertices (a cluster of one has no out-edges) is dropped, not
    * redistributed — the standard simplification, applied identically in
    * the oracle.
    *
    * Cross-engine determinism: per-edge contributions pr/deg are IEEE
    * divisions of identical inputs; each round snaps the inbound sum to
    * 1e-12 and the new rank to 1e-9 (Num grid rule), so round k+1 starts
    * from bit-identical ranks in both engines and the final top-20
    * cannot flip on an accumulation ulp.
    */
  def pagerank(spark: SparkSession, dir: String): DataFrame =
    pagerankOn(Tables.embeddings(spark, dir),
      knnGraph(spark, dir).select(col("vec_id").as("src"), col("nbr_id").as("dst")))

  /** PageRank over a CALLER-SUPPLIED edge relation `(src, dst)` — the
    * shared-artifact form (VERDICT r9 #2, the DedupIndex precedent): at
    * the sf10 stress each graph registration rebuilt the same ~95 s
    * kNN-graph cell join, 4× per sweep ≈ 25% of the whole run. The
    * production pattern is [[knnGraphBuild]] once, then every graph
    * consumer reads the edge parquet; the composed [[pagerank]] stays
    * registered for oracle parity and delegates here.
    */
  private[graft] def pagerankOn(emb: DataFrame, edges0: DataFrame): DataFrame = {
    // The power loop consumes edges 2×/iteration (message join + the
    // out-degree side); persist whatever plan produced them so neither a
    // composed cell-join nor a parquet read re-runs per step.
    val edges = edges0.select(col("src"), col("dst")).persist()
    edges.count()
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val verts = emb.select(col("vec_id"))
      .crossJoin(broadcast(emb.agg(count(lit(1)).as("nv"))))
    var pr = verts.select(col("vec_id"), (lit(1.0) / col("nv")).as("pr"))
    for (_ <- 1 to PrIters) {
      val contrib = edges
        .join(pr.select(col("vec_id").as("src"), col("pr")), "src")
        .join(outdeg, "src")
        .groupBy(col("dst"))
        .agg(Num.r(sum(col("pr") / col("deg")), 12).as("m"))
      pr = verts.join(contrib, verts("vec_id") === contrib("dst"), "left")
        .select(verts("vec_id"),
          Num.r(lit(1.0 - PrDamping) / col("nv") +
            lit(PrDamping) * coalesce(col("m"), lit(0.0)), 9).as("pr"))
    }
    // Materialize the (20-row) result eagerly so the edges cache can be
    // released before returning — otherwise the persisted kNN graph
    // lingers in executor memory for the rest of the session.
    val out = pr.orderBy(col("pr").desc, col("vec_id")).limit(20).localCheckpoint()
    edges.unpersist()
    out
  }

  val pagerankSql: String = {
    val iters = (1 to PrIters).map { i =>
      val prev = if (i == 1) "prr0" else s"prr${i - 1}"
      s"""cc$i AS (
         |  SELECT edg.dst, ${Num.rSql("sum(p.pr / odeg.deg)", 12)} AS m
         |  FROM edg JOIN $prev p ON edg.src = p.vec_id
         |  JOIN odeg ON edg.src = odeg.src
         |  GROUP BY 1),
         |prr$i AS (
         |  SELECT vv.vec_id,
         |         ${Num.rSql(s"${1.0 - PrDamping} / nn.n + $PrDamping * coalesce(c.m, 0.0)", 9)} AS pr
         |  FROM vv CROSS JOIN nn LEFT JOIN cc$i c ON vv.vec_id = c.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH gg AS MATERIALIZED ($knnGraphSql),
       |edg AS (SELECT vec_id AS src, nbr_id AS dst FROM gg),
       |odeg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edg GROUP BY 1),
       |vv AS (SELECT vec_id FROM embeddings),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
       |prr0 AS (SELECT vv.vec_id, 1.0 / nn.n AS pr FROM vv CROSS JOIN nn),
       |$iters
       |SELECT vec_id, pr FROM prr$PrIters ORDER BY pr DESC, vec_id LIMIT 20""".stripMargin
  }

  /** Exact triangle count + global transitivity over an undirected edge
    * relation — the local-structure audit of a similarity graph (a
    * well-clustered embedding space closes its wedges; transitivity
    * collapsing between snapshots flags representation drift that
    * centroid shift alone misses). Degree-ordered orientation (each edge
    * points from its lexicographically-smaller (deg, id) endpoint): the
    * out-degree of every vertex is then O(√m), so the wedge self-join —
    * the quadratic term — is bounded by Σ outdeg² instead of Σ deg²
    * (the hub that breaks the naive formulation), every triangle is
    * counted exactly once, and every step is an equi-join on node ids:
    * three bounded shuffles, no per-vertex adjacency list in any single
    * task. Counts are exact integers end to end; transitivity = 3·T /
    * Σ C(deg,2) is computed as 6·T / Σ deg·(deg−1) so both operands stay
    * integer, with one final division snapped at 1e-6 (zero-wedge graph
    * CASE-guarded per the ANSI rule). The edge relation is persisted —
    * degrees, orientation, and the wedge join all reuse it, and Catalyst
    * does not CSE logical branches (CLAUDE.md rule).
    */
  /** Driver triangle-count budget in UNDIRECTED edges. Wedge work is
    * Σ outdeg² ≤ m^1.5 under degree orientation, so 300k edges bounds
    * the driver at ~1.6e8 hash probes worst-case (sub-second); the kNN
    * graphs this runs on are far below that (Θ(n·k²) wedges). Past the
    * budget the three-shuffle distributed triad join below is unchanged
    * (the sf10 graph exceeds it).
    */
  val TriCollectEdges = 300000L

  /** Exact triangle census on the driver for a certified-bounded edge
    * set (the dupClusters union-find precedent): identical
    * degree-ordered orientation, so each triangle is counted once at
    * its minimum-(deg, id) vertex exactly as the distributed wedge
    * join does; every published number is integer-derived (the one
    * division snaps at 1e-6 on integer operands), so the row is
    * bit-identical by construction, not by fp argument.
    */
  private def triangleStatsLocal(spark: SparkSession,
      rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    import spark.implicits._
    val deg = scala.collection.mutable.LongMap.empty[Long]
    rows.foreach { r =>
      deg(r.getLong(0)) = deg.getOrElse(r.getLong(0), 0L) + 1L
      deg(r.getLong(1)) = deg.getOrElse(r.getLong(1), 0L) + 1L
    }
    var w2 = 0L
    deg.foreachValue(d => w2 += d * (d - 1))
    def lt(x: Long, y: Long): Boolean = {
      val dx = deg(x); val dy = deg(y)
      dx < dy || (dx == dy && x < y)
    }
    val adj = scala.collection.mutable.LongMap
      .empty[scala.collection.mutable.ArrayBuffer[Long]]
    val oset = scala.collection.mutable.HashSet.empty[(Long, Long)]
    rows.foreach { r =>
      val a = r.getLong(0); val b = r.getLong(1)
      val (u, v) = if (lt(a, b)) (a, b) else (b, a)
      adj.getOrElseUpdate(u,
        scala.collection.mutable.ArrayBuffer.empty[Long]) += v
      oset += ((u, v))
    }
    var t = 0L
    adj.foreachValue { vs =>
      var i = 0
      while (i < vs.length) {
        var j = i + 1
        while (j < vs.length) {
          val (x, y) = if (lt(vs(i), vs(j))) (vs(i), vs(j)) else (vs(j), vs(i))
          if (oset.contains((x, y))) t += 1
          j += 1
        }
        i += 1
      }
    }
    val trans: Option[Double] =
      if (w2 != 0L) Some(Num.rd(6.0 * t / w2, 6)) else None
    Seq((deg.size.toLong, rows.length.toLong, t, trans))
      .toDF("n_nodes", "n_edges", "n_triangles", "transitivity")
  }

  private[graft] def triangleStatsOf(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct().persist()
    // CERTIFIED-BOUNDED fast path (VERDICT r12 #6, generalized): the
    // count certificate doubles as cache materialization; under budget
    // the whole triad pipeline (two endpoint joins + wedge self-join +
    // closing join + three rollup aggregates, ~10 exchanges of fixed
    // overhead on a Θ(n·k) relation) collapses to one collect.
    try Bounded(und.sparkSession, TriCollectEdges)(Bounded.longRows(und))(
      triangleStatsLocal(und.sparkSession, und.collect())) {
      val deg = und.select(col("a").as("nid"))
        .unionByName(und.select(col("b").as("nid")))
        .groupBy(col("nid")).agg(count(lit(1)).as("deg"))
      // deg has one row per VERTEX — broadcastable at gate scale but not at
      // 100 TB, so both endpoint lookups are plain equi-joins (AQE may
      // still choose broadcast when the graph is small)
      val o = und
        .join(deg.select(col("nid").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("nid").as("b"), col("deg").as("db")), "b")
        .select(
          when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
            struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
            .otherwise(struct(col("b").as("u"), col("a").as("v"), col("da").as("dv")))
            .as("o"))
        .select(col("o.u").as("u"), col("o.v").as("v"), col("o.dv").as("dv"))
        .persist()
      val wedges = o.select(col("u"), col("v").as("wa"), col("dv").as("dva"))
        .join(o.select(col("u"), col("v").as("wb"), col("dv").as("dvb")), "u")
        .filter(col("dva") < col("dvb") ||
          (col("dva") === col("dvb") && col("wa") < col("wb")))
        .select(col("wa"), col("wb"))
      val tri = wedges
        .join(o.select(col("u").as("wa"), col("v").as("wb")), Seq("wa", "wb"))
        .agg(count(lit(1)).as("n_triangles"))
      val nodes = deg.agg(count(lit(1)).as("n_nodes"),
        sum(col("deg") * (col("deg") - 1)).as("w2"))
      val nEdges = und.agg(count(lit(1)).as("n_edges"))
      val out = nodes.crossJoin(nEdges).crossJoin(tri)
        .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
          when(col("w2") =!= 0,
            Num.r((lit(6L) * col("n_triangles")).cast("double") /
              col("w2").cast("double"), 6)).as("transitivity"))
        .localCheckpoint()
      o.unpersist()
      out
    } finally und.unpersist()
  }

  /** Triangle census of the kNN similarity graph (edges undirected from
    * the directed top-k relation).
    */
  def triangleCount(spark: SparkSession, dir: String): DataFrame =
    triangleStatsOf(knnGraph(spark, dir)
      .select(col("vec_id").as("a"), col("nbr_id").as("b")))

  val triangleCountSql: String =
    s"""WITH gg AS MATERIALIZED ($knnGraphSql),
       |und AS MATERIALIZED (SELECT DISTINCT least(vec_id, nbr_id) AS a,
       |                        greatest(vec_id, nbr_id) AS b FROM gg),
       |deg AS MATERIALIZED (SELECT nid, CAST(count(*) AS BIGINT) AS deg FROM (
       |          SELECT a AS nid FROM und UNION ALL SELECT b FROM und)
       |        GROUP BY 1),
       |e AS (SELECT und.a, und.b, x.deg AS da, y.deg AS db
       |      FROM und JOIN deg x ON und.a = x.nid JOIN deg y ON und.b = y.nid),
       |o AS MATERIALIZED (SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
       |             CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS v,
       |             CASE WHEN da < db OR (da = db AND a < b) THEN db ELSE da END AS dv
       |      FROM e),
       |w AS (SELECT x.v AS wa, y.v AS wb
       |      FROM o x JOIN o y ON x.u = y.u
       |      WHERE x.dv < y.dv OR (x.dv = y.dv AND x.v < y.v)),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
       |      FROM w JOIN o ON w.wa = o.u AND w.wb = o.v),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       |              CAST(sum(deg * (deg - 1)) AS BIGINT) AS w2 FROM deg),
       |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM und)
       |SELECT n_nodes, n_edges, n_triangles,
       |       CASE WHEN w2 <> 0
       |            THEN ${Num.rSql(
      "CAST(6 * n_triangles AS DOUBLE) / CAST(w2 AS DOUBLE)", 6)}
       |       END AS transitivity
       |FROM nn CROSS JOIN ne CROSS JOIN t""".stripMargin

  /** Neighborhood-coherence outliers: for every vector, the cosine
    * between its embedding and the MEAN of its kNN neighbors' embeddings
    * — one round of GraphSAGE-style mean aggregation used as an audit
    * signal. A low-coherence vector sits in a neighborhood that
    * disagrees with it: a mislabeled document, a boundary point between
    * clusters, or an embedding-pipeline glitch — exactly the review
    * queue a SemDeDup-style curation run wants ranked. Bottom-20
    * reported.
    *
    * Scale shape: message passing as relational algebra — one
    * edges⋈embeddings equi-join, one VecSumAgg per vertex (fixed
    * dim-doubles state, no dim× row expansion), one join back for the
    * self side, and the bounded TopKAgg on the NEGATED score for the
    * bottom-k (no corpus-wide sort). Mean components snap on the 1e-9
    * grid before the cosine (k-neighbor float sums can differ by an ulp
    * in accumulation order across engines), and the final score rounds
    * at 1e-6 BEFORE ranking with the id tiebreak.
    */
  def graphCoherence(spark: SparkSession, dir: String): DataFrame =
    graphCoherenceOn(Tables.embeddings(spark, dir),
      knnGraph(spark, dir).select(col("vec_id"), col("nbr_id")))

  /** Coherence over a caller-supplied edge relation `(vec_id, nbr_id)` —
    * the shared-artifact sibling (see [[pagerankOn]]); single-pass over
    * the edges, so no persist is needed here.
    */
  private[graft] def graphCoherenceOn(emb: DataFrame, edges0: DataFrame): DataFrame = {
    val edges = edges0.select(col("vec_id"), col("nbr_id"))
    val meanV = edges
      .join(emb.select(col("vec_id").as("nbr_id"), col("embedding").as("nbr_emb")),
        "nbr_id")
      .groupBy(col("vec_id"))
      .agg(graft.scale.VecSum.vecSum(col("nbr_emb")).as("vs"))
      .select(col("vec_id"),
        transform(col("vs.sums"), x => Num.r(x / col("vs.n"), 9)).as("m"))
    val den = Similarity.norm(col("embedding")) * Similarity.norm(col("m"))
    val scored = meanV
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("vec_id"),
        Num.r(when(den > 0,
          Similarity.dot(col("embedding"), col("m")) / den).otherwise(0.0), 6)
          .as("coherence"))
    scored
      .agg(graft.scale.TopK.topK(col("coherence") * lit(-1.0), col("vec_id"), 20)
        .as("top"))
      .select(posexplode(col("top")).as(Seq("rank0", "e")))
      .select((col("rank0") + 1).as("rank"), col("e.id").as("vec_id"),
        Num.r(col("e.score") * lit(-1.0), 6).as("coherence"))
  }

  val graphCoherenceSql: String =
    s"""WITH gg AS MATERIALIZED ($knnGraphSql),
       |e AS (SELECT vec_id, $dblEmb AS v FROM embeddings),
       |nm AS (
       |  SELECT g.vec_id, t.i, ${Num.rSql("avg(e.v[i])", 9)} AS mu
       |  FROM gg g JOIN e ON e.vec_id = g.nbr_id CROSS JOIN range(1, 65) t(i)
       |  GROUP BY 1, 2),
       |mv AS (SELECT vec_id, array_agg(mu ORDER BY i) AS m FROM nm GROUP BY 1),
       |sc AS (
       |  SELECT e.vec_id, ${Num.rSql(cosSql("e.v", "mv.m"), 6)} AS coherence
       |  FROM mv JOIN e ON mv.vec_id = e.vec_id)
       |SELECT rank, vec_id, coherence FROM (
       |  SELECT vec_id, coherence,
       |         row_number() OVER (ORDER BY coherence ASC, vec_id ASC) AS rank
       |  FROM sc)
       |WHERE rank <= 20""".stripMargin

  /** Deterministic 3-way train/val/test split (80/10/10) from the md5 of
    * the TEXT (same stable-bucket construction as q_corpus_sample: exact
    * duplicates land in the same split, re-runs are reproducible across
    * engines and cluster sizes). Pure map-side assignment, one
    * accounting aggregate.
    */
  def splitAssign(spark: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long") % 100
    val split = when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    Tables.documents(spark, dir)
      .select(col("source"), split.as("split"), col("n_chars"), col("doc_id"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        min(col("doc_id")).as("min_doc_id"))
  }

  val splitAssignSql: String =
    """SELECT source,
      |       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
      |       count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS n_chars,
      |       min(doc_id) AS min_doc_id
      |FROM (SELECT source, n_chars, doc_id,
      |             ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 AS b
      |      FROM documents)
      |GROUP BY 1, 2""".stripMargin

  /** Skew-safe per-user event stats via salted two-stage aggregation.
    * `events.user_id` has only ~15 distinct values at every SF — a plain
    * groupBy funnels all 100 TB through ≤15 final tasks for the distinct
    * count. Salting on hash(event_id) spreads stage 1 over user×8 groups;
    * the per-bucket exact distinct counts sum to the true value because
    * each event_id hashes into exactly one bucket.
    */
  val SaltBuckets = 8
  def saltedUserStats(spark: SparkSession, dir: String): DataFrame =
    Partitioning.saltedTwoStage(
      Tables.events(spark, dir), Seq("user_id"), col("event_id"), SaltBuckets)(
      Seq(count(lit(1)).as("__c"), sum(col("value")).as("__s"),
        countDistinct(col("event_id")).as("__d")),
      Seq(sum(col("__c")).as("n_events"),
        sum(col("__d")).as("distinct_events"),
        Num.ssum(sum(col("__s")), 2, 2).as("sum_value")))

  val saltedUserStatsSql: String =
    s"""SELECT user_id,
       |       CAST(count(*) AS BIGINT) AS n_events,
       |       CAST(count(DISTINCT event_id) AS BIGINT) AS distinct_events,
       |       ${Num.ssumSql("sum(value)", 2, 2)} AS sum_value
       |FROM events GROUP BY user_id""".stripMargin

  /** As-of join: every event picks up the user's most recent purchase
    * at-or-before its own timestamp (inclusive — a purchase event matches
    * itself). Runs the bucketed scale path (weekly buckets) so no task
    * ever sorts one user's full history. (user_id, ts) is unique in
    * events, satisfying the right-side uniqueness contract.
    */
  def asofPurchase(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val right = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("last_purchase_ts"),
        col("value").as("last_purchase_value"))
    graft.scale.AsofJoin.asofBucketed(
      ev.select("event_id", "user_id", "ts"), right, Seq("user_id"),
      col("ts"), col("last_purchase_ts"), t => date_trunc("week", t))
      .select("event_id", "user_id", "last_purchase_ts", "last_purchase_value")
  }

  val asofPurchaseSql: String =
    """SELECT e.event_id, e.user_id, p.ts AS last_purchase_ts,
      |       p.value AS last_purchase_value
      |FROM events e ASOF LEFT JOIN
      |  (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
      |  ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin

  /** Range join: per purchase, the user's click activity in the trailing
    * 24 h, window `[ts-24h, ts)`. Bucketed equi-join (RangeJoin) — the
    * left side fans out exactly 2×; no nested-loop, no row explosion.
    * Left-outer semantics recovered by re-joining the grouped pairs onto
    * the purchase set.
    */
  def rangeClicks(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), col("value").as("c_value"))
    val pairs = graft.scale.RangeJoin.rangeJoin(
      purchases, clicks, Seq("user_id"), col("ts"), col("c_ts"), 24L * 3600 * 1000000)
    val stats = pairs.groupBy("event_id")
      .agg(count(lit(1)).as("n_prior_clicks"),
        Num.ssum(sum(col("c_value")), 2, 2).as("sum_click_value"))
    purchases.select("event_id", "user_id")
      .join(stats, Seq("event_id"), "left")
      .select(col("event_id"), col("user_id"),
        coalesce(col("n_prior_clicks"), lit(0L)).as("n_prior_clicks"),
        col("sum_click_value"))
  }

  val rangeClicksSql: String =
    s"""SELECT p.event_id, p.user_id,
       |       CAST(count(c.c_ts) AS BIGINT) AS n_prior_clicks,
       |       ${Num.ssumSql("sum(c.c_value)", 2, 2)} AS sum_click_value
       |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
       |LEFT JOIN (SELECT user_id, ts AS c_ts, value AS c_value
       |           FROM events WHERE event_type = 'click') c
       |  ON p.user_id = c.user_id
       | AND c.c_ts >= p.ts - INTERVAL 24 HOURS AND c.c_ts < p.ts
       |GROUP BY p.event_id, p.user_id""".stripMargin

  /** TF-IDF top-3 terms per document. All plan stages stay bounded: tf is
    * one (doc, term) aggregate, df one (term) aggregate, the corpus size
    * joins in as a broadcast single-row, and the per-doc ranking uses the
    * bounded TopKStrAgg heap (O(docs·k) shuffle, no per-doc full sort).
    * tfidf is rounded BEFORE ranking so the rank-order is identical in
    * both engines even if their ln() differs by an ulp.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // Term strings reach exactly ONE shuffle (the vocabulary-sized
    // th→term dictionary); the corpus-sized tf/df/score shuffles all key
    // on xxhash64 longs. Winners are resolved exactly: per doc the kth
    // score from the bounded heap is the cut, everything scoring >= it
    // survives (so boundary TIES survive — the hash order never decides a
    // rank), candidates join the dictionary, and the final bounded
    // TopKStrAgg re-ranks by (tfidf desc, term asc), identical to the
    // oracle's row_number order. The tfidf is rounded BEFORE the kth cut
    // so both engines tie on the same grid (CLAUDE.md round-before-rank).
    val toks = docs
      .select(col("doc_id"), explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.select(col("doc_id"), xxhash64(col("term")).as("th"))
      .groupBy("doc_id", "th").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("th").agg(count(lit(1)).as("df"))
    val n = broadcast(docs.agg(count(lit(1)).as("n_docs")))
    val scored = tf.join(df, "th").crossJoin(n)
      .withColumn("tfidf",
        Num.r(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
    // kth-best score per doc (min of the k-heap); ReuseExchange shares the
    // doc_id partitioning between this aggregate and the join below
    val kth = scored.groupBy("doc_id")
      .agg(array_min(graft.scale.TopK.topK(col("tfidf"), col("th"), 3)
        .getField("score")).as("kth"))
    val cands = scored.join(kth, "doc_id")
      .filter(col("tfidf") >= col("kth"))
      .select("doc_id", "th", "tfidf")
    // vocabulary-sized dictionary — the only shuffle that carries strings
    val dict = toks.select(xxhash64(col("term")).as("th"), col("term")).distinct()
    cands.join(dict, "th")
      .groupBy("doc_id")
      .agg(graft.scale.TopK.topKStr(col("tfidf"), col("term"), 3).as("top"))
      .select(col("doc_id"), posexplode(col("top")).as(Seq("rank0", "e")))
      .select(col("doc_id"), (col("rank0") + 1).as("rank"),
        col("e.id").as("term"), col("e.score").as("tfidf"))
  }

  val tfidfTopTermsSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT doc_id, term,
       |         ${Num.rSql("tf * ln(CAST(n_docs AS DOUBLE) / df)", 6)} AS tfidf
       |  FROM tf JOIN df USING (term) CROSS JOIN n)
       |SELECT doc_id, rank, term, tfidf FROM (
       |  SELECT doc_id, term, tfidf,
       |         row_number() OVER (PARTITION BY doc_id
       |                            ORDER BY tfidf DESC, term ASC) AS rank
       |  FROM scored) WHERE rank <= 3""".stripMargin

  /** BM25 ranked retrieval for a fixed query-term set (k1=1.2, b=0.75).
    * Only rows whose term is in the query survive the first filter, so
    * the scoring join touches |Q|·docs rows, never the full posting list;
    * corpus stats (Σdl, N) ride in as one broadcast row. The score is
    * rounded before ranking and ties break on doc_id, so top-10 is
    * deterministic cross-engine. Every fp constant is written as the
    * same literal in both expressions — 2.2, not k1+1, since
    * `1.2 + 1.0` and the literal `2.2` are different doubles.
    */
  val Bm25Terms = Seq("spark", "hash", "merge")
  def bm25Search(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // No term string ever reaches a shuffle: tokens hash to 64-bit longs
    // at the scan and the query terms hash to FOLDABLE literals (constant-
    // folded by Catalyst), so tf/dl/df and the scoring join all key on
    // 8-byte longs — ~3× smaller tf shuffle than string keys, branch-free
    // compares. The output carries only doc ids, so unlike the top-terms
    // queries no winner-resolve join is needed at all. tf/df/dl values are
    // unchanged by the hashing (modulo ~2⁻⁶⁴ collisions), so the score
    // doubles — and the oracle hash — are identical to the string plan.
    // ONE tokenize pass (r12): the tf/dl/qdf/stats formulation scanned +
    // tokenized the corpus FOUR times — the array_contains filter pushes
    // below the tf aggregate on two of the branches, so the subtrees
    // differ and ReuseExchange never fires (the r12 before-plan shows 4
    // Generate+Scan chains). One groupBy(doc_id) computes the doc length
    // (dl = total tokens = Σ per-term tf) and the per-query-term tf
    // columns together; everything downstream is doc-bounded arithmetic
    // on the checkpointed one-row-per-doc relation. The per-(doc, term)
    // score multiset is IDENTICAL (same tf/df/dl/sdl/nd doubles through
    // the same expression), so the final snapped sums and the oracle
    // hash are unchanged.
    val qh = Bm25Terms.map(t => xxhash64(lit(t)))
    val perDoc = docs
      .select(col("doc_id"), explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .select(col("doc_id"), xxhash64(col("term")).as("th"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("dl"),
        qh.zipWithIndex.map { case (h, k) =>
          sum(when(col("th") === h, 1L).otherwise(0L)).as(s"tf$k")
        }: _*)
      .localCheckpoint() // two consumers (stats row + scoring stream)
    val statCols = Seq(sum(col("dl")).as("sdl"), count(lit(1)).as("nd")) ++
      qh.indices.map(k =>
        sum(when(col(s"tf$k") > 0L, 1L).otherwise(0L)).as(s"df$k"))
    val stats = broadcast(perDoc.agg(statCols.head, statCols.tail: _*))
    val termRows = perDoc.crossJoin(stats)
      .select(col("doc_id"), col("dl"), col("sdl"), col("nd"),
        explode(array(qh.indices.map(k =>
          struct(col(s"tf$k").as("tf"), col(s"df$k").as("df"))): _*)).as("e"))
      .select(col("doc_id"), col("dl"), col("sdl"), col("nd"),
        col("e.tf").as("tf"), col("e.df").as("df"))
      .filter(col("tf") > 0L)
    termRows
      .withColumn("s",
        log((col("nd") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") / (col("sdl").cast("double") / col("nd")))))
      .groupBy("doc_id").agg(Num.r(sum(col("s")), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(10)
  }

  val bm25SearchSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |stats AS (SELECT CAST(sum(dl) AS DOUBLE) AS sdl, count(*) AS nd FROM dl),
       |qdf AS (SELECT term, count(*) AS df FROM tf
       |        WHERE term IN ('spark', 'hash', 'merge') GROUP BY 1),
       |scored AS (
       |  SELECT t.doc_id,
       |         ln((nd - df + 0.5) / (df + 0.5) + 1.0) *
       |         (t.tf * 2.2) /
       |         (t.tf + 1.2 * (0.25 + 0.75 * dl.dl / (sdl / nd))) AS s
       |  FROM tf t JOIN qdf USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       |  WHERE t.term IN ('spark', 'hash', 'merge'))
       |SELECT doc_id, ${Num.rSql("sum(s)", 6)} AS bm25
       |FROM scored GROUP BY doc_id
       |ORDER BY bm25 DESC, doc_id ASC LIMIT 10""".stripMargin

  /** Hybrid retrieval: the lexical (BM25) and vector (cosine) top-10
    * lists fused by reciprocal-rank fusion, rrf = Σ 1/(60 + rank) — the
    * standard way a retrieval engine combines incomparable scores
    * without calibration. Both input rankings are round-before-rank
    * deterministic with id tiebreaks, and the fusion itself uses integer
    * ranks only, so there is no fp-parity surface beyond one rounded
    * sum. At scale each retriever keeps its own plan (hashed posting
    * shuffle / broadcast query vector + one corpus scan); the fusion
    * joins two k-row relations — driver-trivial. The row_number windows
    * run over the already-LIMITed 10-row inputs, not the corpus.
    */
  val RrfK = 60
  def hybridSearch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = bm25Search(spark, dir)
      .withColumn("r_bm25", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("r_bm25"))
    val c = cosineTopK(spark, dir)
      .withColumn("r_cos", row_number().over(
        Window.orderBy(col("cos_sim").desc, col("vec_id").asc)))
      .select(col("vec_id"), col("r_cos"))
    b.join(c, col("doc_id") === col("vec_id"), "full_outer")
      .select(coalesce(col("doc_id"), col("vec_id")).as("doc_id"),
        col("r_bm25"), col("r_cos"),
        Num.r(coalesce(lit(1.0) / (lit(RrfK) + col("r_bm25")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("r_cos")), lit(0.0)), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(10)
  }

  val hybridSearchSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INT) AS r_bm25
       |  FROM ($bm25SearchSql)),
       |c AS (
       |  SELECT vec_id, CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS INT) AS r_cos
       |  FROM ($cosineTopKSql))
       |SELECT coalesce(b.doc_id, c.vec_id) AS doc_id, r_bm25, r_cos,
       |       ${Num.rSql(s"coalesce(1.0 / ($RrfK + r_bm25), 0.0) + coalesce(1.0 / ($RrfK + r_cos), 0.0)", 6)} AS rrf
       |FROM b FULL OUTER JOIN c ON b.doc_id = c.vec_id
       |ORDER BY rrf DESC, doc_id ASC LIMIT 10""".stripMargin

  /** int8 scalar quantization round-trip summary per vector. Integer
    * outputs (sum/min/max of the codes) keep the oracle compare exact —
    * the fp quantization formula is written identically in both engines
    * and floor() snaps it before any cross-engine drift can matter;
    * reconstruction-error bounds are asserted in QuantizeSpec.
    */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame =
    graft.scale.Quantize.quantize(
      Tables.embeddings(spark, dir).select("vec_id", "embedding"), "embedding")
      .select(col("vec_id"),
        expr("CAST(aggregate(q, CAST(0 AS BIGINT), (a, v) -> a + v) AS BIGINT)").as("q_sum"),
        expr("array_min(q)").as("q_min"), expr("array_max(q)").as("q_max"))

  val embedQuantizeSql: String =
    s"""WITH e AS (SELECT vec_id, $dblEmb AS v FROM embeddings),
       |dims AS (
       |  SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
       |  FROM e CROSS JOIN range(1, 65) t(i) GROUP BY i),
       |stats AS (SELECT array_agg(mn ORDER BY i) AS mins,
       |                 array_agg(mx ORDER BY i) AS maxs FROM dims),
       |q AS (
       |  SELECT vec_id, list_transform(range(1, len(v) + 1), i ->
       |    CASE WHEN maxs[i] > mins[i]
       |      THEN CAST(floor((v[i] - mins[i]) / (maxs[i] - mins[i]) * 255.0 + 0.5) AS INT) - 128
       |      ELSE 0 END) AS q
       |  FROM e CROSS JOIN stats)
       |SELECT vec_id, CAST(list_sum(q) AS BIGINT) AS q_sum,
       |       CAST(list_min(q) AS INT) AS q_min, CAST(list_max(q) AS INT) AS q_max
       |FROM q""".stripMargin

  /** Sliding-window document chunking: 32-token windows every 24 tokens
    * (8-token overlap), tail windows retained. Pure map-side HOFs — the
    * only shuffle anywhere downstream is whatever consumes the chunks.
    * chunk_md5 stands in for chunk text so the oracle rows stay narrow.
    */
  val ChunkSize = 32
  val ChunkStep = 24
  def docChunks(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(w), $ChunkStep), s -> slice(w, s, $ChunkSize))"))
        .as(Seq("chunk_idx", "c")))
      .select(col("doc_id"), col("chunk_idx").cast("int").as("chunk_idx"),
        size(col("c")).as("n_tokens"),
        md5(array_join(col("c"), " ")).as("chunk_md5"))

  val docChunksSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents)
       |SELECT doc_id, CAST((s - 1) // $ChunkStep AS INT) AS chunk_idx,
       |       CAST(len(w[s : s + ${ChunkSize - 1}]) AS INT) AS n_tokens,
       |       md5(array_to_string(w[s : s + ${ChunkSize - 1}], ' ')) AS chunk_md5
       |FROM toks CROSS JOIN unnest(range(1, len(w) + 1, $ChunkStep)) AS t(s)""".stripMargin

  /** Deterministic sequence packing: greedy running-sum binning of docs
    * into ~256-token context windows, per source (bin = exclusive
    * cumulative length div capacity — the streaming-pack approximation;
    * a bin may overflow by at most one doc). The window partitions by
    * source, so max task = one source's catalog, not the corpus.
    */
  val PackCap = 256
  def seqPacking(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("n_tok"))
      .withColumn("cumx", sum(col("n_tok")).over(w) - col("n_tok"))
      .selectExpr("source", s"cumx div $PackCap AS bin", "n_tok")
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
  }

  val seqPackingSql: String =
    s"""WITH d AS (
       |  SELECT source, doc_id,
       |         len(string_split_regex(trim(text), '\\s+')) AS n_tok
       |  FROM documents),
       |c AS (
       |  SELECT source, n_tok,
       |         sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS cumx
       |  FROM d)
       |SELECT source, CAST(cumx // $PackCap AS BIGINT) AS bin,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tok) AS BIGINT) AS total_tokens
       |FROM c GROUP BY 1, 2""".stripMargin

  /** The end-to-end "prepare training shards" flagship: curation gates
    * (language + quality, map-side) → exact dedup (grouped digest
    * argmin) → deterministic 3-way split keyed on the digest the dedup
    * already carries (no second pass over text) → greedy sequence
    * packing per (split, source) → shard accounting (docs, tokens,
    * bins, fill ratio). Every stage is an already-verified operator;
    * the composition is the artifact-materialization run a training
    * pipeline schedules nightly. Three shuffles end to end: the digest
    * argmin, the pack window on (split, source) — max task one
    * split-source catalog, never the corpus — and the final accounting
    * aggregate.
    */
  def trainingShards(spark: SparkSession, dir: String): DataFrame =
    packedCanonical(spark, dir)
      .groupBy("split", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        countDistinct(col("bin")).as("n_bins"),
        min(col("doc_id")).as("min_doc_id"),
        Num.r(sum(col("n_tokens")).cast("double") /
          (countDistinct(col("bin")) * lit(PackCap)), 4).as("fill_ratio"))

  /** The curate→dedup→split→pack relation trainingShards aggregates —
    * one row per surviving canonical doc with its (split, source, bin)
    * shard assignment and digest (shared with q_shard_manifest).
    */
  private def packedCanonical(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val scored = Tables.documents(spark, dir).select(
      col("doc_id"), col("source"),
      TextAnalysis.language(t).as("language"),
      graft.functions.Scoring.completenessScore(t).as("quality"),
      TextAnalysis.bpeTokenCount(t).as("n_tokens"),
      md5(t).as("digest"))
    val kept = scored.filter(col("language") === "english" && col("quality") >= 60.0)
    val canonical = kept
      .groupBy(col("digest"))
      .agg(min(struct(col("doc_id"), col("source"), col("n_tokens"))).as("c"))
      .select(col("digest"), col("c.doc_id").as("doc_id"),
        col("c.source").as("source"), col("c.n_tokens").as("n_tokens"))
    val bucket = conv(substring(col("digest"), 1, 8), 16, 10).cast("long") % 100
    val split3 = canonical.withColumn("split",
      when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("split", "source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    split3
      .withColumn("cumx", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .selectExpr("split", "source", s"cumx div $PackCap AS bin", "n_tokens",
        "doc_id", "digest")
  }

  /** Per-SHARD manifest — the integrity artifact next to the
    * q_training_shards accounting: one row per (split, source, bin)
    * with doc/token counts, fill ratio, and an ORDER-INDEPENDENT
    * content checksum (bit_xor over the 52-bit digest prefixes of the
    * members — any engine, any partitioning, any row order reproduces
    * it, and a single changed/missing member flips it). This is what a
    * consumer diffs to detect a corrupted or stale shard without
    * re-reading text.
    */
  def shardManifest(spark: SparkSession, dir: String): DataFrame =
    packedCanonical(spark, dir)
      .select(col("split"), col("source"), col("bin"), col("n_tokens"),
        col("doc_id"),
        conv(substring(col("digest"), 1, 13), 16, 10).cast("long").as("dh"))
      .groupBy("split", "source", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("min_doc_id"),
        expr("bit_xor(dh)").as("checksum"),
        Num.r(sum(col("n_tokens")).cast("double") / lit(PackCap), 4)
          .as("fill_ratio"))

  /** Shared CTE prefix ending in the packed relation `c` (split, source,
    * doc_id, n_tokens, digest, cumx) — the SQL analog of packedCanonical.
    */
  private def shardCtesSql: String = {
    val re = TextAnalysis.BpeTokenRe
    s"""WITH scored AS (
       |  SELECT doc_id, source,
       |         ${langSql("text")} AS language,
       |         ${completenessSql("text")} AS quality,
       |         len(regexp_extract_all(text, '$re')) AS n_tokens,
       |         md5(text) AS digest
       |  FROM documents),
       |kept AS (SELECT * FROM scored WHERE language = 'english' AND quality >= 60.0),
       |canonical AS (
       |  SELECT digest, doc_id, source, n_tokens FROM (
       |    SELECT *, row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
       |    FROM kept) WHERE rn = 1),
       |sp AS (
       |  SELECT *, CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT *, ('0x' || substr(digest, 1, 8))::BIGINT % 100 AS b FROM canonical)),
       |c AS (
       |  SELECT split, source, doc_id, n_tokens, digest,
       |         sum(n_tokens) OVER (PARTITION BY split, source ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cumx
       |  FROM sp)""".stripMargin
  }

  val trainingShardsSql: String =
    s"""$shardCtesSql
       |SELECT split, source,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |       CAST(count(DISTINCT cumx // $PackCap) AS BIGINT) AS n_bins,
       |       min(doc_id) AS min_doc_id,
       |       ${Num.rSql(s"CAST(sum(n_tokens) AS DOUBLE) / (count(DISTINCT cumx // $PackCap) * $PackCap)", 4)} AS fill_ratio
       |FROM c GROUP BY 1, 2""".stripMargin

  val shardManifestSql: String =
    s"""$shardCtesSql
       |SELECT split, source, CAST(cumx // $PackCap AS BIGINT) AS bin,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |       min(doc_id) AS min_doc_id,
       |       bit_xor(('0x' || substr(digest, 1, 13))::BIGINT) AS checksum,
       |       ${Num.rSql(s"CAST(sum(n_tokens) AS DOUBLE) / $PackCap", 4)} AS fill_ratio
       |FROM c GROUP BY 1, 2, 3""".stripMargin

  /** Word-3-gram distinct shingles per doc as (doc_id, s) — shared by the
    * decontamination paths. Shingle definition matches the Jaccard tier
    * (trim + whitespace split, 3-word windows).
    */
  private def wordTriShingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"), explode(Winnow.wordGrams(col("w"), 3)).as("s"))
      .distinct()

  /** The eval-overlap flag of the decontamination paths. `units` and
    * `evalUnits` are (doc_id, unit) relations, one row per distinct unit
    * of a doc (shingles, fingerprints). Returns, for every doc of `units`
    * holding a unit of the eval set, (doc_id, n, hits, ratio) with the
    * count columns named `n` and `hits`.
    *
    * The eval set is a parameter precisely because at 100 TB the broadcast
    * side must be bounded by the BENCHMARK's size, not the corpus's: eval
    * units are built from the eval table alone (real benchmark suites are
    * a few MB next to a training corpus), broadcast, and probed map-side.
    * The only corpus-wide shuffle is the per-doc aggregate.
    */
  private def evalOverlap(units: DataFrame, evalUnits: DataFrame,
      n: String, hits: String): DataFrame = {
    val ev = broadcast(evalUnits.toDF("doc_id", "ev_u").select(col("ev_u")).distinct())
    units.toDF("doc_id", "u").join(ev, col("u") === col("ev_u"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as(n), count(col("ev_u")).as(hits))
      .filter(col(hits) > 0)
      .select(col("doc_id"), col(n), col(hits),
        Num.r(col(hits).cast("double") / col(n), 6).as("ratio"))
  }

  /** Registered testdata wiring of the decontamination queries: with no
    * benchmark suite shipped in the test environment, every 25th doc
    * stands in as the eval table. The `% 25` synthesis lives HERE
    * (testdata only), not in the operators — their broadcast side is
    * still built from the eval-table parameter.
    */
  private def againstEvery25th(against: (DataFrame, DataFrame) => DataFrame)(
      spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    against(docs, docs.filter(col("doc_id") % 25 === 0))
  }

  /** Benchmark decontamination against an EXTERNAL eval table: flag corpus
    * docs sharing word-3-gram shingles with `evalDocs` (doc_id, text).
    */
  def decontaminateAgainst(docs: DataFrame, evalDocs: DataFrame): DataFrame =
    evalOverlap(wordTriShingles(docs), wordTriShingles(evalDocs), "n_shingles", "n_overlap")

  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    againstEvery25th(decontaminateAgainst)(spark, dir)

  /** Decontamination for eval sets TOO BIG to broadcast exactly: a Bloom
    * filter over the eval shingle hashes gates the corpus map-side
    * (scale/Bloom — ~1.2 bytes/shingle at 1% fpp vs many GB of exact
    * strings), and only the survivors — true overlaps + the fpp sliver —
    * enter a shuffle join with the eval relation for EXACT verification.
    * Same sketch→exact-verify discipline as the lossy heavy hitters: the
    * sketch bounds the work, the verify pass makes the OUTPUT exact, so
    * this carries the same oracle SQL as q_decontaminate. The per-doc
    * n_shingles aggregate is the only corpus-wide shuffle, as before.
    */
  val BloomDecontaminateFpp = 0.01
  def decontaminateBloomAgainst(docs: DataFrame, evalDocs: DataFrame): DataFrame = {
    val shd = wordTriShingles(docs).withColumn("h", xxhash64(col("s")))
    val evh = wordTriShingles(evalDocs)
      .select(xxhash64(col("s")).as("h")).distinct()
    val bf = graft.scale.Bloom.build(evh, "h", evh.count(), BloomDecontaminateFpp)
    val perDoc = shd.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val overlaps = shd
      .filter(graft.scale.Bloom.mightContain(bf, col("h"))) // sketch gate, map-side
      .join(evh, "h")                                       // exact verify, survivors only
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    perDoc.join(overlaps, "doc_id")
      .filter(col("n_overlap") > 0)
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        Num.r(col("n_overlap").cast("double") / col("n_shingles"), 6).as("ratio"))
  }

  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame =
    againstEvery25th(decontaminateBloomAgainst)(spark, dir)

  val decontaminateSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, unnest(CASE WHEN len(w) >= 3
       |        THEN list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
       |        ELSE [] END) AS s
       |    FROM toks) t),
       |ev AS (SELECT DISTINCT s AS ev_s FROM sh WHERE doc_id % 25 = 0)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       |       CAST(count(ev_s) AS BIGINT) AS n_overlap,
       |       ${Num.rSql("CAST(count(ev_s) AS DOUBLE) / count(*)", 6)} AS ratio
       |FROM sh LEFT JOIN ev ON sh.s = ev.ev_s
       |GROUP BY doc_id HAVING count(ev_s) > 0""".stripMargin

  /** Domain-mixture rebalancing: per-source sampling weight that would
    * equalize the corpus mix by token volume (target share =
    * 1/n_sources of total chars). Corpus totals ride as one broadcast
    * row; one aggregate shuffle.
    */
  def mixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    val bySrc = Tables.documents(spark, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("src_chars"))
    val totals = broadcast(bySrc.agg(
      sum(col("src_chars")).as("total_chars"), count(lit(1)).as("n_sources")))
    bySrc.crossJoin(totals)
      .select(col("source"), col("n_docs"), col("src_chars"),
        Num.r(col("src_chars").cast("double") / col("total_chars"), 6).as("actual_share"),
        Num.r((col("total_chars").cast("double") / col("n_sources")) / col("src_chars"), 6)
          .as("weight"))
  }

  val mixtureWeightsSql: String =
    s"""WITH bys AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(n_chars) AS BIGINT) AS src_chars
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(sum(src_chars) AS BIGINT) AS total_chars,
       |               count(*) AS n_sources FROM bys)
       |SELECT source, n_docs, src_chars,
       |       ${Num.rSql("CAST(src_chars AS DOUBLE) / total_chars", 6)} AS actual_share,
       |       ${Num.rSql("(CAST(total_chars AS DOUBLE) / n_sources) / src_chars", 6)} AS weight
       |FROM bys CROSS JOIN tot""".stripMargin

  /** Temperature-scaled sampling weights (the multilingual/multi-domain
    * α-sampling rule, mT5/XLM-R style): p_i ∝ share_i^α with α<1 —
    * upsamples small sources, downsamples dominant ones. The per-source
    * relation is bounded, so the normalization constant is one more tiny
    * aggregate riding the same broadcast; shares are ROUNDED before the
    * pow so both engines exponentiate identical doubles (CLAUDE.md
    * cross-engine fp rule), and 0.3 is the same literal in both
    * expressions.
    */
  def mixtureTemperature(spark: SparkSession, dir: String): DataFrame = {
    val bySrc = Tables.documents(spark, dir)
      .groupBy("source")
      .agg(sum(col("n_chars")).as("src_chars"))
    val totals = broadcast(bySrc.agg(sum(col("src_chars")).as("total_chars")))
    val shared = bySrc.crossJoin(totals)
      .select(col("source"), col("src_chars"),
        Num.r(col("src_chars").cast("double") / col("total_chars"), 6).as("share"))
      .withColumn("pa", pow(col("share"), lit(0.3)))
    val z = broadcast(shared.agg(sum(col("pa")).as("z")))
    shared.crossJoin(z)
      .select(col("source"), col("src_chars"), col("share"),
        Num.r(col("pa") / col("z"), 6).as("p_alpha"),
        Num.r(col("pa") / col("z") / col("share"), 6).as("boost"))
  }

  val mixtureTemperatureSql: String =
    s"""WITH bys AS (
       |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS src_chars
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(sum(src_chars) AS BIGINT) AS total_chars FROM bys),
       |sh AS (
       |  SELECT source, src_chars,
       |         ${Num.rSql("CAST(src_chars AS DOUBLE) / total_chars", 6)} AS share
       |  FROM bys CROSS JOIN tot),
       |pa AS (SELECT source, src_chars, share, pow(share, 0.3) AS pa FROM sh),
       |z AS (SELECT sum(pa) AS z FROM pa)
       |SELECT source, src_chars, share,
       |       ${Num.rSql("pa / z", 6)} AS p_alpha,
       |       ${Num.rSql("pa / z / share", 6)} AS boost
       |FROM pa CROSS JOIN z""".stripMargin

  /** Quality quartiles: ntile(4) of doc length within each source —
    * the curriculum-binning profile. Total order (n_chars, doc_id)
    * makes the tile assignment engine-stable.
    */
  def qualityQuartiles(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("n_chars"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("quartile", ntile(4).over(w))
      .groupBy("source", "quartile")
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
  }

  val qualityQuartilesSql: String =
    """SELECT source, quartile, CAST(count(*) AS BIGINT) AS n_docs,
      |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |FROM (
      |  SELECT source, n_chars,
      |         CAST(ntile(4) OVER (PARTITION BY source
      |                             ORDER BY n_chars, doc_id) AS INT) AS quartile
      |  FROM documents)
      |GROUP BY source, quartile""".stripMargin

  /** Heavy hitters per event type via the Misra–Gries sketch. k=256
    * exceeds the key cardinality here, so the sketch runs in its exact
    * regime and the oracle is a plain grouped count — the lossy regime's
    * n/(k+1) error bound is property-tested in MisraGriesSpec. At
    * volume the win is the bound: O(groups·k) state independent of key
    * skew or cardinality.
    */
  /** Misra–Gries in the EXACT regime: the key space is a bounded user
    * bucket (user_id mod 200 < the 256 counters), so the sketch's
    * exact-when-distinct≤k contract holds BY CONSTRUCTION at every
    * corpus scale and the full group-by oracle stays valid. Keying on
    * raw user_id held the premise only by accident of small testdata —
    * the round-7 sf0.1 oracle sweep caught it entering the lossy regime
    * (737 survivors vs 7500 exact groups) the moment per-type user
    * cardinality crossed the counter budget. The lossy regime is the
    * separate q_heavy_hitters_lossy (sketch→exact-verify two-pass).
    */
  /** The exact-regime contract as NAMED constants + the bucketing
    * expression itself, so RegimeSpec can assert the relationship
    * between what the OPERATOR actually buckets on and the counter
    * budget from the data — a test that re-hardcodes `% 200` would stay
    * green if the operator drifted back to a raw key (the r9 advice:
    * the old assert was tautological against the modulus constant).
    */
  val HHBucketMod = 200L
  val HHCounters = 256
  def hhBucket(key: Column): Column = key % HHBucketMod

  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), hhBucket(col("user_id")).as("user_bucket"))
      .groupBy("event_type")
      .agg(graft.scale.MisraGries.heavyHitters(col("user_bucket"), HHCounters).as("hh"))
      .select(col("event_type"), explode(col("hh")).as("e"))
      .select(col("event_type"), col("e.id").as("user_bucket"),
        col("e.est").as("n_events"))

  val heavyHittersSql: String =
    s"""SELECT event_type, user_id % $HHBucketMod AS user_bucket,
       |       CAST(count(*) AS BIGINT) AS n_events
       |FROM events GROUP BY 1, 2""".stripMargin

  /** Heavy hitters in the LOSSY regime (k < key cardinality, decrements
    * fire) via the two-pass sketch→verify pattern that makes the sketch
    * EXACT-at-scale: pass 1 runs Misra–Gries with k counters (bounded
    * state, O(k) shuffle) to get ≤k candidates; pass 2 exact-counts ONLY
    * the candidates (broadcast semi-join, one map-side-combined
    * aggregate) and keeps those with true count > n/(k+1). MG guarantees
    * every such key is a candidate, so the output is exactly the
    * guaranteed-frequency set with exact counts — deterministic and
    * SQL-oracle-expressible even though the raw survivor set isn't.
    * The key is a deterministically SKEWED derivation (event_id mod a
    * varying modulus ⇒ mass concentrates on small residues) because the
    * raw testdata keys are near-uniform. The threshold compare is pure
    * integer (cnt·(k+1) > n) — no fp boundary to disagree on.
    */
  val HHVerifyK = 5
  def heavyHittersLossy(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select((col("event_id") % (lit(1) + col("event_id") % 8)).as("k"))
    val cands = broadcast(
      ev.agg(graft.scale.MisraGries.heavyHitters(col("k"), HHVerifyK).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.id").as("k")))
    val tot = broadcast(ev.agg(count(lit(1)).as("n")))
    ev.join(cands, "k")
      .groupBy("k").agg(count(lit(1)).as("n_events"))
      .crossJoin(tot)
      .filter(col("n_events") * (HHVerifyK + 1) > col("n"))
      .select(col("k").as("key"), col("n_events"))
  }

  val heavyHittersLossySql: String =
    s"""SELECT event_id % (1 + event_id % 8) AS key,
       |       CAST(count(*) AS BIGINT) AS n_events
       |FROM events
       |GROUP BY 1
       |HAVING count(*) * ${HHVerifyK + 1} > (SELECT count(*) FROM events)""".stripMargin

  /** Same threshold query gated by a Count-Min sketch instead of
    * Misra–Gries: the sketch builds in one pass (64 KB, collected like a
    * Bloom filter), then a map-side point-estimate probe keeps only rows
    * whose key COULD be heavy — CMS never undercounts, so no true heavy
    * key is lost — and the exact shuffle sees candidate rows only. The
    * verify filter removes the overcount sliver, so the output provably
    * equals the exact HAVING query and carries the same oracle.
    */
  val CmsDepth = 4
  val CmsWidth = 2048
  def heavyHittersCms(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select((col("event_id") % (lit(1) + col("event_id") % 8)).as("k"))
    val skRow = ev
      .agg(graft.scale.CountMin.sketch(col("k"), CmsDepth, CmsWidth).as("sk"),
        count(lit(1)).as("n"))
      .collect()(0)
    val (bytes, n) = (skRow.getAs[Array[Byte]](0), skRow.getLong(1))
    val est = graft.scale.CountMin.estimate(bytes, col("k"))
    ev.filter(est * (HHVerifyK + 1) > lit(n)) // est ≥ exact: no false negatives
      .groupBy("k").agg(count(lit(1)).as("n_events"))
      .filter(col("n_events") * (HHVerifyK + 1) > lit(n)) // exact verify
      .select(col("k").as("key"), col("n_events"))
  }

  /** Rolling 7-day per-user features (trailing event count + value sum
    * per event) — the feature-engineering window shape, run through the
    * overlapping-panes scale path (SlidingAgg): no task ever sorts more
    * than two week-panes of one user, vs a naive per-user window that
    * funnels each key's full history into one task. DuckDB mirrors with
    * an INTERVAL range frame; with no sub-µs timestamps the frames
    * select identical row sets, and the sliding sum is grid-snapped
    * (the engines accumulate frames in different orders).
    */
  def rollingUserFeatures(spark: SparkSession, dir: String): DataFrame =
    graft.scale.SlidingAgg.trailingCountSum(
      Tables.events(spark, dir).select("event_id", "user_id", "ts", "value"),
      Seq("user_id"), col("ts"), col("value"),
      7L * 86400 * 1000000, "n_7d", "raw_7d")
      .select(col("event_id"), col("user_id"), col("n_7d"),
        Num.ssum(col("raw_7d"), 2, 2).as("value_7d"))

  val rollingUserFeaturesSql: String =
    s"""SELECT event_id, user_id,
       |       CAST(count(*) OVER w AS BIGINT) AS n_7d,
       |       ${Num.ssumSql("sum(value) OVER w", 2, 2)} AS value_7d
       |FROM events
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts
       |             RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)""".stripMargin

  /** Inter-event gap profile per user via the two-level pane
    * decomposition (SlidingAgg.gapStats) — pane-local lag windows plus
    * boundary gaps over the tiny per-(key, pane) relation, so no task
    * sorts one user's full history. Gaps stay integer µs until the
    * final division, so both engines divide the identical numbers.
    */
  def eventGaps(spark: SparkSession, dir: String): DataFrame =
    graft.scale.SlidingAgg.gapStats(
      Tables.events(spark, dir).select("user_id", "ts"), Seq("user_id"), col("ts"),
      7L * 86400 * 1000000)
      .select(col("user_id"), col("n_gaps"),
        Num.r(col("sum_gap_us").cast("double") / lit(1000000.0) / col("n_gaps"), 4)
          .as("avg_gap_s"),
        (col("max_gap_us").cast("double") / lit(1000000.0)).as("max_gap_s"))

  val eventGapsSql: String =
    s"""WITH g AS (
       |  SELECT user_id,
       |         epoch_ns(ts) // 1000 - lag(epoch_ns(ts) // 1000) OVER
       |           (PARTITION BY user_id ORDER BY ts) AS gap_us
       |  FROM events)
       |SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
       |       ${Num.rSql("CAST(sum(gap_us) AS DOUBLE) / 1000000 / count(*)", 4)} AS avg_gap_s,
       |       CAST(max(gap_us) AS DOUBLE) / 1000000 AS max_gap_s
       |FROM g WHERE gap_us IS NOT NULL GROUP BY user_id""".stripMargin

  /** Intra-document repetition filter (the Gopher-rule family): fraction
    * of duplicated word 2-grams and 3-grams inside each doc; docs above
    * the 3-gram threshold are dropped from a training mix. Entirely
    * map-side HOFs — repetition needs no corpus context, so the operator
    * costs one scan at any volume.
    */
  val RepetitionMaxDupTriRatio = 0.2
  // trainingMix's single-reference gate coalesce(dtr, sentinel) <= t is
  // only equivalent to `dtr IS NOT NULL AND dtr <= t` while the sentinel
  // exceeds the threshold; ratios live in [0,1], so 2.0 is strictly
  // above any valid value. ONE constant for both the require and the
  // filter — editing either alone must not reopen the null-flip hazard.
  val NullRatioSentinel = 2.0
  require(RepetitionMaxDupTriRatio < NullRatioSentinel,
    "trainingMix null-ratio sentinel must exceed RepetitionMaxDupTriRatio")
  def repetitionFilter(spark: SparkSession, dir: String): DataFrame = {
    // wordGrams over the projected `w`, NOT element_at(split, i) in a
    // transform lambda: that re-evaluates the split PER ELEMENT (this
    // exact query cost 60 s at sf0.1 in that shape)
    def dupRatio(g: Column): Column =
      when(size(g) > 0,
        Num.r((size(g) - size(array_distinct(g))).cast("double") / size(g), 6))
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("w"))
      .select(col("doc_id"),
        Winnow.wordGrams(col("w"), 2).as("g2"), Winnow.wordGrams(col("w"), 3).as("g3"))
      .select(col("doc_id"),
        size(col("g3")).as("n_tri"),
        dupRatio(col("g2")).as("dup_bi_ratio"),
        dupRatio(col("g3")).as("dup_tri_ratio"))
      .withColumn("keep", col("dup_tri_ratio").isNotNull &&
        col("dup_tri_ratio") <= RepetitionMaxDupTriRatio)
  }

  val repetitionFilterSql: String = {
    def gramsSql(n: Int) = {
      val parts = (0 until n).map(j => s"w[i + $j]").mkString(" || ' ' || ")
      s"CASE WHEN len(w) >= $n THEN list_transform(range(1, len(w) - ${n - 2}), i -> $parts) ELSE [] END"
    }
    def ratioSql(g: String) =
      s"CASE WHEN len($g) > 0 THEN ${Num.rSql(s"CAST(len($g) - len(list_distinct($g)) AS DOUBLE) / len($g)", 6)} END"
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w FROM documents),
       |g AS (SELECT doc_id, ${gramsSql(2)} AS g2, ${gramsSql(3)} AS g3 FROM toks)
       |SELECT doc_id, CAST(len(g3) AS INT) AS n_tri,
       |       ${ratioSql("g2")} AS dup_bi_ratio,
       |       ${ratioSql("g3")} AS dup_tri_ratio,
       |       (${ratioSql("g3")}) IS NOT NULL AND (${ratioSql("g3")}) <= $RepetitionMaxDupTriRatio AS keep
       |FROM g""".stripMargin
  }

  /** Unigram log-probability fluency proxy (the CCNet-style LM quality
    * filter, self-trained): per-term log-prob from corpus frequencies,
    * joined back to each doc's tokens, averaged per doc. The per-term
    * log-prob is computed ONCE in the vocab-sized frequency table (not
    * per token), and the score is rounded after the per-doc sum so the
    * engines' different summation orders cannot leak into the compare.
    */
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    // no term string ever reaches a shuffle: the tf/join key is
    // xxhash64(term) (8 bytes vs arbitrary-width strings — the same
    // trick the shingle tier uses). Output carries no terms, so no
    // resolve-join is needed; 64-bit collisions would need ~2^32
    // distinct terms to matter.
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .select(col("doc_id"), xxhash64(col("term")).as("th"))
    val freq = toks.groupBy("th").agg(count(lit(1)).as("c"))
    val total = broadcast(freq.agg(sum(col("c")).as("t")))
    val lp = freq.crossJoin(total)
      .select(col("th"), log(col("c").cast("double") / col("t")).as("lp"))
    toks.join(lp, "th")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        Num.r(sum(col("lp")) / count(lit(1)), 4).as("avg_logprob"))
  }

  val unigramLogprobSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
       |  FROM documents),
       |tk AS (SELECT doc_id, term FROM toks WHERE term <> ''),
       |freq AS (SELECT term, count(*) AS c FROM tk GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM freq),
       |lp AS (SELECT term, ln(CAST(c AS DOUBLE) / t) AS lp FROM freq CROSS JOIN tot)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |       ${Num.rSql("sum(lp) / count(*)", 4)} AS avg_logprob
       |FROM tk JOIN lp USING (term)
       |GROUP BY doc_id""".stripMargin

  /** Bigram CONDITIONAL log-prob fluency — the unigram filter's sharper
    * sibling: avg over a doc's bigrams of ln(c(wᵢ₋₁ wᵢ) / c_prefix(wᵢ₋₁)),
    * with c_prefix counting the word as a bigram prefix corpus-wide, so
    * the ratio is a true conditional probability (Σ over continuations
    * = 1, every log ≤ 0). Same scale shape as the unigram tier: the
    * model table is vocab²-bounded (observed bigrams only), the prefix
    * marginal derives from it with one more vocab-sized aggregate, and
    * no bigram STRING ever reaches a shuffle — instances travel as
    * xxhash64 longs. Bigrams build from zip_with over slices (never
    * element_at inside a HOF — the CollapseProject O(n²) trap).
    */
  def bigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val wcol = filter(split(trim(lower(col("text"))), "\\s+"), t => t =!= "")
    val pairs = when(size(col("w")) >= 2,
      zip_with(slice(col("w"), lit(1), size(col("w")) - 1),
        slice(col("w"), lit(2), size(col("w")) - 1),
        (a, b) => struct(a.as("p"), concat(a, lit(" "), b).as("g"))))
      .otherwise(array().cast("array<struct<p:string,g:string>>"))
    val inst = Tables.documents(spark, dir)
      .select(col("doc_id"), wcol.as("w"))
      .select(col("doc_id"), explode(pairs).as("s"))
      .select(col("doc_id"), xxhash64(col("s.p")).as("ph"), xxhash64(col("s.g")).as("gh"))
    val cbi = inst.groupBy("ph", "gh").agg(count(lit(1)).as("c"))
    val cpre = cbi.groupBy("ph").agg(sum(col("c")).as("cp"))
    val lp = cbi.join(cpre, "ph")
      .select(col("gh"), log(col("c").cast("double") / col("cp")).as("lp"))
    inst.join(lp, "gh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        Num.r(sum(col("lp")) / count(lit(1)), 4).as("avg_logprob"))
  }

  val bigramLogprobSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS w
       |  FROM documents),
       |inst AS (
       |  SELECT doc_id,
       |         unnest(CASE WHEN len(w) >= 2 THEN w[1:len(w)-1] ELSE [] END) AS p,
       |         unnest(CASE WHEN len(w) >= 2
       |           THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
       |           ELSE [] END) AS g
       |  FROM toks),
       |cbi AS (SELECT p, g, count(*) AS c FROM inst GROUP BY 1, 2),
       |cpre AS (SELECT p, CAST(sum(c) AS BIGINT) AS cp FROM cbi GROUP BY 1),
       |lp AS (SELECT g, ln(CAST(c AS DOUBLE) / cp) AS lp FROM cbi JOIN cpre USING (p))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |       ${Num.rSql("sum(lp) / count(*)", 4)} AS avg_logprob
       |FROM inst JOIN lp USING (g)
       |GROUP BY doc_id""".stripMargin

  /** Cross-document duplicated-span filter (the C4-style inter-document
    * boilerplate rule, complementing the intra-doc repetition filter):
    * the fraction of a doc's DISTINCT word-3-gram spans that also occur
    * in at least one other document. Spans leave the scan as 8-byte
    * xxhash64 values — no span string ever reaches a shuffle — so the
    * whole operator is two bounded shuffles (vocab-sized df aggregate +
    * hash-keyed join back), linear in the corpus with zero pair
    * expansion; the contrast to the quadratic Jaccard tier is the point.
    * Reference analog: corpus-level dedup rules in the curation configs
    * (`/root/reference/config/config.yaml` quality gates).
    */
  val SpanDedupMaxDupRatio = 0.7

  /** (doc_id, sh): each doc's DISTINCT word-3-gram span hashes — the
    * map-side projection both the batch operator and the streaming
    * span-frequency maintenance (Streams.spanDfStream) share.
    */
  def spanHashes(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"), explode(array_distinct(
        transform(Winnow.wordGrams(col("w"), 3), s => xxhash64(s)))).as("sh"))

  /** Maximal duplicated-RUN detection — the bounded approximation of
    * exact substring dedup (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better"): consecutive corpus-duplicated
    * 3-gram spans chain into runs, so a shared substring of t tokens
    * shows up as a run of t−2 duplicated spans; flag docs whose longest
    * run reaches the threshold. The suffix-array pass of the paper
    * becomes three bounded hash-keyed shuffles: span occurrences
    * (8-byte hashes, positions ride along), the occ≥2 filter, and ONE
    * per-doc aggregate whose run/island fold happens inside an array
    * HOF over the doc's own flagged positions — no window over anything
    * larger than a single document, no pair expansion, linear in the
    * corpus.
    */
  val DupRunMinTokens = 12
  def dupRuns(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sp = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"),
        posexplode(transform(Winnow.wordGrams(col("w"), 3), s => xxhash64(s)))
          .as(Seq("pos0", "sh")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("sh"))
    val dup = sp.groupBy("sh").agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select("sh")
    val runs = sp.join(dup, "sh")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .select(col("doc_id"), expr(
        """aggregate(ps,
          |  named_struct('prev', CAST(-2 AS BIGINT), 'cur', CAST(0 AS BIGINT),
          |               'best', CAST(0 AS BIGINT), 'n', CAST(0 AS BIGINT)),
          |  (a, p) -> named_struct(
          |    'prev', p,
          |    'cur', IF(p = a.prev + 1, a.cur + 1, CAST(1 AS BIGINT)),
          |    'best', GREATEST(a.best, IF(p = a.prev + 1, a.cur + 1, CAST(1 AS BIGINT))),
          |    'n', a.n + IF(p = a.prev + 1, CAST(0 AS BIGINT), CAST(1 AS BIGINT))),
          |  a -> a)""".stripMargin).as("r"))
      .select(col("doc_id"), (col("r.best") + 2L).as("max_dup_run"),
        col("r.n").as("n_dup_runs"))
    docs
      .select(col("doc_id"),
        greatest(size(split(trim(col("text")), "\\s+")) - 2, lit(0))
          .cast("long").as("n_spans"))
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("max_dup_run"), lit(0L)).as("max_dup_run"),
        coalesce(col("n_dup_runs"), lit(0L)).as("n_dup_runs"))
      .withColumn("keep", col("max_dup_run") < DupRunMinTokens)
  }

  val dupRunsSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
       |sp AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
       |  FROM toks CROSS JOIN unnest(range(1, len(w) - 1)) AS t(i)
       |  WHERE len(w) >= 3),
       |occ AS (SELECT s FROM sp GROUP BY s HAVING count(*) >= 2),
       |flagged AS (SELECT doc_id, pos FROM sp JOIN occ USING (s)),
       |isl AS (
       |  SELECT doc_id,
       |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
       |  FROM flagged),
       |runs AS (SELECT doc_id, count(*) AS len FROM isl GROUP BY doc_id, g),
       |per AS (
       |  SELECT doc_id, CAST(max(len) + 2 AS BIGINT) AS max_dup_run,
       |         CAST(count(*) AS BIGINT) AS n_dup_runs
       |  FROM runs GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(greatest(len(string_split_regex(trim(d.text), '\\s+')) - 2, 0) AS BIGINT) AS n_spans,
       |  coalesce(max_dup_run, 0) AS max_dup_run,
       |  coalesce(n_dup_runs, 0) AS n_dup_runs,
       |  coalesce(max_dup_run, 0) < $DupRunMinTokens AS keep
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id""".stripMargin

  /** The cheap half of span dedup: per-doc dup ratio + keep verdict
    * against a given df(span) relation — shared by the batch operator
    * and the streaming composition (StreamingSpec), where `df` is the
    * incrementally maintained Streams.spanDfStream state.
    */
  def spanVerdict(docs: DataFrame, df: DataFrame): DataFrame = {
    val per = spanHashes(docs).join(df, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        when(col("n_spans") > 0,
          Num.r(col("n_dup").cast("double") / col("n_spans"), 6)).as("dup_span_ratio"))
      .withColumn("keep",
        col("dup_span_ratio").isNull || col("dup_span_ratio") <= SpanDedupMaxDupRatio)
  }

  def spanDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    spanVerdict(docs,
      spanHashes(docs).groupBy("sh").agg(count(lit(1)).as("df")))
  }

  val spanDedupSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, unnest(CASE WHEN len(w) >= 3
       |        THEN list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
       |        ELSE [] END) AS s
       |    FROM toks) t),
       |df AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
       |per AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |         CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
       |  FROM sh JOIN df USING (s) GROUP BY 1)
       |SELECT d.doc_id, coalesce(n_spans, 0) AS n_spans,
       |       CASE WHEN n_spans > 0
       |            THEN ${Num.rSql("CAST(n_dup AS DOUBLE) / n_spans", 6)} END AS dup_span_ratio,
       |       n_spans IS NULL OR ${Num.rSql("CAST(n_dup AS DOUBLE) / n_spans", 6)} <= $SpanDedupMaxDupRatio AS keep
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id""".stripMargin

  /** Winnowing fingerprint overlap (Schleimer/Wilkerson/Aiken 2003, the
    * MOSS algorithm): doc pairs ranked by how many winnowed k-gram
    * fingerprints they share. Unlike the Jaccard tier this guarantees
    * detection of any shared run of GramK+WinSize-1 = 8 words while
    * shipping only ~2/(win+1) of the gram hashes into the shuffle — the
    * classic robust-overlap primitive for plagiarism/attribution-style
    * scans at corpus scale. All heavy lifting is map-side HOFs; see
    * scale/Winnow.scala for the 100 TB design notes.
    */
  private val WinnowMinShared = 2
  def winnowPairs(spark: SparkSession, dir: String): DataFrame =
    graft.scale.Winnow.overlapPairs(Tables.documents(spark, dir), "text", "doc_id",
      WinnowMinShared)

  // Every GramK/WinSize-derived literal is interpolated from the same
  // constants the Scala side uses, so a constant change can't silently
  // break oracle parity (same discipline as the PQ oracles with M/SubDim/K).
  // The fingerprint CTE chain (ending in fp(doc_id, f)) is shared by the
  // pair and decontamination oracles.
  private val winnowFpCtesSql: String = {
    val gk = graft.scale.Winnow.GramK
    val ws = graft.scale.Winnow.WinSize
    val gram = (0 until gk).map(j => if (j == 0) "w[i]" else s"w[i+$j]")
      .mkString(" || ' ' || ")
    val win = (0 until ws).map(j => if (j == 0) "gh[j]" else s"gh[j+$j]")
      .mkString(", ")
    s"""toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
       |g AS (
       |  SELECT doc_id, CASE WHEN len(w) >= $gk
       |    THEN list_transform(range(1, len(w) - ${gk - 2}),
       |         i -> ('0x' || substr(md5($gram), 1, 13))::BIGINT)
       |    ELSE [] END AS gh
       |  FROM toks),
       |fp AS (
       |  SELECT DISTINCT doc_id, f FROM (
       |    SELECT doc_id, unnest(CASE WHEN len(gh) >= $ws
       |      THEN list_transform(range(1, len(gh) - ${ws - 2}),
       |           j -> least($win))
       |      ELSE gh END) AS f
       |    FROM g) t)""".stripMargin
  }

  val winnowPairsSql: String =
    s"""WITH $winnowFpCtesSql,
       |ok AS (SELECT f FROM fp GROUP BY f HAVING count(*) > 1 AND count(*) <= ${graft.scale.Dedup.MaxGroup}),
       |pairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared
       |  FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
       |  JOIN ok ON a.f = ok.f
       |  GROUP BY 1, 2)
       |SELECT d1, d2, CAST(n_shared AS BIGINT) AS n_shared
       |FROM pairs WHERE n_shared >= $WinnowMinShared""".stripMargin

  /** Substring-level decontamination: flag corpus docs whose winnowed
    * fingerprints hit the eval set's — by the winnowing guarantee, ANY
    * verbatim run of GramK + WinSize − 1 = 8 words shared with an eval
    * doc is detected. This is the contamination mode shingle-SET overlap
    * under-weighs: one long quoted eval passage inside a long document
    * is a low shingle RATIO but a certain fingerprint hit. The same
    * eval-overlap plan as [[decontaminateAgainst]] over fingerprints.
    */
  def decontaminateWinnowAgainst(docs: DataFrame, evalDocs: DataFrame): DataFrame =
    evalOverlap(Winnow.fingerprints(docs, "text", "doc_id"),
      Winnow.fingerprints(evalDocs, "text", "doc_id"), "n_fps", "n_hits")

  def decontaminateWinnow(spark: SparkSession, dir: String): DataFrame =
    againstEvery25th(decontaminateWinnowAgainst)(spark, dir)

  val decontaminateWinnowSql: String =
    s"""WITH $winnowFpCtesSql,
       |ev AS (SELECT DISTINCT f AS ev_f FROM fp WHERE doc_id % 25 = 0)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps,
       |       CAST(count(ev_f) AS BIGINT) AS n_hits,
       |       ${Num.rSql("CAST(count(ev_f) AS DOUBLE) / count(*)", 6)} AS ratio
       |FROM fp LEFT JOIN ev ON fp.f = ev.ev_f
       |GROUP BY doc_id HAVING count(ev_f) > 0""".stripMargin

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): per-doc mean
    * log-likelihood ratio between a Laplace-smoothed unigram model of a
    * small TARGET mix (here sources src0–src4, standing in for the
    * wiki-like target corpus) and the raw-corpus model. Both models are
    * vocab-sized aggregates keyed by xxhash64(term) — the same
    * no-strings-in-the-shuffle discipline as the unigram-logprob filter —
    * and the per-term log-ratio is computed ONCE in the vocab table, so
    * doc scoring is a hash join + one aggregate regardless of corpus
    * size. Docs from target-like sources score high; sampling
    * proportional to exp(weight) reproduces the DSIR selection.
    */
  private val DsirTargetSources = Seq("src0", "src1", "src2", "src3", "src4")
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .select(col("doc_id"), col("source"), xxhash64(col("term")).as("th"))
    val raw = toks.groupBy("th").agg(count(lit(1)).as("cr"))
    val tgt = toks.filter(col("source").isin(DsirTargetSources: _*))
      .groupBy("th").agg(count(lit(1)).as("ct"))
    val stats = broadcast(
      raw.agg(count(lit(1)).cast("double").as("nv"), sum(col("cr")).cast("double").as("tr"))
        .crossJoin(tgt.agg(coalesce(sum(col("ct")), lit(0L)).cast("double").as("tt"))))
    val lr = raw.join(tgt, Seq("th"), "left").crossJoin(stats)
      .select(col("th"),
        (log((coalesce(col("ct"), lit(0L)) + 1.0) / (col("tt") + col("nv"))) -
          log((col("cr") + 1.0) / (col("tr") + col("nv")))).as("lr"))
    toks.join(lr, "th")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        Num.r(sum(col("lr")) / count(lit(1)), 6).as("dsir_weight"))
  }

  val dsirWeightsSql: String = {
    val tgtIn = DsirTargetSources.map(s => s"'$s'").mkString("(", ",", ")")
    s"""WITH tk AS (
       |  SELECT doc_id, source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
       |  FROM documents),
       |tk2 AS (SELECT doc_id, source, term FROM tk WHERE term <> ''),
       |raw AS (SELECT term, count(*) AS cr FROM tk2 GROUP BY 1),
       |tgt AS (SELECT term, count(*) AS ct FROM tk2 WHERE source IN $tgtIn GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS nv, CAST(sum(cr) AS DOUBLE) AS tr FROM raw),
       |st2 AS (SELECT CAST(coalesce(sum(ct), 0) AS DOUBLE) AS tt FROM tgt),
       |lr AS (
       |  SELECT raw.term,
       |         ln((coalesce(ct, 0) + 1.0) / (tt + nv)) - ln((cr + 1.0) / (tr + nv)) AS lr
       |  FROM raw LEFT JOIN tgt ON raw.term = tgt.term CROSS JOIN st CROSS JOIN st2)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |       ${Num.rSql("sum(lr) / count(*)", 6)} AS dsir_weight
       |FROM tk2 JOIN lr USING (term)
       |GROUP BY doc_id""".stripMargin
  }

  /** Deterministic weighted sampling without replacement
    * (Efraimidis–Spirakis): per-source top-k docs by ln(u)/w where u is a
    * hash-derived uniform (md5 prefix → exact dyadic rational in both
    * engines) and w = n_chars — heavier docs are proportionally more
    * likely to be drawn, yet the draw is reproducible run-to-run. The
    * key is rounded BEFORE ranking with a doc_id tiebreak (CLAUDE.md
    * fp-rank rule) and the per-source selection runs through the bounded
    * TopK heap aggregate — O(sources·k) state, no window over a source's
    * full history, no global sort.
    */
  val WeightedSampleK = 3
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val u = (conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long") + 0.5) /
      4294967296.0
    val key = Num.r(log(u) / greatest(col("n_chars"), lit(1L)).cast("double"), 9)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), key.as("es_key"))
      .groupBy(col("source"))
      .agg(graft.scale.TopK.topK(col("es_key"), col("doc_id"), WeightedSampleK).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("rank", "e")))
      .select(col("source"), (col("rank") + 1).as("rank"),
        col("e.id").as("doc_id"), col("e.score").as("es_key"))
  }

  /** Quality-WEIGHTED sampling: the Efraimidis–Spirakis draw keyed by
    * the quality classifier's probability instead of document length —
    * the "sample by model score" selection a FineWeb-Edu-style pipeline
    * runs after scoring. Same machinery end to end: scan-stage classifier
    * prob (rounded at 6 like q_quality_classifier so both engines weight
    * identically), hash-derived uniform, key rounded before ranking,
    * bounded per-source TopK. The probability is floored at 1e-6 so a
    * hard-zero score can't divide to -inf.
    */
  val QualitySampleK = 3
  def qualitySample(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val toks = filter(split(trim(lower(t)), "\\s+"), x => x =!= "")
    val ws = transform(toks, x =>
      conv(substring(md5(x), 1, 8), 16, 10).cast("long") / lit(4294967296.0) - lit(0.5))
    val sw = aggregate(ws, lit(0.0), (a, x) => a + x)
    val logit = Num.r(sw /
      sqrt(greatest(size(toks).cast("long"), lit(1L)).cast("double")), 6)
    val prob = Num.r(lit(1.0) / (lit(1.0) + exp(-logit)), 6)
    val u = (conv(substring(md5(t), 1, 8), 16, 10).cast("long") + 0.5) / 4294967296.0
    val key = Num.r(log(u) / greatest(prob, lit(0.000001)), 9)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), key.as("es_key"))
      .groupBy(col("source"))
      .agg(graft.scale.TopK.topK(col("es_key"), col("doc_id"), QualitySampleK).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("rank", "e")))
      .select(col("source"), (col("rank") + 1).as("rank"),
        col("e.id").as("doc_id"), col("e.score").as("es_key"))
  }

  val qualitySampleSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source, text,
       |         list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS w
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, source, text, CAST(len(w) AS BIGINT) AS n_tokens,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(w, x ->
       |             ('0x' || substring(md5(x), 1, 8))::BIGINT / 4294967296.0 - 0.5)),
       |           (a, b) -> a + b) AS sw
       |  FROM t),
       |l AS (
       |  SELECT doc_id, source, text,
       |         ${Num.rSql("sw / sqrt(CAST(greatest(n_tokens, 1) AS DOUBLE))", 6)} AS logit
       |  FROM s),
       |p AS (
       |  SELECT doc_id, source, text,
       |         ${Num.rSql("1.0 / (1.0 + exp(-logit))", 6)} AS prob
       |  FROM l),
       |q AS (
       |  SELECT source, doc_id,
       |         ${Num.rSql("ln((('0x' || substring(md5(text), 1, 8))::BIGINT + 0.5) / 4294967296.0) / greatest(prob, 0.000001)", 9)} AS es_key
       |  FROM p)
       |SELECT source, rank, doc_id, es_key FROM (
       |  SELECT source, doc_id, es_key,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY es_key DESC, doc_id ASC) AS rank
       |  FROM q) WHERE rank <= $QualitySampleK""".stripMargin

  val weightedSampleSql: String =
    s"""WITH q AS (
       |  SELECT source, doc_id,
       |         ${Num.rSql("ln((('0x' || substring(md5(text), 1, 8))::BIGINT + 0.5) / 4294967296.0) / CAST(greatest(n_chars, 1) AS DOUBLE)", 9)} AS es_key
       |  FROM documents)
       |SELECT source, rank, doc_id, es_key FROM (
       |  SELECT source, doc_id, es_key,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY es_key DESC, doc_id ASC) AS rank
       |  FROM q) WHERE rank <= $WeightedSampleK""".stripMargin

  /** The flagship training-mix funnel: language + quality gate,
    * repetition filter, benchmark decontamination, exact dedup, then
    * per-source accounting — every stage is one of the already-verified
    * operators composed into a single plan. Stage order mirrors a real
    * curation pipeline: cheap map-side gates first (language, quality,
    * repetition are all scan-stage expressions), the broadcast
    * contamination anti-join next, the digest-dedup shuffle last so it
    * only shuffles survivors.
    */
  def trainingMix(spark: SparkSession, dir: String): DataFrame = {
    // Single-reference gate predicate: filter(keep) pushes `keep` =
    // dtr.isNotNull && dtr <= t below the projections, substituting the
    // whole trigram chain once PER REFERENCE (twice); coalesce(dtr, 1.0)
    // <= t is the same predicate with one reference (null -> 1.0 > t
    // drops the row). Measured at sf10: warm 19.2 -> 14.3 s. The fully
    // FUSED scan (gates inline, no join) was tried and measured WORSE
    // (17.7-43 s): the pruned doc_id-only branch + equi-join beats
    // carrying text-wide rows through the trigram filter stage.
    // Sentinel 2.0 sits strictly above any valid ratio (ratios are in
    // [0,1]), so null -> dropped stays equivalent to the oracle's
    // `dtr IS NOT NULL AND dtr <= t` for ANY threshold < 2.0 — a 1.0
    // sentinel would silently flip null rows to kept if the threshold
    // were ever raised to >= 1.0 (require() at the constant pins this).
    val passRep = repetitionFilter(spark, dir)
      .filter(coalesce(col("dup_tri_ratio"), lit(NullRatioSentinel)) <= RepetitionMaxDupTriRatio)
      .select("doc_id")
    val contaminated = decontaminate(spark, dir)
      .filter(col("ratio") >= 0.5).select("doc_id")
    val t = col("text")
    val scored = Tables.documents(spark, dir).select(
      col("doc_id"), col("source"),
      TextAnalysis.language(t).as("language"),
      graft.functions.Scoring.completenessScore(t).as("quality"),
      TextAnalysis.bpeTokenCount(t).as("n_tokens"),
      md5(t).as("digest"))
    val kept = scored
      .filter(col("language") === "english" && col("quality") >= 60.0)
      .join(passRep, "doc_id")
      .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
    // same grouped-argmin canonical step as corpusCuration (doc_id
    // leads the struct; unique → identical row to the old rn=1 window)
    val canonical = kept
      .groupBy(col("digest"))
      .agg(min(struct(col("doc_id"), col("source"), col("n_tokens"),
        col("quality"))).as("c"))
      .select(col("c.doc_id").as("doc_id"), col("c.source").as("source"),
        col("c.n_tokens").as("n_tokens"), col("c.quality").as("quality"))
    canonical.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("total_tokens"),
      Num.savg(sum(col("quality")), count(lit(1)), 0, 4).as("avg_quality"),
      min(col("doc_id")).as("min_doc_id"))
  }

  val trainingMixSql: String = {
    val re = TextAnalysis.BpeTokenRe
    val g3 = "CASE WHEN len(w) >= 3 THEN list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) ELSE [] END"
    s"""WITH scored AS (
       |  SELECT doc_id, source,
       |         ${langSql("text")} AS language,
       |         ${completenessSql("text")} AS quality,
       |         len(regexp_extract_all(text, '$re')) AS n_tokens,
       |         md5(text) AS digest
       |  FROM documents),
       |rt AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w FROM documents),
       |rep AS (
       |  SELECT doc_id, CASE WHEN len(g3) > 0
       |    THEN ${Num.rSql("CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3)", 6)} END AS dtr
       |  FROM (SELECT doc_id, $g3 AS g3 FROM rt)),
       |dt AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, unnest($g3) AS s FROM dt) t),
       |ev AS (SELECT DISTINCT s AS ev_s FROM sh WHERE doc_id % 25 = 0),
       |cont AS (
       |  SELECT doc_id FROM sh LEFT JOIN ev ON sh.s = ev.ev_s
       |  GROUP BY doc_id
       |  HAVING count(ev_s) > 0
       |     AND ${Num.rSql("CAST(count(ev_s) AS DOUBLE) / count(*)", 6)} >= 0.5),
       |kept AS (
       |  SELECT scored.* FROM scored
       |  JOIN rep USING (doc_id)
       |  WHERE language = 'english' AND quality >= 60.0
       |    AND dtr IS NOT NULL AND dtr <= $RepetitionMaxDupTriRatio
       |    AND doc_id NOT IN (SELECT doc_id FROM cont)),
       |canonical AS (
       |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
       |                 FROM kept) WHERE rn = 1)
       |SELECT source, count(*) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |       ${Num.savgSql("sum(quality)", "count(*)", 0, 4)} AS avg_quality,
       |       min(doc_id) AS min_doc_id
       |FROM canonical GROUP BY source""".stripMargin
  }

  /** Column profiler over events: null count + exact distinct count per
    * column in ONE scan (count-distinct expands once per profiled
    * column; at real volume swap the exact tier for HLL — the
    * q_approx_distinct query is that tier). Integer outputs only:
    * min/max would force cross-engine string formatting of doubles.
    */
  val ProfileCols = Seq("event_id", "user_id", "event_type", "value")
  def tableProfile(spark: SparkSession, dir: String): DataFrame = {
    val aggs = ProfileCols.flatMap { c =>
      Seq((count(lit(1)) - count(col(c))).as(s"nn_$c"),
        countDistinct(col(c)).as(s"nd_$c"))
    }
    val stack = ProfileCols.map(c => s"'$c', nn_$c, nd_$c").mkString(", ")
    Tables.events(spark, dir)
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${ProfileCols.size}, $stack) AS (column_name, n_null, n_distinct)")
  }

  val tableProfileSql: String =
    ProfileCols.map { c =>
      s"""SELECT '$c' AS column_name,
         |       CAST(count(*) - count($c) AS BIGINT) AS n_null,
         |       CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct
         |FROM events""".stripMargin
    }.mkString("\nUNION ALL\n")

  // ---- round-5 additions: classifier inference, BPE pair counts,
  // ---- URL-canonical dedup, incremental delta dedup, hard negatives ----

  /** Hashed-linear quality-classifier inference — the execution shape of
    * running a distilled fastText-style filter over the whole corpus:
    * tokenize map-side, hash each token to a weight (the hashing trick;
    * here the weight is derived from the token's md5 so the op is
    * oracle-checkable — a trained weight table would broadcast and look
    * up identically), strict left-fold accumulate, normalize by √n, and
    * squash. Zero shuffles, zero joins: the entire classifier runs
    * inside the scan stage, which is what makes per-document model
    * scoring viable at 100 TB. The fold order is pinned (Spark
    * `aggregate` HOF ≡ DuckDB `list_reduce` with the same 0.0 seed) so
    * the pre-round double is bit-identical cross-engine; the sigmoid is
    * computed from the ROUNDED logit (CLAUDE.md fp-rank rule).
    */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame =
    qualityClassify(Tables.documents(spark, dir))

  /** Classifier inference over any (doc_id, text) relation — stateless
    * scan-stage expressions only, so the same code runs unchanged on a
    * document STREAM (Streams.classifierStream).
    */
  def qualityClassify(docs: DataFrame): DataFrame = {
    val toks = filter(split(trim(lower(col("text"))), "\\s+"), t => t =!= "")
    val ws = transform(col("w"), t =>
      conv(substring(md5(t), 1, 8), 16, 10).cast("long") / lit(4294967296.0) - lit(0.5))
    docs
      .select(col("doc_id"), toks.as("w"))
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
        aggregate(ws, lit(0.0), (a, x) => a + x).as("sw"))
      .select(col("doc_id"), col("n_tokens"),
        Num.r(col("sw") / sqrt(greatest(col("n_tokens"), lit(1L)).cast("double")), 6)
          .as("logit"))
      .select(col("doc_id"), col("n_tokens"), col("logit"),
        Num.r(lit(1.0) / (lit(1.0) + exp(-col("logit"))), 6).as("prob"),
        (col("logit") >= 0.0).as("keep"))
  }

  val qualityClassifierSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS w
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(w, x ->
       |             ('0x' || substring(md5(x), 1, 8))::BIGINT / 4294967296.0 - 0.5)),
       |           (a, b) -> a + b) AS sw
       |  FROM t),
       |l AS (
       |  SELECT doc_id, n_tokens,
       |         ${Num.rSql("sw / sqrt(CAST(greatest(n_tokens, 1) AS DOUBLE))", 6)} AS logit
       |  FROM s)
       |SELECT doc_id, n_tokens, logit,
       |       ${Num.rSql("1.0 / (1.0 + exp(-logit))", 6)} AS prob,
       |       logit >= 0.0 AS keep
       |FROM l""".stripMargin

  /** Distributed classifier TRAINING — the other half of the
    * quality-classifier story (q_quality_classifier is inference over
    * fixed hashed weights; this LEARNS weights): full-batch logistic
    * regression by gradient descent in the k-means driver-held-model
    * shape. Per step: ONE aggregate over the corpus computes the
    * 3-component mean gradient (features are scan-stage expressions, no
    * shuffle beyond the final partial-agg merge), the driver applies the
    * update, and the next step inlines the new weights as plan literals.
    * At 100 TB each step is exactly one corpus scan; model state is 3
    * doubles.
    *
    * Cross-engine determinism: gradient sums are grid-snapped (Num.savg
    * at 1e-6 — fp error of a partial-aggregation reorder is ~1e-9 here,
    * far under half a grid step) and weights re-snap to 1e-9 after each
    * update, so Spark and the unrolled-CTE DuckDB oracle hold
    * bit-identical weights at every step. Deterministic pseudo-labels
    * (doc_id % 3 = 0) keep the oracle self-contained.
    */
  val LrSteps = 3

  def lrTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ~unit-scaled features so lr=0.5 steps stay stable: log-length / 10
    // and vowel ratio in [0,1]
    val f = Tables.documents(spark, dir).select(
      (log(lit(1.0) + col("n_chars")) / lit(10.0)).as("x1"),
      ((length(col("text")) - length(translate(col("text"), "aeiou", ""))).cast("double") /
        greatest(length(col("text")), lit(1)).cast("double")).as("x2"),
      when(col("doc_id") % 3 === 0, 1.0).otherwise(0.0).as("y"))
    var w = (0.0, 0.0, 0.0)
    val rows = (1 to LrSteps).map { step =>
      val z = lit(w._1) + lit(w._2) * col("x1") + lit(w._3) * col("x2")
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      val g = f.agg(
        Num.savg(sum(p - col("y")), count(lit(1)), 6, 9).as("gb"),
        Num.savg(sum((p - col("y")) * col("x1")), count(lit(1)), 6, 9).as("gc"),
        Num.savg(sum((p - col("y")) * col("x2")), count(lit(1)), 6, 9).as("gs"))
        .head()
      w = (Num.rd(w._1 - 0.5 * g.getDouble(0), 9),
        Num.rd(w._2 - 0.5 * g.getDouble(1), 9),
        Num.rd(w._3 - 0.5 * g.getDouble(2), 9))
      (step, Num.rd(w._1, 6), Num.rd(w._2, 6), Num.rd(w._3, 6))
    }
    rows.toDF("step", "w_bias", "w_chars", "w_vowel")
  }

  val lrTrainSql: String = {
    val feat = """SELECT ln(1.0 + n_chars) / 10.0 AS x1,
                 |         CAST(length(text) - length(translate(text, 'aeiou', '')) AS DOUBLE) /
                 |           CAST(greatest(length(text), 1) AS DOUBLE) AS x2,
                 |         CASE WHEN doc_id % 3 = 0 THEN 1.0 ELSE 0.0 END AS y
                 |  FROM documents""".stripMargin
    def gradCte(i: Int): String = {
      val p = s"1.0/(1.0 + exp(-(w.b + w.c * x1 + w.s * x2)))"
      s"""g$i AS (
         |  SELECT ${Num.savgSql(s"sum(p - y)", "count(*)", 6, 9)} AS gb,
         |         ${Num.savgSql(s"sum((p - y) * x1)", "count(*)", 6, 9)} AS gc,
         |         ${Num.savgSql(s"sum((p - y) * x2)", "count(*)", 6, 9)} AS gs
         |  FROM (SELECT f.y, f.x1, f.x2, $p AS p FROM f CROSS JOIN w${i - 1} w))""".stripMargin
    }
    def stepCte(i: Int): String =
      s"""w$i AS (
         |  SELECT ${Num.rSql("w.b - 0.5 * g.gb", 9)} AS b,
         |         ${Num.rSql("w.c - 0.5 * g.gc", 9)} AS c,
         |         ${Num.rSql("w.s - 0.5 * g.gs", 9)} AS s
         |  FROM w${i - 1} w CROSS JOIN g$i g)""".stripMargin
    val ctes = (1 to LrSteps).map(i => gradCte(i) + ",\n" + stepCte(i)).mkString(",\n")
    val selects = (1 to LrSteps).map(i =>
      s"""SELECT $i AS step, ${Num.rSql("b", 6)} AS w_bias,
         |       ${Num.rSql("c", 6)} AS w_chars, ${Num.rSql("s", 6)} AS w_vowel FROM w$i""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH f AS (
       |  $feat),
       |w0 AS (SELECT 0.0 AS b, 0.0 AS c, 0.0 AS s),
       |$ctes
       |$selects""".stripMargin
  }

  /** BPE pair counting — the hot inner loop of byte-pair-encoding
    * tokenizer training, in its scalable form: aggregate the corpus to
    * WORD TYPES first (the shuffle is bounded by vocabulary, not token
    * count — the standard BPE trick), then expand each distinct word's
    * adjacent character pairs weighted by the word's frequency and
    * aggregate pair counts (bounded by charset², tiny). Top pairs =
    * the first merge candidates. Integer counts end-to-end: no fp risk.
    */
  val BpePairsK = 20
  def bpePairs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .filter(length(col("word")) >= 2)
      .select(col("freq"),
        explode(expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
          .as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(BpePairsK)

  val bpePairsSql: String =
    s"""WITH w AS (
       |  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word FROM documents),
       |wf AS (SELECT word, count(*) AS freq FROM w WHERE word <> '' GROUP BY 1),
       |p AS (
       |  SELECT freq, unnest(list_transform(range(1, len(word)), i -> substring(word, i, 2))) AS pair
       |  FROM wf WHERE len(word) >= 2)
       |SELECT pair, CAST(sum(freq) AS BIGINT) AS n
       |FROM p GROUP BY 1
       |ORDER BY n DESC, pair ASC LIMIT $BpePairsK""".stripMargin

  /** URL-canonicalization dedup (C4/CCNet web-corpus rule): messy crawl
    * URLs — case variants, default ports, tracking params, fragments,
    * trailing slashes, synthesized deterministically from events —
    * collapse onto one canonical form (functions/UrlInfo.canonicalizeUrl,
    * a pure map-side regex chain), then one groupBy counts events and
    * RAW variants per canonical URL. The shuffle carries canonical
    * strings only; at 100 TB you'd hash them first like the term
    * shuffles, but the variant accounting here is the point.
    */
  private[graft] def rawUrlCol: Column = {
    val k = get_json_object(col("props"), "$.k").cast("int")
    val host = concat(lit("shop"), (col("user_id") % 3).cast("string"), lit(".example.com"))
    val hostv = when(col("event_id") % 3 === 0, upper(host)).otherwise(host)
    val port = when(col("event_id") % 7 === 0, lit(":443")).otherwise(lit(""))
    val path = when(col("event_type") === "view", concat(lit("/product/p"), k.cast("string")))
      .when(col("event_type") === "click", lit("/search"))
      .when(col("event_type") === "purchase",
        concat(lit("/checkout/cart"), when(col("event_id") % 2 === 0, lit("/")).otherwise(lit(""))))
      .when(col("event_type") === "signup", lit("/account/profile"))
      .otherwise(lit("/"))
    val track = when(col("event_id") % 4 === 0, lit("?utm_source=google"))
      .when(col("event_id") % 4 === 1, lit("?q=crm&utm_medium=email"))
      .otherwise(lit(""))
    val frag = when(col("event_id") % 5 === 0, lit("#section2")).otherwise(lit(""))
    concat(lit("https://"), hostv, port, path, track, frag)
  }

  private val rawUrlSql: String =
    """'https://' ||
      | (CASE WHEN event_id % 3 = 0
      |   THEN upper('shop' || CAST(user_id % 3 AS VARCHAR) || '.example.com')
      |   ELSE 'shop' || CAST(user_id % 3 AS VARCHAR) || '.example.com' END) ||
      | (CASE WHEN event_id % 7 = 0 THEN ':443' ELSE '' END) ||
      | (CASE event_type
      |   WHEN 'view' THEN '/product/p' || CAST(CAST(json_extract_string(props, '$.k') AS INT) AS VARCHAR)
      |   WHEN 'click' THEN '/search'
      |   WHEN 'purchase' THEN '/checkout/cart' || (CASE WHEN event_id % 2 = 0 THEN '/' ELSE '' END)
      |   WHEN 'signup' THEN '/account/profile'
      |   ELSE '/' END) ||
      | (CASE WHEN event_id % 4 = 0 THEN '?utm_source=google'
      |       WHEN event_id % 4 = 1 THEN '?q=crm&utm_medium=email' ELSE '' END) ||
      | (CASE WHEN event_id % 5 = 0 THEN '#section2' ELSE '' END)""".stripMargin
      .replace("\n", " ")

  def urlDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), rawUrlCol.as("u"))
      .select(col("event_id"), col("u"),
        graft.functions.UrlInfo.canonicalizeUrl(col("u")).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("u")).as("n_variants"),
        min(col("event_id")).as("min_event_id"))

  val urlDedupSql: String =
    s"""WITH raw AS (SELECT event_id, $rawUrlSql AS u FROM events),
       |c1 AS (SELECT event_id, u, regexp_replace(u, '#.*$$', '', 'g') AS v FROM raw),
       |c2 AS (SELECT event_id, u,
       |         CASE WHEN regexp_extract(v, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1) = ''
       |           THEN v
       |           ELSE lower(regexp_extract(v, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)) ||
       |                regexp_extract(v, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)$$', 1) END AS v
       |       FROM c1),
       |c3 AS (SELECT event_id, u,
       |         regexp_replace(regexp_replace(v, '^(https://[^/:?#]+):443(/|\\?|$$)', '\\1\\2', 'g'),
       |                        '^(http://[^/:?#]+):80(/|\\?|$$)', '\\1\\2', 'g') AS v
       |       FROM c2),
       |c4 AS (SELECT event_id, u,
       |         regexp_replace(regexp_replace(v, '(utm_[a-z]+|gclid|fbclid)=[^&#]*&', '', 'g'),
       |                        '[?&](utm_[a-z]+|gclid|fbclid)=[^&#]*$$', '', 'g') AS v
       |       FROM c3),
       |c5 AS (SELECT event_id, u,
       |         regexp_replace(regexp_replace(v, '\\?$$', '', 'g'), '([^/])/$$', '\\1', 'g') AS v
       |       FROM c4)
       |SELECT v AS canonical_url, count(*) AS n_events,
       |       CAST(count(DISTINCT u) AS BIGINT) AS n_variants,
       |       min(event_id) AS min_event_id
       |FROM c5 GROUP BY 1""".stripMargin

  /** Incremental (delta) dedup — the operating mode a 100 TB corpus
    * actually runs in: dedup TODAY'S increment against the historical
    * corpus without reshuffling history. A Bloom filter over the
    * history digests (the persisted dedup index; built here with one
    * treeAggregate scan) gates the delta map-side; only the gated
    * survivors — true dups + the fpp sliver — are broadcast against ONE
    * history scan for exact verification, so the output is exact while
    * history is never shuffled. Within-batch dups resolve with a
    * delta-sized grouped argmin. Delta = re-crawled copies of every
    * 10th doc (twice — once +1M, once +2M, exercising both the
    * history-dup and within-batch-dup flags) plus genuinely new docs
    * (every doc ≡7 mod 10, text prefixed).
    */
  val DeltaDedupFpp = 0.01
  private def deltaBatch(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // three disjoint synthetic ranges: all require doc_id in [0, 1e6)
    val tenth = d.filter(col("doc_id") % 10 === 0)
    tenth.withColumn("doc_id", shiftedDocId(1000000L, 1000000L))
      .unionByName(tenth.withColumn("doc_id", shiftedDocId(2000000L, 1000000L)))
      .unionByName(d.filter(col("doc_id") % 10 === 7)
        .withColumn("doc_id", shiftedDocId(3000000L, 1000000L))
        .withColumn("text", concat(lit("fresh "), col("text"))))
  }

  /** The persisted dedup index a production pipeline keeps between
    * increments: the Bloom filter over history digests AND the history
    * cardinality that sized it. Building it is the once-per-index cost
    * (one treeAggregate scan + one metadata-cheap count); every daily
    * delta then reuses the artifact, paying zero history scans before
    * the exact-verify join.
    */
  case class DedupIndex(bloom: org.apache.spark.util.sketch.BloomFilter, nDigests: Long)

  def buildDedupIndex(hist: DataFrame): DedupIndex = {
    val histH = hist.select(xxhash64(col("digest")).as("h"))
    val n = histH.count()
    DedupIndex(graft.scale.Bloom.build(histH, "h", n, DeltaDedupFpp), n)
  }

  def deltaDedup(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables.documents(spark, dir).select(md5(col("text")).as("digest"))
    // Checkpointed: the delta batch is SMALL by premise (a daily
    // increment against a big history) yet referenced three times
    // (bloom-gate, first-per-digest, final join) — without the barrier
    // each reference re-runs the three-way fixture union over the
    // corpus. (doc_id, digest) rows only; EAGER at construction.
    val delta = deltaBatch(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("digest"))
      .localCheckpoint()
    val index = buildDedupIndex(hist)
    val gated = delta
      .filter(graft.scale.Bloom.mightContain(index.bloom, xxhash64(col("digest"))))
      .select(col("digest")).distinct()
    // exact verify: one history scan, gated survivors ride as broadcast
    val confirmed = hist.join(broadcast(gated), Seq("digest"), "left_semi")
      .distinct().withColumn("in_hist", lit(true))
    val firsts = delta.groupBy(col("digest")).agg(min(col("doc_id")).as("first_id"))
    delta.join(broadcast(confirmed), Seq("digest"), "left")
      .join(firsts, "digest")
      .select(col("doc_id"),
        coalesce(col("in_hist"), lit(false)).as("dup_of_history"),
        (col("doc_id") =!= col("first_id")).as("dup_within_batch"),
        (col("in_hist").isNull && col("doc_id") === col("first_id")).as("keep"))
  }

  val deltaDedupSql: String =
    """WITH hist AS (SELECT DISTINCT md5(text) AS digest FROM documents),
      |delta AS (
      |  SELECT doc_id + 1000000 AS doc_id, md5(text) AS digest FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000, md5(text) FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 3000000, md5('fresh ' || text) FROM documents WHERE doc_id % 10 = 7),
      |firsts AS (SELECT digest, min(doc_id) AS first_id FROM delta GROUP BY 1)
      |SELECT delta.doc_id,
      |       (hist.digest IS NOT NULL) AS dup_of_history,
      |       (delta.doc_id <> firsts.first_id) AS dup_within_batch,
      |       (hist.digest IS NULL AND delta.doc_id = firsts.first_id) AS keep
      |FROM delta
      |LEFT JOIN hist ON delta.digest = hist.digest
      |JOIN firsts ON delta.digest = firsts.digest""".stripMargin

  /** Distributed BPE tokenizer training: learn the first `BpeMerges`
    * merges (scale/BpeTrain — one corpus shuffle to word types, then
    * vocab-bounded merge iterations; the output is the merge table a
    * tokenizer ships). The oracle unrolls the SAME loop as chained CTEs:
    * per step, a pair-count aggregate, a deterministic argmax (count
    * desc, pair asc), and a list_reduce merge fold mirroring the Spark
    * HOF operation-for-operation.
    */
  val BpeMerges = 3
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    graft.scale.BpeTrain.train(Tables.documents(spark, dir), BpeMerges)

  private val bpeCtesSql: String = {
    val stages = (1 to BpeMerges).map { i =>
      s"""p$i AS (
         |  SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM (
         |    SELECT freq, unnest(CASE WHEN len(s) >= 2
         |      THEN list_transform(range(1, len(s)), j -> s[j] || ' ' || s[j+1])
         |      ELSE [] END) AS pair
         |    FROM w${i - 1}) GROUP BY 1),
         |m$i AS (
         |  SELECT pair, n, string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[2] AS b
         |  FROM p$i ORDER BY n DESC, pair ASC LIMIT 1),
         |w$i AS (
         |  SELECT word, freq,
         |    list_reduce(list_prepend(CAST([] AS VARCHAR[]), list_transform(s, x -> [x])),
         |      (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m$i.a AND x[1] = m$i.b
         |        THEN list_append(acc[1:len(acc)-1], m$i.a || m$i.b)
         |        ELSE list_append(acc, x[1]) END) AS s
         |  FROM w${i - 1} CROSS JOIN m$i)""".stripMargin
    }
    s"""wf AS (
       |  SELECT word, count(*) AS freq FROM (
       |    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
       |    FROM documents) WHERE word <> '' GROUP BY 1),
       |w0 AS (
       |  SELECT word, freq,
       |    list_transform(range(1, len(word) + 1), i -> substring(word, i, 1)) AS s
       |  FROM wf),
       |${stages.mkString(",\n")}""".stripMargin
  }

  val bpeTrainSql: String = {
    val out = (1 to BpeMerges)
      .map(i => s"SELECT $i AS step, pair, n FROM m$i")
      .mkString("\nUNION ALL\n")
    s"""WITH $bpeCtesSql
       |$out""".stripMargin
  }

  /** Tokenize with the learned merges: per-source accounting after
    * BpeMerges merges (scale/BpeTrain.tokenizeStats — word TYPES
    * tokenize once, the corpus word stream joins the vocab-sized count
    * table; the fold never runs per occurrence).
    */
  def bpeTokenize(spark: SparkSession, dir: String): DataFrame =
    graft.scale.BpeTrain.tokenizeStats(Tables.documents(spark, dir), BpeMerges)

  val bpeTokenizeSql: String =
    s"""WITH $bpeCtesSql,
       |pt AS (SELECT word, CAST(len(s) AS BIGINT) AS n_syms FROM w$BpeMerges),
       |wd AS (
       |  SELECT source, word FROM (
       |    SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
       |    FROM documents) WHERE word <> '')
       |SELECT source, count(*) AS n_words,
       |       CAST(sum(n_syms) AS BIGINT) AS n_tokens,
       |       ${Num.rSql("CAST(sum(n_syms) AS DOUBLE) / count(*)", 6)} AS tokens_per_word,
       |       ${Num.rSql("CAST(sum(len(word)) AS DOUBLE) / sum(n_syms)", 6)} AS chars_per_token
       |FROM wd JOIN pt USING (word)
       |GROUP BY 1""".stripMargin

  /** Contrastive hard-negative mining: per query, top-3 most-similar
    * vectors with a DIFFERENT label (scale/Similarity.hardNegatives —
    * broadcast queries, one corpus scan, bounded TopKAgg).
    */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame =
    Similarity.hardNegatives(Tables.embeddings(spark, dir), KnnQueryIds, 3)

  val hardNegativesSql: String =
    s"""WITH e AS (SELECT vec_id, label, $dblEmb AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv FROM e
       |      WHERE vec_id IN (${KnnQueryIds.mkString(",")})),
       |s AS (SELECT q.q_id, q.q_label, e.vec_id, ${Num.rSql(cosSql("e.v", "qv"), 6)} AS cos_sim
       |      FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id AND e.label <> q.q_label)
       |SELECT q_id, q_label, vec_id, cos_sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |            ORDER BY cos_sim DESC, vec_id ASC) AS rn FROM s)
       |WHERE rn <= 3""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("q_quality_classifier", qualityClassifier, qualityClassifierSql),
    Op("q_bpe_pairs", bpePairs, bpePairsSql),
    Op("q_bpe_train", bpeTrain, bpeTrainSql),
    Op("q_bpe_tokenize", bpeTokenize, bpeTokenizeSql),
    Op("q_url_dedup", urlDedup, urlDedupSql),
    Op("q_delta_dedup", deltaDedup, deltaDedupSql),
    Op("q_hard_negatives", hardNegatives, hardNegativesSql),
    Op("q_table_profile", tableProfile, tableProfileSql),
    Op("q_training_mix", trainingMix, trainingMixSql),
    Op("q_unigram_logprob", unigramLogprob, unigramLogprobSql),
    Op("q_repetition_filter", repetitionFilter, repetitionFilterSql),
    Op("q_rolling_user_features", rollingUserFeatures, rollingUserFeaturesSql),
    Op("q_event_gaps", eventGaps, eventGapsSql),
    Op("q_heavy_hitters", heavyHitters, heavyHittersSql),
    Op("q_heavy_hitters_lossy", heavyHittersLossy, heavyHittersLossySql),
    // CMS-gated candidate selection is exact-verified: same output
    // relation (and oracle) as the exact threshold query
    Op("q_heavy_hitters_cms", heavyHittersCms, heavyHittersLossySql),
    Op("q_mixture_weights", mixtureWeights, mixtureWeightsSql),
    Op("q_mixture_temperature", mixtureTemperature, mixtureTemperatureSql),
    Op("q_quality_quartiles", qualityQuartiles, qualityQuartilesSql),
    Op("q_approx_quantiles", approxQuantiles, approxQuantilesSql),
    Op("q_decontaminate", decontaminate, decontaminateSql),
    // sketch-gated, exact-verified: same output relation as the exact path
    Op("q_decontaminate_bloom", decontaminateBloom, decontaminateSql),
    Op("q_doc_chunks", docChunks, docChunksSql),
    Op("q_seq_packing", seqPacking, seqPackingSql),
    Op("q_embed_quantize", embedQuantize, embedQuantizeSql),
    Op("q_bm25_search", bm25Search, bm25SearchSql),
    Op("q_tfidf_topterms", tfidfTopTerms, tfidfTopTermsSql),
    Op("q_range_clicks", rangeClicks, rangeClicksSql),
    Op("q_asof_purchase", asofPurchase, asofPurchaseSql),
    Op("q_salted_user_stats", saltedUserStats, saltedUserStatsSql),
    Op("q_kmeans_assign", kmeansAssign, kmeansAssignSql),
    Op("q_cluster_prototypes", clusterPrototypes, clusterPrototypesSql),
    Op("q_pq_codes", pqCodes, pqCodesSql),
    Op("q_pq_distortion", pqDistortion, pqDistortionSql),
    Op("q_pq_adc_topk", pqAdcTopK, pqAdcTopKSql),
    Op("q_ivfpq_topk", ivfPqTopK, ivfPqTopKSql),
    Op("q_ivfpq_probed", ivfPqProbed, ivfPqProbedSql),
    Op("q_ann_recall", annRecall, annRecallSql),
    Op("q_retrieval_metrics", retrievalMetrics, retrievalMetricsSql),
    Op("q_cluster_balance", clusterBalance, clusterBalanceSql),
    // Past the cell-table budget the pairs come from a cell-keyed join
    // salted inside CellKernel by the runtime's parallelism: unsalted,
    // the r9 sf10 sweep measured 682.8 s with one CPU-pinned task per
    // cell; salt 8/32/64 measured 264/132/133 s at 32 cores. k stays at
    // the oracle-pinned default; the k-raised scale arm (17.6 s) lives
    // in ABBench.
    Op("q_semantic_neardup", semanticNearDup(_, _), semanticNearDupSql),
    Op("q_span_dedup", spanDedup, spanDedupSql),
    Op("q_dup_runs", dupRuns, dupRunsSql),
    Op("q_winnow_pairs", winnowPairs, winnowPairsSql),
    Op("q_decontaminate_winnow", decontaminateWinnow, decontaminateWinnowSql),
    Op("q_dsir_weights", dsirWeights, dsirWeightsSql),
    Op("q_weighted_sample", weightedSample, weightedSampleSql),
    Op("q_ngram_topk", ngramTopK, ngramTopKSql),
    Op("q_pmi_collocations", pmiCollocations, pmiCollocationsSql),
    Op("q_frame_sample", frameSample, frameSampleSql),
    Op("q_image_neardup", graft.multimodal.Multimodal.imageNeardup,
      graft.multimodal.Multimodal.imageNeardupSql),
    Op("q_corpus_curation", corpusCuration, corpusCurationSql),
    Op("q_corpus_sample", corpusSample, corpusSampleSql),
    Op("q_corpus_quantiles", corpusQuantiles, corpusQuantilesSql),
    Op("q_knn_join", knnJoin, knnJoinSql),
    Op("q_topk_per_user", topkPerUser, topkPerUserSql),
    Op("q_multimodal_stats", multimodalStats, multimodalStatsSql),
    Op("q_dedup_exact", dedupExact, dedupExactSql),
    // The near-dup gates carry the exact answer's oracle SQL: a corpus
    // whose pair expansion fits the gate takes its fast path, the exact
    // shingle tier; past it candidates are exact-verified and
    // ScaleSpec/RegimeSpec pin recall with the gate forced, so the
    // relations are equal and deterministic. See containmentLsh and
    // dupClustersLsh.
    Op("q_containment_lsh", containmentLsh, containmentPairsSql),
    Op("q_dup_clusters_lsh", dupClustersLsh, dupClustersSql),
    Op("q_canonical_docs_lsh", canonicalDocsLsh, canonicalDocsSql),
    Op("q_minhash_pairs", minhashPairs, jaccardPairsSql),
    // seedless FNV-1a makes the signatures themselves SQL-replayable —
    // see simhashPairsSql for the recursive-CTE construction.
    Op("q_simhash_pairs", simhashPairs, simhashPairsSql),
    Op("q_cosine_topk", cosineTopK, cosineTopKSql),
    Op("q_ann_lsh", annLsh, annLshSql),
    Op("q_embed_neardup", embedNearDup, embedNearDupSql),
    Op("q_label_centroids", labelCentroids, labelCentroidsSql),
    Op("q_ivf_topk", ivfTopK, ivfTopKSql),
    Op("q_token_counts", tokenCounts, tokenCountsSql),
    Op("q_run_metrics", graft.Metrics.runMetrics, graft.Metrics.runMetricsSql),
    Op("q_lr_train", lrTrain, lrTrainSql),
    Op("q_knn_graph", (s, d) => knnGraph(s, d), knnGraphSql),
    Op("q_knn_delta", knnDelta, knnDeltaSql),
    Op("q_pagerank", pagerank, pagerankSql),
    Op("q_triangle_count", triangleCount, triangleCountSql),
    Op("q_graph_coherence", graphCoherence, graphCoherenceSql),
    Op("q_split_assign", splitAssign, splitAssignSql),
    Op("q_bigram_logprob", bigramLogprob, bigramLogprobSql),
    Op("q_hybrid_search", hybridSearch, hybridSearchSql),
    Op("q_training_shards", trainingShards, trainingShardsSql),
    Op("q_shard_manifest", shardManifest, shardManifestSql),
    Op("q_quality_sample", qualitySample, qualitySampleSql))
}
