package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale document deduplication operators (the LLM-training-data
  * tier of BASELINE.json's north star): exact, n-gram Jaccard, and
  * MinHash+LSH near-dup detection.
  *
  * Scale design:
  *  - exact dedup = one hash shuffle on a 128-bit digest (never on the
  *    full text);
  *  - exact Jaccard is the quadratic baseline — candidate generation via
  *    shingle inverted index (explode + groupBy pair expansion) with
  *    per-doc shingle dedup to bound hot keys;
  *  - MinHash+LSH is the linear-ish scale path: 128 permutations
  *    (FNV-1a shingle hashes remixed by splitmix64), banded 32×4,
  *    candidates from band-bucket join only, then exact verification on
  *    the candidate set. At 100 TB the band join shuffles only (band,
  *    bucket, doc_id) tuples — a tiny fraction of corpus bytes.
  *
  * Every shingle near-dup query scores through one OVERLAP RELATION
  * (d1, d2, c = |A∩B|, n1 = |A|, n2 = |B|) with d1 < d2, over the
  * distinct n-shingle sets A, B. Two producers build it — the exact
  * inverted index [[overlapCounts]] and the candidate verifier
  * [[overlapsOf]] — and two measures read it, [[jaccard]] and
  * [[containment]]. A candidate tier therefore changes only which pairs
  * reach [[overlapsOf]], never how a pair is scored.
  */
object Dedup {

  /** Exact dedup: group on digest, keep canonical min key.
    * Returns (key_col_name kept as `canonical_doc_id`, n_copies).
    */
  def exactDupGroups(docs: DataFrame, textCol: String, keyCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(keyCol)).as("canonical_doc_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .select(col("canonical_doc_id"), col("n_copies"))

  /** Shingle set as 64-bit hashes — joins/intersections on fixed-width
    * longs instead of strings (same results modulo ~2⁻⁶⁴ collision odds;
    * at 100 TB the shuffle payload shrinks by ~3× and comparisons are
    * branch-free). Fused codegen'd expression — see ShingleExprs.
    */
  def shingleHashes(text: Column, n: Int): Column =
    ShingleExprs.shingleHashes(text, n)

  /** Enumerate ordered (x, y) pairs, x before y, of a sorted array as
    * structs (d1, d2) — HOF pair expansion after a groupBy(key), which
    * costs ONE shuffle of (key, member) instead of a self-join's two.
    * Members are ids, or (doc_id, n_sh) structs, which sort doc_id first
    * and so carry each doc's set size into the pair in the same d1 < d2
    * order.
    */
  private[graft] def pairsOf(sorted: Column): Column =
    flatten(transform(sorted, (x, i) =>
      transform(slice(sorted, i + 2, size(sorted)),
        y => struct(x.as("d1"), y.as("d2")))))

  /** Default document-frequency / bucket-size cap: far above any organic
    * shingle df (testdata max df is 25 at sf0.1; natural-language shingle
    * df distributions are heavy-tailed but their hot tail is exactly the
    * boilerplate a dedup pipeline WANTS to ignore), yet it bounds the
    * worst-case single-task pair expansion to maxDf²/2 ≈ 5·10⁵ structs
    * (~8 MB) instead of O(corpus²).
    */
  val MaxGroup = 1000

  /** C(MaxGroup, 2): the pair expansion of one shingle at the df cap,
    * derived from MaxGroup rather than set on its own. Budget of the LSH
    * entry points' gate on [[pairExpansion]].
    */
  val MaxGroupPairs: Long = MaxGroup.toLong * (MaxGroup - 1) / 2

  /** Shingle postings (doc_id, n_sh, s): one row per distinct n-shingle
    * s of each document, carrying the doc's distinct-shingle count n_sh —
    * the one relation both the exact tier's inverted index
    * ([[overlapCounts]]) and its cost certificate ([[pairExpansion]])
    * read, so the certificate measures exactly what the tier expands.
    */
  def postings(docs: DataFrame, textCol: String, keyCol: String, n: Int): DataFrame =
    docs.select(col(keyCol).as("doc_id"), shingleHashes(col(textCol), n).as("shs"))
      .select(col("doc_id"), size(col("shs")).as("n_sh"), explode(col("shs")).as("s"))

  /** Σ C(df, 2) over the shingles of `postings`: the pair rows the
    * exact tier's inverted index enumerates before its pair aggregate,
    * and so its cost — quadratic in duplication, not in row count. One
    * shingling pass and one aggregate; summed as a double so a hot
    * corpus cannot overflow (Double.toLong saturates).
    */
  def pairExpansion(postings: DataFrame): Long =
    postings.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .agg(coalesce(sum(col("df").cast("double") * (col("df") - 1) / 2), lit(0.0)))
      .head().getDouble(0).toLong

  /** The EXACT producer of the overlap relation: an inverted index over
    * `postings` whose pair expansion counts c per pair and carries both
    * set sizes — one shingling pass, no second corpus scan and no size
    * joins. O(candidate pairs); run on bounded corpora.
    *
    * `maxDf` guards the scale-killer: one ubiquitous shingle (a stop-word
    * trigram, a boilerplate header) shared by k docs expands to a single
    * O(k²) array in ONE task. Shingles with df > maxDf are dropped from
    * candidate generation — pairs whose overlap consists ONLY of such
    * boilerplate shingles are not reported, and a reported pair's c can
    * be under-counted by the dropped shingles' contribution. With the
    * default cap no organic corpus is affected (see MaxGroup).
    */
  private[graft] def overlapCounts(postings: DataFrame, maxDf: Int): DataFrame =
    postings.groupBy(col("s"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n_sh")))).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= maxDf)
      .select(explode(pairsOf(col("ds"))).as("p"))
      .groupBy(col("p.d1.doc_id").as("d1"), col("p.d2.doc_id").as("d2"))
      .agg(count(lit(1)).as("c"),
        first(col("p.d1.n_sh")).as("n1"), first(col("p.d2.n_sh")).as("n2"))

  /** The VERIFYING producer of the overlap relation: any candidate
    * (d1, d2) relation, each pair scored on the two shingle arrays
    * joined in — one array_intersect per pair. Shingle arrays are
    * distinct, so |A∪B| = n1 + n2 − c exactly and the measures compute
    * the same doubles as over [[overlapCounts]]. Θ(candidates), not
    * Σ C(df,2) over the corpus; precision is exact by construction.
    */
  def overlapsOf(docs: DataFrame, textCol: String, keyCol: String, n: Int,
      candidates: DataFrame): DataFrame = {
    val sh = docs.select(col(keyCol).as("doc_id"), shingleHashes(col(textCol), n).as("sh"))
    candidates.select(col("d1"), col("d2"))
      .join(sh.select(col("doc_id").as("d1"), col("sh").as("sh1")), Seq("d1"))
      .join(sh.select(col("doc_id").as("d2"), col("sh").as("sh2")), Seq("d2"))
      .select(col("d1"), col("d2"), size(array_intersect(col("sh1"), col("sh2"))).as("c"),
        size(col("sh1")).as("n1"), size(col("sh2")).as("n2"))
  }

  /** Jaccard resemblance |A∩B| / |A∪B| over an overlap relation. */
  val jaccard: Column = col("c").cast("double") / (col("n1") + col("n2") - col("c"))

  /** Containment |A∩B| / min(|A|, |B|) over an overlap relation — the
    * asymmetric near-dup measure. A truncated crawl, a quoted article,
    * an excerpt shard is ~fully contained in its parent while its
    * Jaccard resemblance falls with the length ratio, so a
    * Jaccard-thresholded dedup pass never pairs them; containment reads
    * 1.0 regardless of the parent's extra length (Broder's containment,
    * the measure superset-dedup passes run on).
    */
  val containment: Column = col("c").cast("double") / least(col("n1"), col("n2"))

  /** (d1, d2, jaccard) pairs of an overlap relation at jaccard ≥ threshold. */
  def jaccardAbove(overlaps: DataFrame, threshold: Double): DataFrame =
    overlaps.select(col("d1"), col("d2"), jaccard.as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** (d1, d2, containment, jaccard) pairs of an overlap relation at
    * containment ≥ threshold; jaccard rides along for the contrast
    * report.
    */
  def containmentAbove(overlaps: DataFrame, threshold: Double): DataFrame =
    overlaps.select(col("d1"), col("d2"), containment.as("containment"), jaccard.as("jaccard"))
      .filter(col("containment") >= threshold)

  /** Exact n-gram Jaccard pairs ≥ threshold via the shingle inverted
    * index ([[overlapCounts]], df-capped at `maxDf`).
    */
  def jaccardPairs(docs: DataFrame, textCol: String, keyCol: String,
      n: Int, threshold: Double, maxDf: Int = MaxGroup): DataFrame =
    jaccardAbove(overlapCounts(postings(docs, textCol, keyCol, n), maxDf), threshold)

  /** Exact n-gram CONTAINMENT pairs ≥ threshold. Same inverted-index
    * shape, df-cap, and O(candidate-pairs) cost as [[jaccardPairs]] —
    * and the same EXACT-TIER status: Σ C(df,2) pair expansion is
    * quadratic in duplication density (BASELINE.md round-7 sf1 spot
    * check: ~23 s warm on the adversarial ScaleUp corpus, right beside
    * the exact jaccard entry). So it runs behind a gate on that cost
    * (ScaleQueries.containmentLsh); at volume run [[overlapsOf]] on
    * candidate sets, not the raw corpus.
    */
  def containmentPairs(docs: DataFrame, textCol: String, keyCol: String,
      n: Int, threshold: Double, maxDf: Int = MaxGroup): DataFrame =
    containmentAbove(overlapCounts(postings(docs, textCol, keyCol, n), maxDf), threshold)

  // 128 perms as 32 bands × 4 rows, s* = (1/32)^(1/4) ≈ 0.42. Raised
  // from 64/16×4 in r9: the first sf1 oracle sweep measured 11 of
  // 250 600 exact pairs missed, all in the S-curve tail (j 0.73-0.8,
  // per-pair miss odds (1-j⁴)^16 ≈ 1e-3) — with 32 bands the same pairs
  // miss at ≤ 3e-5 and the sweep re-measured 0 missed. Banding recall
  // at a finite perm count is inherently probabilistic; the perm budget
  // is the knob that buys the measured corpus scale its exactness, and
  // the RegimeSpec equality sweep is what certifies it per scale.
  val MinHashPerms = 128
  val LshBands = 32
  val LshRows = 4

  /** MinHash signatures computed in ONE pass per document by the fused
    * MinHashSig expression — no explode, no per-permutation aggregate, no
    * shuffle: the only bytes leaving the scan stage are MinHashPerms
    * longs per doc.
    */
  def minhashSignatures(docs: DataFrame, textCol: String, keyCol: String, n: Int): DataFrame =
    docs.select(col(keyCol).as("doc_id"),
        ShingleExprs.minhashSig(col(textCol), n, MinHashPerms).as("sig"))
      .filter(col("sig").isNotNull)

  /** Candidate pairs from LSH banding: equal band-hash in any band —
    * each pair emitted ONCE, at its first clean agreeing band.
    *
    * The naive banding pipeline (bucket → C(k,2) expansion → distinct)
    * re-emits every true pair from EVERY band the pair agrees in, and a
    * near-dup corpus agrees in MOST bands: the r9 sf10 stress measured
    * 706 M pre-distinct rows for 27.3 M distinct pairs (26× redundancy,
    * ~11 GB into the distinct exchange) — the same volume class that
    * filled the disk on the simhash tier. Fix is the simhash emit-once
    * gate transplanted to MinHash: each membership row carries the doc's
    * full 32-long band-hash vector, so a pair's first clean agreeing
    * band is a pure function of the two carried vectors (plus the tiny
    * over-cap masks) and every enumerated copy decides LOCALLY whether
    * this band is the one that emits. Only ~n_pairs rows reach the
    * distinct, which stays as the invariant's safety net.
    *
    * Shape: sort-merge SELF-JOIN on (band, bucket) below two aliasing
    * projections of one repartitioned relation (the simhash
    * sigSelfJoinPairs pattern) — the shared exchange materializes once
    * via ReuseExchange, bucket members live in spillable UnsafeRow state
    * (no per-group array buffer), and the agreement bitmap is the
    * constant-size codegen'd BandAgreeMask kernel (ShingleExprs) — see
    * its scaladoc for why neither 32 unrolled terms nor a HOF fold
    * survives the sf10 pair volume.
    *
    * Hot-bucket guard, unchanged semantics: a bucket larger than
    * `maxBucket` signals mass near-identical duplication (belongs to
    * exactDupGroups upstream) or a hash-biased crowd; its membership
    * rows are anti-joined out BEFORE the join so no task enumerates
    * O(k²), and each affected doc's over-cap bands are masked out of the
    * gate bitmap so a pair whose first AGREEING band was dropped still
    * emits at its first CLEAN one — a pair is lost only when it shares
    * NO clean band, exactly the old drop semantics. The over-cap census
    * is Θ(n·bands/maxBucket) keys worst-case; AQE broadcasts it while it
    * fits and falls back to a shuffle join beyond that.
    *
    * EAGER: localCheckpoints the signature relation (129 longs/doc) at
    * construction — the census and the join input re-derive band hashes
    * from the checkpoint instead of re-running shingling over the corpus
    * (the Archive.compactDay contract: building this DataFrame runs
    * jobs).
    */
  def lshCandidates(signatures: DataFrame, maxBucket: Int = MaxGroup): DataFrame = {
    val sigs = signatures.localCheckpoint()
    val bhCol = transform(sequence(lit(0), lit(LshBands - 1)),
      b => xxhash64((0 until LshRows).map(r =>
        element_at(col("sig"), b * LshRows + r + 1)): _*))
    val members = sigs.select(col("doc_id"), bhCol.as("bh"))
      .select(col("doc_id"), col("bh"),
        posexplode(col("bh")).as(Seq("band", "bucket")))
    val census = members.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("df"))
    val overCap = census.filter(col("df") > maxBucket)
      .select(col("band"), col("bucket"))
    // per-doc bitmap of its over-cap bands — only docs that touch an
    // over-cap bucket appear (empty at every measured scale)
    val capMasks = members.select(col("doc_id"), col("band"), col("bucket"))
      .join(overCap, Seq("band", "bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), band)")).as("capmask"))
    val mm = members
      .join(overCap, Seq("band", "bucket"), "left_anti")
      .join(capMasks, Seq("doc_id"), "left")
      .select(col("band"), col("bucket"), col("doc_id"), col("bh"),
        coalesce(col("capmask"), lit(0L)).as("cm"))
      .repartition(col("band"), col("bucket"))
    val left = mm.select(col("band"), col("bucket"),
      col("doc_id").as("d1"), col("bh").as("bh1"), col("cm").as("cm1"))
    val right = mm.select(col("band"), col("bucket"),
      col("doc_id").as("d2"), col("bh").as("bh2"), col("cm").as("cm2"))
    // agreement bitmap via the constant-size codegen'd kernel — 32
    // unrolled when-terms measured 22,693 generated bytecodes (past the
    // 8,000-byte JIT refusal; the fused join stage ran interpreted)
    val agree = ShingleExprs.bandAgreeMask(col("bh1"), col("bh2"))
    left.join(right, Seq("band", "bucket"))
      .filter(col("d1") < col("d2"))
      .withColumn("elig", agree.bitwiseAND(bitwise_not(col("cm1")))
        .bitwiseAND(bitwise_not(col("cm2"))))
      // lowest set bit of the eligible-band bitmap == THIS band ⇒ emit
      .filter(col("elig").bitwiseAND(negate(col("elig"))) ===
        expr("shiftleft(CAST(1 AS BIGINT), band)"))
      .select(col("d1"), col("d2"))
      .distinct()
  }

  /** Connected components over near-dup pairs — the step that turns
    * pairwise similarity into dedup GROUPS (keep one canonical doc per
    * cluster). Iterative min-label propagation: each node adopts the
    * minimum label among itself and its neighbors until fixpoint.
    * Converges in O(component diameter) Spark jobs; near-dup clusters
    * are shallow (dup fan-outs, not long chains), so the loop is short.
    *
    * DELTA-FRONTIER propagation (r9): a node's label can only decrease
    * when a NEIGHBOR'S label decreased, so only last step's changed
    * nodes need to send messages. The first step is the unavoidable full
    * edges⋈labels pass (every initial label is news); every later step
    * joins edges against the shrinking frontier only — at the sf10 LSH
    * corpus (54.6 M directed edges) the pre-delta loop re-joined ALL
    * edges in EVERY step, paying Θ(iters × edges) for label traffic
    * that was ~99 % unchanged after step one. Frontier emptiness IS the
    * fixpoint test, so the convergence count rides the same
    * materialization. Edges are persisted REPARTITIONED ON THE JOIN KEY
    * (`b`): the cached relation's outputPartitioning satisfies every
    * step's join requirement, so no step re-shuffles the edge relation —
    * AQE broadcasts the frontier side once it shrinks below the
    * threshold and the step becomes a map-side pass over cached
    * partitions. Labels and the frontier are checkpointed per step to
    * keep the plan from growing with iterations.
    *
    * DO NOT add pointer-jumping (l(v) ← l(l(v)) self-joins) to this
    * loop. Tried and reverted at r10: `localCheckpoint` CARRIES the
    * origin plan's estimated sizeInBytes onto the LogicalRDD, and
    * Catalyst's join estimate MULTIPLIES the two sides' estimates as
    * unbounded BigInts — the flat loop grows the carried estimate ~17
    * bits per round (harmless), but a self-join of the checkpointed
    * iterative state SQUARES it per round, and by round ~18 the driver
    * spends tens of seconds per checkpoint inside BigInteger ToomCook
    * multiplication in SizeInBytesOnlyStatsPlanVisitor (measured: the
    * density CC 8.5 s flat vs 73-101 s jumped on IDENTICAL labels, with
    * the shortcut cutting rounds only 47→22 — message propagation, not
    * pointer depth, is the bottleneck under delta-frontier messaging).
    * Long-diameter GEOMETRIC components (DBSCAN eps-blobs: hop count ≈
    * physical extent / eps, independent of corpus size) should instead
    * pass an explicit `maxIters` sized to their geometry — rounds cost
    * Θ(frontier) each, so a hundred shallow rounds beat any clever
    * squared-stats join.
    */
  /** Driver union-find budget, in DIRECTED (symmetrized) edges — the
    * number `edges.count()` measures; the collected half (a ≤ b) is
    * budget/2 tuples, ~40 B each (≤ ~80 MB transient).
    *
    * Why 4M: at sf0.1 the LSH dup graphs are ~10⁴–10⁵ directed edges and
    * the DBSCAN quotient graph ~10⁴ — far under budget — while the sf10
    * LSH corpus measured 54.6 M directed edges (r9 sweep), well over, so
    * the delta-frontier loop (the 100 TB story) remains the path wherever
    * the graph is NOT certifiably driver-sized. The budget bounds driver
    * memory by construction, not by testdata accident.
    */
  val CcCollectEdges = 4000000L

  /** Exact min-label connected components on the driver for a
    * certified-bounded edge set (VERDICT r12 #1): one collect job over
    * the already-persisted edges replaces ~diameter driver-scheduled
    * propagation rounds (the DBSCAN eps-blob geometry measured 24–47
    * rounds, each a fixed-cost Spark job, invariant from 8→32 cores).
    * Union-find with path compression, then each component labeled by
    * its MINIMUM member id — exactly the min-label fixpoint the
    * iterative loop converges to, so labels are identical by
    * construction (ScaleSpec pins equality on the LSH corpus).
    */
  private def unionFindLabels(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    // one direction suffices (edges are symmetrized; a == b self-loops
    // kept so isolated self-paired nodes still register)
    val half = edges.filter(col("a") <= col("b")).collect()
    val idxOf = new java.util.HashMap[Long, Int](half.length * 2)
    val ids = new scala.collection.mutable.ArrayBuffer[Long]()
    val parent = new scala.collection.mutable.ArrayBuffer[Int]()
    def idOf(x: Long): Int =
      if (idxOf.containsKey(x)) idxOf.get(x)
      else {
        val k = ids.length
        idxOf.put(x, k); ids += x; parent += k; k
      }
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    half.foreach { row =>
      val ra = find(idOf(row.getLong(0)))
      val rb = find(idOf(row.getLong(1)))
      if (ra != rb) parent(ra) = rb
    }
    val n = ids.length
    // min member id per root == the min-label propagation fixpoint
    val minOf = new Array[Long](n)
    java.util.Arrays.fill(minOf, Long.MaxValue)
    var i = 0
    while (i < n) {
      val r = find(i)
      if (ids(i) < minOf(r)) minOf(r) = ids(i)
      i += 1
    }
    val out = new Array[(Long, Long)](n)
    i = 0
    while (i < n) { out(i) = (ids(i), minOf(find(i))); i += 1 }
    import spark.implicits._
    spark.sparkContext
      .parallelize(out.toIndexedSeq, math.max(1, spark.sparkContext.defaultParallelism))
      .toDF("doc_id", "cluster_id")
  }

  def dupClusters(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    // symmetrize via explode, NOT a self-union: a union would execute the
    // (possibly very expensive) upstream pair plan twice
    val edges = pairs.select(explode(array(
        struct(col("d1").as("a"), col("d2").as("b")),
        struct(col("d2").as("a"), col("d1").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .repartition(col("b"))
      .persist()
    // CERTIFIED-BOUNDED fast path: when the (symmetrized) edge relation
    // is driver-sized — the count certificate, which also populates the
    // cache — run CC as ONE collected union-find instead of O(component
    // hop diameter) Spark jobs. The loud-cap delta-frontier loop stays
    // the uncertified-premise path: past the budget (54.6 M directed
    // edges at the sf10 LSH corpus) nothing is collected and the 100 TB
    // shape is unchanged.
    try Bounded(edges.sparkSession, CcCollectEdges)(Bounded.longRows(edges))(
      unionFindLabels(edges)) {
      var labels = edges.select(col("a").as("node")).distinct()
        .withColumn("label", col("node"))
        .localCheckpoint()
      var frontier = labels
      var iter = 0
      while (frontier != null && iter < maxIters) {
        val msgs = edges
          .join(frontier.select(col("node").as("b"), col("label")), Seq("b"))
          .groupBy(col("a")).agg(min(col("label")).as("nl"))
          .select(col("a").as("node"), col("nl"))
        val updated = labels.join(msgs, Seq("node"), "left")
          .select(col("node"),
            least(col("label"), coalesce(col("nl"), col("label"))).as("label"),
            // ANSI-safe: null nl compares to null, filter() drops it
            (col("nl") < col("label")).as("chg"))
          // LAZY checkpoint (r12): the eager form spent TWO jobs per round
          // (materialize + isEmpty) and the round count is the whole cost
          // of the geometry-bounded DBSCAN loop (~24 rounds × fixed job
          // overhead). The count below computes EVERY partition of
          // `updated` (filter is narrow, count is total), so the one
          // action both materializes the checkpoint — truncating lineage
          // exactly like the eager form — and decides convergence.
          .localCheckpoint(eager = false)
        val nChanged = updated.filter(col("chg")).count()
        labels = updated.select(col("node"), col("label"))
        frontier =
          if (nChanged == 0L) null
          else updated.filter(col("chg")).select(col("node"), col("label"))
        iter += 1
      }
      // FAIL LOUDLY at the iteration cap: a non-empty frontier here means
      // some component's diameter exceeds maxIters and the labels are NOT
      // converged — returning them would be silently wrong clusters. The
      // gate oracles catch that at test scales; at production scale nothing
      // would (the q_heavy_hitters premise class: near-dup graphs are
      // shallow on THIS corpus, by data, not by construction). A diameter
      // past the cap is an anomaly worth stopping the pipeline for — raise
      // maxIters deliberately rather than trusting partial propagation.
      require(frontier == null,
        s"dupClusters did not converge within $maxIters iterations — a " +
          "component's diameter exceeds the cap; labels would be silently " +
          "unconverged. Raise maxIters for this corpus.")
      // One greppable line per convergence: the round count IS the measured
      // hop diameter (+1 detection round), and geometry-bounded claims
      // (DBSCAN: rounds independent of corpus size) are audited by reading
      // this line off the sf10 sweep logs rather than argued (VERDICT r10
      // #1). Negligible noise: one line per CC invocation.
      println(s"[cc] dupClusters converged rounds=$iter cap=$maxIters")
      labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
    } finally edges.unpersist()
  }

  /** Canonical-document selection — the step after clustering that a
    * curation pipeline actually ships: per near-dup cluster keep the
    * highest-quality member (smallest doc_id on quality ties, so the
    * choice is deterministic). One hash aggregate with an argmax encoded
    * as max(struct(quality, −id)) — no window, no per-cluster sort; the
    * quality column is evaluated in the scan projection so only
    * (cluster_id, quality, id) reaches the shuffle.
    *
    * `clusters` is dupClusters output (doc_id, cluster_id) and holds only
    * clustered docs — typically a small fraction of the corpus — so the
    * join prunes the corpus scan to cluster members before scoring; AQE
    * picks broadcast vs shuffle join by its actual size.
    */
  def canonicalPerCluster(docs: DataFrame, clusters: DataFrame,
      keyCol: String, quality: Column): DataFrame =
    docs.select(col(keyCol).as("doc_id"), quality.as("q"))
      .join(clusters, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("q").as("q"), (-col("doc_id")).as("nid"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), (-col("best.nid")).as("canonical_doc_id"),
        col("n_members"), col("best.q").as("quality"))

  /** The deduped corpus: all unclustered docs plus each cluster's
    * canonical member — a left anti join on the non-canonical id set, so
    * document text is never shuffled (only ids move).
    */
  def dedupedCorpus(docs: DataFrame, clusters: DataFrame,
      keyCol: String, quality: Column): DataFrame = {
    val canonical = canonicalPerCluster(docs, clusters, keyCol, quality)
    val dropIds = clusters.join(canonical,
        clusters("cluster_id") === canonical("cluster_id") &&
          clusters("doc_id") === canonical("canonical_doc_id"), "left_anti")
      .select(col("doc_id"))
    docs.join(dropIds, docs(keyCol) === dropIds("doc_id"), "left_anti")
  }

  /** Full MinHash near-dup pipeline: shingle → sign → band → candidates →
    * exact-verify Jaccard on candidates only.
    *
    * Gated on the exact tier's own cost: when the shingle index's pair
    * expansion [[pairExpansion]] is at most [[MaxGroupPairs]] (the
    * certificate), the exact tier runs over the same postings instead.
    * No shingle can then have df > MaxGroup, so the df cap drops nothing
    * and the exact tier returns the all-pairs answer — the same d1 < d2
    * pairs and, through the one overlap relation, the same doubles the
    * verification computes — without the banding pipeline's fixed cost
    * (eager signature checkpoint, over-cap census, band self-join),
    * which dominates a corpus of a few hundred organic documents. A
    * corpus of mass duplication (1 000 copies of one 99-word document:
    * 97 × C(1000, 2) pairs) fails the certificate at any row count and
    * keeps the LSH tiers, which fold copies into shared buckets. Past the
    * budget, RegimeSpec pins LSH recall against the exact tier at sf0.1
    * and ScaleSpec at sf0.001 and sf0.01, with the gate forced.
    */
  def minhashDupPairs(docs: DataFrame, textCol: String, keyCol: String,
      n: Int, threshold: Double): DataFrame = {
    val post = postings(docs, textCol, keyCol, n)
    val overlaps = Bounded(docs.sparkSession, MaxGroupPairs)(pairExpansion(post))(
      overlapCounts(post, MaxGroup))(
      overlapsOf(docs, textCol, keyCol, n,
        lshCandidates(minhashSignatures(docs, textCol, keyCol, n))))
    jaccardAbove(overlaps, threshold)
  }
}
