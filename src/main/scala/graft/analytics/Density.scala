package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Num, Op, Tables}
import graft.scale.{Dedup, VectorOps}

/** Density-based clustering (DBSCAN, Ester et al. 1996) over the
  * embedding corpus — the clustering family's density member, next to
  * the centroid (k-means), covering (k-center) and spectral-ish (PCA)
  * tiers already in the registry. A curation pipeline reaches for
  * DBSCAN where k is unknown and noise is a first-class outcome:
  * carving an embedding space into organic topic islands and an
  * explicit "no dense neighborhood" outlier set (the q_embed_outliers
  * signal, but cluster-shaped).
  *
  * Plane: the first two coordinates of the deterministic JL sketch
  * (CorpusDiversity.jlSign — integer-derived ±1 matrix, identical
  * literals in both engines), snapped at 1e-6. Running density search
  * on a 2-d projection instead of the raw 64-d space is the standard
  * grid-DBSCAN scale move: in 2-d an eps-grid cell has exactly 9
  * neighbor cells, so the neighbor join is a bounded cell-bucket probe
  * (the LSH-bucket shape), never an all-pairs.
  *
  * Scale shape (the 100 TB reading):
  *   - ONE corpus scan projects (x, y) and the home cell; the projected
  *     relation is checkpointed and reused by every stage (branch-reuse
  *     rule — three consumers otherwise re-run the scan).
  *   - Neighbor candidates come from an equi-join on the eps-grid cell:
  *     each point probes its 3×3 cell block (a 9× explode of ids+coords,
  *     not of payloads), so candidate volume is Θ(n · occupancy) with
  *     occupancy bounded by the data's density at the eps grain —
  *     the premise is DATA-asserted at sf0.1 (DensitySpec: max cell
  *     occupancy ≪ the probe budget), the q_heavy_hitters discipline.
  *     A corpus decade denser than the premise re-certifies or re-grains
  *     eps; nothing quadratic in n ever forms.
  *   - Core flags are one hash aggregate over the candidate stream;
  *     cluster labels are delta-frontier connected components over
  *     core–core edges (Dedup.dupClusters — edges persisted partitioned
  *     on the join key, frontier shrinks per step, loud failure at the
  *     iteration cap).
  *   - Border points attach map-side: min core-neighbor label, one
  *     aggregate — no iteration.
  *
  * Determinism across engines: x/y are 1e-6-snapped results of the
  * identical left-to-right dot; the cell id is floor(x · 32.0) (eps is
  * 2⁻⁵, so the multiply and the floor are EXACT in binary — no grid-edge
  * ulp can flip a cell); the eps² comparison is the IEEE expression
  * (dx·dx + dy·dy) ≤ 2⁻¹⁰ over identical doubles in identical order —
  * subtraction/multiply/add are exactly-rounded in both engines, so the
  * boundary cannot flip. Classic DBSCAN leaves border-point assignment
  * order-dependent; this operator pins it to min(core-neighbor label)
  * and labels a cluster by its min core vec_id, making the output a
  * pure function of the data. Noise rows carry cluster_id = −1.
  *
  * Reference anchor: the reference has no density clustering; this is
  * part of the LLM-scale curation tier (SURVEY §2 "beyond the
  * reference" mandate), alongside k-means/k-center/PCA.
  */
object Density {

  /** DBSCAN radius — 2⁻⁵, exactly representable, so cell math is exact.
    * Chosen against the swept JL plane: at this grain the corpus shows
    * real multi-island structure (19 clusters at 500 vectors, 8 at
    * 2 000) instead of one merged blob (eps 2⁻⁴ → 1 cluster).
    */
  val DbEps = 0.03125

  /** eps² as the literal BOTH engines compare against (2⁻¹⁰). */
  val DbEps2 = "0.0009765625"

  /** 1 / eps — the exact power-of-two cell scale. */
  val DbCellScale = 32.0

  /** Core threshold: a point is core when its eps-ball holds ≥ MinPts
    * points INCLUDING itself (the DBSCAN convention).
    */
  val DbMinPts = 5

  /** CC iteration budget for the eps-blob components. Min-label
    * propagation needs one round per HOP of a component's diameter, and
    * an eps-blob's hop diameter is geometric — bounded by the plane's
    * extent over eps (≈ √2 · 1.8 / 2⁻⁵ ≈ 82 on the JL plane whose
    * coordinates live in ±0.9), NOT by corpus size; measured 47 rounds
    * at sf0.1. 4× that bound keeps the loud non-convergence guard
    * meaningful while clearing every geometry this plane can produce.
    */
  val DbCcMaxIters = 320

  /** Probe budget: an eps-grid cell holding more DISTINCT coordinates
    * than this pushes the 3×3 cell join out of its sparse regime —
    * re-grain DbEps before trusting the grid shape at a denser corpus.
    * Asserted at sf0.1 by DensitySpec and at sf1 by graft.PremiseCheck
    * inside dev/sweep_sf1.sh (ScaleUp's exact-copy corpora are the
    * adversarial mass-duplication case the quotient exists for).
    */
  val DbMaxCellOccupancy = 64L

  private val Dim = CorpusDiversity.JlInDim

  /** (vec_id, x, y, cx, cy): the snapped JL plane plus home cell. */
  private def plane(spark: SparkSession, dir: String): DataFrame = {
    val s0 = typedLit((0 until Dim).map(j => CorpusDiversity.jlSign(0, j)))
    val s1 = typedLit((0 until Dim).map(j => CorpusDiversity.jlSign(1, j)))
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        Num.r(VectorOps.dot(col("embedding"), s0) / lit(4.0), 6).as("x"),
        Num.r(VectorOps.dot(col("embedding"), s1) / lit(4.0), 6).as("y"))
      .withColumn("cx", floor(col("x") * lit(DbCellScale)))
      .withColumn("cy", floor(col("y") * lit(DbCellScale)))
  }

  private def dist2(ax: Column, ay: Column, bx: Column, by: Column): Column =
    (ax - bx) * (ax - bx) + (ay - by) * (ay - by)

  /** Per-point DBSCAN labels: (vec_id, role ∈ core|border|noise,
    * cluster_id = min core vec_id of the component, −1 for noise).
    *
    * Runs on the EXACT-COORDINATE QUOTIENT (the containment
    * distinct-text precedent): points with identical snapped (x, y)
    * collapse to one node carrying multiplicity m and the min vec_id as
    * rep. Equivalence to raw DBSCAN is exact — same-coordinate copies
    * are mutual 0-distance neighbors, so a copy's eps-ball count is
    * m(own coord) + Σ m(neighbor coords) (the multiplicity-weighted
    * core test), every copy at a coordinate shares one role, and the
    * min-core-vec_id cluster name survives because each rep IS its
    * coordinate's min id. The quotient is what keeps the 3×3 cell probe
    * in its sparse regime under MASS DUPLICATION: candidate volume is
    * Θ(distinct · distinct-occupancy), not Θ(n · occupancy) — a 100×
    * duplicated corpus (the ScaleUp shape, and real crawl dumps) would
    * otherwise square the per-cell join.
    */
  /** The pre-CC pipeline stages shared by [[dbscan]] and the data-premise
    * audit: projected corpus, exact-coordinate quotient, eps-neighbor
    * stream and multiplicity-weighted core flags.
    */
  private case class Quotient(ptsAll: DataFrame, pts: DataFrame,
      nbr: DataFrame, flags: DataFrame)

  private def quotientOf(spark: SparkSession, dir: String): Quotient = {
    // projected corpus: one scan; reused by the quotient and the final
    // per-point expansion — checkpoint breaks the branch duplication
    val ptsAll = plane(spark, dir).localCheckpoint()
    // exact-coordinate quotient (distinct geometry + multiplicity)
    val pts = ptsAll
      .groupBy(col("x"), col("y"), col("cx"), col("cy"))
      .agg(min(col("vec_id")).as("rep"), count(lit(1)).as("m"))
      .localCheckpoint()
    // 3×3 cell probe: explode only (rep, x, y, m) + the 9 cell keys
    val cells = (for (dx <- -1 to 1; dy <- -1 to 1) yield struct(
      (col("cx") + lit(dx.toLong)).as("cx"),
      (col("cy") + lit(dy.toLong)).as("cy"))).toSeq
    val probe = pts.select(col("rep").as("b"), col("x").as("bx"),
        col("y").as("by"), col("m").as("bm"), explode(array(cells: _*)).as("c"))
      .select(col("b"), col("bx"), col("by"), col("bm"),
        col("c.cx").as("cx"), col("c.cy").as("cy"))
    // symmetric eps-neighbor stream over DISTINCT coordinates
    val nbr = pts.join(probe, Seq("cx", "cy"))
      .filter(col("rep") =!= col("b") &&
        dist2(col("x"), col("y"), col("bx"), col("by")) <= lit(DbEps2.toDouble))
      .select(col("rep").as("a"), col("b"), col("bm"))
      .localCheckpoint()
    // multiplicity-weighted core test: own copies + neighbor copies
    val flags = pts.select(col("rep"), col("m"))
      .join(nbr.groupBy(col("a").as("rep")).agg(sum(col("bm")).as("nn")),
        Seq("rep"), "left")
      .select(col("rep"),
        (col("m") + coalesce(col("nn"), lit(0L)) >= lit(DbMinPts.toLong))
          .as("is_core"))
      .localCheckpoint()
    Quotient(ptsAll, pts, nbr, flags)
  }

  def dbscan(spark: SparkSession, dir: String): DataFrame = {
    val q = quotientOf(spark, dir)
    val (ptsAll, pts, nbr, flags) = (q.ptsAll, q.pts, q.nbr, q.flags)
    val coreIds = flags.filter(col("is_core")).select(col("rep"))
    // directed core-core adjacency, then AUGMENT with 2-hop shortcuts
    // through a shared core midpoint — pure transitivity (a–b, b–c core
    // ⇒ a,c same cluster), so labels are unchanged while min-label
    // propagation covers two hops per round: the geometric round count
    // halves (~47 → ~24 on this plane) and each round is a fixed-cost
    // Spark job. The shortcut join is Θ(Σ deg²) over the QUOTIENT graph,
    // whose size is scale-invariant under duplication.
    val ed = nbr.select(col("a"), col("b"))
      .join(coreIds.select(col("rep").as("a")), Seq("a"))
      .join(coreIds.select(col("rep").as("b")), Seq("b"))
      .localCheckpoint()
    val edges2 = ed
      .join(ed.select(col("a").as("mid2"), col("b").as("b2")),
        col("b") === col("mid2"))
      .filter(col("a") < col("b2"))
      .select(col("a").as("d1"), col("b2").as("d2"))
    val edges = ed.filter(col("a") < col("b"))
      .select(col("a").as("d1"), col("b").as("d2"))
      .unionByName(edges2)
      .distinct()
    // min-label CC over core-core edges. An eps-blob's hop diameter is
    // GEOMETRIC — plane extent / eps ≈ 110 on this plane, independent of
    // corpus size (measured 47 rounds at sf0.1, already brushing the
    // default 50 cap) — so the cap is sized to the geometry with margin;
    // rounds cost Θ(frontier) each under delta-frontier messaging.
    // Isolated cores (every neighbor border) never reach the edge
    // relation — coalesce to self-label.
    val coreLab = coreIds
      .join(Dedup.dupClusters(edges, maxIters = DbCcMaxIters)
          .withColumnRenamed("doc_id", "rep"),
        Seq("rep"), "left")
      .select(col("rep"),
        coalesce(col("cluster_id"), col("rep")).as("cluster_id"))
      .localCheckpoint()
    val borderLab = nbr
      .join(flags.filter(!col("is_core")).select(col("rep").as("a")), Seq("a"))
      .join(coreLab.select(col("rep").as("b"), col("cluster_id")), Seq("b"))
      .groupBy(col("a").as("rep"))
      .agg(min(col("cluster_id")).as("b_cluster"))
    val roleLab = flags
      .join(coreLab.select(col("rep"), col("cluster_id").as("c_cluster")),
        Seq("rep"), "left")
      .join(borderLab, Seq("rep"), "left")
      .select(col("rep"),
        when(col("is_core"), lit("core"))
          .when(col("b_cluster").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("c_cluster"), col("b_cluster"), lit(-1L)).as("cluster_id"))
    // expand the quotient labeling back to every vec_id (exact-double
    // equi-join on the snapped coordinates — deterministic keys)
    ptsAll.select(col("vec_id"), col("x"), col("y"))
      .join(pts.select(col("x"), col("y"), col("rep")), Seq("x", "y"))
      .join(roleLab, Seq("rep"))
      .select(col("vec_id"), col("role"), col("cluster_id"))
  }

  /** Labels as a SHARED ARTIFACT (the knnGraphBuild precedent,
    * ScaleQueries.scala:1823): run the full DBSCAN pipeline once per
    * corpus snapshot, persist the per-point `(vec_id, role, cluster_id)`
    * relation as parquet, and let every consumer read the artifact at
    * Θ(labels) instead of re-running the quotient + neighbor join +
    * geometry-bounded CC rounds (q_dbscan_stats paid the whole ~7.5 s
    * pipeline again on top of q_dbscan's in the r10 sweep). The
    * registered queries stay composed for oracle parity; DensitySpec
    * pins equality of both forms.
    */
  def dbscanBuild(spark: SparkSession, dir: String, path: String): DataFrame = {
    dbscan(spark, dir).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** Θ(labels) cluster rollup over a label relation — one aggregate,
    * nothing upstream of the labels is touched.
    */
  def dbscanStatsOn(labels: DataFrame): DataFrame =
    labels.groupBy(col("cluster_id"))
      .agg(sum(when(col("role") === "core", 1L).otherwise(0L)).as("n_core"),
        sum(when(col("role") === "border", 1L).otherwise(0L)).as("n_border"),
        count(lit(1)).as("n_total"))

  /** Cluster-level rollup of the same labeling: one row per cluster
    * (noise is cluster −1) with member counts by role — the summary a
    * curation report keeps when the per-point relation is too wide to
    * publish. Registered composed form (oracle parity): recomputes the
    * labels inline; the production path is [[dbscanBuild]] once, then
    * [[dbscanStatsOn]] the parquet.
    */
  def dbscanStats(spark: SparkSession, dir: String): DataFrame =
    dbscanStatsOn(dbscan(spark, dir))

  /** Data-premise audit over the pre-CC stages — one row with the
    * numbers the operator's scale envelope rests on: corpus size,
    * quotient size, max DISTINCT-coordinate occupancy of an eps-cell
    * (the 3×3 probe budget), max coordinate multiplicity (how hard the
    * duplication adversary is pushing), and the core fraction of the
    * quotient. Cheap by construction: the CC loop never runs. Consumed
    * by graft.PremiseCheck in the sf1 sweep and available for any
    * corpus-drift triage.
    */
  def quotientStats(spark: SparkSession, dir: String): DataFrame = {
    val q = quotientOf(spark, dir)
    val n = q.ptsAll.agg(count(lit(1)).as("n_points"))
    val core = q.flags.agg(
      sum(when(col("is_core"), 1L).otherwise(0L)).as("n_core"),
      count(lit(1)).as("n_distinct"))
    val occ = q.pts.groupBy(col("cx"), col("cy")).agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("max_cell_occupancy"))
    val mult = q.pts.agg(max(col("m")).as("max_multiplicity"))
    n.crossJoin(core).crossJoin(occ).crossJoin(mult)
      .select(col("n_points"), col("n_distinct"), col("max_cell_occupancy"),
        col("max_multiplicity"), col("n_core"),
        Num.r(col("n_core").cast("double") / col("n_distinct"), 6)
          .as("core_frac"))
  }

  /** Unrolled label-propagation rounds in the ORACLE. The first oracle
    * used a recursive-CTE transitive closure (the q_dup_clusters
    * pattern) — correct, but it materializes m² (node, reachable-label)
    * pairs per component, and unlike near-dup clusters (shallow, small)
    * a DBSCAN eps-blob is ONE giant component: at sf1 the closure was
    * ~360 M pairs × ~50 rounds of DuckDB work. The unrolled form keeps
    * state at one label per node: each round takes the min of the
    * neighbor labels AND the label's own label (pointer assist). A
    * pointer-assisted round strictly dominates a plain neighbor-min
    * round, and plain neighbor-min converges in exactly the hop
    * diameter — measured 47 on this plane, and ScaleUp never adds new
    * coordinates (copies duplicate existing points), so the diameter is
    * scale-invariant across the swept corpora. 48 rounds therefore
    * covers every swept scale by the domination argument (empirically
    * the assist converges well earlier; 16 was measurably short at
    * sf0.1 — ids are too scattered for pure pointer-doubling claims).
    * An unconverged run cannot pass silently: the equality gate against
    * the Spark labels IS the convergence assert, and it names itself
    * (caught live at 16 rounds: 12 clusters vs 9). Budgeted at 64: the
    * measured diameter is 47, and the first budget (48) left a 1-round
    * margin — a slightly larger eps-blob after a testdata regeneration
    * would have surfaced as a confusing label mismatch instead of
    * headroom. Extra MATERIALIZED rounds on converged state are ~free
    * (one pass over one-label-per-node state each).
    */
  val DbOracleRounds = 64

  /** Shared oracle prelude ending in per-point `roles(vec_id, role,
    * cluster_id)` — labels from [[DbOracleRounds]] unrolled hash-to-min
    * rounds seeded with ALL cores (so isolated cores label themselves),
    * mirroring the Spark coalesce.
    */
  private val dbscanCtesSql: String = {
    def row(k: Int) = (0 until Dim).map(j =>
      if (CorpusDiversity.jlSign(k, j) > 0) "1.0" else "-1.0")
      .mkString("[", ", ", "]")
    s"""e AS (
       |  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS v
       |  FROM embeddings),
       |p AS MATERIALIZED (
       |  SELECT vec_id,
       |         ${Num.rSql(s"list_dot_product(v, ${row(0)}) / 4.0", 6)} AS x,
       |         ${Num.rSql(s"list_dot_product(v, ${row(1)}) / 4.0", 6)} AS y
       |  FROM e),
       |c AS MATERIALIZED (
       |  SELECT x, y,
       |         CAST(floor(x * 32.0) AS BIGINT) AS cx,
       |         CAST(floor(y * 32.0) AS BIGINT) AS cy,
       |         min(vec_id) AS rep, count(*) AS m
       |  FROM p GROUP BY 1, 2, 3, 4),
       |d AS (SELECT dx, dy FROM range(-1, 2) t(dx) CROSS JOIN range(-1, 2) u(dy)),
       |nbr AS MATERIALIZED (
       |  SELECT a.rep AS a, b.rep AS b, b.m AS bm
       |  FROM c a JOIN (
       |    SELECT c.rep, c.m, c.x, c.y, c.cx + d.dx AS cx, c.cy + d.dy AS cy
       |    FROM c CROSS JOIN d) b
       |  ON a.cx = b.cx AND a.cy = b.cy
       |  WHERE a.rep <> b.rep
       |    AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
       |        <= CAST($DbEps2 AS DOUBLE)),
       |flags AS MATERIALIZED (
       |  SELECT c.rep, c.m + coalesce(n.nn, 0) >= $DbMinPts AS is_core
       |  FROM c LEFT JOIN (SELECT a, sum(bm) AS nn FROM nbr GROUP BY 1) n
       |  ON c.rep = n.a),
       |ce AS MATERIALIZED (
       |  SELECT nbr.a, nbr.b FROM nbr
       |  JOIN flags fa ON nbr.a = fa.rep AND fa.is_core
       |  JOIN flags fb ON nbr.b = fb.rep AND fb.is_core),
       |lab0 AS MATERIALIZED (
       |  SELECT rep AS node, rep AS l FROM flags WHERE is_core),
       |${(1 to DbOracleRounds).map { k =>
          val p = s"lab${k - 1}"
          s"""lab$k AS MATERIALIZED (
             |  SELECT me.node,
             |         least(me.l, coalesce(nm.nl, me.l), coalesce(ll.l, me.l)) AS l
             |  FROM $p me
             |  LEFT JOIN (SELECT ce.a AS node, min($p.l) AS nl
             |             FROM ce JOIN $p ON ce.b = $p.node GROUP BY 1) nm
             |    ON me.node = nm.node
             |  LEFT JOIN $p ll ON me.l = ll.node)""".stripMargin
        }.mkString(",\n")},
       |lab AS MATERIALIZED (
       |  SELECT node AS rep, l AS cluster_id FROM lab$DbOracleRounds),
       |bl AS MATERIALIZED (
       |  SELECT nbr.a AS rep, min(l.cluster_id) AS b_cluster
       |  FROM nbr
       |  JOIN flags fa ON nbr.a = fa.rep AND NOT fa.is_core
       |  JOIN lab l ON nbr.b = l.rep
       |  GROUP BY 1),
       |roles_q AS (
       |  SELECT f.rep,
       |         CASE WHEN f.is_core THEN 'core'
       |              WHEN bl.rep IS NOT NULL THEN 'border'
       |              ELSE 'noise' END AS role,
       |         CAST(coalesce(l.cluster_id, bl.b_cluster, -1) AS BIGINT)
       |           AS cluster_id
       |  FROM flags f
       |  LEFT JOIN lab l ON f.rep = l.rep
       |  LEFT JOIN bl ON f.rep = bl.rep),
       |roles AS (
       |  SELECT p.vec_id, r.role, r.cluster_id
       |  FROM p JOIN c USING (x, y) JOIN roles_q r ON c.rep = r.rep)""".stripMargin
  }

  val dbscanSql: String =
    s"""WITH RECURSIVE $dbscanCtesSql
       |SELECT vec_id, role, cluster_id FROM roles""".stripMargin

  val dbscanStatsSql: String =
    s"""WITH RECURSIVE $dbscanCtesSql
       |SELECT cluster_id,
       |       CAST(sum(CASE WHEN role = 'core' THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_core,
       |       CAST(sum(CASE WHEN role = 'border' THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_border,
       |       CAST(count(*) AS BIGINT) AS n_total
       |FROM roles GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // Local Outlier Factor over the kNN-graph artifact.
  // ---------------------------------------------------------------------

  /** Degenerate-density guard: a point whose every reachability distance
    * is 0 (exact-duplicate vectors) has infinite local density — pin its
    * lrd to this literal so the ANSI divide stays total and both engines
    * publish the identical value.
    */
  val LofDenseCap = 1.0e9

  /** Local Outlier Factor (Breunig et al. 2000) over a kNN edge relation
    * `(vec_id, nbr_id, cos_sim)` — the density-OUTLIER member of this
    * family: where DBSCAN labels a point "noise" by a global eps, LOF
    * scores HOW outlying it is relative to its own neighborhood's
    * density, which survives clusters of different densities. The
    * natural consumer of the shared kNN-graph artifact
    * (ScaleQueries.knnGraphBuild — build once per corpus snapshot, every
    * graph query Θ(edges)): k-distances, reachability, local
    * reachability density and the final ratio are three edge-relation
    * joins plus node-bounded aggregates — nothing rescans the corpus,
    * nothing is quadratic.
    *
    * Distance is cosine distance d = 1 − cos_sim over the artifact's
    * 1e-6-snapped similarities, so both engines subtract identical
    * doubles. Per-node sums span ≤ KnnGraphK addends; they are snapped
    * at 1e-6 before any division (Num grid rule — fp noise across 3
    * addends is ~1e-13, far under half a grid step even at the
    * LofDenseCap magnitude), so every downstream ratio is bit-identical.
    * LOF ≈ 1 → inlier, ≫ 1 → outlier.
    */
  def lofOn(edges: DataFrame): DataFrame = {
    val ed = edges.select(col("vec_id"), col("nbr_id"),
      (lit(1.0) - col("cos_sim")).as("d"))
      .localCheckpoint() // three consumers of a join-derived relation
    val kd = ed.groupBy(col("vec_id")).agg(max(col("d")).as("kdist"))
    val lrd = ed
      .join(kd.select(col("vec_id").as("nbr_id"), col("kdist")), Seq("nbr_id"))
      .groupBy(col("vec_id"))
      .agg(Num.r(sum(greatest(col("kdist"), col("d"))), 6).as("rs"),
        count(lit(1)).as("n"))
      .select(col("vec_id"),
        when(col("rs") > 0.0, Num.r(col("n") / col("rs"), 6))
          .otherwise(lit(LofDenseCap)).as("lrd"))
      .localCheckpoint() // joined on both endpoints below
    ed.join(lrd.select(col("vec_id").as("nbr_id"), col("lrd").as("nbr_lrd")),
        Seq("nbr_id"))
      .groupBy(col("vec_id"))
      .agg(Num.r(sum(col("nbr_lrd")), 6).as("ls"), count(lit(1)).as("n"))
      .join(lrd, Seq("vec_id"))
      .select(col("vec_id"), col("lrd"),
        Num.r(col("ls") / col("n") / col("lrd"), 6).as("lof"))
  }

  /** Registered composed form (oracle parity): rebuilds the kNN graph
    * inline the way q_pagerank does; the production path feeds
    * [[lofOn]] the knnGraphBuild parquet (GraphArtifactSpec pins
    * equality of both forms for the graph family, DensitySpec for this
    * one).
    */
  def lofScores(spark: SparkSession, dir: String): DataFrame =
    lofOn(ScaleQueries.knnGraph(spark, dir))

  val lofScoresSql: String = {
    val rs = Num.rSql("sum(greatest(kd.kdist, ed.d))", 6)
    s"""WITH gg AS MATERIALIZED (${ScaleQueries.knnGraphSql}),
       |ed AS MATERIALIZED (
       |  SELECT vec_id, nbr_id, 1.0 - cos_sim AS d FROM gg),
       |kd AS (SELECT vec_id, max(d) AS kdist FROM ed GROUP BY 1),
       |lrd AS MATERIALIZED (
       |  SELECT ed.vec_id,
       |         CASE WHEN ($rs) > 0.0
       |              THEN ${Num.rSql(s"count(*) / ($rs)", 6)}
       |              ELSE $LofDenseCap END AS lrd
       |  FROM ed JOIN kd ON ed.nbr_id = kd.vec_id
       |  GROUP BY 1),
       |agg AS (
       |  SELECT ed.vec_id, ${Num.rSql("sum(nl.lrd)", 6)} AS ls,
       |         count(*) AS n
       |  FROM ed JOIN lrd nl ON ed.nbr_id = nl.vec_id
       |  GROUP BY 1)
       |SELECT agg.vec_id, lrd.lrd,
       |       ${Num.rSql("agg.ls / agg.n / lrd.lrd", 6)} AS lof
       |FROM agg JOIN lrd ON agg.vec_id = lrd.vec_id""".stripMargin
  }

  val ops: Seq[Op] = Seq(
    Op("q_dbscan", dbscan, dbscanSql),
    Op("q_dbscan_stats", dbscanStats, dbscanStatsSql),
    Op("q_lof_scores", lofScores, lofScoresSql))
}
