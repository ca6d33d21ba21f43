package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.analytics.ScaleQueries
import graft.scale.SimHash64

/** Cross-checks for the scale ops that have no SQL oracle: MinHash+LSH
  * against exact Jaccard, SimHash against the planted near-dups, and
  * determinism goldens for the custom expression.
  */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = Spark.session
  val sf = "/root/testdata/sf0.001"
  /** The oracle-gate scales. Their corpora fit the LSH near-dup gate's
    * pair budget, so Verify checks the exact tier there; the LSH-tier
    * equalities below force the gate and run at both (sf0.1: RegimeSpec).
    */
  val gateScales = Seq(sf, "/root/testdata/sf0.01")

  test("minhash+LSH finds exactly the exact-Jaccard near-dup pairs") {
    for (dir <- gateScales) {
      val exact = ScaleQueries.jaccardPairs(spark, dir)
        .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val approx = Gates.withFallback(spark)(ScaleQueries.minhashPairs(spark, dir)
        .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      // verification filters candidates by TRUE Jaccard >= 0.5, so
      // approx ⊆ exact always; the planted dups (j≈0.99) must all be found
      assert(approx.subsetOf(exact), dir)
      assert(exact.nonEmpty, dir)
      assert(approx == exact, s"LSH missed ${exact -- approx} at $dir")
    }
  }

  test("simhash LSH pairs cover the planted near-dups") {
    val exact = ScaleQueries.jaccardPairs(spark, sf)
      .filter(col("jaccard") >= 0.9)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = ScaleQueries.simhashPairs(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & sim).size.toDouble / exact.size
    assert(recall >= 0.9, s"simhash recall $recall over ${exact.size} pairs")
  }

  test("containment: excerpt fixture reads 1.0 where jaccard stays under 0.5") {
    import spark.implicits._
    // B = 4-word prefix of the 12-word A: every B-shingle is in A, so
    // containment = 1.0 while jaccard = 2 / 10 — invisible to a
    // resemblance-thresholded pass
    val docs = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "a b c d")).toDF("doc_id", "text")
    val got = graft.scale.Dedup.containmentPairs(docs, "text", "doc_id", 3, 0.9)
      .collect()
    assert(got.length == 1)
    assert(got(0).getAs[Long]("d1") == 1L && got(0).getAs[Long]("d2") == 2L)
    assert(got(0).getAs[Double]("containment") == 1.0)
    assert(math.abs(got(0).getAs[Double]("jaccard") - 0.2) < 1e-9)
    // and jaccardPairs at 0.5 indeed misses the pair
    assert(graft.scale.Dedup.jaccardPairs(docs, "text", "doc_id", 3, 0.5).count() == 0)
  }

  test("containment query: every planted prefix excerpt pairs with its parent") {
    val pairs = ScaleQueries.containmentPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("containment"))).toSet
    // every excerpt doc (parent + 2000000) must be caught against its parent
    val parents = Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 === 0).select("doc_id")
      .collect().map(_.getLong(0))
    parents.foreach { p =>
      val hit = pairs.exists(t => t._1 == p && t._2 == p + 2000000L && t._3 >= 0.9)
      assert(hit, s"excerpt of $p not paired with its parent")
    }
    // containment >= jaccard on every reported pair
    ScaleQueries.containmentPairs(spark, sf).collect().foreach { r =>
      assert(r.getAs[Double]("containment") >= r.getAs[Double]("jaccard") - 1e-9)
    }
  }

  test("containment via winnow candidates equals the exact quadratic tier") {
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Double]("containment"), r.getAs[Double]("jaccard"))).toSet
    for (dir <- gateScales) {
      val exact = key(ScaleQueries.containmentPairs(spark, dir))
      val lsh = Gates.withFallback(spark)(key(ScaleQueries.containmentLsh(spark, dir)))
      assert(exact.nonEmpty, dir)
      assert(lsh == exact, s"winnow path diverges at $dir: " +
        s"missed ${(exact -- lsh).take(5)}, extra ${(lsh -- exact).take(5)}")
    }
  }

  test("triangles: K4, path, and K4-minus-an-edge fixtures count exactly") {
    import spark.implicits._
    def stats(edges: (Long, Long)*): (Long, Long, Long, Option[Double]) = {
      val r = ScaleQueries.triangleStatsOf(edges.toDF("a", "b")).collect().head
      (r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges"),
        r.getAs[Long]("n_triangles"),
        Option(r.getAs[java.lang.Double]("transitivity")).map(_.doubleValue))
    }
    // K4: 4 triangles, every wedge closed -> transitivity 1
    val k4 = stats(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L)
    assert(k4 == ((4L, 6L, 4L, Some(1.0))))
    // path 1-2-3-4: no triangles, wedges open
    val path = stats(1L -> 2L, 2L -> 3L, 3L -> 4L)
    assert(path == ((4L, 3L, 0L, Some(0.0))))
    // K4 minus edge (3,4): 2 triangles; wedges2 = sum deg(deg-1) = 6+6+2+2 = 16
    val k4m = stats(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L)
    assert(k4m._3 == 2L && k4m._4 == Some(0.75))
    // duplicate / reversed / self edges canonicalize away
    val dup = stats(1L -> 2L, 2L -> 1L, 1L -> 1L, 2L -> 3L, 3L -> 1L)
    assert(dup == ((3L, 3L, 1L, Some(1.0))))
  }

  test("triangle query: count matches a local recomputation of the knn graph") {
    val edges = ScaleQueries.knnGraph(spark, sf)
      .select("vec_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val und = edges.map { case (x, y) => (math.min(x, y), math.max(x, y)) }
      .filter(p => p._1 != p._2).distinct
    val adj = und.flatMap(p => Seq(p, p.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    val naive = und.map { case (x, y) =>
      (adj(x) & adj(y)).count(z => z > y) // canonical x<y<z per triangle
    }.sum
    val got = ScaleQueries.triangleCount(spark, sf).collect().head
    assert(got.getAs[Long]("n_edges") == und.length.toLong)
    assert(got.getAs[Long]("n_triangles") == naive.toLong,
      s"got ${got.getAs[Long]("n_triangles")} naive $naive")
  }

  test("coherence: bottom-20 matches a local mean-neighbor recomputation") {
    def snap(x: Double, s: Int) = {
      val p = math.pow(10, s); math.floor(x * p + 0.5) / p
    }
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val nbrs = ScaleQueries.knnGraph(spark, sf)
      .select("vec_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val naive = nbrs.toSeq.map { case (id, ns) =>
      val dim = emb(id).length
      val m = Array.tabulate(dim)(i => snap(ns.map(n => emb(n)(i)).sum / ns.length, 9))
      val v = emb(id)
      def dot(a: Array[Double], b: Array[Double]) =
        a.zip(b).map { case (x, y) => x * y }.sum
      val den = math.sqrt(dot(v, v)) * math.sqrt(dot(m, m))
      id -> snap(if (den > 0) dot(v, m) / den else 0.0, 6)
    }.sortBy { case (id, c) => (c, id) }.take(20)
    val got = ScaleQueries.graphCoherence(spark, sf).collect()
      .sortBy(_.getAs[Int]("rank"))
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("coherence"))
    assert(got.toSeq == naive, s"got ${got.toSeq}\nnaive $naive")
  }

  test("winnow decontamination: any shared 8-word run is detected") {
    import spark.implicits._
    val evalDocs = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (1L, "completely different words with no overlap at all here today"),
      // carries the eval doc's words 2..9 — an 8-word verbatim run, the
      // winnowing guarantee boundary (GramK + WinSize - 1)
      (2L, "intro filler beta gamma delta epsilon zeta eta theta iota closing words"))
      .toDF("doc_id", "text")
    val got = ScaleQueries.decontaminateWinnowAgainst(docs, evalDocs).collect()
    assert(got.map(_.getLong(0)).toSet == Set(2L))
    assert(got.head.getAs[Long]("n_hits") >= 1)
    // a doc identical to an eval doc hits on every fingerprint
    val self = ScaleQueries.decontaminateWinnowAgainst(evalDocs, evalDocs).collect()
    assert(self.length == 1 && self.head.getAs[Double]("ratio") == 1.0)
  }

  test("pmi: matches a local recomputation at sf0.001, ranks deterministically") {
    val docs = Tables.documents(spark, sf).select("text").collect()
      .map(_.getString(0))
    val words = docs.map(t => t.trim.toLowerCase.split("\\s+"))
    val uni = new scala.collection.mutable.HashMap[String, Long]()
    val big = new scala.collection.mutable.HashMap[(String, String), Long]()
    var nb = 0L
    words.foreach { w =>
      w.filter(_.nonEmpty).foreach(t => uni(t) = uni.getOrElse(t, 0L) + 1)
      if (w.length >= 2) {
        nb += w.length - 1
        w.sliding(2).foreach(p => big(p(0) -> p(1)) = big.getOrElse(p(0) -> p(1), 0L) + 1)
      }
    }
    val n1 = uni.values.sum
    def snap6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val naive = big.toSeq
      .filter { case ((a, b), c) => c >= 5 && uni.contains(a) && uni.contains(b) }
      .map { case ((a, b), c) =>
        (s"$a $b", c, snap6(math.log((c.toDouble / nb) /
          ((uni(a).toDouble / n1) * (uni(b).toDouble / n1)))))
      }
      .sortBy { case (bg, _, pmi) => (-pmi, bg) }
      .take(ScaleQueries.PmiK)
    val got = ScaleQueries.pmiCollocations(spark, sf).collect()
      .sortBy(_.getAs[Int]("rank"))
      .map(r => (r.getAs[String]("bigram"), r.getAs[Long]("n"), r.getAs[Double]("pmi")))
    assert(got.toSeq == naive, s"got ${got.toSeq}\nnaive $naive")
  }

  test("SimHash64 expression is deterministic and codegen-consistent") {
    import spark.implicits._
    val df = Seq("the quick brown fox", "the quick brown fox",
      "the quick brown fix", "").toDF("t")
      .select(SimHash64.simhash64(col("t")).as("h"))
    val hs = df.collect().map(_.getLong(0))
    assert(hs(0) == hs(1))
    assert(hs(0) != hs(2))
    // near-identical text ⇒ small Hamming distance
    assert(java.lang.Long.bitCount(hs(0) ^ hs(2)) <= 16)
    // interpreted eval matches whatever the codegen path produced
    assert(hs(0) == directedEval("the quick brown fox"))
  }

  private def directedEval(s: String): Long = SimHash64.compute(s)

  test("dedup clusters are consistent: every pair co-clustered, id = min member") {
    val pairs = ScaleQueries.jaccardPairs(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    val clusters = ScaleQueries.dupClustersLsh(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // both endpoints of every near-dup pair share a cluster
    pairs.foreach { case (a, b) => assert(clusters(a) == clusters(b), s"($a,$b) split") }
    // the cluster id is the minimum member of the cluster
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(cid == members.keys.min)
    }
    assert(clusters.nonEmpty)
  }

  test("LSH-driven clustering equals the exact-Jaccard clustering") {
    // LSH recall is exact on testdata (asserted above), so the flagship
    // scale path must produce the IDENTICAL cluster and canonical sets.
    // The gate scales' pair expansion fits the gate's budget, so the
    // unforced run is the exact tier by construction; the LSH side is
    // forced past the gate.
    for (dir <- gateScales) {
      val expansion = graft.scale.Dedup.pairExpansion(
        graft.scale.Dedup.postings(Tables.documents(spark, dir), "text", "doc_id", 3))
      assert(expansion <= graft.scale.Dedup.MaxGroupPairs, s"$dir: $expansion pairs")
      val exactClusters = ScaleQueries.dupClustersLsh(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val lshClusters = Gates.withFallback(spark)(ScaleQueries.dupClustersLsh(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      assert(lshClusters == exactClusters, dir)
      assert(lshClusters.nonEmpty, dir)
      val exactCanonical = ScaleQueries.canonicalDocsLsh(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val lshCanonical = Gates.withFallback(spark)(ScaleQueries.canonicalDocsLsh(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet)
      assert(lshCanonical == exactCanonical, dir)
      // the size histogram over those clusters must then also agree
      val exactStats = graft.analytics.CorpusQueries.dupStatsLsh(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val lshStats = Gates.withFallback(spark)(graft.analytics.CorpusQueries.dupStatsLsh(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
      assert(lshStats == exactStats, dir)
      assert(lshStats.nonEmpty, dir)
    }
  }

  test("TopKAgg equals the window formulation, including under many partitions") {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, "/root/testdata/sf0.01").repartition(17)
    val viaAgg = ev.groupBy(col("user_id"))
      .agg(graft.scale.TopK.topK(col("value"), col("event_id"), 5).as("top"))
      .select(col("user_id"), explode(col("top")).as("e"))
      .select(col("user_id"), col("e.score"), col("e.id"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val w = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id").asc)
    val viaWindow = ev.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(col("user_id"), col("value"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(viaAgg == viaWindow)
    assert(viaAgg.nonEmpty)
  }

  test("hot-group caps bound pair expansion on an adversarial all-same-text corpus") {
    import spark.implicits._
    val n = 60
    // 60 identical docs: every shingle has df = 60, every LSH bucket holds
    // all 60 signatures — the worst case for single-task pair expansion
    val docs = (0 until n).map(i => (i.toLong, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    // cap below the group size ⇒ zero pairs, and crucially no O(n²) array
    val capped = graft.scale.Dedup.jaccardPairs(docs, "text", "doc_id", 3, 0.5, maxDf = 10)
    assert(capped.count() == 0)
    val sigs = graft.scale.Dedup.minhashSignatures(docs, "text", "doc_id", 3)
    assert(graft.scale.Dedup.lshCandidates(sigs, maxBucket = 10).count() == 0)
    // default caps (chosen above any organic df) leave results untouched
    val full = graft.scale.Dedup.jaccardPairs(docs, "text", "doc_id", 3, 0.5)
    assert(full.count() == n.toLong * (n - 1) / 2)
    assert(graft.scale.Dedup.lshCandidates(sigs).count() == n.toLong * (n - 1) / 2)
  }

  test("TopKStrAgg matches the window formulation, ties broken by id asc") {
    import spark.implicits._
    val rows = for (g <- 0 until 5; i <- 0 until 40)
      yield (g, (i % 7).toDouble, s"w${(i * 31 + g) % 13}")
    val df = rows.toDF("g", "s", "id").repartition(13)
    val agg = df.groupBy("g")
      .agg(graft.scale.TopK.topKStr(col("s"), col("id"), 3).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("r0", "e")))
      .select(col("g"), (col("r0") + 1).as("r"), col("e.score"), col("e.id"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getString(3))).toSet
    val win = df.withColumn("r", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("g")
          .orderBy(col("s").desc, col("id").asc)))
      .filter(col("r") <= 3)
      .select("g", "r", "s", "id")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getString(3))).toSet
    assert(agg == win)
  }

  test("deduped corpus keeps exactly one canonical doc per cluster") {
    import graft.scale.Dedup
    val docs = Tables.documents(spark, sf)
    val clusters = Dedup.dupClusters(
      Dedup.jaccardPairs(docs, "text", "doc_id", 3, 0.5)).cache()
    val quality = graft.functions.Scoring.completenessScore(col("text"))
    val canonical = Dedup.canonicalPerCluster(docs, clusters, "doc_id", quality)
    val kept = Dedup.dedupedCorpus(docs, clusters, "doc_id", quality)
    val total = docs.count()
    val members = clusters.count()
    val nClusters = canonical.count()
    // every cluster sheds all members but its canonical
    assert(kept.count() == total - (members - nClusters))
    // the canonical really is a member of its own cluster
    val bad = canonical.join(clusters,
      canonical("canonical_doc_id") === clusters("doc_id") &&
        canonical("cluster_id") === clusters("cluster_id")).count()
    assert(bad == nClusters)
    clusters.unpersist()
  }

  test("dupClusters fails loudly when a component's diameter exceeds the iteration cap") {
    // min-label propagation moves a label one hop per iteration, so a
    // 7-edge path needs 7 steps to converge; at maxIters=3 the frontier
    // is still non-empty and the guard must REFUSE to return the
    // unconverged labels (silent wrong clusters are the failure mode the
    // cap used to allow). The collected union-find path is exact and
    // capless, so force the iterative path.
    import spark.implicits._
    val chain = (0L until 7L).map(i => (i, i + 1)).toDF("d1", "d2")
    Gates.withFallback(spark) {
      val e = intercept[IllegalArgumentException] {
        graft.scale.Dedup.dupClusters(chain, maxIters = 3)
      }
      assert(e.getMessage.contains("did not converge"))
      // the same chain converges to ONE cluster once the cap covers its
      // diameter — the guard only fires on genuine non-convergence
      val ok = graft.scale.Dedup.dupClusters(chain, maxIters = 10)
      assert(ok.count() == 8)
      assert(ok.select("cluster_id").distinct().count() == 1)
    }
  }

  test("dupClusters collected union-find labels equal the iterative loop's") {
    // the certified-bounded fast path must be a pure plan change: same
    // (doc_id, cluster_id) set as delta-frontier min-label propagation,
    // on a graph with multi-hop chains, a star, a cycle and an isolated
    // self-looped pair structure
    import spark.implicits._
    val pairs = (
      (0L until 6L).map(i => (i, i + 1)) ++            // 7-node chain
        Seq((10L, 11L), (10L, 12L), (10L, 13L)) ++     // star
        Seq((20L, 21L), (21L, 22L), (20L, 22L)) ++     // triangle
        Seq((30L, 31L))                                // lone pair
      ).toDF("d1", "d2")
    val uf = graft.scale.Dedup.dupClusters(pairs, maxIters = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val loop = Gates.withFallback(spark)(graft.scale.Dedup.dupClusters(pairs, maxIters = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(uf == loop)
    assert(uf.exists(_ == (6L, 0L)) && uf.exists(_ == (13L, 10L)) &&
      uf.exists(_ == (22L, 20L)) && uf.exists(_ == (31L, 30L)))
  }

  test("span dedup's hashed-span ratios equal a string-keyed recomputation") {
    // the registered op never shuffles span strings (xxhash64 keys); this
    // recomputes df over the raw strings and must land on identical ratios
    val docs = Tables.documents(spark, sf)
    val sh = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"), explode(array_distinct(
        when(size(col("w")) >= 3,
          zip_with(
            zip_with(slice(col("w"), 1, 10000), slice(col("w"), 2, 10000),
              (a, b) => concat(a, lit(" "), b)),
            slice(col("w"), 3, 10000), (a, b) => concat(a, lit(" "), b)))
          .otherwise(array().cast("array<string>")))).as("s"))
      .filter(size(split(col("s"), " ")) === 3)
    val df = sh.groupBy("s").agg(count(lit(1)).as("df"))
    val naive = sh.join(df, "s").groupBy("doc_id")
      .agg((sum(when(col("df") >= 2, 1L).otherwise(0L)).cast("double") /
        count(lit(1))).as("ratio"))
      .collect().map(r => r.getLong(0) -> BigDecimal(r.getDouble(1))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
    val op = ScaleQueries.spanDedup(spark, sf)
      .collect().map(r => (r.getLong(0), Option(r.get(2)).map(_.asInstanceOf[Double]),
        r.getBoolean(3)))
    assert(op.length == Tables.documents(spark, sf).count())
    op.foreach { case (id, ratio, keep) =>
      assert(ratio == naive.get(id), s"doc $id ratio mismatch")
      ratio.foreach(x => assert(keep == (x <= ScaleQueries.SpanDedupMaxDupRatio)))
    }
  }

  test("DSIR weights rank target-source docs above the rest on average") {
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
    val w = ScaleQueries.dsirWeights(spark, sf).join(docs, "doc_id")
      .withColumn("tgt", col("source").isin("src0", "src1", "src2", "src3", "src4"))
      .groupBy("tgt").agg(avg(col("dsir_weight")).as("aw"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(w(true) > w(false),
      s"target avg ${w(true)} should exceed non-target ${w(false)}")
  }

  test("weighted sample equals the row_number window formulation") {
    val q = Tables.documents(spark, sf).select(
      col("source"), col("doc_id"),
      Num.r(log((conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long") + 0.5) /
        4294967296.0) / greatest(col("n_chars"), lit(1L)).cast("double"), 9).as("k"))
    val win = q.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy(col("k").desc, col("doc_id").asc)))
      .filter(col("rank") <= ScaleQueries.WeightedSampleK)
      .select("source", "rank", "doc_id", "k")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val op = ScaleQueries.weightedSample(spark, sf)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(op == win)
    assert(op.nonEmpty)
  }

  test("winnowing guarantees a shared fingerprint for any 8-word shared run") {
    import spark.implicits._
    import graft.scale.Winnow
    // two docs sharing exactly one k+win-1 = 8-word run, otherwise disjoint
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"one two three $shared four five six seven eight nine ten"),
      (2L, s"red green blue $shared yellow purple orange cyan magenta brown pink"),
      (3L, "totally unrelated words with no overlap whatsoever in any span here")
    ).toDF("doc_id", "text")
    val fp = Winnow.fingerprints(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = fp.groupBy(_._1).map { case (d, fs) => d -> fs.map(_._2).toSet }
    assert((byDoc(1L) & byDoc(2L)).nonEmpty, "guaranteed shared fingerprint missing")
    assert((byDoc(1L) & byDoc(3L)).isEmpty)
    // winnowing selects strictly fewer fingerprints than there are grams
    val nWords = docs.filter($"doc_id" === 1L)
      .select(size(split(trim($"text"), "\\s+"))).head.getInt(0)
    assert(byDoc(1L).size < nWords - (Winnow.GramK - 1))
    val pairs = Winnow.overlapPairs(docs, "text", "doc_id", 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.forall { case (d1, d2, n) => d1 < d2 && n >= 1 })
    assert(pairs.exists { case (d1, d2, _) => d1 == 1L && d2 == 2L })
  }

  test("winnow pairs on testdata rank planted clones above chance overlap") {
    val pairs = ScaleQueries.winnowPairs(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val clones = ScaleQueries.jaccardPairs(spark, sf)
      .filter(col("jaccard") >= 0.9)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    // every planted near-clone pair must surface in the winnow report
    clones.foreach { p =>
      assert(pairs.contains(p), s"clone pair $p missing from winnow pairs")
    }
    assert(pairs.nonEmpty)
  }

  test("brute-force and LSH top-k agree on shared candidates") {
    val brute = ScaleQueries.cosineTopK(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val lsh = ScaleQueries.annLsh(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // any vec in both rankings must carry the identical similarity
    lsh.foreach { case (id, s) =>
      brute.get(id).foreach(b => assert(b == s))
    }
    assert(lsh.nonEmpty)
  }

  test("approx percentiles respect the rank-error contract vs the exact tier") {
    // percentile_approx(acc=1000) guarantees rank error <= n/acc; check
    // each approx pXX lands between the exact neighbors p(XX±2) — far
    // looser than the contract, tight enough to catch a broken sketch
    val exact = Tables.documents(spark, sf)
      .groupBy(col("source")).agg(
        expr("percentile(n_chars, 0.48)").as("lo50"),
        expr("percentile(n_chars, 0.52)").as("hi50"),
        expr("percentile(n_chars, 0.88)").as("lo90"),
        expr("percentile(n_chars, 0.92)").as("hi90"))
      .collect().map(r => r.getString(0) -> r).toMap
    val approx = ScaleQueries.approxQuantilesRaw(spark, sf).collect()
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val e = exact(r.getString(0))
      val (p50, p90) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(p50 >= e.getDouble(1) - 1 && p50 <= e.getDouble(2) + 1,
        s"${r.getString(0)} p50=$p50 outside [${e.getDouble(1)}, ${e.getDouble(2)}]")
      assert(p90 >= e.getDouble(3) - 1 && p90 <= e.getDouble(4) + 1,
        s"${r.getString(0)} p90=$p90 outside [${e.getDouble(3)}, ${e.getDouble(4)}]")
    }
    // the registered bound-checked form must publish every contract
    // boolean TRUE (this is exactly what the DuckDB oracle hash-checks)
    ScaleQueries.approxQuantiles(spark, sf).collect().foreach { r =>
      assert(r.getBoolean(2) && r.getBoolean(3) && r.getBoolean(4),
        s"${r.getString(0)}: rank-error contract violated")
    }
  }

  test("temperature sampling upsamples small sources and preserves mass") {
    val rows = ScaleQueries.mixtureTemperature(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    // probabilities normalize
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-4)
    // α<1 compresses the distribution: smallest share gets boost>1,
    // largest gets boost<1
    val smallest = rows.minBy(_._2); val largest = rows.maxBy(_._2)
    assert(smallest._4 > 1.0, s"smallest source not upsampled: $smallest")
    assert(largest._4 < 1.0 || largest._2 == smallest._2,
      s"largest source not downsampled: $largest")
  }

  test("BPE trainer learns the classic greedy merges on a constructed corpus") {
    import spark.implicits._
    // word types: aaab ×3, bc ×1.
    // step 1: 'a a' n=6 (two overlapping pairs per word, freq-weighted);
    //   greedy fold merges LEFT-FIRST: aaab → [aa, a, b]
    // step 2: tie at 3 between 'aa a' and 'a b' → pair-asc picks 'a b'
    //   ("a b" < "aa a"): [aa, a, b] → [aa, ab]
    // step 3: 'aa ab' n=3
    val docs = Seq("aaab aaab aaab bc").toDF("text")
    val merges = graft.scale.BpeTrain.train(docs, 3)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(merges.toSeq == Seq((1, "a a", 6L), (2, "a b", 3L), (3, "aa ab", 3L)))
  }

  test("BPE tokenization compresses: tokens <= chars, >= words, mass conserved") {
    import spark.implicits._
    val rows = ScaleQueries.bpeTokenize(spark, sf).collect()
    assert(rows.nonEmpty)
    val wordStream = Tables.documents(spark, sf)
      .select(col("source"), explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .filter(col("w") =!= "")
    val exp = wordStream.groupBy("source")
      .agg(count(lit(1)).as("nw"), sum(length(col("w"))).as("nc"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { r =>
      val (src, nWords, nTokens) = (r.getString(0), r.getLong(1), r.getLong(2))
      val (expWords, expChars) = exp(src)
      assert(nWords == expWords)             // every word tokenized
      assert(nTokens >= nWords)              // a word is >= 1 token
      assert(nTokens <= expChars)            // merges only shrink char-level
      assert(nTokens < expChars, s"$src: no merge ever applied")
    }
  }

  test("BPE trainer on testdata emits one row per merge step") {
    val rows = ScaleQueries.bpeTrain(spark, sf).collect()
    assert(rows.length == ScaleQueries.BpeMerges)
    assert(rows.map(_.getInt(0)).toSet == (1 to ScaleQueries.BpeMerges).toSet)
    rows.foreach(r => assert(r.getLong(2) > 0))
  }

  test("URL canonicalization is idempotent and collapses the variant axes") {
    import spark.implicits._
    val variants = Seq(
      "https://SHOP0.Example.COM:443/checkout/cart/?utm_source=google#section2",
      "https://shop0.example.com/checkout/cart?utm_campaign=x&utm_medium=email",
      "https://shop0.example.com/checkout/cart/",
      "https://shop0.example.com/checkout/cart")
    val canon = variants.toDF("u")
      .select(graft.functions.UrlInfo.canonicalizeUrl(col("u")).as("c"))
      .collect().map(_.getString(0))
    assert(canon.toSet == Set("https://shop0.example.com/checkout/cart"), canon.toSeq)
    // real params survive, tracking params die, in any order
    val mixed = Seq(
      "https://h.io/search?q=crm&utm_medium=email",
      "https://h.io/search?utm_medium=email&q=crm",
      "http://H.IO:80/a#f").toDF("u")
      .select(graft.functions.UrlInfo.canonicalizeUrl(col("u")).as("c"))
      .collect().map(_.getString(0))
    assert(mixed(0) == "https://h.io/search?q=crm" && mixed(1) == mixed(0))
    assert(mixed(2) == "http://h.io/a")
    // idempotence: canonical of canonical is a fixed point
    val twice = (variants ++ Seq("https://h.io/search?q=crm&utm_medium=email")).toDF("u")
      .select(graft.functions.UrlInfo.canonicalizeUrl(col("u")).as("c1"))
      .select(col("c1"),
        graft.functions.UrlInfo.canonicalizeUrl(col("c1")).as("c2"))
      .collect()
    twice.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("delta dedup flags exactly the planted history/batch duplicates") {
    val rows = ScaleQueries.deltaDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toMap
    // every delta doc classified exactly once
    val n10 = Tables.documents(spark, sf).filter(col("doc_id") % 10 === 0).count()
    val n7 = Tables.documents(spark, sf).filter(col("doc_id") % 10 === 7).count()
    assert(rows.size == 2 * n10 + n7)
    rows.foreach { case (id, (dupHist, dupBatch, keep)) =>
      if (id >= 3000000L) // fresh text: genuinely new, first of its digest
        assert(!dupHist && !dupBatch && keep, s"$id")
      else if (id >= 2000000L) // second re-crawl copy: dup both ways
        assert(dupHist && dupBatch && !keep, s"$id")
      else // first re-crawl copy: dup of history, first in batch
        assert(dupHist && !dupBatch && !keep, s"$id")
    }
  }

  test("quality classifier: keep tracks the logit sign, prob is calibrated") {
    val rows = ScaleQueries.qualityClassifier(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (logit, prob, keep) = (r.getDouble(2), r.getDouble(3), r.getBoolean(4))
      assert(keep == (logit >= 0.0))
      assert(prob >= 0.0 && prob <= 1.0)
      assert((prob >= 0.5) == (logit >= 0.0))
    }
  }

  test("hard negatives never share the query's label and rank by cosine") {
    val labels = Tables.embeddings(spark, sf)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = ScaleQueries.hardNegatives(spark, sf).collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getLong(0))
    byQ.foreach { case (q, rs) =>
      assert(rs.length <= 3)
      rs.foreach { r =>
        assert(labels(r.getLong(2)) != r.getInt(1), s"negative shares label of query $q")
        assert(r.getInt(1) == labels(q))
      }
      // scores arrive rank-ordered per query
      val scores = rs.map(_.getDouble(3)).toSeq
      assert(scores == scores.sorted.reverse)
    }
  }
}
