package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.CorpusStats

/** Property + plan gates for the corpus-statistics tier
  * (analytics/CorpusStats.scala). Value parity with DuckDB is the
  * driver's oracle gate; these pin the mathematical invariants the
  * oracle compare cannot see (entropy/KL bounds, covariance
  * self-consistency) and the 100 TB plan shapes (broadcast eval set,
  * no row expansion before the covariance aggregate).
  */
class CorpusStatsSpec extends AnyFunSuite {
  lazy val spark = Spark.session
  val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  test("vocab entropy is within [0, ln(vocab)] and TTR within (0, 1]") {
    val rows = CorpusStats.vocabEntropy(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val vocab = r.getAs[Long]("vocab_size").toDouble
      val n = r.getAs[Long]("n_tokens")
      val h = r.getAs[Double]("entropy")
      val ttr = r.getAs[Double]("type_token_ratio")
      assert(h >= -1e-9 && h <= math.log(vocab) + 1e-9,
        s"entropy $h outside [0, ln($vocab)]")
      assert(ttr > 0 && ttr <= 1.0 + 1e-9)
      assert(n >= vocab.toLong)
    }
  }

  test("KL vs corpus is non-negative (Gibbs) and zero only for the full mix") {
    val rows = CorpusStats.sourceKl(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("kl_vs_corpus") >= -1e-9,
        s"negative KL for ${r.getAs[String]("source")}")
    }
  }

  test("source overlap matrix is canonically ordered and accounts every pair") {
    val docs = Tables.documents(spark, sf)
    val nPairs = graft.scale.Dedup.jaccardPairs(docs, "text", "doc_id", 3, 0.5).count()
    val m = CorpusStats.sourceOverlap(spark, sf).collect()
    m.foreach { r =>
      assert(r.getAs[String]("src_a") <= r.getAs[String]("src_b"))
    }
    assert(m.map(_.getAs[Long]("n_pairs")).sum === nPairs)
    // the pairs come through the LSH near-dup gate: its forced LSH tiers
    // must produce the same matrix
    val lsh = Gates.withFallback(spark)(CorpusStats.sourceOverlap(spark, sf).collect())
    assert(lsh.map(_.toSeq).toSet == m.map(_.toSeq).toSet)
  }

  test("semantic decontamination broadcasts the eval set and bounds sims") {
    val df = CorpusStats.semanticDecontaminate(spark, sf)
    val p = plan(df)
    assert(p.contains("Broadcast"), s"eval side not broadcast:\n$p")
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("vec_id") % 25 != 0)
      val s = r.getAs[Double]("max_eval_sim")
      assert(s >= -1.0 - 1e-9 && s <= 1.0 + 1e-9)
      assert(r.getAs[Boolean]("contaminated") ==
        (s >= CorpusStats.SemDecontThreshold))
    }
  }

  test("covariance matrix: full upper triangle, non-negative diagonal, " +
    "and cov(0,0) matches a directly-computed variance") {
    val d = CorpusStats.Dim
    val rows = CorpusStats.embedCovariance(spark, sf).collect()
    assert(rows.length == d * (d + 1) / 2)
    rows.filter(r => r.getAs[Int]("i") == r.getAs[Int]("j")).foreach { r =>
      assert(r.getAs[Double]("cov") >= -1e-6, s"negative variance at $r")
    }
    // independent variance of dim 0 via plain SQL aggregates
    val v = Tables.embeddings(spark, sf)
      .select(col("embedding").getItem(0).cast("double").as("x"))
      .agg((sum(col("x") * col("x")) / count(lit(1)) -
        (sum(col("x")) / count(lit(1))) * (sum(col("x")) / count(lit(1)))).as("v"))
      .collect()(0).getAs[Double]("v")
    val c00 = rows.find(r => r.getAs[Int]("i") == 0 && r.getAs[Int]("j") == 0)
      .get.getAs[Double]("cov")
    assert(math.abs(c00 - v) < 1e-6, s"cov(0,0)=$c00 direct=$v")
  }

  test("covariance plan has no row expansion before the aggregate " +
    "(the single Generate sits above it, fanning out the one result row)") {
    val p = plan(CorpusStats.embedCovariance(spark, sf))
    // the explode of (i, j, k) index structs must be the only Generate,
    // and the aggregate below it must consume the scan directly
    assert("Generate".r.findAllIn(p).size <= 2, s"unexpected row expansion:\n$p")
    assert(!p.contains("Window"), s"window leaked into covariance plan:\n$p")
  }

  test("PCA projection: variance along pc1 approaches the reported " +
    "eigenvalue, and the projection scan is shuffle-free") {
    val df = CorpusStats.pcaProject(spark, sf)
    val rows = df.collect()
    assert(rows.length == Tables.embeddings(spark, sf).count())
    val lambda = rows.head.getAs[Double]("lambda")
    assert(lambda > 0)
    assert(rows.forall(_.getAs[Double]("lambda") == lambda))
    val xs = rows.map(_.getAs[Double]("pc1"))
    val n = xs.length.toDouble
    val mean = xs.sum / n
    val variance = xs.map(x => (x - mean) * (x - mean)).sum / n
    // v'Av <= lambda_max with equality at the eigenvector; 12 snapped
    // power iterations land within a few percent on this spectrum
    assert(variance <= lambda * 1.02 && variance >= lambda * 0.8,
      s"Var(pc1)=$variance vs lambda=$lambda")
    // the projection itself is one scan: a literal-vector dot product,
    // no Exchange in the final plan
    val p = plan(df)
    assert(!p.contains("Exchange"), s"projection plan shuffles:\n$p")
  }

  test("embedding outliers: mean score ~1 (Mahalanobis/d), threshold " +
    "splits, stats ride a broadcast") {
    val df = CorpusStats.embedOutliers(spark, sf)
    val rows = df.collect()
    assert(rows.length == Tables.embeddings(spark, sf).count())
    val scores = rows.map(_.getAs[Double]("m2d"))
    val mean = scores.sum / scores.length
    assert(math.abs(mean - 1.0) < 0.05, s"E[m2/d]=$mean")
    val nOut = rows.count(_.getAs[Boolean]("outlier"))
    assert(nOut > 0 && nOut < rows.length, "threshold must split the corpus")
    rows.foreach { r =>
      assert(r.getAs[Boolean]("outlier") ==
        (r.getAs[Double]("m2d") >= CorpusStats.OutlierThreshold))
    }
    val p = plan(df)
    assert(p.contains("Broadcast"), s"stats not broadcast:\n$p")
  }

  test("DoReMi step: new weights are a distribution and upweight " +
    "above-average-loss sources") {
    val rows = CorpusStats.mixtureDoremi(spark, sf).collect()
    assert(rows.nonEmpty)
    val wsum = rows.map(_.getAs[Double]("w_new")).sum
    assert(math.abs(wsum - 1.0) < 1e-4, s"w_new sums to $wsum")
    rows.foreach(r => assert(r.getAs[Double]("w_new") > 0))
    // multiplicative-weights direction: the hardest source's weight
    // ratio must exceed the easiest source's (adjacent-pair order can
    // flip inside the 1e-6 display rounding on this near-uniform
    // corpus; the extremes are separated by exp(η·Δloss) ≈ 0.4%)
    def ratio(r: org.apache.spark.sql.Row) =
      r.getAs[Double]("w_new") / r.getAs[Double]("w_base")
    val hardest = rows.maxBy(_.getAs[Double]("loss"))
    val easiest = rows.minBy(_.getAs[Double]("loss"))
    assert(ratio(hardest) > ratio(easiest),
      s"hardest ${ratio(hardest)} !> easiest ${ratio(easiest)}")
  }

  test("source dup matrix matches exact paragraph sets computed locally") {
    val m = CorpusStats.sourceDupMatrix(spark, sf).collect()
    assert(m.nonEmpty, "testdata is known to share cross-source paragraphs")
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val ps = graft.analytics.CorpusQueries.ParaSize
    def paras(t: String): Seq[String] = {
      val w = t.trim.split("\\s+").toSeq
      (0 until w.size by ps).map(i => w.slice(i, i + ps).mkString(" "))
    }
    val bySrc = docs.groupBy(_._1).map { case (s, ds) =>
      s -> ds.toSeq.flatMap(d => paras(d._2)).toSet
    }
    m.foreach { r =>
      val a = r.getAs[String]("src_a"); val b = r.getAs[String]("src_b")
      assert(a < b)
      val shared = bySrc(a).intersect(bySrc(b))
      assert(r.getAs[Long]("n_shared_paras") === shared.size.toLong)
    }
    // every overlapping pair is present
    val expectPairs = bySrc.keys.toSeq.sorted.combinations(2).count { case Seq(a, b) =>
      bySrc(a).intersect(bySrc(b)).nonEmpty
    }
    assert(m.length === expectPairs)
  }

  test("vocab drift: KL non-negative, shares within [0,1], totals add up") {
    val r = CorpusStats.vocabDrift(spark, sf).collect()
    assert(r.length === 1)
    val row = r(0)
    assert(row.getAs[Double]("kl_drift") >= -1e-9)
    val share = row.getAs[Double]("new_term_share")
    assert(share >= 0 && share <= 1)
    // half totals must reconstruct the corpus token count
    val total = Tables.documents(spark, sf)
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("t"))
      .filter(col("t") =!= "").count()
    assert(row.getAs[Long]("n1") + row.getAs[Long]("n2") === total)
  }

  test("readability: matches a local regex recomputation at sf0.001") {
    def snap(x: Double, s: Int) = {
      val p = math.pow(10, s); math.floor(x * p + 0.5) / p
    }
    val vowel = "[aeiouy]+".r
    val sentRe = "[.!?]+".r
    val rows = Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val naive = rows.groupBy(_._1).map { case (src, docs) =>
      val triples = docs.map { case (_, t) =>
        val w = math.max(t.trim.toLowerCase.split("\\s+").length, 1).toDouble
        val s = math.max(sentRe.findAllIn(t).length, 1).toDouble
        val y = vowel.findAllIn(t.toLowerCase).length.toDouble
        (w, s, y, snap(206.835 - 1.015 * (w / s) - 84.6 * (y / w), 6))
      }
      val (ws, ss, ys, fs) = (triples.map(_._1).sum, triples.map(_._2).sum,
        triples.map(_._3).sum, triples.map(_._4).sum)
      src -> ((triples.length.toLong, snap(snap(fs, 2) / triples.length, 4),
        snap(ws / ss, 6), snap(ys / ws, 6)))
    }
    val got = CorpusStats.readability(spark, sf).collect()
    assert(got.length == naive.size)
    got.foreach { r =>
      val (n, f, wps, spw) = naive(r.getString(0))
      assert(r.getAs[Long]("n_docs") == n)
      assert(r.getAs[Double]("avg_flesch") == f,
        s"${r.getString(0)}: got ${r.getAs[Double]("avg_flesch")} want $f")
      assert(r.getAs[Double]("words_per_sentence") == wps)
      assert(r.getAs[Double]("syllables_per_word") == spw)
    }
  }

  test("ks drift: fixture CDFs — disjoint 1.0, identical 0.0, half-overlap 0.5") {
    val s = spark; import s.implicits._
    def ks(rows: (String, Long)*): Map[String, Double] =
      CorpusStats.ksOf(rows.toDF("source", "n_chars"), "n_chars")
        .collect()
        .map(r => r.getString(0) -> r.getAs[Double]("ks_len")).toMap
    // disjoint supports: each side's CDF reaches 1 before the other starts
    val d = ks("a" -> 1L, "a" -> 1L, "a" -> 2L, "b" -> 5L, "b" -> 6L)
    assert(d("a") == 1.0 && d("b") == 1.0)
    // identical distributions
    val e = ks("a" -> 1L, "a" -> 2L, "b" -> 1L, "b" -> 2L)
    assert(e("a") == 0.0 && e("b") == 0.0)
    // F_a = (0.5, 1), F_b = (0, 1) -> D = 0.5
    val h = ks("a" -> 1L, "a" -> 2L, "b" -> 2L)
    assert(h("a") == 0.5 && h("b") == 0.5)
  }

  test("ks drift: matches the naive collected CDF scan at sf0.001") {
    val pairs = Tables.documents(spark, sf)
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val grid = pairs.map(_._2).distinct.sorted
    val n = pairs.length.toLong
    val naive = pairs.map(_._1).distinct.map { src =>
      val mine = pairs.filter(_._1 == src).map(_._2)
      val ns = mine.length.toLong
      val d = grid.map { v =>
        val cs = mine.count(_ <= v).toLong
        val cr = pairs.count(_._2 <= v).toLong - cs
        math.abs(cs * (n - ns) - cr * ns)
      }.max
      src -> math.floor(d.toDouble / (ns * (n - ns)).toDouble * 1e6 + 0.5) / 1e6
    }.toMap
    val got = CorpusStats.ksDrift(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("ks_len")).toMap
    assert(got == naive, s"got $got naive $naive")
  }

  test("ks drift plan: windows run post-aggregate, no corpus-wide sort") {
    // ksOf itself returns a localCheckpoint (cache-release pattern), so
    // assert on the pre-checkpoint pipeline over the histogram
    val hist = Tables.documents(spark, sf)
      .groupBy(col("source"), col("n_chars")).agg(count(lit(1)).as("c"))
    val p = plan(CorpusStats.ksFromHist(hist, "n_chars"))
    // the document scan feeds a hash aggregate before any Window; the
    // dense grid joins are broadcast
    assert(p.contains("HashAggregate"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"))
  }

  test("embed drift: cosine in [-1,1], shift >= 0, halves partition the table") {
    val r = CorpusStats.embedDrift(spark, sf).collect()
    assert(r.length === 1)
    val row = r(0)
    assert(math.abs(row.getAs[Double]("centroid_cos")) <= 1.0 + 1e-9)
    assert(row.getAs[Double]("l2_shift") >= 0)
    val n = Tables.embeddings(spark, sf).count()
    assert(row.getAs[Long]("n1") + row.getAs[Long]("n2") === n)
  }
}
