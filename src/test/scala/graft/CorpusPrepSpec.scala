package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.CorpusQueries

/** Property + plan gates for the corpus-preparation tier
  * (analytics/CorpusQueries.scala) — accounting identities the oracle
  * hash-compare cannot articulate, and the plan shapes that make these
  * operators survive 100 TB (no corpus-wide single-partition window in
  * the global enumeration, no text in the paragraph-dedup shuffle).
  */
class CorpusPrepSpec extends AnyFunSuite {
  lazy val spark = Spark.session
  val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  test("paragraph dedup accounting: kept + removed = total, tokens conserve") {
    val rows = CorpusQueries.paragraphDedup(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val paras = r.getAs[Long]("n_paras")
      val removed = r.getAs[Long]("n_removed")
      assert(removed >= 0 && removed < paras)
      assert(r.getAs[Long]("tokens_kept") <= r.getAs[Long]("tokens_total"))
    }
    // every distinct paragraph hash is kept exactly once corpus-wide:
    // total kept paras == distinct paragraph count
    val totKept = rows.map(r => r.getAs[Long]("n_paras") - r.getAs[Long]("n_removed")).sum
    val distinctParas = Tables.documents(spark, sf)
      .select(posexplode(expr(
        s"transform(sequence(1, size(split(trim(text), '\\\\s+')), ${CorpusQueries.ParaSize})," +
          s" s -> array_join(slice(split(trim(text), '\\\\s+'), s, ${CorpusQueries.ParaSize}), ' '))"))
        .as(Seq("idx", "p")))
      .select(col("p")).distinct().count()
    assert(totKept == distinctParas, s"kept $totKept vs distinct $distinctParas")
  }

  test("gopher flags: keep is exactly the conjunction of the four rules") {
    val rows = CorpusQueries.gopherRules(spark, sf).collect()
    assert(rows.nonEmpty)
    val kept = rows.count(_.getAs[Boolean]("keep"))
    assert(kept > 0 && kept < rows.length, "thresholds must split the corpus")
    rows.foreach { r =>
      assert(r.getAs[Boolean]("keep") ==
        (r.getAs[Boolean]("flag_words") && r.getAs[Boolean]("flag_word_len") &&
          r.getAs[Boolean]("flag_stop") && r.getAs[Boolean]("flag_symbol")))
    }
  }

  test("token budget: weights sum to ~1, targets fill the budget") {
    val rows = CorpusQueries.tokenBudget(spark, sf).collect()
    val wsum = rows.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wsum - 1.0) < 1e-4, s"weights sum to $wsum")
    val tsum = rows.map(_.getAs[Long]("target_tokens")).sum.toDouble
    assert(tsum <= CorpusQueries.RecipeBudget &&
      tsum > CorpusQueries.RecipeBudget * 0.999)
  }

  test("quality budget: greedy-from-top threshold, budget respected and tight") {
    val scored = graft.analytics.ScaleQueries
      .qualityClassify(Tables.documents(spark, sf))
      .select("prob", "n_tokens").collect()
      .map(r => (r.getDouble(0), r.getLong(1)))
    val total = scored.map(_._2).sum
    val budget = math.floor(total * CorpusQueries.QualityBudgetShare).toLong
    // the query keeps a PREFIX of descending buckets (cum is monotone, so
    // filter(cum <= budget) stops at the first overflow)
    val buckets = scored.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
      .toSeq.sortBy(-_._1)
    var cum2 = 0L
    var thr2 = Option.empty[Double]
    buckets.takeWhile { case (_, t) =>
      if (cum2 + t <= budget) { cum2 += t; true } else false
    }.lastOption.foreach { case (p, _) => thr2 = Some(p) }
    val rows = CorpusQueries.qualityBudget(spark, sf).collect()
    val keptTokens = rows.map(_.getAs[Long]("kept_tokens")).sum
    assert(keptTokens <= budget)
    rows.foreach { r =>
      assert(Option(r.getAs[java.lang.Double]("threshold")).map(_.doubleValue) == thr2,
        "threshold mismatch")
    }
    // tight: adding the next bucket below the threshold would exceed budget
    thr2.foreach { t =>
      buckets.find(_._1 < t).foreach { case (_, nt) =>
        assert(keptTokens + nt > budget, "threshold not tight")
      }
    }
    // per-source accounting re-derives from a local filter
    val bySrc = graft.analytics.ScaleQueries
      .qualityClassify(Tables.documents(spark, sf))
      .select(col("doc_id"), col("prob"), col("n_tokens"))
      .join(Tables.documents(spark, sf).select("doc_id", "source"), "doc_id")
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Double]("prob"),
        r.getAs[Long]("n_tokens")))
    rows.foreach { r =>
      val src = r.getString(0)
      val mine = bySrc.filter(_._1 == src)
      val kept = thr2.map(t => mine.filter(_._2 >= t)).getOrElse(Array.empty)
      assert(r.getAs[Long]("n_docs") == mine.length.toLong)
      assert(r.getAs[Long]("kept_docs") == kept.length.toLong)
      assert(r.getAs[Long]("kept_tokens") == kept.map(_._3).sum)
    }
  }

  test("dup stats: docs column accounts the whole corpus exactly once") {
    val total = Tables.documents(spark, sf).count()
    val rows = CorpusQueries.dupStatsLsh(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    rows.foreach { r =>
      val cs = r.getAs[Long]("cluster_size")
      assert(r.getAs[Long]("n_docs") == cs * r.getAs[Long]("n_clusters"))
    }
  }

  test("global index is a contiguous permutation consistent with the sort") {
    val rows = CorpusQueries.globalIndex(spark, sf)
      .orderBy(col("global_idx")).collect()
    val n = Tables.documents(spark, sf).count()
    assert(rows.length == n)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("global_idx") == i.toLong)
    }
    // sorted by (n_chars, doc_id)
    val keys = rows.map(r => (r.getAs[Long]("n_chars"), r.getAs[Long]("doc_id")))
    assert(keys.sameElements(keys.sorted))
  }

  test("global index plan: the corpus-wide window is partitioned by bucket, " +
    "never a single global partition") {
    val p = plan(CorpusQueries.globalIndex(spark, sf))
    // the offset window runs over the bounded per-bucket count relation;
    // the row_number window must be hash-partitioned on bkt
    assert(p.contains("Window"))
    assert(p.contains("hashpartitioning(bkt"),
      s"per-bucket window not partitioned by bkt:\n$p")
  }

  test("paragraph dedup plan: no text column past the scan stage shuffles") {
    val p = plan(CorpusQueries.paragraphDedup(spark, sf))
    // shuffles carry (ph, source, counts) — assert exchanges partition by
    // the hash key, and no Window node appears (keeper is an argmin agg)
    assert(!p.contains("Window"), s"window in paragraph dedup:\n$p")
    assert(p.contains("hashpartitioning(ph"), s"no ph-keyed exchange:\n$p")
  }

  test("classifier calibration: buckets partition the corpus, curve consistent") {
    val rows = CorpusQueries.classifierCalibration(spark, sf).collect()
    assert(rows.nonEmpty)
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === nDocs)
    rows.foreach { r =>
      val b = r.getAs[Int]("bucket")
      assert(b >= 0 && b <= 9)
      assert(r.getAs[Long]("n_rule_pass") <= r.getAs[Long]("n_docs"))
      val rate = r.getAs[Double]("rule_pass_rate")
      assert(rate >= 0 && rate <= 1)
      val ap = r.getAs[Double]("avg_prob")
      // mean probability must lie inside its own decile (inclusive edges)
      assert(ap >= b / 10.0 - 1e-6 && ap <= (b + 1) / 10.0 + 1e-6,
        s"bucket $b avg_prob $ap outside its decile")
    }
  }
}
