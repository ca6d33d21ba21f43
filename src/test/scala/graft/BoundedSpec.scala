package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.analytics.{Preference, ScaleQueries}
import graft.scale.{Bounded, Similarity}

/** Test helpers for the certified-bounded gates ([[graft.scale.Bounded]]). */
object Gates {

  /** Run `body` with every gate forced to its distributed fallback. */
  def withFallback[T](spark: SparkSession)(body: => T): T = {
    spark.conf.set(Bounded.FallbackConf, "true")
    try body finally spark.conf.unset(Bounded.FallbackConf)
  }

  /** Copy the first `n` rows (in full-row order) of each of `dir`'s
    * `tables` under a fresh temp dir, in the testdata layout.
    */
  def truncatedCopy(spark: SparkSession, dir: String, n: Int,
      tables: String*): String = {
    val out = java.nio.file.Files.createTempDirectory(s"graft_rows$n").toString
    tables.foreach { t =>
      val df = Tables.load(spark, dir, t)
      df.orderBy(df.columns.map(col): _*).limit(n)
        .write.parquet(s"$out/$t.parquet")
    }
    out
  }
}

/** Every certified-bounded gate computes the same rows on its fast path
  * and on its forced fallback, on the sf0.001 corpus and on empty and
  * single-row copies of the tables the gated queries read.
  */
class BoundedSpec extends AnyFunSuite {
  lazy val spark = Spark.session
  val sf: String = new ScaleSpec().sf // the suites' sf0.001 testdata

  private val tables = Seq("documents", "embeddings", "lineitem")
  lazy val empty = Gates.truncatedCopy(spark, sf, 0, tables: _*)
  lazy val single = Gates.truncatedCopy(spark, sf, 1, tables: _*)
  private val inputs: Seq[(String, () => String)] =
    Seq("sf0.001" -> (() => sf), "empty" -> (() => empty), "single-row" -> (() => single))

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** A cell-table kernel sits in the plan: the pair kernels inline their
    * expression, the top-k kernels hand back their checkpointed output.
    */
  private def kernel(df: DataFrame): Boolean = {
    val p = df.queryExecution.executedPlan.toString.toLowerCase
    p.contains("cellpairsexpr") || p.contains("existingrdd")
  }

  /** Per gated site: input preparation (outside the gate) returning the
    * gated query, and whether its fast path is a cell-table kernel.
    */
  private val sites: Seq[(String, String => (() => Seq[DataFrame]), Boolean)] = Seq(
    ("dupClusters", d => () => Seq(ScaleQueries.dupClustersLsh(spark, d)), false),
    ("btFit", d => () =>
      Seq(Preference.btRating(spark, d), Preference.btRatingSe(spark, d)), false),
    ("semanticNearDup", d => () =>
      Seq(ScaleQueries.semanticNearDup(spark, d, salt = 4)), true),
    ("knnGraph", d => () => Seq(ScaleQueries.knnGraph(spark, d)), true),
    ("knnDelta", d => () => Seq(ScaleQueries.knnDelta(spark, d)), true),
    ("triangleStatsOf", { d =>
      // one kNN edge set feeds both paths of the triangle gate
      val edges = ScaleQueries.knnGraph(spark, d)
        .select(col("vec_id").as("a"), col("nbr_id").as("b")).localCheckpoint()
      () => Seq(ScaleQueries.triangleStatsOf(edges))
    }, false),
    ("nearDupPairs", d => () => Seq(ScaleQueries.embedNearDup(spark, d)), true))

  for ((site, prepare, isKernel) <- sites; (input, dir) <- inputs)
    test(s"$site: fast path ≡ forced fallback on the $input input") {
      val run = prepare(dir())
      val fastDfs = run()
      val fast = fastDfs.map(rows)
      val (fallbackDfs, fallback) = Gates.withFallback(spark) {
        val dfs = run()
        (dfs, dfs.map(rows))
      }
      assert(fast == fallback,
        s"$site diverges on $input: fast-only ${fast.zip(fallback).map(p => (p._1 -- p._2).take(3))}, " +
          s"fallback-only ${fast.zip(fallback).map(p => (p._2 -- p._1).take(3))}")
      if (input == "sf0.001") assert(fast.forall(_.nonEmpty), s"$site: vacuous on $input")
      // the switch decides the path whatever the input size: a forced
      // fallback never reaches a kernel, even on empty input
      if (isKernel) {
        assert(fastDfs.forall(kernel), s"$site: fast path not taken on $input")
        assert(!fallbackDfs.exists(kernel), s"$site: forced fallback took the kernel on $input")
      }
    }

  test("the gate takes the fast path only when 0 < budget and n <= budget") {
    def gate(budget: Long, n: => Long) = Bounded(spark, budget)(n)("fast")("fallback")
    assert(gate(10, 10) == "fast")
    assert(gate(10, 11) == "fallback")
    assert(gate(0, 0) == "fallback")
    assert(gate(10, Bounded.Uncertified) == "fallback")
    // the switch skips the certificate altogether
    assert(Gates.withFallback(spark)(gate(10, fail("certificate ran"))) == "fallback")
  }

  test("nearDupPairs with no matching plane id puts every row in one bucket, like its fallback") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 100)
    val fast = rows(Similarity.nearDupPairs(emb, Seq(-1L), 0.4))
    val fallback = Gates.withFallback(spark)(
      rows(Similarity.nearDupPairs(emb, Seq(-1L), 0.4)))
    assert(fast.nonEmpty)
    assert(fast == fallback)
  }

  test("knnDelta collects no history rows when an id reaches the delta offset") {
    // one history id at the offset voids the disjointness premise: the
    // one-row certificate aggregate must decide that before any collect
    val dir = java.nio.file.Files.createTempDirectory("graft_knn_ids").toString
    Tables.embeddings(spark, sf)
      .withColumn("vec_id", when(col("vec_id") === 499L, lit(1000499L))
        .otherwise(col("vec_id")))
      .write.parquet(s"$dir/embeddings.parquet")
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageInfos.foreach(s => names.add(s.name))
    }
    spark.sparkContext.addSparkListener(listener)
    val got =
      try {
        val df = ScaleQueries.knnDelta(spark, dir)
        // a marker job: once its start is delivered, every earlier one is
        spark.sparkContext.parallelize(Seq(1), 1).map(identity).count()
        val deadline = System.nanoTime() + 10_000_000_000L
        while (!names.toArray.exists(_.toString.contains("BoundedSpec")) &&
            System.nanoTime() < deadline) Thread.sleep(20)
        df
      } finally spark.sparkContext.removeSparkListener(listener)
    val collects = names.toArray.map(_.toString).filter(_.startsWith("collect at"))
    assert(collects.forall(_.contains("KMeans.scala")),
      s"knnDelta collected outside the k-means fit: ${collects.mkString(", ")}")
    assert(!kernel(got))
    assert(rows(got) == Gates.withFallback(spark)(rows(ScaleQueries.knnDelta(spark, dir))))
  }
}
