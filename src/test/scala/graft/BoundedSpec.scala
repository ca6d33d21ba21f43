package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.analytics.{Preference, ScaleQueries}
import graft.scale.{Bounded, Dedup, Similarity}

/** Test helpers for the certified-bounded gates ([[graft.scale.Bounded]]). */
object Gates {

  /** Run `body` with every gate forced to its distributed fallback. */
  def withFallback[T](spark: SparkSession)(body: => T): T = {
    spark.conf.set(Bounded.FallbackConf, "true")
    try body finally spark.conf.unset(Bounded.FallbackConf)
  }

  /** `body`'s result and the lower-cased executed plan of every query it
    * ran, eager checkpoints and cache builds included.
    */
  def executedPlans[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val out = Plans.captured(spark)((_, qe) =>
      plans.add(qe.executedPlan.toString.toLowerCase))(body)
    (out, plans.asScala.toSeq)
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
  /** 150 copies of sf0.001's longest document: far under Dedup.MaxGroup
    * rows, yet its pair expansion is past Dedup.MaxGroupPairs.
    */
  lazy val copies: String = {
    val out = java.nio.file.Files.createTempDirectory("graft_copies").toString
    Tables.documents(spark, sf).orderBy(length(col("text")).desc, col("doc_id")).limit(1)
      .crossJoin(spark.range(150).select(col("id").as("copy")))
      .withColumn("doc_id", col("copy")).drop("copy")
      .write.parquet(s"$out/documents.parquet")
    out
  }

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** Per gated site: input preparation (outside the gate) returning the
    * gated query, and whether its fast path is a cell-table kernel, the
    * only plan holding the CellKernel node.
    */
  private val sites: Seq[(String, String => (() => Seq[DataFrame]), Boolean)] = Seq(
    ("dupClusters", d => () => Seq(ScaleQueries.dupClustersLsh(spark, d)), false),
    ("btFit", d => () =>
      Seq(Preference.btRating(spark, d), Preference.btRatingSe(spark, d)), false),
    ("semanticNearDup", d => () => Seq(ScaleQueries.semanticNearDup(spark, d)), true),
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
      val (fast, fastPlans) = executedPlans(run().map(rows))
      val (fallback, fallbackPlans) =
        Gates.withFallback(spark)(executedPlans(run().map(rows)))
      assert(fast == fallback,
        s"$site diverges on $input: fast-only ${fast.zip(fallback).map(p => (p._1 -- p._2).take(3))}, " +
          s"fallback-only ${fast.zip(fallback).map(p => (p._2 -- p._1).take(3))}")
      if (input == "sf0.001") assert(fast.forall(_.nonEmpty), s"$site: vacuous on $input")
      // the switch decides the path whatever the input size: a forced
      // fallback never reaches a kernel, even on empty input
      if (isKernel) {
        assert(fastPlans.exists(_.contains("cellkernel")), s"$site: fast path not taken on $input")
        assert(!fallbackPlans.exists(_.contains("cellkernel")),
          s"$site: forced fallback took the kernel on $input")
      }
    }

  private def executedPlans[T](body: => T): (T, Seq[String]) = Gates.executedPlans(spark)(body)

  /** The LSH near-dup gates (budget Dedup.MaxGroupPairs of shingle pair
    * expansion) with the exact-tier query each must equal: the fast path
    * is that exact tier, the fallback runs the LSH band self-join — the
    * only plan holding the BandAgreeMask kernel.
    */
  private val lshSites: Seq[(String, String => DataFrame, String => DataFrame)] = Seq(
    ("containmentLsh", d => ScaleQueries.containmentLsh(spark, d),
      d => ScaleQueries.containmentPairs(spark, d)),
    ("minhashDupPairs", d => ScaleQueries.dupClustersLsh(spark, d),
      d => Dedup.dupClusters(
        Dedup.jaccardPairs(Tables.documents(spark, d), "text", "doc_id", 3, 0.5))))

  // the copies input is under Dedup.MaxGroup rows but past the pair
  // budget, so both runs take the LSH tiers
  for ((site, run, exact) <- lshSites;
       (input, dir) <- inputs :+ ("copies" -> (() => copies)))
    test(s"$site: fast path ≡ forced fallback on the $input input") {
      val pastBudget = input == "copies"
      val (fast, fastPlans) = executedPlans(rows(run(dir())))
      val (fallback, fallbackPlans) =
        Gates.withFallback(spark)(executedPlans(rows(run(dir()))))
      assert(fast == fallback,
        s"$site diverges on $input: fast-only ${(fast -- fallback).take(3)}, " +
          s"fallback-only ${(fallback -- fast).take(3)}")
      assert(fast == rows(exact(dir())), s"$site differs from the exact tier on $input")
      if (input == "sf0.001" || pastBudget) assert(fast.nonEmpty, s"$site: vacuous on $input")
      assert(fastPlans.exists(_.contains("bandagreemask")) == pastBudget,
        s"$site: fast run ${if (pastBudget) "skipped" else "ran"} the LSH band self-join on $input")
      assert(fallbackPlans.exists(_.contains("bandagreemask")),
        s"$site: forced fallback skipped the LSH band self-join on $input")
    }

  test("pairExpansion is Σ C(df, 2) over each document's distinct shingles") {
    import spark.implicits._
    // 3-shingles: "a b c" in all three docs (df 3), "b c d" in two (df 2),
    // the rest once; doc 1's repeated "a b c" counts once
    val docs = Seq((1L, "a b c a b c d"), (2L, "a b c d"), (3L, "a b c e"))
      .toDF("doc_id", "text")
    def expansion(d: DataFrame) = Dedup.pairExpansion(Dedup.postings(d, "text", "doc_id", 3))
    assert(expansion(docs) == 3 + 1)
    assert(expansion(docs.limit(0)) == 0)
    assert(Dedup.MaxGroupPairs == 499500L)
    assert(expansion(Tables.documents(spark, copies)) > Dedup.MaxGroupPairs)
  }

  test("pairExpansion counts the pair rows the exact index expands") {
    for ((input, dir) <- Seq("sf0.001" -> sf, "copies" -> copies)) {
      val post = Dedup.postings(Tables.documents(spark, dir), "text", "doc_id", 3)
      // every exploded pair row adds one to its pair's c, so Σ c over the
      // uncapped index is the explode's row count
      val exploded = Dedup.overlapCounts(post, Int.MaxValue).agg(sum(col("c"))).head().getLong(0)
      assert(Dedup.pairExpansion(post) == exploded, input)
      assert(exploded > 0, input)
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

  test("knnDelta keeps a history row whose id equals a delta q_id") {
    // vec 0 returns as the delta query 1000000; its nearest neighbor,
    // renamed to 1000000, must stay among its candidates on both paths
    val nbr = ScaleQueries.knnGraph(spark, sf)
      .filter(col("vec_id") === 0L && col("rank") === 1).head().getAs[Long]("nbr_id")
    val dir = java.nio.file.Files.createTempDirectory("graft_knn_ids").toString
    Tables.embeddings(spark, sf)
      .withColumn("vec_id", when(col("vec_id") === nbr, lit(1000000L))
        .otherwise(col("vec_id")))
      .write.parquet(s"$dir/embeddings.parquet")
    val (fast, plans) = executedPlans(rows(ScaleQueries.knnDelta(spark, dir)))
    assert(plans.exists(_.contains("cellkernel")), "the fast path was not taken")
    assert(fast == Gates.withFallback(spark)(rows(ScaleQueries.knnDelta(spark, dir))))
    // (cluster, q_id, rank, vec_id, cos_sim)
    assert(fast.exists(r => r(1) == 1000000L && r(3) == 1000000L),
      s"the history row 1000000 is missing from q_id 1000000's neighbors: " +
        fast.filter(_(1) == 1000000L).mkString(", "))
  }

  test("no file under src/main but CellKernel.scala gates or builds the cell kernel") {
    val needles = Seq("CellKernel.TableRows", "CellKernel(", "CellKernelExec(")
    val forks = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => needles.exists(Files.readString(p).contains))
      .map(_.getFileName.toString).toList
    assert(forks == List("CellKernel.scala"))
  }
}
