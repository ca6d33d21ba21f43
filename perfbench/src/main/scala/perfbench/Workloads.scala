package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Pipeline, SparkEntry, Tables}
import graft.stages.{FrontendTransform, MarketoTransform, TextAgentTransform}

/** The operations of one pass, each timed from outside the program. An
  * operation is one output written or one query run.
  */
final class Ops {
  val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val failed = mutable.LinkedHashMap.empty[String, Int]

  def op(name: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    val ok =
      try { body; true }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e"); false }
    times.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double])
    if (ok) times(name) += (System.nanoTime() - t0) / 1e9
    else failed(name) = failed.getOrElse(name, 0) + 1
  }
}

/** Writes one named output in full. */
trait Sink { def write(name: String, df: DataFrame): Unit }

/** Every column of every row, discarded: nothing can be pruned away. */
object NoopSink extends Sink {
  def write(name: String, df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** Parquet under `dir/<name>`, for the correctness check. */
final class ParquetSink(dir: String) extends Sink {
  def write(name: String, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$name")
}

trait Workload {
  /** Read every input's schema and register it as a view. */
  def register(): Unit
  /** One full pass, every output written to `sink`. */
  def pass(ops: Ops, sink: Sink): Unit
  /** Registry queries whose DuckDB oracle the check runs. */
  def oracles: Seq[String]
  /** Per-layer figures measured after the timed passes (traced runs only). */
  def layers(): Seq[(String, Double)] = Nil
}

object Workload {
  def apply(name: String, spark: SparkSession, data: String): Workload = name match {
    case "etl_batch" => new EtlBatch(spark, data)
    case "corpus_dedup" => new CorpusDedup(spark, data)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  def writeOracles(dir: String, names: Seq[String]): Unit = {
    val all = SparkEntry.oracleSql
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "oracle_sql.json"),
      Json.obj(names.map(n => n -> Json.str(all(n)))))
  }

  def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
}

/** `Pipeline.run` with all eight outputs written in full. */
final class EtlBatch(spark: SparkSession, data: String) extends Workload {
  /** Output name -> the layer it is reported under. */
  val Outputs: Seq[(String, String)] = Seq(
    "marketo_leads" -> "stages.marketo_leads_s",
    "frontend_analytics" -> "stages.frontend_analytics_s",
    "agent_turns" -> "stages.agent_turns_s",
    "session_kpis" -> "stages.session_kpis_s",
    "daily_lead_metrics" -> "stages.daily_lead_metrics_s",
    "journey" -> "analytics.journey_s",
    "funnel" -> "analytics.funnel_s",
    "dashboard" -> "analytics.dashboard_s")

  def register(): Unit = {
    Tables.customer(spark, data).createOrReplaceTempView("customer")
    Tables.events(spark, data).createOrReplaceTempView("events")
  }

  def pass(ops: Ops, sink: Sink): Unit = {
    val outs = Pipeline.run(spark, data)
    for ((name, layer) <- Outputs) ops.op(layer)(sink.write(name, outs(name)))
  }

  def oracles: Seq[String] = Seq("q_journey", "q_funnel", "q_dashboard")

  /** Each enrichment call alone, written in full, median of three. */
  override def layers(): Seq[(String, Double)] = {
    val enrich: Seq[(String, () => DataFrame)] = Seq(
      "stages.marketo_enrich_s" -> (() =>
        MarketoTransform.enrich(Pipeline.rawLeads(spark, data), Pipeline.AsOfMs)),
      "stages.frontend_enrich_s" -> (() =>
        FrontendTransform.enrich(Pipeline.rawFrontendEvents(spark, data), Pipeline.AsOfMs)),
      "stages.agent_enrich_s" -> (() =>
        TextAgentTransform.enrich(Pipeline.rawAgentTurns(spark, data), Pipeline.AsOfMs)))
    for ((layer, df) <- enrich) yield
      layer -> Workload.median((1 to 3).map(_ => Workload.timeS(NoopSink.write(layer, df()))))
  }
}

/** Scale-family registry queries over the corpus, each written in full. */
final class CorpusDedup(spark: SparkSession, data: String) extends Workload {
  val Queries: Seq[String] = Seq("q_containment_lsh", "q_dup_clusters_lsh",
    "q_semantic_neardup", "q_knn_graph", "q_bt_rating")
  private val registry = SparkEntry.queries

  def register(): Unit = {
    Tables.documents(spark, data).createOrReplaceTempView("documents")
    Tables.embeddings(spark, data).createOrReplaceTempView("embeddings")
    Tables.lineitem(spark, data).createOrReplaceTempView("lineitem")
  }

  def pass(ops: Ops, sink: Sink): Unit =
    for (q <- Queries) ops.op(s"scale.${q}_s")(sink.write(q, registry(q)(spark, data)))

  def oracles: Seq[String] = Queries
}
