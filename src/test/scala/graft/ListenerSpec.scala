package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Metrics.Recorder — the QueryExecutionListener analog of the
  * reference's Prometheus monitoring (monitoring.py): per-query
  * rows/bytes/duration into a queryable table, plus the config.yaml
  * alert thresholds.
  */
class ListenerSpec extends AnyFunSuite {
  lazy val spark = Spark.session
  val sf = "/root/testdata/sf0.001"

  /** Attach once every event already posted is delivered: a previous
    * suite's last query event can otherwise reach the new recorder
    * first (seen: a `count()`'s rowsOut of 1 read as this test's query).
    */
  private def attachFresh(): Metrics.Recorder = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext, 30_000L)
    Metrics.attach(spark)
  }

  /** Listener-bus delivery is async; poll until the expected entries
    * land (bounded).
    */
  private def awaitEntries(r: Metrics.Recorder, n: Int): Seq[Metrics.QueryMetric] = {
    val deadline = System.nanoTime() + 10_000_000_000L
    while (r.snapshot().size < n && System.nanoTime() < deadline) Thread.sleep(50)
    r.snapshot()
  }

  test("recorder captures rows, files, bytes and duration of an executed query") {
    val r = attachFresh()
    try {
      val n = Tables.documents(spark, sf)
        .groupBy("source").agg(count(lit(1))).collect().length
      val entries = awaitEntries(r, 1)
      assert(entries.nonEmpty, "listener recorded nothing")
      val m = entries.last
      assert(m.succeeded)
      assert(m.rowsOut == n, s"rowsOut ${m.rowsOut} != collected $n")
      assert(m.filesRead >= 1, s"expected >=1 parquet file read, got ${m.filesRead}")
      assert(m.bytesRead > 0, "bytesRead should reflect the scanned parquet size")
      assert(m.durationMs >= 0)
      // shuffle volume: groupBy(source) exchanges non-empty map output
      assert(m.shuffleBytes > 0, "groupBy should have recorded shuffle dataSize")
    } finally Metrics.detach(spark, r)
  }

  test("metrics table is queryable and the healthy check follows the error rate") {
    val r = attachFresh()
    try {
      Tables.region(spark, sf).count()
      awaitEntries(r, 1)
      val df = r.metricsDf(spark)
      assert(df.columns.toSet ==
        Set("name", "startedAtMs", "durationMs", "rowsOut", "filesRead",
          "bytesRead", "shuffleBytes", "succeeded", "error"))
      assert(df.filter(col("succeeded")).count() >= 1)
      assert(r.healthy())
    } finally Metrics.detach(spark, r)
  }

  test("alert rules fire on the reference thresholds (5% errors, 5 s latency)") {
    val r = new Metrics.Recorder()
    // synthesized window: 17 fast successes, 1 slow success (6 s > 5 s
    // bound), 2 failures (2/20 = 10% > the 5% error-rate threshold)
    def ok(ms: Long): Metrics.QueryMetric =
      Metrics.QueryMetric("count", 0L, ms, 1L, 1L, 10L, 0L, succeeded = true, "")
    val recorder = new Metrics.Recorder()
    (Seq.fill(17)(ok(10L)) :+ ok(6000L) :+
      Metrics.QueryMetric("save", 0L, 0L, 0L, 0L, 0L, 0L, succeeded = false, "boom") :+
      Metrics.QueryMetric("save", 0L, 0L, 0L, 0L, 0L, 0L, succeeded = false, "boom"))
      .foreach(recorder.record)
    val alerts = recorder.alerts(spark).collect()
    val types = alerts.map(_.getString(0)).toSet
    assert(types == Set("response_time", "error_rate"),
      s"expected both alert types, got ${types.mkString(",")}")
    // 2/20 = 10% > 5%
    val errRow = alerts.find(_.getString(0) == "error_rate").get
    assert(math.abs(errRow.getDouble(2) - 0.1) < 1e-9)
    assert(!recorder.healthy())
    assert(r.healthy()) // empty recorder is healthy
  }

  test("validation-split error accounting trips the 5% circuit-breaker alert") {
    import spark.implicits._
    val rows = (1 to 100).map(i =>
      (i.toLong, if (i <= 6) null else s"u$i")).toDF("id", "user")
    val (ok, dead) = graft.stages.Validation.split(rows, Seq("user"))
    // 6% nulls > 5% threshold
    assert(Metrics.validationAlert(rows, dead))
    val rows2 = (1 to 100).map(i =>
      (i.toLong, if (i <= 4) null else s"u$i")).toDF("id", "user")
    val (_, dead2) = graft.stages.Validation.split(rows2, Seq("user"))
    assert(!Metrics.validationAlert(rows2, dead2))
    assert(ok.count() == 94)
  }
}
