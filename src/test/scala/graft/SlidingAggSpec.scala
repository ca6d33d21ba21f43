package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.scale.SlidingAgg

/** Overlapping-panes trailing aggregation must equal the naive per-key
  * range window exactly — same frames, same counts, same sums.
  */
class SlidingAggSpec extends AnyFunSuite {
  lazy val spark = Spark.session
  val sf = "/root/testdata/sf0.001"
  val WeekMicros = 7L * 86400 * 1000000

  /** An operator's output columns are its input's plus `outputs`: no
    * `__` temporary leaks to the caller. */
  def assertColumns(out: DataFrame, in: DataFrame, outputs: String*): Unit =
    assert(out.columns.sorted.toSeq == (in.columns ++ outputs).sorted.toSeq)

  test("paned prevValue equals the naive per-key value lag at several pane widths") {
    val ev = Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type")
    val naive = ev.withColumn("pv", lag(col("event_type"), 1).over(
      Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))))
      .collect().map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[String]("pv"))).toMap
    Seq(997L, 3600L * 1000000, 30L * 86400 * 1000000).foreach { pane =>
      val out = SlidingAgg.prevValue(ev, Seq("user_id"), col("ts"),
        col("event_id"), col("event_type"), pane, "pv")
      assertColumns(out, ev, "pv")
      val paned = out.collect().map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[String]("pv"))).toMap
      assert(paned == naive, s"pane $pane diverges")
    }
  }

  test("paned nextTime equals the naive per-key lead at several pane widths") {
    val ev = Tables.events(spark, sf)
      .select("user_id", "ts", "event_id")
    val naive = ev
      .withColumn("nt", lead(expr("unix_micros(ts)"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))))
      .collect().map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Long]("nt")).map(_.longValue)).toMap
    Seq(997L, 3600L * 1000000, 30L * 86400 * 1000000).foreach { pane =>
      val out = SlidingAgg.nextTime(ev, Seq("user_id"), col("ts"),
        col("event_id"), pane, "nt")
      assertColumns(out, ev, "nt")
      val paned = out.collect().map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Long]("nt")).map(_.longValue)).toMap
      assert(paned == naive, s"pane $pane diverges")
    }
  }

  test("scd2: intervals tile each key's timeline, one current row per key") {
    val rows = graft.analytics.Relational.scd2Priority(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDate(2),
        Option(r.getDate(3)), r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (k, iv) =>
      val sorted = iv.sortBy(_._3.getTime)
      // date-grain collapse ⇒ valid_from is strictly increasing per key
      // (ties would make this sort order-dependent — the r8 flake)
      sorted.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
        assert(a._3.getTime < b._3.getTime, s"key $k tied/zero-length interval")
      }
      // exactly one open interval, and it is the last one
      assert(iv.count(_._5) == 1, s"key $k current-count")
      assert(sorted.last._5 && sorted.last._4.isEmpty)
      // each interval closes exactly where the next opens
      sorted.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
        assert(a._4.contains(b._3), s"key $k gap between intervals")
        // consecutive intervals carry different values (it was a change)
        assert(a._2 != b._2, s"key $k uncollapsed interval")
      }
    }
  }

  test("scd2: same-date change pairs collapse to the last value (constructed fixture)") {
    // By construction, not testdata accident: key 1 changes twice on d2
    // (P2 then P3 by arrival order o_orderkey) — date-grain SCD2 must keep
    // only P3 for d2 and emit no zero-length interval. Key 2 churns
    // A→B→A within one date — the last value equals the prior interval's
    // value, so the date must NOT open a new interval at all.
    import spark.implicits._
    val fx = Seq(
      (1L, "1995-01-01", 10L, "P1"),
      (1L, "1995-01-05", 11L, "P2"),
      (1L, "1995-01-05", 12L, "P3"),
      (1L, "1995-01-09", 13L, "P3"),
      (2L, "1995-02-01", 20L, "A"),
      (2L, "1995-02-04", 21L, "B"),
      (2L, "1995-02-04", 22L, "A"))
      .toDF("o_custkey", "d", "o_orderkey", "o_orderpriority")
      .withColumn("o_orderdate", to_date(col("d"))).drop("d")
    val out = graft.analytics.Relational.scd2Of(fx).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDate(2).toString,
        Option(r.getDate(3)).map(_.toString), r.getBoolean(4)))
      .sortBy(r => (r._1, r._3))
    assert(out === Array(
      (1L, "P1", "1995-01-01", Some("1995-01-05"), false),
      (1L, "P3", "1995-01-05", None, true),
      (2L, "A", "1995-02-01", None, true)))
  }

  test("paned trailing count/sum equals the naive range window") {
    val ev = Tables.events(spark, sf).select("event_id", "user_id", "ts", "value")
    val paned = SlidingAgg.trailingCountSum(
      ev, Seq("user_id"), col("ts"), col("value"), WeekMicros, "n", "s")
      .select("event_id", "n", "s")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val w = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-WeekMicros, 0)
    val naive = ev.withColumn("us", unix_micros(col("ts")))
      .select(col("event_id"), count(lit(1)).over(w).as("n"), sum(col("value")).over(w).as("s"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(paned.keySet == naive.keySet)
    paned.foreach { case (id, (n, s)) =>
      val (en, es) = naive(id)
      assert(n == en, s"count mismatch for $id")
      assert(math.abs(s - es) < 1e-9, s"sum mismatch for $id")
    }
  }

  test("paned gap stats equal the naive per-key lag window") {
    val ev = Tables.events(spark, sf).select("user_id", "ts")
    val paned = SlidingAgg.gapStats(ev, Seq("user_id"), col("ts"), WeekMicros)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val w = Window.partitionBy("user_id").orderBy(col("us"))
    val naive = ev.withColumn("us", unix_micros(col("ts")))
      .withColumn("g", col("us") - lag(col("us"), 1).over(w))
      .filter(col("g").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("g")).as("s"), max(col("g")).as("m"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(paned == naive)
  }

  test("paned session counts equal the naive lag formulation") {
    val ev = Tables.events(spark, sf).select("user_id", "ts")
    val paned = SlidingAgg.sessionCounts(ev, Seq("user_id"), col("ts"),
      gapMicros = 1800L * 1000000L, paneMicros = 86400L * 1000000L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val w = Window.partitionBy("user_id").orderBy(col("ts"))
    val naive = ev
      .withColumn("g", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("ns", when(col("g").isNull || col("g") > 1800L * 1000000L, 1L).otherwise(0L))
      .groupBy("user_id").agg(sum(col("ns")).as("n"), count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(paned == naive)
  }

  test("paned trigram counts equal the naive double-lag window at several pane widths") {
    val ev = Tables.events(spark, sf).select("user_id", "ts", "event_id", "event_type")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val naive = ev
      .withColumn("p1", lag(col("event_type"), 1).over(w))
      .withColumn("p2", lag(col("event_type"), 2).over(w))
      .filter(col("p2").isNotNull)
      .groupBy(col("p2").as("e1"), col("p1").as("e2"), col("event_type").as("e3"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    // hour-wide panes force single-event and empty panes (boundary chains
    // through 1-event panes); week-wide panes exercise the intra path
    for (pane <- Seq(3600L * 1000000L, 86400L * 1000000L, WeekMicros)) {
      val paned = SlidingAgg.trigramCounts(
        ev, Seq("user_id"), col("ts"), col("event_type"), col("event_id"), pane)
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
      assert(paned == naive, s"trigram mismatch at pane=$pane")
    }
  }

  test("paned session ids equal the naive lag+prefix formulation at several pane widths") {
    val ev = Tables.events(spark, sf).select("user_id", "ts", "event_id", "event_type")
    val gap = 1800L * 1000000L
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val naive = ev
      .withColumn("p", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("brk", when(col("p").isNull ||
        unix_micros(col("ts")) - col("p") > gap, 1L).otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(6)).toMap
    for (pane <- Seq(3600L * 1000000L, 86400L * 1000000L, WeekMicros)) {
      val out = SlidingAgg.sessionIds(ev, Seq("user_id"), col("ts"), col("event_id"),
        gap, pane)
      assertColumns(out, ev, "session_id")
      val paned = out.select("user_id", "event_id", "session_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(paned == naive, s"session-id mismatch at pane=$pane")
    }
  }

  test("paned running sum equals the naive prefix window within fp noise") {
    val ev = Tables.events(spark, sf).select("event_id", "user_id", "ts", "value")
    val out = SlidingAgg.runningSum(ev, Seq("user_id"), col("ts"), col("event_id"),
      col("value"), paneMicros = 86400L * 1000000L, out = "rv")
    assertColumns(out, ev, "rv")
    val paned = out.select("event_id", "rv")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = ev.select(col("event_id"), sum(col("value")).over(w).as("rv"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(paned.keySet == naive.keySet)
    paned.foreach { case (id, v) =>
      assert(math.abs(v - naive(id)) < 1e-8, s"prefix mismatch for $id")
    }
  }
}
