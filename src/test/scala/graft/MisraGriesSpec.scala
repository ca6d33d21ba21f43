package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.scale.MisraGries

/** Misra–Gries sketch guarantees, checked against exact counts:
  * in the exact regime (k >= distinct keys) the sketch IS the count
  * table; in the lossy regime every estimate undercounts by at most
  * n/(k+1) and every key above that frequency threshold survives.
  */
class MisraGriesSpec extends AnyFunSuite {
  lazy val spark = Spark.session
  val sf = "/root/testdata/sf0.001"

  test("exact regime: k above cardinality reproduces groupBy counts") {
    val ev = Tables.events(spark, sf)
    val sketch = ev.agg(MisraGries.heavyHitters(col("user_id"), 1024).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.id"), col("e.est"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = ev.groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sketch == exact)
  }

  test("lossy regime: n/(k+1) undercount bound and heavy-hitter recall") {
    val k = 8
    val ev = Tables.events(spark, sf).select(col("user_id").as("key"))
    val n = ev.count()
    val exact = ev.groupBy("key").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.size > k, "need a lossy regime for this test")
    val sketch = ev.agg(MisraGries.heavyHitters(col("key"), k).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.id"), col("e.est"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sketch.size <= k)
    val bound = n / (k + 1)
    sketch.foreach { case (id, est) =>
      val t = exact(id)
      assert(est <= t, s"overcount for $id: est=$est true=$t")
      assert(t - est <= bound, s"undercount beyond n/(k+1) for $id: est=$est true=$t")
    }
    exact.filter(_._2 > bound).keys.foreach { id =>
      assert(sketch.contains(id), s"heavy hitter $id (count ${exact(id)}) missing")
    }
  }

  test("misra_gries is callable from SQL") {
    val rows = spark.sql(
      """SELECT misra_gries(id, 4) AS hh
        |FROM VALUES (1L), (1L), (2L), (1L) AS v(id)""".stripMargin)
      .select(explode(col("hh")).as("e")).select(col("e.id"), col("e.est"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 3L), (2L, 1L)))
  }
}
