package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesize a larger scale factor from an existing testdata directory by
  * unioning key-shifted copies — the sf1-smoke harness VERDICT r1 asked
  * for: at sf0.1 most queries finish in <1 s, which hides skew, spill and
  * hot-group behavior that only appears at volume.
  *
  * Key shifts keep referential integrity (orders.o_custkey moves with
  * customer.c_custkey, lineitem.l_orderkey with orders.o_orderkey);
  * dimension tables are passed through unchanged so joins keep their
  * fan-out. Document text gets a per-copy suffix, making cross-copy pairs
  * NEAR-duplicates (jaccard ≈ 0.95) — deliberately harder for the dedup /
  * clustering tier than a true sf1 would be.
  *
  * Usage: runMain graft.ScaleUp <inDir> <outDir> <factor>
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val (in, out, factor) = (args(0), args(1), args(2).toInt)
    val spark = Sessions.local()

    def read(t: String) = spark.read.parquet(s"$in/$t.parquet")
    def write(df: DataFrame, t: String) =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")

    // dims unchanged
    Seq("region", "nation", "supplier", "part").foreach(t => write(read(t), t))

    def shiftOf(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1

    def copies(df: DataFrame, shifts: Map[String, Long],
        extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until factor).map { i =>
        val shifted = shifts.foldLeft(df) { case (d, (k, s)) =>
          d.withColumn(k, col(k) + lit(s * i))
        }
        extra(shifted, i)
      }.reduce(_ unionByName _)

    val customer = read("customer")
    val orders = read("orders")
    val cShift = shiftOf(customer, "c_custkey")
    val oShift = shiftOf(orders, "o_orderkey")
    write(copies(customer, Map("c_custkey" -> cShift)), "customer")
    write(copies(orders, Map("o_orderkey" -> oShift, "o_custkey" -> cShift)), "orders")
    write(copies(read("lineitem"), Map("l_orderkey" -> oShift)), "lineitem")

    val events = read("events")
    write(copies(events, Map(
      "event_id" -> shiftOf(events, "event_id"),
      "user_id" -> shiftOf(events, "user_id"))), "events")

    val docs = read("documents")
    write(copies(docs, Map("doc_id" -> shiftOf(docs, "doc_id")),
      (d, i) => if (i == 0) d
        else d.withColumn("text", concat(col("text"), lit(s" copytag$i")))), "documents")

    val emb = read("embeddings")
    write(copies(emb, Map("vec_id" -> shiftOf(emb, "vec_id"))), "embeddings")

    println(s"""{"scaled":"$out","factor":$factor}""")
    spark.stop()
  }
}
