package graft.scale

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Per-cell exact top-k as ONE broadcast-table expression — the
  * NearestCentroid precedent applied to the kNN-graph pair stage.
  *
  * The join+aggregate formulation (probe ⋈_cluster broadcast(candidates)
  * → filter self → snapped cosine → TopKAgg per (cluster, vec_id))
  * materializes every candidate PAIR as a row: at the sf10 stress that
  * is ~5·10⁹ pairs, each paying join-row construction, a per-pair
  * `floor` projection, an ObjectHashAggregate probe of the SAME key it
  * just probed (a probe row's matches stream consecutively), and a
  * TopK buffer update — measured 88 s warm while the raw dot-product
  * arithmetic is ~3 s of FLOPs at 32 cores. This expression evaluates
  * once per PROBE ROW: one tight loop over the probe's cell slice of a
  * broadcast flat-float table, accumulating the top-k in two local
  * arrays. No pair row ever exists.
  *
  * Numeric semantics are bit-identical to the composed pipeline:
  *  - dot accumulates left-to-right in double over per-element
  *    float→double casts (the DotProduct loop; a·b == b·a in IEEE);
  *  - norms are Math.sqrt of the same self-dot, computed identically
  *    for the probe (from its embedding) and the candidates (at table
  *    build, from the same float arrays);
  *  - cos = if (nrm·nbr_nrm > 0) dot/den else 0.0, snapped with
  *    floor(x·1e6 + 0.5)/1e6 — Spark's floor-to-LONG and Math.floor
  *    agree at |cos| ≤ 1;
  *  - selection order is the TopKAgg total order (score desc, id asc),
  *    which is insertion-order-free, and the returned
  *    array<struct<score, id>> is sorted by it — exactly TopKAgg's
  *    eval. A cell of one (only self) yields an empty array, which
  *    posexplode drops — matching the no-pairs-no-group aggregate.
  */
final class CellTable(
    val ids: Array[Array[Long]],
    val flat: Array[Array[Float]],
    val nrms: Array[Array[Double]],
    val dim: Int) extends Serializable {

  /** All qualifying pairs for one probe row: candidates in the probe's
    * cell with id > vecId (each unordered pair emitted exactly once, by
    * its smaller endpoint) whose SNAPPED cosine clears tau — the
    * within-cell near-dup join (`a ⋈_cell b ON v1 < v2` → snap → filter)
    * as one tight loop. Same numerics as [[topK]]: commuted IEEE
    * dot/den, floor(x·1e6 + 0.5)/1e6 snap; emission order is table
    * order (the pair RELATION is order-free — both engines sort rows
    * for comparison).
    */
  def pairsAbove(cluster: Int, vecId: Long, emb: ArrayData, tau: Double): ArrayData = {
    if (cluster < 0 || cluster >= ids.length || ids(cluster) == null)
      return new GenericArrayData(Array.empty[Any])
    val cid = ids(cluster); val cf = flat(cluster); val cn = nrms(cluster)
    val d = emb.numElements()
    val q = new Array[Float](d)
    var i = 0
    while (i < d) { q(i) = emb.getFloat(i); i += 1 }
    var acc = 0.0
    i = 0
    while (i < d) { acc += q(i).toDouble * q(i).toDouble; i += 1 }
    val nrm = math.sqrt(acc)
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var m = 0
    while (m < cid.length) {
      val id = cid(m)
      if (id > vecId) {
        var dot = 0.0
        var j = 0
        val off = m * dim
        val lim = math.min(d, dim)
        while (j < lim) { dot += q(j).toDouble * cf(off + j).toDouble; j += 1 }
        val den = nrm * cn(m)
        val cos = if (den > 0) dot / den else 0.0
        val s = math.floor(cos * 1e6 + 0.5) / 1e6
        if (s >= tau) out += InternalRow(s, id)
      }
      m += 1
    }
    new GenericArrayData(out.toArray)
  }

  def topK(cluster: Int, vecId: Long, emb: ArrayData, k: Int): ArrayData = {
    if (cluster < 0 || cluster >= ids.length || ids(cluster) == null)
      return new GenericArrayData(Array.empty[Any])
    val cid = ids(cluster); val cf = flat(cluster); val cn = nrms(cluster)
    val d = emb.numElements()
    val q = new Array[Float](d)
    var i = 0
    while (i < d) { q(i) = emb.getFloat(i); i += 1 }
    var acc = 0.0
    i = 0
    while (i < d) { acc += q(i).toDouble * q(i).toDouble; i += 1 }
    val nrm = math.sqrt(acc)
    val ks = new Array[Double](k); val ki = new Array[Long](k)
    var n = 0
    var m = 0
    while (m < cid.length) {
      val id = cid(m)
      if (id != vecId) {
        var dot = 0.0
        var j = 0
        val off = m * dim
        val lim = math.min(d, dim)
        while (j < lim) { dot += q(j).toDouble * cf(off + j).toDouble; j += 1 }
        val den = nrm * cn(m)
        val cos = if (den > 0) dot / den else 0.0
        val s = math.floor(cos * 1e6 + 0.5) / 1e6
        // TopKBuffer.insert semantics: beats = s1 > s2 || (== && i1 < i2)
        if (n < k) { ks(n) = s; ki(n) = id; n += 1 }
        else {
          var w = 0
          var t = 1
          while (t < n) {
            if (ks(w) > ks(t) || (ks(w) == ks(t) && ki(w) < ki(t))) w = t
            t += 1
          }
          if (s > ks(w) || (s == ks(w) && id < ki(w))) { ks(w) = s; ki(w) = id }
        }
      }
      m += 1
    }
    // rank order: score desc, id asc (n ≤ k, insertion sort)
    var a = 1
    while (a < n) {
      val s = ks(a); val id = ki(a)
      var b = a - 1
      while (b >= 0 && !(ks(b) > s || (ks(b) == s && ki(b) < id))) {
        ks(b + 1) = ks(b); ki(b + 1) = ki(b); b -= 1
      }
      ks(b + 1) = s; ki(b + 1) = id
      a += 1
    }
    val out = new Array[Any](n)
    var r = 0
    while (r < n) { out(r) = InternalRow(ks(r), ki(r)); r += 1 }
    new GenericArrayData(out)
  }
}

case class CellTopKExpr(
    cluster: Expression,
    vecId: Expression,
    emb: Expression,
    bc: Broadcast[CellTable],
    k: Int)
  extends TernaryExpression {

  override def first: Expression = cluster
  override def second: Expression = vecId
  override def third: Expression = emb

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", DoubleType), StructField("id", LongType))),
    containsNull = false)

  override def checkInputDataTypes() =
    if (cluster.dataType == IntegerType && vecId.dataType == LongType &&
        (emb.dataType match {
          case ArrayType(FloatType, _) => true
          case _ => false
        }))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"CellTopKExpr requires (int, bigint, array<float>), got " +
        s"(${cluster.dataType}, ${vecId.dataType}, ${emb.dataType})")

  override def nullSafeEval(c: Any, v: Any, e: Any): Any =
    bc.value.topK(c.asInstanceOf[Int], v.asInstanceOf[Long],
      e.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("cellTableBc", bc,
      "org.apache.spark.broadcast.Broadcast")
    nullSafeCodeGen(ctx, ev, (c, v, e) => {
      s"""${ev.value} = ((graft.scale.CellTable) $bcRef.value())
         |  .topK($c, $v, $e, $k);""".stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): CellTopKExpr =
    copy(cluster = f, vecId = s, emb = t)
}

/** Threshold-pair sibling of [[CellTopKExpr]]: per probe row, every
  * (probe, candidate) pair in the probe's cell with candidate id >
  * probe id and snapped cosine ≥ tau — the within-cell near-dup join
  * without the pair rows.
  */
case class CellPairsExpr(
    cluster: Expression,
    vecId: Expression,
    emb: Expression,
    bc: Broadcast[CellTable],
    tau: Double)
  extends TernaryExpression {

  override def first: Expression = cluster
  override def second: Expression = vecId
  override def third: Expression = emb

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", DoubleType), StructField("id", LongType))),
    containsNull = false)

  override def checkInputDataTypes() =
    if (cluster.dataType == IntegerType && vecId.dataType == LongType &&
        (emb.dataType match {
          case ArrayType(FloatType, _) => true
          case _ => false
        }))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"CellPairsExpr requires (int, bigint, array<float>), got " +
        s"(${cluster.dataType}, ${vecId.dataType}, ${emb.dataType})")

  override def nullSafeEval(c: Any, v: Any, e: Any): Any =
    bc.value.pairsAbove(c.asInstanceOf[Int], v.asInstanceOf[Long],
      e.asInstanceOf[ArrayData], tau)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("cellTableBc", bc,
      "org.apache.spark.broadcast.Broadcast")
    nullSafeCodeGen(ctx, ev, (c, v, e) => {
      s"""${ev.value} = ((graft.scale.CellTable) $bcRef.value())
         |  .pairsAbove($c, $v, $e, $tau);""".stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): CellPairsExpr =
    copy(cluster = f, vecId = s, emb = t)
}

object CellTopK {

  /** Broadcast cell-table budget in VECTORS shared by every cell-table
    * kernel consumer (kNN graph/delta top-k, within-cell pair emit):
    * 1M 64-dim float vectors ≈ 256 MB flat — the same memory class as
    * the broadcast hash relation the join formulations ship.
    */
  val TableRows = 1000000L

  /** Collect `df`'s (cell int, vec_id long, embedding array<float>) rows
    * and broadcast them as one [[CellTable]].
    */
  def broadcastTable(df: DataFrame, cell: String): Broadcast[CellTable] =
    df.sparkSession.sparkContext.broadcast(buildTable(
      df.select(cell, "vec_id", "embedding").collect()))

  /** Build the per-cell flat-float table from collected
    * (cluster int, vec_id long, embedding array<float>) rows. Candidate
    * norms use the identical accumulation as DotProduct(e, e).
    */
  private def buildTable(rows: Array[Row]): CellTable = {
    if (rows.isEmpty) return new CellTable(Array.empty, Array.empty, Array.empty, 0)
    val dim = rows.head.getSeq[Float](2).length
    val byCell = rows.groupBy(_.getInt(0))
    val maxC = byCell.keys.max
    val ids = new Array[Array[Long]](maxC + 1)
    val flat = new Array[Array[Float]](maxC + 1)
    val nrms = new Array[Array[Double]](maxC + 1)
    byCell.foreach { case (c, members) =>
      val n = members.length
      val cid = new Array[Long](n)
      val cf = new Array[Float](n * dim)
      val cn = new Array[Double](n)
      var m = 0
      while (m < n) {
        val row = members(m)
        cid(m) = row.getLong(1)
        val e = row.getSeq[Float](2)
        var j = 0
        var acc = 0.0
        while (j < dim) {
          val x = e(j)
          cf(m * dim + j) = x
          acc += x.toDouble * x.toDouble
          j += 1
        }
        cn(m) = math.sqrt(acc)
        m += 1
      }
      ids(c) = cid; flat(c) = cf; nrms(c) = cn
    }
    new CellTable(ids, flat, nrms, dim)
  }

  def topKColumn(bc: Broadcast[CellTable], k: Int,
      cluster: Column, vecId: Column, emb: Column): Column =
    GraftColumnBridge.column(CellTopKExpr(
      GraftColumnBridge.expression(cluster),
      GraftColumnBridge.expression(vecId),
      GraftColumnBridge.expression(emb), bc, k))

  def pairsColumn(bc: Broadcast[CellTable], tau: Double,
      cluster: Column, vecId: Column, emb: Column): Column =
    GraftColumnBridge.column(CellPairsExpr(
      GraftColumnBridge.expression(cluster),
      GraftColumnBridge.expression(vecId),
      GraftColumnBridge.expression(emb), bc, tau))
}
