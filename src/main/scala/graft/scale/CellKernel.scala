package graft.scale

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, BroadcastMode, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types._

/** Per-cell exact top-k, or every pair above a cosine threshold, as ONE
  * plan node: a probe relation of (cell int, id bigint, embedding
  * array<float>) rows against a broadcast table of the same shape.
  *
  * The join+aggregate formulation (probe ⋈_cell broadcast(candidates)
  * → filter self → snapped cosine → TopKAgg per (cell, id)) materializes
  * every candidate PAIR as a row: at the sf10 stress that is ~5·10⁹
  * pairs, each paying join-row construction, a per-pair `floor`
  * projection, an ObjectHashAggregate probe and a TopK buffer update —
  * measured 88 s warm while the raw dot-product arithmetic is ~3 s of
  * FLOPs at 32 cores. This node runs once per PROBE ROW: one tight loop
  * over the probe's cell slice of the table. No pair row ever exists.
  *
  * As an operator rather than an expression, the optimizer cannot copy
  * the kernel into an inferred filter (it ran twice per row as one), and
  * the table is the exec's broadcast child: Spark's broadcast exchange
  * collects it, ships it and releases it as for every broadcast join.
  * The node installs its planner strategy in the session that builds it,
  * so it plans in any session, with or without `GraftExtensions`.
  *
  * Output: the probe's (cell, id) followed by (rank int, nbr_id bigint,
  * cos_sim double) per top-k neighbor, or by (nbr_id, cos_sim) per pair.
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
  *  - top-k selection order is the TopKAgg total order (score desc, id
  *    asc), which is insertion-order-free, and ranks follow it; a cell
  *    of one (only self) yields no rows, like the no-pairs-no-group
  *    aggregate;
  *  - pairs are the candidates with id > probe id (each unordered pair
  *    once, by its smaller endpoint) whose snapped cosine clears tau, in
  *    table order (the pair relation is order-free).
  */
case class CellKernel(mode: CellKernel.Mode, kernelOutput: Seq[Attribute],
    probe: LogicalPlan, table: LogicalPlan) extends BinaryNode {
  override def left: LogicalPlan = probe
  override def right: LogicalPlan = table
  override def output: Seq[Attribute] = probe.output.take(2) ++ kernelOutput
  override def producedAttributes: AttributeSet = AttributeSet(kernelOutput)
  // the kernel reads every input column: column pruning must keep them
  override def references: AttributeSet = AttributeSet(probe.output ++ table.output)
  // a binary node's default estimate is the product of its sides, which
  // would stop every downstream join from broadcasting the kernel output
  override def stats: Statistics = Statistics(probe.stats.sizeInBytes)
  override protected def withNewChildrenInternal(l: LogicalPlan, r: LogicalPlan): CellKernel =
    copy(probe = l, table = r)
}

object CellKernel {

  /** Broadcast cell-table budget in VECTORS shared by every cell-table
    * kernel consumer (kNN graph/delta top-k, within-cell pair emit):
    * 1M 64-dim float vectors ≈ 256 MB flat — the same memory class as
    * the broadcast hash relation the join formulations ship.
    */
  val TableRows = 1000000L

  sealed trait Mode
  final case class TopK(k: Int) extends Mode
  final case class PairsAbove(tau: Double) extends Mode

  /** Each probe row's top-`k` table rows of its cell, self excluded. */
  def topK(probe: DataFrame, table: DataFrame, k: Int): DataFrame =
    node(TopK(k), probe, table, "rank" -> IntegerType, "nbr_id" -> LongType,
      "cos_sim" -> DoubleType)

  /** Each probe row's pairs with the larger ids of its cell at snapped
    * cosine ≥ `tau`. */
  def pairsAbove(probe: DataFrame, table: DataFrame, tau: Double): DataFrame =
    node(PairsAbove(tau), probe, table, "nbr_id" -> LongType, "cos_sim" -> DoubleType)

  private def node(mode: Mode, probe: DataFrame, table: DataFrame,
      out: (String, DataType)*): DataFrame = {
    for (side <- Seq(probe, table))
      require(side.schema.map(_.dataType) match {
        case Seq(IntegerType, LongType, ArrayType(FloatType, _)) => true
        case _ => false
      }, s"CellKernel sides are (int, bigint, array<float>), got ${side.schema.simpleString}")
    val spark = probe.sparkSession
    install(spark)
    GraftColumnBridge.ofRows(spark, CellKernel(mode,
      out.map { case (name, t) => AttributeReference(name, t, nullable = false)() },
      probe.queryExecution.analyzed, table.queryExecution.analyzed))
  }

  private object Planner extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case CellKernel(mode, out, probe, table) =>
        CellKernelExec(mode, out, planLater(probe), planLater(table)) :: Nil
      case _ => Nil
    }
  }

  private def install(spark: SparkSession): Unit = synchronized {
    val ex = spark.experimental
    if (!ex.extraStrategies.contains(Planner)) ex.extraStrategies = Planner +: ex.extraStrategies
  }
}

/** The [[CellKernel]] exec: the table side arrives through a broadcast
  * exchange as [[CellTableMode]] rows, and each probe partition runs in
  * one loop (the BroadcastNestedLoopJoinExec shape).
  */
case class CellKernelExec(mode: CellKernel.Mode, kernelOutput: Seq[Attribute],
    probe: SparkPlan, table: SparkPlan) extends BinaryExecNode {
  override def left: SparkPlan = probe
  override def right: SparkPlan = table
  override def output: Seq[Attribute] = probe.output.take(2) ++ kernelOutput
  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(CellTableMode) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val cells = table.executeBroadcast[Array[InternalRow]]()
    val mode = this.mode
    probe.execute().mapPartitions { rows =>
      val t = new CellTable(cells.value, mode)
      rows.flatMap(t.probe)
    }
  }

  override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): CellKernelExec =
    copy(probe = l, table = r)
}

/** Builds the cell table from the table side's (cell, id, embedding)
  * rows: row c holds cell c's member ids, their embeddings flattened
  * (dim floats each) and their norms, as (array<bigint>, array<float>,
  * array<double>). Candidate norms use the identical accumulation as
  * DotProduct(e, e). An array of UnsafeRows is one of the two relation
  * shapes Spark's broadcast exchange accepts and sizes.
  */
case object CellTableMode extends BroadcastMode {
  override def transform(rows: Array[InternalRow]): Array[InternalRow] =
    transform(rows.iterator, None)

  override def transform(rows: Iterator[InternalRow], sizeHint: Option[Long]): Array[InternalRow] = {
    val byCell = mutable.HashMap.empty[Int, mutable.ArrayBuffer[(Long, Array[Float])]]
    var dim = 0
    rows.foreach { r =>
      if (!r.anyNull) {
        val e = r.getArray(2).toFloatArray()
        if (byCell.isEmpty) dim = e.length
        byCell.getOrElseUpdate(r.getInt(0), mutable.ArrayBuffer.empty) += (r.getLong(1) -> e)
      }
    }
    val toRow = UnsafeProjection.create(Array[DataType](ArrayType(LongType, false),
      ArrayType(FloatType, false), ArrayType(DoubleType, false)))
    Array.tabulate(if (byCell.isEmpty) 0 else byCell.keys.max + 1) { c =>
      val members = byCell.getOrElse(c, mutable.ArrayBuffer.empty)
      val n = members.length
      val cid = new Array[Long](n)
      val cf = new Array[Float](n * dim)
      val cn = new Array[Double](n)
      var m = 0
      while (m < n) {
        val (id, e) = members(m)
        cid(m) = id
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
      toRow(InternalRow(UnsafeArrayData.fromPrimitiveArray(cid),
        UnsafeArrayData.fromPrimitiveArray(cf), UnsafeArrayData.fromPrimitiveArray(cn))).copy()
    }
  }

  override def canonicalized: BroadcastMode = this
}

/** One task's reader of the broadcast [[CellTableMode]] rows. */
final class CellTable(cells: Array[InternalRow], mode: CellKernel.Mode) {
  private val ids = cells.map(_.getArray(0))
  private val flat = cells.map(_.getArray(1))
  private val nrms = cells.map(_.getArray(2))
  private val dim = ids.indices.find(ids(_).numElements() > 0)
    .map(c => flat(c).numElements() / ids(c).numElements()).getOrElse(0)
  private val (ranked, k, tau) = mode match {
    case CellKernel.TopK(k) => (true, k, 0.0)
    case CellKernel.PairsAbove(tau) => (false, 0, tau)
  }
  // hits of the current probe row: snapped scores and candidate ids
  private var ks = new Array[Double](if (ranked) k else 16)
  private var ki = new Array[Long](ks.length)
  private val out = new UnsafeRowWriter(if (ranked) 5 else 4)

  /** The output rows of one probe row; a row with a null field has none. */
  def probe(row: InternalRow): Iterator[InternalRow] = {
    if (row.anyNull) return Iterator.empty
    val cell = row.getInt(0)
    val id = row.getLong(1)
    if (cell < 0 || cell >= ids.length) return Iterator.empty
    val emb = row.getArray(2)
    val q = new Array[Float](emb.numElements())
    var i = 0
    var acc = 0.0
    while (i < q.length) {
      q(i) = emb.getFloat(i)
      acc += q(i).toDouble * q(i).toDouble
      i += 1
    }
    val nrm = math.sqrt(acc)
    val cid = ids(cell); val cf = flat(cell); val cn = nrms(cell)
    val lim = math.min(q.length, dim)
    var n = 0
    var m = 0
    while (m < cid.numElements()) {
      val nbr = cid.getLong(m)
      if (if (ranked) nbr != id else nbr > id) {
        var dot = 0.0
        val off = m * dim
        var j = 0
        while (j < lim) { dot += q(j).toDouble * cf.getFloat(off + j).toDouble; j += 1 }
        val den = nrm * cn.getDouble(m)
        val cos = if (den > 0) dot / den else 0.0
        val s = math.floor(cos * 1e6 + 0.5) / 1e6
        if (ranked) n = offer(n, s, nbr)
        else if (s >= tau) {
          if (n == ks.length) {
            ks = java.util.Arrays.copyOf(ks, 2 * n); ki = java.util.Arrays.copyOf(ki, 2 * n)
          }
          ks(n) = s; ki(n) = nbr; n += 1
        }
      }
      m += 1
    }
    if (ranked) rank(n)
    Iterator.tabulate(n) { r =>
      out.reset()
      out.write(0, cell)
      out.write(1, id)
      val f = if (ranked) { out.write(2, r + 1); 3 } else 2
      out.write(f, ki(r))
      out.write(f + 1, ks(r))
      out.getRow
    }
  }

  /** TopKBuffer.insert semantics over the first `n` hits:
    * beats = s1 > s2 || (== && i1 < i2). Returns the new hit count. */
  private def offer(n: Int, s: Double, id: Long): Int =
    if (n < k) { ks(n) = s; ki(n) = id; n + 1 }
    else {
      var w = 0
      var t = 1
      while (t < n) {
        if (ks(w) > ks(t) || (ks(w) == ks(t) && ki(w) < ki(t))) w = t
        t += 1
      }
      if (s > ks(w) || (s == ks(w) && id < ki(w))) { ks(w) = s; ki(w) = id }
      n
    }

  /** Sorts the first `n` hits to rank order: score desc, id asc (n ≤ k,
    * insertion sort). */
  private def rank(n: Int): Unit = {
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
  }
}
