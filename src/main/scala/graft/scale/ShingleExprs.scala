package graft.scale

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused tokenize→shingle→hash expressions for the dedup tier.
  *
  * The HOF formulation (split → transform(concat_ws) → array_distinct →
  * transform(xxhash64)) evaluates interpreted, allocating per element;
  * profiling showed it dominating the MinHash pipeline (~50µs/shingle).
  * These expressions do one pass over the text with zero intermediate
  * string materialization: token boundaries are scanned once, each
  * shingle is hashed incrementally (FNV-1a over the joined tokens), and
  * MinHashSig additionally folds the permuted minima (Dedup.MinHashPerms
  * = 128 splitmix64 remixes of each shingle's hash) in the same loop — so
  * a MinHash signature never shuffles anything but the final 128 longs
  * per document.
  *
  * Hash identity does not matter for correctness anywhere these are
  * used: Jaccard joins only rely on hash equality (collision odds 2⁻⁶⁴),
  * and MinHash has no SQL oracle (cross-checked against exact Jaccard in
  * ScaleSpec).
  */
object ShingleKernel {
  /** FNV-1a over the n tokens [from, from+n), joined by a single space —
    * identical value to hashing the materialized "w1 w2 w3" string.
    */
  private def shingleHash(text: String, starts: Array[Int], ends: Array[Int],
      from: Int, n: Int): Long = {
    var h = SimHash64.FnvOffset
    var t = from
    while (t < from + n) {
      if (t > from) { h ^= ' '; h *= SimHash64.FnvPrime }
      var i = starts(t)
      while (i < ends(t)) { h ^= text.charAt(i); h *= SimHash64.FnvPrime; i += 1 }
      t += 1
    }
    h
  }

  /** Token boundary scan: returns (starts, ends, count). */
  private def tokenize(text: String): (Array[Int], Array[Int], Int) = {
    val len = text.length
    var cap = 16
    var starts = new Array[Int](cap); var ends = new Array[Int](cap)
    var k = 0; var i = 0
    while (i < len) {
      while (i < len && Character.isWhitespace(text.charAt(i))) i += 1
      if (i < len) {
        if (k == cap) {
          cap *= 2
          starts = java.util.Arrays.copyOf(starts, cap)
          ends = java.util.Arrays.copyOf(ends, cap)
        }
        starts(k) = i
        while (i < len && !Character.isWhitespace(text.charAt(i))) i += 1
        ends(k) = i
        k += 1
      }
    }
    (starts, ends, k)
  }

  /** Distinct shingle hashes in first-occurrence order. */
  def shingleHashes(u: UTF8String, n: Int): GenericArrayData = {
    val text = u.toString
    val (starts, ends, k) = tokenize(text)
    if (k < n) return new GenericArrayData(Array.emptyLongArray)
    val raw = new Array[Long](k - n + 1)
    var i = 0
    while (i <= k - n) { raw(i) = shingleHash(text, starts, ends, i, n); i += 1 }
    // distinct via sort-free hashing is overkill at ~60 elems; use a set
    val seen = new java.util.HashSet[java.lang.Long](raw.length * 2)
    val out = new Array[Long](raw.length)
    var m = 0
    i = 0
    while (i < raw.length) {
      if (seen.add(raw(i))) { out(m) = raw(i); m += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }

  final val Golden = 0x9E3779B97F4A7C15L

  /** splitmix64 finalizer — cheap independent permutations from one base
    * hash (standard MinHash practice; public-domain splitmix64 mixing).
    */
  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** One-pass MinHash signature: perms minima of mix(base + j·Golden)
    * over the distinct shingle set. Null-signature convention: docs with
    * no shingles return null (they can never near-dup match).
    */
  def minhashSig(u: UTF8String, n: Int, perms: Int): GenericArrayData = {
    val hashes = shingleHashes(u, n)
    val m = hashes.numElements()
    if (m == 0) return null
    val mins = new Array[Long](perms)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < m) {
      val h = hashes.getLong(i)
      var j = 0
      while (j < perms) {
        val v = mix(h + j * Golden)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure("requires STRING")
  override def nullSafeEval(v: Any): Any =
    ShingleKernel.shingleHashes(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.scale.ShingleKernel.shingleHashes($c, $n)")
  override protected def withNewChildInternal(c: Expression): ShingleHashes = copy(child = c)
}

case class MinHashSig(child: Expression, n: Int, perms: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes() =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure("requires STRING")
  override def nullSafeEval(v: Any): Any =
    ShingleKernel.minhashSig(v.asInstanceOf[UTF8String], n, perms)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val res = ctx.freshName("sig")
    nullSafeCodeGen(ctx, ev, c => s"""
      |org.apache.spark.sql.catalyst.util.GenericArrayData $res =
      |  graft.scale.ShingleKernel.minhashSig($c, $n, $perms);
      |if ($res == null) { ${ev.isNull} = true; } else { ${ev.value} = $res; }
      |""".stripMargin)
  }
  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

/** Bitmap of positionwise agreement between two long arrays: bit i set
  * iff a(i) == b(i) (i < 64). The LSH emit-once gate needs this per
  * ENUMERATED bucket pair; composing it as 32 unrolled when-terms put
  * the fused join stage at 22,693 generated bytecodes — past HotSpot's
  * 8,000-byte JIT compile refusal, so the whole stage (SMJ inner loop
  * included) ran in the bytecode interpreter and a 45 s stage became
  * 10+ CPU-pinned minutes at sf10. This expression generates a tight
  * constant-size loop instead (the KMeansExprs.NearestCentroid lesson:
  * generated-code size must not scale with a model constant). A HOF
  * zip_with fold has constant code size too but evaluates its lambda
  * interpreted per element — ~7e10 dispatches at the sf10 pair volume.
  */
case class BandAgreeMask(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"BandAgreeMask requires array<bigint>, got ${left.dataType}, ${right.dataType}")
    }
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = math.min(math.min(x.numElements(), y.numElements()), 64)
    var m = 0L
    var i = 0
    while (i < n) { if (x.getLong(i) == y.getLong(i)) m |= 1L << i; i += 1 }
    m
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min(java.lang.Math.min($a.numElements(), $b.numElements()), 64);
         |${ev.value} = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) ${ev.value} |= 1L << $i;
         |}
         |""".stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): BandAgreeMask =
    copy(left = l, right = r)
}

object ShingleExprs {
  def shingleHashes(c: Column, n: Int): Column =
    GraftColumnBridge.column(ShingleHashes(GraftColumnBridge.expression(c), n))
  def minhashSig(c: Column, n: Int, perms: Int): Column =
    GraftColumnBridge.column(MinHashSig(GraftColumnBridge.expression(c), n, perms))
  def bandAgreeMask(a: Column, b: Column): Column =
    GraftColumnBridge.column(BandAgreeMask(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}
