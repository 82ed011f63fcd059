package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.{Bridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** KMV / theta-sketch kernels — static-reachable so generated code
  * calls them directly (the BloomUtil pattern).
  *
  * The sketch is the k MINIMUM distinct md5-derived hash values of a
  * group's keys: h(s) = first 15 hex digits of md5(s) parsed base-16
  * — 60 bits, uniform, and EXACTLY replayable in a SQL oracle as
  * `('0x' || substr(md5(s), 1, 15))::BIGINT` + ORDER BY/LIMIT. With
  * the hash derandomized, every estimate below — including the set
  * ALGEBRA ones — is a pure function of the key sets, so the driver
  * hash-checks the estimator itself, not just an error bound.
  *
  * Estimators (simplified KMV / theta form, θ = the k-th smallest of
  * the union sketch, M = 2⁶⁰ the hash-space size):
  *   |A|       ≈ (k−1)·M/θ_A          (exact when the sketch is unsaturated)
  *   |A ∪ B|   ≈ (k−1)·M/θ_U          over the MERGED sketch
  *   |A ∩ B|   ≈ ρ·M/θ_U,   ρ = |{v < θ_U : v ∈ A_sk ∧ v ∈ B_sk}|
  *   |A \ B|   ≈ δ·M/θ_U,   δ = |{v < θ_U : v ∈ A_sk ∧ v ∉ B_sk}|
  * This is what HLL cannot give: HLL unions, but intersections and
  * differences come out only by inclusion–exclusion with compounding
  * error; KMV reads them off the common hash window directly.
  *
  * Serialized layout: [int k][int n][n ascending longs].
  */
object KmvUtil {

  /** Hash-space size 2⁶⁰ as an exact double (a power of two). */
  val M: Double = 1152921504606846976L.toDouble

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 hex digits of md5(key) as a 60-bit long — read straight
    * off the digest bytes: 15 hex chars are the top 60 bits of the
    * first 8 bytes, i.e. the big-endian long >>> 4. Identical to the
    * oracle's `('0x' || substr(md5(s), 1, 15))::BIGINT`, without the
    * per-row digest allocation, hex formatting, and re-parse.
    */
  def hash(key: UTF8String): Long = {
    val d = md5.get()
    d.reset()
    val bytes = d.digest(key.getBytes)
    val be =
      ((bytes(0) & 0xffL) << 56) | ((bytes(1) & 0xffL) << 48) |
      ((bytes(2) & 0xffL) << 40) | ((bytes(3) & 0xffL) << 32) |
      ((bytes(4) & 0xffL) << 24) | ((bytes(5) & 0xffL) << 16) |
      ((bytes(6) & 0xffL) << 8) | (bytes(7) & 0xffL)
    be >>> 4
  }

  def serialize(k: Int, set: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + set.size * 8)
    bb.putInt(k).putInt(set.size)
    val it = set.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  def deserialize(bytes: Array[Byte]): (Int, java.util.TreeSet[java.lang.Long]) = {
    val bb = ByteBuffer.wrap(bytes)
    val k = bb.getInt; val n = bb.getInt
    val set = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { set.add(bb.getLong); i += 1 }
    (k, set)
  }

  def insert(set: java.util.TreeSet[java.lang.Long], k: Int, h: Long): Unit =
    if (set.size < k) { set.add(h); () }
    else if (h < set.last()) {
      if (set.add(h)) { set.pollLast(); () }
    }

  private def values(bytes: Array[Byte]): (Int, Array[Long]) = {
    val bb = ByteBuffer.wrap(bytes)
    val k = bb.getInt; val n = bb.getInt
    val vs = new Array[Long](n)
    var i = 0
    while (i < n) { vs(i) = bb.getLong; i += 1 }
    (k, vs)
  }

  /** Distinct-count estimate of one sketch: exact size when
    * unsaturated, (k−1)·M/θ otherwise.
    */
  def est(bytes: Array[Byte]): Double = {
    val (k, vs) = values(bytes)
    if (vs.length < k) vs.length.toDouble
    else ((k - 1).toDouble * M) / vs(k - 1).toDouble
  }

  /** Merged (union) sketch of two sketches: k smallest of the value
    * union, with k = min of the two widths (a narrower sketch can
    * only support its own resolution).
    */
  private def merged(a: Array[Byte], b: Array[Byte]): (Int, Array[Long]) = {
    val (ka, va) = values(a)
    val (kb, vb) = values(b)
    val k = math.min(ka, kb)
    val set = new java.util.TreeSet[java.lang.Long]()
    va.foreach(v => set.add(v))
    vb.foreach(v => set.add(v))
    while (set.size > k) set.pollLast()
    val vs = new Array[Long](set.size)
    val it = set.iterator()
    var i = 0
    while (it.hasNext) { vs(i) = it.next(); i += 1 }
    (k, vs)
  }

  def unionEst(a: Array[Byte], b: Array[Byte]): Double = {
    val (k, vs) = merged(a, b)
    if (vs.length < k) vs.length.toDouble
    else ((k - 1).toDouble * M) / vs(k - 1).toDouble
  }

  /** ρ or δ count over the common hash window [0, θ_U): values of
    * sketch `a` below θ whose presence in sketch `b` equals `inB`.
    * Unsaturated union (θ undefined) → the sketches are exact sets;
    * count over ALL of a's values instead.
    */
  private def windowCount(a: Array[Byte], b: Array[Byte], inB: Boolean): (Long, Long, Boolean) = {
    val (k, u) = merged(a, b)
    val (_, va) = values(a)
    val (_, vb) = values(b)
    val bs = new java.util.TreeSet[java.lang.Long]()
    vb.foreach(v => bs.add(v))
    val saturated = u.length >= k
    val theta = if (saturated) u(k - 1) else Long.MaxValue
    var c = 0L
    va.foreach { v =>
      if (v < theta && bs.contains(v) == inB) c += 1
    }
    (c, theta, saturated)
  }

  def interEst(a: Array[Byte], b: Array[Byte]): Double = {
    val (c, theta, saturated) = windowCount(a, b, inB = true)
    if (!saturated) c.toDouble else (c.toDouble * M) / theta.toDouble
  }

  def diffEst(a: Array[Byte], b: Array[Byte]): Double = {
    val (c, theta, saturated) = windowCount(a, b, inB = false)
    if (!saturated) c.toDouble else (c.toDouble * M) / theta.toDouble
  }
}

/** `kmv_sketch(key, k)` — the k-minimum-values theta sketch of a
  * group's string keys, emitted as BINARY ([k][n][values]).
  *
  * The 100 TB shape: per-partition partial sketches are O(k) longs,
  * merge is a capped set union, and the shuffle carries one sketch
  * per partition — never the key set. One sketch per slice of a
  * rollup then answers DISTINCT, and — unlike HLL — pairwise
  * INTERSECTION and DIFFERENCE questions across slices, directly.
  */
case class KmvAgg(
    key: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAgg[java.util.TreeSet[java.lang.Long]] {

  require(k > 1, "kmv_sketch requires k > 1")

  override protected def inputTypes = Seq((key, StringType, "key"))
  override protected def add(set: java.util.TreeSet[java.lang.Long], v: Any): Unit =
    KmvUtil.insert(set, k, KmvUtil.hash(v.asInstanceOf[UTF8String]))

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  override def merge(a: java.util.TreeSet[java.lang.Long],
      b: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = b.iterator()
    while (it.hasNext) KmvUtil.insert(a, k, it.next())
    a
  }

  override def serialize(set: java.util.TreeSet[java.lang.Long]): Array[Byte] =
    KmvUtil.serialize(k, set)

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] =
    KmvUtil.deserialize(bytes)._2

  override protected def input: Expression = key
  override protected def withOffsets(m: Int, i: Int): KmvAgg =
    copy(mutableAggBufferOffset = m, inputAggBufferOffset = i)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): KmvAgg =
    copy(key = c(0))
  override def prettyName: String = "kmv_sketch"
}

/** `kmv_estimate(sketch)` — distinct-count estimate. */
case class KmvEstimate(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"kmv_estimate expects BINARY, got ${child.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(s: Any): Any =
    KmvUtil.est(s.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.KmvUtil.est($s)")
  override protected def withNewChildInternal(c: Expression): KmvEstimate =
    copy(child = c)
  override def prettyName: String = "kmv_estimate"
}

private[functions] trait KmvBinaryEst extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType || right.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (BINARY, BINARY), got " +
          s"(${left.dataType.sql}, ${right.dataType.sql})")
    else TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
}

/** `kmv_union_est(a, b)` — |A ∪ B| estimate from two sketches. */
case class KmvUnionEst(left: Expression, right: Expression) extends KmvBinaryEst {
  override def nullSafeEval(a: Any, b: Any): Any =
    KmvUtil.unionEst(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.KmvUtil.unionEst($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): KmvUnionEst =
    copy(left = l, right = r)
  override def prettyName: String = "kmv_union_est"
}

/** `kmv_inter_est(a, b)` — |A ∩ B| estimate from two sketches. */
case class KmvInterEst(left: Expression, right: Expression) extends KmvBinaryEst {
  override def nullSafeEval(a: Any, b: Any): Any =
    KmvUtil.interEst(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.KmvUtil.interEst($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): KmvInterEst =
    copy(left = l, right = r)
  override def prettyName: String = "kmv_inter_est"
}

/** `kmv_diff_est(a, b)` — |A \ B| estimate from two sketches. */
case class KmvDiffEst(left: Expression, right: Expression) extends KmvBinaryEst {
  override def nullSafeEval(a: Any, b: Any): Any =
    KmvUtil.diffEst(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.KmvUtil.diffEst($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): KmvDiffEst =
    copy(left = l, right = r)
  override def prettyName: String = "kmv_diff_est"
}

object KmvAgg {
  def kmv_sketch(key: Column, k: Int): Column = KmvAgg(GraftAgg.expr(key), k).toColumn
  def kmv_estimate(sk: Column): Column =
    ExpressionUtils.column(KmvEstimate(ExpressionUtils.expression(sk)))
  def kmv_union_est(a: Column, b: Column): Column =
    ExpressionUtils.column(KmvUnionEst(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
  def kmv_inter_est(a: Column, b: Column): Column =
    ExpressionUtils.column(KmvInterEst(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
  def kmv_diff_est(a: Column, b: Column): Column =
    ExpressionUtils.column(KmvDiffEst(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}
