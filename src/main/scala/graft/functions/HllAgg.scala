package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.{Bridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** HyperLogLog kernels (static-reachable, the CmsUtil pattern).
  *
  * The derandomized-HLL trick that upgrades approx-distinct from a
  * rows-only check to a hash-verified query: keys hash through
  * [[HashUtil.md5Prefix]] (60 bits), register index = h mod m, and
  * ρ = leading-zero rank of the remaining 51-bit word — every piece
  * is md5-pure, so a SQL oracle rebuilds the registers exactly, and
  * the estimator below fixes the floating-point evaluation ORDER
  * (register-order sum of exact powers of two, explicit left-assoc
  * alpha expression) so even the bias-corrected double matches
  * bit-for-bit before rounding. Layout: [int m][m register bytes].
  */
object HllUtil {

  def headerBytes: Int = 4

  /** Update one register set in place. */
  def add(regs: Array[Byte], key: UTF8String, m: Int): Unit = {
    val h = HashUtil.md5Prefix(key, 15) // 60 bits
    val b = (h % m).toInt
    val w = h / m // up to 51 bits for m = 512
    val wBits = 60 - Integer.numberOfTrailingZeros(m) // hash bits left after indexing
    val rho = if (w == 0L) wBits + 1 else wBits + 1 - (64 - java.lang.Long.numberOfLeadingZeros(w))
    if (rho > regs(b)) regs(b) = rho.toByte
  }

  /** The HLL estimate of a serialized register set: raw
    * αₘ·m²/Σ2^(−M[j]) with the small-range linear-counting branch.
    * Every double op is in a FIXED order (serial register-order sum,
    * 2^−M as exact 1/(1L<<M), left-assoc alpha chain) — the oracle
    * writes the identical chain, so the value matches before any
    * rounding.
    */
  def estimate(sketch: Array[Byte], p: Int): Double = {
    val bb = ByteBuffer.wrap(sketch)
    val m = bb.getInt
    var s = 0.0
    var zeros = 0
    var j = 0
    while (j < m) {
      val r = bb.get(headerBytes + j).toInt
      s += 1.0 / (1L << r)
      if (r == 0) zeros += 1
      j += 1
    }
    val alpha = 0.7213 / (1 + 1.079 / m)
    val raw = alpha * m * m / s
    if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
    else raw
  }
}

/** `hll_sketch(key, p)` — HyperLogLog with m = 2^p registers as a
  * mergeable TypedImperativeAggregate (BINARY output; merge =
  * elementwise max, so partials combine map-side and the shuffle
  * carries one m-byte register block per partition per group — the
  * constant-memory distinct-count shape at any cardinality).
  */
case class HllAgg(
    key: Expression,
    p: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends ArraySketchAgg[Array[Byte]] {

  require(p >= 4 && p <= 16, "hll_sketch requires 4 <= p <= 16")

  override protected def inputTypes = Seq((key, StringType, "key"))
  override protected def cells: Cells[Array[Byte]] = Cells.Max
  override protected def length: Int = 1 << p
  override protected def header: Seq[Int] = Seq(length)
  override protected def add(regs: Array[Byte], k: Any): Unit =
    HllUtil.add(regs, k.asInstanceOf[UTF8String], length)

  override protected def input: Expression = key
  override protected def withOffsets(m: Int, i: Int): HllAgg =
    copy(mutableAggBufferOffset = m, inputAggBufferOffset = i)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): HllAgg =
    copy(key = c(0))
  override def prettyName: String = "hll_sketch"
}

/** `hll_merge(sketch, p)` — merges PRE-BUILT [[HllAgg]] register
  * blocks (elementwise max). This is the re-aggregation half of the
  * sketch contract: hourly sketches roll up into daily / sliding /
  * all-time windows without touching raw data again — at 100 TB the
  * raw scan happens once, and every coarser panel is a merge over
  * (groups × m bytes), not a re-count. (Not `hll_union`: that name
  * is Spark's built-in over its own `hll_sketch_agg` sketches.)
  */
case class HllMergeAgg(
    child: Expression,
    p: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends ArraySketchAgg[Array[Byte]] {

  require(p >= 4 && p <= 16, "hll_merge requires 4 <= p <= 16")

  override protected def inputTypes = Seq((child, BinaryType, "sketch"))
  override protected def cells: Cells[Array[Byte]] = Cells.Max
  override protected def length: Int = 1 << p
  override protected def header: Seq[Int] = Seq(length)
  override protected def add(regs: Array[Byte], sketch: Any): Unit = {
    val bytes = sketch.asInstanceOf[Array[Byte]]
    require(bytes.length == HllUtil.headerBytes + length,
      s"hll_merge: sketch built with a different p (got ${bytes.length} bytes, want ${HllUtil.headerBytes + length})")
    cells.mergeInto(regs, deserialize(bytes))
  }

  override protected def input: Expression = child
  override protected def withOffsets(m: Int, i: Int): HllMergeAgg =
    copy(mutableAggBufferOffset = m, inputAggBufferOffset = i)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): HllMergeAgg =
    copy(child = c(0))
  override def prettyName: String = "hll_merge"
}

/** `hll_estimate(sketch, p)` — cardinality estimate of an
  * [[HllAgg]]-built register set; codegen'd.
  */
case class HllEstimate(child: Expression, p: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"hll_estimate expects BINARY sketch, got ${child.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(s: Any): Any =
    HllUtil.estimate(s.asInstanceOf[Array[Byte]], p)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.HllUtil.estimate($s, $p)")
  override protected def withNewChildInternal(c: Expression): HllEstimate = copy(child = c)
  override def prettyName: String = "hll_estimate"
}

object HllAgg {
  def hll_sketch(key: Column, p: Int): Column = HllAgg(GraftAgg.expr(key), p).toColumn

  def hll_merge(sketch: Column, p: Int): Column = HllMergeAgg(GraftAgg.expr(sketch), p).toColumn

  def hll_estimate(sketch: Column, p: Int): Column =
    ExpressionUtils.column(HllEstimate(ExpressionUtils.expression(sketch), p))
}
