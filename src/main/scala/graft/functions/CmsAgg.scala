package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.{Bridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch kernels (static-reachable for codegen, the
  * BloomUtil pattern). Row hashes are md5-derived — bucket of key s in
  * row i = first 15 hex digits of md5("i:" + s) base-16, mod width —
  * so the whole sketch, collisions included, is a pure function of
  * the input multiset and a SQL oracle can rebuild the exact counters
  * and estimates. Layout: [int depth][int width][d*w longs], row-major.
  */
object CmsUtil {

  def headerBytes: Int = 8

  def bucket(key: UTF8String, row: Int, width: Int): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest((row + ":" + key.toString).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex.substring(0, 15), 16) % width).toInt
  }

  def add(counters: Array[Long], key: UTF8String, depth: Int, width: Int,
      count: Long): Unit = {
    var i = 0
    while (i < depth) {
      counters(i * width + bucket(key, i, width)) += count
      i += 1
    }
  }

  /** Point estimate from a serialized sketch: min over rows. The CMS
    * contract: est >= true count always (counters only ever add), and
    * est <= true + eps*N with prob 1-delta for w = ceil(e/eps),
    * d = ceil(ln 1/delta).
    */
  def estimate(sketch: Array[Byte], key: UTF8String): Long = {
    val bb = ByteBuffer.wrap(sketch)
    val depth = bb.getInt; val width = bb.getInt
    var est = Long.MaxValue
    var i = 0
    while (i < depth) {
      val c = bb.getLong(headerBytes + (i * width + bucket(key, i, width)) * 8)
      if (c < est) est = c
      i += 1
    }
    est
  }
}

/** `cms_sketch(key, d, w)` — Count-Min sketch over a group's string
  * keys as a mergeable d×w counter array (BINARY output).
  *
  * The frequency-sketch complement to SpaceSaving (B11): SpaceSaving
  * answers "which keys are frequent", CMS answers "how frequent is
  * THIS key" for any key, in O(d·w) memory independent of the key
  * cardinality. Partials merge by elementwise add, so the build is
  * one combine-heavy pass and the shuffle carries one fixed-size
  * counter block per partition — at 100 TB the exact per-key count
  * table this replaces is itself a corpus-scale shuffle.
  */
case class CmsAgg(
    key: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends ArraySketchAgg[Array[Long]] {

  require(depth > 0 && width > 0, "cms_sketch requires depth > 0 and width > 0")

  override protected def inputTypes = Seq((key, StringType, "key"))
  override protected def cells: Cells[Array[Long]] = Cells.Add
  override protected def length: Int = depth * width
  override protected def header: Seq[Int] = Seq(depth, width)
  override protected def add(counters: Array[Long], k: Any): Unit =
    CmsUtil.add(counters, k.asInstanceOf[UTF8String], depth, width, 1L)

  override protected def input: Expression = key
  override protected def withOffsets(m: Int, i: Int): CmsAgg =
    copy(mutableAggBufferOffset = m, inputAggBufferOffset = i)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CmsAgg =
    copy(key = c(0))
  override def prettyName: String = "cms_sketch"
}

/** `cms_query(sketch, key)` — point frequency estimate (min over
  * rows) against a [[CmsAgg]]-built sketch; codegen'd.
  */
case class CmsQuery(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"cms_query expects BINARY sketch, got ${left.dataType.sql}")
    else if (right.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"cms_query expects STRING key, got ${right.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(s: Any, k: Any): Any =
    CmsUtil.estimate(s.asInstanceOf[Array[Byte]], k.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, k) => s"graft.functions.CmsUtil.estimate($s, $k)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CmsQuery =
    copy(left = l, right = r)
  override def prettyName: String = "cms_query"
}

object CmsAgg {
  def cms_sketch(key: Column, depth: Int, width: Int): Column =
    CmsAgg(GraftAgg.expr(key), depth, width).toColumn

  def cms_query(sketch: Column, key: Column): Column =
    ExpressionUtils.column(CmsQuery(
      ExpressionUtils.expression(sketch), ExpressionUtils.expression(key)))
}
