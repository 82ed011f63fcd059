package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.{Bridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared Bloom kernels — static-reachable so generated code calls
  * them directly (the VecUtil/GramUtil pattern).
  *
  * Bit positions are md5-derived, matching what a SQL oracle can
  * replay exactly: position i of key s = first 15 hex digits of
  * md5("i:" + s) parsed base-16, mod m. 15 hex digits = 60 bits, so
  * the parse never overflows a signed long and the mod is positive.
  * Derandomized hashing makes the filter — INCLUDING its false
  * positives — a pure function of the key set, so membership output
  * is deterministic and fully oracle-checkable, not a rows-only sketch.
  */
object BloomUtil {

  /** Serialized layout: [int m][int k][m/64 longs]. The header rides
    * inside the value so `bloom_contains` needs no out-of-band params
    * and merging can sanity-check shape compatibility.
    */
  def headerBytes: Int = 8

  private def md5(bytes: Array[Byte]): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)

  /** The i-th bit position of `key` (UTF-8 string), in [0, m). */
  def position(key: UTF8String, i: Int, m: Int): Int = {
    val hex = md5((i + ":" + key.toString).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex.substring(0, 15), 16) % m).toInt
  }

  def add(words: Array[Long], key: UTF8String, m: Int, k: Int): Unit = {
    var i = 0
    while (i < k) {
      val p = position(key, i, m)
      words(p >>> 6) |= (1L << (p & 63))
      i += 1
    }
  }

  /** Membership test against a serialized filter (header + words). */
  def contains(filter: Array[Byte], key: UTF8String): Boolean = {
    val bb = ByteBuffer.wrap(filter)
    val m = bb.getInt; val k = bb.getInt
    var i = 0
    while (i < k) {
      val p = position(key, i, m)
      val word = bb.getLong(headerBytes + (p >>> 6) * 8)
      if ((word & (1L << (p & 63))) == 0L) return false
      i += 1
    }
    true
  }
}

/** `bloom_agg(key, m, k)` — build an m-bit Bloom filter with k
  * md5-derived hash functions over a group's string keys, emitted as
  * BINARY ([m][k][bitset]).
  *
  * The 100 TB incremental-dedup shape: the already-ingested corpus is
  * summarized ONCE into a fixed m-bit array (map-side partial filters
  * OR-merge, so the shuffle carries one bitset per partition — not the
  * key set), and every incoming batch probes the broadcast filter
  * map-only. Shipping the exact key set instead grows with the corpus;
  * the filter's size is chosen once from the target FP rate and never
  * grows.
  */
case class BloomAgg(
    key: Expression,
    mBits: Int,
    kHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends ArraySketchAgg[Array[Long]] {

  require(mBits > 0 && mBits % 64 == 0, "bloom_agg requires m > 0, multiple of 64")
  require(kHashes > 0, "bloom_agg requires k > 0")

  override protected def inputTypes = Seq((key, StringType, "key"))
  override protected def cells: Cells[Array[Long]] = Cells.Or
  override protected def length: Int = mBits / 64
  override protected def header: Seq[Int] = Seq(mBits, kHashes)
  override protected def add(words: Array[Long], k: Any): Unit =
    BloomUtil.add(words, k.asInstanceOf[UTF8String], mBits, kHashes)

  override protected def input: Expression = key
  override protected def withOffsets(m: Int, i: Int): BloomAgg =
    copy(mutableAggBufferOffset = m, inputAggBufferOffset = i)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BloomAgg =
    copy(key = c(0))
  override def prettyName: String = "bloom_agg"
}

/** `bloom_contains(filter, key)` — membership probe against a
  * [[BloomAgg]]-built filter; codegen'd static kernel call.
  */
case class BloomContains(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_contains expects BINARY filter, got ${left.dataType.sql}")
    else if (right.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_contains expects STRING key, got ${right.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(f: Any, k: Any): Any =
    BloomUtil.contains(f.asInstanceOf[Array[Byte]], k.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (f, k) => s"graft.functions.BloomUtil.contains($f, $k)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): BloomContains =
    copy(left = l, right = r)
  override def prettyName: String = "bloom_contains"
}

object BloomAgg {
  def bloom_agg(key: Column, m: Int, k: Int): Column =
    BloomAgg(GraftAgg.expr(key), m, k).toColumn

  def bloom_contains(filter: Column, key: Column): Column =
    ExpressionUtils.column(BloomContains(
      ExpressionUtils.expression(filter), ExpressionUtils.expression(key)))
}
