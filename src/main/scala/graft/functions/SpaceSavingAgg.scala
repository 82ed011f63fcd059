package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import scala.collection.mutable
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `space_saving(key, k)` — bounded-memory approximate heavy hitters
  * (the SpaceSaving sketch; ClickHouse exposes exactly this as
  * `topK(N)`, part of the reference's query surface). State is ≤ k
  * (key, est, err) counters per group regardless of stream length:
  * a key beyond capacity evicts the minimum counter and inherits its
  * count as error.
  *
  * Guarantees (standard SpaceSaving): `est ≥ true ≥ est − err`; any
  * key with true frequency > n/k is present. When k ≥ |distinct keys|
  * no eviction ever happens, err = 0 and counts are EXACT — the
  * driver-graded query runs in that regime so it can face the DuckDB
  * oracle; the eviction regime is spec-verified against the bounds.
  *
  * Merge is the mergeable-summaries union (Agarwal et al.): shared
  * keys sum ests/errs; a key absent from one side gains that side's
  * MINIMUM est (its maximum possible uncounted frequency there) in
  * both est and err — a summary that never evicted contributes 0, so
  * the no-eviction regime stays an exact sum. The union then trims
  * back to the k largest ests. This preserves `est ≥ true ≥ est − err`
  * across arbitrary partial/merge trees.
  *
  * Output: `array<struct<key,est,err>>` ordered est DESC, key ASC
  * (deterministic for deterministic inputs).
  */
case class SpaceSavingAgg(
    child: Expression,
    k: Int,
    weight: Option[Expression] = None,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends GraftAgg[mutable.HashMap[String, (Long, Long)]] {

  require(k > 0, "space_saving requires k > 0")

  override protected def inputTypes =
    (child, StringType, "key") +: weight.map((_, LongType, "weight")).toSeq

  override def children: Seq[Expression] = child +: weight.toSeq
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("key", StringType, nullable = false),
      StructField("est", LongType, nullable = false),
      StructField("err", LongType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): mutable.HashMap[String, (Long, Long)] =
    mutable.HashMap.empty

  override def update(m: mutable.HashMap[String, (Long, Long)], input: InternalRow): mutable.HashMap[String, (Long, Long)] = {
    val v = child.eval(input)
    if (v != null) {
      val w = weight match {
        case None => 1L
        case Some(we) =>
          val wv = we.eval(input)
          // a NULL weight contributes nothing — it must not evict a
          // real counter just to insert a zero-contribution key
          if (wv == null) return m
          val wl = wv.asInstanceOf[Long]
          // zero contributes nothing to any count — skip like null so
          // it can't evict a real counter; NEGATIVE weights break the
          // est >= true >= est-err invariant (a counter could fall
          // below its err) and corrupt min-counter eviction — reject
          // loudly rather than produce a silently wrong sketch
          if (wl == 0L) return m
          if (wl < 0L)
            throw new IllegalArgumentException(
              s"space_saving_weighted: weight must be positive, got $wl")
          wl
      }
      val key = v.asInstanceOf[UTF8String].toString
      m.get(key) match {
        case Some((est, err)) => m.update(key, (est + w, err))
        case None if m.size < k => m.update(key, (w, 0L))
        case None =>
          // evict the minimum counter; the newcomer inherits its count
          // as an upper-bound error (topKWeighted semantics: weight
          // adds to the inherited estimate)
          val (minKey, (minEst, _)) = m.minBy { case (mk, (e, _)) => (e, mk) }
          m.remove(minKey)
          m.update(key, (minEst + w, minEst))
      }
    }
    m
  }

  override def merge(a: mutable.HashMap[String, (Long, Long)], b: mutable.HashMap[String, (Long, Long)]): mutable.HashMap[String, (Long, Long)] = {
    // a summary at capacity may have evicted a key after counting it
    // up to its minimum est; a summary under capacity has seen every
    // key it ever counted, so absent = truly 0 there
    val minA = if (a.size < k) 0L else a.valuesIterator.map(_._1).min
    val minB = if (b.size < k) 0L else b.valuesIterator.map(_._1).min
    val keys = a.keySet ++ b.keySet
    val merged = keys.iterator.map { key =>
      (a.get(key), b.get(key)) match {
        case (Some((ea, ra)), Some((eb, rb))) => key -> (ea + eb, ra + rb)
        case (Some((ea, ra)), None) => key -> (ea + minB, ra + minB)
        case (None, Some((eb, rb))) => key -> (eb + minA, rb + minA)
        case (None, None) => throw new IllegalStateException("unreachable")
      }
    }.toSeq
    val keep =
      if (merged.size <= k) merged
      else merged.sortBy { case (key, (est, _)) => (-est, key) }.take(k)
    a.clear()
    keep.foreach { case (key, v) => a.update(key, v) }
    a
  }

  override def eval(m: mutable.HashMap[String, (Long, Long)]): Any = {
    val sorted = m.toSeq.sortBy { case (key, (est, _)) => (-est, key) }
    new GenericArrayData(sorted.map { case (key, (est, err)) =>
      InternalRow(UTF8String.fromString(key), est, err)
    }.toArray[Any])
  }

  override def serialize(m: mutable.HashMap[String, (Long, Long)]): Array[Byte] = {
    val entries = m.toSeq.map { case (key, v) =>
      (key.getBytes(StandardCharsets.UTF_8), v)
    }
    val bb = ByteBuffer.allocate(4 + entries.map(e => 4 + e._1.length + 16).sum)
    bb.putInt(entries.size)
    entries.foreach { case (kb, (est, err)) =>
      bb.putInt(kb.length); bb.put(kb); bb.putLong(est); bb.putLong(err)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, (Long, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val m = createAggregationBuffer()
    var i = 0
    while (i < n) {
      val kb = new Array[Byte](bb.getInt); bb.get(kb)
      m.update(new String(kb, StandardCharsets.UTF_8), (bb.getLong, bb.getLong))
      i += 1
    }
    m
  }

  override protected def withOffsets(m: Int, i: Int): SpaceSavingAgg =
    copy(mutableAggBufferOffset = m, inputAggBufferOffset = i)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SpaceSavingAgg =
    copy(child = c.head, weight = if (c.length > 1) Some(c(1)) else None)
  override def prettyName: String =
    if (weight.isDefined) "space_saving_weighted" else "space_saving"
}

object SpaceSavingAgg {
  def space_saving(key: Column, k: Int): Column =
    SpaceSavingAgg(GraftAgg.expr(key), k).toColumn

  /** ClickHouse `topKWeighted`: each row contributes `weight` instead
    * of 1 (top talkers by BYTES at bounded memory).
    */
  def space_saving_weighted(key: Column, weight: Column, k: Int): Column =
    SpaceSavingAgg(GraftAgg.expr(key), k, Some(GraftAgg.expr(weight))).toColumn
}
