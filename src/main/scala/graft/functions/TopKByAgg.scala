package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

/** `topk_by(score, id, k)` — exact top-k (score, id) pairs per group,
  * ordered score DESC then id ASC, as `array<struct<id,score>>`.
  *
  * The ANN ranking shape: a window `row_number() OVER (PARTITION BY
  * probe_id ORDER BY score)` shuffles EVERY scored candidate row to
  * one reducer per probe and full-sorts it — with 10 probes that is
  * ≤10 reducers holding n×10 rows at corpus scale. This aggregate
  * keeps O(k) state per group, partial-aggregates map-side (heaps
  * merge), so the shuffle carries ≤ k rows per (partition, group)
  * regardless of corpus size.
  */
case class TopKByAgg(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends HeapAgg[(Double, Long)] {

  require(k > 0, "topk_by requires k > 0")

  override protected def inputTypes =
    Seq((score, DoubleType, "score"), (id, LongType, "id"))
  override def children: Seq[Expression] = Seq(score, id)
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
    containsNull = false)

  override protected def worstFirst: java.util.Comparator[(Double, Long)] = TopKByAgg.worstFirst
  override protected def codec: Codec[(Double, Long)] = TopKByAgg.pairs
  override protected def initialK: Int = k

  override def update(heap: BoundedHeap[(Double, Long)], input: InternalRow): BoundedHeap[(Double, Long)] = {
    val s = score.eval(input); val i = id.eval(input)
    if (s != null && i != null) heap.offer((s.asInstanceOf[Double], i.asInstanceOf[Long]))
    heap
  }

  override def eval(heap: BoundedHeap[(Double, Long)]): Any =
    heap.bestFirst { case (s, d) => InternalRow(d, s) }

  override protected def withOffsets(m: Int, i: Int): TopKByAgg =
    copy(mutableAggBufferOffset = m, inputAggBufferOffset = i)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TopKByAgg =
    copy(score = c(0), id = c(1))
  override def prettyName: String = "topk_by"
}

object TopKByAgg {
  /** Worst-first ordering: lower score is worse; equal score → larger
    * id is worse (keeps the smallest ids on ties, matching
    * `ORDER BY score DESC, id ASC` + LIMIT k). An explicit
    * Serializable class — a SAM lambda is not serializable and the
    * comparator ships inside the aggregation buffer's PriorityQueue.
    */
  private[functions] object worstFirst
      extends java.util.Comparator[(Double, Long)] with Serializable {
    override def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(a._1, b._1)
      if (c != 0) c else java.lang.Long.compare(b._2, a._2)
    }
  }

  private val pairs: Codec[(Double, Long)] = new Codec[(Double, Long)] {
    def size(e: (Double, Long)): Int = 16
    def put(bb: ByteBuffer, e: (Double, Long)): Unit = { bb.putDouble(e._1).putLong(e._2); () }
    def get(bb: ByteBuffer): (Double, Long) = (bb.getDouble, bb.getLong)
  }

  def topk_by(score: Column, id: Column, k: Int): Column =
    TopKByAgg(GraftAgg.expr(score), GraftAgg.expr(id), k).toColumn
}
