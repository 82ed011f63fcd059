package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** `topk_agg(x, k)` — exact top-k values per group as a descending
  * array, held in a bounded k-element min-heap
  * (`TypedImperativeAggregate`, SURVEY §3).
  *
  * The scale point of a custom imperative aggregate over
  * `sort + limit per group`: state is O(k) per group regardless of
  * group size, it partial-aggregates (heaps merge), so a billion-row
  * group costs one pass and k·8 bytes of shuffle — where a window
  * row_number() would sort every group's full extent.
  */
case class TopKAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends HeapAgg[Double] {

  require(k > 0, "topk_agg requires k > 0")

  override protected def inputTypes = Seq((child, DoubleType, "column"))
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  // smaller is worse: Double.compare, the order Spark sorts doubles in
  override protected def worstFirst: Ordering[Double] = Ordering.Double.TotalOrdering
  override protected def codec: Codec[Double] = TopKAgg.doubles
  override protected def initialK: Int = k

  override def update(heap: BoundedHeap[Double], input: InternalRow): BoundedHeap[Double] = {
    val v = child.eval(input)
    if (v != null) heap.offer(v.asInstanceOf[Double])
    heap
  }

  override def eval(heap: BoundedHeap[Double]): Any = heap.bestFirst(identity)

  override protected def withOffsets(m: Int, i: Int): TopKAgg =
    copy(mutableAggBufferOffset = m, inputAggBufferOffset = i)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(child = newChildren.head)
  override def prettyName: String = "topk_agg"
}

object TopKAgg {
  private val doubles: Codec[Double] = new Codec[Double] {
    def size(d: Double): Int = 8
    def put(bb: ByteBuffer, d: Double): Unit = { bb.putDouble(d); () }
    def get(bb: ByteBuffer): Double = bb.getDouble
  }

  def topk_agg(c: Column, k: Int): Column = TopKAgg(GraftAgg.expr(c), k).toColumn
}
