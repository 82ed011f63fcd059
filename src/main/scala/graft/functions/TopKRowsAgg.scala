package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.types.{ArrayType, DataType}

/** Bounded-heap top-k FULL ROWS per group, ordered by an arbitrary
  * multi-column sort spec — the aggregate behind
  * [[graft.plans.RewriteRankLimit]]'s automatic
  * `row_number() <= k` → heap rewrite.
  *
  * [[TopKByAgg]] is the hand-written special case (score DESC, id
  * ASC over two columns); this one carries the window's exact
  * `Seq[SortOrder]` semantics (any orderable types, per-key
  * direction and null ordering) and a whole-row payload struct, so a
  * REWRITTEN query is output-identical to the window it replaces.
  * State is O(k) rows per group and merges map-side, so the shuffle
  * carries ≤ k rows per (partition, group) where the window form
  * shuffles and full-sorts every row of every group.
  *
  * `children` = the sort-key expressions followed by the payload
  * struct; `ascending`/`nullsFirst` carry the per-key sort spec
  * (kept as primitives so the case-class stays trivially
  * serializable).
  */
case class TopKRowsAgg(
    k: Int,
    orderKeys: Seq[Expression],
    ascending: Seq[Boolean],
    nullsFirst: Seq[Boolean],
    payload: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends HeapAgg[UnsafeRow] with SortedRows[BoundedHeap[UnsafeRow]] {

  require(k > 0, "topk_rows requires k > 0")

  override def children: Seq[Expression] = orderKeys :+ payload
  override def dataType: DataType = ArrayType(payloadType, containsNull = false)

  /** WORST stored row at the head (reverse of the sort order). */
  @transient override protected lazy val worstFirst: Ordering[UnsafeRow] = keyOrder.reverse
  override protected def codec: Codec[UnsafeRow] = rowCodec
  override protected def initialK: Int = k

  override def update(heap: BoundedHeap[UnsafeRow], input: InternalRow): BoundedHeap[UnsafeRow] = {
    val row = proj(input)
    if (heap.keeps(row)) heap.push(row.copy()) // proj reuses its row
    heap
  }

  override def eval(heap: BoundedHeap[UnsafeRow]): Any = heap.bestFirst(payloadOf)

  override protected def withOffsets(m: Int, i: Int): TopKRowsAgg =
    copy(mutableAggBufferOffset = m, inputAggBufferOffset = i)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopKRowsAgg =
    copy(orderKeys = newChildren.dropRight(1), payload = newChildren.last)

  override def prettyName: String = "topk_rows"
}
