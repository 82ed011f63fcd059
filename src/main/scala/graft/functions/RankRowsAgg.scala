package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Tie-expanded top-k FULL ROWS per group under `rank()` /
  * `dense_rank()` semantics — the aggregate behind
  * [[graft.plans.RewriteRankLimit]]'s extension beyond `row_number`.
  *
  * A k-bounded heap ([[TopKRowsAgg]]) is wrong for rank-like
  * functions: `rank() <= k` may legitimately emit MORE than k rows
  * (every row tied at the boundary qualifies), so eviction must be
  * by KEY GROUP, never by single row. State is a best-first ordered
  * map of sort-key → rows:
  *
  *  - `dense = false` (rank): a key group survives while fewer than
  *    k rows sort strictly before it, i.e. evict the worst group
  *    whenever `total - worstGroupSize >= k`.
  *  - `dense = true` (dense_rank): a key group survives while fewer
  *    than k DISTINCT keys sort before it, i.e. evict the worst
  *    group whenever the map holds more than k keys.
  *
  * State is O(k + ties-at-the-boundary) rows per group — exactly the
  * output the semantics require, which is also its lower bound. It
  * merges map-side like every other graft sketch, so the shuffle
  * carries one pruned group-map per (partition, group) where the
  * window form shuffles and full-sorts every row of every group.
  *
  * The boundary-tie term is input-dependent and therefore UNBOUNDED
  * in the worst case (a million rows tied on the sort key all
  * legitimately rank ≤ k) — and unlike the Window plan this replaces,
  * an aggregation buffer cannot spill. `maxRows` is the fail-loud
  * guard: once a group's RETAINED state exceeds it, the aggregate
  * throws with guidance instead of concentrating the group into one
  * executor OOM / 2 GB serialization overflow. Wrong results are
  * never produced — the cap converts a silent memory blowup into the
  * graft converge-or-throw contract (same policy as the cluster
  * closure's iteration backstop).
  *
  * Output is `array<struct<rnk int, row struct<...>>>` in rank
  * order; the rewrite explodes it and projects the payload columns +
  * `rnk` back under the window's original exprIds. Row order WITHIN
  * a tied group is partition-arrival order (nondeterministic), but
  * every row of the group carries the same `rnk`, so the rewritten
  * query is set-identical to the window form.
  */
case class RankRowsAgg(
    k: Int,
    dense: Boolean,
    orderKeys: Seq[Expression],
    ascending: Seq[Boolean],
    nullsFirst: Seq[Boolean],
    payload: Expression,
    maxRows: Int = RankRowsAgg.DefaultMaxRows,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends GraftAgg[KeyGroups] with SortedRows[KeyGroups] {

  require(k > 0, "rankk_rows requires k > 0")
  require(maxRows >= k, "rankk_rows maxRows must be >= k")

  override def children: Seq[Expression] = orderKeys :+ payload
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("rnk", IntegerType, nullable = false),
      StructField("row", payloadType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): KeyGroups = new KeyGroups(keyOrder, k)

  /** Insert a full row, then restore the eviction invariant (worst
    * group first; eviction only ever shrinks state, so one backwards
    * sweep suffices). A key strictly worse than the current worst
    * retained key only enters if the invariant still admits a NEW
    * worst group.
    */
  private def insert(buf: KeyGroups, row: UnsafeRow): Unit = {
    if (!buf.insert(row, full = if (dense) buf.map.size >= k else buf.total >= k)) return
    def overfull =
      if (dense) buf.map.size > k else buf.map.size > 1 && buf.total - buf.lastGroupSize >= k
    while (overfull) buf.dropLastGroup()
    // post-eviction: what's left is rows the semantics force us to
    // keep — if that still exceeds the cap, fail loud before the
    // buffer becomes an executor OOM (aggregation state can't spill)
    if (buf.total > maxRows) {
      throw new IllegalStateException(
        s"$prettyName: a single group retains ${buf.total} rows (> maxRows=$maxRows) " +
          "because of sort-key ties at the rank boundary. The rewritten heap cannot " +
          "spill like the Window plan it replaced — raise " +
          "spark.graft.rankLimitRewrite.maxTieRows, or disable the rewrite " +
          "(spark.graft.rankLimitRewrite=false) for this query.")
    }
  }

  override def update(buf: KeyGroups, input: InternalRow): KeyGroups = {
    insert(buf, proj(input))
    buf
  }

  override def merge(a: KeyGroups, b: KeyGroups): KeyGroups = {
    b.foreachRow(insert(a, _))
    a
  }

  override def eval(buf: KeyGroups): Any = {
    val out = new scala.collection.mutable.ArrayBuffer[Any](buf.total)
    var cum = 0
    var keyIdx = 0
    buf.map.values().forEach { rows =>
      val rnk = if (dense) keyIdx + 1 else cum + 1
      if (rnk <= k) rows.forEach(r => out += InternalRow(rnk, payloadOf(r)))
      cum += rows.size
      keyIdx += 1
    }
    new GenericArrayData(out.toArray)
  }

  override def serialize(buf: KeyGroups): Array[Byte] = buf.serialize(rowCodec)
  override def deserialize(bytes: Array[Byte]): KeyGroups =
    KeyGroups.deserialize(bytes, keyOrder, rowCodec)

  override protected def withOffsets(m: Int, i: Int): RankRowsAgg =
    copy(mutableAggBufferOffset = m, inputAggBufferOffset = i)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): RankRowsAgg =
    copy(orderKeys = newChildren.dropRight(1), payload = newChildren.last)

  override def prettyName: String = if (dense) "densek_rows" else "rankk_rows"
}

object RankRowsAgg {
  /** Default fail-loud cap on retained rows per group (k + boundary
    * ties) — see the class doc. ~1M rows of modest width is
    * hundreds of MB of buffer: past any sane tie population, well
    * before the 2 GB serialization wall.
    */
  val DefaultMaxRows: Int = 1 << 20
}
