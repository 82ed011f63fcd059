package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Variable-k top-prefix FULL-ROWS heap — the aggregate behind the
  * `percent_rank()/ntile()` prefix rewrite
  * ([[graft.plans.RewriteRankLimit]]).
  *
  * `percent_rank() <= p` / `ntile(t) <= q` bound the kept prefix by a
  * FRACTION of the group, so the cutoff depends on the group's total
  * row count — unknowable during a single-pass fold, and provably not
  * safely evictable (a future merge only ever RAISES the row-count
  * threshold, so any evicted row might become eligible). The sound
  * shape is two aggregations: a per-group `count(1)` joined back onto
  * the rows, and THIS heap, which reads its per-group k from that
  * joined column (`kExpr`, constant within a group by construction)
  * instead of a literal. State and shuffle stay O(k_g + boundary
  * ties) per group — the fraction the query keeps — where the Window
  * plan shuffles and full-sorts every row of every group.
  *
  * `rankSemantics = true` gives `rank()` tie-group semantics
  * (percent_rank's base; boundary tie groups kept whole);
  * `false` gives `row_number()` arrival-order semantics (ntile's
  * base; ties broken nondeterministically, exactly as the Window
  * form's partition-dependent pick).
  *
  * A group whose k exceeds `maxRows` fails LOUD with guidance
  * (aggregation buffers cannot spill; a prefix that large means the
  * Window sort was the right plan) — the graft never-wrong,
  * converge-or-throw contract, same as [[RankRowsAgg]].
  */
case class PrefixRowsAgg(
    rankSemantics: Boolean,
    orderKeys: Seq[Expression],
    ascending: Seq[Boolean],
    nullsFirst: Seq[Boolean],
    kExpr: Expression,
    payload: Expression,
    maxRows: Int = RankRowsAgg.DefaultMaxRows,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends GraftAgg[KeyGroups] with SortedRows[KeyGroups] {

  override protected def inputTypes = Seq((kExpr, LongType, "k column"))
  override def children: Seq[Expression] = (orderKeys :+ kExpr) :+ payload
  // rnk: rank()/row_number() value; pend: the row's tie-group END
  // position (== rnk under row_number semantics) — cume_dist's
  // numerator, free to emit from the same fold
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("rnk", LongType, nullable = false),
      StructField("pend", LongType, nullable = false),
      StructField("row", payloadType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): KeyGroups = new KeyGroups(keyOrder, -1)

  private def setK(buf: KeyGroups, kLong: Long): Unit = {
    if (kLong > maxRows)
      throw new IllegalStateException(
        s"$prettyName: a group's prefix needs $kLong rows (> maxRows=$maxRows). " +
          "The rewritten heap cannot spill like the Window plan it replaced — " +
          "a prefix this large means the Window sort is the right plan: disable " +
          "the rewrite (spark.graft.rankLimitRewrite=false) for this query, or " +
          "raise spark.graft.rankLimitRewrite.maxTieRows.")
    buf.k = math.max(kLong, 0L).toInt
  }

  private def evict(buf: KeyGroups): Unit = {
    if (rankSemantics) {
      // rank(): a boundary tie GROUP is kept whole while fewer than k
      // rows sort strictly before it
      while (buf.map.size > 1 && buf.total - buf.lastGroupSize >= buf.k) buf.dropLastGroup()
    } else {
      // row_number(): evict single worst rows down to k
      while (buf.total > buf.k && !buf.map.isEmpty) buf.dropLastRow()
    }
    if (buf.total > maxRows)
      throw new IllegalStateException(
        s"$prettyName: a single group retains ${buf.total} rows (> maxRows=$maxRows) " +
          "from sort-key ties at the prefix boundary — raise " +
          "spark.graft.rankLimitRewrite.maxTieRows or disable the rewrite " +
          "(spark.graft.rankLimitRewrite=false).")
  }

  /** A key strictly worse than the worst retained one is dropped once
    * the prefix is full.
    */
  private def insert(buf: KeyGroups, row: UnsafeRow): Unit = {
    if (buf.k < 0) setK(buf, row.getLong(orderKeys.length))
    if (buf.k > 0 && buf.insert(row, full = buf.total >= buf.k)) evict(buf)
  }

  override def update(buf: KeyGroups, input: InternalRow): KeyGroups = {
    insert(buf, proj(input))
    buf
  }

  override def merge(a: KeyGroups, b: KeyGroups): KeyGroups = {
    if (a.k < 0) a.k = b.k
    b.foreachRow(insert(a, _))
    a
  }

  override def eval(buf: KeyGroups): Any = {
    val out = new scala.collection.mutable.ArrayBuffer[Any](buf.total)
    var cum = 0L
    buf.map.values().forEach { rows =>
      var i = 0
      while (i < rows.size) {
        // rank(): every row of a tie group shares the group rank;
        // row_number(): arrival position. Eviction may retain one
        // boundary group past k (rank mode) — trimmed here.
        val rnk = if (rankSemantics) cum + 1 else cum + i + 1
        val pend = if (rankSemantics) cum + rows.size else cum + i + 1
        if (rnk <= buf.k) out += InternalRow(rnk, pend, payloadOf(rows.get(i)))
        i += 1
      }
      cum += rows.size
    }
    new GenericArrayData(out.toArray)
  }

  override def serialize(buf: KeyGroups): Array[Byte] = buf.serialize(rowCodec)
  override def deserialize(bytes: Array[Byte]): KeyGroups =
    KeyGroups.deserialize(bytes, keyOrder, rowCodec)

  override protected def withOffsets(m: Int, i: Int): PrefixRowsAgg =
    copy(mutableAggBufferOffset = m, inputAggBufferOffset = i)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): PrefixRowsAgg =
    copy(orderKeys = newChildren.dropRight(2),
      kExpr = newChildren(newChildren.length - 2), payload = newChildren.last)

  override def prettyName: String = "prefix_rows"
}
