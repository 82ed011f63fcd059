package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `prefix_min(df, gram, k)` — the k smallest (df, gram) pairs per
  * group under the global (df ASC, gram-bytes ASC) order, returned as
  * `array<string>` of the grams (ascending).
  *
  * This is the prefix-filter selection step of the ngram-jaccard
  * pipeline: a doc's prefix is its ⌈(1−τ)·sz⌉+1 globally-rarest grams.
  * Expressed as `row_number() OVER (PARTITION BY doc_id ORDER BY df,
  * gram)` it full-sorts every posting row through one reducer pass;
  * as a bounded heap it keeps O(k) state per group and
  * partial-aggregates map-side, so the doc_id shuffle carries ≤ k rows
  * per (partition, group) — the same reshape TopKByAgg applies to ANN
  * ranking.
  *
  * `k` is an expression evaluated per input row (the per-doc prefix
  * length rides along each posting row) and MUST be constant within a
  * group — entries evicted under an earlier smaller k are gone, so a
  * late larger k could NOT be honored retroactively; `update` throws
  * on a mismatch rather than silently dropping candidates. (Merging a
  * populated buffer with an empty partial buffer, whose k is still 0,
  * is the one legitimate k difference — `merge` max-resolves it.)
  */
case class PrefixMinAgg(
    df: Expression,
    gram: Expression,
    k: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends HeapAgg[(Long, Array[Byte])] {

  override protected def inputTypes =
    Seq((df, LongType, "df"), (gram, StringType, "gram"), (k, IntegerType, "k"))
  override def children: Seq[Expression] = Seq(df, gram, k)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def worstFirst: java.util.Comparator[(Long, Array[Byte])] =
    PrefixMinAgg.largestFirst
  override protected def codec: Codec[(Long, Array[Byte])] = PrefixMinAgg.entries
  override protected def initialK: Int = 0

  override def update(heap: BoundedHeap[(Long, Array[Byte])], input: InternalRow): BoundedHeap[(Long, Array[Byte])] = {
    val d = df.eval(input); val g = gram.eval(input); val kv = k.eval(input)
    if (d != null && g != null && kv != null) {
      val ki = kv.asInstanceOf[Int]
      if (heap.k != 0 && ki != heap.k)
        throw new IllegalArgumentException(
          s"prefix_min requires k constant per group, saw ${heap.k} then $ki")
      heap.k = ki
      heap.offer((d.asInstanceOf[Long], g.asInstanceOf[UTF8String].getBytes.clone()))
    }
    heap
  }

  /** k could only have GROWN (max-merge), so the re-trim never drops
    * an entry a larger k would need back.
    */
  override def merge(a: BoundedHeap[(Long, Array[Byte])], b: BoundedHeap[(Long, Array[Byte])]): BoundedHeap[(Long, Array[Byte])] = {
    a.k = math.max(a.k, b.k)
    a.mergeIn(b)
    a.trim()
    a
  }

  override def eval(heap: BoundedHeap[(Long, Array[Byte])]): Any = {
    heap.trim()
    heap.bestFirst(e => UTF8String.fromBytes(e._2))
  }

  override protected def withOffsets(m: Int, i: Int): PrefixMinAgg =
    copy(mutableAggBufferOffset = m, inputAggBufferOffset = i)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): PrefixMinAgg =
    copy(df = c(0), gram = c(1), k = c(2))
  override def prettyName: String = "prefix_min"
}

object PrefixMinAgg {

  /** Heap head = the LARGEST (df, gram) — the entry evicted first.
    * Gram bytes compare unsigned-lexicographic (UTF8String binary
    * order), a consistent global total order across all docs — the
    * only property the prefix-filter pigeonhole argument needs.
    */
  private[functions] object largestFirst
      extends java.util.Comparator[(Long, Array[Byte])] with Serializable {
    override def compare(a: (Long, Array[Byte]), b: (Long, Array[Byte])): Int = {
      val c = java.lang.Long.compare(b._1, a._1)
      if (c != 0) return c
      val (x, y) = (a._2, b._2)
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val d = (y(i) & 0xff) - (x(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      y.length - x.length
    }
  }

  /** (df, gram bytes) as [long df][int length][bytes]. */
  private val entries: Codec[(Long, Array[Byte])] = new Codec[(Long, Array[Byte])] {
    def size(e: (Long, Array[Byte])): Int = 12 + e._2.length
    def put(bb: ByteBuffer, e: (Long, Array[Byte])): Unit = {
      bb.putLong(e._1).putInt(e._2.length).put(e._2); ()
    }
    def get(bb: ByteBuffer): (Long, Array[Byte]) = {
      val d = bb.getLong
      val g = new Array[Byte](bb.getInt)
      bb.get(g)
      (d, g)
    }
  }

  def prefix_min(df: Column, gram: Column, k: Column): Column =
    PrefixMinAgg(GraftAgg.expr(df), GraftAgg.expr(gram), GraftAgg.expr(k)).toColumn
}
