package graft.functions

import java.nio.ByteBuffer
import java.util.{ArrayList, Comparator, PriorityQueue, TreeMap}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Descending, Expression, InterpretedOrdering, NullsFirst, NullsLast, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{ImperativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{BinaryType, DataType, StructType}

/** The base of every graft aggregate: the Catalyst plumbing that a
  * `TypedImperativeAggregate` otherwise repeats. A graft aggregate
  * never returns NULL (an empty group yields an empty sketch or
  * array), copies both buffer offsets through one [[withOffsets]]
  * hook, and declares its input types as (child, expected type,
  * role) rows, checked in order.
  */
abstract class GraftAgg[T] extends TypedImperativeAggregate[T] {

  /** This aggregate with both buffer offsets replaced (a case-class `copy`). */
  protected def withOffsets(mutableOffset: Int, inputOffset: Int): GraftAgg[T]

  /** (child, expected type, role) — the first mismatch fails analysis
    * with "`prettyName` requires a TYPE role, got ACTUAL".
    */
  protected def inputTypes: Seq[(Expression, DataType, String)] = Nil

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    inputTypes.collectFirst { case (c, t, role) if c.dataType != t =>
      val a = if ("AEIOU".indexOf(t.sql.head) >= 0) "an" else "a"
      TypeCheckFailure(s"$prettyName requires $a ${t.sql} $role, got ${c.dataType.sql}")
    }.getOrElse(TypeCheckSuccess)

  final override def withNewMutableAggBufferOffset(offset: Int): ImperativeAggregate =
    withOffsets(offset, inputAggBufferOffset)
  final override def withNewInputAggBufferOffset(offset: Int): ImperativeAggregate =
    withOffsets(mutableAggBufferOffset, offset)

  /** The aggregate as a Column, for the Column API. */
  def toColumn: Column = Bridge.column(toAggregateExpression())
}

object GraftAgg {
  /** A Column API argument as a Catalyst expression. */
  def expr(c: Column): Expression = Bridge.expression(c)
}

/** A BINARY sketch of one input column: NULL inputs are skipped, and
  * the output is the serialized buffer, so partial and final sketches
  * share one byte layout and a sketch column can be merged again.
  */
abstract class SketchAgg[S] extends GraftAgg[S] {

  /** The sketched column. */
  protected def input: Expression

  /** Folds one non-null input value into the sketch. */
  protected def add(sketch: S, value: Any): Unit

  override def children: Seq[Expression] = Seq(input)
  override def dataType: DataType = BinaryType

  override def update(sketch: S, row: InternalRow): S = {
    val v = input.eval(row)
    if (v != null) add(sketch, v)
    sketch
  }

  override def eval(sketch: S): Any = serialize(sketch)
}

/** A fixed-shape sketch over one primitive array — Bloom bits,
  * Count-Min counters, HLL registers — merged cell by cell and laid
  * out as [int header...][cells].
  */
abstract class ArraySketchAgg[A] extends SketchAgg[A] {
  protected def cells: Cells[A]
  /** Number of cells; fixed by the parameters. */
  protected def length: Int
  /** The ints written ahead of the cells. */
  protected def header: Seq[Int]

  override def createAggregationBuffer(): A = cells.alloc(length)

  override def merge(a: A, b: A): A = { cells.mergeInto(a, b); a }

  override def serialize(sketch: A): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 * header.length + cells.bytes(length))
    header.foreach(bb.putInt)
    cells.put(bb, sketch)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): A = {
    val sketch = createAggregationBuffer()
    cells.get(ByteBuffer.wrap(bytes).position(4 * header.length), sketch)
    sketch
  }
}

/** How an [[ArraySketchAgg]]'s cells are stored, merged and encoded. */
sealed abstract class Cells[A] {
  def alloc(n: Int): A
  def bytes(n: Int): Int
  def mergeInto(a: A, b: A): Unit
  def put(bb: ByteBuffer, a: A): Unit
  def get(bb: ByteBuffer, a: A): Unit
}

object Cells {
  sealed abstract class Longs extends Cells[Array[Long]] {
    def alloc(n: Int): Array[Long] = new Array[Long](n)
    def bytes(n: Int): Int = 8 * n
    def put(bb: ByteBuffer, a: Array[Long]): Unit = { bb.asLongBuffer().put(a); () }
    def get(bb: ByteBuffer, a: Array[Long]): Unit = { bb.asLongBuffer().get(a); () }
  }

  /** Bloom bit words: union is OR. */
  object Or extends Longs {
    def mergeInto(a: Array[Long], b: Array[Long]): Unit = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
    }
  }

  /** Count-Min counters: union is addition. */
  object Add extends Longs {
    def mergeInto(a: Array[Long], b: Array[Long]): Unit = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
    }
  }

  /** HLL registers: union is the elementwise max. */
  object Max extends Cells[Array[Byte]] {
    def alloc(n: Int): Array[Byte] = new Array[Byte](n)
    def bytes(n: Int): Int = n
    def mergeInto(a: Array[Byte], b: Array[Byte]): Unit = {
      var i = 0
      while (i < a.length) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    }
    def put(bb: ByteBuffer, a: Array[Byte]): Unit = { bb.put(a); () }
    def get(bb: ByteBuffer, a: Array[Byte]): Unit = { bb.get(a); () }
  }
}

/** The byte encoding of one buffer element. */
abstract class Codec[E] {
  def size(e: E): Int
  def put(bb: ByteBuffer, e: E): Unit
  def get(bb: ByteBuffer): E
}

object Codec {
  /** A stored row of `numFields` fields as [int length][bytes]. */
  def rows(numFields: Int): Codec[UnsafeRow] = new Codec[UnsafeRow] {
    def size(r: UnsafeRow): Int = 4 + r.getSizeInBytes
    def put(bb: ByteBuffer, r: UnsafeRow): Unit = {
      val bytes = r.getBytes
      bb.putInt(bytes.length).put(bytes)
    }
    def get(bb: ByteBuffer): UnsafeRow = {
      val arr = new Array[Byte](bb.getInt)
      bb.get(arr)
      val row = new UnsafeRow(numFields)
      row.pointTo(arr, arr.length)
      row
    }
  }
}

/** The k best elements offered so far under `worstFirst`, worst at
  * the head so an eviction is one poll. `k` may be raised after
  * construction (a per-group bound read from the data).
  */
final class BoundedHeap[E](val worstFirst: Comparator[E], var k: Int) {
  val heap = new PriorityQueue[E](k + 1, worstFirst)

  def keeps(e: E): Boolean = heap.size < k || worstFirst.compare(e, heap.peek()) > 0

  /** Adds an element [[keeps]] accepted, evicting the worst if full. */
  def push(e: E): Unit = {
    if (heap.size >= k) heap.poll()
    heap.add(e)
  }

  def offer(e: E): Unit = if (keeps(e)) push(e)

  def mergeIn(other: BoundedHeap[E]): Unit = {
    val it = other.heap.iterator()
    while (it.hasNext) offer(it.next())
  }

  /** Evicts the worst elements down to k. */
  def trim(): Unit = while (heap.size > k) heap.poll()

  /** The elements best first, through `f`. Drains a COPY: as a window
    * function Spark evaluates one buffer once per output row.
    */
  def bestFirst(f: E => Any): GenericArrayData = {
    val copy = new PriorityQueue[E](heap.size + 1, worstFirst)
    copy.addAll(heap)
    val out = new Array[Any](copy.size)
    var i = out.length - 1
    while (i >= 0) { out(i) = f(copy.poll()); i -= 1 }
    new GenericArrayData(out)
  }

  /** [int k][int n][n elements]. */
  def serialize(codec: Codec[E]): Array[Byte] = {
    var size = 8
    heap.forEach(e => size += codec.size(e))
    val bb = ByteBuffer.allocate(size).putInt(k).putInt(heap.size)
    heap.forEach(codec.put(bb, _))
    bb.array()
  }
}

/** An aggregate whose buffer is one [[BoundedHeap]]. */
abstract class HeapAgg[E] extends GraftAgg[BoundedHeap[E]] {
  protected def worstFirst: Comparator[E]
  protected def codec: Codec[E]
  /** The heap's bound before any input; 0 when the data supplies it. */
  protected def initialK: Int

  override def createAggregationBuffer(): BoundedHeap[E] =
    new BoundedHeap(worstFirst, initialK)

  override def merge(a: BoundedHeap[E], b: BoundedHeap[E]): BoundedHeap[E] = {
    a.mergeIn(b); a
  }

  override def serialize(h: BoundedHeap[E]): Array[Byte] = h.serialize(codec)

  override def deserialize(bytes: Array[Byte]): BoundedHeap[E] = {
    val bb = ByteBuffer.wrap(bytes)
    val h = new BoundedHeap(worstFirst, bb.getInt)
    var n = bb.getInt
    while (n > 0) { h.heap.add(codec.get(bb)); n -= 1 }
    h
  }
}

/** The rank aggregates' shared shape: a window's sort spec (per-key
  * direction and null order) over `orderKeys`, and the rows they
  * store — the projection of all children, sort keys first and the
  * `payload` struct last.
  */
trait SortedRows[T] extends GraftAgg[T] {
  def orderKeys: Seq[Expression]
  def ascending: Seq[Boolean]
  def nullsFirst: Seq[Boolean]
  def payload: Expression

  require(orderKeys.nonEmpty && orderKeys.length == ascending.length &&
    orderKeys.length == nullsFirst.length, "sort spec arity mismatch")

  /** Best-row-first order over a stored row's key prefix. */
  @transient protected lazy val keyOrder: Ordering[UnsafeRow] = {
    val rows = new InterpretedOrdering(orderKeys.zipWithIndex.map { case (e, i) =>
      SortOrder(BoundReference(i, e.dataType, nullable = true),
        if (ascending(i)) Ascending else Descending,
        if (nullsFirst(i)) NullsFirst else NullsLast, Seq.empty)
    })
    rows.compare(_, _)
  }

  @transient protected lazy val proj: UnsafeProjection = UnsafeProjection.create(children)

  @transient protected lazy val rowCodec: Codec[UnsafeRow] = Codec.rows(children.length)

  protected def payloadType: StructType = payload.dataType.asInstanceOf[StructType]

  @transient private lazy val payloadField = children.length - 1

  /** A stored row's payload, copied out of the row. */
  protected def payloadOf(row: UnsafeRow): InternalRow =
    row.getStruct(payloadField, payloadType.length).copy()

  override def checkInputDataTypes(): TypeCheckResult =
    orderKeys.find(e => !RowOrdering.isOrderable(e.dataType)) match {
      case Some(bad) => TypeCheckFailure(
        s"$prettyName sort key type ${bad.dataType.sql} is not orderable")
      case None if !payload.dataType.isInstanceOf[StructType] => TypeCheckFailure(
        s"$prettyName payload must be a struct, got ${payload.dataType.sql}")
      case None => super.checkInputDataTypes()
    }
}

/** Rows grouped by sort key, best key first — the buffer of the
  * tie-aware rank aggregates, which evict whole key groups. `k` is
  * the group's rank bound (−1 until a row or a merge supplies it).
  */
final class KeyGroups(val keyOrder: Comparator[UnsafeRow], var k: Int) {
  val map = new TreeMap[UnsafeRow, ArrayList[UnsafeRow]](keyOrder)
  var total = 0

  /** Stores a copy of `row` (it may be a reused projection buffer)
    * unless its key is new, worse than every retained key, and `full`
    * says no new worst group may enter. True if stored.
    */
  def insert(row: UnsafeRow, full: Boolean): Boolean = {
    val rows = map.get(row)
    if (rows != null) rows.add(row.copy())
    else if (!map.isEmpty && keyOrder.compare(row, map.lastKey()) > 0 && full) return false
    else {
      val stored = row.copy()
      val group = new ArrayList[UnsafeRow](1)
      group.add(stored)
      map.put(stored, group)
    }
    total += 1
    true
  }

  def lastGroupSize: Int = map.lastEntry().getValue.size

  def dropLastGroup(): Unit = total -= map.pollLastEntry().getValue.size

  /** Evicts the single worst row (its group goes when emptied). */
  def dropLastRow(): Unit = {
    val last = map.lastEntry()
    val rows = last.getValue
    rows.remove(rows.size - 1)
    total -= 1
    if (rows.isEmpty) map.remove(last.getKey)
  }

  /** Calls `f` on every stored row, best group first. */
  def foreachRow(f: UnsafeRow => Unit): Unit = map.values().forEach(_.forEach(f(_)))

  /** [int k][int groups][per group: int n, n rows]. */
  def serialize(codec: Codec[UnsafeRow]): Array[Byte] = {
    var size = 8 + 4 * map.size
    foreachRow(r => size += codec.size(r))
    val bb = ByteBuffer.allocate(size).putInt(k).putInt(map.size)
    map.values().forEach { rows =>
      bb.putInt(rows.size)
      rows.forEach(codec.put(bb, _))
    }
    bb.array()
  }
}

object KeyGroups {
  def deserialize(bytes: Array[Byte], keyOrder: Comparator[UnsafeRow],
      codec: Codec[UnsafeRow]): KeyGroups = {
    val bb = ByteBuffer.wrap(bytes)
    val g = new KeyGroups(keyOrder, bb.getInt)
    var groups = bb.getInt
    while (groups > 0) {
      val n = bb.getInt
      val rows = new ArrayList[UnsafeRow](n)
      while (rows.size < n) rows.add(codec.get(bb))
      g.map.put(rows.get(0), rows)
      g.total += n
      groups -= 1
    }
    g
  }
}
