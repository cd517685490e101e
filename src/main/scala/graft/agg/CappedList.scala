package graft.agg

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types._

/** Bounded member collector for skew-capped bucket joins: accumulates ids
  * up to cap + 1 entries and then STOPS GROWING — a bucket that overflows
  * the cap is dropped by the consumer anyway (the LSH hot-bucket bound),
  * so per-group aggregation state is O(cap) no matter how viral the
  * bucket. Without this, collect_list on a hot bucket would buffer every
  * member before the size filter discards them.
  *
  * The ≤cap result preserves multiset semantics (order immaterial for the
  * pair explode, which normalizes with least/greatest). A native aggregate
  * over a primitive array that grows by doubling up to cap + 1 slots, so a
  * one-member bucket holds a few longs, not cap + 1. A null id is skipped.
  */
case class CappedList(child: Expression, cap: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CappedList.State] with ImplicitCastInputTypes
    with UnaryLike[Expression] {
  require(cap > 0, "Invalid CappedList cap.")

  override def inputTypes = Seq(LongType)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_capped"

  override def createAggregationBuffer(): CappedList.State = new CappedList.State(cap + 1)

  override def update(buf: CappedList.State, row: InternalRow): CappedList.State = {
    val v = child.eval(row)
    if (v != null) buf.add(v.asInstanceOf[Long])
    buf
  }

  /** A full side wins (`buf` first); otherwise `input` is appended to `buf`
    * up to cap + 1 entries. */
  override def merge(buf: CappedList.State, input: CappedList.State): CappedList.State =
    if (buf.full) buf
    else if (input.full) input
    else {
      var j = 0
      while (j < input.n && !buf.full) { buf.add(input.ids(j)); j += 1 }
      buf
    }

  override def eval(buf: CappedList.State): Any =
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(buf.ids, buf.n))

  override def serialize(buf: CappedList.State): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.n).putInt(buf.n)
    var j = 0
    while (j < buf.n) { bb.putLong(buf.ids(j)); j += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CappedList.State = {
    val bb = ByteBuffer.wrap(bytes)
    val s = new CappedList.State(cap + 1)
    val n = bb.getInt
    var j = 0
    while (j < n) { s.add(bb.getLong); j += 1 }
    s
  }

  override def withNewMutableAggBufferOffset(o: Int): CappedList = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CappedList = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): CappedList = copy(child = c)
}

object CappedList {
  /** The first `lim` ids added. */
  final class State(lim: Int) {
    var ids = new Array[Long](math.min(lim, 4))
    var n = 0

    def full: Boolean = n >= lim

    def add(v: Long): Unit = if (!full) {
      if (n == ids.length) ids = java.util.Arrays.copyOf(ids, math.min(lim, 2 * n))
      ids(n) = v
      n += 1
    }
  }

  /** Column form: capped(cap)(idCol) → array<bigint> (≤ cap + 1 entries;
    * length > cap means the bucket overflowed and must be dropped). */
  def capped(cap: Int)(id: Column): Column =
    Shim.column(CappedList(Shim.expression(id), cap).toAggregateExpression())
}
