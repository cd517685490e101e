package graft.agg

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types._

/** Bounded top-k-smallest aggregate — the NMinimizer analogue
  * (structures/n_minimizer.rs:20-80): keeps the k smallest (dist, id)
  * pairs; insertion uses strict < so earlier-inserted entries win exact
  * ties within a partition, and (dist, id) ordering makes the merged
  * result deterministic regardless of partitioning.
  *
  * State is two primitive arrays of at most k slots, so state per group is
  * O(k) no matter how many candidates stream through — the memory shape
  * the reference chose NMinimizer for, and the reason this beats a window
  * row_number (which sorts ALL candidates per group) when candidate
  * volume per query is large. A native aggregate: no encoder, so no
  * generated projection classes per query. An input row whose dist or id
  * is null is skipped.
  */
case class TopKByDist(dist: Expression, id: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKByDist.State] with ImplicitCastInputTypes {
  require(k > 0, "Invalid TopKByDist 'k' value.")

  override def children: Seq[Expression] = Seq(dist, id)
  override def inputTypes = Seq(DoubleType, LongType)
  override def nullable: Boolean = true
  override def dataType: DataType = TopKByDist.resultType
  override def prettyName: String = "graft_topk"

  override def createAggregationBuffer(): TopKByDist.State = new TopKByDist.State(k)

  override def update(buf: TopKByDist.State, row: InternalRow): TopKByDist.State = {
    val d = dist.eval(row)
    val i = id.eval(row)
    if (d != null && i != null) buf.insert(d.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  /** `input`'s entries inserted into `buf` in `input`'s order. */
  override def merge(buf: TopKByDist.State, input: TopKByDist.State): TopKByDist.State = {
    var j = 0
    while (j < input.n) { buf.insert(input.dist(j), input.id(j)); j += 1 }
    buf
  }

  override def eval(buf: TopKByDist.State): Any =
    new GenericArrayData(Array.tabulate[Any](buf.n)(j => InternalRow(buf.dist(j), buf.id(j))))

  override def serialize(buf: TopKByDist.State): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.n).putInt(buf.n)
    var j = 0
    while (j < buf.n) { bb.putDouble(buf.dist(j)).putLong(buf.id(j)); j += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKByDist.State = {
    val bb = ByteBuffer.wrap(bytes)
    val s = new TopKByDist.State(k)
    s.n = bb.getInt
    var j = 0
    while (j < s.n) { s.dist(j) = bb.getDouble; s.id(j) = bb.getLong; j += 1 }
    s
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKByDist = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKByDist = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TopKByDist =
    copy(dist = c(0), id = c(1))
}

object TopKByDist {
  /** array<struct<dist:double,id:bigint>>, the type the encoder-based
    * aggregate this replaces returned. */
  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("dist", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = true)

  /** The k smallest (dist, id) entries so far, sorted. */
  final class State(k: Int) {
    val dist = new Array[Double](k)
    val id = new Array[Long](k)
    var n = 0

    /** strict-< scan insert, truncate to k (n_minimizer.rs:41-75) */
    def insert(d: Double, i: Long): Unit = {
      var p = 0
      while (p < n && (dist(p) < d || (dist(p) == d && id(p) <= i))) p += 1
      if (p < k) {
        val moved = math.min(n, k - 1) - p
        System.arraycopy(dist, p, dist, p + 1, moved)
        System.arraycopy(id, p, id, p + 1, moved)
        dist(p) = d; id(p) = i
        n = math.min(n + 1, k)
      }
    }
  }

  /** Column form: topK(k)(distCol, idCol) → array<struct<dist,id>>. */
  def topK(k: Int)(dist: Column, id: Column): Column =
    Shim.column(TopKByDist(Shim.expression(dist), Shim.expression(id), k).toAggregateExpression())
}
