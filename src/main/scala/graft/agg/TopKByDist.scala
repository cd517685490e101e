package graft.agg

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Bounded top-k-smallest aggregator — the NMinimizer analogue
  * (structures/n_minimizer.rs:20-80): keeps the k smallest (dist, id)
  * pairs; insertion uses strict < so earlier-inserted entries win exact
  * ties within a partition, and (dist, id) ordering makes the merged
  * result deterministic regardless of partitioning.
  *
  * Buffer is a fixed-size sorted array (k+1 slots), so state per group is
  * O(k) no matter how many candidates stream through — the memory shape
  * the reference chose NMinimizer for, and the reason this beats a window
  * row_number (which sorts ALL candidates per group) when candidate
  * volume per query is large.
  */
case class DistId(dist: Double, id: Long)

class TopKByDist(k: Int) extends Aggregator[DistId, Array[DistId], Array[DistId]] {
  require(k > 0, "Invalid TopKByDist 'k' value.")

  override def zero: Array[DistId] = Array.empty

  private def insert(buf: Array[DistId], v: DistId): Array[DistId] = {
    // strict-< scan insert, truncate to k (n_minimizer.rs:41-75)
    var i = 0
    while (i < buf.length &&
      (buf(i).dist < v.dist || (buf(i).dist == v.dist && buf(i).id <= v.id))) i += 1
    if (i >= k) buf
    else {
      val out = new Array[DistId](math.min(buf.length + 1, k))
      System.arraycopy(buf, 0, out, 0, i)
      out(i) = v
      System.arraycopy(buf, i, out, i + 1, out.length - i - 1)
      out
    }
  }

  override def reduce(buf: Array[DistId], v: DistId): Array[DistId] = insert(buf, v)

  override def merge(a: Array[DistId], b: Array[DistId]): Array[DistId] =
    b.foldLeft(a)(insert)

  override def finish(r: Array[DistId]): Array[DistId] = r

  override def bufferEncoder: Encoder[Array[DistId]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[DistId]]()
  override def outputEncoder: Encoder[Array[DistId]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[DistId]]()
}

object TopKByDist {
  /** Column form: topK(k)(distCol, idCol) → array<struct<dist,id>>. */
  def topK(k: Int)(dist: Column, id: Column): Column =
    udaf(new TopKByDist(k)).apply(dist, id)
}
