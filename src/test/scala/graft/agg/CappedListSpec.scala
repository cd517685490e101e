package graft.agg

import graft.SparkSpec
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

class CappedListSpec extends SparkSpec {

  private def agg(cap: Int) = CappedList(BoundReference(0, LongType, nullable = true), cap)

  private def state(a: CappedList, ids: java.lang.Long*): CappedList.State =
    ids.foldLeft(a.createAggregationBuffer())((b, v) => a.update(b, InternalRow(v)))

  private def ids(s: CappedList.State): Seq[Long] = s.ids.take(s.n).toSeq

  test("capped list holds every member of a group within the cap, any partitioning") {
    import spark.implicits._
    val cap = 50
    val rnd = new scala.util.Random(3)
    // group g has g members (1..cap) with duplicate ids
    val rows = (1 to cap).flatMap(g => (0 until g).map(_ => (g.toLong, rnd.nextInt(40).toLong)))
    val df = rows.toDF("g", "id").repartition(16)
    val got = df.groupBy("g").agg(CappedList.capped(cap)(col("id")).as("ms"))
      .as[(Long, Seq[Long])].collect().map { case (g, ms) => g -> ms.sorted }.toMap
    assert(got === rows.groupBy(_._1).map { case (g, rs) => g -> rs.map(_._2).sorted })
  }

  test("overflow: a group over the cap keeps exactly cap + 1 of its ids") {
    import spark.implicits._
    val cap = 20
    val sizes = Seq(cap, cap + 1, cap + 2, 10 * cap)
    val rows = sizes.flatMap(n => (0 until n).map(i => (n.toLong, n * 1000L + i)))
    val got = rows.toDF("g", "id").repartition(16)
      .groupBy("g").agg(CappedList.capped(cap)(col("id")).as("ms"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got.view.mapValues(_.size).toMap ===
      Map(cap.toLong -> cap, (cap + 1L) -> (cap + 1), (cap + 2L) -> (cap + 1), (10L * cap) -> (cap + 1)))
    got.foreach { case (g, ms) =>
      assert(ms.distinct.size === ms.size && ms.forall(v => v / 1000 == g), s"group $g")
    }
  }

  test("state grows by doubling and stops at cap + 1") {
    val a = agg(1000)
    assert(state(a, 1L, 2L, 3L).ids.length === 4)
    val big = state(a, (0L until 5000L).map(Long.box): _*)
    assert(big.n === 1001 && big.ids.length === 1001)
    assert(ids(big) === (0L until 1001L))
  }

  test("merge: a full side wins, else the input is appended up to cap + 1") {
    val a = agg(3)
    def full() = state(a, 1L, 2L, 3L, 4L, 5L)
    assert(ids(a.merge(full(), state(a, 9L))) === Seq(1L, 2L, 3L, 4L))
    assert(ids(a.merge(state(a, 9L), full())) === Seq(1L, 2L, 3L, 4L))
    assert(ids(a.merge(state(a, 7L, 8L), state(a, 9L, 10L, 11L))) === Seq(7L, 8L, 9L, 10L))
    assert(ids(a.merge(state(a, 7L), state(a, 9L))) === Seq(7L, 9L))
    assert(ids(a.merge(state(a), state(a))) === Seq.empty)
  }

  test("serialize/deserialize round trip keeps the ids and their order") {
    val a = agg(5)
    for (n <- 0 to 8) {
      val s = state(a, (0 until n).map(i => Long.box(Long.MaxValue - 3L * i)): _*)
      val back = a.deserialize(a.serialize(s))
      assert(ids(back) === ids(s))
      assert(back.full === (n >= 6))
    }
  }

  test("null ids are skipped; the result is array<bigint>") {
    import spark.implicits._
    assert(ids(state(agg(3), null, 1L, null, 2L)) === Seq(1L, 2L))
    val df = Seq[(Long, Option[Long])]((1L, None), (1L, Some(4L)), (2L, None))
      .toDF("g", "id").groupBy("g").agg(CappedList.capped(3)(col("id")).as("ms"))
    assert(df.schema("ms").dataType === ArrayType(LongType, containsNull = false))
    assert(df.as[(Long, Seq[Long])].collect().toMap === Map(1L -> Seq(4L), 2L -> Seq.empty[Long]))
  }
}
