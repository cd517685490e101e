package graft.agg

import graft.SparkSpec
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

class TopKByDistSpec extends SparkSpec {

  private def agg(k: Int) =
    TopKByDist(BoundReference(0, DoubleType, nullable = true),
      BoundReference(1, LongType, nullable = true), k)

  private def state(a: TopKByDist, rows: (java.lang.Double, java.lang.Long)*): TopKByDist.State =
    rows.foldLeft(a.createAggregationBuffer())((b, r) => a.update(b, InternalRow(r._1, r._2)))

  /** (dist bits, id) so that -0.0 and 0.0 stay apart */
  private def entries(s: TopKByDist.State): Seq[(Long, Long)] =
    (0 until s.n).map(j => (java.lang.Double.doubleToRawLongBits(s.dist(j)), s.id(j)))

  test("bounded top-k equals window row_number result, any partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (0 until 20000).map { i =>
      (i % 7L, rnd.nextInt(1000) / 10.0, i.toLong) // (group, dist, id) with ties
    }
    val df = rows.toDF("g", "dist", "id").repartition(16)

    val got = df.groupBy("g")
      .agg(TopKByDist.topK(5)(col("dist"), col("id")).as("top"))
      .select(col("g"), explode(col("top")).as("t"))
      .select(col("g"), col("t.dist"), col("t.id"))
      .as[(Long, Double, Long)].collect().toSet

    val windowed = df
      .withColumn("rn", row_number().over(Window.partitionBy("g").orderBy("dist", "id")))
      .filter(col("rn") <= 5).select("g", "dist", "id")
      .as[(Long, Double, Long)].collect().toSet
    val expected = rows.groupBy(_._1).flatMap { case (g, rs) =>
      rs.map(r => (g, r._2, r._3)).sortBy(t => (t._2, t._3)).take(5)
    }.toSet
    assert(windowed === expected)
    assert(got === expected)
  }

  test("state stays bounded at k entries (NMinimizer shape)") {
    val a = agg(3)
    val buf = state(a, (0 until 1000).map(i => (Double.box(1000.0 - i), Long.box(i.toLong))): _*)
    assert(buf.n === 3)
    assert(buf.dist.length === 3 && buf.id.length === 3)
    assert(buf.dist.toSeq === Seq(1.0, 2.0, 3.0))
  }

  test("serialize/deserialize round trip keeps every entry bit for bit") {
    val a = agg(6)
    val rnd = new scala.util.Random(7)
    for (n <- 0 to 9) {
      val s = state(a, (0 until n).map(_ => (Double.box(rnd.nextGaussian()), Long.box(rnd.nextLong()))): _*)
      val back = a.deserialize(a.serialize(s))
      assert(entries(back) === entries(s))
      assert(back.n === math.min(n, 6))
    }
    val special = state(a, (Double.box(-0.0), Long.box(1L)), (Double.box(Double.NaN), Long.box(2L)),
      (Double.box(Double.NegativeInfinity), Long.box(Long.MinValue)))
    assert(entries(a.deserialize(a.serialize(special))) === entries(special))
  }

  test("merge: equal dists order by id; an exact tie keeps the buffer side's entry") {
    val a = agg(2)
    def merged(x: TopKByDist.State, y: TopKByDist.State) = entries(a.merge(x, y))
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    // equal dist: id decides, whichever side is merged into which
    val l = () => state(a, (Double.box(1.0), Long.box(5L)))
    val r = () => state(a, (Double.box(1.0), Long.box(3L)))
    assert(merged(l(), r()) === Seq((bits(1.0), 3L), (bits(1.0), 5L)))
    assert(merged(r(), l()) === Seq((bits(1.0), 3L), (bits(1.0), 5L)))
    // -0.0 == 0.0 with the same id is an exact tie: the earlier insert wins
    val pos = () => state(a, (Double.box(0.0), Long.box(4L)), (Double.box(2.0), Long.box(9L)))
    val neg = () => state(a, (Double.box(-0.0), Long.box(4L)), (Double.box(2.0), Long.box(9L)))
    assert(merged(pos(), neg()) === Seq((bits(0.0), 4L), (bits(-0.0), 4L)))
    assert(merged(neg(), pos()) === Seq((bits(-0.0), 4L), (bits(0.0), 4L)))
    // a full buffer: a smaller entry pushes the largest out
    val full = state(a, (Double.box(1.0), Long.box(1L)), (Double.box(1.0), Long.box(2L)))
    assert(merged(full, state(a, (Double.box(1.0), Long.box(0L)))) ===
      Seq((bits(1.0), 0L), (bits(1.0), 1L)))
  }

  test("null dist or id inputs are skipped") {
    import spark.implicits._
    val a = agg(3)
    val s = state(a, (null, Long.box(1L)), (Double.box(2.0), null), (Double.box(3.0), Long.box(3L)))
    assert(entries(s) === Seq((java.lang.Double.doubleToRawLongBits(3.0), 3L)))

    val df = Seq[(Long, Option[Double], Option[Long])](
      (1L, Some(2.0), Some(20L)), (1L, None, Some(10L)), (1L, Some(1.0), None),
      (1L, Some(3.0), Some(30L)), (2L, None, None))
      .toDF("g", "dist", "id").repartition(3)
    val got = df.groupBy("g").agg(TopKByDist.topK(5)(col("dist"), col("id")).as("t"))
      .select(col("g"), expr("transform(t, e -> e.id)").as("ids"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got === Map(1L -> Seq(20L, 30L), 2L -> Seq.empty[Long]))
  }

  test("result type is array<struct<dist:double,id:bigint>>, ints cast to double/bigint") {
    import spark.implicits._
    val df = Seq((1, 5, 7)).toDF("g", "d", "id")
      .groupBy("g").agg(TopKByDist.topK(2)(col("d"), col("id")).as("t"))
    assert(df.schema("t").dataType === TopKByDist.resultType)
    assert(df.select(expr("t[0].dist"), expr("t[0].id")).as[(Double, Long)].head() === ((5.0, 7L)))
  }
}
