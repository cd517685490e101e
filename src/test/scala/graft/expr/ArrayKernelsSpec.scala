package graft.expr

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** graft_dot and graft_pairs against the lambda expressions they replace. */
class ArrayKernelsSpec extends SparkSpec {

  private val lambdaDot =
    "aggregate(zip_with(ea, eb, (x, y) -> cast(x as double) * cast(y as double)), " +
      "cast(0.0e0 as double), (acc, v) -> acc + v)"

  private val lambdaPairs =
    "flatten(transform(ms, (x, i) -> transform(slice(ms, i + 2, size(ms)), " +
      "y -> struct(least(x, y) AS a, greatest(x, y) AS b))))"

  private def bits(v: Any): Option[Long] =
    Option(v).map(d => java.lang.Double.doubleToLongBits(d.asInstanceOf[Double]))

  test("graft_dot is bit-equal to aggregate(zip_with(..)), nulls and unequal lengths included") {
    val rnd = new scala.util.Random(11)
    def vec(n: Int, nullP: Double): Seq[java.lang.Float] = Seq.fill(n) {
      if (rnd.nextDouble() < nullP) null
      else rnd.nextInt(20) match {
        case 0 => Float.box(Float.MaxValue)
        case 1 => Float.box(-0.0f)
        case 2 => Float.box(Float.NaN)
        case _ => Float.box((rnd.nextGaussian() * math.pow(10, rnd.nextInt(7) - 3)).toFloat)
      }
    }
    val rows = (0 until 2000).map { i =>
      val n = rnd.nextInt(70)
      val (a, b) = i % 10 match {
        case 0 => (vec(n, 0.0), vec(n + 1 + rnd.nextInt(3), 0.0)) // unequal lengths
        case 1 => (vec(n, 0.05), vec(n, 0.05))                      // null elements
        case 2 => (null, vec(n, 0.0))                               // null array
        case 3 => (vec(n, 0.0), null)
        case _ => (vec(n, 0.0), vec(n, 0.0))
      }
      Row(i, Option(a).map(_.asJava).orNull, Option(b).map(_.asJava).orNull)
    }
    val schema = StructType(Seq(StructField("i", IntegerType),
      StructField("ea", ArrayType(FloatType)), StructField("eb", ArrayType(FloatType))))
    val df = spark.createDataFrame(rows.asJava, schema).repartition(4)
    val got = df.select(col("i"), ArrayKernels.dot(col("ea"), col("eb")).as("d"), expr(lambdaDot).as("l"))
      .collect()
    assert(got.length === rows.length)
    got.foreach { r => assert(bits(r.get(1)) === bits(r.get(2)), s"row ${r.getInt(0)}") }
    assert(got.count(_.isNullAt(1)) > 400) // every null case is exercised
    // the interpreted path agrees with the generated one
    val byId = rows.map(r => r.getInt(0) -> r).toMap
    got.foreach { r =>
      def lit(v: Any) = Literal.create(
        Option(v).map(s => new GenericArrayData(s.asInstanceOf[java.util.List[java.lang.Float]].asScala.toArray[Any])).orNull,
        ArrayType(FloatType))
      val in = byId(r.getInt(0))
      assert(bits(DotExpr(lit(in.get(1)), lit(in.get(2))).eval()) === bits(r.get(1)))
    }
  }

  test("graft_pairs then explode equals the lambda explode row for row (sizes 0, 1, 2, 1001)") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val lists = Seq(0, 1, 2, 1001).map(n => Seq.fill(n)(rnd.nextLong() % 5000))
    val df = lists.zipWithIndex.map(_.swap).toDF("id", "ms")
    assert(df.select(ArrayKernels.pairs(col("ms"))).schema.head.dataType ===
      df.select(expr(lambdaPairs)).schema.head.dataType)
    def rowsOf(pairs: org.apache.spark.sql.Column) =
      df.select(col("id"), posexplode(pairs)).select("id", "pos", "col.a", "col.b")
        .orderBy("id", "pos").as[(Int, Int, Long, Long)].collect().toSeq
    val got = rowsOf(ArrayKernels.pairs(col("ms")))
    assert(got.length === 1001 * 1000 / 2 + 1)
    assert(got === rowsOf(expr(lambdaPairs)))
  }
}
