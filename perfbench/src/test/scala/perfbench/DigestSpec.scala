package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
    .config("spark.sql.session.timeZone", "UTC").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("rendering is exact and canonical") {
    assert(Digest.render(-0.0) == Digest.render(0.0))
    assert(Digest.render(Double.NaN) == Digest.render(java.lang.Double.longBitsToDouble(0x7ff8000000000001L)))
    assert(Digest.render(0.1 + 0.2) != Digest.render(0.3))
    assert(Digest.render(Array[Byte](0, 15, -1)) == "0x000fff")
    assert(Digest.render(Seq(1, 2)) != Digest.render(Seq(2, 1)))
    assert(Digest.render(Map("b" -> 1, "a" -> 2)) == Digest.render(Map("a" -> 2, "b" -> 1)))
    assert(Digest.render("a|b") != Digest.render(Seq("a", "b")))
    assert(Digest.render(null) != Digest.render("null"))
  }

  test("digest is order-insensitive but counts duplicates and sees every value") {
    val rows = Seq(Seq[Any](1L, "x", 2.5), Seq[Any](2L, "y", -0.0), Seq[Any](3L, "z", 1e-300))
    val d = Digest.ofRows(rows.iterator)
    assert(d == Digest.ofRows(rows.reverse.iterator))
    assert(d != Digest.ofRows((rows :+ rows.head).iterator))
    assert(d != Digest.ofRows(rows.updated(2, Seq[Any](3L, "z", 2e-300)).iterator))
    assert(Digest.parse(d.toString) == d)
  }

  test("DataFrame digest ignores row order, partitioning and column order") {
    import spark.implicits._
    val df = Seq((1L, "a", Array[Byte](1, 2), Seq(1.5, -0.0)), (2L, "b", Array[Byte](), Seq(2.0)),
      (3L, "c", Array[Byte](9), Seq.empty[Double])).toDF("id", "s", "b", "xs")
    val d = Digest.of(df)
    assert(d.rows == 3)
    assert(Digest.of(df.orderBy($"id".desc).repartition(3)) == d)
    assert(Digest.of(df.select("xs", "b", "id", "s")) == d)
    assert(Digest.of(df.withColumn("s", org.apache.spark.sql.functions.upper($"s"))) != d)
    // a driver-side digest over the same values in name order agrees
    val local = Digest.ofRows(df.collect().iterator.map(r =>
      Seq(r.getAs[Array[Byte]]("b"), r.getAs[Long]("id"), r.getAs[String]("s"), r.getAs[Seq[Double]]("xs"))))
    assert(local == d)
  }

  test("the seeded corpus has the PageGen schema and depends only on the seed") {
    val pageGen = graft.io.PageGen.generate(spark, 10).schema.map(f => f.name -> f.dataType)
    val ours = Corpus.generate(spark, 7, 10, 2)
    assert(ours.schema.map(f => f.name -> f.dataType) == pageGen)
    assert(Digest.of(ours) == Digest.of(Corpus.generate(spark, 7, 10, 3)))
    assert(Digest.of(ours) != Digest.of(Corpus.generate(spark, 8, 10, 2)))
    assert(ours.collect().forall(r => r.getAs[Array[Byte]]("html").sameElements(
      s"<html><body>${r.getAs[String]("text")}</body></html>".getBytes("UTF-8"))))
  }
}
