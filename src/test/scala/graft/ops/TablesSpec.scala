package graft.ops

import graft.SparkSpec
import graft.io.Parquet
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

class TablesSpec extends SparkSpec {
  private val dir = sf("sf0.001")

  test("two live sessions keep their own cached table plans") {
    val sessions = Seq(spark, spark.newSession())
    val first = sessions.map(Tables.table(_, dir, "documents"))
    val second = sessions.map(Tables.table(_, dir, "documents"))
    first.zip(second).foreach { case (a, b) => assert(a eq b) }
    assert(!(first(0) eq first(1)))
  }

  private def sameAsInference(path: String)(rows: DataFrame => DataFrame): Unit = {
    val (got, want) = (Parquet.read(spark, path), spark.read.parquet(path))
    assert(got.schema == want.schema, path)
    assert(rows(got).collect().toSeq == rows(want).collect().toSeq, path)
  }

  test("the footer reader equals spark.read.parquet on every sf0.001 table") {
    Tables.names.foreach(n => sameAsInference(s"$dir/$n.parquet")(identity))
  }

  test("the footer reader equals spark.read.parquet on a Spark-written directory") {
    val out = Files.createTempDirectory("graft_parquet").resolve("t").toString
    spark.range(0, 200, 1, 4).selectExpr("id",
        "timestamp_seconds(id * 3600) AS ts",
        "encode(cast(id AS string), 'UTF-8') AS bin",
        "array(cast(id AS float), cast(id / 3 AS float)) AS vec")
      .write.parquet(out)
    val names = new java.io.File(out).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")))
    sameAsInference(out)(_.orderBy("id"))
  }

  test("registering a fresh session launches no Spark job") {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some("tables-register") => jobs.incrementAndGet()
          case Some("tables-marker") => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("tables-register", "register")
      Tables.register(spark.newSession(), dir)
      // a listener sees jobs in launch order: once the marker job is seen,
      // every job the registration launched has been counted
      sc.setJobGroup("tables-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, TimeUnit.SECONDS))
      assert(jobs.get == 0)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a missing path throws what spark.read.parquet throws") {
    val missing = s"$dir/no_such_table.parquet"
    val want = intercept[Exception](spark.read.parquet(missing)).getClass
    assert(intercept[Exception](Parquet.read(spark, missing)).getClass == want)
  }
}
