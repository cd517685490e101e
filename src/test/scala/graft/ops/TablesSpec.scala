package graft.ops

import graft.SparkSpec

class TablesSpec extends SparkSpec {
  private val dir = sf("sf0.001")

  test("two live sessions keep their own cached table plans") {
    val sessions = Seq(spark, spark.newSession())
    val first = sessions.map(Tables.table(_, dir, "documents"))
    val second = sessions.map(Tables.table(_, dir, "documents"))
    first.zip(second).foreach { case (a, b) => assert(a eq b) }
    assert(!(first(0) eq first(1)))
  }
}
