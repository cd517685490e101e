package graft.ops

import graft.{Bench, SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col

/** The headline queries with a top-k, a capped list or a dot product run
  * on the native aggregates and kernels: no encoder-based aggregate and no
  * lambda function in the executed plan, since each brings its own
  * generated classes into Spark's bounded codegen cache.
  *
  * A gate returns a relation, so no headline query orders its rows: the
  * executed plan (AQE final, subqueries included) holds no global sort and
  * no range-partitioned exchange. Only `SparkEntry.ordered` orders rows. */
class PlanShapeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  for (q <- Seq("knn_radius", "ann_cosine_topk", "dedup_minhash_lsh")) {
    test(s"$q executes with no ScalaAggregator and no HigherOrderFunction") {
      val df = SparkEntry.queries(q)(spark, sf("sf0.001"))
      df.collect()
      val plan = df.queryExecution.executedPlan
      val found = collectWithSubqueries(plan) { case p => p }.flatMap(_.expressions.flatMap(_.collect {
        case e: ScalaAggregator[_, _, _] => e.prettyName
        case e: HigherOrderFunction => e.prettyName
      }))
      assert(found.isEmpty, s"in\n${plan.treeString}")
    }
  }

  /** Global sorts and range exchanges of `df`'s executed plan, after it ran. */
  private def orderingNodes(df: DataFrame): Seq[String] =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: SortExec if s.global => s"global Sort ${s.sortOrder.mkString(", ")}"
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] =>
        s"range Exchange ${e.outputPartitioning}"
    }

  for (q <- Bench.headline) {
    test(s"$q executes with no global sort and no range exchange") {
      val df = SparkEntry.queries(q)(spark, sf("sf0.001"))
      df.collect()
      val found = orderingNodes(df)
      assert(found.isEmpty, s"in\n${df.queryExecution.executedPlan.treeString}")
    }
  }

  test("SparkEntry.ordered gives one partition sorted by every column, same rows") {
    val df = SparkEntry.queries("pip_zonal_count")(spark, sf("sf0.001"))
    val out = SparkEntry.ordered(df)
    assert(out.columns.toSeq == df.columns.toSeq)
    assert(out.rdd.getNumPartitions == 1)
    val rows = out.collect().toSeq
    assert(rows.size > 1)
    assert(rows == df.orderBy(df.columns.map(col).toIndexedSeq: _*).collect().toSeq)
    assert(out.exceptAll(df).isEmpty && df.exceptAll(out).isEmpty)
    assert(orderingNodes(out).filter(_.startsWith("range")).isEmpty)
  }
}
