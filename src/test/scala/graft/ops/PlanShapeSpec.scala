package graft.ops

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ScalaAggregator

/** The headline queries with a top-k, a capped list or a dot product run
  * on the native aggregates and kernels: no encoder-based aggregate and no
  * lambda function in the executed plan, since each brings its own
  * generated classes into Spark's bounded codegen cache. */
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
}
