package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** In-engine laws for the duplicate-cluster stage (connected components
  * over the verified near-dup pairs). The DuckDB twin proves values via
  * a round-free recursive transitive closure; these pin the properties
  * a per-row hash compare cannot express: label idempotence under the
  * edge relation, representative minimality, and consistency with the
  * verified pair set the clusters are built from. All at sf0.001.
  */
class DedupClustersSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  private def q(name: String) = graft.SparkEntry.queries(name)(spark, dir)

  test("every verified near-dup pair lands in one cluster") {
    val pairs = q("dedup_ngram_jaccard").filter("jaccard >= 0.5e0").select("a", "b")
    val lab = q("dedup_clusters").select(col("doc_id"), col("rep"))
    assert(pairs.count() > 0, "fixture must produce verified pairs")
    val j = pairs
      .join(lab.toDF("a", "ra"), "a")
      .join(lab.toDF("b", "rb"), "b")
    assert(j.count() == pairs.count(), "both endpoints of every pair must be labelled")
    assert(j.filter(col("ra") =!= col("rb")).count() == 0,
      "directly-verified near-dups must share a representative")
  }

  test("the representative is a member of its own cluster and its minimum") {
    val lab = q("dedup_clusters")
    // rep is the component minimum: no member sorts below its rep, and the
    // rep itself appears as a doc with rep = itself (labels are idempotent).
    assert(lab.filter(col("doc_id") < col("rep")).count() == 0,
      "no member may sort below its representative")
    val reps = lab.select(col("rep")).distinct()
    val selfLab = lab.filter(col("doc_id") === col("rep"))
    assert(reps.count() == selfLab.count(),
      "every representative must be labelled with itself")
  }

  test("cluster sizes sum to the labelled-doc count and are all >= 2") {
    val lab = q("dedup_clusters")
    val n = lab.count()
    val sum = lab.filter(col("doc_id") === col("rep"))
      .agg(org.apache.spark.sql.functions.sum("cluster_size")).head().getLong(0)
    assert(sum == n, "per-rep sizes must partition the labelled docs")
    // docs enter only via a verified pair, so singleton clusters are impossible
    assert(lab.filter(col("cluster_size") < 2).count() == 0,
      "every cluster stems from at least one verified pair")
  }

  test("keep-one-per-cluster survivor set is exactly the representatives") {
    val lab = q("dedup_clusters")
    val survivors = lab.filter(col("doc_id") === col("rep")).select("doc_id")
    val reps = lab.select(col("rep").as("doc_id")).distinct()
    assert(survivors.exceptAll(reps).isEmpty && reps.exceptAll(survivors).isEmpty,
      "dedup keep-min rule: survivors == distinct representatives")
  }
}
