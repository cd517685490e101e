package perfbench

/** Every per-layer metric a traced run prints, with its unit. A layer the
  * workload does not exercise reports 0: for example io.commit_bytes on
  * headline, or headline.* and dem.* on flagship. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    // flagship: prefix-pipeline split and join selectivity
    "io.scan_s" -> "s", "expr.geocode_s" -> "s", "expr.cell_s" -> "s",
    "pipjoin.join_s" -> "s", "flagship.aggregate_s" -> "s", "io.commit_s" -> "s",
    "io.commit_bytes" -> "B", "io.commit_files" -> "count", "io.commit_tail_s" -> "s",
    "pipeline.attribution_gap" -> "ratio",
    "pipjoin.candidate_rows" -> "count", "pipjoin.match_rows" -> "count",
    "pipjoin.hit_ratio" -> "ratio") ++
    // headline: query build (SparkEntry / ops.Tables) vs execution
    graft.Bench.headline.flatMap(q => Seq(s"headline.$q.build_ms" -> "ms", s"headline.$q.exec_ms" -> "ms")) ++
    Seq("headline.build_ms_p50" -> "ms", "headline.exec_ms_p50" -> "ms",
      // ops.Dem rounds, measured in the headline run
      "dem.fill_depressions_s" -> "s", "dem.fill_depressions_jobs" -> "count", "dem.s_per_job" -> "s",
      // Spark runtime and JVM, per traced operation of the run's workload
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.task_busy_ratio" -> "ratio", "spark.shuffle_read_bytes" -> "B",
      "spark.shuffle_write_bytes" -> "B", "spark.spill_bytes" -> "B",
      "jvm.gc_s" -> "s", "jvm.gc_count" -> "count", "trace_overhead_ratio" -> "ratio",
      // expr kernels, single-thread
      "expr.geocode_ns_per_row" -> "ns", "expr.morton_ns_per_row" -> "ns",
      "expr.pip_any_ns_per_row" -> "ns", "expr.point_in_polygon_ns_per_row" -> "ns",
      "expr.minhash_ns_per_row" -> "ns", "expr.md5_ns_per_row" -> "ns")

  /** The metrics of a traced run in canonical order, zero where unmeasured. */
  def complete(measured: collection.Map[String, (Double, String)]): Seq[(String, Double, String)] = {
    val known = all.map(_._1).toSet
    val stray = measured.keySet.filterNot(known)
    require(stray.isEmpty, s"per-layer metrics missing from Layers.all: ${stray.mkString(", ")}")
    all.map { case (k, u) =>
      measured.get(k).foreach { case (_, mu) => require(mu == u, s"$k measured in $mu, declared in $u") }
      (k, measured.get(k).map(_._1).getOrElse(0.0), u)
    }
  }
}
