package perfbench

import java.nio.file.Paths

/** Benchmark entry point. Usage:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --fixtures <dir> [--record]
  *
  * Prints one record line (host, sizes, samples, failures) and then, as the
  * last line, the result: {"correct", "attempted", "failed", "metrics"}.
  * With --trace 0 the metrics are the end-to-end ones, measured with
  * tracing off; with --trace 1 they are the per-layer ones. --record prints
  * the result digests of the checked queries, to refresh digests.txt. */
object Main {
  val setUps = 3

  def parse(a: Array[String]): Args = {
    val kv = a.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val wl = need("workload")
    require(Workloads.names.contains(wl), s"unknown workload '$wl' (one of ${Workloads.names.mkString(", ")})")
    Args(wl, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("fixtures")).toAbsolutePath, a.contains("--record"))
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    require(java.nio.file.Files.isDirectory(args.fixtures), s"no fixtures at ${args.fixtures}")
    val ctx = new Ctx(args)
    val wl = Workloads(args.workload)
    val ops = new Ops(ctx, period = args.workload match {
      case "headline" => graft.Bench.headline.length
      case _ => 1
    })
    try {
      val setups = (0 until setUps).map { i =>
        Ctx.timed { ctx.freshSession(); wl.setUp(ctx, first = i == 0) }._2
      }
      wl.check(ctx)
      wl.warm(ctx)
      wl.measure(ctx, ops)
      val lat = ops.tally.latencies
      if (args.trace) {
        wl.layers(ctx, ops)
        ops.recordLayers()
        Micro.run(args.seed).foreach { case (k, v) => ctx.layer(k, v, "ns") }
      }
      ctx.fact("host_probe_md5_ns", num(Micro.hostProbe()))
      val sparkVersion = ctx.spark.version
      ctx.stop()

      val endToEnd: Seq[(String, Double, String)] = Seq(
        ("setup_s", Stats.median(setups), "s"),
        ("throughput_per_s", ops.throughput(wl.itemsPerOp), "1/s"),
        ("latency_ms_p50_geomean", Stats.p50Geomean(ops.byName.values.map(_.toSeq).toSeq) * 1000, "ms"),
        ("peak_rss_mb", Jvm.peakRssMb(), "MB"))
      val metrics =
        if (args.trace) Layers.complete(ctx.layers)
        else endToEnd
      val tail = Stats.tail(lat).map { case (p, v) => s"""{"percentile":${num(p)},"ms":${num(v * 1000)}}""" }
      val rt = Runtime.getRuntime
      val host = Seq(
        "nproc" -> ctx.cores.toString, "master" -> str(ctx.master),
        "xmx_mb" -> (rt.maxMemory / (1 << 20)).toString,
        "jvm" -> str(s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}"),
        "spark" -> str(sparkVersion))
      val record = Seq(
        "workload" -> str(args.workload), "seed" -> args.seed.toString,
        "seconds" -> args.seconds.toString, "trace" -> args.trace.toString,
        "host" -> host.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}"),
        "items" -> str(wl.itemName), "samples" -> lat.length.toString,
        "setup_s" -> setups.map(num).mkString("[", ",", "]"),
        "latency_ms" -> lat.map(v => num(v * 1000)).mkString("[", ",", "]"),
        "latency_ms_p50" -> (if (lat.isEmpty) "null" else num(Stats.median(lat) * 1000)),
        "latency_tail" -> tail.getOrElse("null"),
        "latency_ms_p50_by_op" -> ops.byName.map { case (k, v) => s"${str(k)}:${num(Stats.median(v.toSeq) * 1000)}" }
          .mkString("{", ",", "}"),
        "fail_ratio" -> num(ops.tally.failRatio),
        "failures" -> ops.tally.failureCauses.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
      ) ++ ctx.facts.toSeq
      val recordLine = record.map { case (k, v) => s"${str(k)}:$v" }.mkString("{\"record\":{", ",", "}}")
      println(recordLine)
      ctx.tracer.write(ctx.data.resolve("trace").resolve(s"${ctx.tracer.run}.jsonl"), recordLine)
      val correct = ops.tally.failed == 0 && ops.tally.attempted > 0
      println(s"""{"correct":$correct,"attempted":${ops.tally.attempted},"failed":${ops.tally.failed},""" +
        metrics.map { case (k, v, u) => s"""${str(k)}:{"value":${num(v)},"unit":${str(u)}}""" }
          .mkString("\"metrics\":{", ",", "}}"))
    } finally ctx.stop()
  }
}
