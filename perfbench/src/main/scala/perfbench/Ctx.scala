package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    fixtures: Path, record: Boolean)

/** State of one benchmark run: the current session, the tracer, and the
  * metrics and facts gathered so far. Everything the run writes goes under
  * `.bench_data` in the working directory. */
final class Ctx(val args: Args) {
  val root: Path = Paths.get("").toAbsolutePath
  val data: Path = root.resolve(".bench_data")
  val cores: Int = Runtime.getRuntime.availableProcessors
  val master = s"local[$cores]"
  val tracer = new Tracer(s"${args.workload}-s${args.seed}-${System.currentTimeMillis}")

  /** Per-layer metrics, in the order they were measured. */
  val layers: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap()
  def layer(name: String, value: Double, unit: String): Unit = layers(name) = value -> unit

  /** Facts for the record line printed before the result (raw JSON values). */
  val facts: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap()
  def fact(name: String, json: String): Unit = facts(name) = json

  private var current: SparkSession = _
  def spark: SparkSession = current

  /** Stop the current session, if any, and start a new one: a new
    * SparkContext, so every per-session memo of the program starts cold. */
  def freshSession(): SparkSession = {
    stop()
    Files.createDirectories(data)
    current = SparkSession.builder()
      .master(master)
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.local.dir", data.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", data.resolve("warehouse").toString)
      .getOrCreate()
    current.sparkContext.setLogLevel("WARN")
    current
  }

  def stop(): Unit = if (current != null) { current.stop(); current = null }

  def scratch(name: String): Path = {
    val p = data.resolve("out").resolve(name)
    Ctx.delete(p)
    p
  }
}

object Ctx {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).toArray.map(_.asInstanceOf[Path]).sortBy(-_.getNameCount)
    all.foreach(Files.delete)
  }

  def dirBytes(p: Path): (Long, Int) = {
    val files = Files.list(p).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
    files.map(Files.size).sum -> files.length
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    r -> (System.nanoTime() - t0) / 1e9
  }
}

/** The timed operations of one run, with failure accounting and, in a
  * traced run, per-operation spans and listener counts. In a traced run
  * tracing switches on and off every `period` operations, so each traced
  * cycle of distinct operations has an untraced twin and the cost of
  * tracing is measured in the same run. The first cycle runs untraced and
  * is left out of that comparison: it is the one that pays JIT warm-up. */
final class Ops(ctx: Ctx, period: Int) {
  val tally = new Stats.Tally
  val tracedLatencies = mutable.ArrayBuffer[Double]()
  val untracedLatencies = mutable.ArrayBuffer[Double]()
  /** Passing latencies per operation name, in first-seen order. */
  val byName = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private var n = 0
  private var counts = Counters.zero
  private var gc = Jvm.Gc(0, 0.0)
  private var tracedOps = 0

  /** Items completed per second, from the passing latencies of each
    * distinct operation (see Stats.throughput). */
  def throughput(itemsPerOp: Double): Double =
    Stats.throughput(byName.values.map(_.toSeq).toSeq, itemsPerOp)

  def run[T](what: String, spark: SparkSession)(timed: => T)
      (check: T => Boolean): Option[T] = {
    val cycle = n / period
    val traced = ctx.args.trace && cycle % 2 == 1
    n += 1
    val listener = if (traced) Some(Counters.attach(spark)) else None
    val before = listener.map(_.snapshot(spark))
    var after = before
    val gc0 = Jvm.gc()
    val done = tally.latencies.length
    // the listener window closes before the untimed output check
    val r = ctx.tracer.span(what, traced)(tally.attempt(what) {
      val out = timed
      after = listener.map(_.snapshot(spark))
      out
    }(check))
    if (tally.latencies.length > done) {
      byName.getOrElseUpdate(what, mutable.ArrayBuffer()) += tally.latencies.last
      if (traced) tracedLatencies += tally.latencies.last
      else if (cycle > 0) untracedLatencies += tally.latencies.last
    }
    listener.foreach { l =>
      counts = counts + (after.get - before.get)
      val g = Jvm.gc() - gc0
      gc = Jvm.Gc(gc.count + g.count, gc.seconds + g.seconds)
      tracedOps += 1
      spark.sparkContext.removeSparkListener(l)
    }
    r
  }

  /** Per-operation Spark and JVM counts of the traced operations. */
  def recordLayers(): Unit = {
    val k = math.max(tracedOps, 1).toDouble
    ctx.layer("spark.jobs", counts.jobs / k, "count")
    ctx.layer("spark.stages", counts.stages / k, "count")
    ctx.layer("spark.tasks", counts.tasks / k, "count")
    val busy = if (tracedLatencies.isEmpty) 0.0
      else counts.taskRunMs / 1000.0 / (tracedLatencies.sum * ctx.cores)
    ctx.layer("spark.task_busy_ratio", busy, "ratio")
    ctx.layer("spark.shuffle_read_bytes", counts.shuffleReadBytes / k, "B")
    ctx.layer("spark.shuffle_write_bytes", counts.shuffleWriteBytes / k, "B")
    ctx.layer("spark.spill_bytes", counts.spillBytes / k, "B")
    ctx.layer("jvm.gc_s", gc.seconds / k, "s")
    ctx.layer("jvm.gc_count", gc.count / k, "count")
    val ratio = if (tracedLatencies.isEmpty || untracedLatencies.isEmpty) 0.0
      else Stats.median(tracedLatencies.toSeq) / Stats.median(untracedLatencies.toSeq)
    ctx.layer("trace_overhead_ratio", ratio, "ratio")
  }
}
