package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** Spans kept in memory and written as JSON lines when the run ends. A span
  * records its name, start and end (ns on the JVM's monotonic clock), the
  * index of the span that encloses it, and the run id shared by all spans of
  * one run. With `on` false, `span` is a plain call. */
final class Tracer(val run: String) {
  import Tracer.Span
  private val spans = ArrayBuffer[Span]()
  private var open = List.empty[Int]

  def span[T](name: String, on: Boolean)(f: => T): T =
    if (!on) f
    else {
      val idx = spans.length
      spans += Span(name, System.nanoTime(), -1L, open.headOption.getOrElse(-1))
      open = idx :: open
      try f
      finally {
        spans(idx) = spans(idx).copy(end = System.nanoTime())
        open = open.tail
      }
    }

  /** Write the spans as JSON lines after a header line (the run's record). */
  def write(file: Path, header: String): Unit = if (spans.nonEmpty) {
    Files.createDirectories(file.getParent)
    val lines = spans.zipWithIndex.map { case (s, i) =>
      s"""{"id":$i,"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""parent":${if (s.parent < 0) "null" else s.parent},"run":"$run"}"""
    }
    Files.writeString(file, (header +: lines).mkString("", "\n", "\n"))
  }
}

object Tracer {
  private final case class Span(name: String, start: Long, end: Long, parent: Int)
}

/** Scheduler and shuffle counts of one session, from a SparkListener that
  * the benchmark registers itself. */
final class Counters extends SparkListener {
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var taskRunMs = 0L
  @volatile var shuffleReadBytes = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var spillBytes = 0L
  @volatile var lastJobEndMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastJobEndMs = math.max(lastJobEndMs, e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snapshot(spark: SparkSession): Counters.Snap = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    synchronized {
      Counters.Snap(jobs, stages, tasks, taskRunMs, shuffleReadBytes,
        shuffleWriteBytes, spillBytes)
    }
  }
}

object Counters {
  final case class Snap(jobs: Long, stages: Long, tasks: Long, taskRunMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      taskRunMs - o.taskRunMs, shuffleReadBytes - o.shuffleReadBytes,
      shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes)
    def +(o: Snap): Snap = Snap(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
      taskRunMs + o.taskRunMs, shuffleReadBytes + o.shuffleReadBytes,
      shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes)
  }
  val zero: Snap = Snap(0, 0, 0, 0, 0, 0, 0)

  def attach(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    c
  }
}

/** JVM-wide figures from the platform MXBeans and /proc. */
object Jvm {
  final case class Gc(count: Long, seconds: Double) {
    def -(o: Gc): Gc = Gc(count - o.count, seconds - o.seconds)
  }

  def gc(): Gc = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean])
    Gc(beans.map(b => math.max(b.getCollectionCount, 0L)).sum,
      beans.map(b => math.max(b.getCollectionTime, 0L)).sum / 1000.0)
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
}
