package perfbench

/** Pure summary logic of the benchmark: percentiles, layer attribution by
  * prefix differences, and failure accounting. No Spark here, so every
  * rule is unit-tested in isolation. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
  }

  /** Closed-loop throughput: the items of one cycle, one of each distinct
    * operation, over the sum of the operations' median latencies. A median
    * per operation keeps a burst of host slowness inside one operation out
    * of the figure, where the time of a whole cycle would take it in. */
  def throughput(latenciesByOp: Seq[Seq[Double]], itemsPerOp: Double): Double = {
    val ran = latenciesByOp.filter(_.nonEmpty)
    if (ran.isEmpty) 0.0 else itemsPerOp * ran.length / ran.map(median).sum
  }

  /** Typical latency of a closed loop over distinct operations: the
    * geometric mean of the operations' median latencies, so every operation
    * weighs alike whatever its size (for a single operation, its median).
    * The median of all samples together would instead jump between the
    * operations in the middle of the mix as their speeds shift. */
  def p50Geomean(latenciesByOp: Seq[Seq[Double]]): Double = {
    val ran = latenciesByOp.filter(_.nonEmpty)
    if (ran.isEmpty) 0.0 else math.exp(ran.map(xs => math.log(median(xs))).sum / ran.length)
  }

  /** Nearest rank (1-based) of percentile p among n samples, computed in
    * decimal so that, say, p99.9 of 10000 samples is rank 9990 exactly. */
  def rank(p: Double, n: Int): Int =
    (BigDecimal(p) * n / 100).setScale(0, BigDecimal.RoundingMode.CEILING).toInt

  /** Nearest-rank percentile (p in (0, 100]). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(math.max(rank(p, s.length), 1), s.length) - 1)
  }

  /** Percentiles the tail is chosen from, highest first. */
  val ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest ladder percentile that leaves at least `beyond` samples
    * strictly above its nearest rank, or None when even the median does
    * not (fewer than 2 * beyond samples). */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    ladder.find(p => n - rank(p, n) >= beyond)

  /** (percentile, value) of the tail rule, if any percentile qualifies. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] =
    tailPercentile(xs.length, beyond).map(p => p -> percentile(xs, p))

  /** Attribute a pipeline's time to its layers from prefix timings.
    *
    * `prefixes` lists (layer, seconds) in pipeline order, where each time is
    * that of the pipeline cut after the layer. A layer's share is its
    * prefix time minus the previous prefix time; the shares therefore sum to
    * the last prefix time exactly. A negative share (noise, or a fused stage
    * that got cheaper with more work) is kept as measured, not clamped, so
    * the sum stays exact. */
  def prefixDifferences(prefixes: Seq[(String, Double)]): Seq[(String, Double)] =
    prefixes.zip(0.0 +: prefixes.map(_._2)).map { case ((name, t), prev) => name -> (t - prev) }

  /** Relative gap between the attributed sum and an independently timed
    * whole pipeline. */
  def attributionGap(shares: Seq[(String, Double)], whole: Double): Double =
    math.abs(shares.map(_._2).sum - whole) / whole

  /** Failure accounting: every attempted operation either succeeds, adding
    * its latency to the samples, or fails (it threw, or its output check
    * failed) and adds nothing to the samples. */
  final class Tally {
    private val samples = scala.collection.mutable.ArrayBuffer[Double]()
    private var failures = 0
    private val causes = scala.collection.mutable.LinkedHashMap[String, Int]()

    def success(seconds: Double): Unit = samples += seconds
    def failure(cause: String): Unit = {
      failures += 1
      causes(cause) = causes.getOrElse(cause, 0) + 1
    }

    /** Run `timed`, then check its result outside the timed region, and
      * account for it. Only a run that returns and passes its check adds
      * its time to the samples; a throw in either part, or a failed check,
      * counts as a failure. Returns the result if it succeeded. */
    def attempt[T](what: String)(timed: => T)(check: T => Boolean): Option[T] =
      try {
        val t0 = System.nanoTime()
        val out = timed
        val dt = (System.nanoTime() - t0) / 1e9
        if (check(out)) { success(dt); Some(out) }
        else { failure(s"$what: output check failed"); None }
      } catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          failure(s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
          None
      }

    def latencies: Seq[Double] = samples.toSeq
    def attempted: Int = samples.length + failures
    def failed: Int = failures
    def failRatio: Double = if (attempted == 0) 0.0 else failures.toDouble / attempted
    def failureCauses: Map[String, Int] = causes.toMap
  }
}
