package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail percentile: the highest one with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    for (n <- 1 to 3000; p <- Stats.tailPercentile(n)) {
      // beyond = samples above the nearest rank ceil(p * n / 100), in exact integers
      def above(q: Double) = n - (((q * 10).round * n + 999) / 1000).toInt
      val beyond = above(p)
      assert(beyond >= 10, s"n=$n p=$p leaves $beyond")
      // no higher rung of the ladder qualifies
      Stats.ladder.filter(_ > p).foreach(q => assert(above(q) < 10))
    }
  }

  test("tail value is the nearest-rank percentile of the samples") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.tail(xs).contains(90.0 -> 90.0))
    assert(Stats.tail(xs.take(19)).isEmpty)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 50) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("prefix differences attribute each layer and sum to the whole pipeline") {
    val prefixes = Seq("scan" -> 1.0, "geocode" -> 1.75, "cell" -> 1.7, "join" -> 2.5)
    val shares = Stats.prefixDifferences(prefixes)
    assert(shares.map(_._1) == prefixes.map(_._1))
    shares.map(_._2).zip(Seq(1.0, 0.75, -0.05, 0.8)).foreach { case (got, want) =>
      assert(math.abs(got - want) < 1e-12)
    }
    // a negative share is kept as measured, so the sum stays exact
    assert(math.abs(shares.map(_._2).sum - 2.5) < 1e-12)
    assert(shares(2)._2 < 0)
    assert(math.abs(Stats.attributionGap(shares, 2.0) - 0.25) < 1e-12)
  }

  test("failure accounting: throws and failed checks count, and are never timed") {
    val t = new Stats.Tally
    assert(t.attempt("ok")(41 + 1)(_ == 42).contains(42))
    assert(t.attempt[Int]("throws")(throw new IllegalStateException("boom"))(_ => true).isEmpty)
    assert(t.attempt("bad output")(7)(_ == 42).isEmpty)
    assert(t.attempt("check throws")(7)(_ => sys.error("no")).isEmpty)
    assert(t.attempted == 4)
    assert(t.failed == 3)
    assert(t.latencies.length == 1)
    assert(t.failRatio == 0.75)
    assert(t.failureCauses.keySet.exists(_.startsWith("throws: IllegalStateException: boom")))
    assert(t.failureCauses("bad output: output check failed") == 1)
  }

  test("a timed run's latency covers the operation but not its check") {
    val t = new Stats.Tally
    t.attempt("op")(())(_ => { Thread.sleep(200); true })
    assert(t.latencies.head < 0.1)
  }

  test("throughput: one of each operation over the sum of their medians") {
    // a burst that slows one sample of "b" does not move its median
    val byOp = Seq(Seq(1.0, 1.2, 0.8), Seq(3.0, 9.0, 3.0), Seq.empty)
    assert(Stats.throughput(byOp, itemsPerOp = 10) == 10 * 2 / 4.0)
    assert(Stats.throughput(Seq(Seq.empty), itemsPerOp = 10) == 0.0)
  }

  test("p50 geomean: geometric mean of each operation's median") {
    val byOp = Seq(Seq(1.0, 2.0, 9.0), Seq(8.0), Seq.empty)
    assert(math.abs(Stats.p50Geomean(byOp) - 4.0) < 1e-12)
    assert(Stats.p50Geomean(Seq(Seq(3.0, 1.0, 2.0))) == 2.0)
    assert(Stats.p50Geomean(Nil) == 0.0)
  }
}
