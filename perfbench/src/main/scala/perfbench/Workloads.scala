package perfbench

import graft.{Bench, SparkEntry}
import graft.core.Zones
import graft.expr.Geocode
import graft.ops.PipJoin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}

/** One workload: how it sets up, and its timed closed loop (one client,
  * the next operation starts when the previous one has ended). */
trait Workload {
  /** Items one operation completes, and their name (for the record). */
  def itemName: String
  def itemsPerOp: Double = 1.0
  /** One set-up, on a fresh session: inputs made or verified, expected
    * results computed or loaded, warm-up done. `first` is the run's first. */
  def setUp(ctx: Ctx, first: Boolean): Unit
  /** Output check on the session the timed loop will use, after set-up
    * and before timing; it also warms that session. */
  def check(ctx: Ctx): Unit = ()
  /** Untimed operations between the check and the timed loop, so the JIT
    * reaches its steady state before timing starts. */
  def warm(ctx: Ctx): Unit = ()
  /** The timed loop. */
  def measure(ctx: Ctx, ops: Ops): Unit
  /** Layer metrics of a traced run, measured after the timed loop. */
  def layers(ctx: Ctx, ops: Ops): Unit = ()
}

object Workloads {
  val names: Seq[String] = Seq("flagship", "headline")

  def apply(name: String): Workload = name match {
    case "flagship" => new Flagship
    case "headline" => new Headline
  }

  /** Run the loop body until `seconds` have passed and at least `minOps`
    * operations ran. */
  def loop(seconds: Int, minOps: Int)(body: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minOps || (System.nanoTime() - t0) / 1e9 < seconds) { body(i); i += 1 }
  }

  /** Execute a frame with a sink that computes every output column. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** Fixture tables of the headline workload and its DEM layer. The
  * benchmark ships the tables these queries read (`documents`,
  * `embeddings`); every other table the program registers as a view is an
  * empty stand-in. */
object Fixtures {
  private val used = Set("documents", "embeddings")

  def prepare(ctx: Ctx, sf: String, expectDocs: Long): String = {
    val src = ctx.args.fixtures.resolve(sf)
    val dst = ctx.data.resolve("fixtures").resolve(sf)
    val spark = ctx.spark
    if (!Files.exists(dst.resolve("_READY"))) {
      Ctx.delete(dst)
      Files.createDirectories(dst)
      graft.ops.Tables.names.foreach { t =>
        val from = src.resolve(s"$t.parquet")
        if (used(t) && Files.exists(from)) Files.copy(from, dst.resolve(s"$t.parquet"))
        else spark.range(0).selectExpr("cast(id as int) AS stub")
          .coalesce(1).write.parquet(dst.resolve(s"$t.parquet").toString)
      }
      Files.writeString(dst.resolve("_READY"), "")
    }
    val docs = Corpus.footer(spark, dst.resolve("documents.parquet"))
    require(docs == expectDocs, s"fixture $sf has $docs documents, expected $expectDocs")
    dst.toString
  }

  /** Recorded result digests: `<query> <digest>` per line. */
  def digests(ctx: Ctx): Map[String, Digest] =
    Files.readAllLines(ctx.args.fixtures.resolve("digests.txt")).toArray.map(_.toString)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(q, d) = l.split("\\s+"); q -> Digest.parse(d) }.toMap
}

/** flagship: Bench.flagship over a seeded corpus, scan → geocode → cell →
  * PIP join → zonal count → committed write (6 rows). */
final class Flagship extends Workload {
  // 2M pages in 16 files (~10 MB each): a pass takes ~0.5-1 s at local[4],
  // so a run times several passes after warm-up; four variants fit on disk
  val pages = 2000000L
  val parts = 16
  def itemName = "pages"
  override def itemsPerOp: Double = pages.toDouble
  private var corpus: Path = _
  private var expected: Corpus.Expected = _
  private var pass = 0

  /** The chain of Bench.flagship up to the geocoded pages. */
  private def geocoded(spark: SparkSession): DataFrame =
    spark.read.parquet(corpus.toString)
      .withColumn("__geo", Geocode.geocode(col("text")))
      .withColumn("lat", col("__geo").getItem(0))
      .withColumn("lon", col("__geo").getItem(1))
      .drop("__geo")

  /** One committed pass into a new output dir; returns the dir and the
    * committed row count. */
  private def commitPass(ctx: Ctx): (Path, Long) = {
    pass += 1
    val out = ctx.scratch(s"pass-$pass")
    out -> Bench.flagship(ctx.spark, corpus.toString, out.toString)
  }

  /** Output check of a pass (zonal counts equal the recount), then the
    * output is removed. */
  private def check(ctx: Ctx, out: Path, rows: Long): Boolean =
    try {
      val got = ctx.spark.read.parquet(out.resolve("data").toString)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      rows == expected.zoneCounts.size && got == expected.zoneCounts
    } finally Ctx.delete(out)

  def setUp(ctx: Ctx, first: Boolean): Unit = {
    val spark = ctx.spark
    val ((path, generated), genS) = Ctx.timed(Corpus.ensure(spark, ctx.data.resolve("corpus"), ctx.args.seed, pages, parts))
    corpus = path
    val ((exp, counted), countS) = Ctx.timed(Corpus.expected(spark, corpus))
    expected = exp
    if (first) {
      ctx.fact("corpus_s", genS.toString)
      ctx.fact("expected_s", countS.toString)
      ctx.fact("corpus_variant", Corpus.variant(ctx.args.seed).toString)
      ctx.fact("corpus_pages", pages.toString)
      ctx.fact("corpus_files", parts.toString)
      ctx.fact("corpus_generated", generated.toString)
      ctx.fact("expected_recounted", counted.toString)
      ctx.fact("expected_memberships", exp.zoneCounts.values.sum.toString)
      ctx.fact("expected_zone_counts", exp.zoneCounts.toSeq.sorted
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
      Corpus.evict(ctx.data.resolve("corpus"), keep = corpus)
    }
    // warm-up: one checked pass (JIT, codegen, file listing)
    val (out, rows) = commitPass(ctx)
    require(check(ctx, out, rows), "warm-up pass failed its output check")
  }

  override def warm(ctx: Ctx): Unit =
    Workloads.loop(Flagship.warmSeconds, minOps = 1) { _ =>
      val (out, rows) = commitPass(ctx)
      require(check(ctx, out, rows), "warm-up pass failed its output check")
    }

  def measure(ctx: Ctx, ops: Ops): Unit =
    Workloads.loop(ctx.args.seconds, minOps = 3) { _ =>
      var out: Path = null
      ops.run("pass", ctx.spark) { val r = commitPass(ctx); out = r._1; r._2 } {
        rows => check(ctx, out, rows)
      }
      if (out != null) Ctx.delete(out)
    }

  /** Prefix pipelines, each executed to a noop sink (the last one is the
    * committed pass itself), timed round-robin; consecutive medians are
    * subtracted to give each layer's share. Spark fuses scan, geocode, cell
    * and join into one codegen stage, so stage metrics cannot split them. */
  override def layers(ctx: Ctx, ops: Ops): Unit = {
    val spark = ctx.spark
    val geo = geocoded(spark)
    // each prefix keeps only the columns the next layer reads
    val prefixes: Seq[(String, () => Unit)] = Seq(
      "io.scan_s" -> (() => Workloads.noop(spark.read.parquet(corpus.toString).select("doc_id", "text"))),
      "expr.geocode_s" -> (() => Workloads.noop(geo.select("doc_id", "lat", "lon"))),
      "expr.cell_s" -> (() => Workloads.noop(PipJoin.withCell(geo, 6).select("doc_id", "lat", "lon", "cell"))),
      "pipjoin.join_s" -> (() => Workloads.noop(PipJoin.zoneMembership(spark, geo))),
      "flagship.aggregate_s" -> (() => Workloads.noop(PipJoin.zoneMembership(spark, geo)
        .groupBy("fid").agg(count(lit(1)).as("n_pages")))))
    val rounds = 3
    val times = scala.collection.mutable.Map[String, Seq[Double]]().withDefaultValue(Nil)
    val tails = scala.collection.mutable.ArrayBuffer[Double]()
    var commitBytes = 0L
    var commitFiles = 0
    val listener = Counters.attach(spark)
    (0 until rounds).foreach { _ =>
      prefixes.foreach { case (name, run) =>
        val (_, dt) = Ctx.timed(ctx.tracer.span(name, on = true)(run()))
        times(name) = times(name) :+ dt
      }
      val ((out, rows), dt) = Ctx.timed(ctx.tracer.span("io.commit_s", on = true)(commitPass(ctx)))
      val returned = System.currentTimeMillis()
      listener.snapshot(spark)
      tails += (returned - listener.lastJobEndMs) / 1000.0
      times("io.commit_s") = times("io.commit_s") :+ dt
      val (b, f) = Ctx.dirBytes(out.resolve("data"))
      commitBytes = b; commitFiles = f
      require(check(ctx, out, rows), "prefix round: committed pass failed its output check")
    }
    spark.sparkContext.removeSparkListener(listener)
    val order = prefixes.map(_._1) :+ "io.commit_s"
    val shares = Stats.prefixDifferences(order.map(n => n -> Stats.median(times(n))))
    shares.foreach { case (n, v) => ctx.layer(n, v, "s") }
    ctx.layer("io.commit_bytes", commitBytes.toDouble, "B")
    ctx.layer("io.commit_files", commitFiles.toDouble, "count")
    ctx.layer("io.commit_tail_s", Stats.median(tails.toSeq), "s")
    val untraced = if (ops.untracedLatencies.nonEmpty) ops.untracedLatencies else ops.tally.latencies
    ctx.layer("pipeline.attribution_gap", Stats.attributionGap(shares, Stats.median(untraced.toSeq)), "ratio")

    // join selectivity: candidates after the cell-equi join, and matches
    val withCell = PipJoin.withCell(geo, 6)
    val rc = PipJoin.ringCellsGrouped(spark, Zones.worldZones, 6)
    val candidates = withCell.join(broadcast(rc), "cell").count()
    val matches = PipJoin.zoneMembership(spark, geo).count()
    val want = expected.zoneCounts.values.sum
    require(matches == want, s"membership rows $matches != recount $want")
    ctx.layer("pipjoin.candidate_rows", candidates.toDouble, "count")
    ctx.layer("pipjoin.match_rows", matches.toDouble, "count")
    ctx.layer("pipjoin.hit_ratio", matches.toDouble / candidates, "ratio")
  }
}

object Flagship {
  /** Per-pass time still falls by about a quarter over the first ~10 s of
    * passes in a fresh JVM (measured on a 4-vCPU host); most of that is gone
    * after the set-up passes and this many seconds more. */
  val warmSeconds = 6
}

/** The ten Bench.headline queries over the sf0.1 fixture, in a warm
  * session; each operation builds one query and executes it to a noop sink.
  * Rounds visit the queries in a seeded order. */
final class Headline extends Workload {
  def itemName = "queries"
  private var dir: String = _
  private var passed: Map[String, Boolean] = Map.empty
  private val build = scala.collection.mutable.Map[String, Seq[Double]]().withDefaultValue(Nil)
  private val exec = scala.collection.mutable.Map[String, Seq[Double]]().withDefaultValue(Nil)

  /** Set-up builds every query once (view registration, session memos and
    * whatever else query build does), without executing it. */
  def setUp(ctx: Ctx, first: Boolean): Unit = {
    dir = Fixtures.prepare(ctx, "sf0.1", expectDocs = 5000)
    Bench.headline.foreach(q => SparkEntry.queries(q)(ctx.spark, dir))
    if (first) ctx.fact("fixture", "\"sf0.1 (5000 documents)\"")
  }

  /** Every query collected and digested once, which also warms the session
    * the timed loop uses; a query whose digest differs from the recorded
    * one, or that throws, fails every timed run. */
  override def check(ctx: Ctx): Unit = {
    val want = Fixtures.digests(ctx)
    passed = Bench.headline.map { q =>
      val got = try Some(Digest.of(SparkEntry.queries(q)(ctx.spark, dir)))
        catch { case e: Exception if scala.util.control.NonFatal(e) => None }
      if (ctx.args.record) println(s"$q ${got.map(_.toString).getOrElse("FAILED")}")
      q -> (got.isDefined && got == want.get(q))
    }.toMap
    ctx.fact("headline_checks_passed", passed.count(_._2).toString)
  }

  /** Untimed rounds, so the JIT reaches its steady state before timing. */
  override def warm(ctx: Ctx): Unit =
    Workloads.loop(Headline.warmSeconds, minOps = 1) { i =>
      val q = Bench.headline(i % Bench.headline.length)
      // a query that throws here throws again, and is counted, when timed
      try Workloads.noop(SparkEntry.queries(q)(ctx.spark, dir))
      catch { case e: Exception if scala.util.control.NonFatal(e) => () }
    }

  /** Whole rounds only, so every run weighs each query alike. */
  def measure(ctx: Ctx, ops: Ops): Unit = {
    val rnd = new scala.util.Random(ctx.args.seed)
    val n = Bench.headline.length
    var order = Seq.empty[String]
    val t0 = System.nanoTime()
    val minRounds = if (ctx.args.trace) 3 else 1 // a traced run needs an untraced twin round
    var i = 0
    while (i % n != 0 || i < minRounds * n || (System.nanoTime() - t0) / 1e9 < ctx.args.seconds) {
      if (i % n == 0) order = rnd.shuffle(Bench.headline)
      val q = order(i % n)
      ops.run(q, ctx.spark) {
        val (df, b) = Ctx.timed(SparkEntry.queries(q)(ctx.spark, dir))
        val (_, e) = Ctx.timed(Workloads.noop(df))
        b -> e
      } { _ => passed(q) }.foreach { case (b, e) =>
        build(q) = build(q) :+ b
        exec(q) = exec(q) :+ e
      }
      i += 1
    }
  }

  override def layers(ctx: Ctx, ops: Ops): Unit = {
    Bench.headline.foreach { q =>
      ctx.layer(s"headline.$q.build_ms", if (build(q).isEmpty) 0.0 else Stats.median(build(q)) * 1000, "ms")
      ctx.layer(s"headline.$q.exec_ms", if (exec(q).isEmpty) 0.0 else Stats.median(exec(q)) * 1000, "ms")
    }
    val bs = build.values.flatten.toSeq
    val es = exec.values.flatten.toSeq
    ctx.layer("headline.build_ms_p50", if (bs.isEmpty) 0.0 else Stats.median(bs) * 1000, "ms")
    ctx.layer("headline.exec_ms_p50", if (es.isEmpty) 0.0 else Stats.median(es) * 1000, "ms")
    DemLayer.measure(ctx, ops.tally)
  }
}

object Headline {
  /** Per-round time falls by about a third over the first ~60 s of a fresh
    * JVM, set-up included (measured on a 4-vCPU host); the set-ups and the
    * output check take ~25 s of that, and after these seconds more the
    * rounds are within ~10 % of where they level off. */
  val warmSeconds = 24
}

/** ops.Dem's Jacobi fixpoints, measured once in the traced headline run:
  * fill_depressions over the sf0.001 fixture in a fresh SparkSession (a new
  * session on the run's SparkContext), so the program's per-session memos
  * are cold while the JVM is warm. The query build is timed with the
  * action, because the fixpoint rounds run while the query is built. A run
  * that throws or fails its check counts as a failed operation of the run. */
object DemLayer {
  val queries: Seq[String] = Seq("fill_depressions")

  def measure(ctx: Ctx, tally: Stats.Tally): Unit = {
    val dir = Fixtures.prepare(ctx, "sf0.001", expectDocs = 500)
    val want = Fixtures.digests(ctx)
    val done = queries.flatMap { q =>
      val spark = ctx.spark.newSession()
      val sc = spark.sparkContext
      tally.attempt(q) {
        Ctx.timed {
          sc.setJobGroup(q, q)
          try Workloads.noop(SparkEntry.queries(q)(spark, dir))
          finally sc.clearJobGroup()
          sc.statusTracker.getJobIdsForGroup(q).length
        }
      } { case (launched, _) =>
        val got = Digest.of(SparkEntry.queries(q)(spark, dir))
        if (ctx.args.record) println(s"$q $got")
        // a fixpoint that launched no job was served from a memo: not cold
        launched >= 1 && want.get(q).contains(got)
      }.map { case (launched, s) =>
        ctx.layer(s"dem.${q}_s", s, "s")
        ctx.layer(s"dem.${q}_jobs", launched.toDouble, "count")
        launched -> s
      }
    }
    val jobs = done.map(_._1).sum
    ctx.layer("dem.s_per_job", if (jobs == 0) 0.0 else done.map(_._2).sum / jobs, "s")
  }
}
