package graft.ops

import graft.core.Gates
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Reference-faithful approximate kNN: expanding-square shell scan over FRS
  * buckets (fixed_radius_search.rs:134-218).
  *
  * Semantics cloned from the reference:
  *   - bucket width w = r/2, key = (floor(x/w), floor(y/w))   [:66,104-108]
  *   - start with the 3×3 block (shells 0..1)                 [:150-166]
  *   - while fewer than k candidates seen, scan the next full square shell
  *     (Chebyshev ring: |m|==shell or |n|==shell)              [:180-204]
  *   - result = k smallest squared distances among ALL scanned buckets
  *     (a closer point can hide in an unscanned shell — the reference
  *     accepts this approximation, :132-133)
  *   - tie-break: the reference keeps earlier-inserted candidates on equal
  *     d² (NMinimizer insert uses strict <, n_minimizer.rs:41-58); bucket
  *     scan order is not reproducible in a parallel join, so we impose
  *     (d², id) — deterministic, and identical to the reference whenever
  *     d² values are distinct.
  *
  * Plan: driver-controlled loop, one batched cell-equi join per round over
  * the *still-unsatisfied* queries (the frontier shrinks every round, so
  * late rounds touch a vanishing fraction of data). Candidates accumulate
  * per query in a persisted DataFrame; each round keeps only the k best per
  * query via the bounded TopKByDist aggregator (≡ NMinimizer, O(k) state,
  * map-side partials) so accumulator size stays ≤ k·|queries| regardless
  * of density. No broadcast of the point side; skewed buckets are split
  * by AQE.
  */
/** Driver-gated query + DuckDB twin for the shell scan: the expansion is
  * data-dependent, but its RESULT is declarative — the stop shell is
  * S(q) = max(1, min{s ≥ 1 : #points with Chebyshev bucket-shell ≤ s ≥ k})
  * (the reference scans the 3×3 start block, then whole shells until ≥ k
  * candidates are seen, fixed_radius_search.rs:150-204), and the answer is
  * the k smallest (d², id) among points with shell ≤ S. The twin
  * transcribes exactly that in SQL; the Spark side runs the real iterative
  * KnnShell.knn loop — the compare proves the loop equivalent. */
object KnnShellGate extends Gates {

  private val k = 4
  private val nycBox = "lon >= -74.05e0 AND lon <= -73.85e0 AND lat >= 40.65e0 AND lat <= 40.85e0"
  private val qpts: Seq[(Int, Double, Double)] = Seq(
    (1, -74.0, 40.7), (2, -73.95, 40.75), (3, -73.9, 40.8),
    (4, -74.02, 40.66), (5, -73.87, 40.83))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "knn_shell" -> ((s, dir) => {
      import s.implicits._
      val q = qpts.toDF("qid", "qx", "qy")
      val pts = Tables.pages(s, dir).filter(expr(nycBox))
        .selectExpr("doc_id AS id", "lon AS x", "lat AS y")
      KnnShell.knn(s, q, pts, k = k, r = 0.02)
    })
  )

  def oracles: Map[String, String] = Map(
    "knn_shell" -> {
      val w = "(0.02e0 * 0.5e0)" // bucket width = r/2, same op as the Scala side
      val qRows = qpts.map { case (i, x, y) =>
        s"($i, ${graft.core.Lit.d(x)}, ${graft.core.Lit.d(y)})"
      }.mkString(", ")
      s"${graft.core.Geo.pagesWith(graft.core.DuckD)}, " +
        s"q(qid, qx, qy) AS (VALUES $qRows), " +
        s"pts AS (SELECT doc_id AS id, lon AS x, lat AS y FROM pages WHERE $nycBox), " +
        s"dd AS (SELECT qid, id, " +
        s"greatest(abs(cast(floor(x / $w) as bigint) - cast(floor(qx / $w) as bigint)), " +
        s"abs(cast(floor(y / $w) as bigint) - cast(floor(qy / $w) as bigint))) AS s, " +
        "(x - qx) * (x - qx) + (y - qy) * (y - qy) AS d2 FROM q, pts), " +
        "cums AS (SELECT qid, s, count(*) AS c FROM dd GROUP BY 1, 2), " +
        "cum AS (SELECT qid, s, sum(c) OVER (PARTITION BY qid ORDER BY s " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n FROM cums), " +
        // stop shell: first present shell where the running count reaches k
        // (floored at 1 — the 3×3 start block is always scanned); if k is
        // never reached, all shells (the fixture maxes out well under the
        // Scala side's maxShell=64 world-edge bound)
        s"stop AS (SELECT q.qid, coalesce((SELECT greatest(min(s), 1) FROM cum " +
        s"WHERE cum.qid = q.qid AND n >= $k), " +
        "(SELECT max(s) FROM cum WHERE cum.qid = q.qid)) AS smax FROM q), " +
        "r AS (SELECT dd.qid, id, d2, row_number() OVER (PARTITION BY dd.qid ORDER BY d2, id) AS rank " +
        "FROM dd JOIN stop ON dd.qid = stop.qid AND dd.s <= smax) " +
        s"SELECT qid, cast(rank as int) AS rank, id, d2 FROM r WHERE rank <= $k ORDER BY qid, rank"
    }
  )
}

object KnnShell {

  /** @param queries (qid, qx, qy)
    * @param points  (id, x, y)
    * @param k       neighbours wanted
    * @param r       FRS radius parameter (bucket width = r/2)
    * @param maxShell safety bound on expansion (world edge) */
  def knn(spark: SparkSession, queries: DataFrame, points: DataFrame,
          k: Int, r: Double, maxShell: Int = 64): DataFrame = {
    import spark.implicits._
    val w = r * 0.5
    val pts = points.select(col("id"), col("x"), col("y"),
      floor(col("x") / w).cast("long").as("bx"),
      floor(col("y") / w).cast("long").as("by"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    def ringOffsets(shellLo: Int, shellHi: Int): Seq[(Int, Int)] =
      for {
        m <- -shellHi to shellHi; n <- -shellHi to shellHi
        s = math.max(math.abs(m), math.abs(n))
        if s >= shellLo && s <= shellHi
      } yield (m, n)

    def candidates(active: DataFrame, shellLo: Int, shellHi: Int): DataFrame = {
      val offDf = ringOffsets(shellLo, shellHi).toDF("m", "n")
      active
        .withColumn("qbx", floor(col("qx") / w).cast("long"))
        .withColumn("qby", floor(col("qy") / w).cast("long"))
        .crossJoin(broadcast(offDf))
        .withColumn("bx", col("qbx") + col("m"))
        .withColumn("by", col("qby") + col("n"))
        .join(pts, Seq("bx", "by"))
        .select(col("qid"), col("qx"), col("qy"), col("id"),
          ((col("x") - col("qx")) * (col("x") - col("qx")) +
           (col("y") - col("qy")) * (col("y") - col("qy"))).as("d2"))
    }

    // Per-round prune: the bounded TopKByDist aggregator (≡ NMinimizer,
    // O(k) state, map-side partials) — not a per-qid sort window; the
    // shuffle carries ≤ k rows per query each round.
    def prune(df: DataFrame): DataFrame =
      df.groupBy("qid")
        .agg(max("qx").as("qx"), max("qy").as("qy"),
          graft.agg.TopKByDist.topK(k)(col("d2"), col("id")).as("tk"))
        .select(col("qid"), col("qx"), col("qy"), explode(col("tk")).as("e"))
        .select(col("qid"), col("qx"), col("qy"),
          col("e.id").as("id"), col("e.dist").as("d2"))

    val active = queries.select(col("qid"), col("qx"), col("qy"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Round 0: the 3×3 start block (shells 0..1). Eager localCheckpoint
    // truncates lineage every round — without it the logical plan doubles
    // per iteration (SURVEY §2.5: Dataset loop + checkpoint every k iters).
    var acc = prune(candidates(active, 0, 1))
      .localCheckpoint()
    var shell = 2
    var done = false
    while (!done && shell <= maxShell) {
      val counts = acc.groupBy("qid").agg(count(lit(1)).as("found"))
      val unsatisfied = active.join(
        counts.filter(col("found") >= k).select("qid"), Seq("qid"), "left_anti")
        .localCheckpoint()
      if (unsatisfied.isEmpty) done = true
      else {
        // one complete shell per round — the reference checks the stop
        // condition after each full shell (:180-204), so wider batches
        // would admit candidates the reference never scans
        val fresh = candidates(unsatisfied, shell, shell)
        acc = prune(
            acc.join(unsatisfied.select("qid"), Seq("qid"), "left_semi")
              .select("qid", "qx", "qy", "id", "d2")
              .unionByName(fresh))
          .unionByName(acc.join(unsatisfied.select("qid"), Seq("qid"), "left_anti")
            .select("qid", "qx", "qy", "id", "d2"))
          .localCheckpoint()
        shell += 1
      }
    }
    pts.unpersist(); active.unpersist()
    acc.groupBy("qid")
      .agg(graft.agg.TopKByDist.topK(k)(col("d2"), col("id")).as("tk"))
      .select(col("qid"), posexplode(col("tk")))
      .select(col("qid"), expr("cast(pos + 1 as int)").as("rank"),
        col("col.id").as("id"), col("col.dist").as("d2"))
  }
}
