package graft.ops

import graft.core.{DuckD, Gates, SparkD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cost-distance family (gis_analysis/cost_distance.rs:280-330,
  * cost_allocation.rs, cost_pathway.rs) over the DEM frame:
  *
  *   - friction surface: md5-derived integers 1..9 per cell (Dem.costExpr),
  *     identical in both engines;
  *   - sources: three fixed gauge cells (5,5)=1, (40,12)=2, (20,44)=3;
  *   - accumulation: the reference's sweep relaxation is re-expressed as
  *     the Bellman–Ford Jacobi fixpoint acc(v) = min(acc(v), min_u(acc(u)
  *     + (cost(u)+cost(v))/2 · len(u,v))) — the unique shortest-path
  *     fixpoint, each round one equi-join + hash aggregate, convergence
  *     asserted. Path sums associate left-to-right in both engines, so the
  *     converged doubles are bit-identical.
  *   - backlink: recovered POST-convergence as argmin_u(acc(u) + w(u,v))
  *     with the deterministic tie rule (value, then ux, uy) — at the
  *     fixpoint this reproduces the reference's predecessor field without
  *     carrying it through the iteration (scan-order ties deviate, doc'd);
  *   - CostAllocation: pointer jumping along backlinks to the source id
  *     (predecessor chains strictly decrease acc, hence acyclic);
  *   - CostPathway: cells on the backlink chains from two fixed
  *     destination cells (46,46) and (2,40) back to their sources.
  */
object Cost extends Gates {

  import Dem.sqrt2

  private val srcRows = Seq((5L, 5L, 1L), (40L, 12L, 2L), (20L, 44L, 3L))
  private val dstRows = Seq((46L, 46L), (2L, 40L))
  private val BIG = "1.0e18"

  private def srcValues: String =
    srcRows.map { case (x, y, i) => s"($x, $y, $i)" }.mkString(", ")
  private def dstValues: String =
    dstRows.map { case (x, y) => s"($x, $y)" }.mkString(", ")

  /** friction per cell (double), memoized. */
  private def costs(s: SparkSession, dir: String): DataFrame =
    Dem.memo(s, dir, "cost") {
      Dem.dem(s, dir).selectExpr("ix", "iy",
        s"cast(${Dem.costExpr(SparkD, "ix", "iy")} as double) AS cost")
    }

  /** directed weighted 8-neighbour edges (u→v, w). */
  private def wedges(s: SparkSession, dir: String): DataFrame =
    Dem.memo(s, dir, "wedges") {
      val c = costs(s, dir)
      Dem.halo(Dem.dem(s, dir)).select("ix", "iy", "nix", "niy", "dx", "dy")
        .join(c.selectExpr("ix", "iy", "cost AS cu"), Seq("ix", "iy"))
        .join(c.selectExpr("ix AS nix", "iy AS niy", "cost AS cv"), Seq("nix", "niy"))
        .selectExpr("ix AS ux", "iy AS uy", "nix AS vx", "niy AS vy",
          s"(cu + cv) / 2.0e0 * (CASE WHEN dx = 0 OR dy = 0 THEN 1.0e0 ELSE $sqrt2 END) AS w")
    }

  private def sources(s: SparkSession, dir: String): DataFrame = {
    val sp = s
    import sp.implicits._
    srcRows.toDF("ix", "iy", "src")
  }

  /** converged accumulation surface (ix, iy, acc), memoized. */
  private[ops] def accum(s: SparkSession, dir: String): DataFrame =
    Dem.memo(s, dir, "cost_acc") {
      val we = wedges(s, dir)
      val init = Dem.dem(s, dir)
        .join(sources(s, dir), Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy", s"CASE WHEN src IS NOT NULL THEN 0.0e0 ELSE $BIG END AS acc")
      // cap = twin unroll (costRounds) + checkEvery: passes iff the state
      // converged within the twin's 64-round unroll (ADVICE r4 parity rule)
      Dem.converge(init, costRounds + 8, 8, "cost_distance") { cur =>
        val cand = we
          .join(cur.selectExpr("ix AS ux", "iy AS uy", "acc AS au"), Seq("ux", "uy"))
          .selectExpr("vx AS ix", "vy AS iy", "au + w AS c")
          .groupBy("ix", "iy").agg(min("c").as("best"))
        cur.join(cand, Seq("ix", "iy"), "left")
          .selectExpr("ix", "iy", s"least(acc, coalesce(best, $BIG)) AS acc")
      }
    }

  /** Frontier (changed-cells-only) Bellman–Ford: propose relaxations only
    * from cells whose acc improved last round, starting from the sources.
    * Reaches the SAME fixpoint as the Jacobi `accum` with bit-identical
    * doubles: every candidate is the same left-to-right path sum
    * (au + w), and min over an identical candidate set is exact for
    * doubles — only the schedule differs. Per-round work is
    * frontier-edge-local (the Jacobi re-aggregates every edge every
    * round), the same O(E·depth) → O(E·improvements) collapse as
    * FaScale.faFrontier; gated as `cost_distance_frontier` against the
    * identical unrolled DuckDB twin as `cost_distance`. */
  private[ops] def accumFrontier(s: SparkSession, dir: String): DataFrame = {
    val we = wedges(s, dir).localCheckpoint()
    var acc = Dem.fresh(Dem.dem(s, dir)
      .join(sources(s, dir), Seq("ix", "iy"), "left")
      .selectExpr("ix", "iy", s"CASE WHEN src IS NOT NULL THEN 0.0e0 ELSE $BIG END AS acc"))
    // non-source cells start at BIG: a proposal from a BIG cell can never
    // improve anything (BIG + w > BIG), so sources are the exact frontier.
    var frontier = Dem.fresh(acc.filter(col("acc") === 0.0))
    var waves = 0
    while (!frontier.isEmpty) {
      waves += 1
      require(waves <= 4096, "cost frontier wave cap exceeded")
      val cand = we
        .join(frontier.selectExpr("ix AS ux", "iy AS uy", "acc AS au"), Seq("ux", "uy"))
        .selectExpr("vx AS ix", "vy AS iy", "au + w AS c")
        .groupBy("ix", "iy").agg(min("c").as("best"))
      val next = Dem.fresh(acc.join(cand, Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy", "acc AS acc0", s"least(acc, coalesce(best, $BIG)) AS acc"))
      frontier = Dem.fresh(next.filter(col("acc") < col("acc0")).select("ix", "iy", "acc"))
      acc = Dem.fresh(next.select("ix", "iy", "acc"))
    }
    acc
  }

  /** post-convergence backlink (vx,vy → bx,by), sources excluded. */
  private def backlink(s: SparkSession, dir: String): DataFrame =
    Dem.memo(s, dir, "cost_bl") {
      val a = accum(s, dir)
      wedges(s, dir)
        .join(a.selectExpr("ix AS ux", "iy AS uy", "acc AS au"), Seq("ux", "uy"))
        .selectExpr("vx AS ix", "vy AS iy", "ux", "uy", "au + w AS c")
        .groupBy("ix", "iy")
        .agg(expr("min_by(named_struct('bx', ux, 'by', uy), " +
          "named_struct('c', c, 'ux', ux, 'uy', uy))").as("b"))
        .selectExpr("ix", "iy", "b.bx AS bx", "b.by AS by")
        .join(sources(s, dir).select("ix", "iy"), Seq("ix", "iy"), "left_anti")
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "cost_distance" -> ((s, dir) =>
      accum(s, dir).selectExpr("ix", "iy", "acc").orderBy("ix", "iy")),

    "cost_distance_frontier" -> ((s, dir) =>
      accumFrontier(s, dir).selectExpr("ix", "iy", "acc").orderBy("ix", "iy")),

    "cost_allocation" -> ((s, dir) => {
      val src = sources(s, dir)
      val p0 = Dem.dem(s, dir).select("ix", "iy")
        .join(backlink(s, dir), Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy", "coalesce(bx, ix) AS rx", "coalesce(by, iy) AS ry")
      Dem.roots(p0, "cost_allocation")
        .join(src.selectExpr("ix AS rx", "iy AS ry", "src"), Seq("rx", "ry"))
        .selectExpr("ix", "iy", "src AS alloc").orderBy("ix", "iy")
    }),

    // least-cost path cells from the fixed destinations: marked-set growth
    // along backlinks (monotone; converges in path-length rounds)
    "cost_pathway" -> ((s, dir) => {
      import s.implicits._
      val dst = dstRows.toDF("ix", "iy")
      val bl = backlink(s, dir)
      val grid = Dem.dem(s, dir).select("ix", "iy")
      val init = grid.join(dst.withColumn("m", lit(1L)), Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy", "coalesce(m, 0) AS m")
      Dem.converge(init, 200, 8, "cost_pathway") { cur =>
        val fromDown = cur.filter(col("m") === 1)
          .join(bl, Seq("ix", "iy"))
          .selectExpr("bx AS ix", "by AS iy", "cast(1 as bigint) AS m2")
          .distinct()
        cur.join(fromDown, Seq("ix", "iy"), "left")
          .selectExpr("ix", "iy", "greatest(m, coalesce(m2, 0)) AS m")
      }.filter(col("m") === 1).select("ix", "iy").orderBy("ix", "iy")
    })
  )

  // ---- DuckDB twins ----------------------------------------------------

  private val costRounds = 64

  private def duckCostCtes: String = {
    val co = s"co AS (SELECT ix, iy, cast(${Dem.costExpr(DuckD, "ix", "iy")} as double) AS cost FROM cells)"
    val we = "we AS MATERIALIZED (SELECT a.ix AS ux, a.iy AS uy, b.ix AS vx, b.iy AS vy, " +
      "(a.cost + b.cost) / 2.0e0 * (CASE WHEN a.ix = b.ix OR a.iy = b.iy THEN 1.0e0 " +
      s"ELSE $sqrt2 END) AS w FROM co a JOIN co b " +
      "ON b.ix BETWEEN a.ix - 1 AND a.ix + 1 AND b.iy BETWEEN a.iy - 1 AND a.iy + 1 " +
      "AND NOT (b.ix = a.ix AND b.iy = a.iy))"
    val srcs = s"srcs AS (SELECT * FROM (VALUES $srcValues) s(ix, iy, src))"
    val a0 = "a0 AS (SELECT c.ix, c.iy, " +
      s"CASE WHEN s.src IS NOT NULL THEN 0.0e0 ELSE $BIG END AS acc " +
      "FROM cells c LEFT JOIN srcs s ON s.ix = c.ix AND s.iy = c.iy)"
    val rounds = (1 to costRounds).map { r =>
      val p = s"a${r - 1}"
      s"a$r AS MATERIALIZED (SELECT v.ix, v.iy, " +
        "least(v.acc, coalesce(min(u.acc + we.w), " + BIG + ")) AS acc " +
        s"FROM $p v LEFT JOIN we ON we.vx = v.ix AND we.vy = v.iy " +
        s"LEFT JOIN $p u ON u.ix = we.ux AND u.iy = we.uy " +
        "GROUP BY v.ix, v.iy, v.acc)"
    }.mkString(", ")
    val bl = s"bl AS MATERIALIZED (SELECT vx AS ix, vy AS iy, ux AS bx, uy AS by FROM (" +
      s"SELECT we.vx, we.vy, we.ux, we.uy, " +
      s"row_number() OVER (PARTITION BY we.vx, we.vy ORDER BY a.acc + we.w, we.ux, we.uy) AS rn " +
      s"FROM we JOIN a$costRounds a ON a.ix = we.ux AND a.iy = we.uy) " +
      "WHERE rn = 1 AND NOT EXISTS (SELECT 1 FROM srcs s WHERE s.ix = vx AND s.iy = vy))"
    s"$co, $we, $srcs, $a0, $rounds, $bl"
  }

  private def W(extra: String*): String =
    (Seq(Dem.duckDemCtes, duckCostCtes) ++ extra).mkString("WITH RECURSIVE ", ", ", " ")

  def oracles: Map[String, String] = Map(

    "cost_distance" -> (W() +
      s"SELECT ix, iy, acc FROM a$costRounds ORDER BY ix, iy"),

    "cost_distance_frontier" -> (W() +
      s"SELECT ix, iy, acc FROM a$costRounds ORDER BY ix, iy"),

    "cost_allocation" -> (W(
      "awalk AS (SELECT ix AS sx, iy AS sy, ix AS cx, iy AS cy FROM cells " +
        "UNION ALL SELECT w.sx, w.sy, bl.bx, bl.by FROM awalk w " +
        "JOIN bl ON bl.ix = w.cx AND bl.iy = w.cy)") +
      "SELECT w.sx AS ix, w.sy AS iy, s.src AS alloc FROM awalk w " +
      "JOIN srcs s ON s.ix = w.cx AND s.iy = w.cy ORDER BY ix, iy"),

    "cost_pathway" -> (W(
      s"dsts AS (SELECT * FROM (VALUES $dstValues) d(ix, iy))",
      "pwalk AS (SELECT ix, iy FROM dsts " +
        "UNION SELECT bl.bx, bl.by FROM pwalk w JOIN bl ON bl.ix = w.ix AND bl.iy = w.iy)") +
      "SELECT ix, iy FROM pwalk ORDER BY ix, iy")
  )
}
