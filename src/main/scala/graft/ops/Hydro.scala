package graft.ops

import graft.core.{DuckD, Gates, Geo, Lit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** First hydro-analysis slice: D8Pointer (hydro_analysis/d8_pointer.rs
  * :205-247) and D8FlowAccumulation (d8_flow_accum.rs:311-390) over the
  * density grid as the DEM (z = per-cell page count).
  *
  * Pointer semantics cloned from the reference: for each cell, the
  * steepest POSITIVE descent among the 8 neighbours, slope = (z − zn)/len
  * (len 1 cardinal, √2 diagonal), ties kept by the FIRST direction index
  * in the reference's scan order (dx=[1,1,1,0,-1,-1,-1,0],
  * dy=[-1,0,1,1,1,0,-1,-1]); no positive descent (or no neighbours) →
  * pointer 0 / dir −1. Output pointer value is 2^dir (non-ESRI style).
  *
  * Accumulation: the number of cells draining through each cell (every
  * cell contributes 1, routed along pointers). The reference runs a
  * sequential zero-inflow stack peel; the Spark-native equivalent is the
  * Jacobi fixpoint accum(c) = 1 + Σ_{u→c} accum(u) — the shared
  * `Dem.faOn` step run by `Dem.converge`, which owns the round cap, the
  * change check and lineage truncation. The flow graph is a DAG (slope
  * strictly positive along every edge), so the fixpoint converges in
  * longest-flow-path rounds, each round ONE equi-join + hash aggregate
  * (the grid state stays in DataFrames).
  * The DuckDB twin derives the same value independently as path counting:
  * a recursive CTE enumerates (start, current) flow-path pairs (each start
  * has a unique path — functional graph), and accum(c) = #starts whose
  * path visits c.
  */
object Hydro extends Gates {

  private val res = 6
  private val sqrt2 = Lit.d(math.sqrt(2.0))

  // reference direction order: i → (dx, dy)
  private val dirs: Seq[(Int, Int, Int)] =
    Seq((1, -1), (1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (-1, -1), (0, -1))
      .zipWithIndex.map { case ((dx, dy), i) => (i, dx, dy) }

  private val dirIdxE =
    dirs.map { case (i, dx, dy) => s"WHEN dx = $dx AND dy = $dy THEN $i" }
      .mkString("CASE ", " ", " END")

  private val slopeE =
    s"cast(v - nv as double) / (CASE WHEN dx = 0 OR dy = 0 THEN 1.0e0 ELSE $sqrt2 END)"

  // haloD drops nix/niy; rebuild a variant that keeps the neighbour coords
  private def haloKeep(g: DataFrame): DataFrame = {
    val centers = g.select(col("ix").as("cix"), col("iy").as("ciy"), col("v"))
      .withColumn("dx", explode(sequence(lit(-1), lit(1))))
      .withColumn("dy", explode(sequence(lit(-1), lit(1))))
      .withColumn("nix", col("cix") + col("dx"))
      .withColumn("niy", col("ciy") + col("dy"))
    centers.join(g.select(col("ix").as("nix"), col("iy").as("niy"), col("v").as("nv")),
        Seq("nix", "niy"))
      .select(col("cix").as("ix"), col("ciy").as("iy"), col("v"),
        col("dx"), col("dy"), col("nv"), col("nix"), col("niy"))
  }

  private[ops] def d8dirsKeep(s: SparkSession, dir: String): DataFrame = {
    val g = Raster.density(s, dir, res)
    val h = haloKeep(g).filter(expr("NOT (dx = 0 AND dy = 0)"))
      .withColumn("dir", expr(dirIdxE))
      .withColumn("slope", expr(slopeE))
      .filter(col("slope") > 0.0)
    val best = h.groupBy("ix", "iy")
      .agg(expr("min_by(named_struct('dir', dir, 'tx', nix, 'ty', niy), " +
        "named_struct('ns', -slope, 'd', dir))").as("b"))
      .selectExpr("ix", "iy", "b.dir AS dir", "b.tx AS tx", "b.ty AS ty")
    g.select("ix", "iy").join(best, Seq("ix", "iy"), "left")
      .selectExpr("ix", "iy", "cast(coalesce(dir, -1) as bigint) AS dir", "tx", "ty")
  }

  /** full DuckDB prefix (pages → g → halo → dd) for reuse by other ops. */
  private[ops] def duckDirsPrefix: String = s"WITH $duckDirsCtes"

  /** the same CTE chain without the WITH keyword (for RECURSIVE reuse). */
  private[ops] def duckDirsCtes: String =
    s"pages AS (${Geo.pagesCte(DuckD)}), ${Geo.densityCte(DuckD, res)}, $duckDirs"

  /** DuckDB dirs CTE chain ending in `dd(ix, iy, dir, tx, ty)`. */
  private def duckDirs: String = {
    val halo = "h AS (SELECT c.ix, c.iy, c.v, n.ix - c.ix AS dx, n.iy - c.iy AS dy, " +
      "n.v AS nv, n.ix AS nix, n.iy AS niy FROM g c JOIN g n " +
      "ON n.ix BETWEEN c.ix - 1 AND c.ix + 1 AND n.iy BETWEEN c.iy - 1 AND c.iy + 1 " +
      "AND NOT (n.ix = c.ix AND n.iy = c.iy))"
    s"$halo, " +
      s"sl AS (SELECT ix, iy, $dirIdxE AS dir, $slopeE AS slope, nix, niy FROM h), " +
      "rk AS (SELECT ix, iy, dir, nix, niy, " +
      "row_number() OVER (PARTITION BY ix, iy ORDER BY slope DESC, dir) AS rn " +
      "FROM sl WHERE slope > 0.0e0), " +
      "dd AS (SELECT g.ix, g.iy, cast(coalesce(rk.dir, -1) as bigint) AS dir, " +
      "rk.nix AS tx, rk.niy AS ty FROM g LEFT JOIN rk ON rk.ix = g.ix AND rk.iy = g.iy AND rn = 1)"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "d8_pointer" -> ((s, dir) => {
      d8dirsKeep(s, dir)
        .selectExpr("ix", "iy", "dir",
          "CASE WHEN dir >= 0 THEN cast(pow(2.0e0, cast(dir as double)) as bigint) ELSE 0 END AS pointer")
        .orderBy("ix", "iy")
    }),

    "d8_flow_accum" -> ((s, dir) => {
      val dd = d8dirsKeep(s, dir).localCheckpoint()
      val edges = dd.filter(col("dir") >= 0).select("ix", "iy", "tx", "ty")
      Dem.faOn(dd.select("ix", "iy"), edges, "d8_flow_accum").orderBy("ix", "iy")
    }),

    // Same tool, the SCALE-PATH schedule: wavefront (frontier-only)
    // accumulation — cells resolve in topological waves, every edge is
    // aggregated exactly once (total edge work O(E) vs the Jacobi's
    // O(E · depth)); measured 1.9× faster at G=512 (PLANS.md §scale).
    // Gated against the IDENTICAL recursive path-count oracle as
    // d8_flow_accum, so the variant a 100×-grid deployment would pick is
    // itself value-checked.
    "d8_flow_accum_frontier" -> ((s, dir) => {
      val dd = d8dirsKeep(s, dir)
      val edges = dd.filter(col("dir") >= 0)
        .select("ix", "iy", "tx", "ty").localCheckpoint()
      val grid = dd.select("ix", "iy").localCheckpoint()
      val (fa, _) = FaScale.faFrontier(grid, edges)
      fa.orderBy("ix", "iy")
    })
  )

  private val faOracle =
    s"WITH RECURSIVE pages AS (${Geo.pagesCte(DuckD)}), ${Geo.densityCte(DuckD, res)}, $duckDirs, " +
      "e AS (SELECT ix, iy, tx, ty FROM dd WHERE dir >= 0), " +
      "paths AS (SELECT ix AS sx, iy AS sy, ix AS cx, iy AS cy FROM dd " +
      "UNION ALL SELECT p.sx, p.sy, e.tx, e.ty FROM paths p " +
      "JOIN e ON e.ix = p.cx AND e.iy = p.cy) " +
      "SELECT cx AS ix, cy AS iy, count(*) AS fa FROM paths GROUP BY 1, 2 ORDER BY ix, iy"

  def oracles: Map[String, String] = Map(
    "d8_pointer" ->
      (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, res)}, $duckDirs " +
        "SELECT ix, iy, dir, CASE WHEN dir >= 0 THEN cast(pow(2.0e0, cast(dir as double)) as bigint) ELSE 0 END AS pointer " +
        "FROM dd ORDER BY ix, iy"),
    "d8_flow_accum" -> faOracle,
    "d8_flow_accum_frontier" -> faOracle
  )
}
