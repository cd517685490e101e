package graft.ops

import graft.core.{Dialect, DuckD, Gates, Geo, Lit, SparkD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Terrain tail batch 2:
  *
  *   - MaxDownslopeElevChange / MinDownslopeElevChange
  *     (terrain_analysis/max_downslope_elev_change.rs, min_…): the
  *     largest / smallest positive drop to a lower 8-neighbour (0 when
  *     none).
  *   - DownslopeIndex (terrain_analysis/downslope_index.rs:362-401,
  *     out_type = degrees): walk the D8 path until the cumulative drop
  *     reaches `drop` (2000 z-units here — the reference's 2 m default
  *     scaled to the DEM's integer units) or the path ends; output
  *     degrees(atan(drop_achieved / dist)). Implemented as a per-start
  *     marching fixpoint (each round advances every unfinished walk one
  *     cell; convergence asserted) — the states are (start, position,
  *     integer step counts), so lengths stay exact.
  *   - TurningBandsSimulation (math_stat_analysis/turning_bands.rs): the
  *     band-sum simulation with DETERMINISTIC md5 band processes instead
  *     of the reference's RNG (derivation difference doc'd, operator
  *     semantics — sum of 16 projected 1-D processes — preserved).
  */
object Terrain3 extends Gates {

  import Dem.lenOf

  private val drop = 2000L
  private val nBands = 16
  private val bandW = "7.0e0"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "max_downslope_elev_change" -> ((s, dir) =>
      Dem.halo(Dem.dem(s, dir))
        .groupBy("ix", "iy")
        .agg(expr("cast(coalesce(max(CASE WHEN nz < z THEN z - nz END), 0) as bigint)").as("max_drop"))
        .orderBy("ix", "iy")),

    "min_downslope_elev_change" -> ((s, dir) =>
      Dem.halo(Dem.dem(s, dir))
        .groupBy("ix", "iy")
        .agg(expr("cast(coalesce(min(CASE WHEN nz < z THEN z - nz END), 0) as bigint)").as("min_drop"))
        .orderBy("ix", "iy")),

    "downslope_index" -> ((s, dir) => {
      val ddf = Dem.dd(s, dir).localCheckpoint()
      val g = Dem.dem(s, dir)
      // walk state per START cell: current position, integer step counts,
      // stopped = drop met or terminal reached
      val init = g.selectExpr("ix", "iy", "z AS z0", "ix AS cx", "iy AS cy",
        "cast(0 as bigint) AS nc", "cast(0 as bigint) AS nd", "z AS zc",
        "cast(0 as int) AS stopped")
      val walked = Dem.converge(init, 200, 8, "downslope_index") { cur =>
        val live = cur.filter(col("stopped") === 0)
        val stepped = live
          .join(ddf.selectExpr("ix AS cx", "iy AS cy", "dir", "tx", "ty"), Seq("cx", "cy"))
          .join(g.selectExpr("ix AS tx", "iy AS ty", "z AS zt"), Seq("tx", "ty"), "left")
          .selectExpr("ix", "iy", "z0",
            "CASE WHEN dir >= 0 THEN tx ELSE cx END AS cx2",
            "CASE WHEN dir >= 0 THEN ty ELSE cy END AS cy2",
            "CASE WHEN dir >= 0 THEN nc + (CASE WHEN tx <> cx AND ty <> cy THEN 0 ELSE 1 END) ELSE nc END AS nc2",
            "CASE WHEN dir >= 0 THEN nd + (CASE WHEN tx <> cx AND ty <> cy THEN 1 ELSE 0 END) ELSE nd END AS nd2",
            "CASE WHEN dir >= 0 THEN zt ELSE zc END AS zc2",
            s"CASE WHEN dir < 0 THEN 1 WHEN z0 - zt >= $drop THEN 1 ELSE 0 END AS stopped2")
        cur.join(stepped.selectExpr("ix", "iy", "cx2", "cy2", "nc2", "nd2", "zc2", "stopped2"),
            Seq("ix", "iy"), "left")
          .selectExpr("ix", "iy", "z0",
            "coalesce(cx2, cx) AS cx", "coalesce(cy2, cy) AS cy",
            "coalesce(nc2, nc) AS nc", "coalesce(nd2, nd) AS nd",
            "coalesce(zc2, zc) AS zc",
            "CASE WHEN stopped = 1 THEN 1 ELSE coalesce(stopped2, stopped) END AS stopped")
      }
      walked.selectExpr("ix", "iy",
        s"CASE WHEN nc + nd > 0 THEN round(degrees(atan(cast(z0 - zc as double) / (${lenOf("nc", "nd")}))), 6) " +
          "ELSE 0.0e0 END AS ds_index")
        .orderBy("ix", "iy")
    }),

    "turning_bands" -> ((s, dir) => {
      Raster.density(s, dir, 6)
        .selectExpr("ix", "iy", s"${tbExpr(SparkD)} AS tb_z")
        .orderBy("ix", "iy")
    })
  )

  /** Σ over 16 bands of the md5 process value at the projected bucket. */
  private def tbExpr(d: Dialect): String =
    (0 until nBands).map { b =>
      val theta = math.Pi * b / nBands
      val proj = s"(cast(ix as double) * ${Lit.d(math.cos(theta))} + " +
        s"cast(iy as double) * ${Lit.d(math.sin(theta))})"
      val bucket = s"cast(floor($proj / $bandW) as bigint)"
      s"(${d.md5Bits(s"('b$b' || ${d.toStr(bucket)})", 1)} % 1000)"
    }.mkString("(", " + ", ")")

  // ---- DuckDB twins ----------------------------------------------------

  private def Wd(extra: String*): String =
    (Seq(Dem.duckDemCtes) ++ extra).mkString("WITH RECURSIVE ", ", ", " ")

  def oracles: Map[String, String] = Map(

    "max_downslope_elev_change" -> (Wd() +
      "SELECT ix, iy, cast(coalesce(max(CASE WHEN nz < z THEN z - nz END), 0) as bigint) AS max_drop " +
      "FROM hh GROUP BY 1, 2 ORDER BY ix, iy"),

    "min_downslope_elev_change" -> (Wd() +
      "SELECT ix, iy, cast(coalesce(min(CASE WHEN nz < z THEN z - nz END), 0) as bigint) AS min_drop " +
      "FROM hh GROUP BY 1, 2 ORDER BY ix, iy"),

    // exact recursive walk with the same stop rule
    "downslope_index" -> (Wd(
      s"dw AS (SELECT dd.ix, dd.iy, dd.z AS z0, dd.ix AS cx, dd.iy AS cy, " +
        "cast(0 as bigint) AS nc, cast(0 as bigint) AS nd, dd.z AS zc FROM dd " +
        "UNION ALL SELECT w.ix, w.iy, w.z0, d2.tx, d2.ty, " +
        "w.nc + (CASE WHEN d2.tx <> w.cx AND d2.ty <> w.cy THEN 0 ELSE 1 END), " +
        "w.nd + (CASE WHEN d2.tx <> w.cx AND d2.ty <> w.cy THEN 1 ELSE 0 END), t.z " +
        "FROM dw w JOIN dd d2 ON d2.ix = w.cx AND d2.iy = w.cy AND d2.dir >= 0 " +
        "JOIN dem t ON t.ix = d2.tx AND t.iy = d2.ty " +
        s"WHERE w.z0 - w.zc < $drop)",
      // final state per start = the LAST row emitted (max steps)
      "fin AS (SELECT ix, iy, z0, nc, nd, zc, " +
        "row_number() OVER (PARTITION BY ix, iy ORDER BY nc + nd DESC) AS rn FROM dw)") +
      s"SELECT ix, iy, CASE WHEN nc + nd > 0 " +
      s"THEN round(degrees(atan(cast(z0 - zc as double) / (${lenOf("nc", "nd")}))), 6) " +
      "ELSE 0.0e0 END AS ds_index FROM fin WHERE rn = 1 ORDER BY ix, iy"),

    "turning_bands" ->
      (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)} " +
        s"SELECT ix, iy, ${tbExpr(DuckD)} AS tb_z FROM g ORDER BY ix, iy")
  )
}
