package graft.ops

import graft.core.{DuckD, Gates, Geo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Terrain focal family — Slope / Aspect / Hillshade over the density grid
  * treated as a DEM (terrain_analysis/slope.rs:223-244, aspect.rs:225-245,
  * hillshade.rs:280-299: 3×3 Horn kernels).
  *
  * Exact kernel transcription:
  *   - neighbour ring d_x=[1,1,1,0,-1,-1,-1,0], d_y(row)=[-1,0,1,1,1,0,-1,-1]
  *     (row grows south; our iy grows north, so n[c] = grid(ix+dx, iy−dy));
  *   - a missing/nodata neighbour takes the CENTRE value (slope.rs:236-239);
  *   - fy = (n6−n4 + 2(n7−n3) + n0−n2)/8·res, fx = (n2−n4 + 2(n1−n5) +
  *     n0−n6)/8·res with res = 1 cell and z_factor = 1;
  *   - slope = atan(√(fx²+fy²)) in degrees; aspect = 180 − deg(atan(fy/fx))
  *     + 90·sign(fx), −1 where fx = 0; hillshade (azimuth 315°, altitude
  *     30°) = round(max(term1·(term2−term3), 0)·32767), 0.5·32767 at fx=0.
  *
  * Plan shape: the same halo equi-join as the focal filters (one shuffle of
  * the bounded grid, map-side partial aggregates); the per-offset values
  * are recovered with 8 conditional MAX aggregates, so the whole kernel is
  * one hash aggregate — identical at any scale. Trig outputs are rounded
  * to 6 decimals (hillshade to its integer scale) to absorb libm ulp
  * differences between JVM and DuckDB.
  */
object Terrain extends Gates {

  // n[c] offsets in (dx, dyNorth) form: c -> (d_x[c], -d_y[c])
  private val offsets: Seq[(Int, Int)] =
    Seq((1, 1), (1, 0), (1, -1), (0, -1), (-1, -1), (-1, 0), (-1, 1), (0, 1))

  private val fyE = "(n6 - n4 + 2.0e0 * (n7 - n3) + n0 - n2) / 8.0e0"
  private val fxE = "(n2 - n4 + 2.0e0 * (n1 - n5) + n0 - n6) / 8.0e0"

  private val slopeE = "round(degrees(atan(sqrt(fx * fx + fy * fy))), 6) AS slope_deg"

  private val aspectCore = "180.0e0 - degrees(atan(fy / fx)) + 90.0e0 * (fx / abs(fx))"
  private val aspectE =
    s"CASE WHEN fx <> 0.0e0 THEN round($aspectCore, 6) ELSE -1.0e0 END AS aspect_deg"

  /** hillshade at arbitrary --azimuth/--altitude (hillshade.rs:280-299
    * works with azimuth−90); shared with the ParamSweeps azimuth gate. */
  private[ops] def hillshadeFor(altDeg: Int, azMinus90Deg: Int): String = {
    val ts = "sqrt(fx * fx + fy * fy)"
    val asp = s"radians($aspectCore)"
    val term1 = s"($ts) / sqrt(1.0e0 + ($ts) * ($ts))"
    val term2 = s"sin(radians(${altDeg}.0e0)) / ($ts)"
    val term3 = s"cos(radians(${altDeg}.0e0)) * sin(radians(${azMinus90Deg}.0e0) - ($asp))"
    val hs = s"CASE WHEN fx <> 0.0e0 THEN ($term1) * (($term2) - ($term3)) ELSE 0.5e0 END"
    s"cast(round(greatest(($hs) * 32767.0e0, 0.0e0)) as bigint) AS hillshade"
  }

  /** the reference defaults: azimuth 315° / altitude 30° (azimuth−90 = 225°). */
  private val hillshadeE = hillshadeFor(30, 225)

  private def nbSelects: Seq[String] =
    (0 until 8).map(c => s"cast(coalesce(m$c, z) as double) AS n$c")

  /** Spark side: grid → halo (equi-join) → one hash aggregate recovering
    * the 8 neighbour values (centre fallback) → fx/fy → formula. */
  private[ops] def fxy(s: SparkSession, dir: String, res: Int = 6): DataFrame = {
    val aggs = offsets.zipWithIndex.map { case ((dx, dy), c) =>
      expr(s"max(CASE WHEN dx = $dx AND dy = $dy THEN nv END)").as(s"m$c")
    }
    Focal.haloD(Raster.density(s, dir, res))
      .groupBy("ix", "iy")
      .agg(max("v").as("z"), aggs: _*)
      .selectExpr(Seq("ix", "iy") ++ nbSelects: _*)
      .selectExpr("ix", "iy", s"$fyE AS fy", s"$fxE AS fx")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "slope" -> ((s, dir) =>
      fxy(s, dir).selectExpr("ix", "iy", slopeE).orderBy("ix", "iy")),
    "aspect" -> ((s, dir) =>
      fxy(s, dir).selectExpr("ix", "iy", aspectE).orderBy("ix", "iy")),
    "hillshade" -> ((s, dir) =>
      fxy(s, dir).selectExpr("ix", "iy", hillshadeE).orderBy("ix", "iy"))
  )

  // ---- DuckDB twins -----------------------------------------------------

  private[ops] def duckFxy(res: Int = 6): String = {
    val ms = offsets.zipWithIndex.map { case ((dx, dy), c) =>
      s"max(CASE WHEN dx = $dx AND dy = $dy THEN nv END) AS m$c"
    }.mkString(", ")
    val ag = s"ag AS (SELECT ix, iy, max(v) AS z, $ms FROM h GROUP BY ix, iy)"
    val nbt = s"nbt AS (SELECT ix, iy, ${nbSelects.mkString(", ")} FROM ag)"
    val fxy = s"fxy AS (SELECT ix, iy, $fyE AS fy, $fxE AS fx FROM nbt)"
    s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, res)}, ${Focal.duckHaloD}, $ag, $nbt, $fxy"
  }

  def oracles: Map[String, String] = Map(
    "slope" -> s"${duckFxy()} SELECT ix, iy, $slopeE FROM fxy ORDER BY ix, iy",
    "aspect" -> s"${duckFxy()} SELECT ix, iy, $aspectE FROM fxy ORDER BY ix, iy",
    "hillshade" -> s"${duckFxy()} SELECT ix, iy, $hillshadeE FROM fxy ORDER BY ix, iy"
  )
}
