package graft.ops

import graft.core.{DuckD, Gates, Geo, Lit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Terrain-family completion over the density DEM (one shared 3×3 halo
  * aggregate, the Terrain.scala frame):
  *
  *   - Plan/Profile/Tangential/Total curvature (terrain_analysis/
  *     plan_curvature.rs:245-268, prof_curvature.rs:255-270,
  *     tan_curvature.rs:255-270, total_curvature.rs:245-250): the
  *     Zevenbergen–Thorne partials zx, zy, zxx, zyy, zxy from the 8
  *     neighbours (nodata → centre, cell size 1, z_factor 1), then the
  *     four closed forms ·degrees·100. Outputs rounded 6dp (powf/sqrt).
  *   - DevFromMeanElev (dev_from_mean_elev.rs:399-413): (z − µ)/σ with
  *     population variance over the window; σ² ≤ 0 → 0.
  *   - DiffFromMeanElev (diff_from_mean_elev.rs): z − µ.
  *   - RuggednessIndex (ruggedness_index.rs:233-246): √(Σ(zn−z)²/n) over
  *     the present 8-neighbours.
  *   - ElevPercentile (elev_percentile.rs semantics): 100·#(window values
  *     < z)/#window — the exact small-window form of the reference's
  *     binned histogram percentile.
  *
  * All integer-exact sums; the only doubles are the final closed forms.
  * NumDownslope/UpslopeNeighbours are Hydro3's gates, on the Dem.dem frame.
  */
object Terrain2 extends Gates {

  private val deg100 = Lit.d(180.0 / math.Pi) + " * 100.0e0"

  // Terrain.scala neighbour convention: c → (d_x[c], −d_y[c])
  private val offsets: Seq[(Int, Int)] =
    Seq((1, 1), (1, 0), (1, -1), (0, -1), (-1, -1), (-1, 0), (-1, 1), (0, 1))

  private def aggDefs: Seq[(String, String)] =
    Seq(
      "z" -> "max(v)",
      "n" -> "count(*)",
      "s" -> "cast(sum(nv) as bigint)",
      "q" -> "cast(sum(nv * nv) as bigint)",
      "ss8" -> "cast(sum(CASE WHEN NOT (dx = 0 AND dy = 0) THEN (nv - v) * (nv - v) ELSE 0 END) as bigint)",
      "n8" -> "cast(sum(CASE WHEN NOT (dx = 0 AND dy = 0) THEN 1 ELSE 0 END) as bigint)",
      "n_less" -> "cast(sum(CASE WHEN nv < v THEN 1 ELSE 0 END) as bigint)",
      "wmn" -> "min(nv)",
      "wmx" -> "max(nv)"
    ) ++ offsets.zipWithIndex.map { case ((dx, dy), c) =>
      s"m$c" -> s"max(CASE WHEN dx = $dx AND dy = $dy THEN nv END)"
    }

  /** the shared partials CTE text (n_c with centre fallback, doubles). */
  private val partials: Seq[String] = {
    val nb = (0 until 8).map(c => s"cast(coalesce(m$c, z) as double) AS n$c")
    nb ++ Seq("cast(z as double) AS zd")
  }

  private val zxE = "(n1 - n5) / 2.0e0"
  private val zyE = "(n7 - n3) / 2.0e0"
  private val zxxE = "n1 - 2.0e0 * zd + n5"
  private val zyyE = "n7 - 2.0e0 * zd + n3"
  private val zxyE = "(-n6 + n0 + n4 - n2) / 4.0e0"

  private val curvPre = Seq(
    s"$zxE AS zx", s"$zyE AS zy", s"$zxxE AS zxx", s"$zyyE AS zyy", s"$zxyE AS zxy")

  private val curvDefs: Seq[(String, String)] = {
    val p = "(zx * zx + zy * zy)"
    val q = s"($p + 1.0e0)"
    Seq(
      ("plan_curvature",
        s"CASE WHEN $p > 0.0e0 THEN round(((zxx * zy * zy - 2.0e0 * zxy * zx * zy + zyy * zx * zx) / " +
          s"power($p, 1.5e0)) * $deg100, 6) END AS curv"),
      ("profile_curvature",
        s"CASE WHEN $p > 0.0e0 THEN round(((zxx * zx * zx + 2.0e0 * zxy * zx * zy + zyy * zy * zy) / " +
          s"($p * power($q, 1.5e0))) * $deg100, 6) END AS curv"),
      ("tangential_curvature",
        s"CASE WHEN $p > 0.0e0 THEN round(((zxx * zy * zy + 2.0e0 * zxy * zx * zy + zyy * zx * zx) / " +
          s"($p * sqrt($q))) * $deg100, 6) END AS curv"),
      ("total_curvature",
        s"round((zxx * zxx + 2.0e0 * zxy * zxy + zyy * zyy) * $deg100, 6) AS curv"))
  }

  /** PennockLandformClass (pennock_landform_class.rs:299-360): hillslope
    * zones from slope (Horn fx/fy), profile and plan curvature (negated,
    * in degrees, NOT ×100 — the tool's own convention); thresholds
    * slope 3°, prof 0.1, plan 0; unclassified/flat-gradient cells −128.
    * Pure comparisons of identically-computed doubles — no rounding. */
  private val pennockE = {
    val deg = Lit.d(180.0 / math.Pi)
    val p = "(zx * zx + zy * zy)"
    val q = s"($p + 1.0e0)"
    val fy = "((n6 - n4 + 2.0e0 * (n7 - n3) + n0 - n2) / 8.0e0)"
    val fx = "((n2 - n4 + 2.0e0 * (n1 - n5) + n0 - n6) / 8.0e0)"
    val slope = s"(atan(sqrt($fx * $fx + $fy * $fy)) * $deg)"
    val plan = s"(-1.0e0 * ((zxx * zy * zy - 2.0e0 * zxy * zx * zy + zyy * zx * zx) / power($p, 1.5e0)) * $deg)"
    val prof = s"(-1.0e0 * ((zxx * zx * zx - 2.0e0 * zxy * zx * zy + zyy * zy * zy) / ($p * power($q, 1.5e0))) * $deg)"
    s"CASE WHEN $p > 0.0e0 THEN (" +
      s"CASE WHEN $prof < -0.1e0 AND $plan <= 0.0e0 AND $slope > 3.0e0 THEN 1 " +
      s"WHEN $prof < -0.1e0 AND $plan > 0.0e0 AND $slope > 3.0e0 THEN 2 " +
      s"WHEN $prof > 0.1e0 AND $plan <= 0.0e0 AND $slope > 3.0e0 THEN 3 " +
      s"WHEN $prof > 0.1e0 AND $plan > 0.0e0 AND $slope > 3.0e0 THEN 4 " +
      s"WHEN $prof >= -0.1e0 AND $prof < 0.1e0 AND $slope > 3.0e0 AND $plan <= 0.0e0 THEN 5 " +
      s"WHEN $prof >= -0.1e0 AND $prof < 0.1e0 AND $slope > 3.0e0 AND $plan > 0.0e0 THEN 6 " +
      s"WHEN $slope <= 3.0e0 THEN 7 ELSE -128 END) ELSE -128 END"
  }

  private val statDefs: Seq[(String, String)] = Seq(
    ("dev_from_mean_elev", {
      val vv = "(cast(q as double) - cast(s as double) * cast(s as double) / cast(n as double)) / cast(n as double)"
      s"CASE WHEN ($vv) > 0.0e0 THEN " +
        s"(cast(z as double) - cast(s as double) / cast(n as double)) / sqrt($vv) ELSE 0.0e0 END AS dev"
    }),
    ("diff_from_mean_elev",
      "cast(z as double) - cast(s as double) / cast(n as double) AS diff"),
    ("ruggedness_index",
      "CASE WHEN n8 > 0 THEN sqrt(cast(ss8 as double) / cast(n8 as double)) END AS tri"),
    ("elev_percentile",
      "100.0e0 * cast(n_less as double) / cast(n as double) AS pctl"),
    // PercentElevRange (percent_elev_range.rs:316-325): windowed
    // (z − min)/(max − min)·100, 0 on a flat window
    ("percent_elev_range",
      "CASE WHEN wmx - wmn > 0 THEN cast(z - wmn as double) / cast(wmx - wmn as double) * 100.0e0 " +
        "ELSE 0.0e0 END AS pct_range"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    def ag(s: SparkSession, dir: String): DataFrame = {
      val aggs = aggDefs.map { case (nm, e) => expr(e).as(nm) }
      Focal.haloD(Raster.density(s, dir, 6))
        .groupBy("ix", "iy").agg(aggs.head, aggs.tail: _*)
    }
    val curv = curvDefs.map { case (name, sel) =>
      name -> ((s: SparkSession, dir: String) =>
        ag(s, dir)
          .selectExpr(Seq("ix", "iy") ++ partials: _*)
          .selectExpr(Seq("ix", "iy") ++ curvPre: _*)
          .selectExpr("ix", "iy", sel)
          .orderBy("ix", "iy"))
    }.toMap
    val stats = statDefs.map { case (name, sel) =>
      name -> ((s: SparkSession, dir: String) =>
        ag(s, dir).selectExpr("ix", "iy", sel).orderBy("ix", "iy"))
    }.toMap
    curv ++ stats ++ Map(
      // ElevRelativeToMinMax (elev_relative_to_min_max.rs:199-203):
      // global (z − min)/range·100 — reference op order
      "elev_relative_to_min_max" -> ((s: SparkSession, dir: String) => {
        val g = Raster.density(s, dir, 6)
        val ext = g.agg(min("v").as("mn"), max("v").as("mx"))
        g.crossJoin(broadcast(ext))
          .selectExpr("ix", "iy",
            "cast(v - mn as double) / cast(mx - mn as double) * 100.0e0 AS rel_elev")
          .orderBy("ix", "iy")
      }),
      "pennock_landform_class" -> ((s: SparkSession, dir: String) =>
        ag(s, dir)
          .selectExpr(Seq("ix", "iy") ++ partials: _*)
          .selectExpr(Seq("ix", "iy") ++ curvPre ++ (0 until 8).map(c => s"n$c"): _*)
          .selectExpr("ix", "iy", s"$pennockE AS landform")
          .orderBy("ix", "iy"))
    )
  }

  def oracles: Map[String, String] = {
    val aggSql = aggDefs.map { case (nm, e) => s"$e AS $nm" }.mkString(", ")
    val base = s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)}, ${Focal.duckHaloD}, " +
      s"ag AS (SELECT ix, iy, $aggSql FROM h GROUP BY ix, iy)"
    val curvBase = s"$base, nbt AS (SELECT ix, iy, ${partials.mkString(", ")} FROM ag), " +
      s"cp AS (SELECT ix, iy, ${curvPre.mkString(", ")} FROM nbt)"
    val pennockBase = s"$base, nbt AS (SELECT ix, iy, ${partials.mkString(", ")} FROM ag), " +
      s"cp AS (SELECT ix, iy, ${(curvPre ++ (0 until 8).map(c => s"n$c")).mkString(", ")} FROM nbt)"
    curvDefs.map { case (name, sel) =>
      name -> s"$curvBase SELECT ix, iy, $sel FROM cp ORDER BY ix, iy"
    }.toMap ++ statDefs.map { case (name, sel) =>
      name -> s"$base SELECT ix, iy, $sel FROM ag ORDER BY ix, iy"
    }.toMap ++ Map(
      "pennock_landform_class" ->
        s"$pennockBase SELECT ix, iy, $pennockE AS landform FROM cp ORDER BY ix, iy",
      "elev_relative_to_min_max" ->
        (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)}, " +
          "ext AS (SELECT min(v) AS mn, max(v) AS mx FROM g) " +
          "SELECT ix, iy, cast(v - mn as double) / cast(mx - mn as double) * 100.0e0 AS rel_elev " +
          "FROM g, ext ORDER BY ix, iy"))
  }
}
