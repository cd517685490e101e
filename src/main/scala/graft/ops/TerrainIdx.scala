package graft.ops

import graft.core.Gates
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Terrain composite indices over the DEM frame (Dem.scala) — each is the
  * reference formula applied to the Horn slope / D8 flow-accumulation
  * queries already gated:
  *
  *   - WetnessIndex (terrain_analysis/wetness_index.rs:226):
  *     ln(sca / tan(slope_rad)), nodata where slope = 0;
  *   - SedimentTransportIndex (sediment_transport_index.rs:260-262):
  *     (m+1)·(sca/22.13)^m · sin(slope_rad/0.0896)^n, m=0.4, n=1.3;
  *   - RelativeStreamPowerIndex (relative_stream_power_index.rs:241-242):
  *     sca^p · tan(slope_rad), p = 1;
  *   - RelativeAspect (relative_aspect.rs:250-272): |aspect − azimuth|
  *     folded to ≤180°, −1 on fx = 0, azimuth = 0;
  *   - StandardDeviationOfSlope (standard_deviation_of_slope.rs:395-440):
  *     population stddev of slope over the 11×11 window, v ≤ 0 → 0.
  *     Deviations doc'd: the window is cleanly clamped to the grid (the
  *     reference's integral-image clamp silently drops row/col 0 for
  *     near-border cells — quirk not cloned), and the window sums carry
  *     slope quantized to integer 1e-6 units so the distributed sum order
  *     cannot move the last ulp.
  *
  * The DEM z is scaled by 1e-5 for this family (z_factor-style unit
  * choice, the tools take arbitrary-unit DEMs): it keeps slope_rad within
  * the small-angle domain the 0.0896 STI constant assumes.
  *
  * Horn kernel transcription identical to Terrain.scala (slope.rs:223-244
  * citations there); trig outputs rounded to 6 decimals per the twin-SQL
  * parity rule.
  */
object TerrainIdx extends Gates {

  // n[c] offsets in (dx, dyNorth) form — Terrain.scala:31
  private val offsets: Seq[(Int, Int)] =
    Seq((1, 1), (1, 0), (1, -1), (0, -1), (-1, -1), (-1, 0), (-1, 1), (0, 1))

  private val fyE = "(n6 - n4 + 2.0e0 * (n7 - n3) + n0 - n2) / 8.0e0"
  private val fxE = "(n2 - n4 + 2.0e0 * (n1 - n5) + n0 - n6) / 8.0e0"
  private val sdE = "round(degrees(atan(sqrt(fx * fx + fy * fy))), 6)"

  private def nbSelects: Seq[String] =
    (0 until 8).map(c => s"coalesce(m$c, z) AS n$c")

  /** (ix, iy, fx, fy, sd) on the 1e-5-scaled DEM, memoized. */
  private def fxz(s: SparkSession, dir: String): DataFrame =
    Dem.memo(s, dir, "fxz") {
      val g = Dem.dem(s, dir)
        .selectExpr("ix", "iy", "cast(z as double) / 100000.0e0 AS z")
      val aggs = offsets.zipWithIndex.map { case ((dx, dy), c) =>
        expr(s"max(CASE WHEN dx = $dx AND dy = $dy THEN nz END)").as(s"m$c")
      }
      Dem.halo(g)
        .groupBy("ix", "iy")
        .agg(max("z").as("z"), aggs: _*)
        .selectExpr(Seq("ix", "iy") ++ nbSelects: _*)
        .selectExpr("ix", "iy", s"$fyE AS fy", s"$fxE AS fx")
        .selectExpr("ix", "iy", "fx", "fy", s"$sdE AS sd")
    }

  private def withFa(s: SparkSession, dir: String): DataFrame =
    fxz(s, dir).join(Dem.fa(s, dir), Seq("ix", "iy"))

  private val wiE =
    "round(ln(cast(fa as double) / tan(radians(sd))), 6) AS twi"
  private val stiE =
    "round(1.4e0 * pow(cast(fa as double) / 22.13e0, 0.4e0) * " +
      "pow(sin(radians(sd) / 0.0896e0), 1.3e0), 6) AS sti"
  private val rspE =
    "round(cast(fa as double) * tan(radians(sd)), 6) AS rsp"
  private val raE =
    "CASE WHEN fx <> 0.0e0 THEN round(CASE WHEN " +
      "abs(180.0e0 - degrees(atan(fy / fx)) + 90.0e0 * (fx / abs(fx))) > 180.0e0 " +
      "THEN 360.0e0 - abs(180.0e0 - degrees(atan(fy / fx)) + 90.0e0 * (fx / abs(fx))) " +
      "ELSE abs(180.0e0 - degrees(atan(fy / fx)) + 90.0e0 * (fx / abs(fx))) END, 6) " +
      "ELSE -1.0e0 END AS rel_aspect"

  // SDS: quantized slope sums over the 11×11 window, reference op order
  // v = (sum_sqr - (sum*sum)/n)/n
  private val vE =
    "(cast(s2 as double) / 1.0e12 - " +
      "(cast(s1 as double) / 1.0e6 * (cast(s1 as double) / 1.0e6)) / cast(n as double)) " +
      "/ cast(n as double)"
  private def sdsE =
    s"CASE WHEN ($vE) > 0.0e0 THEN round(sqrt($vE), 6) ELSE 0.0e0 END AS sds"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "wetness_index" -> ((s, dir) =>
      withFa(s, dir).filter(expr("sd <> 0.0e0"))
        .selectExpr("ix", "iy", wiE).orderBy("ix", "iy")),

    "sediment_transport_index" -> ((s, dir) =>
      withFa(s, dir).selectExpr("ix", "iy", stiE).orderBy("ix", "iy")),

    "relative_stream_power" -> ((s, dir) =>
      withFa(s, dir).selectExpr("ix", "iy", rspE).orderBy("ix", "iy")),

    "relative_aspect" -> ((s, dir) =>
      fxz(s, dir).selectExpr("ix", "iy", raE).orderBy("ix", "iy")),

    // SlopeVsElevationPlot (terrain_analysis/slope_vs_elevation_plot.rs):
    // the 2-D (slope band, elevation decile) histogram of the atlas plot.
    "slope_vs_elevation_plot" -> ((s, dir) => {
      val g = Dem.dem(s, dir)
      val mm = g.agg(min("z").as("zmn"), max("z").as("zmx"))
      fxz(s, dir).join(g, Seq("ix", "iy")).crossJoin(broadcast(mm))
        .selectExpr("cast(floor(sd / 5.0e0) as bigint) AS slope_band",
          "(z - zmn) * 10 div (zmx - zmn + 1) AS elev_bin")
        .groupBy("slope_band", "elev_bin").agg(count(lit(1)).as("n"))
        .orderBy("slope_band", "elev_bin")
    }),

    "standard_deviation_of_slope" -> ((s, dir) => {
      val q = fxz(s, dir)
        .selectExpr("ix", "iy", "cast(round(sd * 1.0e6) as bigint) AS si")
      val centers = q.select(col("ix").as("cix"), col("iy").as("ciy"))
        .withColumn("dx", explode(sequence(lit(-5), lit(5))))
        .withColumn("dy", explode(sequence(lit(-5), lit(5))))
        .select((col("cix") + col("dx")).as("nix"), (col("ciy") + col("dy")).as("niy"),
          col("cix"), col("ciy"))
      centers
        .join(q.selectExpr("ix AS nix", "iy AS niy", "si"), Seq("nix", "niy"))
        .groupBy(col("cix").as("ix"), col("ciy").as("iy"))
        .agg(count(lit(1)).as("n"), sum("si").as("s1"), sum(expr("si * si")).as("s2"))
        .selectExpr("ix", "iy", sdsE)
        .orderBy("ix", "iy")
    })
  )

  // ---- DuckDB twins ----------------------------------------------------

  /** zm-scaled Horn chain ending in fxz(ix, iy, fx, fy, sd). */
  private def duckFxz: String = {
    val zm = "zm AS (SELECT ix, iy, cast(z as double) / 100000.0e0 AS z FROM dem)"
    val hz = "hz AS (SELECT c.ix, c.iy, c.z, n.ix - c.ix AS dx, n.iy - c.iy AS dy, " +
      "n.z AS nz FROM zm c JOIN zm n ON n.ix BETWEEN c.ix - 1 AND c.ix + 1 " +
      "AND n.iy BETWEEN c.iy - 1 AND c.iy + 1)"
    val ms = offsets.zipWithIndex.map { case ((dx, dy), c) =>
      s"max(CASE WHEN dx = $dx AND dy = $dy THEN nz END) AS m$c"
    }.mkString(", ")
    val ag = s"agz AS (SELECT ix, iy, max(z) AS z, $ms FROM hz GROUP BY ix, iy)"
    val nbt = s"nbz AS (SELECT ix, iy, ${nbSelects.mkString(", ")} FROM agz)"
    s"$zm, $hz, $ag, $nbt, " +
      s"fxz AS MATERIALIZED (SELECT ix, iy, fx, fy, $sdE AS sd FROM " +
      s"(SELECT ix, iy, $fyE AS fy, $fxE AS fx FROM nbz))"
  }

  private def Wfa(extra: String*): String =
    (Seq(Dem.duckFaCtes, duckFxz) ++ extra).mkString("WITH RECURSIVE ", ", ", " ")

  def oracles: Map[String, String] = Map(

    "wetness_index" -> (Wfa() +
      s"SELECT f.ix, f.iy, $wiE FROM fxz f JOIN fa ON fa.ix = f.ix AND fa.iy = f.iy " +
      "WHERE f.sd <> 0.0e0 ORDER BY 1, 2"),

    "sediment_transport_index" -> (Wfa() +
      s"SELECT f.ix, f.iy, $stiE FROM fxz f JOIN fa ON fa.ix = f.ix AND fa.iy = f.iy " +
      "ORDER BY 1, 2"),

    "relative_stream_power" -> (Wfa() +
      s"SELECT f.ix, f.iy, $rspE FROM fxz f JOIN fa ON fa.ix = f.ix AND fa.iy = f.iy " +
      "ORDER BY 1, 2"),

    "relative_aspect" -> (s"WITH RECURSIVE ${Dem.duckDemCtes}, $duckFxz " +
      s"SELECT ix, iy, $raE FROM fxz ORDER BY ix, iy"),

    "slope_vs_elevation_plot" -> (s"WITH RECURSIVE ${Dem.duckDemCtes}, $duckFxz, " +
      "mm AS (SELECT min(z) AS zmn, max(z) AS zmx FROM dem) " +
      "SELECT cast(floor(f.sd / 5.0e0) as bigint) AS slope_band, " +
      "(d.z - mm.zmn) * 10 // (mm.zmx - mm.zmn + 1) AS elev_bin, count(*) AS n " +
      "FROM fxz f JOIN dem d ON d.ix = f.ix AND d.iy = f.iy, mm " +
      "GROUP BY 1, 2 ORDER BY slope_band, elev_bin"),

    "standard_deviation_of_slope" -> (s"WITH RECURSIVE ${Dem.duckDemCtes}, $duckFxz, " +
      "qs AS (SELECT ix, iy, cast(round(sd * 1.0e6) as bigint) AS si FROM fxz), " +
      "jn AS (SELECT c.ix, c.iy, n.si FROM qs c JOIN qs n " +
      "ON n.ix BETWEEN c.ix - 5 AND c.ix + 5 AND n.iy BETWEEN c.iy - 5 AND c.iy + 5), " +
      "ws AS (SELECT ix, iy, count(*) AS n, cast(sum(si) as bigint) AS s1, " +
      "cast(sum(si * si) as bigint) AS s2 FROM jn GROUP BY 1, 2) " +
      s"SELECT ix, iy, $sdsE FROM ws ORDER BY ix, iy")
  )
}
