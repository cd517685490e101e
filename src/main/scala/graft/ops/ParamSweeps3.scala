package graft.ops

import graft.core.{DuckD, Gates, Geo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parameter-surface sweep, batch 3 — continuing the ParamSweeps /
  * ParamSweeps2 discipline (same production engine path, one user-facing
  * constant changed):
  *
  *   - SnapPourPoints --snap_dist (snap_pour_points.rs): radius 4
  *     alongside the gated 2 — the (2r+1)² gauge window doubles and two
  *     of the three seeds snap to DIFFERENT (higher-fa) cells.
  *   - LidarThin --resolution (lidar_thin.rs): cell side 0.025° alongside
  *     the gated 0.0125° — coarser thinning keeps fewer points.
  *   - Resample nearest-neighbour --cell_size (resample.rs:68-70): res-4
  *     parent grid onto res-7 (factor 8) alongside the gated res-5→res-7
  *     (factor 4). Pure re-keying at any factor: the plan is one equi-join
  *     on the parent key, no interpolation arithmetic to re-verify.
  *
  * (The azimuth batch-3 points — horizon az330, fetch az45 — live in
  * ops/Direction.scala with the rest of the Az machinery; the Sibson
  * lattice sweep lives in ops/Sibson.scala.)
  */
object ParamSweeps3 extends Gates {

  private def resampleNnF8(s: SparkSession, dir: String): DataFrame = {
    val coarse = Raster.density(s, dir, 4)
      .select(col("ix").as("pix"), col("iy").as("piy"), col("v"))
    val fine = Raster.density(s, dir, 7)
      .select(col("ix"), col("iy"),
        expr("ix div 8").as("pix"), expr("iy div 8").as("piy"))
    fine.join(coarse, Seq("pix", "piy"))
      .select("ix", "iy", "v")
  }

  private def resampleNnF8Duck: String = {
    val c4 = s"c AS (SELECT ${Geo.ix(DuckD, "lon", 4)} AS pix, " +
      s"${Geo.iy(DuckD, "lat", 4)} AS piy, count(*) AS v FROM pages GROUP BY 1, 2)"
    val f7 = s"f AS (SELECT ${Geo.ix(DuckD, "lon", 7)} AS ix, " +
      s"${Geo.iy(DuckD, "lat", 7)} AS iy FROM pages GROUP BY 1, 2)"
    s"${Geo.pagesWith(DuckD)}, $c4, $f7 " +
      s"SELECT ix, iy, v FROM f JOIN c " +
      s"ON ${DuckD.idiv("ix", "8")} = pix AND ${DuckD.idiv("iy", "8")} = piy " +
      "ORDER BY ix, iy"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "snap_pour_points_r4" -> ((s, dir) => Hydro3.snapPour(s, dir, 4)),
    "lidar_thin_res025" -> ((s, dir) => Lidar2.thin(s, dir, 0.025)),
    "resample_nn_f8" -> ((s, dir) => resampleNnF8(s, dir)))

  def oracles: Map[String, String] = Map(
    "snap_pour_points_r4" -> Hydro3.snapPourDuck(4),
    "lidar_thin_res025" -> Lidar2.thinDuck(0.025),
    "resample_nn_f8" -> resampleNnF8Duck)
}
