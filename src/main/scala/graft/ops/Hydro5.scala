package graft.ops

import graft.core.{Dialect, DuckD, Gates, Geo, SparkD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 batch 5 — remaining hydro closes + misc:
  *
  *   - BreachPits (hydro_analysis/breach_pits.rs:183-210): for every pit
  *     (no lower 8-neighbour), each distance-2 ring cell with z₂ < z
  *     breaches the intermediate neighbour to (z+z₂)/2. The reference's
  *     scan-order last-write-wins on conflicting breaches is replaced by
  *     the deterministic MIN over candidates (deepest breach) — doc'd.
  *   - ElevationAboveStreamEuclidean (elevation_above_stream_euclidean
  *     .rs): z − z(euclidean-nearest stream cell) — reuses the two-level
  *     euclidean engine with stream cells as sources.
  *   - JensonSnapPourPoints (jenson_snap_pour_points.rs): gauges snapped
  *     to the euclidean-nearest STREAM cell within the snap window (ties
  *     by source id, deterministic).
  *   - FlattenLakes (flatten_lakes.rs): cells under the lake footprint
  *     take the lake's minimum elevation (synthetic lake box fixture).
  *   - FillBurn (fill_burn.rs): stream cells burned 50 z-units down.
  *   - TrendSurfaceVectorPoints (trend_surface_vector_points.rs): plane
  *     fit over the NYC points; coordinates quantized to integer 1e-6
  *     units so the normal-equation SUMS are exact, Cramer solved in
  *     doubles (fixed scalar op order).
  *   - ConvertRasterFormat (data_tools/convert_raster_format.rs): the
  *     parquet-native analogue — the density grid round-trips through a
  *     REAL CSV file and back (sink + source), equality certifies the
  *     conversion lossless.
  *   - LidarInfo (lidar_analysis/lidar_info.rs): point-cloud summary
  *     (counts, extents, z stats, per-flightline counts).
  */
object Hydro5 extends Gates {

  // breach geometry (reference row coords; our iy = −row)
  private val dxs = Seq(1, 1, 1, 0, -1, -1, -1, 0)
  private val dys = Seq(-1, 0, 1, 1, 1, 0, -1, -1)
  private val dx2 = Seq(2, 2, 2, 2, 2, 1, 0, -1, -2, -2, -2, -2, -2, -1, 0, 1)
  private val dy2 = Seq(-2, -1, 0, 1, 2, 2, 2, 2, 2, 1, 0, -1, -2, -2, -2, -2)
  private val breachcell = Seq(0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6, 7, 0)

  private val lakeBox = "ix BETWEEN 10 AND 20 AND iy BETWEEN 30 AND 40"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "breach_pits" -> ((s, dir) => {
      val g = Dem.dem(s, dir)
      // pits: no strictly-lower 8-neighbour
      val pits = Dem.halo(g)
        .groupBy("ix", "iy")
        .agg(max("z").as("z"),
          expr("cast(sum(CASE WHEN nz < z THEN 1 ELSE 0 END) as bigint)").as("nl"))
        .filter(col("nl") === 0)
        .select("ix", "iy", "z")
      // ring-2 probes: (pit, i) → far cell and the breach target cell
      val sp = s
      import sp.implicits._
      val ring = dx2.indices.map(i =>
        (i, dx2(i), -dy2(i), dxs(breachcell(i)), -dys(breachcell(i)))).toDF(
        "i", "fdx", "fdy", "bdx", "bdy")
      val cand = pits.crossJoin(broadcast(ring))
        .selectExpr("ix + fdx AS fx", "iy + fdy AS fy", "ix + bdx AS bx", "iy + bdy AS by", "z")
        .join(g.selectExpr("ix AS fx", "iy AS fy", "z AS zf"), Seq("fx", "fy"))
        .filter(expr("zf < z"))
        .selectExpr("bx AS ix", "by AS iy", "(cast(z as double) + cast(zf as double)) / 2.0e0 AS bz")
        .groupBy("ix", "iy").agg(min("bz").as("bz"))
      g.join(cand, Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy", "coalesce(bz, cast(z as double)) AS z_breached")
        .orderBy("ix", "iy")
    }),

    "elevation_above_stream_euclidean" -> ((s, dir) => {
      val g = Dem.dem(s, dir)
      val flagged = g.join(Dem.streams(s, dir).withColumn("v", lit(1L)), Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy", "coalesce(v, 0) AS v")
      Distance.euclidean(s, flagged, "v = 1")
        .join(g, Seq("ix", "iy"))
        .join(g.selectExpr("ix AS src_ix", "iy AS src_iy", "z AS sz"), Seq("src_ix", "src_iy"))
        .selectExpr("ix", "iy", "cast(z - sz as bigint) AS elev_above")
        .orderBy("ix", "iy")
    }),

    "jenson_snap_pour_points" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val raw = Seq((10L, 40L, 1L), (30L, 8L, 2L), (44L, 20L, 3L)).toDF("px", "py", "pid")
      raw.withColumn("dx", explode(sequence(lit(-3), lit(3))))
        .withColumn("dy", explode(sequence(lit(-3), lit(3))))
        .selectExpr("pid", "px", "py", "px + dx AS ix", "py + dy AS iy")
        .join(Dem.streams(s, dir), Seq("ix", "iy"))
        .selectExpr("pid", "ix", "iy",
          "(ix - px) * (ix - px) + (iy - py) * (iy - py) AS d2")
        .groupBy("pid")
        .agg(expr("min_by(named_struct('sx', ix, 'sy', iy), " +
          "named_struct('d2', d2, 'sx', ix, 'sy', iy))").as("b"))
        .selectExpr("pid", "b.sx AS sx", "b.sy AS sy")
        .orderBy("pid")
    }),

    "flatten_lakes" -> ((s, dir) => {
      val g = Dem.dem(s, dir)
      val lakeMin = g.filter(expr(lakeBox)).agg(min("z").as("lz"))
      g.crossJoin(broadcast(lakeMin))
        .selectExpr("ix", "iy",
          s"CASE WHEN $lakeBox THEN lz ELSE z END AS z_flat")
        .orderBy("ix", "iy")
    }),

    "fill_burn" -> ((s, dir) =>
      Dem.dem(s, dir)
        .join(Dem.streams(s, dir).withColumn("st", lit(1)), Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy", "CASE WHEN st = 1 THEN z - 50 ELSE z END AS z_burned")
        .orderBy("ix", "iy")),

    "trend_surface_points" -> ((s, dir) => {
      Tables.register(s, dir)
      s.sql(trendPtsSql(SparkD))
    }),

    "convert_raster_format" -> ((s, dir) => {
      val tmp = s"/tmp/graft_raster_convert_${Math.abs(dir.hashCode)}"
      Raster.density(s, dir, 5)
        .coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
      s.read.option("header", "true").schema("ix BIGINT, iy BIGINT, v BIGINT").csv(tmp)
        .orderBy("ix", "iy")
    }),

    "lidar_info" -> ((s, dir) =>
      Tables.pages(s, dir)
        .filter(expr("lon >= -74.05e0 AND lon <= -73.85e0 AND lat >= 40.65e0 AND lat <= 40.85e0"))
        .selectExpr("doc_id % 4 AS fl", "lon", "lat", "cast(n_chars as bigint) AS z")
        .groupBy("fl")
        .agg(count(lit(1)).as("n"), min("lon").as("min_x"), max("lon").as("max_x"),
          min("lat").as("min_y"), max("lat").as("max_y"),
          min("z").as("min_z"), max("z").as("max_z"),
          expr("cast(sum(z) as bigint)").as("sum_z"))
        .orderBy("fl"))
  )

  /** plane fit over NYC points, micro-unit-quantized sums + double Cramer. */
  private def trendPtsSql(d: Dialect): String = {
    val qx = "cast(round(lon * 1.0e6) as bigint)"
    val qy = "cast(round(lat * 1.0e6) as bigint)"
    val pts = s"pts AS (SELECT $qx AS x, $qy AS y, cast(n_chars as bigint) AS z FROM pages " +
      "WHERE lon >= -74.05e0 AND lon <= -73.85e0 AND lat >= 40.65e0 AND lat <= 40.85e0)"
    val ag = "ag AS (SELECT count(*) AS n, cast(sum(x) as bigint) AS sx, " +
      "cast(sum(y) as bigint) AS sy, cast(sum(x * x) as bigint) AS sxx, " +
      "cast(sum(y * y) as bigint) AS syy, cast(sum(x * y) as bigint) AS sxy, " +
      "cast(sum(z) as bigint) AS sz, cast(sum(x * z) as bigint) AS sxz, " +
      "cast(sum(y * z) as bigint) AS syz FROM pts)"
    // doubles from here: the 128-bit products overflow int64 (Cramer's
    // dets); scalar double arithmetic in a fixed op order is parity-safe
    val dbl = "db AS (SELECT cast(n as double) AS n, cast(sx as double) AS sx, " +
      "cast(sy as double) AS sy, cast(sxx as double) AS sxx, cast(syy as double) AS syy, " +
      "cast(sxy as double) AS sxy, cast(sz as double) AS sz, cast(sxz as double) AS sxz, " +
      "cast(syz as double) AS syz FROM ag)"
    val det = "(n * (sxx * syy - sxy * sxy) - sx * (sx * syy - sxy * sy) + sy * (sx * sxy - sxx * sy))"
    val detA = "(sz * (sxx * syy - sxy * sxy) - sx * (sxz * syy - sxy * syz) + sy * (sxz * sxy - sxx * syz))"
    val detB = "(n * (sxz * syy - sxy * syz) - sz * (sx * syy - sxy * sy) + sy * (sx * syz - sxz * sy))"
    val detC = "(n * (sxx * syz - sxz * sxy) - sx * (sx * syz - sxz * sy) + sz * (sx * sxy - sxx * sy))"
    s"${Geo.pagesWith(d)}, $pts, $ag, $dbl " +
      s"SELECT cast(n as bigint) AS n, round($detA / $det, 6) AS coef_a, " +
      s"round($detB / $det * 1.0e6, 6) AS coef_b_millionth, " +
      s"round($detC / $det * 1.0e6, 6) AS coef_c_millionth FROM db"
  }

  // ---- DuckDB twins ----------------------------------------------------

  private def Wd(extra: String*): String =
    (Seq(Dem.duckDemCtes) ++ extra).mkString("WITH RECURSIVE ", ", ", " ")
  private def W(extra: String*): String =
    (Seq(Dem.duckStreamCtes) ++ extra).mkString("WITH RECURSIVE ", ", ", " ")

  private def ringValues: String =
    dx2.indices.map(i =>
      s"(${dx2(i)}, ${-dy2(i)}, ${dxs(breachcell(i))}, ${-dys(breachcell(i))})").mkString(", ")

  def oracles: Map[String, String] = Map(

    "breach_pits" -> (Wd(
      "pits AS (SELECT c.ix, c.iy, c.z FROM dem c JOIN dem n " +
        "ON n.ix BETWEEN c.ix - 1 AND c.ix + 1 AND n.iy BETWEEN c.iy - 1 AND c.iy + 1 " +
        "AND NOT (n.ix = c.ix AND n.iy = c.iy) " +
        "GROUP BY 1, 2, 3 HAVING sum(CASE WHEN n.z < c.z THEN 1 ELSE 0 END) = 0)",
      s"ring AS (SELECT * FROM (VALUES $ringValues) r(fdx, fdy, bdx, bdy))",
      "cand AS (SELECT p.ix + r.bdx AS ix, p.iy + r.bdy AS iy, " +
        "min((cast(p.z as double) + cast(f.z as double)) / 2.0e0) AS bz " +
        "FROM pits p JOIN ring r ON true " +
        "JOIN dem f ON f.ix = p.ix + r.fdx AND f.iy = p.iy + r.fdy AND f.z < p.z " +
        "GROUP BY 1, 2)") +
      "SELECT d.ix, d.iy, coalesce(c.bz, cast(d.z as double)) AS z_breached " +
      "FROM dem d LEFT JOIN cand c ON c.ix = d.ix AND c.iy = d.iy ORDER BY 1, 2"),

    "elevation_above_stream_euclidean" -> (W(
      "bb AS (SELECT c.ix, c.iy, c.z, " +
        "min(((c.ix - st.ix) * (c.ix - st.ix) + (c.iy - st.iy) * (c.iy - st.iy)) * 4294967296 " +
        "+ (st.ix * 1000000 + st.iy)) AS key FROM dem c, st GROUP BY 1, 2, 3)") +
      "SELECT bb.ix, bb.iy, cast(bb.z - d.z as bigint) AS elev_above FROM bb " +
      "JOIN dem d ON d.ix = cast((bb.key % 4294967296) // 1000000 as bigint) " +
      "AND d.iy = cast((bb.key % 4294967296) % 1000000 as bigint) ORDER BY 1, 2"),

    "jenson_snap_pour_points" -> (W(
      "raw AS (SELECT * FROM (VALUES (10, 40, 1), (30, 8, 2), (44, 20, 3)) r(px, py, pid))",
      "sn AS (SELECT pid, st.ix AS sx, st.iy AS sy, " +
        "row_number() OVER (PARTITION BY pid ORDER BY " +
        "(st.ix - px) * (st.ix - px) + (st.iy - py) * (st.iy - py), st.ix, st.iy) AS rn " +
        "FROM raw JOIN st ON st.ix BETWEEN raw.px - 3 AND raw.px + 3 " +
        "AND st.iy BETWEEN raw.py - 3 AND raw.py + 3)") +
      "SELECT pid, sx, sy FROM sn WHERE rn = 1 ORDER BY pid"),

    "flatten_lakes" -> (Wd(
      s"lm AS (SELECT min(z) AS lz FROM dem WHERE $lakeBox)") +
      s"SELECT ix, iy, CASE WHEN $lakeBox THEN lm.lz ELSE z END AS z_flat " +
      "FROM dem, lm ORDER BY ix, iy"),

    "fill_burn" -> (W() +
      "SELECT d.ix, d.iy, CASE WHEN st.ix IS NOT NULL THEN d.z - 50 ELSE d.z END AS z_burned " +
      "FROM dem d LEFT JOIN st ON st.ix = d.ix AND st.iy = d.iy ORDER BY 1, 2"),

    "trend_surface_points" -> trendPtsSql(DuckD),

    "convert_raster_format" -> {
      val dD = DuckD
      s"${Geo.pagesWith(dD)}, ${Geo.densityCte(dD, 5)} " +
        "SELECT ix, iy, v FROM g ORDER BY ix, iy"
    },

    "lidar_info" ->
      (s"${Geo.pagesWith(DuckD)} " +
        "SELECT doc_id % 4 AS fl, count(*) AS n, min(lon) AS min_x, max(lon) AS max_x, " +
        "min(lat) AS min_y, max(lat) AS max_y, " +
        "min(cast(n_chars as bigint)) AS min_z, max(cast(n_chars as bigint)) AS max_z, " +
        "cast(sum(cast(n_chars as bigint)) as bigint) AS sum_z " +
        "FROM pages WHERE lon >= -74.05e0 AND lon <= -73.85e0 " +
        "AND lat >= 40.65e0 AND lat <= 40.85e0 GROUP BY 1 ORDER BY fl")
  )
}
