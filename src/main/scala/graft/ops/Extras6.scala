package graft.ops

import graft.core.{Dialect, DuckD, Gates, Geo, Lit, SparkD, Zones}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 batch 3 — LiDAR flightline family + raster/image misc:
  *
  *   - FlightlineOverlap (lidar_analysis/flightline_overlap.rs): per grid
  *     cell, the number of distinct flightlines contributing points. The
  *     fixture has no GPS time, so the flightline id is the deterministic
  *     doc_id % 4 (the reference segments flightlines by GPS-time gaps —
  *     an input-derivation difference, not an operator difference).
  *   - ClassifyOverlapPoints (classify_overlap_points.rs): points from a
  *     non-dominant flightline of their cell are flagged (dominant = most
  *     points, ties to the smaller flightline id).
  *   - FindFlightlineEdgePoints (find_flightline_edge_points.rs): points
  *     with a different-flightline point within the search radius — FRS
  *     block join, never a distance cross join on the Spark side.
  *   - ErasePolygonFromRaster (gis_analysis/erase_polygon_from_raster.rs):
  *     cells whose CENTRE falls inside the zone-3 polygon are erased
  *     (winding-number test, the poly_ops.rs:28-70 clone in Zones).
  *   - Centroid raster (gis_analysis/centroid.rs): per patch class the
  *     mean cell coordinates — integer sums, one final division.
  *   - EdgeProportion (gis_analysis/edge_proportion.rs): per class the
  *     fraction of its cells that touch a different/absent value.
  *   - NewRasterFromBase (data_tools/new_raster_from_base.rs): base grid
  *     shape with a constant value.
  *   - AttributeScattergram (math_stat_analysis/attribute_scattergram.rs):
  *     2-D binned counts of two attributes.
  *   - CorrectVignetting (image_analysis/correct_vignetting.rs:28-326):
  *     BV / cosⁿ(atan(d/f)), principal point at the grid centre.
  *   - PanchromaticSharpening (image_analysis/panchromatic_sharpening.rs,
  *     Brovey): band · pan / (r+g+b) over the en/zh/es band stack
  *     (Color.scala's composite fixture) with pan = total density.
  *   - DirectDecorrelationStretch (image_analysis/
  *     direct_decorrelation_stretch.rs): band − k·min(r,g,b), k = 0.5.
  *   - WriteFunctionMemoryInsertion (image_analysis/
  *     write_function_memory_insertion.rs): change-detection composite
  *     R = date-1 band, G = B = date-2 band (en vs zh densities).
  */
object Extras6 extends Gates {

  private val nycBox = "lon >= -74.05e0 AND lon <= -73.85e0 AND lat >= 40.65e0 AND lat <= 40.85e0"
  private val radius = 0.02
  private val r2 = Lit.d(radius * radius)
  private val res5n = 32

  private def ptsSql(d: Dialect): String =
    s"pts AS (SELECT doc_id AS id, lon AS x, lat AS y, doc_id % 4 AS fl, " +
      s"cast(floor((lon - (-74.05e0)) / 0.0125e0) as bigint) AS cix, " +
      s"cast(floor((lat - 40.65e0) / 0.0125e0) as bigint) AS ciy " +
      s"FROM pages WHERE $nycBox)"

  private def pts(s: SparkSession, dir: String): DataFrame =
    Tables.pages(s, dir).filter(expr(nycBox))
      .selectExpr("doc_id AS id", "lon AS x", "lat AS y", "doc_id % 4 AS fl",
        "cast(floor((lon - (-74.05e0)) / 0.0125e0) as bigint) AS cix",
        "cast(floor((lat - 40.65e0) / 0.0125e0) as bigint) AS ciy")

  // cell-centre coords of the res-5 world grid
  private val lonC = "(-180.0e0 + (cast(ix as double) + 0.5e0) * 11.25e0)"
  private val latC = "(-90.0e0 + (cast(iy as double) + 0.5e0) * 5.625e0)"

  // vignetting constants (reference defaults)
  private val vigE = "round(cast(v as double) / pow(cos(atan(sqrt(" +
    "(cast(ix as double) - 15.5e0) * (cast(ix as double) - 15.5e0) + " +
    "(cast(iy as double) - 15.5e0) * (cast(iy as double) - 15.5e0)) * 10.0e0 / 304.8e0)), 4.0e0), 6) AS v_corr"

  /** en/zh/es band stack + pan (total density) at res 5 — the Color.scala
    * composite fixture widened with the pan band. */
  private def bandsSql(d: Dialect): String =
    s"l AS (SELECT lang, ${Geo.ix(d, "lon", 5)} AS ix, ${Geo.iy(d, "lat", 5)} AS iy, " +
      "count(*) AS v FROM pages WHERE lang IN ('en', 'zh', 'es') GROUP BY 1, 2, 3), " +
      "w AS (SELECT ix, iy, max(CASE WHEN lang = 'en' THEN v END) AS r0, " +
      "max(CASE WHEN lang = 'zh' THEN v END) AS g0, " +
      "max(CASE WHEN lang = 'es' THEN v END) AS b0 FROM l GROUP BY 1, 2), " +
      s"pan AS (SELECT ${Geo.ix(d, "lon", 5)} AS ix, ${Geo.iy(d, "lat", 5)} AS iy, " +
      "count(*) AS p FROM pages GROUP BY 1, 2), " +
      "c AS (SELECT w.ix, w.iy, r0, g0, b0, pan.p FROM w JOIN pan ON pan.ix = w.ix AND pan.iy = w.iy " +
      "WHERE r0 IS NOT NULL AND g0 IS NOT NULL AND b0 IS NOT NULL)"

  private def bands(s: SparkSession, dir: String): DataFrame = {
    Tables.register(s, dir)
    s.sql(s"${Geo.pagesWith(SparkD)}, ${bandsSql(SparkD)} SELECT * FROM c")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "flightline_overlap" -> ((s, dir) =>
      pts(s, dir).groupBy("cix", "ciy")
        .agg(countDistinct("fl").as("n_fl"))
        .orderBy("cix", "ciy")),

    "classify_overlap_points" -> ((s, dir) => {
      val p = pts(s, dir)
      val dom = p.groupBy("cix", "ciy", "fl").agg(count(lit(1)).as("c"))
        .groupBy("cix", "ciy")
        .agg(expr("min_by(fl, named_struct('nc', -c, 'fl', fl))").as("dfl"))
      p.join(dom, Seq("cix", "ciy"))
        .selectExpr("id AS doc_id", "CASE WHEN fl = dfl THEN 0 ELSE 1 END AS overlap")
        .orderBy("doc_id")
    }),

    "find_flightline_edge_points" -> ((s, dir) => {
      import Lit.{d => L}
      val p = pts(s, dir)
        .withColumn("bx", expr(s"cast(floor(x / ${L(radius)}) as bigint)"))
        .withColumn("by", expr(s"cast(floor(y / ${L(radius)}) as bigint)"))
      val probes = p
        .withColumn("dx", explode(sequence(lit(-1), lit(1))))
        .withColumn("dy", explode(sequence(lit(-1), lit(1))))
        .select(col("id"), col("x"), col("y"), col("fl"),
          (col("bx") + col("dx")).as("nbx"), (col("by") + col("dy")).as("nby"))
      probes.join(
          p.select(col("x").as("nx"), col("y").as("ny"), col("fl").as("nfl"),
            col("bx").as("nbx"), col("by").as("nby")),
          Seq("nbx", "nby"))
        .filter(expr(s"(nx - x) * (nx - x) + (ny - y) * (ny - y) <= $r2 AND nfl <> fl"))
        .select("id").distinct()
        .selectExpr("id AS doc_id").orderBy("doc_id")
    }),

    "erase_polygon_from_raster" -> ((s, dir) =>
      Raster.density(s, dir, 5)
        .filter(expr(s"NOT ${Zones.insideZoneSql(3, lonC, latC)}"))
        .select("ix", "iy", "v").orderBy("ix", "iy")),

    "raster_centroid" -> ((s, dir) =>
      Raster.density(s, dir, 5)
        .groupBy("v")
        .agg(expr("cast(sum(ix) as bigint)").as("sx"),
          expr("cast(sum(iy) as bigint)").as("sy"), count(lit(1)).as("n"))
        .selectExpr("v", "round(cast(sx as double) / cast(n as double), 6) AS cx",
          "round(cast(sy as double) / cast(n as double), 6) AS cy")
        .orderBy("v")),

    "edge_proportion" -> ((s, dir) =>
      Focal.haloD(Raster.density(s, dir, 5))
        .filter(expr("NOT (dx = 0 AND dy = 0)"))
        .groupBy("ix", "iy")
        .agg(max("v").as("v"),
          expr("cast(sum(CASE WHEN nv = v THEN 1 ELSE 0 END) as bigint)").as("n_same"))
        .groupBy("v")
        .agg(count(lit(1)).as("n_cells"),
          expr("cast(sum(CASE WHEN n_same < 8 THEN 1 ELSE 0 END) as bigint)").as("n_edge"))
        .selectExpr("v", "round(cast(n_edge as double) / cast(n_cells as double), 6) AS edge_prop")
        .orderBy("v")),

    "new_raster_from_base" -> ((s, dir) =>
      Raster.density(s, dir, 5)
        .selectExpr("ix", "iy", "7.0e0 AS v_new").orderBy("ix", "iy")),

    "attribute_scattergram" -> ((s, dir) =>
      Tables.table(s, dir, "documents")
        .selectExpr("n_chars div 200 AS xa", "length(text) div 400 AS yb")
        .groupBy("xa", "yb").agg(count(lit(1)).as("n"))
        .orderBy("xa", "yb")),

    "correct_vignetting" -> ((s, dir) =>
      Raster.density(s, dir, 5)
        .selectExpr("ix", "iy", vigE).orderBy("ix", "iy")),

    "panchromatic_sharpening" -> ((s, dir) =>
      bands(s, dir).selectExpr("ix", "iy",
        "round(cast(r0 as double) * cast(p as double) / cast(r0 + g0 + b0 as double), 6) AS r_sharp",
        "round(cast(g0 as double) * cast(p as double) / cast(r0 + g0 + b0 as double), 6) AS g_sharp",
        "round(cast(b0 as double) * cast(p as double) / cast(r0 + g0 + b0 as double), 6) AS b_sharp")
        .orderBy("ix", "iy")),

    "direct_decorrelation_stretch" -> ((s, dir) =>
      bands(s, dir).selectExpr("ix", "iy",
        "round(cast(r0 as double) - 0.5e0 * cast(least(r0, g0, b0) as double), 6) AS r_dds",
        "round(cast(g0 as double) - 0.5e0 * cast(least(r0, g0, b0) as double), 6) AS g_dds",
        "round(cast(b0 as double) - 0.5e0 * cast(least(r0, g0, b0) as double), 6) AS b_dds")
        .orderBy("ix", "iy")),

    "write_function_memory_insertion" -> ((s, dir) => {
      val en = langDensity(s, dir, "en")
      val zh = langDensity(s, dir, "zh")
      en.join(zh, Seq("ix", "iy"), "full")
        .selectExpr("ix", "iy", "coalesce(v_en, 0) AS mem_r",
          "coalesce(v_zh, 0) AS mem_g", "coalesce(v_zh, 0) AS mem_b")
        .orderBy("ix", "iy")
    })
  )

  private def langDensity(s: SparkSession, dir: String, lang: String): DataFrame =
    Tables.pages(s, dir).filter(col("lang") === lang)
      .selectExpr(s"${Geo.ix(SparkD, "lon", 5)} AS ix", s"${Geo.iy(SparkD, "lat", 5)} AS iy")
      .groupBy("ix", "iy").agg(count(lit(1)).as(s"v_$lang"))

  // ---- DuckDB twins ----------------------------------------------------

  def oracles: Map[String, String] = Map(

    "flightline_overlap" ->
      (s"${Geo.pagesWith(DuckD)}, ${ptsSql(DuckD)} " +
        "SELECT cix, ciy, count(DISTINCT fl) AS n_fl FROM pts GROUP BY 1, 2 ORDER BY cix, ciy"),

    "classify_overlap_points" ->
      (s"${Geo.pagesWith(DuckD)}, ${ptsSql(DuckD)}, " +
        "cf AS (SELECT cix, ciy, fl, count(*) AS c FROM pts GROUP BY 1, 2, 3), " +
        "dom AS (SELECT cix, ciy, fl AS dfl FROM (SELECT cix, ciy, fl, " +
        "row_number() OVER (PARTITION BY cix, ciy ORDER BY c DESC, fl) AS rn FROM cf) WHERE rn = 1) " +
        "SELECT p.id AS doc_id, CASE WHEN p.fl = dom.dfl THEN 0 ELSE 1 END AS overlap " +
        "FROM pts p JOIN dom ON dom.cix = p.cix AND dom.ciy = p.ciy ORDER BY doc_id"),

    "find_flightline_edge_points" ->
      (s"${Geo.pagesWith(DuckD)}, ${ptsSql(DuckD)} " +
        "SELECT DISTINCT a.id AS doc_id FROM pts a JOIN pts b " +
        s"ON (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y) <= $r2 " +
        "AND b.fl <> a.fl ORDER BY doc_id"),

    "erase_polygon_from_raster" ->
      (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 5)} " +
        s"SELECT ix, iy, v FROM g WHERE NOT ${Zones.insideZoneSql(3, lonC, latC)} " +
        "ORDER BY ix, iy"),

    "raster_centroid" ->
      (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 5)} " +
        "SELECT v, round(cast(cast(sum(ix) as bigint) as double) / cast(count(*) as double), 6) AS cx, " +
        "round(cast(cast(sum(iy) as bigint) as double) / cast(count(*) as double), 6) AS cy " +
        "FROM g GROUP BY v ORDER BY v"),

    "edge_proportion" ->
      (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 5)}, " +
        "h AS (SELECT c.ix, c.iy, c.v, cast(sum(CASE WHEN n.v = c.v THEN 1 ELSE 0 END) as bigint) AS n_same " +
        "FROM g c JOIN g n ON n.ix BETWEEN c.ix - 1 AND c.ix + 1 AND n.iy BETWEEN c.iy - 1 AND c.iy + 1 " +
        "AND NOT (n.ix = c.ix AND n.iy = c.iy) GROUP BY 1, 2, 3) " +
        "SELECT v, round(cast(cast(sum(CASE WHEN n_same < 8 THEN 1 ELSE 0 END) as bigint) as double) " +
        "/ cast(count(*) as double), 6) AS edge_prop FROM h GROUP BY v ORDER BY v"),

    "new_raster_from_base" ->
      (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 5)} " +
        "SELECT ix, iy, 7.0e0 AS v_new FROM g ORDER BY ix, iy"),

    "attribute_scattergram" ->
      ("SELECT n_chars // 200 AS xa, length(text) // 400 AS yb, count(*) AS n " +
        "FROM documents GROUP BY 1, 2 ORDER BY xa, yb"),

    "correct_vignetting" ->
      (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 5)} " +
        s"SELECT ix, iy, $vigE FROM g ORDER BY ix, iy"),

    "panchromatic_sharpening" ->
      (s"${Geo.pagesWith(DuckD)}, ${bandsSql(DuckD)} " +
        "SELECT ix, iy, " +
        "round(cast(r0 as double) * cast(p as double) / cast(r0 + g0 + b0 as double), 6) AS r_sharp, " +
        "round(cast(g0 as double) * cast(p as double) / cast(r0 + g0 + b0 as double), 6) AS g_sharp, " +
        "round(cast(b0 as double) * cast(p as double) / cast(r0 + g0 + b0 as double), 6) AS b_sharp " +
        "FROM c ORDER BY ix, iy"),

    "direct_decorrelation_stretch" ->
      (s"${Geo.pagesWith(DuckD)}, ${bandsSql(DuckD)} " +
        "SELECT ix, iy, " +
        "round(cast(r0 as double) - 0.5e0 * cast(least(r0, g0, b0) as double), 6) AS r_dds, " +
        "round(cast(g0 as double) - 0.5e0 * cast(least(r0, g0, b0) as double), 6) AS g_dds, " +
        "round(cast(b0 as double) - 0.5e0 * cast(least(r0, g0, b0) as double), 6) AS b_dds " +
        "FROM c ORDER BY ix, iy"),

    "write_function_memory_insertion" ->
      (s"${Geo.pagesWith(DuckD)}, " +
        s"ge AS (SELECT ${Geo.ix(DuckD, "lon", 5)} AS ix, ${Geo.iy(DuckD, "lat", 5)} AS iy, " +
        "count(*) AS v FROM pages WHERE lang = 'en' GROUP BY 1, 2), " +
        s"gz AS (SELECT ${Geo.ix(DuckD, "lon", 5)} AS ix, ${Geo.iy(DuckD, "lat", 5)} AS iy, " +
        "count(*) AS v FROM pages WHERE lang = 'zh' GROUP BY 1, 2) " +
        "SELECT coalesce(ge.ix, gz.ix) AS ix, coalesce(ge.iy, gz.iy) AS iy, " +
        "coalesce(ge.v, 0) AS mem_r, coalesce(gz.v, 0) AS mem_g, coalesce(gz.v, 0) AS mem_b " +
        "FROM ge FULL JOIN gz ON gz.ix = ge.ix AND gz.iy = ge.iy ORDER BY ix, iy")
  )
}
