package graft.ops

import graft.core.{Dialect, DuckD, Gates, Geo, SparkD, Zones}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Third utility batch:
  *
  *   - PercentEqualTo (percent_equal_to.rs): per cell, share of the three
  *     language layers whose density equals the test value (the
  *     percent_greater_than frame with an equality predicate).
  *   - TophatTransform, white variant (image_analysis/tophat.rs:264-330):
  *     v − opening(v), opening = dilate(erode(v)) with 3×3 grayscale
  *     min/max filters over PRESENT cells — two chained halo equi-joins,
  *     integer-exact.
  *   - CornerDetection (corner_detection.rs:188-235): foreground cell
  *     whose 8-neighbour presence pattern matches one of the four corner
  *     templates (elements/vals tables cloned; presence = density > 0,
  *     absent cell = background).
  *   - ImageStackProfile (image_stack_profile.rs:253-262): per probe point
  *     and stack layer, the layer value at the point's cell (nodata → 0,
  *     the reference's own fallback). Probes = pages with doc_id % 50 = 0;
  *     stack = the en/zh/es res-5 density layers.
  *   - VectorPolygonsToRaster (vector_polygons_to_raster.rs): res-6 cell
  *     centres inside a zone get the zone's fid; overlaps resolved by min
  *     fid (deterministic stand-in for the reference's record write
  *     order). PIP is the shared winding-parity twin (Zones.insideZoneSql)
  *     — the dedicated gated query for the scanline cover row.
  *   - LidarThinHighDensity (lidar_thin_high_density.rs): cap each res-8
  *     cell at K = 3 points, keeping the first K in record order (min
  *     doc_id — deterministic stand-in for the reference's seeded random
  *     thinning). Spark side uses the bounded TopKByDist aggregator
  *     (O(K) map-side state — no per-cell sort at corpus scale).
  */
object Extras3 extends Gates {

  // ---- percent_equal_to ----------------------------------------------------

  private def pctEqSql(d: Dialect): String =
    s"${Geo.pagesWith(d)}, layers AS (SELECT lang, ${Geo.ix(d, "lon", 5)} AS ix, " +
      s"${Geo.iy(d, "lat", 5)} AS iy, count(*) AS v FROM pages " +
      "WHERE lang IN ('en', 'zh', 'es') GROUP BY 1, 2, 3) " +
      "SELECT ix, iy, cast(sum(CASE WHEN v = 2 THEN 1 ELSE 0 END) as bigint) AS n_eq, " +
      "count(*) AS n_layers, " +
      "100.0e0 * sum(CASE WHEN v = 2 THEN 1 ELSE 0 END) / count(*) AS pct " +
      "FROM layers GROUP BY 1, 2 ORDER BY ix, iy"

  // ---- white tophat ----------------------------------------------------------

  private val duckErode =
    "er AS (SELECT c.ix, c.iy, min(n.v) AS v FROM g c JOIN g n " +
      "ON n.ix BETWEEN c.ix - 1 AND c.ix + 1 AND n.iy BETWEEN c.iy - 1 AND c.iy + 1 GROUP BY 1, 2)"
  private val duckOpen =
    "op AS (SELECT c.ix, c.iy, max(n.v) AS v FROM er c JOIN er n " +
      "ON n.ix BETWEEN c.ix - 1 AND c.ix + 1 AND n.iy BETWEEN c.iy - 1 AND c.iy + 1 GROUP BY 1, 2)"

  private def minMaxHalo(g: DataFrame, isMin: Boolean): DataFrame = {
    val centers = g.select(col("ix").as("cix"), col("iy").as("ciy"))
      .withColumn("dx", explode(sequence(lit(-1), lit(1))))
      .withColumn("dy", explode(sequence(lit(-1), lit(1))))
      .withColumn("nix", col("cix") + col("dx"))
      .withColumn("niy", col("ciy") + col("dy"))
    centers.join(g.select(col("ix").as("nix"), col("iy").as("niy"), col("v").as("nv")),
        Seq("nix", "niy"))
      .groupBy(col("cix").as("ix"), col("ciy").as("iy"))
      .agg((if (isMin) min("nv") else max("nv")).as("v"))
  }

  // ---- corner detection -------------------------------------------------------

  // neighbour index i → (dx, dy) in the reference's order
  private val cdOffs = Seq((1, -1), (1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (-1, -1), (0, -1))
  // the four 5-element templates: first two indices must be foreground,
  // last three background (vals = [1,1,0,0,0])
  private val cdMasks = Seq(Seq(1, 7, 3, 4, 5), Seq(5, 7, 1, 2, 3),
    Seq(3, 5, 0, 1, 7), Seq(1, 3, 5, 6, 7))

  private def cornerE: String = {
    def b(i: Int) = s"b$i"
    val m = cdMasks.map { el =>
      val ones = el.take(2).map(i => s"${b(i)} = 1")
      val zeros = el.drop(2).map(i => s"${b(i)} = 0")
      (ones ++ zeros).mkString("(", " AND ", ")")
    }.mkString(" OR ")
    s"CASE WHEN $m THEN 1 ELSE 0 END"
  }

  private def cornerAggs: Seq[(String, String)] =
    cdOffs.zipWithIndex.map { case ((dx, dy), i) =>
      s"b$i" -> s"coalesce(max(CASE WHEN dx = $dx AND dy = $dy AND nv > 0 THEN 1 END), 0)"
    }

  // ---- image stack profile -----------------------------------------------------

  private def stackProfileSql(d: Dialect): String = {
    val layerRows = Seq("en" -> 1, "zh" -> 2, "es" -> 3).map { case (l, i) =>
      s"SELECT $i AS layer, ${Geo.ix(d, "lon", 5)} AS ix, ${Geo.iy(d, "lat", 5)} AS iy, " +
        s"count(*) AS v FROM pages WHERE lang = '$l' GROUP BY 2, 3"
    }.mkString(" UNION ALL ")
    s"${Geo.pagesWith(d)}, stk AS ($layerRows), " +
      s"probes AS (SELECT doc_id, ${Geo.ix(d, "lon", 5)} AS ix, ${Geo.iy(d, "lat", 5)} AS iy " +
      "FROM pages WHERE doc_id % 50 = 0), " +
      "lyr AS (SELECT 1 AS layer UNION ALL SELECT 2 UNION ALL SELECT 3) " +
      "SELECT doc_id, lyr.layer, coalesce(v, 0) AS value FROM probes CROSS JOIN lyr " +
      "LEFT JOIN stk ON stk.layer = lyr.layer AND stk.ix = probes.ix AND stk.iy = probes.iy " +
      "ORDER BY doc_id, lyr.layer"
  }

  // ---- polygons to raster --------------------------------------------------------

  private def polyRasterSql(d: Dialect): String = {
    val res = 6; val rx = 360.0 / (1 << res); val ry = 180.0 / (1 << res)
    val cx = s"(-180.0e0 + ${rx}e0 / 2.0e0 + ix * ${rx}e0)"
    val cy = s"(-90.0e0 + ${ry}e0 / 2.0e0 + iy * ${ry}e0)"
    val perZone = Zones.fids.map { f =>
      s"SELECT ix, iy, $f AS fid FROM cc WHERE ${Zones.insideZoneSql(f, cx, cy)}"
    }.mkString(" UNION ALL ")
    s"${Geo.pagesWith(d)}, ${Geo.densityCte(d, res)}, cc AS (SELECT ix, iy FROM g), " +
      s"cov AS ($perZone) " +
      "SELECT ix, iy, min(fid) AS fid FROM cov GROUP BY 1, 2 ORDER BY ix, iy"
  }

  // ---- lidar thin high density ------------------------------------------------------

  private val thinK = 3

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "percent_equal_to" -> ((s, dir) => {
      Tables.register(s, dir); s.sql(pctEqSql(SparkD))
    }),
    "tophat_white" -> ((s, dir) => {
      val g = Raster.density(s, dir, 6)
      val opened = minMaxHalo(minMaxHalo(g, isMin = true), isMin = false)
        .withColumnRenamed("v", "vo")
      g.join(opened, Seq("ix", "iy"))
        .selectExpr("ix", "iy", "cast(v - vo as bigint) AS v_th")
    }),
    "corner_detection" -> ((s, dir) => {
      val h = Focal.haloD(Raster.density(s, dir, 6))
        .filter(expr("NOT (dx = 0 AND dy = 0)"))
      val aggs = cornerAggs.map { case (nm, e) => expr(e).as(nm) }
      // centre v > 0 always holds on the density grid (counts ≥ 1); kept
      // for reference fidelity
      h.groupBy("ix", "iy").agg(expr("max(v)").as("z"), aggs: _*)
        .selectExpr("ix", "iy",
          s"CASE WHEN z > 0 THEN $cornerE ELSE 0 END AS is_corner")
    }),
    "image_stack_profile" -> ((s, dir) => {
      Tables.register(s, dir); s.sql(stackProfileSql(SparkD))
    }),
    "polygons_to_raster" -> ((s, dir) => {
      Tables.register(s, dir); s.sql(polyRasterSql(SparkD))
    }),
    "lidar_thin_high_density" -> ((s, dir) => {
      val p = Tables.pages(s, dir)
        .withColumn("ix", expr(Geo.ix(SparkD, "lon", 8)))
        .withColumn("iy", expr(Geo.iy(SparkD, "lat", 8)))
      p.groupBy("ix", "iy")
        .agg(graft.agg.TopKByDist.topK(thinK)(
          col("doc_id").cast("double"), col("doc_id")).as("tk"))
        .select(col("ix"), col("iy"), explode(col("tk")).as("e"))
        .select(col("ix"), col("iy"), col("e.id").as("doc_id"))
    })
  )

  def oracles: Map[String, String] = Map(
    "percent_equal_to" -> pctEqSql(DuckD),
    "tophat_white" ->
      (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)}, $duckErode, $duckOpen " +
        "SELECT g.ix AS ix, g.iy AS iy, cast(g.v - op.v as bigint) AS v_th FROM g " +
        "JOIN op ON op.ix = g.ix AND op.iy = g.iy ORDER BY g.ix, g.iy"),
    "corner_detection" -> {
      val aggSql = cornerAggs.map { case (nm, e) => s"$e AS $nm" }.mkString(", ")
      s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)}, ${Focal.duckHaloD}, " +
        "h2 AS (SELECT * FROM h WHERE NOT (dx = 0 AND dy = 0)), " +
        s"ag AS (SELECT ix, iy, max(v) AS z, $aggSql FROM h2 GROUP BY ix, iy) " +
        s"SELECT ix, iy, CASE WHEN z > 0 THEN $cornerE ELSE 0 END AS is_corner " +
        "FROM ag ORDER BY ix, iy"
    },
    "image_stack_profile" -> stackProfileSql(DuckD),
    "polygons_to_raster" -> polyRasterSql(DuckD),
    "lidar_thin_high_density" -> {
      val d = DuckD
      s"${Geo.pagesWith(d)}, p AS (SELECT doc_id, ${Geo.ix(d, "lon", 8)} AS ix, " +
        s"${Geo.iy(d, "lat", 8)} AS iy FROM pages), " +
        "r AS (SELECT ix, iy, doc_id, row_number() OVER (PARTITION BY ix, iy ORDER BY doc_id) AS rn FROM p) " +
        s"SELECT ix, iy, doc_id FROM r WHERE rn <= $thinK ORDER BY ix, iy, doc_id"
    }
  )
}
