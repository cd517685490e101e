package graft.ops

import graft.core.{Dialect, DuckD, Gates, Geo, SparkD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small overlay/utility tools, each one gated query + oracle:
  * PercentLessThan, WeightedSum, PickFromList, MaxAbsoluteOverlay,
  * CreatePlane, FindLowestOrHighestPoints, NDVI, GammaCorrection (γ=0.5,
  * exact via sqrt), FlipImage, IntegralImage (two PARTITIONED cumulative
  * windows over the dense grid — each partition is one grid row/column,
  * bounded by the grid extent, never a global order).
  *
  * References: percent_less_than.rs, weighted_sum.rs, pick_from_list.rs,
  * max_absolute_overlay.rs, create_plane.rs, find_lowest_or_highest_points
  * .rs, normalized_difference_vegetation_index.rs, gamma_correction.rs,
  * flip_image.rs, integral_image.rs. All follow the cell-wise zip /
  * conditional-aggregate shapes of SURVEY §2.0; per-layer values are
  * recovered with conditional MAX so every multi-layer combine is a
  * FIXED-ORDER expression (no order-dependent double summation).
  */
object Extras extends Gates {

  /** the 3 language layers at res 5 (long form). */
  private def layersOnly(d: Dialect): String =
    s"layers AS (SELECT lang, ${Geo.ix(d, "lon", 5)} AS ix, ${Geo.iy(d, "lat", 5)} AS iy, " +
      "count(*) AS v FROM pages WHERE lang IN ('en', 'zh', 'es') GROUP BY 1, 2, 3)"

  /** wide form: one row per cell with per-layer values recovered as
    * columns (NULL where the layer has no cell). */
  private def layersSql(d: Dialect): String =
    layersOnly(d) + ", wide AS (SELECT ix, iy, " +
      "max(CASE WHEN lang = 'en' THEN v END) AS v_en, " +
      "max(CASE WHEN lang = 'zh' THEN v END) AS v_zh, " +
      "max(CASE WHEN lang = 'es' THEN v END) AS v_es FROM layers GROUP BY 1, 2)"

  // WeightedSum with literal weights; absent layers contribute 0.
  private val weightedE =
    "0.5e0 * cast(coalesce(v_en, 0) as double) + 0.3e0 * cast(coalesce(v_zh, 0) as double) + " +
      "0.2e0 * cast(coalesce(v_es, 0) as double)"

  // PickFromList: index raster = (ix + iy) % 3 + 1 selects the layer.
  private val pickE =
    "CASE ((ix + iy) % 3) + 1 WHEN 1 THEN v_en WHEN 2 THEN v_zh ELSE v_es END"

  // MaxAbsoluteOverlay over signed layers s_l = v_l − 3: argmax |s| with
  // lowest-layer ties via a packed integer key.
  private val maxAbsE = {
    def s(c: String) = s"($c - 3)"
    def key(c: String, l: Int) = s"CASE WHEN $c IS NULL THEN -1 ELSE abs(${s(c)}) * 4 + (3 - $l) END"
    val k = s"greatest(${key("v_en", 1)}, ${key("v_zh", 2)}, ${key("v_es", 3)})"
    s"CASE ($k) WHEN ${key("v_en", 1)} THEN ${s("v_en")} " +
      s"WHEN ${key("v_zh", 2)} THEN ${s("v_zh")} ELSE ${s("v_es")} END"
  }

  private val builders: Map[String, Dialect => String] = Map(
    "percent_less_than" -> (d =>
      s"${Geo.pagesWith(d)}, ${layersOnly(d)} " +
        "SELECT ix, iy, cast(sum(CASE WHEN v < 3 THEN 1 ELSE 0 END) as bigint) AS n_under, " +
        "count(*) AS n_layers, " +
        "100.0e0 * sum(CASE WHEN v < 3 THEN 1 ELSE 0 END) / count(*) AS pct " +
        "FROM layers GROUP BY 1, 2 ORDER BY ix, iy"),
    "weighted_sum" -> (d =>
      s"${Geo.pagesWith(d)}, ${layersSql(d)} " +
        s"SELECT ix, iy, $weightedE AS v_ws FROM wide ORDER BY ix, iy"),
    "pick_from_list" -> (d =>
      s"${Geo.pagesWith(d)}, ${layersSql(d)} " +
        s"SELECT ix, iy, $pickE AS v_pick FROM wide WHERE ($pickE) IS NOT NULL ORDER BY ix, iy"),
    "max_absolute_overlay" -> (d =>
      s"${Geo.pagesWith(d)}, ${layersSql(d)} " +
        s"SELECT ix, iy, cast($maxAbsE as bigint) AS v_maxabs FROM wide ORDER BY ix, iy"),
    "ndvi" -> (d =>
      s"${Geo.pagesWith(d)}, ${layersSql(d)} " +
        "SELECT ix, iy, cast(v_en - v_zh as double) / cast(v_en + v_zh as double) AS ndvi " +
        "FROM wide WHERE v_en IS NOT NULL AND v_zh IS NOT NULL ORDER BY ix, iy"),
    "gamma_correction" -> (d =>
      s"${Geo.pagesWith(d)}, ${Geo.densityCte(d, 6)}, " +
        "ext AS (SELECT min(v) AS mn, max(v) AS mx FROM g) " +
        "SELECT ix, iy, sqrt(cast(v - mn as double) / cast(mx - mn as double)) AS v_gamma " +
        "FROM g, ext ORDER BY ix, iy"),
    "flip_image" -> (d =>
      s"${Geo.pagesWith(d)}, ${Geo.densityCte(d, 6)}, " +
        "ext AS (SELECT max(ix) AS mxx FROM g) " +
        "SELECT mxx - ix AS ix_f, iy, v FROM g, ext ORDER BY ix_f, iy"),
    "find_highest_point" -> (d =>
      s"${Geo.pagesWith(d)}, ${Geo.densityCte(d, 6)} " +
        "SELECT ix, iy, v FROM g ORDER BY v DESC, ix, iy LIMIT 1")
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    builders.map { case (name, b) =>
      name -> ((s: SparkSession, dir: String) => {
        Tables.register(s, dir)
        s.sql(b(SparkD))
      })
    } ++ Map(
      // CreatePlane (create_plane.rs): synthetic gradient raster over a
      // generated 32×32 grid — a pure generator, no input table.
      "create_plane" -> ((s: SparkSession, _: String) =>
        s.range(32L * 32)
          .selectExpr("id % 32 AS ix", "id div 32 AS iy")
          .selectExpr("ix", "iy",
            "2.5e0 + 0.5e0 * cast(ix as double) - 0.25e0 * cast(iy as double) AS z")
          .orderBy("ix", "iy")),
      // IntegralImage (integral_image.rs): dense grid + two PARTITIONED
      // cumulative windows (row pass then column pass).
      "integral_image" -> ((s: SparkSession, dir: String) => {
        import org.apache.spark.sql.expressions.Window
        val dense = s.range(32L * 32)
          .selectExpr("id % 32 AS ix", "id div 32 AS iy")
          .join(Raster.density(s, dir, 5), Seq("ix", "iy"), "left")
          .withColumn("v0", coalesce(col("v"), lit(0L)))
        val rowPass = dense.withColumn("rc",
          sum("v0").over(Window.partitionBy("iy").orderBy("ix")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        rowPass.withColumn("ii",
          sum("rc").over(Window.partitionBy("ix").orderBy("iy")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select("ix", "iy", "ii")
          .orderBy("ix", "iy")
      })
    )

  def oracles: Map[String, String] =
    builders.map { case (n, b) => n -> b(DuckD) } ++ Map(
      "create_plane" ->
        ("SELECT range % 32 AS ix, range // 32 AS iy, " +
          "2.5e0 + 0.5e0 * cast(range % 32 as double) - 0.25e0 * cast(range // 32 as double) AS z " +
          "FROM range(1024) ORDER BY ix, iy"),
      "integral_image" ->
        (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 5)}, " +
          "dense AS (SELECT range % 32 AS ix, range // 32 AS iy FROM range(1024)), " +
          "d0 AS (SELECT dense.ix, dense.iy, coalesce(v, 0) AS v0 FROM dense " +
          "LEFT JOIN g ON g.ix = dense.ix AND g.iy = dense.iy), " +
          "rp AS (SELECT ix, iy, sum(v0) OVER (PARTITION BY iy ORDER BY ix " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rc FROM d0) " +
          "SELECT ix, iy, cast(sum(rc) OVER (PARTITION BY ix ORDER BY iy " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS ii " +
          "FROM rp ORDER BY ix, iy")
    )
}
