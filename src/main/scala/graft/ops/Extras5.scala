package graft.ops

import graft.core.{DuckD, Gates, Geo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 trivial closes (VERDICT r3 "What's missing" #10):
  *
  *   - SetNodataValue (data_tools/set_nodata_value.rs): cells equal to the
  *     back value (1) become nodata (NULL);
  *   - ReinitializeAttributeTable (data_tools/reinitialize_attribute_table
  *     .rs): strip every attribute, keep the FID column only;
  *   - ExportTableToCsv (data_tools/export_table_to_csv.rs): a REAL CSV
  *     sink gate — the Spark side round-trips the rows through an actual
  *     csv file (write → re-read → emit), the oracle selects the same rows
  *     relationally; equality proves the sink lossless;
  *   - CountIf (math_stat_analysis/count_if.rs): per cell, how many cells
  *     of the 3×3 neighbourhood (centre included) equal the test value;
  *   - ImageAutocorrelation (math_stat_analysis/image_autocorrelation.rs):
  *     global Moran's I with rook weights. Computed in EXACT integers by
  *     scaling deviations to n·x_i − S (n cells, S total): numerator and
  *     denominator sums are bigint — no distributed double-sum order
  *     hazard — and only the final ratio is floating point.
  */
object Extras5 extends Gates {

  private val csvCols = "doc_id, lang, n_chars"

  /** PrintGeoTiffTags (data_tools/print_geotiff_tags.rs:159 → print_tags:
    * raster dimensions, pixel scale, origin, sample stats). The file
    * format is parquet here, so the analogue is a one-row metadata TABLE
    * over the DEM raster — the same tags a GeoTIFF header carries,
    * derivable relationally (grid dims, pixel scale in degrees, extent
    * origin, value min/max/sum/cardinality). Identical aggregate text in
    * both dialects; sums cast to bigint to keep DuckDB's hugeint out of
    * the hash compare. */
  private val tagCols: Seq[String] = Seq(
    s"cast(${Dem.G} as bigint) AS n_cols",
    s"cast(${Dem.G} as bigint) AS n_rows",
    "count(*) AS n_cells",
    s"(0.1e0 / ${Dem.G}) AS pixel_scale_deg",
    "-74.0e0 AS west",
    "40.7e0 AS south",
    "min(z) AS z_min",
    "max(z) AS z_max",
    "cast(sum(z) as bigint) AS z_sum",
    "cast(count(DISTINCT z) as bigint) AS n_distinct_z")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "geotiff_tags" -> ((s, dir) =>
      Dem.dem(s, dir).selectExpr(tagCols: _*)),

    "set_nodata_value" -> ((s, dir) =>
      Raster.density(s, dir, 5)
        .selectExpr("ix", "iy", "CASE WHEN v = 1 THEN NULL ELSE v END AS v_nd")),

    "reinitialize_attribute_table" -> ((s, dir) =>
      Tables.table(s, dir, "documents")
        .selectExpr("doc_id AS fid")),

    "export_table_to_csv" -> ((s, dir) => {
      val tmp = s"/tmp/graft_csv_export_${Math.abs(dir.hashCode)}"
      Tables.table(s, dir, "documents")
        .filter(col("doc_id") < 50)
        .selectExpr("doc_id", "lang", "n_chars")
        .coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(tmp)
      s.read.option("header", "true")
        .schema("doc_id BIGINT, lang STRING, n_chars BIGINT")
        .csv(tmp)
    }),

    "count_if" -> ((s, dir) =>
      Focal.haloD(Raster.density(s, dir, 6))
        .groupBy("ix", "iy")
        .agg(expr("cast(sum(CASE WHEN nv = 1 THEN 1 ELSE 0 END) as bigint)").as("n_eq"))),

    "image_autocorrelation" -> ((s, dir) => {
      val g = Raster.density(s, dir, 6)
      val tot = g.agg(count(lit(1)).as("n"), expr("cast(sum(v) as bigint)").as("s"))
      val dev = g.crossJoin(broadcast(tot))
        .selectExpr("ix", "iy", "n * v - s AS dv")
      val rook = dev
        .withColumn("dx", explode(sequence(lit(-1), lit(1))))
        .withColumn("dy", explode(sequence(lit(-1), lit(1))))
        .filter(expr("abs(dx) + abs(dy) = 1"))
        .selectExpr("ix + dx AS ix", "iy + dy AS iy", "dv AS dvn")
        .join(dev, Seq("ix", "iy"))
      val num = rook.agg(expr("cast(sum(dv * dvn) as bigint)").as("a"),
        count(lit(1)).as("w"))
      val den = dev.agg(expr("cast(sum(dv * dv) as bigint)").as("b"))
      num.crossJoin(den).crossJoin(tot)
        .selectExpr("round(cast(n as double) * cast(a as double) / " +
          "(cast(w as double) * cast(b as double)), 6) AS moran_i")
    })
  )

  def oracles: Map[String, String] = Map(

    "geotiff_tags" ->
      (s"WITH RECURSIVE ${Dem.duckDemCtes} " +
        s"SELECT ${tagCols.mkString(", ")} FROM dem"),

    "set_nodata_value" ->
      (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 5)} " +
        "SELECT ix, iy, CASE WHEN v = 1 THEN NULL ELSE v END AS v_nd FROM g ORDER BY ix, iy"),

    "reinitialize_attribute_table" ->
      "SELECT doc_id AS fid FROM documents ORDER BY fid",

    "export_table_to_csv" ->
      (s"SELECT $csvCols FROM documents WHERE doc_id < 50 ORDER BY doc_id"),

    "count_if" ->
      (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)}, " +
        "h AS (SELECT c.ix, c.iy, n.v AS nv FROM g c JOIN g n " +
        "ON n.ix BETWEEN c.ix - 1 AND c.ix + 1 AND n.iy BETWEEN c.iy - 1 AND c.iy + 1) " +
        "SELECT ix, iy, cast(sum(CASE WHEN nv = 1 THEN 1 ELSE 0 END) as bigint) AS n_eq " +
        "FROM h GROUP BY 1, 2 ORDER BY ix, iy"),

    "image_autocorrelation" ->
      (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)}, " +
        "tot AS (SELECT count(*) AS n, cast(sum(v) as bigint) AS s FROM g), " +
        "dev AS (SELECT ix, iy, tot.n * v - tot.s AS dv FROM g, tot), " +
        "rook AS (SELECT a.dv AS dvn, b.dv FROM dev a JOIN dev b " +
        "ON abs(a.ix - b.ix) + abs(a.iy - b.iy) = 1), " +
        "num AS (SELECT cast(sum(dv * dvn) as bigint) AS a, count(*) AS w FROM rook), " +
        "den AS (SELECT cast(sum(dv * dv) as bigint) AS b FROM dev) " +
        "SELECT round(cast(tot.n as double) * cast(num.a as double) / " +
        "(cast(num.w as double) * cast(den.b as double)), 6) AS moran_i " +
        "FROM num, den, tot")
  )
}
