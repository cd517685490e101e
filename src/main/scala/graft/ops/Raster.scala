package graft.ops

import graft.core.{DuckD, Gates, Geo, SparkD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Raster family re-expressed over the page grid: rasterization
  * (vector_points_to_raster.rs:364-372 assign semantics), raster→vector
  * points (raster_to_vector_points.rs:211-218), AggregateRaster
  * (aggregate_raster.rs:56-75), N-way overlays (average_overlay.rs:168-260),
  * RasterSummaryStats (raster/mod.rs:800-872).
  *
  * A "raster" here is the long-form page-density grid: one row per
  * non-empty cell (ix, iy, v). At 10^12 pages the density grid at res R is
  * bounded by 4^R cells, not by input rows — groupBy(cell) does a map-side
  * partial count first, so the shuffle carries at most one row per cell per
  * task. No driver-side state anywhere.
  */
object Raster extends Gates {

  /** Spark-side density grid.
    *
    * r06: memoized per (session, dir, res) via the Dem.memo pattern (an
    * in-session checkpointed INTERMEDIATE, recomputed from parquet in every
    * session — the same discipline as Dem.dem/dd/fa since r3). Without it,
    * every halo self-join evaluated the scan + geocode + density aggregate
    * TWICE per query (the two join branches are different aggregates —
    * distinct cells vs counts — so exchange reuse can never merge them;
    * verified in plans/r06/focal_stats executed plans), and every density
    * consumer in a Verify session re-ran the same sub-job. The grid is
    * bounded by 4^res cells, never by corpus size, so the checkpoint is
    * O(grid).
    *
    * ix/iy additionally wrapped non-nullable (impossible sentinel; text is
    * never null) so downstream equi-joins don't infer isnotnull filters
    * that re-evaluate the geocode chain at the scan. */
  def density(s: SparkSession, dir: String, res: Int): DataFrame =
    Dem.memo(s, dir, s"density_$res") {
      Tables.pages(s, dir)
        .withColumn("ix", coalesce(expr(Geo.ix(SparkD, "lon", res)), lit(Long.MinValue)))
        .withColumn("iy", coalesce(expr(Geo.iy(SparkD, "lat", res)), lit(Long.MinValue)))
        .groupBy("ix", "iy").agg(count(lit(1)).as("v"))
    }

  /** Reference nodata discipline stand-in: a deterministic stripe of cells
    * is declared nodata ((ix+iy) % 13 == 0), mirroring FIXTURES.md §3. */
  val nodataCond = "((ix + iy) % 13) = 0"

  /** Distributed CDF over the distinct values of column `v`: a hash
    * aggregate builds the value histogram (map-side partials, one row per
    * distinct value), the BOUNDED histogram is cumsum'd on the driver, and
    * the resulting LUT is broadcast-joined back — the reference's own
    * histogram-CDF shape (quantiles.rs:199, histogram_equalization.rs).
    * cdf(v) = (# rows ≤ v)/n, the exact cume_dist value, as one double
    * division of two exact integers (bit-identical to the oracle's
    * cume_dist()). No global-order Sort/Window anywhere: the only ordered
    * pass runs over the ≤|distinct v| LUT on the driver (the reference
    * bounds this by its 10,000-bin histogram; our density values are
    * bounded the same way). */
  def cdfLut(s: SparkSession, g: DataFrame): DataFrame = {
    import s.implicits._
    val counts = g.groupBy("v").agg(count(lit(1)).as("c"))
      .selectExpr("cast(v as bigint) AS v", "c")
      .as[(Long, Long)].collect().sortBy(_._1)
    val n = counts.map(_._2).sum
    var cum = 0L
    counts.map { case (v, c) =>
      cum += c
      (v, cum.toDouble / n.toDouble)
    }.toSeq.toDF("v", "cdf")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // VectorPointsToRaster with all assign modes at once:
    // first/last (record-order = doc_id), min/max/sum of n_chars + count.
    "rasterize_points" -> ((s, dir) => {
      Tables.pages(s, dir)
        .withColumn("ix", expr(Geo.ix(SparkD, "lon", 7)))
        .withColumn("iy", expr(Geo.iy(SparkD, "lat", 7)))
        .groupBy("ix", "iy")
        .agg(expr("min_by(n_chars, doc_id)").as("v_first"),
             expr("max_by(n_chars, doc_id)").as("v_last"),
             min("n_chars").as("v_min"), max("n_chars").as("v_max"),
             expr("cast(sum(n_chars) as bigint)").as("v_sum"),
             count(lit(1)).as("n"))
        .orderBy("ix", "iy")
    }),

    // RasterToVectorPoints: non-zero, non-nodata cells → cell-centre points.
    "raster_to_points" -> ((s, dir) => {
      val res = 6; val rx = 360.0 / (1 << res); val ry = 180.0 / (1 << res)
      density(s, dir, res)
        .filter(!expr(nodataCond) && col("v") =!= 0)
        .withColumn("x", expr(s"-180.0e0 + ${rx}e0 / 2.0e0 + ix * ${rx}e0"))
        .withColumn("y", expr(s"-90.0e0 + ${ry}e0 / 2.0e0 + iy * ${ry}e0"))
        .select("ix", "iy", "x", "y", "v")
        .orderBy("ix", "iy")
    }),

    // AggregateRaster: downsample density by agg_factor 4 (res 7 → res 5).
    "aggregate_raster" -> ((s, dir) => {
      density(s, dir, 7)
        .groupBy(expr("ix div 4").as("ax"), expr("iy div 4").as("ay"))
        .agg(expr("cast(sum(v) as bigint)").as("v_sum"),
             expr("cast(sum(v) as double) / cast(count(*) as double)").as("v_mean"),
             min("v").as("v_min"), max("v").as("v_max"))
        .orderBy("ax", "ay")
    }),

    // Average/Sum/Max/Min Overlay across 3 same-grid layers (per-language
    // density rasters); a layer missing a cell contributes no row.
    "overlay_stack" -> ((s, dir) => {
      val p = Tables.pages(s, dir).filter(col("lang").isin("en", "zh", "es"))
        .withColumn("ix", expr(Geo.ix(SparkD, "lon", 5)))
        .withColumn("iy", expr(Geo.iy(SparkD, "lat", 5)))
      val layers = p.groupBy("lang", "ix", "iy").agg(count(lit(1)).as("v"))
      layers.groupBy("ix", "iy")
        .agg(expr("cast(sum(v) as double) / cast(count(*) as double)").as("v_avg"),
             expr("cast(sum(v) as bigint)").as("v_sum"),
             max("v").as("v_max"), min("v").as("v_min"),
             count(lit(1)).as("n_layers"))
        .orderBy("ix", "iy")
    }),

    // VectorHexBinning (vector_hex_bin.rs): nearest-hex-centre assignment
    // via the codegen'd HexBinAssign expression; extent from the data.
    "hex_binning" -> ((s, dir) => {
      val p = Tables.pages(s, dir)
      val ext = p.agg(min("lon").as("minx"), min("lat").as("miny"),
                      max("lon").as("maxx"), max("lat").as("maxy"))
      p.crossJoin(broadcast(ext))
        .withColumn("h", graft.expr.HexBin.hexBin(
          col("lon"), col("lat"), col("minx"), col("miny"),
          col("maxx"), col("maxy"), 10.0))
        .groupBy(expr("h >> 32").as("hex_row"),
                 expr("h & 4294967295").as("hex_col"))
        .agg(count(lit(1)).as("n"))
        .orderBy("hex_row", "hex_col")
    }),

    // ZScores (z_scores.rs): (v − μ)/σ over the density grid; μ,σ from
    // exact integer sums, one double expression per cell.
    "z_scores" -> ((s, dir) => {
      val g = density(s, dir, 6)
      val stats = g.agg(expr("cast(sum(v) as bigint)").as("s"),
        expr("cast(sum(v * v) as bigint)").as("q"), count(lit(1)).as("n"))
      g.crossJoin(broadcast(stats))
        .selectExpr("ix", "iy",
          "(cast(v as double) - cast(s as double) / cast(n as double)) / " +
            "sqrt(greatest(0.0e0, (cast(q as double) - cast(s as double) * cast(s as double) / cast(n as double)) / (cast(n as double) - 1.0e0))) AS z")
        .orderBy("ix", "iy")
    }),

    // CumulativeDistribution (cumulative_distribution.rs): CDF(v) per cell,
    // computed as a distributed histogram + broadcast CDF LUT (no
    // global-order window; see cdfLut). Values equal cume_dist exactly.
    "cumulative_distribution" -> ((s, dir) => {
      val g = density(s, dir, 6)
      g.join(broadcast(cdfLut(s, g)), "v")
        .select("ix", "iy", "cdf")
        .orderBy("ix", "iy")
    }),

    // HighestPosition (highest_position.rs): argmax layer index per cell
    // across the 3 language layers (ties → lowest index, scan order).
    "highest_position" -> ((s, dir) => {
      val p = Tables.pages(s, dir).filter(col("lang").isin("en", "zh", "es"))
        .withColumn("ix", expr(Geo.ix(SparkD, "lon", 5)))
        .withColumn("iy", expr(Geo.iy(SparkD, "lat", 5)))
        .withColumn("layer", expr(
          "CASE lang WHEN 'en' THEN 1 WHEN 'zh' THEN 2 ELSE 3 END"))
      p.groupBy("ix", "iy", "layer").agg(count(lit(1)).as("v"))
        .groupBy("ix", "iy")
        .agg(expr("min_by(layer, struct(-v, layer))").as("pos"),
             max("v").as("v_max"))
        .orderBy("ix", "iy")
    }),

    // HistogramEqualization (histogram_equalization.rs): v' = floor(CDF·255)
    // via the distributed histogram-CDF LUT (broadcast join, no window).
    "histogram_equalization" -> ((s, dir) => {
      val g = density(s, dir, 6)
      g.join(broadcast(cdfLut(s, g)), "v")
        .withColumn("v_eq", expr("cast(floor(cdf * 255.0e0) as bigint)"))
        .select("ix", "iy", "v_eq")
        .orderBy("ix", "iy")
    }),

    // RandomField / RandomSample (random_field.rs): reproducible hash-rand
    // raster — u in [0,1) from the md5 of the cell id (no RNG state, so
    // identical across retries/cluster sizes; SURVEY §2.3 note).
    "random_field" -> ((s, dir) => {
      density(s, dir, 6)
        .withColumn("u", expr(
          s"${SparkD.md5Bits("cast(ix * 1000000 + iy as string)", 1)} / 4294967296.0e0"))
        .select("ix", "iy", "u")
        .orderBy("ix", "iy")
    }),

    // LowestPosition (lowest_position.rs): argmin layer per cell.
    "lowest_position" -> ((s, dir) => {
      val p = Tables.pages(s, dir).filter(col("lang").isin("en", "zh", "es"))
        .withColumn("ix", expr(Geo.ix(SparkD, "lon", 5)))
        .withColumn("iy", expr(Geo.iy(SparkD, "lat", 5)))
        .withColumn("layer", expr(
          "CASE lang WHEN 'en' THEN 1 WHEN 'zh' THEN 2 ELSE 3 END"))
      p.groupBy("ix", "iy", "layer").agg(count(lit(1)).as("v"))
        .groupBy("ix", "iy")
        .agg(expr("min_by(layer, struct(v, layer))").as("pos"),
             min("v").as("v_min"))
        .orderBy("ix", "iy")
    }),

    // RasterCellAssignment: cell = row / col / x / y projections.
    "raster_cell_assignment" -> ((s, dir) => {
      val res = 6; val rx = 360.0 / (1 << res); val ry = 180.0 / (1 << res)
      density(s, dir, res)
        .withColumn("x", expr(s"-180.0e0 + ${rx}e0 / 2.0e0 + ix * ${rx}e0"))
        .withColumn("y", expr(s"-90.0e0 + ${ry}e0 / 2.0e0 + iy * ${ry}e0"))
        .select("ix", "iy", "x", "y")
        .orderBy("ix", "iy")
    }),

    // Global raster summary stats over the density grid (exact-int mean/std).
    "raster_summary_stats" -> ((s, dir) => {
      density(s, dir, 6)
        .agg(expr("cast(sum(v) as bigint)").as("s"),
             expr("cast(sum(v * v) as bigint)").as("q"),
             count(lit(1)).as("n"), min("v").as("mn"), max("v").as("mx"))
        .selectExpr(Zonal.statsSelect: _*)
    })
  )

  def oracles: Map[String, String] = Map(
    "rasterize_points" -> {
      val d = DuckD
      s"${Geo.pagesWith(d)} SELECT ${Geo.ix(d, "lon", 7)} AS ix, ${Geo.iy(d, "lat", 7)} AS iy, " +
        s"${d.argMin("n_chars", "doc_id")} AS v_first, ${d.argMax("n_chars", "doc_id")} AS v_last, " +
        s"min(n_chars) AS v_min, max(n_chars) AS v_max, " +
        s"cast(sum(n_chars) as bigint) AS v_sum, count(*) AS n " +
        s"FROM pages GROUP BY 1, 2 ORDER BY ix, iy"
    },
    "raster_to_points" -> {
      val res = 6; val rx = 360.0 / (1 << res); val ry = 180.0 / (1 << res)
      s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, res)} " +
        s"SELECT ix, iy, -180.0e0 + ${rx}e0 / 2.0e0 + ix * ${rx}e0 AS x, " +
        s"-90.0e0 + ${ry}e0 / 2.0e0 + iy * ${ry}e0 AS y, v FROM g " +
        s"WHERE NOT ($nodataCond) AND v <> 0 ORDER BY ix, iy"
    },
    "aggregate_raster" ->
      (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 7)} " +
        s"SELECT ${DuckD.idiv("ix", "4")} AS ax, ${DuckD.idiv("iy", "4")} AS ay, " +
        s"cast(sum(v) as bigint) AS v_sum, " +
        s"cast(sum(v) as double) / cast(count(*) as double) AS v_mean, " +
        s"min(v) AS v_min, max(v) AS v_max FROM g GROUP BY 1, 2 ORDER BY ax, ay"),
    "overlay_stack" ->
      (s"${Geo.pagesWith(DuckD)}, layers AS (SELECT lang, ${Geo.ix(DuckD, "lon", 5)} AS ix, " +
        s"${Geo.iy(DuckD, "lat", 5)} AS iy, count(*) AS v FROM pages " +
        s"WHERE lang IN ('en', 'zh', 'es') GROUP BY 1, 2, 3) " +
        s"SELECT ix, iy, cast(sum(v) as double) / cast(count(*) as double) AS v_avg, " +
        s"cast(sum(v) as bigint) AS v_sum, max(v) AS v_max, min(v) AS v_min, " +
        s"count(*) AS n_layers FROM layers GROUP BY 1, 2 ORDER BY ix, iy"),
    "hex_binning" -> {
      val h = graft.expr.HexBin.assignSql("lon", "lat", "minx", "miny", "maxx", "maxy", 10.0)
      s"${Geo.pagesWith(DuckD)}, ext AS (SELECT min(lon) AS minx, min(lat) AS miny, " +
        "max(lon) AS maxx, max(lat) AS maxy FROM pages), " +
        s"assigned AS (SELECT $h AS h FROM pages, ext) " +
        "SELECT (h >> 32) AS hex_row, (h & 4294967295) AS hex_col, count(*) AS n " +
        "FROM assigned GROUP BY 1, 2 ORDER BY hex_row, hex_col"
    },
    "z_scores" ->
      (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)}, " +
        "st AS (SELECT cast(sum(v) as bigint) AS s, cast(sum(v * v) as bigint) AS q, count(*) AS n FROM g) " +
        "SELECT ix, iy, (cast(v as double) - cast(s as double) / cast(n as double)) / " +
        "sqrt(greatest(0.0e0, (cast(q as double) - cast(s as double) * cast(s as double) / cast(n as double)) / (cast(n as double) - 1.0e0))) AS z " +
        "FROM g, st ORDER BY ix, iy"),
    "cumulative_distribution" ->
      (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)} " +
        "SELECT ix, iy, cume_dist() OVER (ORDER BY v) AS cdf FROM g ORDER BY ix, iy"),
    "highest_position" ->
      (s"${Geo.pagesWith(DuckD)}, layers AS (SELECT ${Geo.ix(DuckD, "lon", 5)} AS ix, " +
        s"${Geo.iy(DuckD, "lat", 5)} AS iy, " +
        "CASE lang WHEN 'en' THEN 1 WHEN 'zh' THEN 2 ELSE 3 END AS layer, count(*) AS v " +
        "FROM pages WHERE lang IN ('en', 'zh', 'es') GROUP BY 1, 2, 3), " +
        "r AS (SELECT ix, iy, layer, v, row_number() OVER (PARTITION BY ix, iy ORDER BY v DESC, layer) AS rn FROM layers) " +
        "SELECT ix, iy, layer AS pos, v AS v_max FROM r WHERE rn = 1 ORDER BY ix, iy"),
    "histogram_equalization" ->
      (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)} " +
        "SELECT ix, iy, cast(floor(cume_dist() OVER (ORDER BY v) * 255.0e0) as bigint) AS v_eq " +
        "FROM g ORDER BY ix, iy"),
    "random_field" ->
      (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)} " +
        s"SELECT ix, iy, ${DuckD.md5Bits("cast(ix * 1000000 + iy as varchar)", 1)} / 4294967296.0e0 AS u " +
        "FROM g ORDER BY ix, iy"),
    "lowest_position" ->
      (s"${Geo.pagesWith(DuckD)}, layers AS (SELECT ${Geo.ix(DuckD, "lon", 5)} AS ix, " +
        s"${Geo.iy(DuckD, "lat", 5)} AS iy, " +
        "CASE lang WHEN 'en' THEN 1 WHEN 'zh' THEN 2 ELSE 3 END AS layer, count(*) AS v " +
        "FROM pages WHERE lang IN ('en', 'zh', 'es') GROUP BY 1, 2, 3), " +
        "r AS (SELECT ix, iy, layer, v, row_number() OVER (PARTITION BY ix, iy ORDER BY v, layer) AS rn FROM layers) " +
        "SELECT ix, iy, layer AS pos, v AS v_min FROM r WHERE rn = 1 ORDER BY ix, iy"),
    "raster_cell_assignment" -> {
      val res = 6; val rx = 360.0 / (1 << res); val ry = 180.0 / (1 << res)
      s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, res)} " +
        s"SELECT ix, iy, -180.0e0 + ${rx}e0 / 2.0e0 + ix * ${rx}e0 AS x, " +
        s"-90.0e0 + ${ry}e0 / 2.0e0 + iy * ${ry}e0 AS y FROM g ORDER BY ix, iy"
    },
    "raster_summary_stats" ->
      (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)} " +
        s"SELECT ${Zonal.statsSelect.mkString(", ")} FROM " +
        s"(SELECT cast(sum(v) as bigint) AS s, cast(sum(v * v) as bigint) AS q, " +
        s"count(*) AS n, min(v) AS mn, max(v) AS mx FROM g) t")
  )
}
