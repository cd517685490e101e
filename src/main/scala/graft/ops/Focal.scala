package graft.ops

import graft.core.{Dialect, DuckD, Gates, Geo, SparkD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Focal / kernel operators over the density grid (image_analysis family:
  * MeanFilter, Min/MaximumFilter, TotalFilter, RangeFilter,
  * DiversityFilter…), plus Resample (nn), Mosaic, RasterHistogram,
  * ImageCorrelation, BufferRaster.
  *
  * Focal plan shape: the 3×3 neighbourhood is an explode of the 9 offsets
  * on the CONSUMER side followed by a cell-equi join back to the grid —
  * the halo-exchange pattern (SURVEY §2.0 "focal / kernel op"). At scale
  * the grid is cell-partitioned, so each task's halo join touches only
  * neighbouring partitions (Z-order locality); no broadcast of the grid.
  * Cells absent from the sparse grid contribute nothing (reference nodata
  * passthrough).
  */
object Focal extends Gates {

  /** Spark-side 3×3 halo join: returns (ix, iy, v, nv) rows — one per
    * (cell, in-grid neighbour incl. self). */
  private def halo(g: DataFrame): DataFrame = {
    val centers = g.select(col("ix").as("cix"), col("iy").as("ciy"), col("v"))
      .withColumn("dx", explode(sequence(lit(-1), lit(1))))
      .withColumn("dy", explode(sequence(lit(-1), lit(1))))
      .withColumn("nix", col("cix") + col("dx"))
      .withColumn("niy", col("ciy") + col("dy"))
    centers.join(g.select(col("ix").as("nix"), col("iy").as("niy"), col("v").as("nv")),
      Seq("nix", "niy"))
      .select(col("cix").as("ix"), col("ciy").as("iy"), col("v"), col("nv"))
  }

  /** DuckDB twin of the halo (non-equi self join over offsets). */
  private val duckHalo =
    "h AS (SELECT c.ix, c.iy, c.v, n.v AS nv FROM g c JOIN g n " +
      "ON n.ix BETWEEN c.ix - 1 AND c.ix + 1 AND n.iy BETWEEN c.iy - 1 AND c.iy + 1)"

  /** Halo variant that keeps the (dx, dy) offset and the centre value —
    * the frame for weighted kernels (Gaussian/Sobel/Laplacian) and the
    * Horn terrain kernels. Same equi-join plan as halo(). */
  private[ops] def haloD(g: DataFrame): DataFrame = {
    val centers = g.select(col("ix").as("cix"), col("iy").as("ciy"), col("v"))
      .withColumn("dx", explode(sequence(lit(-1), lit(1))))
      .withColumn("dy", explode(sequence(lit(-1), lit(1))))
      .withColumn("nix", col("cix") + col("dx"))
      .withColumn("niy", col("ciy") + col("dy"))
    centers.join(g.select(col("ix").as("nix"), col("iy").as("niy"), col("v").as("nv")),
      Seq("nix", "niy"))
      .select(col("cix").as("ix"), col("ciy").as("iy"), col("v"),
        col("dx"), col("dy"), col("nv"))
  }

  private[ops] val duckHaloD =
    "h AS (SELECT c.ix, c.iy, c.v, n.ix - c.ix AS dx, n.iy - c.iy AS dy, n.v AS nv " +
      "FROM g c JOIN g n ON n.ix BETWEEN c.ix - 1 AND c.ix + 1 AND n.iy BETWEEN c.iy - 1 AND c.iy + 1)"

  // ---- shared kernel expression builders (identical math both dialects) --

  /** exact median of a sorted array: middle element, or mean of the two
    * middles (median_filter.rs semantics over the 3×3 window). */
  private def medianExpr(d: Dialect, arr: String): String = {
    val n = d.alen(arr)
    val odd = d.elemE(arr, d.idiv(s"(($n) + 1)", "2"))
    val e1 = d.elemE(arr, d.idiv(s"($n)", "2"))
    val e2 = d.elemE(arr, s"${d.idiv(s"($n)", "2")} + 1")
    s"CASE WHEN ($n) % 2 = 1 THEN cast($odd as double) " +
      s"ELSE (cast($e1 as double) + cast($e2 as double)) / 2.0e0 END"
  }

  /** nearest-rank 75th percentile of a sorted array (percentile_filter.rs
    * family; nearest-rank keeps the arithmetic integer-exact). */
  private def pctlExpr(d: Dialect, arr: String): String = {
    val idx = s"greatest(cast(ceil(0.75e0 * (${d.alen(arr)})) as bigint), 1)"
    s"cast(${d.elemE(arr, idx)} as double)"
  }

  /** binomial 3×3 kernel [1,2,1]⊗[1,2,1] — the σ≈0.85 Gaussian
    * (gaussian_filter.rs) with integer weights so sums stay exact;
    * normalized over the weights of PRESENT neighbours (the reference
    * renormalizes over valid cells). */
  private val wBinom = "(2 - abs(dx)) * (2 - abs(dy))"

  /** Sobel x/y kernels as weight functions of the offset (sobel_filter.rs:
    * [[-1,0,1],[-2,0,2],[-1,0,1]]); absent neighbours contribute 0. */
  private val wSobelX = "dx * (2 - abs(dy))"
  private val wSobelY = "dy * (2 - abs(dx))"

  /** 4-connected Laplacian kernel (laplacian_filter.rs default). */
  private val wLaplace =
    "CASE WHEN dx = 0 AND dy = 0 THEN 4 WHEN abs(dx) + abs(dy) = 1 THEN -1 ELSE 0 END"

  /** fixed-order bilinear combine over the 4 gathered source values. */
  private val bilinearE =
    "(1.0e0 - fx) * (1.0e0 - fy) * cast(v00 as double) + " +
      "fx * (1.0e0 - fy) * cast(v10 as double) + " +
      "(1.0e0 - fx) * fy * cast(v01 as double) + " +
      "fx * fy * cast(v11 as double)"

  /** Resample "cc" (resample.rs:308-372): the reference's 4×4-block
    * INVERSE-DISTANCE weighting, w = 1/(dx²+dy²) over offsets {−1,0,1,2}²,
    * normalized over PRESENT cells; the exact grid hit (fx=fy=0) copies
    * the coincident cell. (The reference's `(dx+dy) != 0` test and reused
    * neighbour buffer are implementation quirks we do not replicate — we
    * use the evident intent, d² = 0, and stateless weights.) The 16-term
    * combine is written in one FIXED offset order on both engines. */
  private val ccOffsets: Seq[(Int, Int)] =
    for (sy <- Seq(-1, 0, 1, 2); sx <- Seq(-1, 0, 1, 2)) yield (sx, sy)

  private def ccW(sx: Int, sy: Int): String = {
    val d2 = s"(($sx - fx) * ($sx - fx) + ($sy - fy) * ($sy - fy))"
    // d² = 0 guard: keeps the division unreachable under ANSI when the
    // exact-hit cell is absent and the weighted branch evaluates anyway
    s"(CASE WHEN $d2 = 0.0e0 THEN 0.0e0 ELSE 1.0e0 / $d2 END)"
  }

  private def ccCombine: String = {
    def vn(sx: Int, sy: Int) = s"v_${sx + 1}_${sy + 1}"
    val num = ccOffsets.map { case (sx, sy) =>
      s"(CASE WHEN ${vn(sx, sy)} IS NULL THEN 0.0e0 ELSE cast(${vn(sx, sy)} as double) * ${ccW(sx, sy)} END)"
    }.mkString(" + ")
    val den = ccOffsets.map { case (sx, sy) =>
      s"(CASE WHEN ${vn(sx, sy)} IS NULL THEN 0.0e0 ELSE ${ccW(sx, sy)} END)"
    }.mkString(" + ")
    s"CASE WHEN fx = 0.0e0 AND fy = 0.0e0 AND v_1_1 IS NOT NULL THEN cast(v_1_1 as double) " +
      s"WHEN ($den) > 0.0e0 THEN ($num) / ($den) END"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // MeanFilter / TotalFilter / Min-Max / RangeFilter in one pass (exact:
    // integer sums, mean as one double division).
    "focal_stats" -> ((s, dir) => {
      halo(Raster.density(s, dir, 6))
        .groupBy("ix", "iy")
        .agg(expr("cast(sum(nv) as bigint)").as("f_total"),
             expr("cast(sum(nv) as double) / cast(count(*) as double)").as("f_mean"),
             min("nv").as("f_min"), max("nv").as("f_max"),
             (max("nv") - min("nv")).as("f_range"),
             count(lit(1)).as("n_nbrs"))
        .orderBy("ix", "iy")
    }),

    // MedianFilter (median_filter.rs): exact 3×3 median via sorted array.
    "focal_median" -> ((s, dir) => {
      halo(Raster.density(s, dir, 6))
        .groupBy("ix", "iy")
        .agg(expr(SparkD.sortedList("nv")).as("a"))
        .selectExpr("ix", "iy", s"${medianExpr(SparkD, "a")} AS f_median")
        .orderBy("ix", "iy")
    }),

    // MajorityFilter (majority_filter.rs): modal neighbour value, ties →
    // lowest value. Two hash aggregates + an equi-join — no windows.
    "focal_majority" -> ((s, dir) => {
      val cnts = halo(Raster.density(s, dir, 6))
        .groupBy("ix", "iy", "nv").agg(count(lit(1)).as("c"))
      val mx = cnts.groupBy("ix", "iy").agg(max("c").as("mc"))
      cnts.join(mx, Seq("ix", "iy")).filter(col("c") === col("mc"))
        .groupBy("ix", "iy").agg(min("nv").as("f_mode"), max("c").as("mode_n"))
        .orderBy("ix", "iy")
    }),

    // PercentileFilter: nearest-rank p75 of the 3×3 window.
    "focal_percentile" -> ((s, dir) => {
      halo(Raster.density(s, dir, 6))
        .groupBy("ix", "iy")
        .agg(expr(SparkD.sortedList("nv")).as("a"))
        .selectExpr("ix", "iy", s"${pctlExpr(SparkD, "a")} AS f_p75")
        .orderBy("ix", "iy")
    }),

    // GaussianFilter via the integer binomial kernel; exact sums, one
    // double division per cell.
    "focal_gaussian" -> ((s, dir) => {
      haloD(Raster.density(s, dir, 6))
        .groupBy("ix", "iy")
        .agg(expr(s"cast(sum(nv * $wBinom) as bigint)").as("sw"),
             expr(s"cast(sum($wBinom) as bigint)").as("w"))
        .selectExpr("ix", "iy",
          "cast(sw as double) / cast(w as double) AS v_g")
        .orderBy("ix", "iy")
    }),

    // SobelFilter: gradient magnitude from the two integer kernel sums.
    "sobel_filter" -> ((s, dir) => {
      haloD(Raster.density(s, dir, 6))
        .groupBy("ix", "iy")
        .agg(expr(s"cast(sum(nv * ($wSobelX)) as bigint)").as("gx"),
             expr(s"cast(sum(nv * ($wSobelY)) as bigint)").as("gy"))
        .selectExpr("ix", "iy", "gx", "gy",
          "sqrt(cast(gx * gx + gy * gy as double)) AS magnitude")
        .orderBy("ix", "iy")
    }),

    // LaplacianFilter: 4-connected integer kernel sum.
    "laplacian_filter" -> ((s, dir) => {
      haloD(Raster.density(s, dir, 6))
        .groupBy("ix", "iy")
        .agg(expr(s"cast(sum(nv * ($wLaplace)) as bigint)").as("lap"))
        .orderBy("ix", "iy")
    }),

    // DiversityFilter: distinct neighbour values.
    "focal_diversity" -> ((s, dir) => {
      halo(Raster.density(s, dir, 6))
        .groupBy("ix", "iy")
        .agg(countDistinct("nv").as("f_div"))
        .orderBy("ix", "iy")
    }),

    // Resample nearest-neighbour (resample.rs:68-70): res-5 grid sampled
    // onto res-7 — each fine cell takes its coarse parent's value (pure
    // re-keying, no interpolation).
    "resample_nn" -> ((s, dir) => {
      val coarse = Raster.density(s, dir, 5)
        .select(col("ix").as("pix"), col("iy").as("piy"), col("v"))
      val fine = Raster.density(s, dir, 7)
        .select(col("ix"), col("iy"),
          expr("ix div 4").as("pix"), expr("iy div 4").as("piy"))
      fine.join(coarse, Seq("pix", "piy"))
        .select("ix", "iy", "v")
        .orderBy("ix", "iy")
    }),

    // Resample bilinear (resample.rs:68-70 "bilinear"): each res-7 target
    // cell centre gathers its 4 surrounding res-5 source cell centres
    // (offset explode + equi-join — the 4-cell gather join), weights from
    // the fractional position; emitted only where all 4 sources exist.
    // Weighted combine is a FIXED-order expression over per-offset
    // conditional maxes, so no order-dependent double summation.
    "resample_bilinear" -> ((s, dir) => {
      import graft.core.Lit.{d => L}
      val rx7 = 360.0 / 128; val ry7 = 180.0 / 128
      val rx5 = 360.0 / 32; val ry5 = 180.0 / 32
      val coarse = Raster.density(s, dir, 5)
        .select(col("ix").as("pix"), col("iy").as("piy"), col("v"))
      val fine = Raster.density(s, dir, 7).select("ix", "iy")
        .withColumn("tx", expr(s"(${L(rx7)} / 2.0e0 + ix * ${L(rx7)}) / ${L(rx5)} - 0.5e0"))
        .withColumn("ty", expr(s"(${L(ry7)} / 2.0e0 + iy * ${L(ry7)}) / ${L(ry5)} - 0.5e0"))
        .withColumn("gx", expr("cast(floor(tx) as bigint)"))
        .withColumn("gy", expr("cast(floor(ty) as bigint)"))
        .withColumn("fx", expr("tx - floor(tx)"))
        .withColumn("fy", expr("ty - floor(ty)"))
      val j = fine
        .withColumn("ox", explode(sequence(lit(0), lit(1))))
        .withColumn("oy", explode(sequence(lit(0), lit(1))))
        .withColumn("pix", col("gx") + col("ox"))
        .withColumn("piy", col("gy") + col("oy"))
        .join(coarse, Seq("pix", "piy"))
      j.groupBy("ix", "iy")
        .agg(max("fx").as("fx"), max("fy").as("fy"), count(lit(1)).as("np"),
          expr("max(CASE WHEN ox = 0 AND oy = 0 THEN v END)").as("v00"),
          expr("max(CASE WHEN ox = 1 AND oy = 0 THEN v END)").as("v10"),
          expr("max(CASE WHEN ox = 0 AND oy = 1 THEN v END)").as("v01"),
          expr("max(CASE WHEN ox = 1 AND oy = 1 THEN v END)").as("v11"))
        .filter(col("np") === 4)
        .selectExpr("ix", "iy", s"$bilinearE AS v_b")
        .orderBy("ix", "iy")
    }),

    // Resample "cc" (resample.rs cc branch): 16-cell gather join + the
    // inverse-distance combine above; same fine/coarse grids as bilinear.
    "resample_cc" -> ((s, dir) => {
      import graft.core.Lit.{d => L}
      val rx7 = 360.0 / 128; val ry7 = 180.0 / 128
      val rx5 = 360.0 / 32; val ry5 = 180.0 / 32
      val coarse = Raster.density(s, dir, 5)
        .select(col("ix").as("pix"), col("iy").as("piy"), col("v"))
      val fine = Raster.density(s, dir, 7).select("ix", "iy")
        .withColumn("tx", expr(s"(${L(rx7)} / 2.0e0 + ix * ${L(rx7)}) / ${L(rx5)} - 0.5e0"))
        .withColumn("ty", expr(s"(${L(ry7)} / 2.0e0 + iy * ${L(ry7)}) / ${L(ry5)} - 0.5e0"))
        .withColumn("gx", expr("cast(floor(tx) as bigint)"))
        .withColumn("gy", expr("cast(floor(ty) as bigint)"))
        .withColumn("fx", expr("tx - floor(tx)"))
        .withColumn("fy", expr("ty - floor(ty)"))
      val j = fine
        .withColumn("ox", explode(sequence(lit(-1), lit(2))))
        .withColumn("oy", explode(sequence(lit(-1), lit(2))))
        .withColumn("pix", col("gx") + col("ox"))
        .withColumn("piy", col("gy") + col("oy"))
        .join(coarse, Seq("pix", "piy"))
      val aggs = ccOffsets.map { case (sx, sy) =>
        expr(s"max(CASE WHEN ox = $sx AND oy = $sy THEN v END)").as(s"v_${sx + 1}_${sy + 1}")
      }
      j.groupBy("ix", "iy")
        .agg(max("fx").as("fx"), aggs :+ max("fy").as("fy"): _*)
        .selectExpr("ix", "iy", s"$ccCombine AS v_cc")
        .orderBy("ix", "iy")
    }),

    // Mosaic (mosaic.rs): two per-language layers, first-listed wins where
    // both cover a cell.
    "mosaic" -> ((s, dir) => {
      val p = Tables.pages(s, dir)
        .withColumn("ix", expr(Geo.ix(SparkD, "lon", 5)))
        .withColumn("iy", expr(Geo.iy(SparkD, "lat", 5)))
      val en = p.filter(col("lang") === "en").groupBy("ix", "iy")
        .agg(count(lit(1)).as("v_en"))
      val zh = p.filter(col("lang") === "zh").groupBy("ix", "iy")
        .agg(count(lit(1)).as("v_zh"))
      en.join(zh, Seq("ix", "iy"), "full_outer")
        .select(col("ix"), col("iy"), coalesce(col("v_en"), col("v_zh")).as("v"))
        .orderBy("ix", "iy")
    }),

    // RasterHistogram: equal-width bins over the density values.
    "raster_histogram" -> ((s, dir) => {
      val g = Raster.density(s, dir, 6)
      val ext = g.agg(min("v").as("vmin"), max("v").as("vmax"))
      g.crossJoin(broadcast(ext))
        .withColumn("bin", expr(
          "least(cast(floor((cast(v - vmin as double)) / " +
            "(cast(vmax - vmin + 1 as double) / 10.0e0)) as bigint), 9)"))
        .groupBy("bin").agg(count(lit(1)).as("n"))
        .orderBy("bin")
    }),

    // ImageCorrelation (image_correlation.rs): Pearson r between the en and
    // zh density layers on their common cells — exact integer sums, one
    // final double expression.
    "image_correlation" -> ((s, dir) => {
      val p = Tables.pages(s, dir)
        .withColumn("ix", expr(Geo.ix(SparkD, "lon", 5)))
        .withColumn("iy", expr(Geo.iy(SparkD, "lat", 5)))
      val en = p.filter(col("lang") === "en").groupBy("ix", "iy").agg(count(lit(1)).as("x"))
      val zh = p.filter(col("lang") === "zh").groupBy("ix", "iy").agg(count(lit(1)).as("y"))
      en.join(zh, Seq("ix", "iy"))
        .agg(count(lit(1)).as("n"),
             expr("cast(sum(x) as bigint)").as("sx"),
             expr("cast(sum(y) as bigint)").as("sy"),
             expr("cast(sum(x * y) as bigint)").as("sxy"),
             expr("cast(sum(x * x) as bigint)").as("sxx"),
             expr("cast(sum(y * y) as bigint)").as("syy"))
        .selectExpr("n",
          "(cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) / " +
            "sqrt((cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double)) * " +
            "(cast(n as double) * cast(syy as double) - cast(sy as double) * cast(sy as double))) AS pearson_r")
    }),

    // PercentGreaterThan / CountIf family (percent_greater_than.rs): per
    // cell, share of language layers whose density exceeds the threshold.
    "percent_greater_than" -> ((s, dir) => {
      val p = Tables.pages(s, dir).filter(col("lang").isin("en", "zh", "es"))
        .withColumn("ix", expr(Geo.ix(SparkD, "lon", 5)))
        .withColumn("iy", expr(Geo.iy(SparkD, "lat", 5)))
      p.groupBy("lang", "ix", "iy").agg(count(lit(1)).as("v"))
        .groupBy("ix", "iy")
        .agg(expr("cast(sum(CASE WHEN v > 2 THEN 1 ELSE 0 END) as bigint)").as("n_over"),
             count(lit(1)).as("n_layers"),
             expr("100.0e0 * sum(CASE WHEN v > 2 THEN 1 ELSE 0 END) / count(*)").as("pct"))
        .orderBy("ix", "iy")
    }),

    // AttributeCorrelation (attribute_correlation.rs): Pearson r between
    // n_chars and the whitespace token count — exact integer sums.
    "attribute_correlation" -> ((s, dir) => {
      Tables.table(s, dir, "documents")
        .withColumn("t", expr("cast(size(split(text, '\\\\s+')) as bigint)"))
        .agg(count(lit(1)).as("n"),
             expr("cast(sum(n_chars) as bigint)").as("sx"),
             expr("cast(sum(t) as bigint)").as("sy"),
             expr("cast(sum(n_chars * t) as bigint)").as("sxy"),
             expr("cast(sum(n_chars * n_chars) as bigint)").as("sxx"),
             expr("cast(sum(t * t) as bigint)").as("syy"))
        .selectExpr("n",
          "(cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) / " +
            "sqrt((cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double)) * " +
            "(cast(n as double) * cast(syy as double) - cast(sy as double) * cast(sy as double))) AS pearson_r")
    }),

    // BufferRaster (buffer_raster.rs): cells within max_dist of any page —
    // a LEFT SEMI join on the FRS bucket block with the distance residual
    // in the join condition (EXISTS semantics): no per-cell ranking, no
    // candidate aggregation; the probe short-circuits on first match.
    "buffer_raster" -> ((s, dir) => {
      import graft.core.Lit.{d => L}
      val res = 7; val n = 1 << res
      val rx = 360.0 / n; val ry = 180.0 / n
      val r = 1.0; val w = r / 2.0
      val cells = s.range(n.toLong * n)
        .select((col("id") % n).as("ix"), expr(s"id div $n").as("iy"))
        .withColumn("cx", expr(s"-180.0e0 + ${L(rx)} / 2.0e0 + ix * ${L(rx)}"))
        .withColumn("cy", expr(s"-90.0e0 + ${L(ry)} / 2.0e0 + iy * ${L(ry)}"))
        .withColumn("dx", explode(sequence(lit(-2), lit(2))))
        .withColumn("dy", explode(sequence(lit(-2), lit(2))))
        .withColumn("bx", expr(s"cast(floor(cx / ${L(w)}) as bigint)") + col("dx"))
        .withColumn("by", expr(s"cast(floor(cy / ${L(w)}) as bigint)") + col("dy"))
      val pts = Tables.pages(s, dir).select(col("lon"), col("lat"),
        expr(s"cast(floor(lon / ${L(w)}) as bigint)").as("pbx"),
        expr(s"cast(floor(lat / ${L(w)}) as bigint)").as("pby"))
      cells.join(pts,
          col("bx") === col("pbx") && col("by") === col("pby") &&
            expr("(lon - cx) * (lon - cx) + (lat - cy) * (lat - cy)") <= lit(r * r),
          "left_semi")
        .select("ix", "iy").distinct()
        .orderBy("ix", "iy")
    })
  )

  def oracles: Map[String, String] = Map(
    "focal_stats" ->
      (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)}, $duckHalo " +
        "SELECT ix, iy, cast(sum(nv) as bigint) AS f_total, " +
        "cast(sum(nv) as double) / cast(count(*) as double) AS f_mean, " +
        "min(nv) AS f_min, max(nv) AS f_max, max(nv) - min(nv) AS f_range, " +
        "count(*) AS n_nbrs FROM h GROUP BY ix, iy ORDER BY ix, iy"),
    "focal_diversity" ->
      (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)}, $duckHalo " +
        "SELECT ix, iy, count(DISTINCT nv) AS f_div FROM h GROUP BY ix, iy ORDER BY ix, iy"),
    "focal_median" ->
      (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)}, $duckHalo, " +
        s"ag AS (SELECT ix, iy, ${DuckD.sortedList("nv")} AS a FROM h GROUP BY ix, iy) " +
        s"SELECT ix, iy, ${medianExpr(DuckD, "a")} AS f_median FROM ag ORDER BY ix, iy"),
    "focal_majority" ->
      (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)}, $duckHalo, " +
        "cnts AS (SELECT ix, iy, nv, count(*) AS c FROM h GROUP BY 1, 2, 3), " +
        "mx AS (SELECT ix, iy, max(c) AS mc FROM cnts GROUP BY 1, 2) " +
        "SELECT c.ix AS ix, c.iy AS iy, min(nv) AS f_mode, max(c.c) AS mode_n " +
        "FROM cnts c JOIN mx ON c.ix = mx.ix AND c.iy = mx.iy AND c.c = mx.mc " +
        "GROUP BY 1, 2 ORDER BY ix, iy"),
    "focal_percentile" ->
      (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)}, $duckHalo, " +
        s"ag AS (SELECT ix, iy, ${DuckD.sortedList("nv")} AS a FROM h GROUP BY ix, iy) " +
        s"SELECT ix, iy, ${pctlExpr(DuckD, "a")} AS f_p75 FROM ag ORDER BY ix, iy"),
    "focal_gaussian" ->
      (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)}, $duckHaloD, " +
        s"ag AS (SELECT ix, iy, cast(sum(nv * $wBinom) as bigint) AS sw, " +
        s"cast(sum($wBinom) as bigint) AS w FROM h GROUP BY ix, iy) " +
        "SELECT ix, iy, cast(sw as double) / cast(w as double) AS v_g FROM ag ORDER BY ix, iy"),
    "sobel_filter" ->
      (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)}, $duckHaloD, " +
        s"ag AS (SELECT ix, iy, cast(sum(nv * ($wSobelX)) as bigint) AS gx, " +
        s"cast(sum(nv * ($wSobelY)) as bigint) AS gy FROM h GROUP BY ix, iy) " +
        "SELECT ix, iy, gx, gy, sqrt(cast(gx * gx + gy * gy as double)) AS magnitude " +
        "FROM ag ORDER BY ix, iy"),
    "laplacian_filter" ->
      (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)}, $duckHaloD " +
        s"SELECT ix, iy, cast(sum(nv * ($wLaplace)) as bigint) AS lap " +
        "FROM h GROUP BY ix, iy ORDER BY ix, iy"),
    "resample_nn" -> {
      val c5 = s"c AS (SELECT ${Geo.ix(DuckD, "lon", 5)} AS pix, ${Geo.iy(DuckD, "lat", 5)} AS piy, count(*) AS v FROM pages GROUP BY 1, 2)"
      val f7 = s"f AS (SELECT ${Geo.ix(DuckD, "lon", 7)} AS ix, ${Geo.iy(DuckD, "lat", 7)} AS iy FROM pages GROUP BY 1, 2)"
      s"${Geo.pagesWith(DuckD)}, $c5, $f7 SELECT ix, iy, v FROM f JOIN c " +
        s"ON ${DuckD.idiv("ix", "4")} = pix AND ${DuckD.idiv("iy", "4")} = piy ORDER BY ix, iy"
    },
    "resample_bilinear" -> {
      import graft.core.Lit.{d => L}
      val rx7 = L(360.0 / 128); val ry7 = L(180.0 / 128)
      val rx5 = L(360.0 / 32); val ry5 = L(180.0 / 32)
      val c5 = s"c AS (SELECT ${Geo.ix(DuckD, "lon", 5)} AS pix, ${Geo.iy(DuckD, "lat", 5)} AS piy, count(*) AS v FROM pages GROUP BY 1, 2)"
      val f7 = s"f AS (SELECT ${Geo.ix(DuckD, "lon", 7)} AS ix, ${Geo.iy(DuckD, "lat", 7)} AS iy FROM pages GROUP BY 1, 2)"
      val fine = s"fine AS (SELECT ix, iy, ($rx7 / 2.0e0 + ix * $rx7) / $rx5 - 0.5e0 AS tx, " +
        s"($ry7 / 2.0e0 + iy * $ry7) / $ry5 - 0.5e0 AS ty FROM f)"
      val fine2 = "fine2 AS (SELECT ix, iy, cast(floor(tx) as bigint) AS gx, " +
        "cast(floor(ty) as bigint) AS gy, tx - floor(tx) AS fx, ty - floor(ty) AS fy FROM fine)"
      val offs = "offs AS (SELECT 0 AS ox, 0 AS oy UNION ALL SELECT 1, 0 UNION ALL SELECT 0, 1 UNION ALL SELECT 1, 1)"
      val j = "j AS (SELECT ix, iy, fx, fy, ox, oy, v FROM fine2 CROSS JOIN offs " +
        "JOIN c ON pix = gx + ox AND piy = gy + oy)"
      val ag = "ag AS (SELECT ix, iy, max(fx) AS fx, max(fy) AS fy, count(*) AS np, " +
        "max(CASE WHEN ox = 0 AND oy = 0 THEN v END) AS v00, " +
        "max(CASE WHEN ox = 1 AND oy = 0 THEN v END) AS v10, " +
        "max(CASE WHEN ox = 0 AND oy = 1 THEN v END) AS v01, " +
        "max(CASE WHEN ox = 1 AND oy = 1 THEN v END) AS v11 FROM j GROUP BY ix, iy)"
      s"${Geo.pagesWith(DuckD)}, $c5, $f7, $fine, $fine2, $offs, $j, $ag " +
        s"SELECT ix, iy, $bilinearE AS v_b FROM ag WHERE np = 4 ORDER BY ix, iy"
    },
    "resample_cc" -> {
      import graft.core.Lit.{d => L}
      val rx7 = L(360.0 / 128); val ry7 = L(180.0 / 128)
      val rx5 = L(360.0 / 32); val ry5 = L(180.0 / 32)
      val c5 = s"c AS (SELECT ${Geo.ix(DuckD, "lon", 5)} AS pix, ${Geo.iy(DuckD, "lat", 5)} AS piy, count(*) AS v FROM pages GROUP BY 1, 2)"
      val f7 = s"f AS (SELECT ${Geo.ix(DuckD, "lon", 7)} AS ix, ${Geo.iy(DuckD, "lat", 7)} AS iy FROM pages GROUP BY 1, 2)"
      val fine = s"fine AS (SELECT ix, iy, ($rx7 / 2.0e0 + ix * $rx7) / $rx5 - 0.5e0 AS tx, " +
        s"($ry7 / 2.0e0 + iy * $ry7) / $ry5 - 0.5e0 AS ty FROM f)"
      val fine2 = "fine2 AS (SELECT ix, iy, cast(floor(tx) as bigint) AS gx, " +
        "cast(floor(ty) as bigint) AS gy, tx - floor(tx) AS fx, ty - floor(ty) AS fy FROM fine)"
      val offs = "offs AS (SELECT a.o AS ox, b.o AS oy FROM " +
        "(SELECT unnest([-1, 0, 1, 2]) AS o) a, (SELECT unnest([-1, 0, 1, 2]) AS o) b)"
      val j = "j AS (SELECT ix, iy, fx, fy, ox, oy, v FROM fine2 CROSS JOIN offs " +
        "JOIN c ON pix = gx + ox AND piy = gy + oy)"
      val ccAggs = ccOffsets.map { case (sx, sy) =>
        s"max(CASE WHEN ox = $sx AND oy = $sy THEN v END) AS v_${sx + 1}_${sy + 1}"
      }.mkString(", ")
      val ag = s"ag AS (SELECT ix, iy, max(fx) AS fx, max(fy) AS fy, $ccAggs FROM j GROUP BY ix, iy)"
      s"${Geo.pagesWith(DuckD)}, $c5, $f7, $fine, $fine2, $offs, $j, $ag " +
        s"SELECT ix, iy, $ccCombine AS v_cc FROM ag ORDER BY ix, iy"
    },
    "mosaic" ->
      (s"${Geo.pagesWith(DuckD)}, en AS (SELECT ${Geo.ix(DuckD, "lon", 5)} AS ix, ${Geo.iy(DuckD, "lat", 5)} AS iy, count(*) AS v_en FROM pages WHERE lang = 'en' GROUP BY 1, 2), " +
        s"zh AS (SELECT ${Geo.ix(DuckD, "lon", 5)} AS ix, ${Geo.iy(DuckD, "lat", 5)} AS iy, count(*) AS v_zh FROM pages WHERE lang = 'zh' GROUP BY 1, 2) " +
        "SELECT coalesce(en.ix, zh.ix) AS ix, coalesce(en.iy, zh.iy) AS iy, " +
        "coalesce(v_en, v_zh) AS v FROM en FULL OUTER JOIN zh ON en.ix = zh.ix AND en.iy = zh.iy " +
        "ORDER BY ix, iy"),
    "raster_histogram" ->
      (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)}, ext AS (SELECT min(v) AS vmin, max(v) AS vmax FROM g) " +
        "SELECT least(cast(floor((cast(v - vmin as double)) / (cast(vmax - vmin + 1 as double) / 10.0e0)) as bigint), 9) AS bin, " +
        "count(*) AS n FROM g, ext GROUP BY 1 ORDER BY bin"),
    "image_correlation" ->
      (s"${Geo.pagesWith(DuckD)}, en AS (SELECT ${Geo.ix(DuckD, "lon", 5)} AS ix, ${Geo.iy(DuckD, "lat", 5)} AS iy, count(*) AS x FROM pages WHERE lang = 'en' GROUP BY 1, 2), " +
        s"zh AS (SELECT ${Geo.ix(DuckD, "lon", 5)} AS ix, ${Geo.iy(DuckD, "lat", 5)} AS iy, count(*) AS y FROM pages WHERE lang = 'zh' GROUP BY 1, 2), " +
        "j AS (SELECT x, y FROM en JOIN zh ON en.ix = zh.ix AND en.iy = zh.iy), " +
        "a AS (SELECT count(*) AS n, cast(sum(x) as bigint) AS sx, cast(sum(y) as bigint) AS sy, " +
        "cast(sum(x * y) as bigint) AS sxy, cast(sum(x * x) as bigint) AS sxx, cast(sum(y * y) as bigint) AS syy FROM j) " +
        "SELECT n, (cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) / " +
        "sqrt((cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double)) * " +
        "(cast(n as double) * cast(syy as double) - cast(sy as double) * cast(sy as double))) AS pearson_r FROM a"),
    "percent_greater_than" ->
      (s"${Geo.pagesWith(DuckD)}, layers AS (SELECT lang, ${Geo.ix(DuckD, "lon", 5)} AS ix, " +
        s"${Geo.iy(DuckD, "lat", 5)} AS iy, count(*) AS v FROM pages " +
        "WHERE lang IN ('en', 'zh', 'es') GROUP BY 1, 2, 3) " +
        "SELECT ix, iy, cast(sum(CASE WHEN v > 2 THEN 1 ELSE 0 END) as bigint) AS n_over, " +
        "count(*) AS n_layers, " +
        "100.0e0 * sum(CASE WHEN v > 2 THEN 1 ELSE 0 END) / count(*) AS pct " +
        "FROM layers GROUP BY 1, 2 ORDER BY ix, iy"),
    "attribute_correlation" ->
      (s"WITH t0 AS (SELECT n_chars, len(regexp_split_to_array(text, '\\s+')) AS t FROM documents), " +
        "a AS (SELECT count(*) AS n, cast(sum(n_chars) as bigint) AS sx, cast(sum(t) as bigint) AS sy, " +
        "cast(sum(n_chars * t) as bigint) AS sxy, cast(sum(n_chars * n_chars) as bigint) AS sxx, " +
        "cast(sum(t * t) as bigint) AS syy FROM t0) " +
        "SELECT n, (cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) / " +
        "sqrt((cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double)) * " +
        "(cast(n as double) * cast(syy as double) - cast(sy as double) * cast(sy as double))) AS pearson_r FROM a"),
    "buffer_raster" -> {
      val n = 128; val rx = graft.core.Lit.d(360.0 / n); val ry = graft.core.Lit.d(180.0 / n)
      s"${Geo.pagesWith(DuckD)}, cells AS (SELECT range % $n AS ix, range // $n AS iy, " +
        s"-180.0e0 + $rx / 2.0e0 + (range % $n) * $rx AS cx, " +
        s"-90.0e0 + $ry / 2.0e0 + (range // $n) * $ry AS cy FROM range(${n * n})) " +
        "SELECT DISTINCT ix, iy FROM cells JOIN pages " +
        "ON (lon - cx) * (lon - cx) + (lat - cy) * (lat - cy) <= 1.0e0 ORDER BY ix, iy"
    }
  )
}
