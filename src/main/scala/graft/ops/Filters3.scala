package graft.ops

import graft.core.{Dialect, DuckD, Gates, Geo, Lit, SparkD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Third focal-filter batch — completes the reference's image_analysis
  * filter family over the same density-grid halo frames:
  *
  *   - Prewitt / Scharr (prewitt_filter.rs:239-242, scharr_filter.rs
  *     :239-242): 8-offset gradient kernels where an absent (nodata)
  *     neighbour is REPLACED BY THE CENTRE VALUE z (the reference's
  *     `if zn == nodata { zn = z }`), which algebraically reduces to
  *     Σ w·(nv − z) over PRESENT neighbours since both masks sum to 0 —
  *     one integer-exact aggregate.
  *   - RobertsCross (roberts_filter.rs:249-272): |z1−z4| + |z2−z3| with
  *     the same nodata→z replacement, via three pivoted offsets.
  *   - Lee sigma filter (lee_filter.rs:328-361, sigma=2, m=3, 3×3): mean
  *     of in-window values within z±sigma when more than m qualify, else
  *     mean of the 8 immediate neighbours, else nodata.
  *   - Adaptive (adaptive_filter.rs:385-419, threshold=2, 3×3): replace z
  *     by the window mean when (z − mean)/stdev exceeds the threshold.
  *   - EdgePreservingMean (edge_preserving_mean_filter.rs:288-303,
  *     threshold=2, 3×3): mean over neighbours with |zn − z| ≤ threshold.
  *   - HighPassMedian (highpass_median_filter.rs): z − median(3×3); the
  *     reference's Huang running-median is a sequential-scan optimization,
  *     the distributed plan recomputes the exact window median.
  *   - UserDefinedWeights (user_defined_weights_filter.rs, normalize=true)
  *     with the 3×3 integer demo kernel [[1,2,3],[4,5,6],[7,8,9]]:
  *     Σ w·nv / Σ w over present cells.
  *   - Bilateral (bilateral_filter.rs:206-252,318-356; sigma_dist=0.5,
  *     sigma_int=1.0): distance weights are PRECOMPUTED LITERALS (so both
  *     engines use the same doubles); the intensity weight exp(−(zn−z)²/2σᵢ²)
  *     is evaluated per cell; the combine is a FIXED-ORDER expression over
  *     25 pivoted offsets — no order-dependent double summation. The
  *     reference's `midpoint = floor(size/2)+1` makes the window
  *     asymmetric (offsets −3..1); cloned for fidelity.
  *   - FastAlmostGaussian (fast_almost_gaussian_filter.rs:194-207,
  *     sigma=1.8 → m=0, so 5 passes of a width-3 box mean per Kovesi):
  *     five chained 3×3 box-mean halo joins; between passes the mean is
  *     quantized to fixed-point micro-units (round(µ·10⁶)) so every pass's
  *     sums stay integer-exact in both engines (documented deviation: the
  *     reference chains raw f64 means, which no order-free distributed
  *     plan can reproduce bit-exactly).
  *
  * Plan shape: everything is ONE hash aggregate over a radius-1 (or the
  * asymmetric −3..1 bilateral) halo equi-join — map-side partials, no
  * windows, no range joins on the Spark side. FAG is 5 such aggregates
  * chained; the grid cell set is invariant across passes (every cell is
  * its own neighbour).
  */
object Filters3 extends Gates {

  // ---- shared radius-1 aggregate ------------------------------------------

  private val sigmaT = 2 // lee sigma / epm threshold (counts are small ints)

  /** kernel weights as functions of (dx, dy); mask sums are 0 so the
    * nodata→z replacement reduces to (nv − v) weighting. */
  private val wPrewX = "dx"
  private val wPrewY = "(-dy)"
  private val wSchX = "dx * (CASE WHEN dy = 0 THEN 10 ELSE 3 END)"
  private val wSchY = "(-dy) * (CASE WHEN dx = 0 THEN 10 ELSE 3 END)"
  private val wUdw = "((dy + 1) * 3 + dx + 2)" // 1..9 demo kernel

  private def r1Aggs: Seq[(String, String)] = Seq(
    "z" -> "max(v)",
    "n" -> "count(*)",
    "s" -> "cast(sum(nv) as bigint)",
    "q" -> "cast(sum(nv * nv) as bigint)",
    "px" -> s"cast(sum((nv - v) * ($wPrewX)) as bigint)",
    "py" -> s"cast(sum((nv - v) * ($wPrewY)) as bigint)",
    "scx" -> s"cast(sum((nv - v) * ($wSchX)) as bigint)",
    "scy" -> s"cast(sum((nv - v) * ($wSchY)) as bigint)",
    "n_sig" -> s"cast(sum(CASE WHEN abs(nv - v) <= $sigmaT THEN 1 ELSE 0 END) as bigint)",
    "s_sig" -> s"cast(sum(CASE WHEN abs(nv - v) <= $sigmaT THEN nv ELSE 0 END) as bigint)",
    "n8" -> "cast(sum(CASE WHEN NOT (dx = 0 AND dy = 0) THEN 1 ELSE 0 END) as bigint)",
    "s8" -> "cast(sum(CASE WHEN NOT (dx = 0 AND dy = 0) THEN nv ELSE 0 END) as bigint)",
    "udw_s" -> s"cast(sum(nv * $wUdw) as bigint)",
    "udw_w" -> s"cast(sum($wUdw) as bigint)",
    "z2" -> "max(CASE WHEN dx = 1 AND dy = 0 THEN nv END)",
    "z3" -> "max(CASE WHEN dx = 0 AND dy = 1 THEN nv END)",
    "z4" -> "max(CASE WHEN dx = 1 AND dy = 1 THEN nv END)",
    "arr" -> "__SORTED__"
  )

  /** exact median of the sorted window array (same form as Focal). */
  private def medianE(d: Dialect, arr: String): String = {
    val n = d.alen(arr)
    val odd = d.elemE(arr, d.idiv(s"(($n) + 1)", "2"))
    val e1 = d.elemE(arr, d.idiv(s"($n)", "2"))
    val e2 = d.elemE(arr, s"${d.idiv(s"($n)", "2")} + 1")
    s"CASE WHEN ($n) % 2 = 1 THEN cast($odd as double) " +
      s"ELSE (cast($e1 as double) + cast($e2 as double)) / 2.0e0 END"
  }

  /** adaptive-filter output (population variance form, reference op order). */
  private val adaptiveE = {
    val mean = "cast(s as double) / cast(n as double)"
    val vv = "(cast(q as double) - cast(s as double) * cast(s as double) / cast(n as double)) / cast(n as double)"
    s"CASE WHEN ($vv) > 0.0e0 AND (cast(z as double) - ($mean)) / sqrt($vv) > 2.0e0 " +
      s"THEN $mean ELSE cast(z as double) END"
  }

  private def queryDefs(d: Dialect): Seq[(String, Seq[String])] = Seq(
    ("prewitt_filter", Seq("px AS gx", "py AS gy",
      "sqrt(cast(px * px + py * py as double)) AS magnitude")),
    ("scharr_filter", Seq("scx AS gx", "scy AS gy",
      "sqrt(cast(scx * scx + scy * scy as double)) AS magnitude")),
    ("roberts_cross_filter", Seq(
      "abs(z - coalesce(z4, z)) + abs(coalesce(z2, z) - coalesce(z3, z)) AS v_rc")),
    ("lee_filter", Seq(
      "CASE WHEN n_sig > 3 THEN cast(s_sig as double) / cast(n_sig as double) " +
        "WHEN n8 > 0 THEN cast(s8 as double) / cast(n8 as double) END AS v_lee")),
    ("adaptive_filter", Seq(s"$adaptiveE AS v_ad")),
    ("edge_preserving_mean", Seq(
      "cast(s_sig as double) / cast(n_sig as double) AS v_epm")),
    ("highpass_median_filter", Seq(
      s"cast(z as double) - (${medianE(d, "arr")}) AS v_hpm")),
    ("user_defined_weights", Seq(
      "cast(udw_s as double) / cast(udw_w as double) AS v_udw"))
  )

  // ---- bilateral ----------------------------------------------------------

  private val sigmaD = 0.5
  private val sigmaI = 1.0
  // reference quirk: midpoint = floor(filter_size/2) + 1 → offsets −3..1
  // for the σd=0.5 size-5 filter
  private val bilatOffs: Seq[(Int, Int)] =
    for (y <- -3 to 1; x <- -3 to 1) yield (x, y)

  private def wd(x: Int, y: Int): Double =
    1.0 / (math.sqrt(2.0 * math.Pi) * sigmaD) *
      math.exp(-(x * x + y * y).toDouble / (2.0 * sigmaD * sigmaD))

  private val ciLit = Lit.d(1.0 / (math.sqrt(2.0 * math.Pi) * sigmaI))
  private val twoSigI = Lit.d(2.0 * sigmaI * sigmaI)

  private def vn(x: Int, y: Int) = s"bv_${x + 3}_${y + 3}"

  /** fixed-order bilateral combine over the 25 pivoted offsets: weights of
    * absent cells are 0; z_final = Σ (w_a · zn_a / S) in reference term
    * order (row-major over the offset grid); S (`bs`) is aliased in the
    * enclosing select via [[bilatSumAlias]]. */
  private def bilatInline: String = {
    def w(x: Int, y: Int) =
      s"($ciLit * exp(-(cast((${vn(x, y)} - z) * (${vn(x, y)} - z) as double)) / $twoSigI) * ${Lit.d(wd(x, y))})"
    val sum = bilatOffs.map { case (x, y) =>
      s"(CASE WHEN ${vn(x, y)} IS NULL THEN 0.0e0 ELSE ${w(x, y)} END)"
    }.mkString("(", " + ", ")")
    val zf = bilatOffs.map { case (x, y) =>
      s"(CASE WHEN ${vn(x, y)} IS NULL THEN 0.0e0 ELSE ${w(x, y)} * cast(${vn(x, y)} as double) / bs END)"
    }.mkString("(", " + ", ")")
    s"round($zf, 6)" // consumes bs from the enclosing select
  }

  private def bilatSumAlias: String = {
    def w(x: Int, y: Int) =
      s"($ciLit * exp(-(cast((${vn(x, y)} - z) * (${vn(x, y)} - z) as double)) / $twoSigI) * ${Lit.d(wd(x, y))})"
    bilatOffs.map { case (x, y) =>
      s"(CASE WHEN ${vn(x, y)} IS NULL THEN 0.0e0 ELSE ${w(x, y)} END)"
    }.mkString("(", " + ", ")")
  }

  private def bilatAggs: Seq[(String, String)] =
    ("z" -> "max(CASE WHEN dx = 0 AND dy = 0 THEN nv END)") +:
      bilatOffs.map { case (x, y) =>
        vn(x, y) -> s"max(CASE WHEN dx = $x AND dy = $y THEN nv END)"
      }

  private val duckBilatHalo =
    "h AS (SELECT c.ix, c.iy, n.ix - c.ix AS dx, n.iy - c.iy AS dy, n.v AS nv " +
      "FROM g c JOIN g n ON n.ix BETWEEN c.ix - 3 AND c.ix + 1 AND n.iy BETWEEN c.iy - 3 AND c.iy + 1)"

  // ---- fast almost gaussian ------------------------------------------------

  /** one 3×3 box-mean pass over micro-unit values: micro in, micro out
    * (round() of a non-negative mean is half-up in both engines). */
  private def boxMeanOf(c: String) =
    s"cast(round(cast(sum($c) as double) / cast(count(*) as double)) as bigint)"

  private def sparkBox(g: DataFrame, scaleIn: Boolean): DataFrame = {
    val in = if (scaleIn) g.selectExpr("ix", "iy", "v * 1000000 AS v") else g
    val centers = in.select(col("ix").as("cix"), col("iy").as("ciy"))
      .withColumn("dx", explode(sequence(lit(-1), lit(1))))
      .withColumn("dy", explode(sequence(lit(-1), lit(1))))
      .withColumn("nix", col("cix") + col("dx"))
      .withColumn("niy", col("ciy") + col("dy"))
    centers.join(in.select(col("ix").as("nix"), col("iy").as("niy"), col("v").as("nv")),
        Seq("nix", "niy"))
      .groupBy(col("cix").as("ix"), col("ciy").as("iy"))
      .agg(expr(boxMeanOf("nv")).as("v"))
  }

  private def duckBox(prev: String, out: String): String =
    s"$out AS (SELECT c.ix, c.iy, ${boxMeanOf("n.v")} AS v FROM $prev c JOIN $prev n " +
      "ON n.ix BETWEEN c.ix - 1 AND c.ix + 1 AND n.iy BETWEEN c.iy - 1 AND c.iy + 1 GROUP BY c.ix, c.iy)"

  // ---- wiring --------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    def r1(s: SparkSession, dir: String): DataFrame = {
      val h = Focal.haloD(Raster.density(s, dir, 6))
      val aggs = r1Aggs.map { case (nm, e) =>
        expr(if (e == "__SORTED__") SparkD.sortedList("nv") else e).as(nm)
      }
      h.groupBy("ix", "iy").agg(aggs.head, aggs.tail: _*)
    }
    val base: Map[String, (SparkSession, String) => DataFrame] =
      queryDefs(SparkD).map { case (name, sel) =>
        name -> ((s: SparkSession, dir: String) =>
          r1(s, dir).selectExpr(Seq("ix", "iy") ++ sel: _*).orderBy("ix", "iy"))
      }.toMap
    base ++ Map(
      "bilateral_filter" -> ((s: SparkSession, dir: String) => {
        val g = Raster.density(s, dir, 6)
        val centers = g.select(col("ix").as("cix"), col("iy").as("ciy"))
          .withColumn("dx", explode(sequence(lit(-3), lit(1))))
          .withColumn("dy", explode(sequence(lit(-3), lit(1))))
          .withColumn("nix", col("cix") + col("dx"))
          .withColumn("niy", col("ciy") + col("dy"))
        val h = centers.join(
          g.select(col("ix").as("nix"), col("iy").as("niy"), col("v").as("nv")),
          Seq("nix", "niy"))
          .select(col("cix").as("ix"), col("ciy").as("iy"),
            col("dx"), col("dy"), col("nv"))
        val aggs = bilatAggs.map { case (nm, e) => expr(e).as(nm) }
        h.groupBy("ix", "iy").agg(aggs.head, aggs.tail: _*)
          .filter(col("z").isNotNull) // centre must exist (it always does)
          .withColumn("bs", expr(bilatSumAlias))
          .selectExpr("ix", "iy", s"$bilatInline AS v_bl")
          .orderBy("ix", "iy")
      }),
      "fast_almost_gaussian" -> ((s: SparkSession, dir: String) => {
        var g = sparkBox(Raster.density(s, dir, 6), scaleIn = true)
        (2 to 5).foreach(_ => g = sparkBox(g, scaleIn = false))
        g.selectExpr("ix", "iy", "cast(v as double) / 1000000.0e0 AS v_fag")
          .orderBy("ix", "iy")
      })
    )
  }

  def oracles: Map[String, String] = {
    val aggSql = r1Aggs.map { case (nm, e) =>
      s"${if (e == "__SORTED__") DuckD.sortedList("nv") else e} AS $nm"
    }.mkString(", ")
    val agg1 = s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)}, ${Focal.duckHaloD}, " +
      s"ag AS (SELECT ix, iy, $aggSql FROM h GROUP BY ix, iy)"
    val base = queryDefs(DuckD).map { case (name, sel) =>
      name -> s"$agg1 SELECT ix, iy, ${sel.mkString(", ")} FROM ag ORDER BY ix, iy"
    }.toMap
    val bilatAggSql = bilatAggs.map { case (nm, e) => s"$e AS $nm" }.mkString(", ")
    base ++ Map(
      "bilateral_filter" ->
        (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)}, $duckBilatHalo, " +
          s"ag AS (SELECT ix, iy, $bilatAggSql FROM h GROUP BY ix, iy), " +
          s"ag2 AS (SELECT *, $bilatSumAlias AS bs FROM ag WHERE z IS NOT NULL) " +
          s"SELECT ix, iy, $bilatInline AS v_bl FROM ag2 ORDER BY ix, iy"),
      "fast_almost_gaussian" -> {
        val g0 = "g0 AS (SELECT ix, iy, v * 1000000 AS v FROM g)"
        val passes = (1 to 5).map(i => duckBox(if (i == 1) "g0" else s"b${i - 1}", s"b$i"))
          .mkString(", ")
        s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)}, $g0, $passes " +
          "SELECT ix, iy, cast(v as double) / 1000000.0e0 AS v_fag FROM b5 ORDER BY ix, iy"
      }
    )
  }
}
