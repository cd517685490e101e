package graft.ops

import graft.core.{Dialect, DuckD, Gates, Geo, Lit, SparkD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Contrast-stretch family over the density grid (num_tones = 256):
  *
  *   - MinMaxContrastStretch (min_max_contrast_stretch.rs:318-326):
  *     z' = clamp(floor((z − min)/range·tones), 0, tones−1), min/max from
  *     the image extent.
  *   - PercentageContrastStretch (percentage_contrast_stretch.rs:282-300 +
  *     raster/mod.rs:874-902 calculate_clip_values, clip=2%, tail=both):
  *     the clip bounds are the t-th smallest/largest cell values with
  *     t = trunc(n·clip/100) — computed from the BOUNDED distinct-value
  *     histogram (driver cumsum, the cdfLut discipline), then the same
  *     linear mapping.
  *   - GaussianContrastStretch (gaussian_contrast_stretch.rs:259-321,
  *     380-433): histogram-CDF matching against a synthetic standard-normal
  *     reference CDF discretized at 256 tones over [−3, 3]. The reference
  *     pdf/cdf table is PRECOMPUTED ONCE (driver-side Math.exp) and inlined
  *     as literals into BOTH engines, so no engine-evaluated transcendental
  *     enters the parity surface; the per-bin inverse-CDF interpolation
  *     (x1 + (x2−x1)·(p−p1)/(p2−p1)) follows the reference op order. Output
  *     = round((x+3)/6·255).
  *   - SigmoidalContrastStretch (sigmoidal_contrast_stretch.rs:338-349,
  *     cutoff=0.1, gain=2): z' = floor(clamp((1/(1+e^{gain(cutoff−u)}) −
  *     a)/b, 0, 1)·tones) with u = (z−min)/range; a/b are literal constants
  *     (driver-computed).
  *   - StdevContrastStretch (stdev_contrast_stretch.rs:248-249, 338-344,
  *     clip=2σ): linear stretch between mean ± 2σ (sample σ from exact
  *     integer sums).
  *   - BalanceContrastEnhancement (balance_contrast_enhancement.rs:348-400,
  *     band_mean e=100, single-band analogue of the per-channel solve):
  *     out = clamp(a(z−b)² + c, 0, 255) with the reference's closed-form
  *     quadratic coefficients from (L, H, E, s) band statistics.
  *
  * Plan shape: every stretch is one 1-row global aggregate (broadcast) +
  * a per-cell expression; percentage/gaussian add one bounded distinct-
  * value histogram with a driver cumsum (≤ |distinct v| rows — the
  * reference's own bounded-histogram discipline). No global-order windows
  * on the Spark side.
  */
object Stretch extends Gates {

  private val tones = 256
  private val clipPct = 2.0
  private val cutoff = 0.1
  private val gain = 2.0
  private val clipSd = 2.0
  private val bceE = 100.0 // band_mean target

  // sigmoidal a/b are pure constants — driver-computed literals, both engines
  private val sigA = 1.0 / (1.0 + math.exp(gain * cutoff))
  private val sigB = 1.0 / (1.0 + math.exp(gain * (cutoff - 1.0))) - sigA

  /** linear tone mapping used by min_max / percentage / stdev — floor
    * BEFORE clamping, exactly as the reference. */
  private def toneMapE(mnE: String, rangeE: String): String =
    s"least(greatest(floor((cast(v as double) - ($mnE)) / ($rangeE) * ${Lit.d(tones.toDouble)}), 0.0e0), ${Lit.d(tones - 1.0)})"

  // ---- shared-builder stretches -------------------------------------------

  private def minMaxSql(d: Dialect): String =
    s"${Geo.pagesWith(d)}, ${Geo.densityCte(d, 6)}, " +
      "ext AS (SELECT min(v) AS mn, max(v) AS mx FROM g) " +
      s"SELECT ix, iy, ${toneMapE("cast(mn as double)", "cast(mx - mn as double)")} AS v_mm " +
      "FROM g, ext ORDER BY ix, iy"

  private def stdevSql(d: Dialect): String = {
    val mean = "cast(s as double) / cast(n as double)"
    val sd = "sqrt((cast(q as double) - cast(s as double) * cast(s as double) / cast(n as double)) / (cast(n as double) - 1.0e0))"
    val mn = s"(($mean) - ($sd) * ${Lit.d(clipSd)})"
    val range = s"((($mean) + ($sd) * ${Lit.d(clipSd)}) - ($mn))"
    s"${Geo.pagesWith(d)}, ${Geo.densityCte(d, 6)}, " +
      "st AS (SELECT cast(sum(v) as bigint) AS s, cast(sum(v * v) as bigint) AS q, count(*) AS n FROM g) " +
      s"SELECT ix, iy, ${toneMapE(mn, range)} AS v_sd FROM g, st ORDER BY ix, iy"
  }

  private def sigmoidalSql(d: Dialect): String = {
    val u = "((cast(v as double) - cast(mn as double)) / cast(mx - mn as double))"
    val sig = s"(1.0e0 / (1.0e0 + exp(${Lit.d(gain)} * (${Lit.d(cutoff)} - $u))) - ${Lit.d(sigA)}) / ${Lit.d(sigB)}"
    val out = s"floor(least(greatest($sig, 0.0e0), 1.0e0) * ${Lit.d(tones.toDouble)})"
    s"${Geo.pagesWith(d)}, ${Geo.densityCte(d, 6)}, " +
      "ext AS (SELECT min(v) AS mn, max(v) AS mx FROM g) " +
      s"SELECT ix, iy, least($out, ${Lit.d(tones - 1.0)}) AS v_sig FROM g, ext ORDER BY ix, iy"
  }

  private def bceSql(d: Dialect): String = {
    val (l, h) = ("0.0e0", "255.0e0")
    val e = Lit.d(bceE)
    // band stats: L=min, H=max, E=mean, S=mean of squares (reference names)
    val bigE = "(cast(sm as double) / cast(n as double))"
    val bigS = "(cast(q as double) / cast(n as double))"
    val bigL = "cast(mn as double)"
    val bigH = "cast(mx as double)"
    val bb = s"(($bigH * $bigH * ($e - $l) - $bigS * ($h - $l) + $bigL * $bigL * ($h - $e)) / " +
      s"(2.0e0 * ($bigH * ($e - $l) - $bigE * ($h - $l) + $bigL * ($h - $e))))"
    val aa = s"(($h - $l) / (($bigH - $bigL) * ($bigH + $bigL - 2.0e0 * bcoef)))"
    val cc = s"($l - acoef * (($bigL - bcoef) * ($bigL - bcoef)))"
    val out = "least(greatest(acoef * ((cast(v as double) - bcoef) * (cast(v as double) - bcoef)) + ccoef, 0.0e0), 255.0e0)"
    s"${Geo.pagesWith(d)}, ${Geo.densityCte(d, 6)}, " +
      "st0 AS (SELECT cast(sum(v) as bigint) AS sm, cast(sum(v * v) as bigint) AS q, " +
      "count(*) AS n, min(v) AS mn, max(v) AS mx FROM g), " +
      s"st1 AS (SELECT *, $bb AS bcoef FROM st0), " +
      s"st2 AS (SELECT *, $aa AS acoef FROM st1), " +
      s"st AS (SELECT *, $cc AS ccoef FROM st2) " +
      s"SELECT ix, iy, $out AS v_bce FROM g, st ORDER BY ix, iy"
  }

  // ---- percentage stretch (driver clip bounds on the Spark side) ----------

  /** clip bounds from a sorted (v, count) histogram: t-th smallest/largest
    * (raster/mod.rs:874-902; t = trunc(n·clip/100), sum ≥ t semantics —
    * t = 0 degenerates to the extremes). */
  private[ops] def clipBounds(hist: Seq[(Long, Long)], clip: Double): (Long, Long) = {
    val n = hist.map(_._2).sum
    val t = (clip / 100.0 * n.toDouble).toLong
    var cum = 0L
    val lo = hist.find { case (_, c) => cum += c; cum >= t }.map(_._1).getOrElse(hist.head._1)
    cum = 0L
    val hi = hist.reverse.find { case (_, c) => cum += c; cum >= t }.map(_._1).getOrElse(hist.last._1)
    (lo, hi)
  }

  private def pctSpark(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val g = Raster.density(s, dir, 6)
    val hist = g.groupBy("v").agg(count(lit(1)).as("c"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val (lo, hi) = clipBounds(hist.toSeq, clipPct)
    g.selectExpr("ix", "iy",
        s"${toneMapE(s"${Lit.d(lo.toDouble)}", s"${Lit.d((hi - lo).toDouble)}")} AS v_pct")
      .orderBy("ix", "iy")
  }

  private def pctDuck: String = {
    // cumulative histogram over distinct values (oracle side may window)
    s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)}, " +
      "h AS (SELECT v, count(*) AS c FROM g GROUP BY v), " +
      "tot AS (SELECT cast(sum(c) as bigint) AS n FROM h), " +
      s"tt AS (SELECT cast((${Lit.d(clipPct)} / 100.0e0 * cast(n as double)) as bigint) AS t, n FROM tot), " +
      "cl AS (SELECT v, sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM h), " +
      "ch AS (SELECT v, sum(c) OVER (ORDER BY v DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM h), " +
      "lo AS (SELECT coalesce(min(CASE WHEN cum >= (SELECT t FROM tt) THEN v END), (SELECT min(v) FROM h)) AS lov FROM cl), " +
      "hi AS (SELECT coalesce(max(CASE WHEN cum >= (SELECT t FROM tt) THEN v END), (SELECT max(v) FROM h)) AS hiv FROM ch) " +
      s"SELECT ix, iy, ${toneMapE("cast(lov as double)", "cast(hiv - lov as double)")} AS v_pct " +
      "FROM g, lo, hi ORDER BY ix, iy"
  }

  // ---- gaussian stretch (literal reference CDF, driver LUT) ---------------

  /** the 256-row standard-normal reference CDF (gaussian_contrast_stretch
    * .rs:300-317), computed once here and inlined into both engines. */
  private[ops] val refCdf: Array[(Double, Double)] = {
    val pStep = 6.0 / (tones - 1.0)
    val pdf = Array.tabulate(tones) { a =>
      val x = -3.0 + a * pStep
      (x, 1.0 / math.sqrt(2.0 * math.Pi) * math.exp(-x * x / 2.0))
    }
    val cum = pdf.scanLeft(0.0)(_ + _._2).drop(1)
    val total = cum.last
    pdf.zip(cum).map { case ((x, _), c) => (x, c / total) }
  }

  /** reference inverse-CDF match (gaussian_contrast_stretch.rs:406-431):
    * first i with rc > p; interpolate from row i−1. p = 1 matches no row →
    * the top anchor x = 3. */
  private[ops] def invRef(p: Double): Double = {
    var i = 0
    while (i < refCdf.length && refCdf(i)._2 <= p) i += 1
    if (i >= refCdf.length) 3.0
    else if (i == 0) refCdf(0)._1
    else {
      val (x1, p1) = refCdf(i - 1); val (x2, p2) = refCdf(i)
      if (p1 != p2) x1 + ((x2 - x1) * ((p - p1) / (p2 - p1))) else x1
    }
  }

  private def gaussSpark(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val g = Raster.density(s, dir, 6)
    val hist = g.groupBy("v").agg(count(lit(1)).as("c"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val n = hist.map(_._2).sum
    // bin → cdf over present values (empty bins inherit the running cum),
    // then the inverse-normal match and output tone — all ≤|distinct v|
    // driver rows, broadcast back as a value→tone LUT
    var cum = 0L
    val lut = hist.map { case (v, c) =>
      cum += c
      val p = cum.toDouble / n.toDouble
      val xv = invRef(p)
      (v, math.round((xv + 3.0) / 6.0 * (tones - 1.0)).toDouble)
    }.toSeq.toDF("v", "v_gauss")
    g.join(broadcast(lut), "v").select("ix", "iy", "v_gauss").orderBy("ix", "iy")
  }

  private def gaussDuck: String = {
    // literal reference-CDF rows with previous-row values for interpolation
    val refRows = refCdf.zipWithIndex.map { case ((x, rc), i) =>
      val (xp, rcp) = if (i == 0) (x, rc) else refCdf(i - 1)
      s"(${i}, ${Lit.d(x)}, ${Lit.d(rc)}, ${Lit.d(xp)}, ${Lit.d(rcp)})"
    }.mkString(", ")
    val xval = "CASE WHEN m.i IS NULL THEN 3.0e0 WHEN m.i = 0 THEN r.x " +
      "WHEN r.rcp <> r.rc THEN r.xp + ((r.x - r.xp) * ((m.p - r.rcp) / (r.rc - r.rcp))) ELSE r.xp END"
    s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)}, " +
      s"ref(i, x, rc, xp, rcp) AS (VALUES $refRows), " +
      "h AS (SELECT v, count(*) AS c FROM g GROUP BY v), " +
      "tot AS (SELECT cast(sum(c) as bigint) AS n FROM h), " +
      "cdf AS (SELECT v, cast(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as double) / " +
      "cast((SELECT n FROM tot) as double) AS p FROM h), " +
      "m AS (SELECT v, p, (SELECT min(i) FROM ref WHERE rc > cdf.p) AS i FROM cdf), " +
      s"lut AS (SELECT v, round((($xval) + 3.0e0) / 6.0e0 * 255.0e0) AS v_gauss " +
      "FROM m LEFT JOIN ref r ON r.i = m.i) " +
      "SELECT ix, iy, v_gauss FROM g JOIN lut USING (v) ORDER BY ix, iy"
  }

  // ---- wiring --------------------------------------------------------------

  private val builders: Map[String, Dialect => String] = Map(
    "min_max_contrast_stretch" -> minMaxSql,
    "stdev_contrast_stretch" -> stdevSql,
    "sigmoidal_contrast_stretch" -> sigmoidalSql,
    "balance_contrast_enhancement" -> bceSql
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    builders.map { case (name, b) =>
      name -> ((s: SparkSession, dir: String) => {
        Tables.register(s, dir)
        s.sql(b(SparkD))
      })
    } ++ Map(
      "percentage_contrast_stretch" -> (pctSpark _),
      "gaussian_contrast_stretch" -> (gaussSpark _)
    )

  def oracles: Map[String, String] =
    builders.map { case (n, b) => n -> b(DuckD) } ++ Map(
      "percentage_contrast_stretch" -> pctDuck,
      "gaussian_contrast_stretch" -> gaussDuck
    )
}
