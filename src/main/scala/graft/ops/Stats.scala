package graft.ops

import graft.core.{Dialect, DuckD, Gates, Geo, SparkD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Statistics tail (math_stat_analysis family): KappaIndex, Anova,
  * PrincipalComponentAnalysis (2-var closed form), TrendSurface (degree-1
  * Cramer solve), ImageRegression, RootMeanSquareError,
  * RescaleValueRange, and a binned K-S uniformity test.
  *
  * Discipline: every statistic reduces to EXACT integer partial sums
  * (distributed hash aggregate, map-side partials) followed by ONE
  * closed-form double expression written identically for both engines —
  * the same exact-int Pearson pattern the round-1 correlation queries use.
  * Group combination is over a FIXED literal group list (en/zh/es), so no
  * order-dependent double summation exists anywhere.
  *
  * References: kappa_index.rs, anova.rs, principal_component_analysis.rs
  * :270-290 (covariance from sums), trend_surface.rs (normal equations),
  * image_regression.rs, ks_test_for_normality.rs (statistic shape; our
  * variant tests uniformity of the hash-random field on the 10k bin edges
  * so the arithmetic stays exact-int + one division).
  */
object Stats extends Gates {

  // classification A: n_chars reclass (5 classes); B: md5-derived class.
  private val classA =
    "CASE WHEN n_chars < 100 THEN 1 WHEN n_chars < 200 THEN 2 " +
      "WHEN n_chars < 300 THEN 3 WHEN n_chars < 400 THEN 4 ELSE 5 END"
  private def classB(d: Dialect) = s"((${d.md5Bits("text", 25)} % 5) + 1)"

  /** KappaIndex (kappa_index.rs): κ = (p_o − p_e)/(1 − p_e) from the
    * contingency table of two classifications — diag sum, row/col totals,
    * all bigint; two tiny joined aggregates. */
  private def kappaSql(d: Dialect): String =
    s"WITH t AS (SELECT $classA AS ca, ${classB(d)} AS cb FROM documents), " +
      "r AS (SELECT ca, count(*) AS rc FROM t GROUP BY ca), " +
      "c AS (SELECT cb, count(*) AS cc FROM t GROUP BY cb), " +
      "pe AS (SELECT cast(sum(rc * cc) as bigint) AS pes FROM r JOIN c ON ca = cb), " +
      "ag AS (SELECT count(*) AS n, cast(sum(CASE WHEN ca = cb THEN 1 ELSE 0 END) as bigint) AS d FROM t) " +
      "SELECT n, " +
      "cast(d as double) / cast(n as double) AS po, " +
      "cast(pes as double) / (cast(n as double) * cast(n as double)) AS pe_v, " +
      "(cast(d as double) / cast(n as double) - cast(pes as double) / (cast(n as double) * cast(n as double))) / " +
      "(1.0e0 - cast(pes as double) / (cast(n as double) * cast(n as double))) AS kappa " +
      "FROM ag, pe"

  /** One-way Anova of n_chars by lang over the fixed (en, zh, es) groups:
    * SSB/SSW/F from per-group exact sums combined in literal order. */
  private def anovaSql(d: Dialect): String = {
    def g(l: String, c: String) = s"cast(sum(CASE WHEN lang = '$l' THEN $c ELSE 0 END) as bigint)"
    def n(l: String) = s"cast(sum(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) as bigint)"
    val sq = Seq("en", "zh", "es").map { l =>
      s"cast(s_$l as double) * cast(s_$l as double) / cast(n_$l as double)"
    }.mkString(" + ")
    "WITH ag AS (SELECT " +
      Seq("en", "zh", "es").map { l =>
        s"${g(l, "n_chars")} AS s_$l, ${g(l, "n_chars * n_chars")} AS q_$l, ${n(l)} AS n_$l"
      }.mkString(", ") +
      " FROM documents WHERE lang IN ('en', 'zh', 'es')), " +
      "m AS (SELECT *, s_en + s_zh + s_es AS s, q_en + q_zh + q_es AS q, " +
      "n_en + n_zh + n_es AS n FROM ag) " +
      s"SELECT n, ($sq) - cast(s as double) * cast(s as double) / cast(n as double) AS ssb, " +
      s"cast(q as double) - ($sq) AS ssw, " +
      s"((($sq) - cast(s as double) * cast(s as double) / cast(n as double)) / 2.0e0) / " +
      s"((cast(q as double) - ($sq)) / (cast(n as double) - 3.0e0)) AS f_stat " +
      "FROM m"
  }

  /** 2-variable PCA over (n_chars, whitespace token count): sample
    * covariance matrix from exact sums, eigenvalues in closed form
    * (principal_component_analysis.rs:270-290 builds the same matrix). */
  private def pcaSql(d: Dialect): String = {
    val a = "(cast(sxx as double) - cast(sx as double) * cast(sx as double) / cast(n as double)) / (cast(n as double) - 1.0e0)"
    val c = "(cast(syy as double) - cast(sy as double) * cast(sy as double) / cast(n as double)) / (cast(n as double) - 1.0e0)"
    val b = "(cast(sxy as double) - cast(sx as double) * cast(sy as double) / cast(n as double)) / (cast(n as double) - 1.0e0)"
    val disc = s"sqrt((($a) - ($c)) * (($a) - ($c)) + 4.0e0 * ($b) * ($b))"
    s"WITH t AS (SELECT n_chars AS x, ${tokCount(d)} AS y FROM documents), " +
      "ag AS (SELECT count(*) AS n, cast(sum(x) as bigint) AS sx, cast(sum(y) as bigint) AS sy, " +
      "cast(sum(x * x) as bigint) AS sxx, cast(sum(y * y) as bigint) AS syy, " +
      "cast(sum(x * y) as bigint) AS sxy FROM t) " +
      s"SELECT n, (($a) + ($c) + $disc) / 2.0e0 AS lambda1, " +
      s"(($a) + ($c) - $disc) / 2.0e0 AS lambda2, " +
      s"((($a) + ($c) + $disc) / 2.0e0) / (($a) + ($c)) AS explained1 " +
      "FROM ag"
  }

  /** Multi-band PCA (principal_component_analysis.rs:270-290 generalized
    * to N = 3 bands: en/zh/es densities on their common cells): the 3×3
    * sample covariance matrix from EXACT integer sums, eigenvalues by the
    * closed-form trigonometric method for symmetric 3×3 matrices (Smith
    * 1961 — the textbook replacement for the reference's iterative Jacobi
    * at fixed N), PC1 loadings from the (A−λ₂I)(A−λ₃I) column product,
    * explained-variance shares. One distributed hash aggregate; the
    * eigen-solve is a 1-row expression. acos/cos are engine-evaluated →
    * outputs rounded 6dp. */
  private def pcaNSql(d: Dialect): String = {
    val layers = s"l AS (SELECT lang, ${Geo.ix(d, "lon", 5)} AS ix, ${Geo.iy(d, "lat", 5)} AS iy, " +
      "count(*) AS v FROM pages WHERE lang IN ('en', 'zh', 'es') GROUP BY 1, 2, 3)"
    val wide = "w AS (SELECT ix, iy, " +
      "max(CASE WHEN lang = 'en' THEN v END) AS x1, " +
      "max(CASE WHEN lang = 'zh' THEN v END) AS x2, " +
      "max(CASE WHEN lang = 'es' THEN v END) AS x3 FROM l GROUP BY 1, 2), " +
      "c AS (SELECT x1, x2, x3 FROM w WHERE x1 IS NOT NULL AND x2 IS NOT NULL AND x3 IS NOT NULL)"
    val sums = "ag AS (SELECT count(*) AS n, " +
      Seq(1, 2, 3).map(i => s"cast(sum(x$i) as bigint) AS s$i").mkString(", ") + ", " +
      (for (i <- 1 to 3; j <- i to 3)
        yield s"cast(sum(x$i * x$j) as bigint) AS q$i$j").mkString(", ") +
      " FROM c)"
    def cov(i: Int, j: Int) =
      s"((cast(q$i$j as double) - cast(s$i as double) * cast(s$j as double) / cast(n as double)) / (cast(n as double) - 1.0e0))"
    val covs = "cv AS (SELECT n, " +
      (for (i <- 1 to 3; j <- i to 3) yield s"${cov(i, j)} AS a$i$j").mkString(", ") +
      " FROM ag)"
    // Smith's closed form: q = tr/3, p = sqrt(p2/6), B = (A−qI)/p,
    // φ = acos(clamp(det(B)/2)) / 3, λ₁ = q+2p·cosφ, λ₃ = q+2p·cos(φ+2π/3)
    val eig1 = "e1 AS (SELECT *, (a11 + a22 + a33) / 3.0e0 AS qm, " +
      "a12 * a12 + a13 * a13 + a23 * a23 AS p1 FROM cv), " +
      "e2 AS (SELECT *, sqrt(((a11 - qm) * (a11 - qm) + (a22 - qm) * (a22 - qm) + " +
      "(a33 - qm) * (a33 - qm) + 2.0e0 * p1) / 6.0e0) AS pm FROM e1), " +
      "e3 AS (SELECT *, (a11 - qm) / pm AS b11, (a22 - qm) / pm AS b22, (a33 - qm) / pm AS b33, " +
      "a12 / pm AS b12, a13 / pm AS b13, a23 / pm AS b23 FROM e2), " +
      "e4 AS (SELECT *, (b11 * (b22 * b33 - b23 * b23) - b12 * (b12 * b33 - b23 * b13) + " +
      "b13 * (b12 * b23 - b22 * b13)) / 2.0e0 AS rdet FROM e3), " +
      s"e5 AS (SELECT *, acos(least(greatest(rdet, -1.0e0), 1.0e0)) / 3.0e0 AS phi FROM e4), " +
      "e6 AS (SELECT *, qm + 2.0e0 * pm * cos(phi) AS l1, " +
      s"qm + 2.0e0 * pm * cos(phi + ${graft.core.Lit.d(2.0 * math.Pi / 3.0)}) AS l3 FROM e5), " +
      "e7 AS (SELECT *, 3.0e0 * qm - l1 - l3 AS l2 FROM e6)"
    // PC1 loadings: column 1 of (A−λ₂I)(A−λ₃I), sign-normalized on v1
    val load = "ld AS (SELECT *, " +
      "(a11 - l2) * (a11 - l3) + a12 * a12 + a13 * a13 AS v1, " +
      "a12 * (a11 - l3) + (a22 - l2) * a12 + a23 * a13 AS v2, " +
      "a13 * (a11 - l3) + a23 * a12 + (a33 - l2) * a13 AS v3 FROM e7), " +
      "ln0 AS (SELECT *, sqrt(v1 * v1 + v2 * v2 + v3 * v3) AS vn, " +
      "CASE WHEN v1 < 0.0e0 THEN -1.0e0 ELSE 1.0e0 END AS sg FROM ld)"
    s"${Geo.pagesWith(d)}, $layers, $wide, $sums, $covs, $eig1, $load " +
      "SELECT n, round(l1, 6) AS lambda1, round(l2, 6) AS lambda2, round(l3, 6) AS lambda3, " +
      "round(l1 / (l1 + l2 + l3), 6) AS explained1, " +
      "round(sg * v1 / vn, 6) AS load1, round(sg * v2 / vn, 6) AS load2, " +
      "round(sg * v3 / vn, 6) AS load3 FROM ln0"
  }

  private def tokCount(d: Dialect): String = d match {
    case SparkD => "cast(size(split(text, '\\\\s+')) as bigint)"
    case DuckD  => s"cast(len(regexp_split_to_array(text, '\\s+')) as bigint)"
  }

  /** TrendSurface degree 1: z = a + b·ix + c·iy over the density grid,
    * solved by Cramer's rule on the 3×3 normal equations — determinants
    * stay in exact integer arithmetic until the final divisions. */
  private def trendSql(d: Dialect): String = {
    // integer sums
    val ag = "ag AS (SELECT count(*) AS n, cast(sum(ix) as bigint) AS sx, " +
      "cast(sum(iy) as bigint) AS sy, cast(sum(ix * ix) as bigint) AS sxx, " +
      "cast(sum(iy * iy) as bigint) AS syy, cast(sum(ix * iy) as bigint) AS sxy, " +
      "cast(sum(v) as bigint) AS sz, cast(sum(ix * v) as bigint) AS sxz, " +
      "cast(sum(iy * v) as bigint) AS syz FROM g)"
    val det = "(n * (sxx * syy - sxy * sxy) - sx * (sx * syy - sxy * sy) + sy * (sx * sxy - sxx * sy))"
    val detA = "(sz * (sxx * syy - sxy * sxy) - sx * (sxz * syy - sxy * syz) + sy * (sxz * sxy - sxx * syz))"
    val detB = "(n * (sxz * syy - sxy * syz) - sz * (sx * syy - sxy * sy) + sy * (sx * syz - sxz * sy))"
    val detC = "(n * (sxx * syz - sxz * sxy) - sx * (sx * syz - sxz * sy) + sz * (sx * sxy - sxx * sy))"
    s"${Geo.pagesWith(d)}, ${Geo.densityCte(d, 6)}, $ag " +
      s"SELECT n, cast($detA as double) / cast($det as double) AS coef_a, " +
      s"cast($detB as double) / cast($det as double) AS coef_b, " +
      s"cast($detC as double) / cast($det as double) AS coef_c FROM ag"
  }

  /** Binned K-S uniformity of the hash-random field: sup |ecdf − edge|
    * over the 10,000 bin edges — bin histogram + cumulative counts, exact
    * integers until one division per edge. */
  private def ksSql(d: Dialect): String = {
    val u = s"${d.md5Bits(d.toStr("ix * 1000000 + iy"), 1)} / 4294967296.0e0"
    s"${Geo.pagesWith(d)}, ${Geo.densityCte(d, 6)}, " +
      s"uu AS (SELECT cast(floor(($u) * 10000.0e0) as bigint) AS bin FROM g), " +
      "h AS (SELECT bin, count(*) AS c FROM uu GROUP BY bin), " +
      "cm AS (SELECT bin, sum(c) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM h), " +
      "tot AS (SELECT count(*) AS n FROM uu) " +
      "SELECT n, max(abs(cast(cum as double) / cast(n as double) - " +
      "cast(bin + 1 as double) / 10000.0e0)) AS d_stat FROM cm, tot GROUP BY n"
  }

  /** ImageRegression (image_regression.rs): OLS y = a + b·x between the en
    * and zh density layers on their common cells. */
  private def regrSql(d: Dialect): String = {
    val en = s"en AS (SELECT ${Geo.ix(d, "lon", 5)} AS ix, ${Geo.iy(d, "lat", 5)} AS iy, " +
      "count(*) AS x FROM pages WHERE lang = 'en' GROUP BY 1, 2)"
    val zh = s"zh AS (SELECT ${Geo.ix(d, "lon", 5)} AS ix, ${Geo.iy(d, "lat", 5)} AS iy, " +
      "count(*) AS y FROM pages WHERE lang = 'zh' GROUP BY 1, 2)"
    val b = "(cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) / " +
      "(cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double))"
    val r2num = "(cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double))"
    s"${Geo.pagesWith(d)}, $en, $zh, " +
      "j AS (SELECT x, y FROM en JOIN zh ON en.ix = zh.ix AND en.iy = zh.iy), " +
      "ag AS (SELECT count(*) AS n, cast(sum(x) as bigint) AS sx, cast(sum(y) as bigint) AS sy, " +
      "cast(sum(x * y) as bigint) AS sxy, cast(sum(x * x) as bigint) AS sxx, " +
      "cast(sum(y * y) as bigint) AS syy FROM j) " +
      s"SELECT n, (cast(sy as double) - ($b) * cast(sx as double)) / cast(n as double) AS intercept, " +
      s"$b AS slope, " +
      s"($r2num * $r2num) / " +
      "((cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double)) * " +
      "(cast(n as double) * cast(syy as double) - cast(sy as double) * cast(sy as double))) AS r2 " +
      "FROM ag"
  }

  /** RootMeanSquareError between the en and zh layers on common cells. */
  private def rmseSql(d: Dialect): String = {
    val en = s"en AS (SELECT ${Geo.ix(d, "lon", 5)} AS ix, ${Geo.iy(d, "lat", 5)} AS iy, " +
      "count(*) AS x FROM pages WHERE lang = 'en' GROUP BY 1, 2)"
    val zh = s"zh AS (SELECT ${Geo.ix(d, "lon", 5)} AS ix, ${Geo.iy(d, "lat", 5)} AS iy, " +
      "count(*) AS y FROM pages WHERE lang = 'zh' GROUP BY 1, 2)"
    s"${Geo.pagesWith(d)}, $en, $zh, " +
      "j AS (SELECT x, y FROM en JOIN zh ON en.ix = zh.ix AND en.iy = zh.iy) " +
      "SELECT count(*) AS n, sqrt(cast(sum((x - y) * (x - y)) as double) / cast(count(*) as double)) AS rmse " +
      "FROM j"
  }

  /** RescaleValueRange: linear rescale of the density values to [0, 100]. */
  private def rescaleSql(d: Dialect): String =
    s"${Geo.pagesWith(d)}, ${Geo.densityCte(d, 6)}, " +
      "ext AS (SELECT min(v) AS mn, max(v) AS mx FROM g) " +
      "SELECT ix, iy, cast(v - mn as double) * 100.0e0 / cast(mx - mn as double) AS v_scaled " +
      "FROM g, ext ORDER BY ix, iy"

  private val builders: Map[String, Dialect => String] = Map(
    "kappa_index" -> kappaSql,
    "anova" -> anovaSql,
    "pca_2var" -> pcaSql,
    "pca_nvar" -> pcaNSql,
    "trend_surface" -> trendSql,
    "ks_uniformity" -> ksSql,
    "image_regression" -> regrSql,
    "rmse" -> rmseSql,
    "rescale_value_range" -> rescaleSql
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    builders.map { case (name, b) =>
      name -> ((s: SparkSession, dir: String) => {
        Tables.register(s, dir)
        s.sql(b(SparkD))
      })
    } + ("ks_uniformity" -> ksSpark _)

  /** Spark side of the K-S statistic without any global-order window: the
    * distributed bin histogram is cumsum'd on the driver (≤10k rows, the
    * same bounded-LUT shape as Raster.cdfLut) and the sup norm folds over
    * it; only the histogram aggregate runs distributed. */
  private def ksSpark(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val u = s"${SparkD.md5Bits(SparkD.toStr("ix * 1000000 + iy"), 1)} / 4294967296.0e0"
    val hist = Raster.density(s, dir, 6)
      .selectExpr(s"cast(floor(($u) * 10000.0e0) as bigint) AS bin")
      .groupBy("bin").agg(count(lit(1)).as("c"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val n = hist.map(_._2).sum
    var cum = 0L
    var dStat = 0.0
    hist.foreach { case (b, c) =>
      cum += c
      val v = math.abs(cum.toDouble / n.toDouble - (b + 1).toDouble / 10000.0)
      if (v > dStat) dStat = v
    }
    Seq((n, dStat)).toDF("n", "d_stat")
  }

  def oracles: Map[String, String] = builders.map { case (n, b) => n -> b(DuckD) }
}
