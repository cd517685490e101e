package graft.ops

import graft.core.{Dialect, DuckD, Gates, Geo, SparkD}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Colour-space ops over the en/zh/es density layers as R/G/B bands
  * (common cells only):
  *
  *   - RgbToIhs (image_analysis/rgb_to_ihs.rs:355-399): channels
  *     normalized by the overall min/range across the three bands and
  *     clamped to [0,1]; i = r+g+b; hue/saturation by the reference's
  *     min-channel branch ORDER (b first, then r, else g — replicated so
  *     ties resolve identically).
  *   - IhsToRgb (ihs_to_rgb.rs:345-357): the inverse closed form, chained
  *     on the forward transform (round-trips the normalized channels).
  *   - CreateColourComposite (create_colour_composite.rs; the packing the
  *     whole image_analysis family uses, e.g.
  *     balance_contrast_enhancement.rs:384-386): value =
  *     (255<<24)|(b<<16)|(g<<8)|r with channels clamped to 0..255.
  *   - SplitColourComposite (split_colour_composite.rs): the unpack.
  *
  * All pure per-cell expressions over one 3-way layer join — exact twin
  * parity, no rounding.
  */
object Color extends Gates {

  private def wide(d: Dialect): String =
    s"l AS (SELECT lang, ${Geo.ix(d, "lon", 5)} AS ix, ${Geo.iy(d, "lat", 5)} AS iy, " +
      "count(*) AS v FROM pages WHERE lang IN ('en', 'zh', 'es') GROUP BY 1, 2, 3), " +
      "w AS (SELECT ix, iy, " +
      "max(CASE WHEN lang = 'en' THEN v END) AS r0, " +
      "max(CASE WHEN lang = 'zh' THEN v END) AS g0, " +
      "max(CASE WHEN lang = 'es' THEN v END) AS b0 FROM l GROUP BY 1, 2), " +
      "c AS (SELECT ix, iy, r0, g0, b0 FROM w WHERE r0 IS NOT NULL AND g0 IS NOT NULL AND b0 IS NOT NULL)"

  // overall min/range across the three bands (the reference reads them
  // from the three rasters' statistics)
  private val ext = "ext AS (SELECT least(min(r0), min(g0), min(b0)) AS omin, " +
    "greatest(max(r0), max(g0), max(b0)) AS omax FROM c)"

  private def norm(cCol: String) =
    s"least(greatest(cast($cCol - omin as double) / cast(omax - omin as double), 0.0e0), 1.0e0)"

  /** normalized channels + i/h/s CTE chain (shared text both engines).
    * Achromatic cells (r = g = b ⟺ i = 3·min) take h = s = 0: the
    * reference only guards the i == 3 case and lets other grey cells
    * divide 0/0 (NaN) — the explicit guard keeps both engines identical
    * and ANSI-safe. */
  private def ihsChain: String = {
    val nrm = s"n AS (SELECT ix, iy, ${norm("r0")} AS r, ${norm("g0")} AS g, " +
      s"${norm("b0")} AS b FROM c, ext)"
    val m = "m AS (SELECT *, least(r, least(g, b)) AS mn, r + g + b AS i FROM n)"
    val h = "hh AS (SELECT *, CASE WHEN i = 3.0e0 * mn THEN 0.0e0 " +
      "WHEN mn = b THEN (g - b) / (i - 3.0e0 * b) " +
      "WHEN mn = r THEN (b - r) / (i - 3.0e0 * r) + 1.0e0 " +
      "ELSE (r - g) / (i - 3.0e0 * g) + 2.0e0 END AS h FROM m)"
    val s0 = "ss AS (SELECT *, CASE WHEN i = 0.0e0 THEN 0.0e0 " +
      "WHEN h <= 1.0e0 THEN (i - 3.0e0 * b) / i " +
      "WHEN h <= 2.0e0 THEN (i - 3.0e0 * r) / i " +
      "ELSE (i - 3.0e0 * g) / i END AS s FROM hh)"
    s"$nrm, $m, $h, $s0"
  }

  private def rgbToIhsSql(d: Dialect): String =
    s"${Geo.pagesWith(d)}, ${wide(d)}, $ext, $ihsChain " +
      "SELECT ix, iy, i, h, s FROM ss ORDER BY ix, iy"

  private def ihsToRgbSql(d: Dialect): String = {
    val back = "back AS (SELECT ix, iy, " +
      "CASE WHEN h <= 1.0e0 THEN i * (1.0e0 + 2.0e0 * s - 3.0e0 * s * h) / 3.0e0 " +
      "WHEN h <= 2.0e0 THEN i * (1.0e0 - s) / 3.0e0 " +
      "ELSE i * (1.0e0 - s + 3.0e0 * s * (h - 2.0e0)) / 3.0e0 END AS r, " +
      "CASE WHEN h <= 1.0e0 THEN i * (1.0e0 - s + 3.0e0 * s * h) / 3.0e0 " +
      "WHEN h <= 2.0e0 THEN i * (1.0e0 + 2.0e0 * s - 3.0e0 * s * (h - 1.0e0)) / 3.0e0 " +
      "ELSE i * (1.0e0 - s) / 3.0e0 END AS g, " +
      "CASE WHEN h <= 1.0e0 THEN i * (1.0e0 - s) / 3.0e0 " +
      "WHEN h <= 2.0e0 THEN i * (1.0e0 - s + 3.0e0 * s * (h - 1.0e0)) / 3.0e0 " +
      "ELSE i * (1.0e0 + 2.0e0 * s - 3.0e0 * s * (h - 2.0e0)) / 3.0e0 END AS b FROM ss)"
    s"${Geo.pagesWith(d)}, ${wide(d)}, $ext, $ihsChain, $back " +
      "SELECT ix, iy, r, g, b FROM back ORDER BY ix, iy"
  }

  private def clamp255(cCol: String) = s"least($cCol, 255)"

  private def compositeSql(d: Dialect): String =
    s"${Geo.pagesWith(d)}, ${wide(d)} " +
      "SELECT ix, iy, cast(4278190080 + " + // 255<<24 as a bigint-safe literal
      s"${clamp255("b0")} * 65536 + ${clamp255("g0")} * 256 + ${clamp255("r0")} as bigint) AS composite " +
      "FROM c ORDER BY ix, iy"

  private def splitSql(d: Dialect): String = {
    val comp = s"cast(4278190080 + ${clamp255("b0")} * 65536 + " +
      s"${clamp255("g0")} * 256 + ${clamp255("r0")} as bigint)"
    s"${Geo.pagesWith(d)}, ${wide(d)}, cc AS (SELECT ix, iy, $comp AS composite FROM c) " +
      "SELECT ix, iy, composite % 256 AS r, " +
      s"${d.idiv("composite", "256")} % 256 AS g, " +
      s"${d.idiv("composite", "65536")} % 256 AS b FROM cc ORDER BY ix, iy"
  }

  private val builders: Map[String, Dialect => String] = Map(
    "rgb_to_ihs" -> rgbToIhsSql,
    "ihs_to_rgb" -> ihsToRgbSql,
    "create_colour_composite" -> compositeSql,
    "split_colour_composite" -> splitSql
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    builders.map { case (name, b) =>
      name -> ((s: SparkSession, dir: String) => {
        Tables.register(s, dir)
        s.sql(b(SparkD))
      })
    }

  def oracles: Map[String, String] = builders.map { case (n, b) => n -> b(DuckD) }
}
