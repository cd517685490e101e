package graft.ops

import graft.core.{Gates, Lit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DInfPointer (hydro_analysis/dinf_pointer.rs:194-300, Tarboton 1997):
  * per cell the steepest of 8 triangular facets, flow direction af·r +
  * ac·π/2 with r clamped to [0, atan(1)], emitted as the reference's
  * compass transform 360 − deg(dir) + 90 (wrapped), or −1 where no facet
  * descends. Exact transcription of the branch structure including the
  * s1 = 0 → 0.00001 replacement and the s-sign flips; facet ties keep the
  * LAST facet (the reference's `>=` update), cloned via (s, i) argmax.
  * Facets with a missing neighbour are skipped (border cells), matching
  * the reference's nodata guard. Degrees rounded to 6 (libm ulp rule).
  */
object Dinf extends Gates {

  private val sqrt2 = Lit.d(math.sqrt(2.0))
  private val atan1 = "0.7853981633974483e0" // atan(1) = π/4 as a literal
  private val halfPi = Lit.d(math.Pi / 2.0)

  // facet i → e1 (dx, dyNorth), e2 (dx, dyNorth), ac, af   [row → iy flip]
  private val e1c = Seq(1, 0, 0, -1, -1, 0, 0, 1)
  private val e1r = Seq(0, -1, -1, 0, 0, 1, 1, 0)
  private val e2c = Seq(1, 1, -1, -1, -1, -1, 1, 1)
  private val e2r = Seq(-1, -1, -1, -1, 1, 1, 1, 1)
  private val acV = Seq(0, 1, 1, 2, 2, 3, 3, 4)
  private val afV = Seq(1, -1, 1, -1, 1, -1, 1, -1)

  private def facetValues: String =
    (0 until 8).map(i =>
      s"($i, ${e1c(i)}, ${-e1r(i)}, ${e2c(i)}, ${-e2r(i)}, ${acV(i)}.0e0, ${afV(i)}.0e0)")
      .mkString(", ")

  // per-facet s and r as separate CASE pipelines (no struct syntax — the
  // expressions must parse in BOTH dialects), reference op order
  private val s1E = "CASE WHEN (e0 - e1) = 0.0e0 THEN 0.00001e0 ELSE (e0 - e1) END"
  private val s2E = "(e1 - e2)"
  private val rRaw = s"atan(($s2E) / ($s1E))"
  private val sFlip =
    s"(CASE WHEN (($s1E) < 0.0e0 AND ($s2E) < 0.0e0) OR (($s1E) < 0.0e0 AND ($s2E) = 0.0e0) " +
      s"THEN -sqrt(($s1E) * ($s1E) + ($s2E) * ($s2E)) " +
      s"ELSE sqrt(($s1E) * ($s1E) + ($s2E) * ($s2E)) END)"
  private val sE =
    s"CASE WHEN e0 > e1 AND e0 > e2 THEN " +
      s"(CASE WHEN ($rRaw) < 0.0e0 THEN ($s1E) " +
      s"WHEN ($rRaw) > $atan1 THEN (e0 - e2) / $sqrt2 ELSE $sFlip END) " +
      s"WHEN e0 > e1 THEN (e0 - e1) " +
      s"WHEN e0 > e2 THEN (e0 - e2) / $sqrt2 ELSE NULL END"
  private val rE =
    s"CASE WHEN e0 > e1 AND e0 > e2 THEN " +
      s"(CASE WHEN ($rRaw) < 0.0e0 THEN 0.0e0 " +
      s"WHEN ($rRaw) > $atan1 THEN $atan1 ELSE ($rRaw) END) " +
      s"WHEN e0 > e1 THEN 0.0e0 WHEN e0 > e2 THEN $atan1 ELSE NULL END"

  /** memoized (ix, iy, dinf_dir) frame shared with the accumulation. */
  private[ops] def dirFrame(s: SparkSession, dir: String): DataFrame =
    Dem.memo(s, dir, "dinf_dir") { dirDF(s, dir) }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dinf_pointer" -> ((s, dir) => dirFrame(s, dir).orderBy("ix", "iy"))
  )

  private def dirDF(s: SparkSession, dir: String): DataFrame = {
    {
      val sp = s
      import sp.implicits._
      val facets = (0 until 8).map(i =>
        (i, e1c(i), -e1r(i), e2c(i), -e2r(i), acV(i).toDouble, afV(i).toDouble))
        .toDF("i", "d1x", "d1y", "d2x", "d2y", "ac", "af")
      val g = Dem.dem(s, dir).selectExpr("ix", "iy", "cast(z as double) AS z")
      val cand = g.crossJoin(broadcast(facets))
        .selectExpr("ix", "iy", "i", "ac", "af", "z AS e0",
          "ix + d1x AS x1", "iy + d1y AS y1", "ix + d2x AS x2", "iy + d2y AS y2")
        .join(g.selectExpr("ix AS x1", "iy AS y1", "z AS e1"), Seq("x1", "y1"))
        .join(g.selectExpr("ix AS x2", "iy AS y2", "z AS e2"), Seq("x2", "y2"))
        .selectExpr("ix", "iy", "i", "ac", "af", s"$sE AS s", s"$rE AS r")
        .filter(expr("s IS NOT NULL AND s <> 0.00001e0"))
        .selectExpr("ix", "iy", "s", s"af * r + ac * $halfPi AS dir0", "i")
      val best = cand.groupBy("ix", "iy")
        .agg(expr("max_by(named_struct('s', s, 'dir0', dir0), named_struct('s', s, 'i', i))").as("b"))
        .selectExpr("ix", "iy", "b.s AS s", "b.dir0 AS dir0")
      Dem.dem(s, dir).select("ix", "iy").join(best, Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy",
          "CASE WHEN s IS NULL OR s <= 0.0e0 THEN -1.0e0 ELSE " +
            "round(CASE WHEN 360.0e0 - degrees(dir0) + 90.0e0 > 360.0e0 " +
            "THEN 360.0e0 - degrees(dir0) + 90.0e0 - 360.0e0 " +
            "ELSE 360.0e0 - degrees(dir0) + 90.0e0 END, 6) END AS dinf_dir")
    }
  }

  /** facets…bs CTE chain (no demCtes prefix, no final SELECT) — shared
    * verbatim with Dinf2's routing twins instead of being re-extracted by
    * substring surgery on the assembled oracle (ADVICE r4 pattern). */
  private[ops] def facetChain: String =
    s"facets AS (SELECT * FROM (VALUES $facetValues) f(i, d1x, d1y, d2x, d2y, ac, af)), " +
      "zg AS (SELECT ix, iy, cast(z as double) AS z FROM dem), " +
      "cd AS (SELECT c.ix, c.iy, f.i, f.ac, f.af, c.z AS e0, a.z AS e1, b.z AS e2 " +
      "FROM zg c JOIN facets f ON true " +
      "JOIN zg a ON a.ix = c.ix + f.d1x AND a.iy = c.iy + f.d1y " +
      "JOIN zg b ON b.ix = c.ix + f.d2x AND b.iy = c.iy + f.d2y), " +
      s"fc AS (SELECT ix, iy, i, ac, af, $sE AS s, $rE AS r FROM cd), " +
      "fs AS (SELECT ix, iy, i, s, " +
      s"af * r + ac * $halfPi AS dir0 FROM fc WHERE s IS NOT NULL AND s <> 0.00001e0), " +
      "bs AS (SELECT ix, iy, s, dir0 FROM (SELECT ix, iy, s, dir0, " +
      "row_number() OVER (PARTITION BY ix, iy ORDER BY s DESC, i DESC) AS rn FROM fs) WHERE rn = 1)"

  /** dinf_dir projection over a `bs`-joined dem row (nullable bs side). */
  private[ops] def dinfDirE: String =
    "CASE WHEN bs.s IS NULL OR bs.s <= 0.0e0 THEN -1.0e0 ELSE " +
      "round(CASE WHEN 360.0e0 - degrees(bs.dir0) + 90.0e0 > 360.0e0 " +
      "THEN 360.0e0 - degrees(bs.dir0) + 90.0e0 - 360.0e0 " +
      "ELSE 360.0e0 - degrees(bs.dir0) + 90.0e0 END, 6) END"

  def oracles: Map[String, String] = Map(
    "dinf_pointer" -> (s"WITH RECURSIVE ${Dem.duckDemCtes}, $facetChain " +
      s"SELECT d.ix, d.iy, $dinfDirE AS dinf_dir " +
      "FROM dem d LEFT JOIN bs ON bs.ix = d.ix AND bs.iy = d.iy ORDER BY 1, 2")
  )
}
