package graft.ops

import graft.core.Gates
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Directional-scan terrain family over the DEM frame — the plan shape
  * VERDICT r3 called the hardest missing one (per-azimuth scans):
  *
  *   - HorizonAngle (terrain_analysis/horizon_angle.rs:228-300): max
  *     upwind slope angle. Azimuth fixed at 90° (due east), where the
  *     reference's ray walker degenerates to exact same-row cell scans
  *     (line_slope = 0 ⇒ vertical intersections at integer x, no
  *     interpolation) — so the row self-join below computes the reference
  *     value exactly. No east cells ⇒ the reference's −9999999 sentinel
  *     slope (≈ −90°), cloned.
  *   - FetchAnalysis (fetch_analysis.rs:300-375): distance east to the
  *     first obstacle with z ≥ z₀ + dist·0.05; none ⇒ the negative
  *     distance to the grid edge (reference convention).
  *   - Viewshed (viewshed.rs semantics, independent re-derivation):
  *     line-of-sight from the fixed observer (24, 24) at z+100: a target
  *     is visible iff its elevation angle ≥ every intermediate ray
  *     point's angle, intermediate z linearly interpolated between the
  *     two cells adjacent to the ray (the reference's two-cell
  *     interpolation), stepping the dominant axis one cell at a time.
  *
  * Plan shape: per-row (or per-ray) candidates are bounded by the grid
  * span — O(span) per cell, an equi-join on the row/ray key, never a
  * cartesian. At production scale the same computation maps to a
  * repartition-by-row + sorted segmented scan (PLANS.md note); the
  * equi-join form is the declarative equivalent Catalyst can shuffle by
  * row key.
  */
object Horizon extends Gates {

  import Dem.G

  private val obsX = 24L; private val obsY = 24L
  private val heightInc = "0.05e0"
  private val stationH = 100L

  // east-scan slope between same-row cells c (origin) and t (target)
  private val eSlope = "cast(tz - z as double) / cast(tx - ix as double)"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "horizon_angle" -> ((s, dir) => {
      val g = Dem.dem(s, dir)
      val east = g.join(
          g.selectExpr("ix AS tx", "iy", "z AS tz"), Seq("iy"))
        .filter(col("tx") > col("ix"))
        .selectExpr("ix", "iy", s"$eSlope AS sl")
        .groupBy("ix", "iy").agg(max("sl").as("mx"))
      g.join(east, Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy",
          "round(degrees(atan(coalesce(mx, -9999999.0e0))), 6) AS horizon_deg")
    }),

    "fetch_analysis" -> ((s, dir) => {
      val g = Dem.dem(s, dir)
      val obst = g.join(
          g.selectExpr("ix AS tx", "iy", "z AS tz"), Seq("iy"))
        .filter(col("tx") > col("ix"))
        .filter(expr(s"cast(tz as double) >= cast(z as double) + cast(tx - ix as double) * $heightInc"))
        .groupBy("ix", "iy").agg(min(expr("tx - ix")).as("fd"))
      g.join(obst, Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy",
          s"CASE WHEN fd IS NOT NULL THEN cast(fd as double) " +
            s"ELSE -(cast(${G - 1} - ix as double)) END AS fetch_dist")
    }),

    "viewshed" -> ((s, dir) => {
      val g = Dem.dem(s, dir)
      val zo = g.filter(expr(s"ix = $obsX AND iy = $obsY"))
        .selectExpr(s"cast(z + $stationH as double) AS zo")
      val t = g.filter(expr(s"NOT (ix = $obsX AND iy = $obsY)"))
        .crossJoin(broadcast(zo))
        .selectExpr("ix", "iy", "z", "zo",
          s"ix - $obsX AS dx", s"iy - $obsY AS dy",
          s"greatest(abs(ix - $obsX), abs(iy - $obsY)) AS n")
      val ks = t.filter(col("n") >= 2)
        .withColumn("k", explode(expr("sequence(1, cast(n - 1 as int))")))
        .selectExpr("ix", "iy", "zo", "k", "n", "dx", "dy",
          "abs(dx) >= abs(dy) AS domx")
        .selectExpr("ix", "iy", "zo", "k", "n", "domx",
          s"CASE WHEN domx THEN $obsX + k * (CASE WHEN dx > 0 THEN 1 ELSE -1 END) " +
            s"ELSE cast(floor($obsX + cast(k * dx as double) / cast(n as double)) as bigint) END AS jx",
          s"CASE WHEN domx THEN cast(floor($obsY + cast(k * dy as double) / cast(n as double)) as bigint) " +
            s"ELSE $obsY + k * (CASE WHEN dy > 0 THEN 1 ELSE -1 END) END AS jy",
          s"CASE WHEN domx THEN ($obsY + cast(k * dy as double) / cast(n as double)) " +
            s"ELSE ($obsX + cast(k * dx as double) / cast(n as double)) END AS minorc")
        // frac along the minor axis; z1 at (jx, jy), z2 one step up it
        .selectExpr("ix", "iy", "zo", "k", "n", "domx", "jx", "jy",
          "minorc - cast(CASE WHEN domx THEN jy ELSE jx END as double) AS frac")
      val withZ1 = ks
        .join(g.selectExpr("ix AS jx", "iy AS jy", "z AS z1"), Seq("jx", "jy"))
        .withColumn("j2x", expr("CASE WHEN domx THEN jx ELSE jx + 1 END"))
        .withColumn("j2y", expr("CASE WHEN domx THEN jy + 1 ELSE jy END"))
        .join(g.selectExpr("ix AS j2x", "iy AS j2y", "z AS z2"), Seq("j2x", "j2y"), "left")
      val maxAng = withZ1.selectExpr("ix", "iy", "zo", "k", "n",
          "cast(z1 as double) + frac * (cast(coalesce(z2, z1) as double) - cast(z1 as double)) AS zk",
          s"sqrt(cast(k * k as double) * (cast((ix - $obsX) * (ix - $obsX) + (iy - $obsY) * (iy - $obsY) as double)) / cast(n * n as double)) AS dk")
        .selectExpr("ix", "iy", "(zk - zo) / dk AS ang")
        .groupBy("ix", "iy").agg(max("ang").as("maxang"))
      t.join(maxAng, Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy",
          "CASE WHEN maxang IS NULL OR " +
            s"(cast(z as double) - zo) / sqrt(cast(dx * dx + dy * dy as double)) >= maxang " +
            "THEN 1 ELSE 0 END AS visible")
    })
  )

  // ---- DuckDB twins ----------------------------------------------------

  private def Wd(extra: String*): String =
    (Seq(Dem.duckDemCtes) ++ extra).mkString("WITH RECURSIVE ", ", ", " ")

  def oracles: Map[String, String] = Map(

    "horizon_angle" -> (Wd(
      "es AS (SELECT c.ix, c.iy, max(cast(t.z - c.z as double) / cast(t.ix - c.ix as double)) AS mx " +
        "FROM dem c JOIN dem t ON t.iy = c.iy AND t.ix > c.ix GROUP BY 1, 2)") +
      "SELECT d.ix, d.iy, round(degrees(atan(coalesce(es.mx, -9999999.0e0))), 6) AS horizon_deg " +
      "FROM dem d LEFT JOIN es ON es.ix = d.ix AND es.iy = d.iy ORDER BY 1, 2"),

    "fetch_analysis" -> (Wd(
      "ob AS (SELECT c.ix, c.iy, min(t.ix - c.ix) AS fd FROM dem c " +
        "JOIN dem t ON t.iy = c.iy AND t.ix > c.ix " +
        s"AND cast(t.z as double) >= cast(c.z as double) + cast(t.ix - c.ix as double) * $heightInc " +
        "GROUP BY 1, 2)") +
      "SELECT d.ix, d.iy, CASE WHEN ob.fd IS NOT NULL THEN cast(ob.fd as double) " +
      s"ELSE -(cast(${G - 1} - d.ix as double)) END AS fetch_dist " +
      "FROM dem d LEFT JOIN ob ON ob.ix = d.ix AND ob.iy = d.iy ORDER BY 1, 2"),

    "viewshed" -> (Wd(
      s"zo AS (SELECT cast(z + $stationH as double) AS zo FROM dem WHERE ix = $obsX AND iy = $obsY)",
      s"t AS (SELECT d.ix, d.iy, d.z, zo.zo, d.ix - $obsX AS dx, d.iy - $obsY AS dy, " +
        s"greatest(abs(d.ix - $obsX), abs(d.iy - $obsY)) AS n FROM dem d, zo " +
        s"WHERE NOT (d.ix = $obsX AND d.iy = $obsY))",
      "ks AS (SELECT t.ix, t.iy, t.zo, t.n, t.dx, t.dy, u.k, abs(t.dx) >= abs(t.dy) AS domx " +
        "FROM t, unnest(range(1, t.n)) AS u(k) WHERE t.n >= 2)",
      s"kp AS (SELECT ix, iy, zo, n, k, domx, " +
        s"CASE WHEN domx THEN $obsX + k * (CASE WHEN dx > 0 THEN 1 ELSE -1 END) " +
        s"ELSE cast(floor($obsX + cast(k * dx as double) / cast(n as double)) as bigint) END AS jx, " +
        s"CASE WHEN domx THEN cast(floor($obsY + cast(k * dy as double) / cast(n as double)) as bigint) " +
        s"ELSE $obsY + k * (CASE WHEN dy > 0 THEN 1 ELSE -1 END) END AS jy, " +
        s"CASE WHEN domx THEN ($obsY + cast(k * dy as double) / cast(n as double)) " +
        s"ELSE ($obsX + cast(k * dx as double) / cast(n as double)) END AS minorc, " +
        "dx, dy FROM ks)",
      "kz AS (SELECT kp.ix, kp.iy, kp.zo, kp.k, kp.n, kp.dx, kp.dy, " +
        "kp.minorc - cast(CASE WHEN kp.domx THEN kp.jy ELSE kp.jx END as double) AS frac, " +
        "z1.z AS z1, z2.z AS z2 FROM kp " +
        "JOIN dem z1 ON z1.ix = kp.jx AND z1.iy = kp.jy " +
        "LEFT JOIN dem z2 ON z2.ix = (CASE WHEN kp.domx THEN kp.jx ELSE kp.jx + 1 END) " +
        "AND z2.iy = (CASE WHEN kp.domx THEN kp.jy + 1 ELSE kp.jy END))",
      "ma AS (SELECT ix, iy, max((cast(z1 as double) + frac * (cast(coalesce(z2, z1) as double) " +
        "- cast(z1 as double)) - zo) / sqrt(cast(k * k as double) * " +
        "cast(dx * dx + dy * dy as double) / cast(n * n as double))) AS maxang " +
        "FROM kz GROUP BY 1, 2)") +
      "SELECT t.ix, t.iy, CASE WHEN ma.maxang IS NULL OR " +
      "(cast(t.z as double) - t.zo) / sqrt(cast(t.dx * t.dx + t.dy * t.dy as double)) >= ma.maxang " +
      "THEN 1 ELSE 0 END AS visible " +
      "FROM t LEFT JOIN ma ON ma.ix = t.ix AND ma.iy = t.iy ORDER BY 1, 2")
  )
}
