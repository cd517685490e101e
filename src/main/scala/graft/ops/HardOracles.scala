package graft.ops

import graft.core.{DuckD, Gates, Geo, Zones}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gates whose DuckDB oracle had to be written as a structural twin of an
  * iterative or geometric kernel: kmeans (unrolled deterministic Lloyd),
  * minimum_convex_hull and minimum_bounding_circle (Jarvis march as a
  * recursive CTE) and clump (transitive-closure labelling).
  * Oracle-side cost is irrelevant (fixture scale); what matters is that
  * the SQL derives the SAME values independently of the Spark plans.
  *
  * Determinism notes: kmeans coordinates are integer-valued doubles, so
  * every centre is an exact double ratio and assignments/ties reproduce
  * bit-for-bit; the hull traversal (anchor = lowest-y/rightmost-x, CCW,
  * farthest-collinear) mirrors convex_hull.rs exactly so the vertex
  * SEQUENCE matches Graham's and only the order-free aggregations (area
  * sums, calipers min) need rounding. */
object HardOracles extends Gates {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // MinimumBoundingCircle (Welzl result via exhaustive hull
    // candidates; oracle = circleSql structural twin).
    "minimum_bounding_circle" -> ((s: SparkSession, dir: String) => {
      // lon/lat carried through the membership join (keep=) instead of
      // re-scanning pages and re-joining on doc_id — same rows, one
      // scan and one join fewer (r06 optimization round).
      val pts = PipJoin.zoneMembership(s, Tables.pages(s, dir),
          keep = Seq("lon", "lat"))
        .select(col("fid"), col("lon").as("x"), col("lat").as("y"))
      Hull.featureCircles(s, pts)
        .selectExpr("fid", "round(ccx, 6) AS ccx", "round(ccy, 6) AS ccy",
          "round(cr, 6) AS cr")
        .orderBy("fid")
    }),
    // Clump (CCL via label propagation); clumpSql is the transitive
    // closure, ClumpSpec pins the partition against a scalar flood fill.
    "clump" -> ((s: SparkSession, dir: String) =>
      Clump.clump(s, Raster.density(s, dir, 5)
          .filter(!expr(Raster.nodataCond))
          .withColumn("v", lit(1L)))
        .orderBy("ix", "iy")),
    // KMeansClustering — iterative; KMeansSpec also pins it against the
    // scalar Lloyd loop.
    "kmeans_clustering" -> ((s: SparkSession, dir: String) => {
      val cells = Raster.density(s, dir, 6)
        .selectExpr("ix * 1000000 + iy AS id",
          "cast(ix as double) AS x", "cast(iy as double) AS y")
      KMeans.kmeans(s, cells, k = 5).orderBy("id")
    }),
    "modified_kmeans_clustering" -> ((s: SparkSession, dir: String) => {
      val cells = Raster.density(s, dir, 6)
        .selectExpr("ix * 1000000 + iy AS id",
          "cast(ix as double) AS x", "cast(iy as double) AS y")
      KMeans.kmeansMerged(s, cells, k0 = 10, rounds = 10,
        mergeD2 = 64.0).orderBy("id")
    }),
    // MinimumConvexHull / MinimumBoundingBox per zone; HullSpec pins the
    // kernels to the reference vectors and the two-phase merge.
    "minimum_convex_hull" -> ((s: SparkSession, dir: String) => {
      // single-scan membership carry, as in minimum_bounding_circle
      val pts = PipJoin.zoneMembership(s, Tables.pages(s, dir),
          keep = Seq("lon", "lat"))
        .select(col("fid"), col("lon").as("x"), col("lat").as("y"))
      // rounded: the oracle recomputes the hull by Jarvis march (same
      // vertex sequence as the Graham clone) but its area/calipers
      // aggregations are order-free double sums.
      Hull.featureHulls(s, pts)
        .selectExpr("fid", "hull_n", "round(hull_area, 6) AS hull_area",
          "round(mbb_area, 4) AS mbb_area")
        .orderBy("fid")
    })
  )

  def oracles: Map[String, String] = Map(
    "minimum_bounding_circle" -> circleSql,
    "kmeans_clustering" -> kmeansSql(),
    "modified_kmeans_clustering" -> modifiedKmeansSql(),
    "minimum_convex_hull" -> hullSql,
    "clump" -> clumpSql)

  /** ModifiedKMeansClustering twin: kmeansSql's unrolled Lloyd rounds
    * plus a per-round merge CTE — a centre is dropped when a
    * lower-indexed surviving centre sits within √mergeD2 (the
    * deterministic re-expression of modified_k_means_clustering.rs's
    * greedy centre merging). */
  def modifiedKmeansSql(k0: Int = 10, rounds: Int = 10, mergeD2: Double = 64.0): String = {
    import graft.core.Lit.{d => L}
    val init = "k0c AS (SELECT row_number() OVER (ORDER BY id) - 1 AS c, x, y FROM " +
      s"(SELECT id, x, y FROM cells ORDER BY id LIMIT $k0) t)"
    val roundCtes = (1 to rounds).map { r =>
      val p = if (r == 1) "k0c" else s"k${r - 1}"
      s"d$r AS MATERIALIZED (SELECT id, p.x, p.y, c, (p.x - cx) * (p.x - cx) + (p.y - cy) * (p.y - cy) AS d2 " +
        s"FROM cells p, (SELECT c, x AS cx, y AS cy FROM $p) cc), " +
        s"m$r AS (SELECT id, min(d2) AS md FROM d$r GROUP BY id), " +
        s"a$r AS MATERIALIZED (SELECT d.id, d.x, d.y, min(c) AS c FROM d$r d JOIN m$r m ON d.id = m.id AND d.d2 = m.md GROUP BY 1, 2, 3), " +
        s"s$r AS (SELECT c, sum(x) / count(*) AS x, sum(y) / count(*) AS y FROM a$r GROUP BY c), " +
        s"c$r AS MATERIALIZED (SELECT p.c, coalesce(s.x, p.x) AS x, coalesce(s.y, p.y) AS y FROM $p p LEFT JOIN s$r s ON p.c = s.c), " +
        s"k$r AS MATERIALIZED (SELECT a.c, a.x, a.y FROM c$r a LEFT JOIN c$r b " +
        s"ON b.c < a.c AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) < ${L(mergeD2)} " +
        "WHERE b.c IS NULL)"
    }.mkString(", ")
    val fin =
      s"df AS MATERIALIZED (SELECT id, p.x, p.y, c, (p.x - cx) * (p.x - cx) + (p.y - cy) * (p.y - cy) AS d2 " +
        s"FROM cells p, (SELECT c, x AS cx, y AS cy FROM k$rounds) cc), " +
        "mf AS (SELECT id, min(d2) AS md FROM df GROUP BY id)"
    s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)}, " +
      "cells AS MATERIALIZED (SELECT ix * 1000000 + iy AS id, cast(ix as double) AS x, cast(iy as double) AS y FROM g), " +
      s"$init, $roundCtes, $fin " +
      "SELECT d.id, d.x, d.y, min(c) AS c FROM df d JOIN mf m ON d.id = m.id AND d.d2 = m.md " +
      "GROUP BY 1, 2, 3 ORDER BY d.id"
  }

  /** Unrolled Lloyd rounds twin of ops/KMeans.kmeans (k=5, 10 rounds,
    * first-k-by-id init, lowest-index ties, empty clusters keep their
    * previous centre). */
  def kmeansSql(k: Int = 5, rounds: Int = 10): String = {
    val init = "c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS c, x, y FROM " +
      s"(SELECT id, x, y FROM cells ORDER BY id LIMIT $k) t)"
    // every round CTE MATERIALIZED: each c_r is referenced twice by round
    // r+1, so plain (inlined) CTEs would expand 3^rounds copies of the
    // base scan.
    val roundCtes = (1 to rounds).map { r =>
      val p = s"c${r - 1}"
      s"d$r AS MATERIALIZED (SELECT id, p.x, p.y, c, (p.x - cx) * (p.x - cx) + (p.y - cy) * (p.y - cy) AS d2 " +
        s"FROM cells p, (SELECT c, x AS cx, y AS cy FROM $p) cc), " +
        s"m$r AS (SELECT id, min(d2) AS md FROM d$r GROUP BY id), " +
        s"a$r AS MATERIALIZED (SELECT d.id, d.x, d.y, min(c) AS c FROM d$r d JOIN m$r m ON d.id = m.id AND d.d2 = m.md GROUP BY 1, 2, 3), " +
        s"s$r AS (SELECT c, sum(x) / count(*) AS x, sum(y) / count(*) AS y FROM a$r GROUP BY c), " +
        s"c$r AS MATERIALIZED (SELECT p.c, coalesce(s.x, p.x) AS x, coalesce(s.y, p.y) AS y FROM $p p LEFT JOIN s$r s ON p.c = s.c)"
    }.mkString(", ")
    val fin =
      s"df AS MATERIALIZED (SELECT id, p.x, p.y, c, (p.x - cx) * (p.x - cx) + (p.y - cy) * (p.y - cy) AS d2 " +
        s"FROM cells p, (SELECT c, x AS cx, y AS cy FROM c$rounds) cc), " +
        "mf AS (SELECT id, min(d2) AS md FROM df GROUP BY id)"
    // MATERIALIZED: DuckDB inlines plain CTEs per reference, so the 10
    // unrolled rounds would re-open the parquet scan dozens of times
    // (fd exhaustion); materializing `cells` evaluates the scan once.
    s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)}, " +
      "cells AS MATERIALIZED (SELECT ix * 1000000 + iy AS id, cast(ix as double) AS x, cast(iy as double) AS y FROM g), " +
      s"$init, $roundCtes, $fin " +
      "SELECT d.id, d.x, d.y, min(c) AS c FROM df d JOIN mf m ON d.id = m.id AND d.d2 = m.md " +
      "GROUP BY 1, 2, 3 ORDER BY d.id"
  }

  /** Shared Jarvis-march hull CTE prefix (ends with hv = the ordered hull
    * vertices per fid). */
  private def hullPrefix: String = {
    val zp = Zones.fids.map { f =>
      s"SELECT $f AS fid, lon AS x, lat AS y FROM pages WHERE ${Zones.insideZoneSql(f, "lon", "lat")}"
    }.mkString("(", " UNION ALL ", ")")
    def cross(wx: String, wy: String, ux: String, uy: String) =
      s"($wx - h.vx) * ($uy - h.vy) - ($ux - h.vx) * ($wy - h.vy)"
    s"WITH RECURSIVE pages AS (${Geo.pagesCte(DuckD)}), " +
      s"zp AS (SELECT * FROM $zp t), " +
      "pts AS (SELECT DISTINCT fid, x, y FROM zp), " +
      "miny AS (SELECT fid, min(y) AS my FROM pts GROUP BY fid), " +
      "starts AS (SELECT p.fid, max(p.x) AS sx, my AS sy FROM pts p " +
      "JOIN miny ON p.fid = miny.fid AND p.y = my GROUP BY p.fid, my), " +
      "hull AS (" +
      "SELECT fid, 0 AS step, sx AS vx, sy AS vy, sx, sy FROM starts " +
      "UNION ALL " +
      "SELECT h.fid, h.step + 1, w.x, w.y, h.sx, h.sy " +
      "FROM hull h JOIN pts w ON w.fid = h.fid AND (w.x <> h.vx OR w.y <> h.vy) " +
      "WHERE h.step < 500 " +
      s"AND NOT EXISTS (SELECT 1 FROM pts u WHERE u.fid = h.fid AND ${cross("w.x", "w.y", "u.x", "u.y")} < 0.0e0) " +
      s"AND NOT EXISTS (SELECT 1 FROM pts w2 WHERE w2.fid = h.fid " +
      s"AND ${cross("w.x", "w.y", "w2.x", "w2.y")} = 0.0e0 " +
      "AND (w.x - h.vx) * (w2.x - h.vx) + (w.y - h.vy) * (w2.y - h.vy) > " +
      "(w.x - h.vx) * (w.x - h.vx) + (w.y - h.vy) * (w.y - h.vy)) " +
      "AND NOT (w.x = h.sx AND w.y = h.sy)), " +
      "hv AS (SELECT fid, step, vx, vy FROM hull)"
  }

  /** Jarvis-march hull per zone + shoelace area + rotating-calipers MBB
    * area (edge loop WITHOUT the closing edge, mirroring ops/Hull). */
  def hullSql: String =
    s"$hullPrefix, " +
      "hn AS (SELECT fid, count(*) AS hull_n FROM hv GROUP BY fid), " +
      "wrap AS (SELECT a.fid, a.vx, a.vy, b.vx AS nx, b.vy AS ny FROM hv a " +
      "JOIN hn ON a.fid = hn.fid JOIN hv b ON b.fid = a.fid AND b.step = (a.step + 1) % hull_n), " +
      "area AS (SELECT fid, abs(sum(vx * ny - nx * vy)) / 2.0e0 AS ha FROM wrap GROUP BY fid), " +
      "mid AS (SELECT fid, min(vx) + (max(vx) - min(vx)) / 2.0e0 AS mx, " +
      "min(vy) + (max(vy) - min(vy)) / 2.0e0 AS my FROM hv GROUP BY fid), " +
      "edges AS (SELECT a.fid, a.step AS e, -atan2(b.vy - a.vy, b.vx - a.vx) AS psi " +
      "FROM hv a JOIN hv b ON b.fid = a.fid AND b.step = a.step + 1), " +
      "rot AS (SELECT e.fid, e.e, " +
      "(h.vx - mid.mx) * cos(psi) - (h.vy - mid.my) * sin(psi) AS xr, " +
      "(h.vx - mid.mx) * sin(psi) + (h.vy - mid.my) * cos(psi) AS yr " +
      "FROM edges e JOIN hv h ON h.fid = e.fid JOIN mid ON mid.fid = e.fid), " +
      "ext AS (SELECT fid, e, max(xr) - min(xr) AS ax, max(yr) - min(yr) AS ay FROM rot GROUP BY 1, 2), " +
      "mbb AS (SELECT fid, min(ax * ay) AS mba FROM ext GROUP BY fid) " +
      "SELECT hn.fid, hull_n, round(ha, 6) AS hull_area, round(mba, 4) AS mbb_area " +
      "FROM hn JOIN area ON hn.fid = area.fid JOIN mbb ON hn.fid = mbb.fid ORDER BY hn.fid"

  /** Minimum bounding circle twin (ops/Hull.minEnclosingCircle): candidate
    * centres = hull vertices ∪ pair midpoints ∪ triple circumcentres;
    * covering radius = max hull-point distance²; lexicographic-min
    * (r², cx, cy) wins — identical candidate set and arithmetic to the
    * Spark-side kernel, so parity is structural. */
  def circleSql: String = {
    val sq = "ax * ax + ay * ay"
    val sqB = "bx * bx + by * by"
    val sqC = "cx * cx + cy * cy"
    s"$hullPrefix, " +
      "tri AS (SELECT a.fid, a.vx AS ax, a.vy AS ay, b.vx AS bx, b.vy AS by, " +
      "c.vx AS cx, c.vy AS cy, " +
      "2.0e0 * (a.vx * (b.vy - c.vy) + b.vx * (c.vy - a.vy) + c.vx * (a.vy - b.vy)) AS d " +
      "FROM hv a JOIN hv b ON b.fid = a.fid AND a.step < b.step " +
      "JOIN hv c ON c.fid = a.fid AND b.step < c.step), " +
      "cands AS (" +
      "SELECT fid, vx AS ccx, vy AS ccy FROM hv " +
      "UNION ALL SELECT a.fid, (a.vx + b.vx) / 2.0e0, (a.vy + b.vy) / 2.0e0 " +
      "FROM hv a JOIN hv b ON b.fid = a.fid AND a.step < b.step " +
      "UNION ALL SELECT fid, " +
      s"(($sq) * (by - cy) + ($sqB) * (cy - ay) + ($sqC) * (ay - by)) / d, " +
      s"(($sq) * (cx - bx) + ($sqB) * (ax - cx) + ($sqC) * (bx - ax)) / d " +
      "FROM tri WHERE d <> 0.0e0), " +
      "cover AS (SELECT c.fid, ccx, ccy, " +
      "max((vx - ccx) * (vx - ccx) + (vy - ccy) * (vy - ccy)) AS r2 " +
      "FROM cands c JOIN hv h ON h.fid = c.fid GROUP BY 1, 2, 3), " +
      "m1 AS (SELECT fid, min(r2) AS r2 FROM cover GROUP BY fid), " +
      "m2 AS (SELECT c.fid, c.r2, min(ccx) AS ccx FROM cover c " +
      "JOIN m1 ON c.fid = m1.fid AND c.r2 = m1.r2 GROUP BY 1, 2), " +
      "m3 AS (SELECT c.fid, c.r2, c.ccx, min(ccy) AS ccy FROM cover c " +
      "JOIN m2 ON c.fid = m2.fid AND c.r2 = m2.r2 AND c.ccx = m2.ccx GROUP BY 1, 2, 3) " +
      "SELECT fid, round(ccx, 6) AS ccx, round(ccy, 6) AS ccy, " +
      "round(sqrt(r2), 6) AS cr FROM m3 ORDER BY fid"
  }

  /** Connected components via transitive closure (8-connexity, same-value
    * cells; the fixture mask is constant 1) labelled by min cell id —
    * the canonical relabel ops/Clump produces. */
  def clumpSql: String =
    s"WITH RECURSIVE pages AS (${Geo.pagesCte(DuckD)}), " +
      s"${Geo.densityCte(DuckD, 5)}, " +
      "cells AS (SELECT ix, iy, ix * 1000000 + iy AS id FROM g WHERE NOT (((ix + iy) % 13) = 0)), " +
      "e AS (SELECT a.id AS src, b.id AS dst FROM cells a JOIN cells b " +
      "ON abs(a.ix - b.ix) <= 1 AND abs(a.iy - b.iy) <= 1), " +
      "reach AS (SELECT id AS src, id AS dst FROM cells " +
      "UNION SELECT r.src, e.dst FROM reach r JOIN e ON e.src = r.dst) " +
      "SELECT c.ix, c.iy, cast(1 as bigint) AS v, " +
      "(SELECT min(dst) FROM reach WHERE src = c.id) AS label " +
      "FROM cells c ORDER BY ix, iy"
}
