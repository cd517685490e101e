package graft.ops

import graft.core.{Dialect, DuckD, Gates, Geo, Lit, SparkD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TIN gridding first slice (construct_vector_tin.rs /
  * algorithms/delaunay_triangulation.rs:446, tin_gridding.rs:347-385) over
  * the bounded NYC page fixture (z = n_chars).
  *
  * Distributed Delaunay via the PROVABLE halo bound: the box is split into
  * a 2×2 cell partition (cell width CW); each point is exploded into its
  * own cell plus the 8 neighbours (the halo frame). A triangle is emitted
  * by the cell containing its circumCENTRE, and only triangles with
  * circumradius ≤ CW/2 are kept — then any point violating the empty-
  * circumcircle property lies within CW/2 of the centre, hence inside
  * cell+halo, so the LOCAL empty-circle test (a group-equi anti-join with
  * the inside-circle residual) is EQUIVALENT to the global Delaunay test.
  * Larger triangles are dropped by the documented radius bound (the
  * production path raises CW; the reference's sweep algorithm is inherently
  * sequential). Degenerate (collinear) triples are skipped; cocircular
  * quads keep both triangles in BOTH engines (strict < inside-test).
  *
  * Gridding: 16×16 target cell centres; each triangle is exploded over the
  * target cells its bbox covers (equi-join — no cross product on the Spark
  * side), point-in-triangle by barycentric signs, ties (centre on a shared
  * edge) broken by the min (a,b,c) id triple, z by barycentric plane
  * interpolation — pure shared arithmetic, exact twin parity.
  *
  * The DuckDB oracle re-derives the SAME triangle set definitionally
  * (all-triples brute force + global empty-circle NOT EXISTS + the same
  * radius/centre-cell bounds), independent of the partition structure —
  * proving the halo construction lossless on the fixture.
  */
object Tin extends Gates {

  private val x0 = -74.05; private val y0 = 40.65
  private val cw = 0.1 // coarse partition cell width (2×2)
  private val r2max = 0.0025 // (cw/2)² circumradius bound
  private val nFine = 16
  private val fw = 0.2 / nFine

  private val nycBox = "lon >= -74.05e0 AND lon <= -73.85e0 AND lat >= 40.65e0 AND lat <= 40.85e0"

  // circumcentre of (a, b, c) — identical op order both engines
  private val dE = "2.0e0 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by))"
  private val uxE = "((ax * ax + ay * ay) * (by - cy) + (bx * bx + by * by) * (cy - ay) + " +
    "(cx * cx + cy * cy) * (ay - by)) / d"
  private val uyE = "((ax * ax + ay * ay) * (cx - bx) + (bx * bx + by * by) * (ax - cx) + " +
    "(cx * cx + cy * cy) * (bx - ax)) / d"
  private val r2E = "(ax - ux) * (ax - ux) + (ay - uy) * (ay - uy)"

  private def cellOf(coord: String, origin: Double): String =
    s"cast(floor((($coord) - ${Lit.d(origin)}) / ${Lit.d(cw)}) as bigint)"

  // barycentric containment + interpolation at (tx, ty)
  private val s1E = "(bx - ax) * (ty - ay) - (by - ay) * (tx - ax)"
  private val s2E = "(cx - bx) * (ty - by) - (cy - by) * (tx - bx)"
  private val s3E = "(ax - cx) * (ty - cy) - (ay - cy) * (tx - cx)"
  private val containsE =
    s"((($s1E) >= 0.0e0 AND ($s2E) >= 0.0e0 AND ($s3E) >= 0.0e0) OR " +
      s"(($s1E) <= 0.0e0 AND ($s2E) <= 0.0e0 AND ($s3E) <= 0.0e0))"
  private val detE = "(bx - ax) * (cy - ay) - (cx - ax) * (by - ay)"
  private val lbE = s"(((tx - ax) * (cy - ay) - (cx - ax) * (ty - ay)) / ($detE))"
  private val lcE = s"(((bx - ax) * (ty - ay) - (tx - ax) * (by - ay)) / ($detE))"
  private val zE = s"za + ($lbE) * (zb - za) + ($lcE) * (zc - za)"

  private def txE(d: Dialect) = s"${Lit.d(x0)} + (cast(i as double) + 0.5e0) * ${Lit.d(fw)}"
  private def tyE(d: Dialect) = s"${Lit.d(y0)} + (cast(j as double) + 0.5e0) * ${Lit.d(fw)}"

  /** Spark: the halo-partitioned triangle set. */
  private[ops] def triangles(s: SparkSession, dir: String): DataFrame = {
    val pts = Tables.pages(s, dir).filter(expr(nycBox))
      .selectExpr("doc_id AS id", "lon AS x", "lat AS y", "cast(n_chars as double) AS z")
    val grp = pts
      .withColumn("ddx", explode(sequence(lit(-1), lit(1))))
      .withColumn("ddy", explode(sequence(lit(-1), lit(1))))
      .withColumn("gx", expr(cellOf("x", x0)) + col("ddx"))
      .withColumn("gy", expr(cellOf("y", y0)) + col("ddy"))
      .select("gx", "gy", "id", "x", "y", "z")
    val a = grp.toDF("gx", "gy", "a", "ax", "ay", "za")
    val b = grp.toDF("gx", "gy", "b", "bx", "by", "zb")
    val c = grp.toDF("gx", "gy", "c", "cx", "cy", "zc")
    val tri = a.join(b, Seq("gx", "gy")).filter(col("a") < col("b"))
      .join(c, Seq("gx", "gy")).filter(col("b") < col("c"))
      .withColumn("d", expr(dE)).filter(col("d") =!= 0.0)
      .withColumn("ux", expr(uxE)).withColumn("uy", expr(uyE))
      .withColumn("r2", expr(r2E))
      // centre-cell dedup + the provable radius bound + in-partition centre
      .filter(expr(s"${cellOf("ux", x0)} = gx AND ${cellOf("uy", y0)} = gy"))
      .filter(expr("gx BETWEEN 0 AND 1 AND gy BETWEEN 0 AND 1"))
      .filter(col("r2") <= r2max)
    // local empty-circle: any violator is inside cell+halo (see scaladoc)
    tri.join(grp.toDF("pgx", "pgy", "pid", "px", "py", "pz"),
        col("gx") === col("pgx") && col("gy") === col("pgy") &&
          col("pid") =!= col("a") && col("pid") =!= col("b") && col("pid") =!= col("c") &&
          expr("(px - ux) * (px - ux) + (py - uy) * (py - uy) < r2"),
        "left_anti")
      .select("a", "b", "c", "ax", "ay", "za", "bx", "by", "zb", "cx", "cy", "zc")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ConstructVectorTIN (construct_vector_tin.rs): the triangle list
    // itself as output — vertex ids + shoelace area.
    "construct_vector_tin" -> ((s, dir) =>
      triangles(s, dir)
        .selectExpr("a", "b", "c", s"round(abs($detE) / 2.0e0, 10) AS area")
        .orderBy("a", "b", "c")),

    // VoronoiDiagram (voronoi_diagram.rs:21-33): the circumcentre dual —
    // one Voronoi edge per INTERIOR Delaunay edge (shared by 2 triangles),
    // joining the two circumcentres. Hull edges' infinite rays are not
    // emitted (documented omission; the reference clips them to the box).
    "voronoi_diagram" -> ((s, dir) => {
      val tri = triangles(s, dir)
        .withColumn("d", expr(dE))
        .withColumn("ux", expr(uxE)).withColumn("uy", expr(uyE))
      val edges = tri.selectExpr(
        "stack(3, a, b, ux, uy, b, c, ux, uy, a, c, ux, uy) AS (e1, e2, ux, uy)")
      edges.groupBy("e1", "e2")
        .agg(count(lit(1)).as("cnt"),
          expr("min_by(named_struct('x', ux, 'y', uy), named_struct('x', ux, 'y', uy))").as("c1"),
          expr("max_by(named_struct('x', ux, 'y', uy), named_struct('x', ux, 'y', uy))").as("c2"))
        .filter(col("cnt") === 2)
        .selectExpr("e1", "e2", "round(c1.x, 6) AS x1", "round(c1.y, 6) AS y1",
          "round(c2.x, 6) AS x2", "round(c2.y, 6) AS y2")
        .orderBy("e1", "e2")
    }),

    "tin_gridding" -> ((s, dir) => {
      val tri = triangles(s, dir)
      // bbox cover over the fine target grid → equi-join (no cross product)
      val covered = tri
        .withColumn("i", explode(expr(
          s"sequence(greatest(cast(floor((least(ax, bx, cx) - ${Lit.d(x0)}) / ${Lit.d(fw)}) as bigint), 0), " +
            s"least(cast(floor((greatest(ax, bx, cx) - ${Lit.d(x0)}) / ${Lit.d(fw)}) as bigint), ${nFine - 1}))")))
        .withColumn("j", explode(expr(
          s"sequence(greatest(cast(floor((least(ay, by, cy) - ${Lit.d(y0)}) / ${Lit.d(fw)}) as bigint), 0), " +
            s"least(cast(floor((greatest(ay, by, cy) - ${Lit.d(y0)}) / ${Lit.d(fw)}) as bigint), ${nFine - 1}))")))
        .withColumn("tx", expr(txE(SparkD)))
        .withColumn("ty", expr(tyE(SparkD)))
        .filter(expr(containsE))
      covered.groupBy("i", "j")
        .agg(expr("min_by(named_struct(" +
          "'ax', ax, 'ay', ay, 'za', za, 'bx', bx, 'by', by, 'zb', zb, " +
          "'cx', cx, 'cy', cy, 'zc', zc, 'tx', tx, 'ty', ty), " +
          "named_struct('a', a, 'b', b, 'c', c))").as("t"))
        .selectExpr("i", "j", s"${withT(zE)} AS z_tin")
        .orderBy("i", "j")
    })
  )

  /** rewrite bare vertex/target columns to the struct fields of `t`. */
  private def withT(e: String): String =
    Seq("ax", "ay", "za", "bx", "by", "zb", "cx", "cy", "zc", "tx", "ty")
      .foldLeft(e)((acc, c) => acc.replaceAll(s"\\b$c\\b", s"t.$c"))

  /** shared DuckDB triangle-set prefix ending in `tri` (global brute-force
    * Delaunay with the same radius/centre-cell bounds). */
  private def duckTriCtes: String =
    s"pts AS (SELECT doc_id AS id, lon AS x, lat AS y, cast(n_chars as double) AS z FROM pages WHERE $nycBox), " +
      "t0 AS (SELECT a.id AS a, b.id AS b, c.id AS c, a.x AS ax, a.y AS ay, a.z AS za, " +
      "b.x AS bx, b.y AS by, b.z AS zb, c.x AS cx, c.y AS cy, c.z AS zc, " +
      s"$dE AS d FROM pts a JOIN pts b ON a.id < b.id JOIN pts c ON b.id < c.id), " +
      s"t1 AS (SELECT *, $uxE AS ux, $uyE AS uy FROM t0 WHERE d <> 0.0e0), " +
      s"t2 AS (SELECT *, $r2E AS r2 FROM t1), " +
      s"tri AS (SELECT * FROM t2 WHERE r2 <= ${Lit.d(r2max)} " +
      s"AND ${cellOf("ux", x0)} BETWEEN 0 AND 1 AND ${cellOf("uy", y0)} BETWEEN 0 AND 1 " +
      "AND NOT EXISTS (SELECT 1 FROM pts p WHERE p.id <> a AND p.id <> b AND p.id <> c " +
      "AND (p.x - ux) * (p.x - ux) + (p.y - uy) * (p.y - uy) < r2))"

  def oracles: Map[String, String] = Map(

    "construct_vector_tin" ->
      (s"${Geo.pagesWith(DuckD)}, $duckTriCtes " +
        s"SELECT a, b, c, round(abs($detE) / 2.0e0, 10) AS area FROM tri ORDER BY a, b, c"),

    "voronoi_diagram" ->
      (s"${Geo.pagesWith(DuckD)}, $duckTriCtes, " +
        "edges AS (SELECT a AS e1, b AS e2, ux, uy FROM tri " +
        "UNION ALL SELECT b, c, ux, uy FROM tri UNION ALL SELECT a, c, ux, uy FROM tri), " +
        "ev AS (SELECT e1, e2, ux, uy, " +
        "row_number() OVER (PARTITION BY e1, e2 ORDER BY ux, uy) AS rn, " +
        "count(*) OVER (PARTITION BY e1, e2) AS cnt FROM edges) " +
        "SELECT e1, e2, round(max(CASE WHEN rn = 1 THEN ux END), 6) AS x1, " +
        "round(max(CASE WHEN rn = 1 THEN uy END), 6) AS y1, " +
        "round(max(CASE WHEN rn = 2 THEN ux END), 6) AS x2, " +
        "round(max(CASE WHEN rn = 2 THEN uy END), 6) AS y2 " +
        "FROM ev WHERE cnt = 2 GROUP BY 1, 2 ORDER BY e1, e2"),

    "tin_gridding" -> {
      val d = DuckD
      s"${Geo.pagesWith(d)}, " +
        s"pts AS (SELECT doc_id AS id, lon AS x, lat AS y, cast(n_chars as double) AS z FROM pages WHERE $nycBox), " +
        "t0 AS (SELECT a.id AS a, b.id AS b, c.id AS c, a.x AS ax, a.y AS ay, a.z AS za, " +
        "b.x AS bx, b.y AS by, b.z AS zb, c.x AS cx, c.y AS cy, c.z AS zc, " +
        s"$dE AS d FROM pts a JOIN pts b ON a.id < b.id JOIN pts c ON b.id < c.id), " +
        s"t1 AS (SELECT *, $uxE AS ux, $uyE AS uy FROM t0 WHERE d <> 0.0e0), " +
        s"t2 AS (SELECT *, $r2E AS r2 FROM t1), " +
        s"tri AS (SELECT * FROM t2 WHERE r2 <= ${Lit.d(r2max)} " +
        s"AND ${cellOf("ux", x0)} BETWEEN 0 AND 1 AND ${cellOf("uy", y0)} BETWEEN 0 AND 1 " +
        "AND NOT EXISTS (SELECT 1 FROM pts p WHERE p.id <> a AND p.id <> b AND p.id <> c " +
        "AND (p.x - ux) * (p.x - ux) + (p.y - uy) * (p.y - uy) < r2)), " +
        s"tgt AS (SELECT i, j, ${txE(d)} AS tx, ${tyE(d)} AS ty FROM " +
        s"(SELECT unnest(range(0, $nFine)) AS i) a, (SELECT unnest(range(0, $nFine)) AS j) b), " +
        s"hit AS (SELECT i, j, tx, ty, ax, ay, za, bx, by, zb, cx, cy, zc, " +
        "row_number() OVER (PARTITION BY i, j ORDER BY a, b, c) AS rn " +
        s"FROM tgt JOIN tri ON $containsE) " +
        s"SELECT i, j, $zE AS z_tin FROM hit WHERE rn = 1 ORDER BY i, j"
    }
  )
}
