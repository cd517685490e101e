package graft.ops

import graft.core.{Dialect, DuckD, Gates, Lit, SparkD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shape-metrics completion (gis_analysis patch-shape family) over the zone
  * ring fixture — same literal-array twin discipline as
  * VectorOps.polygon_area_perimeter:
  *
  *   - PerimeterAreaRatio (perimeter_area_ratio.rs:217): perimeter/area.
  *   - LinearityIndex (linearity_index.rs:215-247): r² of the vertex
  *     regression, points shifted by the reference's (max−min)/2 midpoint,
  *     sums accumulated in vertex order (left-to-right reduce — exact
  *     parity, no rounding needed).
  *   - PatchOrientation (patch_orientation.rs:240-258): reduced-major-axis
  *     slope √(syy/sxx) with the covariance sign, mapped to degrees from
  *     north in [0, 180); atan is engine-evaluated, output rounded 6dp.
  *   - RadiusOfGyration (radius_of_gyration.rs:270-310): √(Σd²/n) around
  *     the vertex centroid. The reference is the raster-class variant (and
  *     its per-row accumulator uses `=` where `+=` is evidently intended,
  *     :280-284); this is the vector-feature analogue over ring vertices.
  *   - HoleProportion (hole_proportion.rs:191-214): Σ hole-ring areas /
  *     Σ outer-ring areas per feature.
  *   - ElongationRatio (elongation_ratio.rs:196-217): 1 − short/long axis
  *     of the minimum-area bounding box (rotating calipers over the hull).
  *   - RelatedCircumscribingCircle (related_circumscribing_circle.rs:230):
  *     1 − area/(π·r²) with r from the minimum enclosing circle.
  *   - ShapeComplexityIndex (shape_complexity_index.rs:234): 1 − area/hull
  *     area.
  *
  * The hull-based metrics run through the SAME distributed kernels as
  * minimum_convex_hull / minimum_bounding_circle (Hull.convexHull Graham
  * clone, calipers, exhaustive circle candidates) keyed per ring; the
  * DuckDB twin re-derives the hull INDEPENDENTLY by Jarvis march
  * (HardOracles pattern) over the same literal vertices, so only the
  * order-free aggregations need rounding (6dp).
  */
object ShapeMetrics extends Gates {

  // ---- pure per-ring expressions (shared builders) -------------------------

  private def reduceE(d: Dialect, term: String): String = d match {
    case SparkD =>
      s"aggregate(transform(sequence(1, size(xs)), i -> ($term)), " +
        "cast(0.0e0 as double), (acc, v) -> acc + v)"
    case DuckD =>
      s"list_reduce(list_prepend(0.0e0, list_transform(range(1, len(xs) + 1), i -> ($term))), " +
        "(acc, v) -> acc + v)"
  }

  private def arrMax(d: Dialect, a: String): String = d match {
    case SparkD => s"array_max($a)"
    case DuckD  => s"list_aggregate($a, 'max')"
  }
  private def arrMin(d: Dialect, a: String): String = d match {
    case SparkD => s"array_min($a)"
    case DuckD  => s"list_aggregate($a, 'min')"
  }

  /** shoelace / perimeter reduced in vertex order (same as VectorOps). */
  private def areaE(d: Dialect): String = {
    val term = s"${d.elemE("xs", "i")} * ${d.elemE("ys", "i + 1")} - " +
      s"${d.elemE("xs", "i + 1")} * ${d.elemE("ys", "i")}"
    val red = d match {
      case SparkD =>
        s"aggregate(transform(sequence(1, size(xs) - 1), i -> ($term)), " +
          "cast(0.0e0 as double), (acc, v) -> acc + v)"
      case DuckD =>
        s"list_reduce(list_prepend(0.0e0, list_transform(range(1, len(xs)), i -> ($term))), " +
          "(acc, v) -> acc + v)"
    }
    s"abs($red) / 2.0e0"
  }

  private def perimE(d: Dialect): String = {
    def ex(i: String) = d.elemE("xs", i)
    def ey(i: String) = d.elemE("ys", i)
    val term = s"sqrt((${ex("i + 1")} - ${ex("i")}) * (${ex("i + 1")} - ${ex("i")}) + " +
      s"(${ey("i + 1")} - ${ey("i")}) * (${ey("i + 1")} - ${ey("i")}))"
    d match {
      case SparkD =>
        s"aggregate(transform(sequence(1, size(xs) - 1), i -> ($term)), " +
          "cast(0.0e0 as double), (acc, v) -> acc + v)"
      case DuckD =>
        s"list_reduce(list_prepend(0.0e0, list_transform(range(1, len(xs)), i -> ($term))), " +
          "(acc, v) -> acc + v)"
    }
  }

  /** the five regression sums over midpoint-shifted vertices, then the
    * linearity r² and RMA orientation, exactly in reference op order. */
  private def regSelect(d: Dialect): Seq[String] = {
    val midx = s"((${arrMax(d, "xs")} - ${arrMin(d, "xs")}) / 2.0e0)"
    val midy = s"((${arrMax(d, "ys")} - ${arrMin(d, "ys")}) / 2.0e0)"
    val xi = s"(${d.elemE("xs", "i")} - $midx)"
    val yi = s"(${d.elemE("ys", "i")} - $midy)"
    Seq(
      s"${reduceE(d, xi)} AS sig_x",
      s"${reduceE(d, yi)} AS sig_y",
      s"${reduceE(d, s"$xi * $yi")} AS sig_xy",
      s"${reduceE(d, s"$xi * $xi")} AS sig_xsqr",
      s"${reduceE(d, s"$yi * $yi")} AS sig_ysqr",
      s"cast(${d.alen("xs")} as double) AS n")
  }

  private val sxx = "(sig_xsqr / n - (sig_x / n) * (sig_x / n))"
  private val syy = "(sig_ysqr / n - (sig_y / n) * (sig_y / n))"
  private val sxy = "(sig_xy / n - (sig_x * sig_y) / (n * n))"

  private val linearityE =
    s"CASE WHEN sqrt($sxx * $syy) <> 0.0e0 " +
      s"THEN ($sxy / sqrt($sxx * $syy)) * ($sxy / sqrt($sxx * $syy)) ELSE 0.0e0 END"

  /** RMA slope sign test (x/y < 0 ⇔ x·y < 0, avoiding the ANSI division). */
  private val orientE = {
    val slope = s"(CASE WHEN (sig_xy - (sig_x / n) * sig_y) * (sig_xsqr - (sig_x / n) * sig_x) < 0.0e0 " +
      s"THEN -sqrt($syy / $sxx) ELSE sqrt($syy / $sxx) END)"
    val deg = s"(atan($slope) * ${Lit.d(180.0 / math.Pi)})"
    s"round(CASE WHEN $deg < 0.0e0 THEN 90.0e0 + (-1.0e0 * $deg) ELSE 90.0e0 - $deg END, 6)"
  }

  /** radius of gyration around the raw-vertex centroid. */
  private def rogE(d: Dialect): String = {
    val cx = s"(${reduceE(d, d.elemE("xs", "i"))} / cast(${d.alen("xs")} as double))"
    val cy = s"(${reduceE(d, d.elemE("ys", "i"))} / cast(${d.alen("xs")} as double))"
    val d2 = s"(${d.elemE("xs", "i")} - $cx) * (${d.elemE("xs", "i")} - $cx) + " +
      s"(${d.elemE("ys", "i")} - $cy) * (${d.elemE("ys", "i")} - $cy)"
    s"sqrt(${reduceE(d, d2)} / cast(${d.alen("xs")} as double))"
  }

  // ---- hull-based metrics (Spark kernel + Jarvis twin) ----------------------

  /** Graham hull + calipers + circle per ring; ring area from the ordered
    * vertices. Emits the three hull-based metrics, 6dp. */
  private def hullMetrics(s: SparkSession): DataFrame = {
    import s.implicits._
    val rings = graft.core.Zones.worldZones
    val verts = s.createDataset(rings.flatMap { r =>
      r.xs.indices.map(i => (r.fid, r.ringId, i, r.xs(i), r.ys(i)))
    })
    verts.groupByKey(r => (r._1, r._2)).mapGroups { (key, it) =>
      val (fid, rid) = key
      val vs = it.toArray.sortBy(_._3)
      val xs = vs.map(_._4); val ys = vs.map(_._5)
      val area = graft.expr.GeometryKernels.polygonArea(xs, ys)
      val hull = Hull.convexHull(xs.zip(ys))
      val hxs = hull.map(_._1) :+ hull.head._1
      val hys = hull.map(_._2) :+ hull.head._2
      val hullArea = graft.expr.GeometryKernels.polygonArea(hxs, hys)
      val mbb = Hull.minimumBoundingBox(hull)
      def dist(a: (Double, Double), b: (Double, Double)) =
        math.sqrt((a._1 - b._1) * (a._1 - b._1) + (a._2 - b._2) * (a._2 - b._2))
      val d1 = dist(mbb(0), mbb(1)); val d2 = dist(mbb(1), mbb(2))
      val elong = 1.0 - math.min(d1, d2) / math.max(d1, d2)
      val (_, _, r2) = Hull.minEnclosingCircle(hull)
      val rcc = 1.0 - area / (math.Pi * r2)
      val sci = 1.0 - area / hullArea
      (fid, rid, hull.length, elong, rcc, sci)
    }.toDF("fid", "ring_id", "hull_n", "elongation", "rcc", "sci")
      .selectExpr("fid", "ring_id", "hull_n", "round(elongation, 6) AS elongation",
        "round(rcc, 6) AS rcc", "round(sci, 6) AS sci")
  }

  /** Jarvis-march hull per ring over the literal vertices, + calipers MBB
    * axes, + exhaustive circle candidates (HardOracles structural twins,
    * re-keyed to (fid, ring_id) via k = fid·10 + ring_id). */
  private def hullCtes: String = {
    def cross(wx: String, wy: String, ux: String, uy: String) =
      s"($wx - h.vx) * ($uy - h.vy) - ($ux - h.vx) * ($wy - h.vy)"
    val sq = "ax * ax + ay * ay"
    val sqB = "bx * bx + by * by"
    val sqC = "cx * cx + cy * cy"
    "WITH RECURSIVE rings AS " + VectorOps.duckRingRows + ", " +
      "rv AS (SELECT fid * 10 + ring_id AS k, unnest(range(1, len(xs) + 1)) AS i, xs, ys FROM rings), " +
      "pts AS (SELECT DISTINCT k, xs[i] AS x, ys[i] AS y FROM rv), " +
      // ring area from the ordered literal vertices (reduce, exact)
      s"rarea AS (SELECT fid * 10 + ring_id AS k, ${areaE(DuckD)} AS area FROM rings), " +
      "miny AS (SELECT k, min(y) AS my FROM pts GROUP BY k), " +
      "starts AS (SELECT p.k, max(p.x) AS sx, my AS sy FROM pts p " +
      "JOIN miny ON p.k = miny.k AND p.y = my GROUP BY p.k, my), " +
      "hull AS (" +
      "SELECT k, 0 AS step, sx AS vx, sy AS vy, sx, sy FROM starts " +
      "UNION ALL " +
      "SELECT h.k, h.step + 1, w.x, w.y, h.sx, h.sy " +
      "FROM hull h JOIN pts w ON w.k = h.k AND (w.x <> h.vx OR w.y <> h.vy) " +
      "WHERE h.step < 100 " +
      s"AND NOT EXISTS (SELECT 1 FROM pts u WHERE u.k = h.k AND ${cross("w.x", "w.y", "u.x", "u.y")} < 0.0e0) " +
      s"AND NOT EXISTS (SELECT 1 FROM pts w2 WHERE w2.k = h.k " +
      s"AND ${cross("w.x", "w.y", "w2.x", "w2.y")} = 0.0e0 " +
      "AND (w.x - h.vx) * (w2.x - h.vx) + (w.y - h.vy) * (w2.y - h.vy) > " +
      "(w.x - h.vx) * (w.x - h.vx) + (w.y - h.vy) * (w.y - h.vy)) " +
      "AND NOT (w.x = h.sx AND w.y = h.sy)), " +
      "hv AS (SELECT k, step, vx, vy FROM hull), " +
      "hn AS (SELECT k, count(*) AS hull_n FROM hv GROUP BY k), " +
      "wrap AS (SELECT a.k, a.vx, a.vy, b.vx AS nx, b.vy AS ny FROM hv a " +
      "JOIN hn ON a.k = hn.k JOIN hv b ON b.k = a.k AND b.step = (a.step + 1) % hull_n), " +
      "harea AS (SELECT k, abs(sum(vx * ny - nx * vy)) / 2.0e0 AS ha FROM wrap GROUP BY k), " +
      "mid AS (SELECT k, min(vx) + (max(vx) - min(vx)) / 2.0e0 AS mx, " +
      "min(vy) + (max(vy) - min(vy)) / 2.0e0 AS my FROM hv GROUP BY k), " +
      "edges AS (SELECT a.k, a.step AS e, -atan2(b.vy - a.vy, b.vx - a.vx) AS psi " +
      "FROM hv a JOIN hv b ON b.k = a.k AND b.step = a.step + 1), " +
      "rot AS (SELECT e.k, e.e, " +
      "(h.vx - mid.mx) * cos(psi) - (h.vy - mid.my) * sin(psi) AS xr, " +
      "(h.vx - mid.mx) * sin(psi) + (h.vy - mid.my) * cos(psi) AS yr " +
      "FROM edges e JOIN hv h ON h.k = e.k JOIN mid ON mid.k = e.k), " +
      "ext AS (SELECT k, e, max(xr) - min(xr) AS ax, max(yr) - min(yr) AS ay FROM rot GROUP BY 1, 2), " +
      "mbb AS (SELECT k, arg_min(least(ax, ay), ax * ay) AS shortx, " +
      "arg_min(greatest(ax, ay), ax * ay) AS longx FROM ext GROUP BY k), " +
      "tri AS (SELECT a.k, a.vx AS ax, a.vy AS ay, b.vx AS bx, b.vy AS by, " +
      "c.vx AS cx, c.vy AS cy, " +
      "2.0e0 * (a.vx * (b.vy - c.vy) + b.vx * (c.vy - a.vy) + c.vx * (a.vy - b.vy)) AS d " +
      "FROM hv a JOIN hv b ON b.k = a.k AND a.step < b.step " +
      "JOIN hv c ON c.k = a.k AND b.step < c.step), " +
      "cands AS (" +
      "SELECT k, vx AS ccx, vy AS ccy FROM hv " +
      "UNION ALL SELECT a.k, (a.vx + b.vx) / 2.0e0, (a.vy + b.vy) / 2.0e0 " +
      "FROM hv a JOIN hv b ON b.k = a.k AND a.step < b.step " +
      "UNION ALL SELECT k, " +
      s"(($sq) * (by - cy) + ($sqB) * (cy - ay) + ($sqC) * (ay - by)) / d, " +
      s"(($sq) * (cx - bx) + ($sqB) * (ax - cx) + ($sqC) * (bx - ax)) / d " +
      "FROM tri WHERE d <> 0.0e0), " +
      "cover AS (SELECT c.k, ccx, ccy, " +
      "max((vx - ccx) * (vx - ccx) + (vy - ccy) * (vy - ccy)) AS r2 " +
      "FROM cands c JOIN hv h ON h.k = c.k GROUP BY 1, 2, 3), " +
      "mc AS (SELECT k, min(r2) AS r2 FROM cover GROUP BY k) "
  }

  /** shared CTE prefix + per-query final SELECT (no substring surgery —
    * ADVICE r4: splicing by lastIndexOf of a literal fragment breaks
    * silently-at-oracle-build-time if the projection is ever reworded). */
  private def hullMetricsDuck: String =
    hullCtes +
      "SELECT cast(k // 10 as int) AS fid, cast(k % 10 as int) AS ring_id, " +
      "cast(hull_n as int) AS hull_n, " +
      "round(1.0e0 - shortx / longx, 6) AS elongation, " +
      s"round(1.0e0 - area / (${Lit.d(math.Pi)} * r2), 6) AS rcc, " +
      "round(1.0e0 - area / ha, 6) AS sci " +
      "FROM hn JOIN harea USING (k) JOIN mbb USING (k) JOIN mc USING (k) JOIN rarea USING (k) " +
      "ORDER BY fid, ring_id"

  // ---- wiring --------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "shape_metrics" -> ((s, dir) => {
      VectorOps.ringsDF(s)
        .selectExpr(Seq("fid", "ring_id") ++ regSelect(SparkD): _*)
        .selectExpr("fid", "ring_id", s"$linearityE AS linearity",
          s"$orientE AS orientation")
        .join(VectorOps.ringsDF(s).selectExpr("fid", "ring_id",
          s"(${perimE(SparkD)}) / (${areaE(SparkD)}) AS pa_ratio",
          s"${rogE(SparkD)} AS rog"), Seq("fid", "ring_id"))
        .orderBy("fid", "ring_id")
    }),
    "hole_proportion" -> ((s, dir) => {
      VectorOps.ringsDF(s)
        .selectExpr("fid", "is_hole_flag", s"${areaE(SparkD)} AS area")
        .groupBy("fid")
        .agg(expr("sum(CASE WHEN is_hole_flag THEN area ELSE 0.0e0 END)").as("holes"),
          expr("sum(CASE WHEN is_hole_flag THEN 0.0e0 ELSE area END)").as("outer_a"))
        .selectExpr("fid", "holes / outer_a AS hole_prop")
        .orderBy("fid")
    }),
    "shape_metrics_hull" -> ((s, dir) => hullMetrics(s).orderBy("fid", "ring_id")),
    // PolygonLongAxis / PolygonShortAxis (gis_analysis/polygon_long_axis
    // .rs, polygon_short_axis.rs): the reference emits the axis as a line
    // feature through the polygon; the informative attribute — the
    // min-area-MBB side lengths from the same calipers — is emitted here.
    "polygon_long_axis" -> ((s, dir) => axes(s)
      .selectExpr("fid", "ring_id", "round(greatest(d1, d2), 6) AS long_axis")
      .orderBy("fid", "ring_id")),
    "polygon_short_axis" -> ((s, dir) => axes(s)
      .selectExpr("fid", "ring_id", "round(least(d1, d2), 6) AS short_axis")
      .orderBy("fid", "ring_id"))
  )

  /** min-area MBB side lengths per ring (same calipers as hullMetrics). */
  private def axes(s: SparkSession): DataFrame = {
    import s.implicits._
    val rings = graft.core.Zones.worldZones
    val verts = s.createDataset(rings.flatMap { r =>
      r.xs.indices.map(i => (r.fid, r.ringId, i, r.xs(i), r.ys(i)))
    })
    verts.groupByKey(r => (r._1, r._2)).mapGroups { (key, it) =>
      val (fid, rid) = key
      val vs = it.toArray.sortBy(_._3)
      val hull = Hull.convexHull(vs.map(_._4).zip(vs.map(_._5)))
      val mbb = Hull.minimumBoundingBox(hull)
      def dist(a: (Double, Double), b: (Double, Double)) =
        math.sqrt((a._1 - b._1) * (a._1 - b._1) + (a._2 - b._2) * (a._2 - b._2))
      (fid, rid, dist(mbb(0), mbb(1)), dist(mbb(1), mbb(2)))
    }.toDF("fid", "ring_id", "d1", "d2")
  }

  def oracles: Map[String, String] = Map(
    "shape_metrics" -> {
      val d = DuckD
      s"WITH rings AS ${VectorOps.duckRingRows}, " +
        s"reg AS (SELECT fid, ring_id, ${regSelect(d).mkString(", ")} FROM rings), " +
        s"pr AS (SELECT fid, ring_id, (${perimE(d)}) / (${areaE(d)}) AS pa_ratio, " +
        s"${rogE(d)} AS rog FROM rings) " +
        s"SELECT fid, ring_id, $linearityE AS linearity, $orientE AS orientation, " +
        "pa_ratio, rog FROM reg JOIN pr USING (fid, ring_id) ORDER BY fid, ring_id"
    },
    "hole_proportion" ->
      (s"WITH rings AS ${VectorOps.duckRingRows}, " +
        s"a AS (SELECT fid, is_hole_flag, ${areaE(DuckD)} AS area FROM rings) " +
        "SELECT fid, sum(CASE WHEN is_hole_flag THEN area ELSE 0.0e0 END) / " +
        "sum(CASE WHEN is_hole_flag THEN 0.0e0 ELSE area END) AS hole_prop " +
        "FROM a GROUP BY fid ORDER BY fid"),
    "shape_metrics_hull" -> hullMetricsDuck,
    "polygon_long_axis" -> axisDuck("greatest(longx, shortx)", "long_axis"),
    "polygon_short_axis" -> axisDuck("least(longx, shortx)", "short_axis")
  )

  /** reuse the hull/calipers CTE chain, swapping the final projection. */
  private def axisDuck(pick: String, as: String): String =
    hullCtes +
      s"SELECT cast(k // 10 as int) AS fid, cast(k % 10 as int) AS ring_id, " +
      s"round($pick, 6) AS $as FROM mbb ORDER BY fid, ring_id"
}
