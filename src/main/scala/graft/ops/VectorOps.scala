package graft.ops

import graft.core.{DuckD, Gates, Geo, Lit, Zones}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Vector-geometry operators over the zone fixture and page-derived line
  * layers: shape metrics (PolygonArea/PolygonPerimeter/CompactnessRatio),
  * ExtractNodes, RemovePolygonHoles, MultiPartToSinglePart,
  * LineIntersections.
  *
  * Float discipline: shoelace/perimeter sums are evaluated LEFT-TO-RIGHT on
  * both engines (Spark `aggregate` HOF; DuckDB list_reduce over literal
  * arrays generated from the same Ring data), so no rounding is needed.
  */
object VectorOps extends Gates {

  /** Spark rings DF (fid, ring_id, is_hole_flag, xs, ys). */
  private[ops] def ringsDF(s: SparkSession): DataFrame = {
    import s.implicits._
    Zones.worldZones.map(r => (r.fid, r.ringId, r.isHole, r.xs, r.ys))
      .toDF("fid", "ring_id", "is_hole_flag", "xs", "ys")
  }

  /** shoelace terms i = 1..n-1 (1-based), reduced left-to-right; the wrap
    * term is zero for closed rings (poly_area.rs:13-26). */
  private val areaExpr =
    "abs(aggregate(transform(sequence(1, size(xs) - 1), " +
      "i -> element_at(xs, i) * element_at(ys, i + 1) - element_at(xs, i + 1) * element_at(ys, i)), " +
      "cast(0.0e0 as double), (acc, v) -> acc + v)) / 2.0e0"

  private val perimExpr =
    "aggregate(transform(sequence(1, size(xs) - 1), " +
      "i -> sqrt((element_at(xs, i + 1) - element_at(xs, i)) * (element_at(xs, i + 1) - element_at(xs, i)) + " +
      "(element_at(ys, i + 1) - element_at(ys, i)) * (element_at(ys, i + 1) - element_at(ys, i)))), " +
      "cast(0.0e0 as double), (acc, v) -> acc + v)"

  /** signed shoelace (is_hole orientation test for simple rings:
    * area >= 0 ⇔ CCW ⇔ hole — geometry.rs:366-391 fallback branch). */
  private val signedAreaExpr =
    "aggregate(transform(sequence(1, size(xs) - 1), " +
      "i -> element_at(xs, i) * element_at(ys, i + 1) - element_at(xs, i + 1) * element_at(ys, i)), " +
      "cast(0.0e0 as double), (acc, v) -> acc + v) / 2.0e0"

  // DuckDB twins over literal arrays (same reduction order).
  private[ops] def duckArr(vs: Array[Double]): String =
    vs.map(Lit.d).mkString("[", ", ", "]")

  private[ops] def duckRingRows: String =
    Zones.worldZones.map { r =>
      s"SELECT ${r.fid} AS fid, ${r.ringId} AS ring_id, ${r.isHole} AS is_hole_flag, " +
        s"${duckArr(r.xs)} AS xs, ${duckArr(r.ys)} AS ys"
    }.mkString("(", " UNION ALL ", ")")

  private def duckReduce(terms: String): String =
    s"list_reduce(list_prepend(0.0e0, $terms), (acc, v) -> acc + v)"

  private val duckAreaExpr =
    s"abs(${duckReduce("list_transform(range(1, len(xs)), i -> xs[i] * ys[i + 1] - xs[i + 1] * ys[i])")}) / 2.0e0"

  private val duckPerimExpr =
    duckReduce("list_transform(range(1, len(xs)), " +
      "i -> sqrt((xs[i + 1] - xs[i]) * (xs[i + 1] - xs[i]) + (ys[i + 1] - ys[i]) * (ys[i + 1] - ys[i])))")

  private val duckSignedAreaExpr =
    s"${duckReduce("list_transform(range(1, len(xs)), i -> xs[i] * ys[i + 1] - xs[i + 1] * ys[i])")} / 2.0e0"

  // NYC line layers: consecutive urban pages by doc_id (layer 1) vs by
  // (lat, doc_id) (layer 2) — crossing segment sets from the same points.
  private val nycBox = "lon >= -74.05e0 AND lon <= -73.85e0 AND lat >= 40.65e0 AND lat <= 40.85e0"

  private val intersectCond =
    "denom <> 0.0e0 AND t >= 0.0e0 AND t <= 1.0e0 AND u >= 0.0e0 AND u <= 1.0e0"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // PolygonArea + PolygonPerimeter + CompactnessRatio per ring.
    "polygon_area_perimeter" -> ((s, dir) => {
      ringsDF(s)
        .withColumn("area", expr(areaExpr))
        .withColumn("perimeter", expr(perimExpr))
        .withColumn("compactness", expr(s"($areaExpr) / (($perimExpr) * ($perimExpr))"))
        .select("fid", "ring_id", "area", "perimeter", "compactness")
        .orderBy("fid", "ring_id")
    }),

    // ExtractNodes: ring vertices → point rows.
    "extract_nodes" -> ((s, dir) => {
      ringsDF(s)
        .select(col("fid"), col("ring_id"),
          posexplode(expr("zip_with(xs, ys, (x, y) -> struct(x, y))")))
        .select(col("fid"), col("ring_id"), col("pos").as("idx"),
          col("col.x").as("x"), col("col.y").as("y"))
        .orderBy("fid", "ring_id", "idx")
    }),

    // RemovePolygonHoles: keep rings whose orientation is clockwise
    // (signed shoelace < 0 — hole rings are CCW).
    "remove_polygon_holes" -> ((s, dir) => {
      ringsDF(s)
        .withColumn("signed_area", expr(signedAreaExpr))
        .filter(col("signed_area") < 0.0)
        .select("fid", "ring_id")
        .orderBy("fid", "ring_id")
    }),

    // PolygonsToLines (polygons_to_lines.rs): shape-type cast — each ring
    // becomes a polyline carrying its vertices unchanged; closed flag from
    // the first/last vertex identity.
    "polygons_to_lines" -> ((s, dir) => {
      ringsDF(s)
        .selectExpr("fid", "ring_id", "'POLYLINE' AS shape_type",
          "cast(size(xs) as bigint) AS n_points",
          "CASE WHEN element_at(xs, 1) = element_at(xs, size(xs)) AND " +
            "element_at(ys, 1) = element_at(ys, size(ys)) THEN 1 ELSE 0 END AS was_closed")
        .orderBy("fid", "ring_id")
    }),

    // SinglePartToMultiPart: group parts back per feature.
    "singlepart_to_multipart" -> ((s, dir) => {
      ringsDF(s)
        .groupBy("fid")
        .agg(count(lit(1)).as("n_parts"),
          expr("cast(sum(size(xs)) as bigint)").as("total_points"))
        .orderBy("fid")
    }),

    // ExtendVectorLines (extend_vector_lines.rs): treat each ring as an
    // open line (closing duplicate dropped) and push both end vertices
    // outward by 0.5 along the end-segment directions.
    "extend_vector_lines" -> ((s, dir) => {
      ringsDF(s)
        .selectExpr(Seq("fid", "ring_id") ++ extendSelect(graft.core.SparkD): _*)
        .orderBy("fid", "ring_id")
    }),

    // MultiPartToSinglePart: each ring becomes its own feature.
    "multipart_to_singlepart" -> ((s, dir) => {
      ringsDF(s)
        .withColumn("new_fid", expr("row_number() OVER (ORDER BY fid, ring_id)"))
        .selectExpr("new_fid", "fid AS parent_fid", "ring_id",
          "cast(size(xs) as bigint) AS n_points")
        .orderBy("new_fid")
    }),

    // LineIntersections (line_intersections.rs + line_segment.rs:33-56):
    // general-position point intersections between the two NYC layers.
    // Spark plan: distributed segment build (range-bucketed ranks, no
    // global window) → bbox cell-cover explode → CELL-EQUI JOIN → distinct
    // candidate pairs → exact t/u residual. No CartesianProduct anywhere;
    // the oracle keeps the brute-force windowed form.
    "line_intersections" -> ((s, dir) =>
      lineIntersections(s, dir)
        .select("sa", "sb", "px", "py")
        .orderBy("sa", "sb")),

    // SplitWithLines (split_with_lines.rs:254-330, line_ops.rs:32-69):
    // split the l1 polyline features (20-vertex parents) at their strict-
    // interior intersections with the l2 layer, reassemble parts — split
    // vertices end one part and start the next (duplicated into both).
    // Spark side reuses the cell-join intersection pipeline; the per-
    // parent windows are PARTITIONED (bounded 20-vertex features), never
    // global. Output: one row per resulting part with its parent feature.
    "split_with_lines" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pts = rankedPoints(s, dir, byLat = false)
      val verts = pts.selectExpr("(sid - 1) div 20 AS parent",
        "cast((sid - 1) % 20 as double) AS k", "lon AS x", "lat AS y", "0 AS is_split")
      val spl = lineIntersections(s, dir)
        .filter(expr("t > 0.0e0 AND t < 1.0e0 AND ((sa - 1) % 20) < 19"))
        .selectExpr("(sa - 1) div 20 AS parent",
          "cast((sa - 1) % 20 as double) + t AS k", "px AS x", "py AS y", "1 AS is_split")
        .distinct()
      val w = Window.partitionBy("parent").orderBy("k")
      val wp = verts.unionByName(spl).withColumn("part", sum("is_split").over(w))
      val allp = wp.select("parent", "k", "x", "y", "part")
        .unionByName(wp.filter(col("is_split") === 1)
          .select(col("parent"), col("k"), col("x"), col("y"), (col("part") - 1).as("part")))
      allp.groupBy("parent", "part")
        .agg(count(lit(1)).as("n_vertices"),
          expr("min_by(x, k)").as("x_first"), expr("min_by(y, k)").as("y_first"),
          expr("max_by(x, k)").as("x_last"), expr("max_by(y, k)").as("y_last"))
        .selectExpr("parent AS parent_fid", "cast(part as bigint) AS part_id",
          "n_vertices", "x_first", "y_first", "x_last", "y_last")
        .orderBy("parent_fid", "part_id")
    }),

    // SmoothVectors (smooth_vectors.rs:294-315): 3-point moving average
    // with the reference's wraparound at part ends (j<start → end-(start-j),
    // j>end → start+(j-end), closing-duplicate aware).
    "smooth_vectors" -> ((s, dir) => {
      val sm = "transform(sequence(1, size(xs)), i -> struct(" +
        s"(${smoothTermSpark("xs")}) AS sx, (${smoothTermSpark("ys")}) AS sy))"
      ringsDF(s)
        .select(col("fid"), col("ring_id"), posexplode(expr(sm)))
        .select(col("fid"), col("ring_id"), col("pos").as("idx"),
          col("col.sx").as("sx"), col("col.sy").as("sy"))
        .orderBy("fid", "ring_id", "idx")
    })
  )

  /** ExtendVectorLines end-point expressions: effective last vertex m
    * (closing duplicate dropped), unit directions from the end segments,
    * both ends pushed out by 0.5. Identical strings both dialects via the
    * element accessors. */
  private[ops] def extendSelect(d: graft.core.Dialect, dist: Double = 0.5): Seq[String] = {
    val dLit = graft.core.Lit.d(dist)
    def ex(i: String) = d.elemE("xs", i)
    def ey(i: String) = d.elemE("ys", i)
    val n = d.alen("xs")
    val m = s"(CASE WHEN ${ex("1")} = ${ex(n)} AND ${ey("1")} = ${ey(n)} THEN ($n) - 1 ELSE ($n) END)"
    val d1x = s"(${ex("2")} - ${ex("1")})"
    val d1y = s"(${ey("2")} - ${ey("1")})"
    val l1 = s"sqrt($d1x * $d1x + $d1y * $d1y)"
    val dnx = s"(${ex(m)} - ${ex(s"($m) - 1")})"
    val dny = s"(${ey(m)} - ${ey(s"($m) - 1")})"
    val ln = s"sqrt($dnx * $dnx + $dny * $dny)"
    Seq(
      s"CASE WHEN $l1 > 0.0e0 THEN ${ex("1")} - $dLit * $d1x / $l1 END AS x0e",
      s"CASE WHEN $l1 > 0.0e0 THEN ${ey("1")} - $dLit * $d1y / $l1 END AS y0e",
      s"CASE WHEN $ln > 0.0e0 THEN ${ex(m)} + $dLit * $dnx / $ln END AS xne",
      s"CASE WHEN $ln > 0.0e0 THEN ${ey(m)} + $dLit * $dny / $ln END AS yne")
  }

  /** wrap index k for window offset j around a closed part of n vertices:
    * k = j<1 ? n-(1-j) : (j>n ? 1+(j-n) : j) — shared shape, per-dialect
    * element access. */
  private def wrapIdx(j: String, n: String): String =
    s"(CASE WHEN ($j) < 1 THEN ($n) - (1 - ($j)) WHEN ($j) > ($n) THEN 1 + (($j) - ($n)) ELSE ($j) END)"

  /** window offset strings i−r … i+r, spelled exactly as the historical
    * r=1 text ("i - 1", "i", "i + 1"). */
  private def winOffsets(r: Int): Seq[String] =
    (-r to r).map {
      case 0          => "i"
      case o if o < 0 => s"i - ${-o}"
      case o          => s"i + $o"
    }

  private[ops] def smoothTermSpark(arr: String, r: Int = 1): String = {
    val n = s"size($arr)"
    val ks = winOffsets(r).map(j => wrapIdx(j, n))
    ks.map(k => s"element_at($arr, cast($k as int))")
      .mkString("(", " + ", s") / ${graft.core.Lit.d(2 * r + 1.0)}")
  }

  private[ops] def smoothTermDuck(arr: String, r: Int = 1): String = {
    val n = s"len($arr)"
    val ks = winOffsets(r).map(j => wrapIdx(j, n))
    ks.map(k => s"$arr[$k]")
      .mkString("(", " + ", s") / ${graft.core.Lit.d(2 * r + 1.0)}")
  }

  // ---- distributed line-layer build (Spark side) -----------------------

  /** Global point ranks over the NYC subset WITHOUT a global-order window:
    * range-bucket on the leading order key (so bucket boundaries respect
    * the total order), rank within bucket (partitioned window, bounded
    * groups), then add per-bucket offsets from a driver-side cumsum over
    * the BOUNDED bucket-count LUT — the distributed-rank pattern. The id
    * variant buckets doc_id into a FIXED 4096-range partition derived from
    * a 1-row extent aggregate, so the LUT stays ≤4096 rows at any corpus
    * size (the lat variant is already bounded by the fixed lat range). */
  private def rankedPoints(s: SparkSession, dir: String, byLat: Boolean): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val pts = Tables.pages(s, dir).filter(expr(nycBox)).select("doc_id", "lon", "lat")
    val withB = if (byLat) pts.withColumn("bk", expr("cast(floor(lat * 50.0e0) as bigint)"))
    else {
      val ext = pts.agg(expr("coalesce(min(doc_id), 0)"),
        expr("coalesce(max(doc_id), 0)")).as[(Long, Long)].collect()
      val (mnId, mxId) = ext.headOption.getOrElse((0L, 0L))
      val width = math.max((mxId - mnId + 1 + 4095) / 4096, 1L)
      pts.withColumn("bk", expr(s"(doc_id - $mnId) div $width"))
    }
    val counts = withB.groupBy("bk").count().as[(Long, Long)].collect().sortBy(_._1)
    var off = 0L
    val offsets = counts.map { case (k, c) => val o = off; off += c; (k, o) }
      .toSeq.toDF("bk", "off")
    val w = if (byLat) Window.partitionBy("bk").orderBy(col("lat"), col("doc_id"))
            else Window.partitionBy("bk").orderBy(col("doc_id"))
    withB.withColumn("lr", row_number().over(w))
      .join(broadcast(offsets), "bk")
      .select((col("off") + col("lr")).as("sid"), col("lon"), col("lat"))
  }

  /** Consecutive-rank segments via a sid ↔ sid+1 equi-join. */
  private def segs(pts: DataFrame): DataFrame =
    pts.select(col("sid"), col("lon").as("x1"), col("lat").as("y1"))
      .join(pts.select((col("sid") - 1).as("sid"), col("lon").as("x2"), col("lat").as("y2")),
        "sid")

  /** bbox cover cells of a segment over an 8×8 NYC grid (cell 0.025°) —
    * the PipJoin.coverCells pattern as a generator expression. */
  private def withCover(df: DataFrame): DataFrame =
    df.withColumn("cix", explode(expr(
        "sequence(cast(floor((least(x1, x2) - -74.05e0) / 0.025e0) as bigint), " +
          "cast(floor((greatest(x1, x2) - -74.05e0) / 0.025e0) as bigint))")))
      .withColumn("ciy", explode(expr(
        "sequence(cast(floor((least(y1, y2) - 40.65e0) / 0.025e0) as bigint), " +
          "cast(floor((greatest(y1, y2) - 40.65e0) / 0.025e0) as bigint))")))
      .withColumn("cell", expr("cix * 1024 + ciy"))

  /** Cell-join candidate pairs + exact intersection residual. Returns one
    * row per intersecting (sa, sb) with the l1 segment endpoints and the
    * intersection parameter t (for SplitWithLines). */
  private[ops] def lineIntersections(s: SparkSession, dir: String): DataFrame = {
    val l1 = withCover(segs(rankedPoints(s, dir, byLat = false)))
      .select(col("cell"), col("sid").as("sa"), col("x1").as("ax1"), col("y1").as("ay1"),
        col("x2").as("ax2"), col("y2").as("ay2"))
    val l2 = withCover(segs(rankedPoints(s, dir, byLat = true)))
      .select(col("cell"), col("sid").as("sb"), col("x1").as("bx1"), col("y1").as("by1"),
        col("x2").as("bx2"), col("y2").as("by2"))
    val cand = l1.join(l2, "cell")
      .drop("cell")
      .distinct() // a pair sharing k cells appears k times; coords are pair-determined
    cand
      .withColumn("denom", expr(
        "(ax1 - ax2) * (by1 - by2) - (ay1 - ay2) * (bx1 - bx2)"))
      // CASE-guarded divisions: ANSI mode errors on x/0 even for doubles,
      // and Catalyst may reorder the denom<>0 conjunct after projection
      // collapse; the guard keeps the division unreachable at denom = 0.
      .withColumn("t", expr(
        "CASE WHEN denom = 0.0e0 THEN NULL ELSE " +
          "((ax1 - bx1) * (by1 - by2) - (ay1 - by1) * (bx1 - bx2)) / denom END"))
      .withColumn("u", expr(
        "CASE WHEN denom = 0.0e0 THEN NULL ELSE " +
          "-((ax1 - ax2) * (ay1 - by1) - (ay1 - ay2) * (ax1 - bx1)) / denom END"))
      .filter(expr(intersectCond))
      .withColumn("px", expr("ax1 + t * (ax2 - ax1)"))
      .withColumn("py", expr("ay1 + t * (ay2 - ay1)"))
  }

  /** Shared (dialect-parametric) SQL for line_intersections — runs on
    * DuckDB as the oracle twin (brute-force all-pairs is fine there). */
  private def lineIntersectionsSql(d: graft.core.Dialect): String = {
    val segs = (orderCol: String) =>
      s"SELECT row_number() OVER (ORDER BY $orderCol) AS sid, " +
        "lon AS x1, lat AS y1, " +
        s"lead(lon) OVER (ORDER BY $orderCol) AS x2, " +
        s"lead(lat) OVER (ORDER BY $orderCol) AS y2 FROM nyc"
    s"${Geo.pagesWith(d)}, " +
      s"nyc AS (SELECT doc_id, lon, lat FROM pages WHERE $nycBox), " +
      s"l1 AS (SELECT * FROM (${segs("doc_id")}) t WHERE x2 IS NOT NULL), " +
      s"l2 AS (SELECT * FROM (${segs("lat, doc_id")}) t WHERE x2 IS NOT NULL), " +
      "c AS (SELECT a.sid AS sa, b.sid AS sb, a.x1 AS ax1, a.y1 AS ay1, a.x2 AS ax2, a.y2 AS ay2, " +
      "b.x1 AS bx1, b.y1 AS by1, b.x2 AS bx2, b.y2 AS by2, " +
      "(a.x1 - a.x2) * (b.y1 - b.y2) - (a.y1 - a.y2) * (b.x1 - b.x2) AS denom " +
      "FROM l1 a, l2 b), " +
      "tu AS (SELECT sa, sb, ax1, ay1, ax2, ay2, denom, " +
      "((ax1 - bx1) * (by1 - by2) - (ay1 - by1) * (bx1 - bx2)) / denom AS t, " +
      "-((ax1 - ax2) * (ay1 - by1) - (ay1 - ay2) * (ax1 - bx1)) / denom AS u " +
      "FROM c WHERE denom <> 0.0e0) " +
      s"SELECT sa, sb, ax1 + t * (ax2 - ax1) AS px, ay1 + t * (ay2 - ay1) AS py " +
      s"FROM tu WHERE $intersectCond ORDER BY sa, sb"
  }

  /** DuckDB oracle for split_with_lines: brute-force intersections (cross
    * join is fine on the oracle side) + the same event/part reassembly. */
  private def splitWithLinesSql: String = {
    val d = DuckD
    val segsQ = (orderCol: String) =>
      s"SELECT row_number() OVER (ORDER BY $orderCol) AS sid, " +
        "lon AS x1, lat AS y1, " +
        s"lead(lon) OVER (ORDER BY $orderCol) AS x2, " +
        s"lead(lat) OVER (ORDER BY $orderCol) AS y2 FROM nyc"
    s"${Geo.pagesWith(d)}, " +
      s"nyc AS (SELECT doc_id, lon, lat FROM pages WHERE $nycBox), " +
      "p1 AS (SELECT row_number() OVER (ORDER BY doc_id) AS sid, lon, lat FROM nyc), " +
      s"l1 AS (SELECT * FROM (${segsQ("doc_id")}) t WHERE x2 IS NOT NULL), " +
      s"l2 AS (SELECT * FROM (${segsQ("lat, doc_id")}) t WHERE x2 IS NOT NULL), " +
      "c AS (SELECT a.sid AS sa, a.x1 AS ax1, a.y1 AS ay1, a.x2 AS ax2, a.y2 AS ay2, " +
      "b.x1 AS bx1, b.y1 AS by1, b.x2 AS bx2, b.y2 AS by2, " +
      "(a.x1 - a.x2) * (b.y1 - b.y2) - (a.y1 - a.y2) * (b.x1 - b.x2) AS denom " +
      "FROM l1 a, l2 b), " +
      "tu AS (SELECT sa, ax1, ay1, ax2, ay2, denom, " +
      "((ax1 - bx1) * (by1 - by2) - (ay1 - by1) * (bx1 - bx2)) / denom AS t, " +
      "-((ax1 - ax2) * (ay1 - by1) - (ay1 - ay2) * (ax1 - bx1)) / denom AS u " +
      "FROM c WHERE denom <> 0.0e0), " +
      s"inter AS (SELECT sa, t, ax1 + t * (ax2 - ax1) AS px, ay1 + t * (ay2 - ay1) AS py " +
      s"FROM tu WHERE $intersectCond AND t > 0.0e0 AND t < 1.0e0 AND ((sa - 1) % 20) < 19), " +
      "verts AS (SELECT (sid - 1) // 20 AS parent, cast((sid - 1) % 20 as double) AS k, " +
      "lon AS x, lat AS y, 0 AS is_split FROM p1), " +
      "spl AS (SELECT DISTINCT (sa - 1) // 20 AS parent, cast((sa - 1) % 20 as double) + t AS k, " +
      "px AS x, py AS y, 1 AS is_split FROM inter), " +
      "ev AS (SELECT * FROM verts UNION ALL SELECT * FROM spl), " +
      "wp AS (SELECT *, sum(is_split) OVER (PARTITION BY parent ORDER BY k) AS part FROM ev), " +
      "allp AS (SELECT parent, k, x, y, part FROM wp " +
      "UNION ALL SELECT parent, k, x, y, part - 1 FROM wp WHERE is_split = 1) " +
      "SELECT parent AS parent_fid, cast(part as bigint) AS part_id, count(*) AS n_vertices, " +
      "arg_min(x, k) AS x_first, arg_min(y, k) AS y_first, " +
      "arg_max(x, k) AS x_last, arg_max(y, k) AS y_last " +
      "FROM allp GROUP BY 1, 2 ORDER BY parent_fid, part_id"
  }

  def oracles: Map[String, String] = Map(
    "split_with_lines" -> splitWithLinesSql,
    "polygon_area_perimeter" ->
      (s"WITH rings AS $duckRingRows SELECT fid, ring_id, $duckAreaExpr AS area, " +
        s"$duckPerimExpr AS perimeter, ($duckAreaExpr) / (($duckPerimExpr) * ($duckPerimExpr)) AS compactness " +
        "FROM rings ORDER BY fid, ring_id"),
    "extract_nodes" ->
      (s"WITH rings AS $duckRingRows, " +
        "u AS (SELECT fid, ring_id, unnest(range(1, len(xs) + 1)) AS i, xs, ys FROM rings) " +
        "SELECT fid, ring_id, cast(i - 1 as int) AS idx, xs[i] AS x, ys[i] AS y FROM u " +
        "ORDER BY fid, ring_id, idx"),
    "remove_polygon_holes" ->
      (s"WITH rings AS $duckRingRows SELECT fid, ring_id FROM rings " +
        s"WHERE $duckSignedAreaExpr < 0.0e0 ORDER BY fid, ring_id"),
    "multipart_to_singlepart" ->
      (s"WITH rings AS $duckRingRows SELECT row_number() OVER (ORDER BY fid, ring_id) AS new_fid, " +
        "fid AS parent_fid, ring_id, len(xs) AS n_points FROM rings ORDER BY new_fid"),
    "polygons_to_lines" ->
      (s"WITH rings AS $duckRingRows SELECT fid, ring_id, 'POLYLINE' AS shape_type, " +
        "len(xs) AS n_points, CASE WHEN xs[1] = xs[len(xs)] AND ys[1] = ys[len(ys)] " +
        "THEN 1 ELSE 0 END AS was_closed FROM rings ORDER BY fid, ring_id"),
    "singlepart_to_multipart" ->
      (s"WITH rings AS $duckRingRows SELECT fid, count(*) AS n_parts, " +
        "cast(sum(len(xs)) as bigint) AS total_points FROM rings GROUP BY fid ORDER BY fid"),
    "extend_vector_lines" ->
      (s"WITH rings AS $duckRingRows SELECT fid, ring_id, " +
        s"${extendSelect(DuckD).mkString(", ")} FROM rings ORDER BY fid, ring_id"),
    "line_intersections" -> lineIntersectionsSql(DuckD),
    "smooth_vectors" ->
      (s"WITH rings AS $duckRingRows, " +
        "u AS (SELECT fid, ring_id, unnest(range(1, len(xs) + 1)) AS i, xs, ys FROM rings) " +
        s"SELECT fid, ring_id, cast(i - 1 as int) AS idx, " +
        s"${smoothTermDuck("xs")} AS sx, ${smoothTermDuck("ys")} AS sy " +
        "FROM u ORDER BY fid, ring_id, idx")
  )
}
