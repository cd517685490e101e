package graft.ops

import graft.core.{Dialect, DuckD, Gates, Geo, Lit, SparkD, Zones}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fourth utility batch:
  *
  *   - LinesToPolygons (gis_analysis/lines_to_polygons.rs): the inverse
  *     shape-type cast of polygons_to_lines — each polyline closes into a
  *     polygon ring (a closing vertex is appended when absent); output
  *     carries the closed vertex count and the shoelace area.
  *   - RandomSample (math_stat_analysis/random_sample.rs semantics): a
  *     deterministic hash-random sample mask over the density grid —
  *     cells with u < 0.1 where u is the md5-derived uniform the
  *     random_field row already uses (no RNG state ⇒ identical across
  *     retries and cluster sizes).
  *   - ReclassFromFile (gis_analysis/reclass_from_file.rs): the reclass
  *     ranges are written to a REAL csv file, read back through the csv
  *     source, and applied as a broadcast range join (lo ≤ v < hi).
  *   - NumInflowingNeighbours (hydro_analysis/num_inflowing_neighbours.rs
  *     :203-209): per cell, the number of neighbours whose D8 pointer
  *     drains into it — one hash aggregate over the Hydro.d8 edge list.
  *   - SelectTilesByPolygon (lidar_analysis/select_tiles_by_polygon.rs):
  *     5° tiles (the tile_assignment layer) whose bbox PROPERLY intersects
  *     zone 6 (the triangle): a tile corner strictly inside the polygon, a
  *     polygon vertex inside the tile, or a proper tile-edge × polygon-edge
  *     crossing (the line_intersections t/u predicate). Touch-only
  *     contact along shared boundary lines is excluded in BOTH engines
  *     (strict winding parity — documented predicate).
  */
object Extras4 extends Gates {

  // ---- lines_to_polygons ---------------------------------------------------

  private def closedN(d: Dialect): String = {
    val n = d.alen("xs")
    s"CASE WHEN ${d.elemE("xs", "1")} = ${d.elemE("xs", s"$n")} AND " +
      s"${d.elemE("ys", "1")} = ${d.elemE("ys", s"$n")} THEN cast($n as bigint) " +
      s"ELSE cast(($n) + 1 as bigint) END"
  }

  private def ringAreaE(d: Dialect): String = {
    // closed rings: wrap term zero; the fixture rings are closed already
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

  // ---- reclass_from_file ---------------------------------------------------

  private[ops] val reclassRows: Seq[(Int, Int, Double)] = Seq(
    (0, 100, 1.0), (100, 200, 2.0), (200, 300, 3.0), (300, 400, 4.0),
    (400, 1000000, 5.0))

  // ---- select_tiles_by_polygon --------------------------------------------

  /** proper segment intersection (the line_intersections predicate) between
    * a tile edge (x1,y1)-(x2,y2) and a literal polygon edge. */
  /** Segment-intersection predicate between polygon edge (px*, py*)
    * literals and the tile edge given by ENDPOINT EXPRESSIONS (ex1..ey2) —
    * parameters, not post-hoc string substitution (ADVICE r3: the old
    * .replace("x1", …) chain silently corrupts the predicate if operand
    * names overlap the replaced tokens). */
  private def segCross(px1: Double, py1: Double, px2: Double, py2: Double,
      ex1: String, ey1: String, ex2: String, ey2: String): String = {
    import Lit.{d => L}
    val denom = s"(($ex1 - $ex2) * (${L(py1)} - ${L(py2)}) - ($ey1 - $ey2) * (${L(px1)} - ${L(px2)}))"
    // CASE-guarded divisions: ANSI errors on x/0 and Catalyst may evaluate
    // the division before the denom<>0 conjunct (no short-circuit)
    val t = s"(CASE WHEN $denom = 0.0e0 THEN NULL ELSE " +
      s"(($ex1 - ${L(px1)}) * (${L(py1)} - ${L(py2)}) - ($ey1 - ${L(py1)}) * (${L(px1)} - ${L(px2)})) / $denom END)"
    val u = s"(CASE WHEN $denom = 0.0e0 THEN NULL ELSE " +
      s"-(($ex1 - $ex2) * ($ey1 - ${L(py1)}) - ($ey1 - $ey2) * ($ex1 - ${L(px1)})) / $denom END)"
    s"($denom <> 0.0e0 AND $t >= 0.0e0 AND $t <= 1.0e0 AND $u >= 0.0e0 AND $u <= 1.0e0)"
  }

  private def tilesSelectSql(d: Dialect): String = {
    val zone = Zones.worldZones.filter(_.fid == 6).head
    val edges = (0 until zone.xs.length - 1).map(i =>
      (zone.xs(i), zone.ys(i), zone.xs(i + 1), zone.ys(i + 1)))
    // tile bbox corners
    val corners = Seq(("tx0", "ty0"), ("tx1", "ty0"), ("tx1", "ty1"), ("tx0", "ty1"))
    val cornerIn = corners.map { case (cx, cy) =>
      s"(${Zones.insideZoneSql(6, cx, cy)})"
    }.mkString(" OR ")
    val vertIn = zone.xs.zip(zone.ys).dropRight(1).map { case (vx, vy) =>
      s"(${Lit.d(vx)} >= tx0 AND ${Lit.d(vx)} <= tx1 AND ${Lit.d(vy)} >= ty0 AND ${Lit.d(vy)} <= ty1)"
    }.mkString(" OR ")
    // tile edges as (x1,y1,x2,y2) in bbox terms
    val tileEdges = Seq(
      ("tx0", "ty0", "tx1", "ty0"), ("tx1", "ty0", "tx1", "ty1"),
      ("tx1", "ty1", "tx0", "ty1"), ("tx0", "ty1", "tx0", "ty0"))
    val crosses = (for {
      (ex1, ey1, ex2, ey2) <- tileEdges
      (px1, py1, px2, py2) <- edges
    } yield s"(${segCross(px1, py1, px2, py2, ex1, ey1, ex2, ey2)})")
      .mkString(" OR ")
    s"${Geo.pagesWith(d)}, " +
      "tiles AS (SELECT cast(floor((lon - -180.0e0) / 5.0e0) as bigint) AS tile_x, " +
      "cast(floor((lat - -90.0e0) / 5.0e0) as bigint) AS tile_y, count(*) AS n_points " +
      "FROM pages GROUP BY 1, 2 HAVING count(*) >= 1), " + // min_points 1: >=3 left no tile near zone 6 (vacuous r3 gate)
      "tb AS (SELECT tile_x, tile_y, n_points, " +
      "-180.0e0 + tile_x * 5.0e0 AS tx0, -180.0e0 + (tile_x + 1) * 5.0e0 AS tx1, " +
      "-90.0e0 + tile_y * 5.0e0 AS ty0, -90.0e0 + (tile_y + 1) * 5.0e0 AS ty1 FROM tiles) " +
      s"SELECT tile_x, tile_y, n_points FROM tb " +
      s"WHERE ($cornerIn) OR ($vertIn) OR ($crosses) ORDER BY tile_x, tile_y"
  }

  // ---- random_sample -------------------------------------------------------

  private def randomSampleSql(d: Dialect): String = {
    val u = s"${d.md5Bits(d.toStr("ix * 1000000 + iy"), 1)} / 4294967296.0e0"
    s"${Geo.pagesWith(d)}, ${Geo.densityCte(d, 6)} " +
      s"SELECT ix, iy, 1 AS sampled FROM g WHERE ($u) < 0.1e0 ORDER BY ix, iy"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lines_to_polygons" -> ((s, dir) => {
      VectorOps.ringsDF(s)
        .selectExpr("fid", "ring_id", "'POLYGON' AS shape_type",
          s"${closedN(SparkD)} AS n_points_closed",
          s"${ringAreaE(SparkD)} AS area")
    }),
    "random_sample" -> ((s, dir) => {
      Tables.register(s, dir); s.sql(randomSampleSql(SparkD))
    }),
    "reclass_from_file" -> ((s, dir) => {
      import s.implicits._
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_reclass_csv_" +
        s.sparkContext.applicationId
      reclassRows.toDF("lo", "hi", "cls").coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(tmp)
      val ranges = s.read.option("header", "true")
        .schema("lo INT, hi INT, cls DOUBLE").csv(tmp)
      Tables.table(s, dir, "documents")
        .join(broadcast(ranges),
          col("n_chars") >= col("lo") && col("n_chars") < col("hi"))
        .select(col("doc_id"), col("cls").as("class"))
    }),
    "num_inflowing_neighbours" -> ((s, dir) => {
      val dd = Hydro.d8dirsKeep(s, dir)
      val inflow = dd.filter(col("dir") >= 0)
        .groupBy(col("tx").as("ix"), col("ty").as("iy"))
        .agg(count(lit(1)).as("n_in"))
      dd.select("ix", "iy").join(inflow, Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy", "cast(coalesce(n_in, 0) as bigint) AS n_in")
    }),
    "select_tiles_by_polygon" -> ((s, dir) => {
      Tables.register(s, dir); s.sql(tilesSelectSql(SparkD))
    })
  )

  def oracles: Map[String, String] = Map(
    "lines_to_polygons" ->
      (s"WITH rings AS ${VectorOps.duckRingRows} " +
        s"SELECT fid, ring_id, 'POLYGON' AS shape_type, ${closedN(DuckD)} AS n_points_closed, " +
        s"${ringAreaE(DuckD)} AS area FROM rings ORDER BY fid, ring_id"),
    "random_sample" -> randomSampleSql(DuckD),
    "reclass_from_file" -> {
      val vals = reclassRows.map { case (lo, hi, c) =>
        s"($lo, $hi, ${Lit.d(c)})"
      }.mkString(", ")
      s"WITH ranges(lo, hi, cls) AS (VALUES $vals) " +
        "SELECT doc_id, cls AS class FROM documents " +
        "JOIN ranges ON n_chars >= lo AND n_chars < hi ORDER BY doc_id"
    },
    "num_inflowing_neighbours" ->
      (s"${Hydro.duckDirsPrefix} " +
        "SELECT dd.ix, dd.iy, cast(coalesce(t.n_in, 0) as bigint) AS n_in FROM dd " +
        "LEFT JOIN (SELECT tx, ty, count(*) AS n_in FROM dd WHERE dir >= 0 GROUP BY 1, 2) t " +
        "ON t.tx = dd.ix AND t.ty = dd.iy ORDER BY ix, iy"),
    "select_tiles_by_polygon" -> tilesSelectSql(DuckD)
  )
}
