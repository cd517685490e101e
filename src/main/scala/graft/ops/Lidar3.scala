package graft.ops

import graft.core.{Dialect, DuckD, Gates, Geo, Lit, SparkD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LiDAR segmentation block + the two shapefile conversions
  * (lidar_analysis/lidar_segmentation.rs,
  * lidar_segmentation_based_filter.rs, lidar_classify_subset.rs,
  * lidar_tophat_transform.rs, las_to_shapefile.rs,
  * las_to_multipoint_shapefile.rs) over the NYC point fixture
  * (x = lon, y = lat, z = n_chars — the Lidar/Lidar2 substrate).
  *
  *   - LidarSegmentation: the reference region-grows over points whose
    *   plane normals align. Re-expressed on the res-cell subdivision
    *   (the reference also spatially subdivides for tractability): per
    *   CELL an LSQ plane normal from the same integer moment sums the
    *   normal_vectors gate uses, an edge between 8-adjacent cells whose
    *   normals' dot ≥ cos(threshold) and whose mean z differ below the
    *   height cap, then connected components by MIN-LABEL propagation
    *   (transitive-closure twin). A point's segment is its cell's label.
  *   - LidarSegmentationBasedFilter: ground = the segments whose lowest
  *     cell mean-z is within `groundDz` of the global minimum (the
  *     reference grows ground from the lowest segments).
  *   - LidarClassifySubset: odd-id points (the subset) take the class of
  *     the nearest even-id point (the base), nearest = (d², id)-minimal
  *     within the FRS radius; class = the base point's scan-angle sign.
  *   - LidarTophatTransform: white top-hat z − opening, opening =
  *     dilation(erosion) over the FRS radius — two bucketed
  *     neighbourhood joins, all-integer z.
  *   - LasToShapefile / LasToMultipointShapefile: the shapefile container
  *     is format I/O deliberately replaced by parquet tables repo-wide;
  *     what is preserved is the record content — per-point geometry +
  *     attributes (record-numbered), and one MULTIPOINT row per
  *     flightline (doc_id % 4, the flightline convention of the
  *     flightline family) with its point count and bbox.
  */
object Lidar3 extends Gates {

  private val nycBox = "lon >= -74.05e0 AND lon <= -73.85e0 AND lat >= 40.65e0 AND lat <= 40.85e0"
  private val res = 0.0125
  private val radius = 0.02
  private val r2 = Lit.d(radius * radius)
  private val cosThresh = "0.9659e0" // cos 15°
  private val zCap = 150L // max |mean z| difference across a segment edge (z = n_chars, range ~50-400)
  private val groundDz = 150L

  private def ptsSql(d: Dialect): String =
    s"pts AS (SELECT doc_id AS id, lon AS x, lat AS y, cast(n_chars as bigint) AS z, " +
      s"cast(${Geo.h3(d)} % 41 - 20 as bigint) AS scan_angle " +
      s"FROM pages WHERE $nycBox)"

  private def pts(s: SparkSession, dir: String): DataFrame =
    Tables.pages(s, dir).filter(expr(nycBox))
      .selectExpr("doc_id AS id", "lon AS x", "lat AS y", "cast(n_chars as bigint) AS z",
        s"cast(${Geo.h3(SparkD)} % 41 - 20 as bigint) AS scan_angle")

  private val cellIxE = s"cast(floor((x - (-74.05e0)) / ${Lit.d(res)}) as bigint)"
  private val cellIyE = s"cast(floor((y - 40.65e0) / ${Lit.d(res)}) as bigint)"

  // ---- cell plane normals (integer moment sums → rounded normal) -------

  private val momentAggs = Seq(
    "count(*) AS n",
    "cast(sum(qx) as bigint) AS sx", "cast(sum(qy) as bigint) AS sy",
    "cast(sum(qx * qx) as bigint) AS sxx", "cast(sum(qy * qy) as bigint) AS syy",
    "cast(sum(qx * qy) as bigint) AS sxy", "cast(sum(z) as bigint) AS sz",
    "cast(sum(qx * z) as bigint) AS sxz", "cast(sum(qy * z) as bigint) AS syz")

  private def cellsSql(d: Dialect): String =
    s"qp AS (SELECT id, x, y, z, $cellIxE AS cx, $cellIyE AS cy, " +
      "cast(round(x * 1.0e6) as bigint) AS qx, cast(round(y * 1.0e6) as bigint) AS qy FROM pts), " +
      s"cells AS (SELECT cx, cy, ${momentAggs.mkString(", ")} FROM qp GROUP BY cx, cy), " +
      s"cn AS (SELECT cx, cy, n, cast(sz as double) / cast(n as double) AS mz, " +
      s"${Lidar2.normalSelect.mkString(", ")} FROM cells)"

  /** symmetric 8-adjacency edges gated by normal alignment + height cap. */
  private def edgesSql: String =
    "segedges AS (SELECT a.cx, a.cy, b.cx AS dx_, b.cy AS dy_ FROM cn a JOIN cn b " +
      "ON b.cx BETWEEN a.cx - 1 AND a.cx + 1 AND b.cy BETWEEN a.cy - 1 AND a.cy + 1 " +
      "AND NOT (b.cx = a.cx AND b.cy = a.cy) " +
      s"AND (a.nx_ * b.nx_ + a.ny_ * b.ny_ + a.nz_ * b.nz_) >= $cosThresh " +
      s"AND abs(a.mz - b.mz) <= $zCap)"

  /** Spark: min-label CCL over (cn, segedges) via Dem.converge. */
  private def cellSegs(s: SparkSession, dir: String): DataFrame =
    Dem.memo(s, dir, "lidar_segs") {
      Tables.register(s, dir)
      val base = s.sql(s"${Geo.pagesWith(SparkD)}, ${ptsSql(SparkD)}, ${cellsSql(SparkD)}, " +
        s"$edgesSql SELECT cn.cx, cn.cy, e.dx_, e.dy_ FROM cn " +
        "LEFT JOIN segedges e ON e.cx = cn.cx AND e.cy = cn.cy").localCheckpoint()
      val nodes = base.select("cx", "cy").distinct()
      val edges = base.filter(col("dx_").isNotNull)
      val init = nodes.selectExpr("cx", "cy", "cx * 1000 + cy AS seg")
      Dem.converge(init, 40, 4, "lidar_ccl") { cur =>
        val nbr = edges.join(cur.selectExpr("cx AS dx_", "cy AS dy_", "seg AS nseg"),
            Seq("dx_", "dy_"))
          .groupBy("cx", "cy").agg(min("nseg").as("nmin"))
        cur.join(nbr, Seq("cx", "cy"), "left")
          .selectExpr("cx", "cy", "least(seg, coalesce(nmin, seg)) AS seg")
      }
    }

  /** twin: transitive-closure min over the same edges. */
  private def segTwin: String =
    s"$edgesSql, " +
      "reach AS (SELECT cx, cy, cx AS rx, cy AS ry FROM cn " +
      "UNION SELECT r.cx, r.cy, e.dx_, e.dy_ FROM reach r " +
      "JOIN segedges e ON e.cx = r.rx AND e.cy = r.ry), " +
      "seg AS (SELECT cx, cy, min(rx * 1000 + ry) AS seg FROM reach GROUP BY cx, cy)"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "lidar_segmentation" -> ((s, dir) => {
      val segs = cellSegs(s, dir)
      pts(s, dir).selectExpr("id AS doc_id", s"$cellIxE AS cx", s"$cellIyE AS cy")
        .join(segs, Seq("cx", "cy"))
        .select("doc_id", "seg").orderBy("doc_id")
    }),

    "lidar_segmentation_based_filter" -> ((s, dir) => {
      Tables.register(s, dir)
      val mz = s.sql(s"${Geo.pagesWith(SparkD)}, ${ptsSql(SparkD)}, ${cellsSql(SparkD)} " +
        "SELECT cx, cy, mz FROM cn")
      val segs = cellSegs(s, dir).join(mz, Seq("cx", "cy"))
      val segMin = segs.groupBy("seg").agg(min("mz").as("seg_mz"))
      val gmin = segs.agg(min("mz")).first().getDouble(0)
      val ground = segMin.selectExpr("seg",
        s"CASE WHEN seg_mz <= ${Lit.d(gmin)} + $groundDz THEN 1 ELSE 0 END AS is_ground")
      pts(s, dir).selectExpr("id AS doc_id", s"$cellIxE AS cx", s"$cellIyE AS cy")
        .join(segs.select("cx", "cy", "seg"), Seq("cx", "cy"))
        .join(ground, Seq("seg"))
        .select("doc_id", "is_ground").orderBy("doc_id")
    }),

    "lidar_classify_subset" -> ((s, dir) => {
      val p = pts(s, dir)
        .withColumn("bx", expr(s"cast(floor(x / ${Lit.d(radius)}) as bigint)"))
        .withColumn("by", expr(s"cast(floor(y / ${Lit.d(radius)}) as bigint)"))
        .localCheckpoint()
      val sub = p.filter(expr("id % 2 = 1"))
        .withColumn("dx", explode(sequence(lit(-1), lit(1))))
        .withColumn("dy", explode(sequence(lit(-1), lit(1))))
        .selectExpr("id", "x", "y", "bx + dx AS nbx", "by + dy AS nby")
      val base = p.filter(expr("id % 2 = 0"))
        .selectExpr("id AS bid", "x AS bxp", "y AS byp",
          "CASE WHEN scan_angle >= 0 THEN 1 ELSE 2 END AS cls",
          "bx AS nbx", "by AS nby")
      sub.join(base, Seq("nbx", "nby"))
        .filter(expr(s"(bxp - x) * (bxp - x) + (byp - y) * (byp - y) <= $r2"))
        .groupBy("id")
        .agg(expr("min_by(cls, named_struct('d', (bxp - x) * (bxp - x) + (byp - y) * (byp - y), 'i', bid))").as("cls"))
        .selectExpr("id AS doc_id", "cls").orderBy("doc_id")
    }),

    "lidar_tophat_transform" -> ((s, dir) => {
      val p = pts(s, dir)
        .withColumn("bx", expr(s"cast(floor(x / ${Lit.d(radius)}) as bigint)"))
        .withColumn("by", expr(s"cast(floor(y / ${Lit.d(radius)}) as bigint)"))
        .localCheckpoint()
      def nbrJoin(left: DataFrame, value: DataFrame, vcol: String): DataFrame =
        left.withColumn("dx", explode(sequence(lit(-1), lit(1))))
          .withColumn("dy", explode(sequence(lit(-1), lit(1))))
          .selectExpr("id", "x", "y", "z", "bx + dx AS nbx", "by + dy AS nby")
          .join(value.selectExpr("x AS nx", "y AS ny", s"$vcol AS nv", "bx AS nbx", "by AS nby"),
            Seq("nbx", "nby"))
          .filter(expr(s"(nx - x) * (nx - x) + (ny - y) * (ny - y) <= $r2"))
      val ero = nbrJoin(p, p, "z").groupBy("id").agg(min("nv").as("ero"))
      val withEro = p.join(ero, Seq("id")).localCheckpoint()
      val open = nbrJoin(withEro, withEro, "ero").groupBy("id").agg(max("nv").as("open"))
      p.join(open, Seq("id"))
        .selectExpr("id AS doc_id", "z - open AS tophat").orderBy("doc_id")
    }),

    "las_to_shapefile" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      pts(s, dir)
        .withColumn("rec", row_number().over(Window.orderBy("id")))
        .selectExpr("cast(rec as bigint) AS rec", "id AS doc_id",
          "round(x, 6) AS x", "round(y, 6) AS y", "z", "scan_angle")
        .orderBy("rec")
    }),

    "las_to_multipoint_shapefile" -> ((s, dir) =>
      pts(s, dir).withColumn("fl", expr("id % 4"))
        .groupBy("fl")
        .agg(count(lit(1)).as("n_points"),
          expr("round(min(x), 6)").as("min_x"), expr("round(max(x), 6)").as("max_x"),
          expr("round(min(y), 6)").as("min_y"), expr("round(max(y), 6)").as("max_y"),
          min("id").as("first_id"), max("id").as("last_id"))
        .orderBy("fl"))
  )

  // ---- DuckDB twins -----------------------------------------------------

  private def Wd(body: String): String =
    s"WITH RECURSIVE pages AS (${Geo.pagesCte(DuckD)}), ${ptsSql(DuckD)}, $body"

  def oracles: Map[String, String] = Map(

    "lidar_segmentation" -> Wd(
      s"${cellsSql(DuckD)}, $segTwin " +
        s"SELECT q.id AS doc_id, seg.seg FROM qp q " +
        "JOIN seg ON seg.cx = q.cx AND seg.cy = q.cy ORDER BY doc_id"),

    "lidar_segmentation_based_filter" -> Wd(
      s"${cellsSql(DuckD)}, $segTwin, " +
        "sm AS (SELECT s.seg, min(cn.mz) AS seg_mz FROM seg s " +
        "JOIN cn ON cn.cx = s.cx AND cn.cy = s.cy GROUP BY s.seg), " +
        "gm AS (SELECT min(mz) AS gmin FROM cn), " +
        s"gr AS (SELECT seg, CASE WHEN seg_mz <= gmin + $groundDz THEN 1 ELSE 0 END AS is_ground " +
        "FROM sm, gm) " +
        "SELECT q.id AS doc_id, gr.is_ground FROM qp q " +
        "JOIN seg ON seg.cx = q.cx AND seg.cy = q.cy " +
        "JOIN gr ON gr.seg = seg.seg ORDER BY doc_id"),

    "lidar_classify_subset" -> Wd(
      "cand AS (SELECT a.id, b.id AS bid, " +
        "CASE WHEN b.scan_angle >= 0 THEN 1 ELSE 2 END AS cls, " +
        "(b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y) AS d2, " +
        "row_number() OVER (PARTITION BY a.id ORDER BY " +
        "(b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y), b.id) AS rn " +
        "FROM pts a JOIN pts b ON b.id % 2 = 0 " +
        s"AND (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y) <= $r2 " +
        "WHERE a.id % 2 = 1) " +
        "SELECT id AS doc_id, cls FROM cand WHERE rn = 1 ORDER BY doc_id"),

    "lidar_tophat_transform" -> Wd(
      "ero AS (SELECT a.id, a.x, a.y, a.z, min(b.z) AS ero FROM pts a JOIN pts b " +
        s"ON (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y) <= $r2 GROUP BY 1, 2, 3, 4), " +
        "op AS (SELECT a.id, a.z, max(b.ero) AS open FROM ero a JOIN ero b " +
        s"ON (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y) <= $r2 GROUP BY 1, 2) " +
        "SELECT id AS doc_id, z - open AS tophat FROM op ORDER BY doc_id"),

    "las_to_shapefile" -> Wd(
      "recs AS (SELECT row_number() OVER (ORDER BY id) AS rec, id, x, y, z, scan_angle FROM pts) " +
        "SELECT cast(rec as bigint) AS rec, id AS doc_id, round(x, 6) AS x, round(y, 6) AS y, " +
        "z, scan_angle FROM recs ORDER BY rec"),

    "las_to_multipoint_shapefile" -> Wd(
      "mp AS (SELECT id % 4 AS fl, count(*) AS n_points, " +
        "round(min(x), 6) AS min_x, round(max(x), 6) AS max_x, " +
        "round(min(y), 6) AS min_y, round(max(y), 6) AS max_y, " +
        "min(id) AS first_id, max(id) AS last_id FROM pts GROUP BY 1) " +
        "SELECT * FROM mp ORDER BY fl")
  )
}
