package graft.ops

import graft.core.{Dialect, DuckD, Gates, Geo, Lit, SparkD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LiDAR tail batch over the NYC point fixture (x = lon, y = lat,
  * z = n_chars — the Lidar.scala substrate):
  *
  *   - LidarPointDensity (lidar_analysis/lidar_point_density.rs): gridded
  *     density = points within `radius` of each cell centre / (π·r²).
  *     Block-bucketed FRS join (bucket width = radius, 3×3 probe), never a
  *     distance cross join.
  *   - LidarThin (lidar_thin.rs): `resolution` grid, ONE point kept per
  *     cell; selection = lowest z (the reference's --method=lowest), ties
  *     by smallest id (scan-order tie is output identity).
  *   - LidarTileFootprint (lidar_tile_footprint.rs): per tile the point
  *     count and bounding box (the hull option is not cloned — bbox is the
  *     default footprint).
  *   - FilterLidarScanAngles (filter_lidar_scan_angles.rs): drop points
  *     with |scan angle| above the threshold. The fixture has no scanner
  *     column, so the angle is derived deterministically from the page
  *     text digest (h3 % 41 − 20 ∈ [−20, 20]), identically in both
  *     engines.
  *   - LidarHistogram (lidar_histogram.rs): z histogram with fixed-width
  *     bins (100 n_chars units, origin 0).
  */
object Lidar2 extends Gates {

  private val nycBox = "lon >= -74.05e0 AND lon <= -73.85e0 AND lat >= 40.65e0 AND lat <= 40.85e0"
  private val radius = 0.02
  private val r2 = Lit.d(radius * radius)
  private val res = 0.0125
  private val cellsPerSide = 16 // 0.2 / res
  private val tileRes = 0.05
  private val tilesPerSide = 4
  private val maxScanAngle = 15L
  private val binW = 100L
  private val pi = Lit.d(math.Pi)

  private def ptsSql(d: Dialect): String =
    s"pts AS (SELECT doc_id AS id, lon AS x, lat AS y, cast(n_chars as bigint) AS z, " +
      s"cast(${Geo.h3(d)} % 41 - 20 as bigint) AS scan_angle " +
      s"FROM pages WHERE $nycBox)"

  private def pts(s: SparkSession, dir: String): DataFrame = {
    Tables.pages(s, dir).filter(expr(nycBox))
      .selectExpr("doc_id AS id", "lon AS x", "lat AS y", "cast(n_chars as bigint) AS z",
        s"cast(${Geo.h3(SparkD)} % 41 - 20 as bigint) AS scan_angle")
  }

  private def cellIx(rv: Double) = s"cast(floor((x - (-74.05e0)) / ${Lit.d(rv)}) as bigint)"
  private def cellIy(rv: Double) = s"cast(floor((y - 40.65e0) / ${Lit.d(rv)}) as bigint)"
  private val cellIxE = cellIx(res)
  private val cellIyE = cellIy(res)
  private val tileIxE = s"cast(floor((x - (-74.05e0)) / ${Lit.d(tileRes)}) as bigint)"
  private val tileIyE = s"cast(floor((y - 40.65e0) / ${Lit.d(tileRes)}) as bigint)"
  /** LidarThin --resolution (lidar_thin.rs): ONE point kept per grid cell
    * of side `rv`, lowest (z, id) wins — min_by packed struct vs the
    * twin's row_number, the identical tie rule. */
  private[ops] def thin(s: SparkSession, dir: String, rv: Double): DataFrame =
    pts(s, dir)
      .selectExpr("id", "z", s"${cellIx(rv)} AS ix", s"${cellIy(rv)} AS iy")
      .groupBy("ix", "iy")
      .agg(expr("min_by(named_struct('id', id, 'z', z), named_struct('z', z, 'id', id))").as("b"))
      .selectExpr("ix", "iy", "b.id AS doc_id", "b.z AS z")
      .orderBy("ix", "iy")

  private[ops] def thinDuck(rv: Double): String =
    s"${Geo.pagesWith(DuckD)}, ${ptsSql(DuckD)}, " +
      s"g AS (SELECT id, z, ${cellIx(rv)} AS ix, ${cellIy(rv)} AS iy, " +
      "row_number() OVER (PARTITION BY " +
      s"${cellIx(rv)}, ${cellIy(rv)} ORDER BY z, id) AS rn FROM pts) " +
      "SELECT ix, iy, id AS doc_id, z FROM g WHERE rn = 1 ORDER BY ix, iy"

  private def centreX(ix: String) = s"(-74.05e0 + (cast($ix as double) + 0.5e0) * ${Lit.d(res)})"
  private def centreY(iy: String) = s"(40.65e0 + (cast($iy as double) + 0.5e0) * ${Lit.d(res)})"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // density grid: cells probe the 3×3 surrounding point buckets
    "lidar_point_density" -> ((s, dir) => {
      import Lit.{d => L}
      val p = pts(s, dir)
        .withColumn("bx", expr(s"cast(floor(x / ${L(radius)}) as bigint)"))
        .withColumn("by", expr(s"cast(floor(y / ${L(radius)}) as bigint)"))
      val cells = s.range(0, (cellsPerSide * cellsPerSide).toLong)
        .selectExpr(s"id % $cellsPerSide AS cix", s"id div $cellsPerSide AS ciy")
        .selectExpr("cix", "ciy", s"${centreX("cix")} AS cx", s"${centreY("ciy")} AS cy")
      val probes = cells
        .withColumn("dx", explode(sequence(lit(-1), lit(1))))
        .withColumn("dy", explode(sequence(lit(-1), lit(1))))
        .selectExpr("cix", "ciy", "cx", "cy",
          s"cast(floor(cx / ${L(radius)}) as bigint) + dx AS bx",
          s"cast(floor(cy / ${L(radius)}) as bigint) + dy AS by")
      probes.join(p.select("bx", "by", "x", "y"), Seq("bx", "by"))
        .filter(expr(s"(x - cx) * (x - cx) + (y - cy) * (y - cy) <= $r2"))
        .groupBy("cix", "ciy")
        .agg(count(lit(1)).as("n"))
        .selectExpr("cix AS ix", "ciy AS iy",
          s"cast(n as double) / ($pi * $r2) AS density")
        .orderBy("ix", "iy")
    }),

    "lidar_thin" -> ((s, dir) => thin(s, dir, res)),

    "lidar_tile_footprint" -> ((s, dir) =>
      pts(s, dir)
        .selectExpr("id", "x", "y", s"$tileIxE AS tix", s"$tileIyE AS tiy")
        .groupBy("tix", "tiy")
        .agg(count(lit(1)).as("n"), min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"))
        .orderBy("tix", "tiy")),

    "filter_lidar_scan_angles" -> ((s, dir) =>
      pts(s, dir)
        .filter(expr(s"abs(scan_angle) <= $maxScanAngle"))
        .selectExpr("id AS doc_id", "scan_angle")
        .orderBy("doc_id")),

    // LasToAscii (las_to_ascii.rs): the point cloud through a REAL text
    // sink and back — CSV round trip certifies the export lossless.
    "las_to_ascii" -> ((s, dir) => {
      val tmp = s"/tmp/graft_las_ascii_${Math.abs(dir.hashCode)}"
      pts(s, dir).selectExpr("id", "x", "y", "z")
        .coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
      s.read.option("header", "true")
        .schema("id BIGINT, x DOUBLE, y DOUBLE, z BIGINT").csv(tmp)
        .orderBy("id")
    }),

    // LidarColourize (lidar_colourize.rs): points take the RGB of the
    // colour-composite cell under them (Color.scala's en/zh/es bands).
    "lidar_colourize" -> ((s, dir) => {
      val bands = Tables.pages(s, dir)
        .filter(expr("lang IN ('en', 'zh', 'es')"))
        .selectExpr("lang", s"${Geo.ix(SparkD, "lon", 5)} AS bx", s"${Geo.iy(SparkD, "lat", 5)} AS by")
        .groupBy("bx", "by")
        .agg(expr("cast(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) as bigint)").as("r"),
          expr("cast(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) as bigint)").as("g"),
          expr("cast(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) as bigint)").as("b"))
      pts(s, dir)
        .selectExpr("id", s"${Geo.ix(SparkD, "x", 5)} AS bx", s"${Geo.iy(SparkD, "y", 5)} AS by")
        .join(bands, Seq("bx", "by"), "left")
        .selectExpr("id AS doc_id", "coalesce(r, 0) AS r", "coalesce(g, 0) AS g", "coalesce(b, 0) AS b")
        .orderBy("doc_id")
    }),

    // NormalVectors (normal_vectors.rs): per-point plane fit over the
    // radius neighbourhood (point included); coordinates quantized to
    // integer micro-degrees so the normal-equation SUMS are exact, Cramer
    // solved in doubles (fixed scalar op order); < 3 neighbours or a
    // singular system -> the vertical normal (reference nodata analogue).
    "lidar_normal_vectors" -> ((s, dir) => {
      import Lit.{d => L}
      val p = pts(s, dir)
        .selectExpr("id", "x", "y", "z",
          "cast(round(x * 1.0e6) as bigint) AS qx", "cast(round(y * 1.0e6) as bigint) AS qy")
        .withColumn("bx", expr(s"cast(floor(x / ${L(radius)}) as bigint)"))
        .withColumn("by", expr(s"cast(floor(y / ${L(radius)}) as bigint)"))
      val probes = p
        .withColumn("dx", explode(sequence(lit(-1), lit(1))))
        .withColumn("dy", explode(sequence(lit(-1), lit(1))))
        .select(col("id"), col("x"), col("y"),
          (col("bx") + col("dx")).as("nbx"), (col("by") + col("dy")).as("nby"))
      val sums = probes.join(
          p.selectExpr("qx AS nqx", "qy AS nqy", "z AS nz", "x AS nx", "y AS ny",
            "bx AS nbx", "by AS nby"),
          Seq("nbx", "nby"))
        .filter(expr(s"(nx - x) * (nx - x) + (ny - y) * (ny - y) <= $r2"))
        .groupBy("id")
        .agg(count(lit(1)).as("n"),
          expr("cast(sum(nqx) as bigint)").as("sx"), expr("cast(sum(nqy) as bigint)").as("sy"),
          expr("cast(sum(nqx * nqx) as bigint)").as("sxx"),
          expr("cast(sum(nqy * nqy) as bigint)").as("syy"),
          expr("cast(sum(nqx * nqy) as bigint)").as("sxy"),
          expr("cast(sum(nz) as bigint)").as("sz"),
          expr("cast(sum(nqx * nz) as bigint)").as("sxz"),
          expr("cast(sum(nqy * nz) as bigint)").as("syz"))
      sums.selectExpr(Seq("id AS doc_id") ++ normalSelect: _*).orderBy("doc_id")
    }),

    "lidar_histogram" -> ((s, dir) =>
      pts(s, dir)
        .selectExpr("id", "z", s"(z div $binW) AS bin")
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), min("z").as("min_z"), max("z").as("max_z"))
        .orderBy("bin"))
  )

  /** normal = (-b, -c, 1)/|..| from the double-Cramer plane slopes. */
  private[ops] def normalSelect: Seq[String] = {
    val det = "(cast(n as double) * (cast(sxx as double) * cast(syy as double) - cast(sxy as double) * cast(sxy as double)) " +
      "- cast(sx as double) * (cast(sx as double) * cast(syy as double) - cast(sxy as double) * cast(sy as double)) " +
      "+ cast(sy as double) * (cast(sx as double) * cast(sxy as double) - cast(sxx as double) * cast(sy as double)))"
    val detB = "(cast(n as double) * (cast(sxz as double) * cast(syy as double) - cast(sxy as double) * cast(syz as double)) " +
      "- cast(sz as double) * (cast(sx as double) * cast(syy as double) - cast(sxy as double) * cast(sy as double)) " +
      "+ cast(sy as double) * (cast(sx as double) * cast(syz as double) - cast(sxz as double) * cast(sy as double)))"
    val detC = "(cast(n as double) * (cast(sxx as double) * cast(syz as double) - cast(sxz as double) * cast(sxy as double)) " +
      "- cast(sx as double) * (cast(sx as double) * cast(syz as double) - cast(sxz as double) * cast(sy as double)) " +
      "+ cast(sz as double) * (cast(sx as double) * cast(sxy as double) - cast(sxx as double) * cast(sy as double)))"
    val b = s"($detB / $det * 1.0e6)"
    val c = s"($detC / $det * 1.0e6)"
    val mag = s"sqrt(($b) * ($b) + ($c) * ($c) + 1.0e0)"
    Seq(
      s"CASE WHEN n >= 3 AND $det <> 0.0e0 THEN round(-($b) / ($mag), 6) ELSE 0.0e0 END AS nx_",
      s"CASE WHEN n >= 3 AND $det <> 0.0e0 THEN round(-($c) / ($mag), 6) ELSE 0.0e0 END AS ny_",
      s"CASE WHEN n >= 3 AND $det <> 0.0e0 THEN round(1.0e0 / ($mag), 6) ELSE 1.0e0 END AS nz_")
  }

  def oracles: Map[String, String] = Map(

    "lidar_normal_vectors" ->
      (s"${Geo.pagesWith(DuckD)}, ${ptsSql(DuckD)}, " +
        "qp AS (SELECT id, x, y, z, cast(round(x * 1.0e6) as bigint) AS qx, " +
        "cast(round(y * 1.0e6) as bigint) AS qy FROM pts), " +
        "sums AS (SELECT a.id, count(*) AS n, " +
        "cast(sum(b.qx) as bigint) AS sx, cast(sum(b.qy) as bigint) AS sy, " +
        "cast(sum(b.qx * b.qx) as bigint) AS sxx, cast(sum(b.qy * b.qy) as bigint) AS syy, " +
        "cast(sum(b.qx * b.qy) as bigint) AS sxy, cast(sum(b.z) as bigint) AS sz, " +
        "cast(sum(b.qx * b.z) as bigint) AS sxz, cast(sum(b.qy * b.z) as bigint) AS syz " +
        "FROM qp a JOIN qp b " +
        s"ON (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y) <= $r2 GROUP BY a.id) " +
        s"SELECT id AS doc_id, ${normalSelect.mkString(", ")} FROM sums ORDER BY doc_id"),

    "lidar_point_density" ->
      (s"${Geo.pagesWith(DuckD)}, ${ptsSql(DuckD)}, " +
        s"cells AS (SELECT a.r AS cix, b.r AS ciy FROM range(0, $cellsPerSide) a(r) " +
        s"CROSS JOIN range(0, $cellsPerSide) b(r)), " +
        s"cc AS (SELECT cix, ciy, ${centreX("cix")} AS cx, ${centreY("ciy")} AS cy FROM cells), " +
        "hits AS (SELECT cc.cix, cc.ciy, count(*) AS n FROM cc JOIN pts p " +
        s"ON (p.x - cc.cx) * (p.x - cc.cx) + (p.y - cc.cy) * (p.y - cc.cy) <= $r2 " +
        "GROUP BY 1, 2) " +
        s"SELECT cix AS ix, ciy AS iy, cast(n as double) / ($pi * $r2) AS density " +
        "FROM hits ORDER BY ix, iy"),

    "lidar_thin" -> thinDuck(res),

    "lidar_tile_footprint" ->
      (s"${Geo.pagesWith(DuckD)}, ${ptsSql(DuckD)} " +
        s"SELECT $tileIxE AS tix, $tileIyE AS tiy, count(*) AS n, " +
        "min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y " +
        "FROM pts GROUP BY 1, 2 ORDER BY tix, tiy"),

    "filter_lidar_scan_angles" ->
      (s"${Geo.pagesWith(DuckD)}, ${ptsSql(DuckD)} " +
        s"SELECT id AS doc_id, scan_angle FROM pts WHERE abs(scan_angle) <= $maxScanAngle " +
        "ORDER BY doc_id"),

    "las_to_ascii" ->
      (s"${Geo.pagesWith(DuckD)}, ${ptsSql(DuckD)} " +
        "SELECT id, x, y, z FROM pts ORDER BY id"),

    "lidar_colourize" ->
      (s"${Geo.pagesWith(DuckD)}, ${ptsSql(DuckD)}, " +
        s"bands AS (SELECT ${Geo.ix(DuckD, "lon", 5)} AS bx, ${Geo.iy(DuckD, "lat", 5)} AS by, " +
        "cast(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) as bigint) AS r, " +
        "cast(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) as bigint) AS g, " +
        "cast(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) as bigint) AS b " +
        "FROM pages WHERE lang IN ('en', 'zh', 'es') GROUP BY 1, 2) " +
        s"SELECT p.id AS doc_id, coalesce(bands.r, 0) AS r, coalesce(bands.g, 0) AS g, " +
        s"coalesce(bands.b, 0) AS b FROM pts p " +
        s"LEFT JOIN bands ON bands.bx = ${Geo.ix(DuckD, "p.x", 5)} " +
        s"AND bands.by = ${Geo.iy(DuckD, "p.y", 5)} ORDER BY doc_id"),

    "lidar_histogram" ->
      (s"${Geo.pagesWith(DuckD)}, ${ptsSql(DuckD)} " +
        s"SELECT (z // $binW) AS bin, count(*) AS n, min(z) AS min_z, max(z) AS max_z " +
        "FROM pts GROUP BY 1 ORDER BY bin")
  )
}
