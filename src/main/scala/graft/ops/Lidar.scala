package graft.ops

import graft.core.{Dialect, DuckD, Gates, Geo, Lit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LiDAR algorithmic tail over the NYC point fixture (z = n_chars):
  *
  *   - LidarGroundPointFilter (lidar_analysis/lidar_ground_point_filter.rs
  *     :280-428, the slope_norm path): residual = z − opening(z), where
  *     opening = dilation(erosion) over the fixed-radius neighbourhood
  *     (erosion = min z within R, :313-341; dilation = max of the
  *     neighbourhood minima, :358-396); ground ⇔ residual <
  *     height_threshold (:428). The reference's additional per-neighbour
  *     slope test is a documented omission of this subset. Two FRS
  *     block-equi joins (bucket width R, 3×3 offsets) — never a distance
  *     cross join; z is integer so min/max/residual are exact.
  *   - LidarOutliers (lidar_outliers.rs:8-10): a point is an outlier when
  *     |z − mean(neighbourhood z, EXCLUDING the point)| exceeds elev_diff;
  *     the self-excluded mean is (Σz − z)/(n − 1), exact integer sums.
  */
object Lidar extends Gates {

  private val nycBox = "lon >= -74.05e0 AND lon <= -73.85e0 AND lat >= 40.65e0 AND lat <= 40.85e0"
  private val radius = 0.02
  private val r2 = Lit.d(radius * radius)
  private val heightT = 50L // height_threshold in n_chars units
  private val elevDiff = 50.0

  private def ptsSql(d: Dialect): String =
    s"pts AS (SELECT doc_id AS id, lon AS x, lat AS y, cast(n_chars as bigint) AS z " +
      s"FROM pages WHERE $nycBox)"

  /** Spark FRS block join: every pair (p, n) within `radius`. */
  private def radiusPairs(s: SparkSession, dir: String): DataFrame = {
    import Lit.{d => L}
    val pts = Tables.pages(s, dir).filter(expr(nycBox))
      .selectExpr("doc_id AS id", "lon AS x", "lat AS y", "cast(n_chars as bigint) AS z")
    val withB = pts
      .withColumn("bx", expr(s"cast(floor(x / ${L(radius)}) as bigint)"))
      .withColumn("by", expr(s"cast(floor(y / ${L(radius)}) as bigint)"))
    val probes = withB
      .withColumn("dx", explode(sequence(lit(-1), lit(1))))
      .withColumn("dy", explode(sequence(lit(-1), lit(1))))
      .select(col("id"), col("x"), col("y"), col("z"),
        (col("bx") + col("dx")).as("nbx"), (col("by") + col("dy")).as("nby"))
    probes.join(
        withB.select(col("id").as("nid"), col("x").as("nx"), col("y").as("ny"),
          col("z").as("nz"), col("bx").as("nbx"), col("by").as("nby")),
        Seq("nbx", "nby"))
      .filter(expr(s"(nx - x) * (nx - x) + (ny - y) * (ny - y) <= $r2"))
      .select("id", "x", "y", "z", "nid", "nz")
  }

  private def duckPairs: String =
    "pairs AS (SELECT a.id, a.x, a.y, a.z, b.id AS nid, b.z AS nz FROM pts a JOIN pts b " +
      s"ON (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y) <= $r2)"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "lidar_ground_point_filter" -> ((s, dir) => {
      val pairs = radiusPairs(s, dir)
      val eroded = pairs.groupBy("id").agg(min("nz").as("emin"))
      // dilation probes the SAME pair structure with the eroded values
      val dil = pairs.select(col("id"), col("z"), col("nid"))
        .join(eroded.select(col("id").as("nid"), col("emin").as("nemin")), "nid")
        .groupBy("id").agg(max("z").as("z"), max("nemin").as("opened"))
      dil.selectExpr("id AS doc_id", "cast(z - opened as bigint) AS residual",
          s"CASE WHEN z - opened < $heightT THEN 1 ELSE 0 END AS is_ground")
        .orderBy("doc_id")
    }),

    "lidar_outliers" -> ((s, dir) => {
      radiusPairs(s, dir)
        .groupBy("id")
        .agg(max("z").as("z"), expr("cast(sum(nz) as bigint)").as("sz"),
          count(lit(1)).as("n"))
        .selectExpr("id AS doc_id",
          "CASE WHEN n > 1 THEN abs(cast(z as double) - " +
            "cast(sz - z as double) / cast(n - 1 as double)) END AS adiff",
          s"CASE WHEN n > 1 AND abs(cast(z as double) - " +
            s"cast(sz - z as double) / cast(n - 1 as double)) > ${Lit.d(elevDiff)} " +
            "THEN 1 ELSE 0 END AS is_outlier")
        .orderBy("doc_id")
    })
  )

  def oracles: Map[String, String] = Map(
    "lidar_ground_point_filter" ->
      (s"${Geo.pagesWith(DuckD)}, ${ptsSql(DuckD)}, $duckPairs, " +
        "er AS (SELECT id, min(nz) AS emin FROM pairs GROUP BY id), " +
        "dil AS (SELECT p.id, max(p.z) AS z, max(er.emin) AS opened FROM pairs p " +
        "JOIN er ON er.id = p.nid GROUP BY p.id) " +
        "SELECT id AS doc_id, cast(z - opened as bigint) AS residual, " +
        s"CASE WHEN z - opened < $heightT THEN 1 ELSE 0 END AS is_ground " +
        "FROM dil ORDER BY doc_id"),
    "lidar_outliers" ->
      (s"${Geo.pagesWith(DuckD)}, ${ptsSql(DuckD)}, $duckPairs, " +
        "ag AS (SELECT id, max(z) AS z, cast(sum(nz) as bigint) AS sz, count(*) AS n " +
        "FROM pairs GROUP BY id) " +
        "SELECT id AS doc_id, CASE WHEN n > 1 THEN abs(cast(z as double) - " +
        "cast(sz - z as double) / cast(n - 1 as double)) END AS adiff, " +
        s"CASE WHEN n > 1 AND abs(cast(z as double) - " +
        s"cast(sz - z as double) / cast(n - 1 as double)) > ${Lit.d(elevDiff)} " +
        "THEN 1 ELSE 0 END AS is_outlier " +
        "FROM ag ORDER BY doc_id")
  )
}
