package graft.ops

import graft.core.{Dialect, DuckD, Gates, Geo, Lit, SparkD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Remaining single tools:
  *
  *   - CrispnessIndex (math_stat_analysis/crispness_index.rs:238-297):
  *     C = Σ(p−µ)² / (Σp·(1−µ)² + (n−Σp)·µ²) over a probability image.
  *     With p = v/M (density normalized by its max) the whole expression
  *     reduces over integers: C = Σ(n·v − S)² / (S·n·(n·M − S)) — the
  *     numerator is summed exactly (decimal/hugeint: (n·v)² overflows
  *     int64 at sf0.1), ONE double division chain at the end.
  *   - FillMissingData (terrain_analysis/fill_missing_data.rs): IDW
  *     (1/d², the reference's default exponent 2) fill of nodata holes;
  *     the fixture DEM is complete, so holes are a deterministic
  *     md5-derived 4% mask and the fill interpolates the valid cells of
  *     the Chebyshev-4 window (the reference wavefronts hole-edge cells;
  *     at 4% single-cell holes the window IDW is the same computation).
  *   - Profile (terrain_analysis/profile.rs): station-distance / z table
  *     sampled along a line feature, one row per crossed cell.
  *   - MaxBranchLength (terrain_analysis/max_branch_length.rs:288-400,
  *     Lindsay & Seibert 2013): for each ADJACENT cell pair, both flow
  *     paths are traced to their junction; each cell keeps the max
  *     distance-to-junction over its pairs (ridge/divide mapping). Two
  *     D8 paths share a common SUFFIX once they meet, so the reference's
  *     alternating walk finds exactly the minimum-distance common cell:
  *     re-expressed as the bounded path closure (O(cells·path-length)
  *     rows) self-joined per adjacent pair with an integer
  *     (n_card, n_diag) length carry. Paths with no junction take the
  *     full path length (the reference walks to the terminal).
  */
object Singles extends Gates {

  // ---- crispness --------------------------------------------------------

  private def crispness(d: Dialect): String = {
    val sq = d match {
      case DuckD => "sum(cast(sc.n * g.v - sc.s as hugeint) * cast(sc.n * g.v - sc.s as hugeint))"
      case SparkD => "sum(cast(sc.n * g.v - sc.s as decimal(38,0)) * cast(sc.n * g.v - sc.s as decimal(38,0)))"
    }
    s"${Geo.pagesWith(d)}, ${Geo.densityCte(d, 6)}, " +
      "sc AS (SELECT cast(sum(v) as bigint) AS s, count(*) AS n, max(v) AS m FROM g), " +
      s"nm AS (SELECT $sq AS num, max(sc.s) AS s, max(sc.n) AS n, max(sc.m) AS m " +
      "FROM g, sc) " +
      "SELECT round(((cast(num as double) / cast(s as double)) / cast(n as double)) / " +
      "cast(n * m - s as double), 6) AS crispness FROM nm"
  }

  // ---- fill_missing_data ------------------------------------------------

  private val holeCond = "hbit % 25 = 0"
  private val fillR = 4

  private def fillMissing(d: Dialect): String = {
    val hb = d.md5Bits(s"('h' || ${d.toStr("ix")} || '_' || ${d.toStr("iy")})", 1)
    val offs = d match {
      case DuckD => s"offs AS (SELECT a.r AS dx, b.r AS dy FROM range(-$fillR, ${fillR + 1}) a(r) " +
        s"CROSS JOIN range(-$fillR, ${fillR + 1}) b(r) WHERE NOT (a.r = 0 AND b.r = 0))"
      case SparkD => s"offs AS (SELECT dx, dy FROM (SELECT explode(sequence(-$fillR, $fillR)) AS dx) t " +
        s"LATERAL VIEW explode(sequence(-$fillR, $fillR)) ex AS dy WHERE NOT (dx = 0 AND dy = 0))"
    }
    s"hd AS (SELECT ix, iy, z, ($hb % 25) AS hbit FROM dem), " +
      s"valid AS (SELECT ix, iy, z FROM hd WHERE NOT ($holeCond)), " +
      s"holes AS (SELECT ix, iy FROM hd WHERE $holeCond), " +
      s"$offs, " +
      "cand AS (SELECT h.ix, h.iy, v.z, (o.dx * o.dx + o.dy * o.dy) AS d2 " +
      "FROM holes h JOIN offs o ON true " +
      "JOIN valid v ON v.ix = h.ix + o.dx AND v.iy = h.iy + o.dy), " +
      "fill AS (SELECT ix, iy, round(sum(cast(z as double) / cast(d2 as double)) / " +
      "sum(1.0e0 / cast(d2 as double)), 6) AS zf FROM cand GROUP BY ix, iy) " +
      "SELECT hd.ix, hd.iy, CASE WHEN hd.hbit % 25 = 0 THEN f.zf " +
      "ELSE cast(hd.z as double) END AS z_filled " +
      "FROM hd LEFT JOIN fill f ON f.ix = hd.ix AND f.iy = hd.iy ORDER BY 1, 2"
  }

  // ---- profile ----------------------------------------------------------

  /** segment (5,5)→(40,27), dominant-axis sampling (one row per crossed
    * column), station distance = t · |seg| / 35. */
  private val segLen = Lit.d(math.sqrt(35.0 * 35.0 + 22.0 * 22.0))

  private def profile(d: Dialect): String = {
    val ser = d match {
      case DuckD => "ser AS (SELECT unnest(range(0, 36)) AS t)"
      case SparkD => "ser AS (SELECT explode(sequence(0, 35)) AS t)"
    }
    s"$ser, " +
      "pc AS (SELECT t, 5 + t AS px, " +
      "cast(floor(5.0e0 + cast(t * 22 as double) / 35.0e0) as bigint) AS py FROM ser) " +
      s"SELECT pc.t AS station, pc.px AS ix, pc.py AS iy, " +
      s"round(cast(pc.t as double) * $segLen / 35.0e0, 6) AS dist, d.z " +
      "FROM pc JOIN dem d ON d.ix = pc.px AND d.iy = pc.py ORDER BY 1"
  }

  // ---- max_branch_length ------------------------------------------------

  private val sqrt2 = Lit.d(math.sqrt(2.0))

  private def mblSpark(s: SparkSession, dir: String): DataFrame = {
    val d = Dem.dd(s, dir).localCheckpoint()
    val e = Dem.edges(s, dir).localCheckpoint() // ix, iy, tx, ty, ec, ed
    val p0 = d.selectExpr("ix AS sx", "iy AS sy", "ix AS cx", "iy AS cy",
      "cast(0 as bigint) AS nc", "cast(0 as bigint) AS nd")
    // bounded downstream path closure; grows to O(cells · path length)
    val paths = Dem.converge(p0, 48, 4, "mbl_paths") { cur =>
      val adv = cur.join(
          e.selectExpr("ix AS cx", "iy AS cy", "tx", "ty", "ec", "ed"), Seq("cx", "cy"))
        .selectExpr("sx", "sy", "tx AS cx", "ty AS cy", "nc + ec AS nc", "nd + ed AS nd")
      p0.unionByName(adv)
        .groupBy("sx", "sy", "cx", "cy").agg(min("nc").as("nc"), min("nd").as("nd"))
    }.localCheckpoint()
    val withDir = d.filter(col("dir") >= 0).select("ix", "iy")
    def pairs(dx: Int, dy: Int): DataFrame = {
      val ab = withDir.join(
        withDir.selectExpr(s"ix - ($dx) AS ix", s"iy - ($dy) AS iy"), Seq("ix", "iy"), "left_semi")
      val pa = paths.join(ab.selectExpr("ix AS sx", "iy AS sy"), Seq("sx", "sy"), "left_semi")
      val pb = paths.selectExpr("sx", "sy", "cx", "cy", "nc AS nc2", "nd AS nd2")
      val common = pa.join(
          pb.selectExpr(s"sx - ($dx) AS sx", s"sy - ($dy) AS sy", "cx", "cy", "nc2", "nd2"),
          Seq("sx", "sy", "cx", "cy"))
        .groupBy("sx", "sy")
        .agg(expr(s"min_by(named_struct('nc', nc, 'nd', nd, 'nc2', nc2, 'nd2', nd2), " +
          s"cast(nc as double) + cast(nd as double) * $sqrt2)").as("mt"))
        .selectExpr("sx", "sy",
          s"cast(mt.nc as double) + cast(mt.nd as double) * $sqrt2 AS bla",
          s"cast(mt.nc2 as double) + cast(mt.nd2 as double) * $sqrt2 AS blb")
      val full = pa.groupBy("sx", "sy")
        .agg(expr(s"max(cast(nc as double) + cast(nd as double) * $sqrt2)").as("fla"))
      val fullB = paths
        .join(ab.selectExpr(s"ix + ($dx) AS sx", s"iy + ($dy) AS sy"),
          Seq("sx", "sy"), "left_semi")
        .groupBy("sx", "sy")
        .agg(expr(s"max(cast(nc as double) + cast(nd as double) * $sqrt2)").as("flb"))
      val aSide = ab.selectExpr("ix AS sx", "iy AS sy")
        .join(common.select("sx", "sy", "bla"), Seq("sx", "sy"), "left")
        .join(full, Seq("sx", "sy"), "left")
        .selectExpr("sx AS ix", "sy AS iy", "coalesce(bla, fla) AS bl")
      val bSide = ab.selectExpr(s"ix + ($dx) AS bx", s"iy + ($dy) AS by",
          "ix AS sx", "iy AS sy")
        .join(common.select("sx", "sy", "blb"), Seq("sx", "sy"), "left")
        .join(fullB.selectExpr("sx AS bx", "sy AS by", "flb"), Seq("bx", "by"), "left")
        .selectExpr("bx AS ix", "by AS iy", "coalesce(blb, flb) AS bl")
      aSide.unionByName(bSide)
    }
    pairs(1, 0).unionByName(pairs(0, 1))
      .groupBy("ix", "iy").agg(expr("round(max(bl), 6)").as("branch_len"))
      .orderBy("ix", "iy")
  }

  private def mblDuck: String = {
    val pd = "pd AS MATERIALIZED (SELECT p.sx, p.sy, p.cx, p.cy, p.nc, p.nd FROM pathsd p)"
    val pairArm = Seq((1, 0), (0, 1)).map { case (dx, dy) =>
      s"SELECT a.ix, a.iy, a.ix + ($dx) AS bx, a.iy + ($dy) AS by FROM dd a " +
        s"JOIN dd b ON b.ix = a.ix + ($dx) AND b.iy = a.iy + ($dy) " +
        "WHERE a.dir >= 0 AND b.dir >= 0"
    }.mkString(" UNION ALL ")
    s"pathsd AS (SELECT ix AS sx, iy AS sy, ix AS cx, iy AS cy, " +
      "cast(0 as bigint) AS nc, cast(0 as bigint) AS nd FROM dd " +
      "UNION ALL SELECT p.sx, p.sy, e.tx, e.ty, p.nc + e.ec, p.nd + e.ed " +
      "FROM pathsd p JOIN e ON e.ix = p.cx AND e.iy = p.cy), " +
      s"$pd, " +
      s"prs AS ($pairArm), " +
      "meet AS (SELECT pr.ix, pr.iy, pr.bx, pr.by, " +
      s"arg_min(cast(pa.nc as double) + cast(pa.nd as double) * $sqrt2, " +
      s"cast(pa.nc as double) + cast(pa.nd as double) * $sqrt2) AS bla, " +
      s"arg_min(cast(pb.nc as double) + cast(pb.nd as double) * $sqrt2, " +
      s"cast(pa.nc as double) + cast(pa.nd as double) * $sqrt2) AS blb " +
      "FROM prs pr JOIN pd pa ON pa.sx = pr.ix AND pa.sy = pr.iy " +
      "JOIN pd pb ON pb.sx = pr.bx AND pb.sy = pr.by AND pb.cx = pa.cx AND pb.cy = pa.cy " +
      "GROUP BY 1, 2, 3, 4), " +
      "fl AS (SELECT sx, sy, max(cast(nc as double) + cast(nd as double) * " + sqrt2 + ") AS flen " +
      "FROM pd GROUP BY 1, 2), " +
      "scatter AS (" +
      "SELECT pr.ix, pr.iy, coalesce(m.bla, fa.flen) AS bl FROM prs pr " +
      "LEFT JOIN meet m ON m.ix = pr.ix AND m.iy = pr.iy AND m.bx = pr.bx AND m.by = pr.by " +
      "JOIN fl fa ON fa.sx = pr.ix AND fa.sy = pr.iy " +
      "UNION ALL " +
      "SELECT pr.bx, pr.by, coalesce(m.blb, fb.flen) AS bl FROM prs pr " +
      "LEFT JOIN meet m ON m.ix = pr.ix AND m.iy = pr.iy AND m.bx = pr.bx AND m.by = pr.by " +
      "JOIN fl fb ON fb.sx = pr.bx AND fb.sy = pr.by) " +
      "SELECT ix, iy, round(max(bl), 6) AS branch_len FROM scatter " +
      "GROUP BY 1, 2 ORDER BY 1, 2"
  }

  // ---- wiring -----------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "crispness_index" -> ((s, dir) => {
      Tables.register(s, dir)
      s.sql(crispness(SparkD))
    }),
    "fill_missing_data" -> ((s, dir) => {
      Dem.dem(s, dir).createOrReplaceTempView("dem")
      s.sql(s"WITH ${fillMissing(SparkD)}")
    }),
    "profile" -> ((s, dir) => {
      Dem.dem(s, dir).createOrReplaceTempView("dem")
      s.sql(s"WITH ${profile(SparkD)}")
    }),
    "max_branch_length" -> ((s, dir) => mblSpark(s, dir))
  )

  def oracles: Map[String, String] = Map(
    "crispness_index" -> crispness(DuckD),
    "fill_missing_data" -> s"WITH RECURSIVE ${Dem.duckDemCtes}, ${fillMissing(DuckD)}",
    "profile" -> s"WITH RECURSIVE ${Dem.duckDemCtes}, ${profile(DuckD)}",
    "max_branch_length" -> s"WITH RECURSIVE ${Dem.duckDemCtes}, $mblDuck"
  )
}
