package graft.ops

import graft.core.{Dialect, DuckD, Gates, SparkD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hydro/stream tail batch 3 over the DEM frame:
  *
  *   - Rho8Pointer (hydro_analysis/rho8_pointer.rs:218-234): D8 with the
  *     diagonal slope divided by (2 − r), r ∈ [0,1). The reference draws r
  *     from thread_rng; here r is the md5 hash of (cell, direction) —
  *     deterministic and identical in both engines (documented
  *     derivation difference, same operator semantics).
  *   - D8MassFlux (d8_mass_flux.rs): flux(n) = load(n) + Σ_{c→n}
  *     outflow(c), outflow = (flux − absorption)·efficiency. Mass is
  *     carried in INTEGER units with efficiency as (x·effpct) div 100 —
  *     the reference's double accumulation replayed in exact fixed point,
  *     so distributed summation order cannot move a bit. Loading = 1 +
  *     md5%5, absorption = 0, efficiency = 80..99% per cell (md5).
  *   - FindParallelFlow (find_parallel_flow.rs): count of 8-neighbours
  *     sharing the cell's D8 direction.
  *   - ElevAbovePit (elev_above_pit.rs): z − z(flow-path terminal), via
  *     pointer-jumped basin roots.
  *   - LongestFlowpath (longest_flowpath.rs): per basin, the maximum
  *     flow-path length to the terminal (integer step counts).
  *   - FloodOrder (flood_order.rs): the priority-flood pop order =
  *     ascending filled-surface rank; queue-insertion ties broken
  *     deterministically by (z, ix, iy) — doc'd deviation from the
  *     reference's in-memory queue order. Global sort-rank (the
  *     distributed analogue is a total-order sort, Spark's range
  *     partitioner).
  *   - ExtractValleys (stream_network_analysis/extract_valleys.rs, the
  *     Peucker–Douglas "lower quadrants" default, no line-thinning):
  *     the highest cell of every 2×2 window is marked, unmarked cells are
  *     valley cells; ties to the smaller (ix, iy) (scan-order tie doc'd).
  *   - StreamSlopeContinuous (stream_slope_continuous.rs): per stream
  *     cell, (z − z(downstream))/steplen; outlets 0.
  *   - LongProfile (long_profile.rs): the profile table (link_id,
  *     distance-to-outlet, z) per stream cell.
  *   - RasterizeStreams (rasterize_streams.rs): link id per stream cell,
  *     0 background, over the full grid.
  *   - RasterStreamsToVector (raster_streams_to_vector.rs): per-link
  *     vector summary (link id, cell count, channel length).
  */
object Hydro4 extends Gates {

  import Dem.{G, lenOf}

  // reference direction order (d8_pointer.rs): i → (dx, dy)
  private val dirs: Seq[(Int, Int, Int)] =
    Seq((1, -1), (1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (-1, -1), (0, -1))
      .zipWithIndex.map { case ((dx, dy), i) => (i, dx, dy) }
  private val dirIdxE =
    dirs.map { case (i, dx, dy) => s"WHEN dx = $dx AND dy = $dy THEN $i" }
      .mkString("CASE ", " ", " END")

  private def rho8R(d: Dialect): String =
    s"(cast(${d.md5Bits(s"('r' || ${d.toStr("ix")} || '_' || ${d.toStr("iy")} || '_' || ${d.toStr("dirx")})", 1)} % 1000 as double) / 1000.0e0)"

  private def rho8Slope(d: Dialect): String =
    s"CASE WHEN dx = 0 OR dy = 0 THEN cast(z - nz as double) " +
      s"ELSE cast(z - nz as double) / (2.0e0 - ${rho8R(d)}) END"

  private def loadE(d: Dialect): String =
    s"(1 + ${d.md5Bits(s"('l' || ${d.toStr("ix")} || '_' || ${d.toStr("iy")})", 1)} % 5)"
  private def effE(d: Dialect): String =
    s"(80 + ${d.md5Bits(s"('e' || ${d.toStr("ix")} || '_' || ${d.toStr("iy")})", 1)} % 20)"

  /** basin terminal (root) coords per cell — plain pointer jumping. */
  private def demRoots(s: SparkSession, dir: String): DataFrame =
    Dem.memo(s, dir, "dem_roots") {
      val p0 = Dem.dd(s, dir).selectExpr("ix", "iy",
        "CASE WHEN dir >= 0 THEN tx ELSE ix END AS rx",
        "CASE WHEN dir >= 0 THEN ty ELSE iy END AS ry")
      Dem.roots(p0, "dem_roots")
    }

  /** downslope path length to the terminal as (nc, nd) counts. */
  private[ops] def downLen(s: SparkSession, dir: String): DataFrame =
    Dem.memo(s, dir, "down_len") {
      val e = Dem.edges(s, dir)
      val grid = Dem.dd(s, dir)
      val init = grid.selectExpr("ix", "iy",
        "CASE WHEN dir < 0 THEN cast(0 as bigint) END AS nc",
        "CASE WHEN dir < 0 THEN cast(0 as bigint) END AS nd")
      Dem.converge(init, 96, 4, "down_len") { cur =>
        val down = e.join(cur.selectExpr("ix AS tx", "iy AS ty", "nc AS dnc", "nd AS dnd"),
            Seq("tx", "ty"))
          .selectExpr("ix", "iy", "dnc + ec AS cnc", "dnd + ed AS cnd")
        cur.join(down, Seq("ix", "iy"), "left")
          .selectExpr("ix", "iy", "coalesce(nc, cnc) AS nc", "coalesce(nd, cnd) AS nd")
      }
    }

  /** exact-integer mass flux, ready-gated like Hydro3.divAgg. */
  private def massFlux(s: SparkSession, dir: String): DataFrame =
    Dem.memo(s, dir, "mass_flux") {
      val e = Dem.edges(s, dir)
      val nin = Dem.indegAll(s, dir)
      val g = Dem.dem(s, dir).selectExpr("ix", "iy",
        s"cast(${loadE(SparkD)} as bigint) AS load", s"cast(${effE(SparkD)} as bigint) AS eff")
      val init = g.join(nin, Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy", "load", "eff",
          "CASE WHEN n_in IS NULL THEN load END AS flux")
      // cap = twin unroll (fluxRounds) + checkEvery (ADVICE r4 parity rule)
      Dem.converge(init, fluxRounds + 4, 4, "mass_flux") { cur =>
        val inflow = e.join(cur, Seq("ix", "iy"))
          .selectExpr("tx", "ty", "CASE WHEN flux IS NULL THEN 1 ELSE 0 END AS nn",
            "(flux * eff) div 100 AS outflow")
          .groupBy(col("tx").as("ix"), col("ty").as("iy"))
          .agg(expr("cast(sum(nn) as bigint)").as("nnull"),
            expr("cast(sum(outflow) as bigint)").as("inflow"))
        cur.join(inflow, Seq("ix", "iy"), "left")
          .selectExpr("ix", "iy", "load", "eff",
            "CASE WHEN flux IS NOT NULL THEN flux WHEN nnull = 0 THEN load + inflow END AS flux")
      }
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "rho8_pointer" -> ((s, dir) => {
      val h = Dem.halo(Dem.dem(s, dir))
        .withColumn("dirx", expr(dirIdxE))
        .withColumn("slope", expr(rho8Slope(SparkD)))
        .filter(col("slope") > 0.0)
      val best = h.groupBy("ix", "iy")
        .agg(expr("min_by(dirx, named_struct('ns', -slope, 'd', dirx))").as("dir"))
      Dem.dem(s, dir).select("ix", "iy").join(best, Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy",
          "CASE WHEN dir IS NOT NULL THEN cast(pow(2.0e0, cast(dir as double)) as bigint) ELSE 0 END AS pointer")
        .orderBy("ix", "iy")
    }),

    "d8_mass_flux" -> ((s, dir) =>
      massFlux(s, dir).select("ix", "iy", "flux").orderBy("ix", "iy")),

    "find_parallel_flow" -> ((s, dir) => {
      val d = Dem.dd(s, dir)
      val nbrs = d.filter(col("dir") >= 0)
        .withColumn("ox", explode(sequence(lit(-1), lit(1))))
        .withColumn("oy", explode(sequence(lit(-1), lit(1))))
        .filter(expr("NOT (ox = 0 AND oy = 0)"))
        .selectExpr("ix + ox AS ix", "iy + oy AS iy", "dir AS ndir")
      d.filter(col("dir") >= 0)
        .join(nbrs, Seq("ix", "iy"), "left")
        .groupBy("ix", "iy")
        .agg(expr("cast(sum(CASE WHEN ndir = dir THEN 1 ELSE 0 END) as bigint)").as("n_parallel"))
        .orderBy("ix", "iy")
    }),

    "elev_above_pit" -> ((s, dir) =>
      demRoots(s, dir)
        .join(Dem.dem(s, dir), Seq("ix", "iy"))
        .join(Dem.dem(s, dir).selectExpr("ix AS rx", "iy AS ry", "z AS rz"), Seq("rx", "ry"))
        .selectExpr("ix", "iy", "cast(z - rz as bigint) AS elev_above_pit")
        .orderBy("ix", "iy")),

    "longest_flowpath" -> ((s, dir) =>
      demRoots(s, dir)
        .join(downLen(s, dir), Seq("ix", "iy"))
        .groupBy(col("rx"), col("ry"))
        .agg(expr(s"max(${lenOf("nc", "nd")})").as("mx"))
        .selectExpr("rx * 1000 + ry AS basin", "mx AS longest_len")
        .orderBy("basin")),

    "flood_order" -> ((s, dir) =>
      HydroFill.filled(s, dir)
        .withColumn("flood_ord", row_number().over(
          Window.orderBy(col("f"), col("z"), col("ix"), col("iy"))))
        .selectExpr("ix", "iy", "cast(flood_ord as bigint) AS flood_ord")
        .orderBy("ix", "iy")),

    "extract_valleys" -> ((s, dir) => {
      val g = Dem.dem(s, dir)
      val marked = g
        .withColumn("wx", explode(sequence(lit(-1), lit(0))))
        .withColumn("wy", explode(sequence(lit(-1), lit(0))))
        .selectExpr("ix + wx AS bx", "iy + wy AS by", "ix", "iy", "z")
        .filter(expr(s"bx BETWEEN 0 AND ${G - 2} AND by BETWEEN 0 AND ${G - 2}"))
        .groupBy("bx", "by")
        .agg(expr("min_by(named_struct('mx', ix, 'my', iy), " +
          "named_struct('nz', -z, 'x', ix, 'y', iy))").as("b"))
        .selectExpr("b.mx AS ix", "b.my AS iy").distinct()
      g.join(marked, Seq("ix", "iy"), "left_anti")
        .select("ix", "iy").orderBy("ix", "iy")
    }),

    "stream_slope_continuous" -> ((s, dir) => {
      val se = Dem.sedges(s, dir)
      val g = Dem.dem(s, dir)
      val sl = se
        .join(g, Seq("ix", "iy"))
        .join(g.selectExpr("ix AS tx", "iy AS ty", "z AS tz"), Seq("tx", "ty"))
        .selectExpr("ix", "iy",
          s"cast(z - tz as double) / (${lenOf("ec", "ed")}) AS sl")
      Dem.streams(s, dir).join(sl, Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy", "coalesce(sl, 0.0e0) AS stream_slope")
        .orderBy("ix", "iy")
    }),

    "long_profile" -> ((s, dir) =>
      Dem.links(s, dir)
        .join(Dem.downAgg(s, dir), Seq("ix", "iy"))
        .join(Dem.dem(s, dir), Seq("ix", "iy"))
        .selectExpr("ix", "iy", "link_id", s"${lenOf("nc", "nd")} AS dist", "z")
        .orderBy("ix", "iy")),

    // LongProfileFromPoints (long_profile_from_points.rs): the profile
    // table for the D8 paths from the seed points — one row per (seed,
    // path cell) with the cell's distance-to-terminal and elevation (the
    // reference plots dist vs z; distance-to-terminal is the same profile
    // axis reversed, doc'd).
    "long_profile_from_points" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val seeds = Seq((10L, 40L, 1L), (30L, 8L, 2L), (44L, 20L, 4L)).toDF("ix", "iy", "bit")
      val ddf = Dem.dd(s, dir)
      val init = ddf.select("ix", "iy")
        .join(seeds, Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy", "coalesce(bit, 0) AS m")
      val marked = Dem.converge(init, 200, 8, "long_profile_pts") { cur =>
        val down = cur.filter(col("m") > 0)
          .join(ddf.filter(col("dir") >= 0), Seq("ix", "iy"))
          .groupBy(col("tx").as("ix"), col("ty").as("iy"))
          .agg(expr("cast(bit_or(m) as bigint)").as("m2"))
        cur.join(down, Seq("ix", "iy"), "left")
          .selectExpr("ix", "iy", "cast(m | coalesce(m2, 0) as bigint) AS m")
      }
      marked.filter(col("m") > 0)
        .withColumn("bit", explode(typedLit(Seq(1L, 2L, 4L))))
        .filter(expr("(m & bit) > 0"))
        .join(downLen(s, dir), Seq("ix", "iy"))
        .join(Dem.dem(s, dir), Seq("ix", "iy"))
        .selectExpr("bit AS seed_bit", "ix", "iy", s"${lenOf("nc", "nd")} AS dist", "z")
        .orderBy("seed_bit", "ix", "iy")
    }),

    "rasterize_streams" -> ((s, dir) =>
      Dem.dem(s, dir).select("ix", "iy")
        .join(Dem.links(s, dir), Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy", "coalesce(link_id, 0) AS stream_link")
        .orderBy("ix", "iy")),

    "raster_streams_to_vector" -> ((s, dir) =>
      Dem.links(s, dir)
        .groupBy("link_id").agg(count(lit(1)).as("n_cells"))
        .join(Streams2.linkLen(s, dir), Seq("link_id"), "left")
        .selectExpr("link_id", "n_cells", "coalesce(link_len, 0.0e0) AS link_len")
        .orderBy("link_id"))
  )

  // ---- DuckDB twins ----------------------------------------------------

  private def W(extra: String*): String =
    (Seq(Dem.duckStreamCtes) ++ extra).mkString("WITH RECURSIVE ", ", ", " ")
  private def Wd(extra: String*): String =
    (Seq(Dem.duckDemCtes) ++ extra).mkString("WITH RECURSIVE ", ", ", " ")

  private val fluxRounds = 40

  private def duckFluxCtes: String = {
    val nin = "nin AS (SELECT tx AS ix, ty AS iy, count(*) AS n FROM e GROUP BY 1, 2)"
    val mb = s"mb AS (SELECT ix, iy, cast(${loadE(DuckD)} as bigint) AS load, " +
      s"cast(${effE(DuckD)} as bigint) AS eff FROM dem)"
    val m0 = "m0 AS (SELECT mb.ix, mb.iy, mb.load, mb.eff, " +
      "CASE WHEN nin.n IS NULL THEN mb.load END AS flux " +
      "FROM mb LEFT JOIN nin ON nin.ix = mb.ix AND nin.iy = mb.iy)"
    val rounds = (1 to fluxRounds).map { r =>
      val p = s"m${r - 1}"
      s"fg$r AS (SELECT e.tx AS ix, e.ty AS iy, " +
        "cast(sum(CASE WHEN p.flux IS NULL THEN 1 ELSE 0 END) as bigint) AS nnull, " +
        "cast(sum((p.flux * p.eff) // 100) as bigint) AS inflow " +
        s"FROM e JOIN $p p ON p.ix = e.ix AND p.iy = e.iy GROUP BY 1, 2), " +
        s"m$r AS MATERIALIZED (SELECT v.ix, v.iy, v.load, v.eff, " +
        "CASE WHEN v.flux IS NOT NULL THEN v.flux WHEN g.nnull = 0 THEN v.load + g.inflow END AS flux " +
        s"FROM $p v LEFT JOIN fg$r g ON g.ix = v.ix AND g.iy = v.iy)"
    }.mkString(", ")
    s"$nin, $mb, $m0, $rounds"
  }

  def oracles: Map[String, String] = Map(

    "rho8_pointer" -> (Wd(
      s"sl8 AS (SELECT ix, iy, $dirIdxE AS dirx, z, nz, dx, dy FROM hh)",
      s"sl9 AS (SELECT ix, iy, dirx, ${rho8Slope(DuckD)} AS slope FROM sl8)",
      "rk8 AS (SELECT ix, iy, dirx, row_number() OVER (PARTITION BY ix, iy " +
        "ORDER BY slope DESC, dirx) AS rn FROM sl9 WHERE slope > 0.0e0)") +
      "SELECT d.ix, d.iy, CASE WHEN rk8.dirx IS NOT NULL " +
      "THEN cast(pow(2.0e0, cast(rk8.dirx as double)) as bigint) ELSE 0 END AS pointer " +
      "FROM dem d LEFT JOIN rk8 ON rk8.ix = d.ix AND rk8.iy = d.iy AND rk8.rn = 1 " +
      "ORDER BY 1, 2"),

    "d8_mass_flux" -> (Wd(duckFluxCtes) +
      s"SELECT ix, iy, flux FROM m$fluxRounds ORDER BY ix, iy"),

    "find_parallel_flow" -> (Wd() +
      "SELECT c.ix, c.iy, cast(sum(CASE WHEN n.dir = c.dir THEN 1 ELSE 0 END) as bigint) AS n_parallel " +
      "FROM dd c LEFT JOIN dd n ON n.dir >= 0 " +
      "AND n.ix BETWEEN c.ix - 1 AND c.ix + 1 AND n.iy BETWEEN c.iy - 1 AND c.iy + 1 " +
      "AND NOT (n.ix = c.ix AND n.iy = c.iy) " +
      "WHERE c.dir >= 0 GROUP BY 1, 2 ORDER BY 1, 2"),

    "elev_above_pit" -> (Wd(
      "pw AS (SELECT ix AS sx, iy AS sy, ix AS cx, iy AS cy FROM dd " +
        "UNION ALL SELECT w.sx, w.sy, dd.tx, dd.ty FROM pw w " +
        "JOIN dd ON dd.ix = w.cx AND dd.iy = w.cy AND dd.dir >= 0)") +
      "SELECT w.sx AS ix, w.sy AS iy, cast(ds.z - dt.z as bigint) AS elev_above_pit " +
      "FROM pw w JOIN dd t ON t.ix = w.cx AND t.iy = w.cy AND t.dir < 0 " +
      "JOIN dem ds ON ds.ix = w.sx AND ds.iy = w.sy " +
      "JOIN dem dt ON dt.ix = w.cx AND dt.iy = w.cy ORDER BY 1, 2"),

    "longest_flowpath" -> (Wd(
      "fp AS (SELECT ix AS sx, iy AS sy, ix AS cx, iy AS cy, " +
        "cast(0 as bigint) AS nc, cast(0 as bigint) AS nd FROM dd " +
        "UNION ALL SELECT p.sx, p.sy, e.tx, e.ty, p.nc + e.ec, p.nd + e.ed " +
        "FROM fp p JOIN e ON e.ix = p.cx AND e.iy = p.cy)",
      s"term AS (SELECT p.sx, p.sy, p.cx, p.cy, ${lenOf("p.nc", "p.nd")} AS len FROM fp p " +
        "JOIN dd t ON t.ix = p.cx AND t.iy = p.cy AND t.dir < 0)") +
      "SELECT cx * 1000 + cy AS basin, max(len) AS longest_len FROM term " +
      "GROUP BY 1 ORDER BY basin"),

    "flood_order" -> (Wd(HydroFill.duckFillCtes) +
      "SELECT ix, iy, cast(row_number() OVER (ORDER BY f, z, ix, iy) as bigint) AS flood_ord " +
      "FROM ff ORDER BY ix, iy"),

    "extract_valleys" -> (Wd(
      s"wins AS (SELECT d.ix - a.wx AS bx, d.iy - b.wy AS by, d.ix, d.iy, d.z " +
        "FROM dem d, (SELECT unnest([0, 1]) AS wx) a, (SELECT unnest([0, 1]) AS wy) b " +
        s"WHERE d.ix - a.wx BETWEEN 0 AND ${G - 2} AND d.iy - b.wy BETWEEN 0 AND ${G - 2})",
      "mk AS (SELECT DISTINCT ix, iy FROM (SELECT ix, iy, " +
        "row_number() OVER (PARTITION BY bx, by ORDER BY z DESC, ix, iy) AS rn " +
        "FROM wins) WHERE rn = 1)") +
      "SELECT d.ix, d.iy FROM dem d LEFT JOIN mk ON mk.ix = d.ix AND mk.iy = d.iy " +
      "WHERE mk.ix IS NULL ORDER BY 1, 2"),

    "stream_slope_continuous" -> (W() +
      "SELECT st.ix, st.iy, coalesce(cast(a.z - b.z as double) / " +
      s"(${lenOf("se.ec", "se.ed")}), 0.0e0) AS stream_slope " +
      "FROM st LEFT JOIN se ON se.ix = st.ix AND se.iy = st.iy " +
      "LEFT JOIN dem a ON a.ix = se.ix AND a.iy = se.iy " +
      "LEFT JOIN dem b ON b.ix = se.tx AND b.iy = se.ty ORDER BY 1, 2"),

    "long_profile" -> (W(Dem.duckLinkCtes,
      "dwalk AS (SELECT ix, iy, cast(0 as bigint) AS nc, cast(0 as bigint) AS nd FROM outlets " +
        "UNION ALL SELECT se.ix, se.iy, w.nc + se.ec, w.nd + se.ed " +
        "FROM dwalk w JOIN se ON se.tx = w.ix AND se.ty = w.iy)") +
      s"SELECT lk.ix, lk.iy, lk.link_id, ${lenOf("dw.nc", "dw.nd")} AS dist, d.z " +
      "FROM lk JOIN dwalk dw ON dw.ix = lk.ix AND dw.iy = lk.iy " +
      "JOIN dem d ON d.ix = lk.ix AND d.iy = lk.iy ORDER BY 1, 2"),

    "long_profile_from_points" -> (Wd(
      "seeds AS (SELECT * FROM (VALUES (10, 40, 1), (30, 8, 2), (44, 20, 4)) r(ix, iy, bit))",
      "pw2 AS (SELECT s.bit, s.ix AS cx, s.iy AS cy FROM seeds s " +
        "UNION SELECT w.bit, dd.tx, dd.ty FROM pw2 w " +
        "JOIN dd ON dd.ix = w.cx AND dd.iy = w.cy AND dd.dir >= 0)",
      "fpw2 AS (SELECT ix AS sx, iy AS sy, ix AS cx, iy AS cy, " +
        "cast(0 as bigint) AS nc, cast(0 as bigint) AS nd FROM dd " +
        "UNION ALL SELECT p.sx, p.sy, e.tx, e.ty, p.nc + e.ec, p.nd + e.ed " +
        "FROM fpw2 p JOIN e ON e.ix = p.cx AND e.iy = p.cy)",
      s"dl2 AS (SELECT sx AS ix, sy AS iy, ${lenOf("max(nc)", "max(nd)")} AS dist " +
        "FROM fpw2 GROUP BY 1, 2)") +
      "SELECT w.bit AS seed_bit, w.cx AS ix, w.cy AS iy, dl2.dist, d.z " +
      "FROM pw2 w JOIN dl2 ON dl2.ix = w.cx AND dl2.iy = w.cy " +
      "JOIN dem d ON d.ix = w.cx AND d.iy = w.cy ORDER BY seed_bit, ix, iy"),

    "rasterize_streams" -> (W(Dem.duckLinkCtes) +
      "SELECT d.ix, d.iy, coalesce(lk.link_id, 0) AS stream_link " +
      "FROM dem d LEFT JOIN lk ON lk.ix = d.ix AND lk.iy = d.iy ORDER BY 1, 2"),

    "raster_streams_to_vector" -> (W(Dem.duckLinkCtes,
      "ie AS (SELECT a.link_id, se.ec, se.ed FROM se " +
        "JOIN lk a ON a.ix = se.ix AND a.iy = se.iy " +
        "JOIN lk b ON b.ix = se.tx AND b.iy = se.ty WHERE a.link_id = b.link_id)",
      "ll AS (SELECT link_id, " +
        s"${lenOf("cast(sum(ec) as bigint)", "cast(sum(ed) as bigint)")} AS link_len " +
        "FROM ie GROUP BY 1)") +
      "SELECT lk.link_id AS link_id, count(*) AS n_cells, " +
      "coalesce(max(ll.link_len), 0.0e0) AS link_len " +
      "FROM lk LEFT JOIN ll ON ll.link_id = lk.link_id GROUP BY lk.link_id ORDER BY 1")
  )
}
