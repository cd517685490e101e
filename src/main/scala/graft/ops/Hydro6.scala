package graft.ops

import graft.core.{Gates, Lit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Watershed-tail hydro tools (hydro_analysis/fd8_pointer.rs,
  * raise_walls.rs, flow_accum_full_workflow.rs, unnest_basins.rs,
  * impoundment_index.rs):
  *
  *   - FD8Pointer (fd8_pointer.rs:218-231): per-cell bit union Σ 2^i over
  *     the strictly-lower 8-neighbours (reference neighbour order) — one
  *     halo aggregate.
  *   - RaiseWalls (raise_walls.rs): z + wall height on the cells covered
  *     by the wall line features; the walls here are two deterministic
  *     diagonal segments rasterized by the dominant-axis integer stepping
  *     both engines share.
  *   - FlowAccumFullWorkflow (flow_accum_full_workflow.rs): depression
  *     removal → D8 pointer on the conditioned surface → flow
  *     accumulation, emitted as one (filled z, pointer, fa) table. Uses
  *     the Planchon–Darboux fill (HydroFill.filled); cells inside
  *     residual FLATS keep pointer −1 (the reference increments flats by
  *     an epsilon gradient — documented deviation, identical in both
  *     engines).
  *   - UnnestBasins (unnest_basins.rs): WHOLE watershed per pour point;
  *     pour points on a common flow path are separated into nesting
  *     levels (level 1 = most-downstream). Pointer-jumping with a pour
  *     BITMASK: mask(c) = own pour bit | mask(jump target), doubling the
  *     jump each round — O(log path) rounds, the parallel-prefix-on-trees
  *     pattern; level(p) = popcount of pour bits on p's own path.
  *   - ImpoundmentSizeIndex (impoundment_index.rs): per candidate dam
  *     site, the flooded cell count and volume behind a crest of
  *     z_dam + H: cell u floods iff z_u < crest and every cell on the
  *     flow path u → dam stays below the crest (water backs up along
  *     the drainage, it cannot cross a higher barrier). The reference
  *     rasterizes this for every cell as dam; the gated form evaluates
  *     the 3 gauge dam sites (the watershed pour points) with the
  *     recurrence flooded(u) = z_u < crest ∧ (t(u) = dam ∨
  *     flooded(t(u))) — one fixpoint with one boolean column per site,
  *     integer volume Σ (crest − z_u).
  */
object Hydro6 extends Gates {

  import Dem.G

  private val wallH = 100L
  /** dam crest height in z units. The DEM's bilinear smooth term scales
    * corner noise by ~C² (z spans ~1.6k-142k), so local valley relief is
    * thousands of units — 20000 floods 17-20 cells behind each of the 3
    * gauge dams at both fixture scales (50 would flood none: vacuous). */
  private val damH = 20000L

  // ---- FD8 pointer ------------------------------------------------------

  private val fd8BitE = Dem.dirs.map { case (i, dx, dy) =>
    s"CASE WHEN dx = $dx AND dy = $dy AND nz < z THEN ${1L << i} ELSE 0 END"
  }.mkString(" + ")

  // ---- wall segments ----------------------------------------------------

  /** (x0, y0, x1, y1) integer segments; dominant axis is x for both. */
  private val walls = Seq((5L, 5L, 40L, 27L), (10L, 40L, 35L, 12L))

  /** integer cell cover via dominant-axis stepping; floor-of-double (the
    * same op order in both engines — `/` on integers is double division
    * in DuckDB but integer in neither dialect here). */
  private def wallCellsSql: String =
    walls.map { case (x0, y0, x1, y1) =>
      val n = x1 - x0
      s"SELECT $x0 + t AS wx, " +
        s"cast(floor(${Lit.d(y0.toDouble)} + cast(t * (${y1 - y0}) as double) / ${Lit.d(n.toDouble)}) as bigint) AS wy " +
        s"FROM ser WHERE t <= $n"
    }.mkString(" UNION ALL ")

  // ---- pour points (the watershed gauges) -------------------------------

  private def pour(s: SparkSession, dir: String): DataFrame =
    Dem.fa(s, dir)
      .join(Dem.streams(s, dir), Seq("ix", "iy"), "left_semi")
      .orderBy(desc("fa"), col("ix"), col("iy")).limit(3)
      .withColumn("pid", row_number().over(Window.orderBy(desc("fa"), col("ix"), col("iy"))))
      .select("ix", "iy", "pid")

  private val duckPour =
    "pour AS (SELECT ix, iy, row_number() OVER (ORDER BY fa DESC, ix, iy) AS pid " +
      "FROM (SELECT f.ix, f.iy, f.fa FROM fa f JOIN st ON st.ix = f.ix AND st.iy = f.iy " +
      "ORDER BY f.fa DESC, f.ix, f.iy LIMIT 3))"

  // ---- isobasins (isobasins.rs:340-500) ---------------------------------
  //
  // Deterministic re-expression of the reference's sequential pour-point
  // sweep: RESIDUAL ACCUMULATION racc resolved in topological order
  // (ready-gated — a cell computes once every inflow has), with the
  // reference's split rule: when fa0 = 1 + Σ racc(inflows) ≥ target,
  // either the largest inflowing branch is cut (outlet marked at that
  // NEIGHBOUR, residual fa0 − inla passes on) or the cell itself resets
  // to 1 and is marked, whichever lands closer to the target
  // (isobasins.rs:386-405). Basin ids are the packed outlet cell ids
  // (the reference numbers outlets in heap-pop order — an arbitrary
  // relabeling). Terminals are outlets; every cell labels to the first
  // marked cell downstream (pointer jumping). target=200 splits the
  // fixture into 12 basins of 54-312 cells.

  private val isoT = 200L
  private val isoRounds = 32

  /** inflow-edge neighbour index as scanned by the reference (offset of
    * u from its target c). */
  private val inIdxE = Dem.dirs.map { case (i, dx, dy) =>
    s"WHEN ix - tx = $dx AND iy - ty = $dy THEN $i"
  }.mkString("CASE ", " ", " END")

  private def isoF(fa0: String, inla: String): String =
    s"CASE WHEN $fa0 >= $isoT THEN (CASE WHEN ($isoT - $inla) < ($fa0 - $isoT) " +
      s"THEN $fa0 - $inla ELSE 1 END) ELSE $fa0 END"

  private def isobasins(s: SparkSession, dir: String): DataFrame = {
    val d = Dem.dd(s, dir).localCheckpoint()
    val grid = d.select("ix", "iy")
    val edges = d.filter(col("dir") >= 0)
      .selectExpr("ix", "iy", "tx", "ty", s"$inIdxE AS i").localCheckpoint()
    val init = grid.selectExpr("ix", "iy", "cast(null as bigint) AS racc")
    val fin = Dem.converge(init, isoRounds + 4, 4, "isobasins_racc") { cur =>
      val a = edges.join(cur, Seq("ix", "iy"))
        .groupBy(col("tx").as("ix"), col("ty").as("iy"))
        .agg(count(lit(1)).as("nin"), count(col("racc")).as("nr"),
          sum("racc").as("sr"), max("racc").as("mx"))
      grid.join(cur, Seq("ix", "iy")).join(a, Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy",
          "CASE WHEN racc IS NOT NULL THEN racc " +
            "WHEN nin IS NULL THEN 1 " +
            s"WHEN nin = nr THEN ${isoF("(1 + sr)", "mx")} END AS racc")
    }.localCheckpoint()
    val aF = edges.join(fin, Seq("ix", "iy"))
      .groupBy(col("tx").as("ix"), col("ty").as("iy"))
      .agg(sum("racc").as("sr"), max("racc").as("mx"),
        expr("min_by(named_struct('ux', ix, 'uy', iy), named_struct('nr', -racc, 'i', i))").as("pick"))
    val marks = d.filter(col("dir") < 0).select("ix", "iy")
      .unionByName(
        grid.join(aF, Seq("ix", "iy"))
          .filter(expr(s"1 + sr >= $isoT"))
          .selectExpr(
            s"CASE WHEN ($isoT - mx) < ((1 + sr) - $isoT) THEN pick.ux ELSE ix END AS ix",
            s"CASE WHEN ($isoT - mx) < ((1 + sr) - $isoT) THEN pick.uy ELSE iy END AS iy"))
      .distinct().localCheckpoint()
    val p0 = d.join(marks.withColumn("mk", lit(1)), Seq("ix", "iy"), "left")
      .selectExpr("ix", "iy",
        "CASE WHEN mk IS NOT NULL OR dir < 0 THEN ix ELSE tx END AS rx",
        "CASE WHEN mk IS NOT NULL OR dir < 0 THEN iy ELSE ty END AS ry")
    Dem.roots(p0, "isobasins_label")
      .selectExpr("ix", "iy", s"rx * $G + ry AS basin")
  }

  // ---- queries ----------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "fd8_pointer" -> ((s, dir) =>
      Dem.halo(Dem.dem(s, dir))
        .groupBy("ix", "iy")
        .agg(expr(s"cast(sum($fd8BitE) as bigint)").as("fd8_dir"))),

    "raise_walls" -> ((s, dir) => {
      Dem.dem(s, dir).createOrReplaceTempView("dem")
      s.sql(s"WITH ser AS (SELECT explode(sequence(0, ${G - 1})) AS t), " +
        s"wc AS (SELECT DISTINCT wx, wy FROM ($wallCellsSql)) " +
        s"SELECT d.ix, d.iy, d.z + CASE WHEN wc.wx IS NOT NULL THEN $wallH ELSE 0 END AS z_wall " +
        "FROM dem d LEFT JOIN wc ON wc.wx = d.ix AND wc.wy = d.iy ORDER BY 1, 2")
    }),

    "flow_accum_full_workflow" -> ((s, dir) => {
      val f = HydroFill.filled(s, dir)
      val d2 = Dem.d8On(f.selectExpr("ix", "iy", "f AS z")).localCheckpoint()
      val edges = d2.filter(col("dir") >= 0).select("ix", "iy", "tx", "ty")
      val fa2 = Dem.faOn(d2.select("ix", "iy"), edges, "workflow_fa")
      f.join(d2.select("ix", "iy", "dir"), Seq("ix", "iy"))
        .join(fa2, Seq("ix", "iy"))
        .selectExpr("ix", "iy", "cast(round(f) as bigint) AS z_fill", "dir", "fa")
    }),

    "unnest_basins" -> ((s, dir) => {
      val pp = pour(s, dir).localCheckpoint()
      val p0 = Dem.dd(s, dir)
        .join(pp.selectExpr("ix", "iy", "pid"), Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy",
          "CASE WHEN dir < 0 THEN ix ELSE tx END AS rx",
          "CASE WHEN dir < 0 THEN iy ELSE ty END AS ry",
          "cast(coalesce(shiftleft(1, cast(pid as int)), 0) as bigint) AS m")
      // pointer doubling with mask accumulation: after k rounds rx/ry is
      // the 2^k-th downstream ancestor and m covers the whole prefix
      val rooted = Dem.converge(p0, 64, 1, "unnest_mask") { p =>
        p.join(p.selectExpr("ix AS rx", "iy AS ry", "rx AS rx2", "ry AS ry2", "m AS m2"),
            Seq("rx", "ry"))
          .selectExpr("ix", "iy", "rx2 AS rx", "ry2 AS ry", "m | m2 AS m")
      }.localCheckpoint()
      val levels = rooted.join(pp, Seq("ix", "iy"))
        .selectExpr("pid", "bit_count(m) AS level")
      rooted.crossJoin(broadcast(pp.selectExpr("pid")))
        .filter(expr("(m & shiftleft(1, cast(pid as int))) <> 0"))
        .join(broadcast(levels), Seq("pid"))
        .selectExpr("level", "pid", "ix", "iy")
    }),

    "isobasins" -> ((s, dir) => isobasins(s, dir)),

    // ElevRelativeToWatershedMinMax (terrain_analysis/
    // elev_relative_to_watershed_min_max.rs): (z − min)/(max − min)
    // within the cell's watershed — basins = terminal-rooted pointer
    // components (pointer jumping), one min/max aggregate per basin.
    "elev_relative_to_watershed_min_max" -> ((s, dir) => {
      val d = Dem.dd(s, dir)
      val p0 = d.selectExpr("ix", "iy",
        "CASE WHEN dir < 0 THEN ix ELSE tx END AS rx",
        "CASE WHEN dir < 0 THEN iy ELSE ty END AS ry")
      val rooted = Dem.roots(p0, "ws_minmax_roots")
      val withZ = rooted.join(Dem.dem(s, dir), Seq("ix", "iy"))
      val mm = withZ.groupBy("rx", "ry")
        .agg(min("z").as("mn"), max("z").as("mx"))
      withZ.join(mm, Seq("rx", "ry"))
        .selectExpr("ix", "iy",
          "CASE WHEN mx > mn THEN round(cast(z - mn as double) / cast(mx - mn as double), 6) " +
            "ELSE 0.0e0 END AS rel_elev")
    }),

    "impoundment_index" -> ((s, dir) => {
      val pp = pour(s, dir).localCheckpoint()
      val dam = Dem.dem(s, dir).join(pp, Seq("ix", "iy"))
        .selectExpr("pid", "ix AS dx0", "iy AS dy0", s"z + $damH AS crest")
        .localCheckpoint()
      val dd = Dem.dd(s, dir)
      val g = Dem.dem(s, dir)
      // flooded(u) = z_u < crest AND (t(u) = dam OR flooded(t(u)))
      val base = dd.join(g, Seq("ix", "iy")).crossJoin(broadcast(dam))
        .selectExpr("pid", "crest", "ix", "iy", "z", "tx", "ty",
          "CASE WHEN z < crest AND tx = dx0 AND ty = dy0 THEN 1 ELSE 0 END AS fl")
        .localCheckpoint()
      val flooded = Dem.converge(base.select("pid", "ix", "iy", "fl"), 64, 4, "impound") { cur =>
        val nb = base.selectExpr("pid", "ix", "iy", "z", "crest", "tx", "ty")
          .join(cur.selectExpr("pid", "ix AS tx", "iy AS ty", "fl AS ft"), Seq("pid", "tx", "ty"), "left")
          .selectExpr("pid", "ix", "iy",
            "CASE WHEN z < crest AND coalesce(ft, 0) = 1 THEN 1 ELSE 0 END AS f2")
        cur.join(nb, Seq("pid", "ix", "iy"), "left")
          .selectExpr("pid", "ix", "iy", "greatest(fl, coalesce(f2, 0)) AS fl")
      }
      flooded.filter(col("fl") === 1)
        .join(base.select("pid", "ix", "iy", "z", "crest"), Seq("pid", "ix", "iy"))
        .groupBy("pid")
        .agg(expr("count(*)").as("flooded_cells"),
          expr("cast(sum(crest - z) as bigint)").as("volume"))
    })
  )

  // ---- DuckDB twins -----------------------------------------------------

  private def Wd(extra: String*): String =
    (Seq(Dem.duckFaCtes,
      s"st AS MATERIALIZED (SELECT ix, iy FROM fa WHERE fa > ${Dem.streamT})") ++ extra)
      .mkString("WITH RECURSIVE ", ", ", " ")

  def oracles: Map[String, String] = Map(

    "fd8_pointer" ->
      (s"WITH RECURSIVE ${Dem.duckDemCtes} " +
        s"SELECT ix, iy, cast(sum($fd8BitE) as bigint) AS fd8_dir " +
        "FROM hh GROUP BY ix, iy ORDER BY ix, iy"),

    "raise_walls" ->
      (s"WITH RECURSIVE ${Dem.duckDemCtes}, " +
        s"ser AS (SELECT unnest(range(0, $G)) AS t), " +
        s"wc AS (SELECT DISTINCT wx, wy FROM ($wallCellsSql)) " +
        s"SELECT d.ix, d.iy, d.z + CASE WHEN wc.wx IS NOT NULL THEN $wallH ELSE 0 END AS z_wall " +
        "FROM dem d LEFT JOIN wc ON wc.wx = d.ix AND wc.wy = d.iy ORDER BY 1, 2"),

    "flow_accum_full_workflow" ->
      (s"WITH RECURSIVE ${Dem.duckDemCtes}, ${HydroFill.duckFillCtes}, " +
        "hh2 AS (SELECT c.ix, c.iy, c.f AS z, n.ix - c.ix AS dx, n.iy - c.iy AS dy, " +
        "n.f AS nz, n.ix AS nix, n.iy AS niy FROM ff c JOIN ff n " +
        "ON n.ix BETWEEN c.ix - 1 AND c.ix + 1 AND n.iy BETWEEN c.iy - 1 AND c.iy + 1 " +
        "AND NOT (n.ix = c.ix AND n.iy = c.iy)), " +
        s"sl2 AS (SELECT ix, iy, ${Dem.dirIdxE} AS dir, ${Dem.slopeE} AS slope, nix, niy FROM hh2), " +
        "rk2 AS (SELECT ix, iy, dir, nix, niy, " +
        "row_number() OVER (PARTITION BY ix, iy ORDER BY slope DESC, dir) AS rn " +
        "FROM sl2 WHERE slope > 0.0e0), " +
        "dd2 AS MATERIALIZED (SELECT ff.ix, ff.iy, " +
        "cast(coalesce(rk2.dir, -1) as bigint) AS dir, rk2.nix AS tx, rk2.niy AS ty " +
        "FROM ff LEFT JOIN rk2 ON rk2.ix = ff.ix AND rk2.iy = ff.iy AND rn = 1), " +
        "e2 AS (SELECT ix, iy, tx, ty FROM dd2 WHERE dir >= 0), " +
        "paths2 AS (SELECT ix AS sx, iy AS sy, ix AS cx, iy AS cy FROM dd2 " +
        "UNION ALL SELECT p.sx, p.sy, e2.tx, e2.ty FROM paths2 p " +
        "JOIN e2 ON e2.ix = p.cx AND e2.iy = p.cy), " +
        "fa2 AS (SELECT cx AS ix, cy AS iy, count(*) AS fa FROM paths2 GROUP BY 1, 2) " +
        "SELECT ff.ix, ff.iy, cast(round(ff.f) as bigint) AS z_fill, dd2.dir, fa2.fa " +
        "FROM ff JOIN dd2 ON dd2.ix = ff.ix AND dd2.iy = ff.iy " +
        "JOIN fa2 ON fa2.ix = ff.ix AND fa2.iy = ff.iy ORDER BY 1, 2"),

    "unnest_basins" -> (Wd(
      duckPour,
      // full downstream path per cell (no stop at pours)
      "pw AS (SELECT ix AS sx, iy AS sy, ix AS cx, iy AS cy FROM dd " +
        "UNION ALL SELECT p.sx, p.sy, e.tx, e.ty FROM pw p JOIN e ON e.ix = p.cx AND e.iy = p.cy)",
      "mem AS (SELECT DISTINCT w.sx AS ix, w.sy AS iy, pour.pid FROM pw w " +
        "JOIN pour ON pour.ix = w.cx AND pour.iy = w.cy)",
      "lev AS (SELECT p.pid, count(DISTINCT m.pid) AS level FROM pour p " +
        "JOIN mem m ON m.ix = p.ix AND m.iy = p.iy GROUP BY p.pid)") +
      "SELECT lev.level, mem.pid, mem.ix, mem.iy FROM mem " +
      "JOIN lev ON lev.pid = mem.pid ORDER BY 1, 2, 3, 4"),

    "elev_relative_to_watershed_min_max" -> (Wd(
      s"bs AS (SELECT p.sx AS ix, p.sy AS iy, " +
        s"max(CASE WHEN d.dir < 0 THEN d.ix * $G + d.iy END) AS bid " +
        "FROM paths p JOIN dd d ON d.ix = p.cx AND d.iy = p.cy GROUP BY 1, 2)",
      "mm AS (SELECT bs.bid, min(d.z) AS mn, max(d.z) AS mx FROM bs " +
        "JOIN dem d ON d.ix = bs.ix AND d.iy = bs.iy GROUP BY bs.bid)") +
      "SELECT bs.ix, bs.iy, CASE WHEN mm.mx > mm.mn " +
      "THEN round(cast(d.z - mm.mn as double) / cast(mm.mx - mm.mn as double), 6) " +
      "ELSE 0.0e0 END AS rel_elev FROM bs " +
      "JOIN dem d ON d.ix = bs.ix AND d.iy = bs.iy " +
      "JOIN mm ON mm.bid = bs.bid ORDER BY 1, 2"),

    "isobasins" -> {
      val rounds = (1 to isoRounds).map { r =>
        val p = s"s${r - 1}"
        s"a$r AS (SELECT e.tx AS ix, e.ty AS iy, count(*) AS nin, " +
          s"count(p.racc) AS nr, sum(p.racc) AS sr, max(p.racc) AS mx " +
          s"FROM e JOIN $p p ON p.ix = e.ix AND p.iy = e.iy GROUP BY 1, 2), " +
          s"s$r AS MATERIALIZED (SELECT g.ix, g.iy, " +
          "CASE WHEN p.racc IS NOT NULL THEN p.racc " +
          "WHEN a.nin IS NULL THEN 1 " +
          s"WHEN a.nin = a.nr THEN ${isoF("(1 + a.sr)", "a.mx")} END AS racc " +
          s"FROM dd g LEFT JOIN $p p ON p.ix = g.ix AND p.iy = g.iy " +
          s"LEFT JOIN a$r a ON a.ix = g.ix AND a.iy = g.iy)"
      }.mkString(", ")
      val sf = s"s$isoRounds"
      Wd(
        "s0 AS (SELECT ix, iy, cast(null as bigint) AS racc FROM dd)",
        rounds,
        s"aF AS (SELECT e.tx AS ix, e.ty AS iy, sum(p.racc) AS sr, max(p.racc) AS mx, " +
          s"arg_min(p.ix * $G + p.iy, (-p.racc) * 10 + (${Dem.dirs.map { case (i, dx, dy) =>
            s"WHEN e.ix - e.tx = $dx AND e.iy - e.ty = $dy THEN $i"
          }.mkString("CASE ", " ", " END")})) AS pk " +
          s"FROM e JOIN $sf p ON p.ix = e.ix AND p.iy = e.iy GROUP BY 1, 2)",
        // explicit DISTINCT wrapper: inside WITH RECURSIVE DuckDB ran the
        // two-arm UNION without deduplicating across arms (observed: a
        // cell that is both a terminal and a split mark appeared twice)
        "marks AS (SELECT DISTINCT ix, iy FROM (" +
          "SELECT ix, iy FROM dd WHERE dir < 0 " +
          s"UNION ALL SELECT CASE WHEN ($isoT - mx) < ((1 + sr) - $isoT) THEN pk // $G ELSE a.ix END, " +
          s"CASE WHEN ($isoT - mx) < ((1 + sr) - $isoT) THEN pk % $G ELSE a.iy END " +
          s"FROM aF a WHERE 1 + sr >= $isoT))",
        "tr AS (SELECT d.ix AS sx, d.iy AS sy, d.ix AS cx, d.iy AS cy FROM dd d " +
          "UNION ALL SELECT t.sx, t.sy, e.tx, e.ty FROM tr t " +
          "JOIN e ON e.ix = t.cx AND e.iy = t.cy " +
          "LEFT JOIN marks mk ON mk.ix = t.cx AND mk.iy = t.cy " +
          "WHERE mk.ix IS NULL)") +
        s"SELECT t.sx AS ix, t.sy AS iy, t.cx * $G + t.cy AS basin FROM tr t " +
        "JOIN marks mk ON mk.ix = t.cx AND mk.iy = t.cy ORDER BY 1, 2"
    },

    "impoundment_index" -> (Wd(
      duckPour,
      s"dam AS (SELECT pour.pid, pour.ix AS dx0, pour.iy AS dy0, dem.z + $damH AS crest " +
        "FROM pour JOIN dem ON dem.ix = pour.ix AND dem.iy = pour.iy)",
      // flooded = downstream path reaches the dam before rising above crest
      "fw AS (SELECT dam.pid, dam.crest, d.ix AS sx, d.iy AS sy, d.ix AS cx, d.iy AS cy " +
        "FROM dd d, dam WHERE d.z < dam.crest " +
        "UNION ALL SELECT f.pid, f.crest, f.sx, f.sy, e.tx, e.ty FROM fw f " +
        "JOIN e ON e.ix = f.cx AND e.iy = f.cy " +
        "JOIN dem dz ON dz.ix = e.tx AND dz.iy = e.ty " +
        "JOIN dam dm ON dm.pid = f.pid " +
        "AND (dz.z < f.crest OR (e.tx = dm.dx0 AND e.ty = dm.dy0)) " +
        "AND NOT (f.cx = dm.dx0 AND f.cy = dm.dy0))",
      "fl AS (SELECT DISTINCT f.pid, f.sx AS ix, f.sy AS iy FROM fw f " +
        "JOIN dam dm ON dm.pid = f.pid WHERE f.cx = dm.dx0 AND f.cy = dm.dy0 " +
        "AND NOT (f.sx = dm.dx0 AND f.sy = dm.dy0))") +
      "SELECT fl.pid, count(*) AS flooded_cells, " +
      "cast(sum(dam.crest - dem.z) as bigint) AS volume " +
      "FROM fl JOIN dem ON dem.ix = fl.ix AND dem.iy = fl.iy " +
      "JOIN dam ON dam.pid = fl.pid GROUP BY fl.pid ORDER BY 1")
  )
}
