package graft.ops

import graft.core.{DuckD, Gates}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fractional-routing accumulations + flow-length divides:
  *
  *   - DInfFlowAccumulation (hydro_analysis/dinf_flow_accum.rs:466-535):
  *     each cell splits its mass between the two D8 cells bracketing its
  *     D∞ compass direction, proportions linear within the 45° sector.
  *     Mass is INTEGER millionths (p₁ quantized, p₂ its exact
  *     complement), routed through a ready-gated fixpoint — the
  *     reference's double accumulation in exact fixed point, immune to
  *     distributed summation order. The convergence_threshold shortcut
  *     (default ∞) is not modelled.
  *   - FD8FlowAccumulation (fd8_flow_accum.rs:358-400, exponent 1.1):
  *     mass split over ALL lower neighbours ∝ (z−zn)^1.1; the per-edge
  *     proportions are quantized to millionths from identical doubles in
  *     both engines, then routed as integers.
  *   - FlowLengthDiff (flow_length_diff.rs:309-330): the local maximum
  *     |ΔL| of downslope flow-path length over the 8-neighbourhood —
  *     drainage-divide mapping.
  */
object Dinf2 extends Gates {

  import Dem.lenOf

  private val M = 1000000L

  private def loadME(d: graft.core.Dialect): String =
    s"(1 + ${d.md5Bits(s"('l' || ${d.toStr("ix")} || '_' || ${d.toStr("iy")})", 1)} % 5)"
  private def effME(d: graft.core.Dialect): String =
    s"(80 + ${d.md5Bits(s"('e' || ${d.toStr("ix")} || '_' || ${d.toStr("iy")})", 1)} % 20)"

  // sector k = [45k, 45(k+1)) → target offsets in (dx, dyNorth): t1, t2
  private val t1x = Seq(0, 1, 1, 1, 0, -1, -1, -1)
  private val t1y = Seq(1, 1, 0, -1, -1, -1, 0, 1)
  private val t2x = Seq(1, 1, 1, 0, -1, -1, -1, 0)
  private val t2y = Seq(1, 0, -1, -1, -1, 0, 1, 1)

  /** (ix, iy, tx, ty, pm) D∞ edges with millionth proportions > 0. */
  private def dinfEdges(s: SparkSession, dir: String): DataFrame =
    Dem.memo(s, dir, "dinf_edges") {
      val sp = s
      import sp.implicits._
      val sect = (0 until 8).map(k =>
        (k, t1x(k), t1y(k), t2x(k), t2y(k))).toDF("k", "x1", "y1", "x2", "y2")
      val d = Dinf.dirFrame(s, dir).filter(col("dinf_dir") >= 0.0)
        .withColumn("k", expr("least(cast(floor(dinf_dir / 45.0e0) as int), 7)"))
        .join(broadcast(sect), Seq("k"))
        .selectExpr("ix", "iy", "k", "x1", "y1", "x2", "y2",
          s"cast(round((cast(45 * (k + 1) as double) - dinf_dir) / 45.0e0 * $M) as bigint) AS p1m")
      val e1 = d.selectExpr("ix", "iy", "ix + x1 AS tx", "iy + y1 AS ty", "p1m AS pm")
      val e2 = d.selectExpr("ix", "iy", "ix + x2 AS tx", "iy + y2 AS ty", s"$M - p1m AS pm")
      e1.unionByName(e2).filter(col("pm") > 0)
        // off-grid targets lose their mass (border outflow), like the ref
        .join(Dem.dem(s, dir).selectExpr("ix AS tx", "iy AS ty"), Seq("tx", "ty"), "left_semi")
    }

  /** FD8 edges (ix, iy, tx, ty, pm): ∝ (z−zn)^1.1 over lower neighbours. */
  private def fd8Edges(s: SparkSession, dir: String): DataFrame =
    Dem.memo(s, dir, "fd8_edges") {
      val w = Dem.halo(Dem.dem(s, dir))
        .filter(expr("nz < z"))
        .selectExpr("ix", "iy", "nix AS tx", "niy AS ty",
          "pow(cast(z - nz as double), 1.1e0) AS w")
      val tot = w.groupBy("ix", "iy").agg(sum("w").as("tw"))
      w.join(tot, Seq("ix", "iy"))
        .selectExpr("ix", "iy", "tx", "ty",
          s"cast(round(w / tw * $M) as bigint) AS pm")
        .filter(col("pm") > 0)
    }

  /** ready-gated integer-mass routing over weighted edges. */
  private def route(s: SparkSession, dir: String, edges: DataFrame,
      what: String, maxRounds: Int = 96): DataFrame = {
    val e = edges.localCheckpoint()
    val nin = e.groupBy(col("tx").as("ix"), col("ty").as("iy"))
      .agg(count(lit(1)).as("n_in"))
    val init = Dem.dem(s, dir).select("ix", "iy")
      .join(nin, Seq("ix", "iy"), "left")
      .selectExpr("ix", "iy", s"CASE WHEN n_in IS NULL THEN cast($M as bigint) END AS flux")
    Dem.converge(init, maxRounds, 8, what) { cur =>
      val inflow = e.join(cur, Seq("ix", "iy"))
        .selectExpr("tx", "ty", "CASE WHEN flux IS NULL THEN 1 ELSE 0 END AS nn",
          s"(flux * pm) div $M AS part")
        .groupBy(col("tx").as("ix"), col("ty").as("iy"))
        .agg(expr("cast(sum(nn) as bigint)").as("nnull"),
          expr("cast(sum(part) as bigint)").as("inflow"))
      cur.join(inflow, Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy",
          s"CASE WHEN flux IS NOT NULL THEN flux WHEN nnull = 0 THEN $M + inflow " +
            "WHEN nnull IS NULL THEN flux END AS flux")
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // route caps below = twin unroll + checkEvery(8): converge() detects a
    // fixpoint one check-block after the state stops changing, so these
    // caps pass iff convergence happened within the twin's unrolled rounds
    // (ADVICE r4 parity rule — a deeper corpus fails loudly, not silently).
    "dinf_flow_accum" -> ((s, dir) =>
      route(s, dir, dinfEdges(s, dir), "dinf_accum", maxRounds = routeRounds + 8)
        .selectExpr("ix", "iy", s"cast(flux as double) / $M.0e0 AS fa_dinf")
        .orderBy("ix", "iy")),

    "fd8_flow_accum" -> ((s, dir) =>
      // FD8 routes along EVERY descending edge: its DAG depth is the
      // longest strictly-descending path (measured 140 on the fixture),
      // far beyond the D8 flow-path bound — hence the larger round cap
      route(s, dir, fd8Edges(s, dir), "fd8_accum", maxRounds = fd8Rounds + 8)
        .selectExpr("ix", "iy", s"cast(flux as double) / $M.0e0 AS fa_fd8")
        .orderBy("ix", "iy")),

    // DInfMassFlux (hydro_analysis/dinf_mass_flux.rs): the mass-flux
    // recursion (loading, efficiency, absorption 0) routed along the D-inf
    // proportional edges — same integer fixed-point discipline as
    // d8_mass_flux (load 1..5 in M units, efficiency 80..99%).
    "dinf_mass_flux" -> ((s, dir) => {
      val e = dinfEdges(s, dir).localCheckpoint()
      val nin = e.groupBy(col("tx").as("ix"), col("ty").as("iy"))
        .agg(count(lit(1)).as("n_in"))
      val base = Dem.dem(s, dir).selectExpr("ix", "iy",
        s"cast(${loadME(graft.core.SparkD)} as bigint) * $M AS load",
        s"cast(${effME(graft.core.SparkD)} as bigint) AS eff")
      val init = base.join(nin, Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy", "load", "eff",
          "CASE WHEN n_in IS NULL THEN load END AS flux")
      Dem.converge(init, routeRounds + 8, 8, "dinf_mass_flux") { cur =>
        val inflow = e.join(cur, Seq("ix", "iy"))
          .selectExpr("tx", "ty", "CASE WHEN flux IS NULL THEN 1 ELSE 0 END AS nn",
            s"(((flux * eff) div 100) * pm) div $M AS part")
          .groupBy(col("tx").as("ix"), col("ty").as("iy"))
          .agg(expr("cast(sum(nn) as bigint)").as("nnull"),
            expr("cast(sum(part) as bigint)").as("inflow"))
        cur.join(inflow, Seq("ix", "iy"), "left")
          .selectExpr("ix", "iy", "load", "eff",
            "CASE WHEN flux IS NOT NULL THEN flux WHEN nnull = 0 THEN load + inflow END AS flux")
      }.selectExpr("ix", "iy", s"cast(flux as double) / $M.0e0 AS mass_flux")
        .orderBy("ix", "iy")
    }),

    "flow_length_diff" -> ((s, dir) => {
      val dl = Hydro4.downLen(s, dir).selectExpr("ix", "iy", s"${lenOf("nc", "nd")} AS fl")
      val nbr = dl.selectExpr("ix AS cix", "iy AS ciy", "fl")
        .withColumn("dx", explode(sequence(lit(-1), lit(1))))
        .withColumn("dy", explode(sequence(lit(-1), lit(1))))
        .filter(expr("NOT (dx = 0 AND dy = 0)"))
        .selectExpr("cix + dx AS ix", "ciy + dy AS iy", "fl AS nfl")
      dl.join(nbr, Seq("ix", "iy"))
        .groupBy("ix", "iy")
        .agg(expr("round(max(abs(fl - nfl)), 6)").as("max_fl_diff"))
        .orderBy("ix", "iy")
    })
  )

  // ---- DuckDB twins ----------------------------------------------------

  private def Wd(extra: String*): String =
    (Seq(Dem.duckDemCtes) ++ extra).mkString("WITH RECURSIVE ", ", ", " ")

  private def sectValues: String =
    (0 until 8).map(k => s"($k, ${t1x(k)}, ${t1y(k)}, ${t2x(k)}, ${t2y(k)})").mkString(", ")

  /** the dinf_pointer twin chain reduced to `dv(ix, iy, dinf_dir)` —
    * composed from Dinf's shared facetChain/dinfDirE constants (no
    * substring surgery on the assembled oracle; ADVICE r4 pattern). */
  private def duckDinfDir: String =
    Dinf.facetChain + ", " +
      s"dv AS MATERIALIZED (SELECT d.ix, d.iy, ${Dinf.dinfDirE} AS dinf_dir " +
      "FROM dem d LEFT JOIN bs ON bs.ix = d.ix AND bs.iy = d.iy)"

  /** ready-gated routing rounds over an existing `re(ix,iy,tx,ty,pm)`. */
  private def duckRoute(rounds: Int): String = {
    val nin = s"nin AS (SELECT tx AS ix, ty AS iy, count(*) AS n FROM re GROUP BY 1, 2)"
    val r0 = s"r0 AS (SELECT dem.ix, dem.iy, CASE WHEN nin.n IS NULL THEN cast($M as bigint) END AS flux " +
      "FROM dem LEFT JOIN nin ON nin.ix = dem.ix AND nin.iy = dem.iy)"
    val rs = (1 to rounds).map { r =>
      val p = s"r${r - 1}"
      s"rg$r AS (SELECT re.tx AS ix, re.ty AS iy, " +
        "cast(sum(CASE WHEN p.flux IS NULL THEN 1 ELSE 0 END) as bigint) AS nnull, " +
        s"cast(sum((p.flux * re.pm) // $M) as bigint) AS inflow " +
        s"FROM re JOIN $p p ON p.ix = re.ix AND p.iy = re.iy GROUP BY 1, 2), " +
        s"r$r AS MATERIALIZED (SELECT v.ix, v.iy, " +
        s"CASE WHEN v.flux IS NOT NULL THEN v.flux WHEN g.nnull = 0 THEN $M + g.inflow END AS flux " +
        s"FROM $p v LEFT JOIN rg$r g ON g.ix = v.ix AND g.iy = v.iy)"
    }.mkString(", ")
    s"$nin, $r0, $rs"
  }

  private val routeRounds = 40
  private val fd8Rounds = 160

  /** mass-flux routing rounds over `re` + `mbase(ix,iy,load,eff)`. */
  private def duckMassRoute(rounds: Int): String = {
    val nin = "mnin AS (SELECT tx AS ix, ty AS iy, count(*) AS n FROM re GROUP BY 1, 2)"
    val r0 = "mr0 AS (SELECT mbase.ix, mbase.iy, mbase.load, mbase.eff, " +
      "CASE WHEN mnin.n IS NULL THEN mbase.load END AS flux " +
      "FROM mbase LEFT JOIN mnin ON mnin.ix = mbase.ix AND mnin.iy = mbase.iy)"
    val rs = (1 to rounds).map { r =>
      val p = s"mr${r - 1}"
      s"mg$r AS (SELECT re.tx AS ix, re.ty AS iy, " +
        "cast(sum(CASE WHEN p.flux IS NULL THEN 1 ELSE 0 END) as bigint) AS nnull, " +
        s"cast(sum((((p.flux * p.eff) // 100) * re.pm) // $M) as bigint) AS inflow " +
        s"FROM re JOIN $p p ON p.ix = re.ix AND p.iy = re.iy GROUP BY 1, 2), " +
        s"mr$r AS MATERIALIZED (SELECT v.ix, v.iy, v.load, v.eff, " +
        "CASE WHEN v.flux IS NOT NULL THEN v.flux WHEN g.nnull = 0 THEN v.load + g.inflow END AS flux " +
        s"FROM $p v LEFT JOIN mg$r g ON g.ix = v.ix AND g.iy = v.iy)"
    }.mkString(", ")
    s"$nin, $r0, $rs"
  }

  def oracles: Map[String, String] = Map(

    "dinf_flow_accum" -> (Wd(duckDinfDir,
      s"sect AS (SELECT * FROM (VALUES $sectValues) s(k, x1, y1, x2, y2))",
      "dk AS (SELECT dv.ix, dv.iy, least(cast(floor(dv.dinf_dir / 45.0e0) as int), 7) AS k, dv.dinf_dir " +
        "FROM dv WHERE dv.dinf_dir >= 0.0e0)",
      "dp AS (SELECT dk.ix, dk.iy, sect.x1, sect.y1, sect.x2, sect.y2, " +
        s"cast(round((cast(45 * (dk.k + 1) as double) - dk.dinf_dir) / 45.0e0 * $M) as bigint) AS p1m " +
        "FROM dk JOIN sect ON sect.k = dk.k)",
      "reu AS (SELECT ix, iy, ix + x1 AS tx, iy + y1 AS ty, p1m AS pm FROM dp " +
        s"UNION ALL SELECT ix, iy, ix + x2, iy + y2, $M - p1m FROM dp)",
      "re AS MATERIALIZED (SELECT reu.* FROM reu JOIN dem t ON t.ix = reu.tx AND t.iy = reu.ty " +
        "WHERE reu.pm > 0)",
      duckRoute(routeRounds)) +
      s"SELECT ix, iy, cast(flux as double) / $M.0e0 AS fa_dinf FROM r$routeRounds ORDER BY ix, iy"),

    "fd8_flow_accum" -> (Wd(
      "wt AS (SELECT ix, iy, nix AS tx, niy AS ty, " +
        "pow(cast(z - nz as double), 1.1e0) AS w FROM hh WHERE nz < z)",
      "twt AS (SELECT ix, iy, sum(w) AS tw FROM wt GROUP BY 1, 2)",
      "re AS MATERIALIZED (SELECT wt.ix, wt.iy, wt.tx, wt.ty, " +
        s"cast(round(wt.w / twt.tw * $M) as bigint) AS pm " +
        "FROM wt JOIN twt ON twt.ix = wt.ix AND twt.iy = wt.iy " +
        s"WHERE cast(round(wt.w / twt.tw * $M) as bigint) > 0)",
      duckRoute(fd8Rounds)) +
      s"SELECT ix, iy, cast(flux as double) / $M.0e0 AS fa_fd8 FROM r$fd8Rounds ORDER BY ix, iy"),

    "dinf_mass_flux" -> (Wd(duckDinfDir,
      s"sect AS (SELECT * FROM (VALUES $sectValues) s(k, x1, y1, x2, y2))",
      "dk AS (SELECT dv.ix, dv.iy, least(cast(floor(dv.dinf_dir / 45.0e0) as int), 7) AS k, dv.dinf_dir " +
        "FROM dv WHERE dv.dinf_dir >= 0.0e0)",
      "dp AS (SELECT dk.ix, dk.iy, sect.x1, sect.y1, sect.x2, sect.y2, " +
        s"cast(round((cast(45 * (dk.k + 1) as double) - dk.dinf_dir) / 45.0e0 * $M) as bigint) AS p1m " +
        "FROM dk JOIN sect ON sect.k = dk.k)",
      "reu AS (SELECT ix, iy, ix + x1 AS tx, iy + y1 AS ty, p1m AS pm FROM dp " +
        s"UNION ALL SELECT ix, iy, ix + x2, iy + y2, $M - p1m FROM dp)",
      "re AS MATERIALIZED (SELECT reu.* FROM reu JOIN dem t ON t.ix = reu.tx AND t.iy = reu.ty " +
        "WHERE reu.pm > 0)",
      s"mbase AS (SELECT ix, iy, cast(${loadME(DuckD)} as bigint) * $M AS load, " +
        s"cast(${effME(DuckD)} as bigint) AS eff FROM dem)",
      duckMassRoute(routeRounds)) +
      s"SELECT ix, iy, cast(flux as double) / $M.0e0 AS mass_flux FROM mr$routeRounds ORDER BY ix, iy"),

    "flow_length_diff" -> (Wd(
      "fpw AS (SELECT ix AS sx, iy AS sy, ix AS cx, iy AS cy, " +
        "cast(0 as bigint) AS nc, cast(0 as bigint) AS nd FROM dd " +
        "UNION ALL SELECT p.sx, p.sy, e.tx, e.ty, p.nc + e.ec, p.nd + e.ed " +
        "FROM fpw p JOIN e ON e.ix = p.cx AND e.iy = p.cy)",
      s"dl AS MATERIALIZED (SELECT sx AS ix, sy AS iy, ${lenOf("max(nc)", "max(nd)")} AS fl " +
        "FROM fpw GROUP BY 1, 2)") +
      "SELECT c.ix, c.iy, round(max(abs(c.fl - n.fl)), 6) AS max_fl_diff " +
      "FROM dl c JOIN dl n ON n.ix BETWEEN c.ix - 1 AND c.ix + 1 " +
      "AND n.iy BETWEEN c.iy - 1 AND c.iy + 1 AND NOT (n.ix = c.ix AND n.iy = c.iy) " +
      "GROUP BY 1, 2 ORDER BY 1, 2")
  )
}
