package graft.ops

import graft.core.Gates
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hydro tail batch 2 over the DEM frame:
  *
  *   - DownslopeDistanceToStream (hydro_analysis/downslope_distance_to
  *     _stream.rs): flow-path length from each cell to the first stream
  *     cell, carried as (cardinal, diagonal) integer step counts;
  *   - ElevationAboveStream (elevation_above_stream.rs): z − z(first
  *     stream cell on the flow path);
  *   - NumDownslopeNeighbours / NumUpslopeNeighbours (num_downslope
  *     _neighbours.rs, num_upslope_neighbours.rs): strictly lower/higher
  *     8-neighbour counts on the DEM;
  *   - AverageFlowpathSlope (average_flowpath_slope.rs:302-381): divides
  *     (0-indegree cells) carry (len 0, paths 1, divide-z z); every cell
  *     accumulates tfl(n) = Σ_{c→n}(tfl(c) + steplen), nfp(n) = Σ nfp(c),
  *     tude(n) = Σ tude(c) — the reference adds ONE steplen per inflow
  *     edge (not per path), cloned exactly; output = degrees(atan(
  *     (tude/nfp − z) / (tfl/nfp))). Divide cells (0/0) are omitted
  *     (the reference emits NaN there — deviation doc'd);
  *   - AverageUpslopeFlowpathLength (average_upslope_flowpath_length.rs:
  *     313-370): the same accumulators, output tfl/nfp (divides → 0);
  *   - SnapPourPoints (snap_pour_points.rs): gauge points snapped to the
  *     max-fa cell within Chebyshev 2; reference scan-order tie = min
  *     (x, then y), cloned;
  *   - TraceDownslopeFlowpaths (trace_downslope_flowpaths.rs): cells on
  *     the D8 paths from the seed cells (marked-set fixpoint);
  *   - HypsometricAnalysis (hypsometric_analysis.rs): 10-bin
  *     area–elevation table with cumulative area above each bin —
  *     integer bin arithmetic, fractions rounded at the end.
  *
  * The Jacobi states are null-until-ready where the reference peels
  * topologically (a cell's sums commit only once ALL inflow states are
  * committed), so the committed values equal the reference's exactly.
  * DuckDB twins: recursive upstream walks for the stream family; the
  * divide accumulators as 40 unrolled ready-gated rounds (> the asserted
  * convergence point).
  */
object Hydro3 extends Gates {

  import Dem.lenOf

  private val seedRows = Seq((10L, 40L, 1L), (30L, 8L, 2L), (44L, 20L, 3L))
  private def seedValues = seedRows.map { case (x, y, i) => s"($x, $y, $i)" }.mkString(", ")

  /** per-cell (nc, nd, zs) of the first downstream stream cell, memoized;
    * cells draining to a non-stream pit stay null and are omitted. */
  private def streamDown(s: SparkSession, dir: String): DataFrame =
    Dem.memo(s, dir, "stream_down") {
      val st = Dem.streams(s, dir)
      val e = Dem.edges(s, dir)
      val g = Dem.dem(s, dir)
      val init = g.join(st.withColumn("is_st", lit(1)), Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy",
          "CASE WHEN is_st = 1 THEN cast(0 as bigint) END AS nc",
          "CASE WHEN is_st = 1 THEN cast(0 as bigint) END AS nd",
          "CASE WHEN is_st = 1 THEN z END AS zs")
      Dem.converge(init, 96, 4, "stream_down") { cur =>
        val down = e.join(cur.selectExpr("ix AS tx", "iy AS ty",
            "nc AS dnc", "nd AS dnd", "zs AS dzs"), Seq("tx", "ty"))
          .selectExpr("ix", "iy", "dnc + ec AS cnc", "dnd + ed AS cnd", "dzs AS czs")
        cur.join(down, Seq("ix", "iy"), "left")
          .selectExpr("ix", "iy", "coalesce(nc, cnc) AS nc",
            "coalesce(nd, cnd) AS nd", "coalesce(zs, czs) AS zs")
      }
    }

  /** divide accumulators (a, b, nfp, tude) per cell, null-until-ready. */
  private def divAgg(s: SparkSession, dir: String): DataFrame =
    Dem.memo(s, dir, "div_agg") {
      val e = Dem.edges(s, dir)
      val nin = Dem.indegAll(s, dir)
      val g = Dem.dem(s, dir)
      val init = g.join(nin, Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy", "coalesce(n_in, 0) AS n_in",
          "CASE WHEN n_in IS NULL THEN cast(0 as bigint) END AS a",
          "CASE WHEN n_in IS NULL THEN cast(0 as bigint) END AS b",
          "CASE WHEN n_in IS NULL THEN cast(1 as bigint) END AS nfp",
          "CASE WHEN n_in IS NULL THEN z END AS tude")
      Dem.converge(init, 96, 4, "div_agg") { cur =>
        val agg = e.join(cur, Seq("ix", "iy"))
          .groupBy(col("tx").as("ix"), col("ty").as("iy"))
          .agg(expr("cast(sum(CASE WHEN a IS NULL THEN 1 ELSE 0 END) as bigint)").as("nnull"),
            expr("cast(sum(a + ec) as bigint)").as("sa"),
            expr("cast(sum(b + ed) as bigint)").as("sb"),
            expr("cast(sum(nfp) as bigint)").as("snf"),
            expr("cast(sum(tude) as bigint)").as("stu"))
        cur.join(agg, Seq("ix", "iy"), "left")
          .selectExpr("ix", "iy", "n_in",
            "CASE WHEN a IS NOT NULL THEN a WHEN nnull = 0 THEN sa END AS a",
            "CASE WHEN b IS NOT NULL THEN b WHEN nnull = 0 THEN sb END AS b",
            "CASE WHEN nfp IS NOT NULL THEN nfp WHEN nnull = 0 THEN snf END AS nfp",
            "CASE WHEN tude IS NOT NULL THEN tude WHEN nnull = 0 THEN stu END AS tude")
      }
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "downslope_distance_to_stream" -> ((s, dir) =>
      streamDown(s, dir).filter(col("nc").isNotNull)
        .selectExpr("ix", "iy", s"${lenOf("nc", "nd")} AS dist")),

    "elevation_above_stream" -> ((s, dir) =>
      streamDown(s, dir).filter(col("nc").isNotNull)
        .join(Dem.dem(s, dir), Seq("ix", "iy"))
        .selectExpr("ix", "iy", "cast(z - zs as bigint) AS elev_above")),

    "num_downslope_neighbours" -> ((s, dir) =>
      Dem.halo(Dem.dem(s, dir))
        .groupBy("ix", "iy")
        .agg(expr("cast(sum(CASE WHEN nz < z THEN 1 ELSE 0 END) as bigint)").as("n_down"))),

    "num_upslope_neighbours" -> ((s, dir) =>
      Dem.halo(Dem.dem(s, dir))
        .groupBy("ix", "iy")
        .agg(expr("cast(sum(CASE WHEN nz > z THEN 1 ELSE 0 END) as bigint)").as("n_up"))),

    "average_flowpath_slope" -> ((s, dir) =>
      divAgg(s, dir).filter(expr("n_in > 0"))
        .join(Dem.dem(s, dir), Seq("ix", "iy"))
        .selectExpr("ix", "iy",
          "round(degrees(atan((cast(tude as double) / cast(nfp as double) - cast(z as double)) / " +
            s"((${lenOf("a", "b")}) / cast(nfp as double)))), 6) AS avg_fp_slope")),

    "average_upslope_flowpath_length" -> ((s, dir) =>
      divAgg(s, dir)
        .selectExpr("ix", "iy",
          s"(${lenOf("a", "b")}) / cast(nfp as double) AS avg_upslope_len")),

    "snap_pour_points" -> ((s, dir) => snapPour(s, dir, 2)),

    "trace_downslope_flowpaths" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val seeds = seedRows.toDF("ix", "iy", "pid").select("ix", "iy")
      val ddf = Dem.dd(s, dir)
      val init = ddf.select("ix", "iy")
        .join(seeds.withColumn("m", lit(1L)), Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy", "coalesce(m, 0) AS m")
      Dem.converge(init, 200, 8, "trace_downslope") { cur =>
        val stepDown = cur.filter(col("m") === 1)
          .join(ddf.filter(col("dir") >= 0), Seq("ix", "iy"))
          .selectExpr("tx AS ix", "ty AS iy", "cast(1 as bigint) AS m2")
          .distinct()
        cur.join(stepDown, Seq("ix", "iy"), "left")
          .selectExpr("ix", "iy", "greatest(m, coalesce(m2, 0)) AS m")
      }.filter(col("m") === 1).select("ix", "iy")
    }),

    "hypsometric_analysis" -> ((s, dir) => {
      val g = Dem.dem(s, dir)
      val mm = g.agg(min("z").as("zmn"), max("z").as("zmx"), count(lit(1)).as("ntot"))
      val binned = g.crossJoin(broadcast(mm))
        .selectExpr("(z - zmn) * 10 div (zmx - zmn + 1) AS bin", "ntot")
        .groupBy("bin").agg(count(lit(1)).as("n_cells"), max("ntot").as("ntot"))
      binned
        .withColumn("cum_above", expr(
          "sum(n_cells) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"))
        .selectExpr("bin", "n_cells",
          "round(cast(cum_above as double) / cast(ntot as double), 6) AS frac_above")
    })
  )

  // ---- DuckDB twins ----------------------------------------------------

  private def W(extra: String*): String =
    (Seq(Dem.duckStreamCtes) ++ extra).mkString("WITH RECURSIVE ", ", ", " ")

  /** upstream walk from stream cells carrying (nc, nd, zs) — LEFT JOIN
    * anti stop (DuckDB 1.0 drops correlated NOT EXISTS in recursion). */
  private val duckStreamDown: String =
    "sw AS (SELECT dd.ix, dd.iy, cast(0 as bigint) AS nc, cast(0 as bigint) AS nd, dd.z AS zs " +
      "FROM dd JOIN st ON st.ix = dd.ix AND st.iy = dd.iy " +
      "UNION ALL SELECT e.ix, e.iy, w.nc + e.ec, w.nd + e.ed, w.zs FROM sw w " +
      "JOIN e ON e.tx = w.ix AND e.ty = w.iy " +
      "LEFT JOIN st s2 ON s2.ix = e.ix AND s2.iy = e.iy WHERE s2.ix IS NULL)"

  /** SnapPourPoints --snap_dist (snap_pour_points.rs): highest-fa cell in
    * the (2r+1)² window around each gauge seed; min_by packed struct keeps
    * the (−fa, ix, iy) tie rule identical on both engines. */
  private[ops] def snapPour(s: SparkSession, dir: String, r: Int): DataFrame = {
    val sp = s
    import sp.implicits._
    val raw = seedRows.toDF("px", "py", "pid")
    val fa = Dem.fa(s, dir)
    raw.withColumn("dx", explode(sequence(lit(-r), lit(r))))
      .withColumn("dy", explode(sequence(lit(-r), lit(r))))
      .selectExpr("pid", "px + dx AS ix", "py + dy AS iy")
      .join(fa, Seq("ix", "iy"))
      .groupBy("pid")
      .agg(expr("min_by(named_struct('sx', ix, 'sy', iy), " +
        "named_struct('nf', -fa, 'sx', ix, 'sy', iy))").as("b"))
      .selectExpr("pid", "b.sx AS sx", "b.sy AS sy")
  }

  private[ops] def snapPourDuck(r: Int): String = W(
    s"raw AS (SELECT * FROM (VALUES $seedValues) r(px, py, pid))",
    "sn AS (SELECT pid, fa.ix AS sx, fa.iy AS sy, " +
      "row_number() OVER (PARTITION BY pid ORDER BY fa.fa DESC, fa.ix, fa.iy) AS rn " +
      s"FROM raw JOIN fa ON fa.ix BETWEEN raw.px - $r AND raw.px + $r " +
      s"AND fa.iy BETWEEN raw.py - $r AND raw.py + $r)") +
    "SELECT pid, sx, sy FROM sn WHERE rn = 1 ORDER BY pid"

  private val divRounds = 40

  /** unrolled ready-gated divide accumulators ending in v{divRounds}. */
  private def duckDivCtes: String = {
    val nin = "nin AS (SELECT tx AS ix, ty AS iy, count(*) AS n FROM e GROUP BY 1, 2)"
    val v0 = "v0 AS (SELECT dd.ix, dd.iy, coalesce(nin.n, 0) AS n_in, " +
      "CASE WHEN nin.n IS NULL THEN cast(0 as bigint) END AS a, " +
      "CASE WHEN nin.n IS NULL THEN cast(0 as bigint) END AS b, " +
      "CASE WHEN nin.n IS NULL THEN cast(1 as bigint) END AS nfp, " +
      "CASE WHEN nin.n IS NULL THEN dd.z END AS tude " +
      "FROM dd LEFT JOIN nin ON nin.ix = dd.ix AND nin.iy = dd.iy)"
    val rounds = (1 to divRounds).map { r =>
      val p = s"v${r - 1}"
      s"g$r AS (SELECT e.tx AS ix, e.ty AS iy, " +
        "cast(sum(CASE WHEN p.a IS NULL THEN 1 ELSE 0 END) as bigint) AS nnull, " +
        "cast(sum(p.a + e.ec) as bigint) AS sa, cast(sum(p.b + e.ed) as bigint) AS sb, " +
        "cast(sum(p.nfp) as bigint) AS snf, cast(sum(p.tude) as bigint) AS stu " +
        s"FROM e JOIN $p p ON p.ix = e.ix AND p.iy = e.iy GROUP BY 1, 2), " +
        s"v$r AS MATERIALIZED (SELECT v.ix, v.iy, v.n_in, " +
        "CASE WHEN v.a IS NOT NULL THEN v.a WHEN g.nnull = 0 THEN g.sa END AS a, " +
        "CASE WHEN v.b IS NOT NULL THEN v.b WHEN g.nnull = 0 THEN g.sb END AS b, " +
        "CASE WHEN v.nfp IS NOT NULL THEN v.nfp WHEN g.nnull = 0 THEN g.snf END AS nfp, " +
        "CASE WHEN v.tude IS NOT NULL THEN v.tude WHEN g.nnull = 0 THEN g.stu END AS tude " +
        s"FROM $p v LEFT JOIN g$r g ON g.ix = v.ix AND g.iy = v.iy)"
    }.mkString(", ")
    s"$nin, $v0, $rounds"
  }

  def oracles: Map[String, String] = Map(

    "downslope_distance_to_stream" -> (W(duckStreamDown) +
      s"SELECT ix, iy, ${lenOf("nc", "nd")} AS dist FROM sw ORDER BY ix, iy"),

    "elevation_above_stream" -> (W(duckStreamDown) +
      "SELECT sw.ix, sw.iy, cast(d.z - sw.zs as bigint) AS elev_above " +
      "FROM sw JOIN dem d ON d.ix = sw.ix AND d.iy = sw.iy ORDER BY 1, 2"),

    "num_downslope_neighbours" -> (s"WITH RECURSIVE ${Dem.duckDemCtes} " +
      "SELECT ix, iy, cast(sum(CASE WHEN nz < z THEN 1 ELSE 0 END) as bigint) AS n_down " +
      "FROM hh GROUP BY 1, 2 ORDER BY ix, iy"),

    "num_upslope_neighbours" -> (s"WITH RECURSIVE ${Dem.duckDemCtes} " +
      "SELECT ix, iy, cast(sum(CASE WHEN nz > z THEN 1 ELSE 0 END) as bigint) AS n_up " +
      "FROM hh GROUP BY 1, 2 ORDER BY ix, iy"),

    "average_flowpath_slope" -> (s"WITH RECURSIVE ${Dem.duckDemCtes}, $duckDivCtes " +
      s"SELECT v.ix, v.iy, round(degrees(atan((cast(v.tude as double) / cast(v.nfp as double) " +
      s"- cast(d.z as double)) / ((${lenOf("v.a", "v.b")}) / cast(v.nfp as double)))), 6) AS avg_fp_slope " +
      s"FROM v$divRounds v JOIN dem d ON d.ix = v.ix AND d.iy = v.iy " +
      "WHERE v.n_in > 0 ORDER BY 1, 2"),

    "average_upslope_flowpath_length" -> (s"WITH RECURSIVE ${Dem.duckDemCtes}, $duckDivCtes " +
      s"SELECT ix, iy, (${lenOf("a", "b")}) / cast(nfp as double) AS avg_upslope_len " +
      s"FROM v$divRounds ORDER BY ix, iy"),

    "snap_pour_points" -> snapPourDuck(2),

    "trace_downslope_flowpaths" -> (W(
      s"seeds AS (SELECT px AS ix, py AS iy FROM (VALUES $seedValues) r(px, py, pid))",
      "tw AS (SELECT ix, iy FROM seeds " +
        "UNION SELECT dd.tx, dd.ty FROM tw JOIN dd ON dd.ix = tw.ix AND dd.iy = tw.iy " +
        "AND dd.dir >= 0)") +
      "SELECT ix, iy FROM tw ORDER BY ix, iy"),

    "hypsometric_analysis" -> (s"WITH RECURSIVE ${Dem.duckDemCtes}, " +
      "mm AS (SELECT min(z) AS zmn, max(z) AS zmx, count(*) AS ntot FROM dem), " +
      "binned AS (SELECT (d.z - mm.zmn) * 10 // (mm.zmx - mm.zmn + 1) AS bin, " +
      "count(*) AS n_cells, max(mm.ntot) AS ntot FROM dem d, mm GROUP BY 1), " +
      "cum AS (SELECT bin, n_cells, ntot, sum(n_cells) OVER (ORDER BY bin DESC " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_above FROM binned) " +
      "SELECT bin, n_cells, round(cast(cum_above as double) / cast(ntot as double), 6) AS frac_above " +
      "FROM cum ORDER BY bin")
  )
}
