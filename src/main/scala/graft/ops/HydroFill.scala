package graft.ops

import graft.core.Gates
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Depression-filling + watershed family over the DEM frame (Dem.scala):
  *
  *   - FillDepressions (hydro_analysis/fill_depressions.rs, Wang & Liu /
  *     priority-flood semantics, default no fix_flats ⇒ small_num = 0):
  *     re-expressed as the Planchon–Darboux monotone fixpoint
  *     F(c) = max(z(c), min_{n∈N8(c)} F(n)), F = z on the grid border,
  *     F = +∞ inland start — provably the same filled surface as priority
  *     flood, and each Jacobi round is one halo join + aggregate.
  *   - Sink (sink.rs): connected components (8-conn) of the F > z cells —
  *     Clump's label-propagation engine over the fill delta.
  *   - DepthInSink (depth_in_sink.rs): F − z over sink cells.
  *   - Watershed (watershed.rs:38-48): basin label per cell by walking D8
  *     pointers down to the first pour point; pour points = the 3 highest
  *     flow-accumulation stream cells (deterministic gauge pick: fa DESC,
  *     then ix, iy), labelled 1..3. Pointer jumping with pour cells as
  *     absorbing roots (reference trace stops at the FIRST labelled cell —
  *     absorbing roots reproduce that exactly).
  *   - Subbasins (subbasins.rs): label = stream-link id of the first
  *     stream cell the flow path reaches (stream cells own their link).
  *
  * DuckDB twins: fill as the identically-unrolled synchronous update
  * (stable under extra rounds; the Spark side ASSERTS convergence within
  * its cap, so 64 unrolled rounds ≥ the asserted convergence point);
  * watershed/subbasins as recursive pointer walks with absorbing stops;
  * sink components as recursive reachability min-label.
  */
object HydroFill extends Gates {

  import Dem.G

  private val borderE = s"(ix = 0 OR ix = ${G - 1} OR iy = 0 OR iy = ${G - 1})"
  private val fillRounds = 64

  /** Planchon–Darboux fill fixpoint over an arbitrary (ix, iy, z) frame —
    * shared by fill_depressions and the stochastic depression analysis
    * (which runs it once per perturbed realization). */
  private[ops] def fillOf(g: DataFrame, name: String): DataFrame = {
    val nbr = Dem.halo(g).select("ix", "iy", "nix", "niy").localCheckpoint()
    val init = g.selectExpr("ix", "iy", "z",
      s"CASE WHEN $borderE THEN cast(z as double) ELSE 1.0e18 END AS f")
    // cap = twin unroll (fillRounds) + checkEvery: converge() detects a
    // fixpoint one check-block AFTER the state stops changing, so this
    // cap passes iff convergence happened within the twin's unroll —
    // a data/scale change that needs more rounds fails loudly instead
    // of silently out-running the oracle's unrolled state (ADVICE r4).
    Dem.converge(init, fillRounds + 8, 8, name) { cur =>
      val nmin = nbr
        .join(cur.selectExpr("ix AS nix", "iy AS niy", "f AS nf"), Seq("nix", "niy"))
        .groupBy("ix", "iy").agg(min("nf").as("mn"))
      cur.select("ix", "iy", "z").join(nmin, Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy", "z",
          s"CASE WHEN $borderE THEN cast(z as double) " +
            "ELSE greatest(cast(z as double), coalesce(mn, 1.0e18)) END AS f")
    }
  }

  /** Filled elevation F per cell (double), memoized. */
  private[ops] def filled(s: SparkSession, dir: String): DataFrame =
    Dem.memo(s, dir, "filled") {
      fillOf(Dem.dem(s, dir), "fill_depressions")
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "fill_depressions" -> ((s, dir) =>
      filled(s, dir).selectExpr("ix", "iy", "f AS z_filled").orderBy("ix", "iy")),

    "sink" -> ((s, dir) => {
      val sc = filled(s, dir).filter(expr("f > cast(z as double)"))
        .selectExpr("ix", "iy", "cast(1 as bigint) AS v")
      Clump.clump(s, sc).selectExpr("ix", "iy", "label AS sink_id")
        .orderBy("ix", "iy")
    }),

    "depth_in_sink" -> ((s, dir) =>
      filled(s, dir).filter(expr("f > cast(z as double)"))
        .selectExpr("ix", "iy", "f - cast(z as double) AS depth")
        .orderBy("ix", "iy")),

    "watershed" -> ((s, dir) => {
      // 3-row gauge pick: bounded, deterministic (fa DESC, ix, iy); the
      // single-partition window is over exactly 3 rows
      val pour = Dem.fa(s, dir)
        .join(Dem.streams(s, dir), Seq("ix", "iy"), "left_semi")
        .orderBy(desc("fa"), col("ix"), col("iy")).limit(3)
        .withColumn("pid", row_number().over(Window.orderBy(desc("fa"), col("ix"), col("iy"))))
        .select("ix", "iy", "pid")
      val p0 = Dem.dd(s, dir)
        .join(pour.select("ix", "iy", "pid"), Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy",
          "CASE WHEN pid IS NOT NULL OR dir < 0 THEN ix ELSE tx END AS rx",
          "CASE WHEN pid IS NOT NULL OR dir < 0 THEN iy ELSE ty END AS ry")
      val rooted = Dem.roots(p0, "watershed")
      rooted.join(pour.selectExpr("ix AS rx", "iy AS ry", "pid"), Seq("rx", "ry"))
        .selectExpr("ix", "iy", "cast(pid as bigint) AS ws")
        .orderBy("ix", "iy")
    }),

    // Hillslopes (hillslopes.rs:105-260): the stream set is segmented
    // like links EXCEPT channel heads become singleton labels (the
    // reference re-labels every head after the peel); every other cell
    // takes the label of the first stream cell downstream. Labels are
    // canonical cell coords (scan-order numbering is output identity).
    "hillslopes" -> ((s, dir) => {
      val st = Dem.streams(s, dir)
      val hl = st
        .join(Dem.heads(s, dir).withColumn("is_h", lit(1)), Seq("ix", "iy"), "left")
        .join(Dem.links(s, dir), Seq("ix", "iy"))
        .selectExpr("ix", "iy",
          "CASE WHEN is_h = 1 THEN ix * 1000 + iy ELSE link_id END AS hs")
      val p0 = Dem.dd(s, dir)
        .join(st.withColumn("is_st", lit(1)), Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy",
          "CASE WHEN is_st = 1 OR dir < 0 THEN ix ELSE tx END AS rx",
          "CASE WHEN is_st = 1 OR dir < 0 THEN iy ELSE ty END AS ry")
      val rooted = Dem.roots(p0, "hillslopes")
      rooted.join(hl.selectExpr("ix AS rx", "iy AS ry", "hs"), Seq("rx", "ry"))
        .select("ix", "iy", "hs").orderBy("ix", "iy")
    }),

    // StrahlerBasins (strahler_basins.rs:258-320): the head-walk order
    // tracing reproduces per-stream-cell Strahler order; every cell then
    // takes the order of the first stream cell on its flow path — i.e.
    // subbasins labelled by Strahler order.
    "strahler_basins" -> ((s, dir) => {
      val st = Dem.streams(s, dir)
      val p0 = Dem.dd(s, dir)
        .join(st.withColumn("is_st", lit(1)), Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy",
          "CASE WHEN is_st = 1 OR dir < 0 THEN ix ELSE tx END AS rx",
          "CASE WHEN is_st = 1 OR dir < 0 THEN iy ELSE ty END AS ry")
      val rooted = Dem.roots(p0, "strahler_basins")
      rooted.join(Dem.strahler(s, dir).selectExpr("ix AS rx", "iy AS ry", "ord"), Seq("rx", "ry"))
        .selectExpr("ix", "iy", "ord AS basin_order")
        .orderBy("ix", "iy")
    }),

    "subbasins" -> ((s, dir) => {
      val st = Dem.streams(s, dir)
      val p0 = Dem.dd(s, dir)
        .join(st.withColumn("is_st", lit(1)), Seq("ix", "iy"), "left")
        .selectExpr("ix", "iy",
          "CASE WHEN is_st = 1 OR dir < 0 THEN ix ELSE tx END AS rx",
          "CASE WHEN is_st = 1 OR dir < 0 THEN iy ELSE ty END AS ry")
      val rooted = Dem.roots(p0, "subbasins")
      rooted.join(Dem.links(s, dir).selectExpr("ix AS rx", "iy AS ry", "link_id"), Seq("rx", "ry"))
        .selectExpr("ix", "iy", "link_id AS sub")
        .orderBy("ix", "iy")
    })
  )

  // ---- DuckDB twins ----------------------------------------------------

  /** unrolled synchronous fill rounds over CTE `src`, prefix `p`, ending
    * in `p{fillRounds}` — parameterized so the stochastic analysis can
    * unroll one chain per perturbed realization. */
  private[ops] def duckFillCtesFor(p: String, src: String): String = {
    val rounds = (1 to fillRounds).map { r =>
      val prev = s"$p${r - 1}"
      s"$p$r AS MATERIALIZED (SELECT c.ix, c.iy, c.z, " +
        s"CASE WHEN c.ix = 0 OR c.ix = ${G - 1} OR c.iy = 0 OR c.iy = ${G - 1} " +
        "THEN cast(c.z as double) " +
        "ELSE greatest(cast(c.z as double), min(n.f)) END AS f " +
        s"FROM $prev c JOIN $prev n " +
        "ON n.ix BETWEEN c.ix - 1 AND c.ix + 1 AND n.iy BETWEEN c.iy - 1 AND c.iy + 1 " +
        "AND NOT (n.ix = c.ix AND n.iy = c.iy) " +
        "GROUP BY c.ix, c.iy, c.z)"
    }.mkString(", ")
    s"${p}0 AS (SELECT ix, iy, z, CASE WHEN ix = 0 OR ix = ${G - 1} OR iy = 0 OR iy = ${G - 1} " +
      s"THEN cast(z as double) ELSE 1.0e18 END AS f FROM $src), $rounds"
  }

  /** unrolled synchronous fill rounds ending in ff. */
  private[ops] def duckFillCtes: String =
    duckFillCtesFor("f", "dem") +
      s", ff AS MATERIALIZED (SELECT ix, iy, z, f FROM f$fillRounds)"

  private[ops] def fillLast: String = fillRounds.toString

  private def W(extra: String*): String =
    (Seq(Dem.duckStreamCtes) ++ extra).mkString("WITH RECURSIVE ", ", ", " ")

  private def Wd(extra: String*): String =
    (Seq(Dem.duckDemCtes) ++ extra).mkString("WITH RECURSIVE ", ", ", " ")

  def oracles: Map[String, String] = Map(

    "fill_depressions" -> (Wd(duckFillCtes) +
      "SELECT ix, iy, f AS z_filled FROM ff ORDER BY ix, iy"),

    // component label = min cell id (ix·10^6+iy) over 8-connected
    // reachability within the sink set — Clump's canonical labelling
    "sink" -> (Wd(duckFillCtes,
      "sc AS MATERIALIZED (SELECT ix, iy FROM ff WHERE f > cast(z as double))",
      "reach AS (SELECT ix AS sx, iy AS sy, ix, iy FROM sc " +
        "UNION SELECT r.sx, r.sy, n.ix, n.iy FROM reach r JOIN sc n " +
        "ON n.ix BETWEEN r.ix - 1 AND r.ix + 1 AND n.iy BETWEEN r.iy - 1 AND r.iy + 1)") +
      "SELECT sx AS ix, sy AS iy, min(ix * 1000000 + iy) AS sink_id " +
      "FROM reach GROUP BY 1, 2 ORDER BY ix, iy"),

    "depth_in_sink" -> (Wd(duckFillCtes) +
      "SELECT ix, iy, f - cast(z as double) AS depth FROM ff " +
      "WHERE f > cast(z as double) ORDER BY ix, iy"),

    "watershed" -> (W(
      "pour AS MATERIALIZED (SELECT ix, iy, cast(row_number() OVER (ORDER BY fa DESC, ix, iy) as bigint) AS pid " +
        "FROM (SELECT fa.ix, fa.iy, fa.fa FROM fa JOIN st ON st.ix = fa.ix AND st.iy = fa.iy " +
        "ORDER BY fa.fa DESC, fa.ix, fa.iy LIMIT 3))",
      // absorbing stop via LEFT JOIN anti (a correlated NOT EXISTS in the
      // recursive arm is silently dropped by DuckDB 1.0 on this CTE graph)
      "wwalk AS (SELECT dd.ix AS sx, dd.iy AS sy, dd.ix AS cx, dd.iy AS cy FROM dd " +
        "UNION ALL SELECT w.sx, w.sy, dd.tx, dd.ty FROM wwalk w " +
        "JOIN dd ON dd.ix = w.cx AND dd.iy = w.cy AND dd.dir >= 0 " +
        "LEFT JOIN pour pp ON pp.ix = w.cx AND pp.iy = w.cy WHERE pp.ix IS NULL)") +
      "SELECT w.sx AS ix, w.sy AS iy, p.pid AS ws FROM wwalk w " +
      "JOIN pour p ON p.ix = w.cx AND p.iy = w.cy ORDER BY ix, iy"),

    "hillslopes" -> (W(Dem.duckLinkCtes,
      "hl AS (SELECT st.ix, st.iy, CASE WHEN h.ix IS NOT NULL THEN st.ix * 1000 + st.iy " +
        "ELSE lk.link_id END AS hs FROM st " +
        "LEFT JOIN heads h ON h.ix = st.ix AND h.iy = st.iy " +
        "JOIN lk ON lk.ix = st.ix AND lk.iy = st.iy)",
      "hwalk2 AS (SELECT dd.ix AS sx, dd.iy AS sy, dd.ix AS cx, dd.iy AS cy FROM dd " +
        "UNION ALL SELECT w.sx, w.sy, dd.tx, dd.ty FROM hwalk2 w " +
        "JOIN dd ON dd.ix = w.cx AND dd.iy = w.cy AND dd.dir >= 0 " +
        "LEFT JOIN st s2 ON s2.ix = w.cx AND s2.iy = w.cy WHERE s2.ix IS NULL)") +
      "SELECT w.sx AS ix, w.sy AS iy, hl.hs FROM hwalk2 w " +
      "JOIN hl ON hl.ix = w.cx AND hl.iy = w.cy ORDER BY ix, iy"),

    "strahler_basins" -> (W(Dem.duckStrahlerCtes,
      "sbw2 AS (SELECT dd.ix AS sx, dd.iy AS sy, dd.ix AS cx, dd.iy AS cy FROM dd " +
        "UNION ALL SELECT w.sx, w.sy, dd.tx, dd.ty FROM sbw2 w " +
        "JOIN dd ON dd.ix = w.cx AND dd.iy = w.cy AND dd.dir >= 0 " +
        "LEFT JOIN st s2 ON s2.ix = w.cx AND s2.iy = w.cy WHERE s2.ix IS NULL)") +
      s"SELECT w.sx AS ix, w.sy AS iy, o.ord AS basin_order FROM sbw2 w " +
      s"JOIN o${Dem.strahlerRounds} o ON o.ix = w.cx AND o.iy = w.cy ORDER BY ix, iy"),

    "subbasins" -> (W(Dem.duckLinkCtes,
      "sbwalk AS (SELECT dd.ix AS sx, dd.iy AS sy, dd.ix AS cx, dd.iy AS cy FROM dd " +
        "UNION ALL SELECT w.sx, w.sy, dd.tx, dd.ty FROM sbwalk w " +
        "JOIN dd ON dd.ix = w.cx AND dd.iy = w.cy AND dd.dir >= 0 " +
        "LEFT JOIN st s2 ON s2.ix = w.cx AND s2.iy = w.cy WHERE s2.ix IS NULL)") +
      "SELECT w.sx AS ix, w.sy AS iy, lk.link_id AS sub FROM sbwalk w " +
      "JOIN lk ON lk.ix = w.cx AND lk.iy = w.cy ORDER BY ix, iy")
  )
}
