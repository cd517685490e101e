package graft.ops

import graft.core.{DuckD, Gates, Geo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pattern-based line morphology (image_analysis/line_thin.rs,
  * remove_spurs.rs, thicken_line.rs) + FindRidges (terrain_analysis/
  * find_ridges.rs:207-300, which composes the ridge mask with the same
  * thinning table).
  *
  * The reference iterates the 3×3 pattern tables IN-PLACE in scan order —
  * cells see already-updated neighbours within a pass, making the result
  * depend on the scan direction. Here each pattern is applied
  * SYNCHRONOUSLY (one halo aggregate over the whole mask per
  * pattern, patterns in the reference's order, repeated until a full
  * 8-pattern round changes nothing) — a documented deviation that is
  * deterministic, partition-order-independent, and identical in both
  * engines. Convergence is asserted on the Spark side; the DuckDB twins
  * unroll R rounds with R above the asserted convergence point (the
  * erasure process is monotone, so extra rounds are no-ops).
  *
  * Masks: the res-4 occupancy mask (the morph_opening fixture) for the
  * image tools; the N/S-or-W/E-lower ridge mask on the DEM for
  * FindRidges.
  */
object Morph2 extends Gates {

  // reference neighbour order i → (dx, dyRow); our iy grows north, so the
  // neighbour cell is (ix + dx, iy − dyRow)
  private val dxs = Seq(1, 1, 1, 0, -1, -1, -1, 0)
  private val dys = Seq(-1, 0, 1, 1, 1, 0, -1, -1)

  // line_thin.rs / find_ridges.rs pattern tables
  private val thinElems = Seq(
    Seq(6, 7, 0, 4, 3, 2), Seq(7, 0, 1, 3, 5), Seq(0, 1, 2, 4, 5, 6),
    Seq(1, 2, 3, 5, 7), Seq(2, 3, 4, 6, 7, 0), Seq(3, 4, 5, 7, 1),
    Seq(4, 5, 6, 0, 1, 2), Seq(5, 6, 7, 1, 3))
  private val thinVals = Seq(
    Seq(0, 0, 0, 1, 1, 1), Seq(0, 0, 0, 1, 1), Seq(0, 0, 0, 1, 1, 1),
    Seq(0, 0, 0, 1, 1), Seq(0, 0, 0, 1, 1, 1), Seq(0, 0, 0, 1, 1),
    Seq(0, 0, 0, 1, 1, 1), Seq(0, 0, 0, 1, 1))

  // remove_spurs.rs: erase when the 6 listed neighbours are ALL absent
  private val spurElems = Seq(
    Seq(0, 1, 4, 5, 6, 7), Seq(0, 1, 2, 5, 6, 7), Seq(0, 1, 2, 3, 6, 7),
    Seq(0, 1, 2, 3, 4, 7), Seq(0, 1, 2, 3, 4, 5), Seq(1, 2, 3, 4, 5, 6),
    Seq(2, 3, 4, 5, 6, 7), Seq(0, 3, 4, 5, 6, 7))

  private def patterns(spur: Boolean): Seq[Seq[(Int, Int)]] =
    if (spur) spurElems.map(_.map(i => (i, 0)))
    else thinElems.zip(thinVals).map { case (es, vs) => es.zip(vs) }

  // ---- Spark engine ----------------------------------------------------

  /** the cell itself (pos 0) and its 8 neighbours (pos i + 1) */
  private val selfAndNeighbours = array((0 +: dxs).zip(0 +: dys).map { case (dx, dy) =>
    struct(lit(dx).as("dx"), lit(dy).as("dy"))
  }: _*)

  /** presence flags of every cell in or next to `mask`: each mask cell
    * reports itself (pos 0) and, as neighbour i, its presence to the cell
    * it neighbours (pos i + 1); one aggregate per cell gathers `self` and
    * m0..m7. It reads `mask` once, so a chain of patterns plans one copy
    * of its input per pattern, not two. */
  private def flags(mask: DataFrame): DataFrame = {
    val reports = mask.select(col("ix"), col("iy"), posexplode(selfAndNeighbours))
      .select((col("ix") - col("col.dx")).as("ix"), (col("iy") + col("col.dy")).as("iy"),
        col("pos"))
    val aggs = (0 to 8).map(j => expr(s"max(CASE WHEN pos = $j THEN 1 ELSE 0 END)")
      .as(if (j == 0) "self" else s"m${j - 1}"))
    reports.groupBy("ix", "iy").agg(aggs.head, aggs.tail: _*)
  }

  /** one synchronous pattern pass: the mask cells the pattern matches are
    * erased. */
  private def applyPattern(m: DataFrame, pat: Seq[(Int, Int)]): DataFrame = {
    val cond = pat.map { case (i, v) => s"m$i = $v" }.mkString(" AND ")
    flags(m).filter(expr(s"self = 1 AND NOT ($cond)")).select("ix", "iy")
  }

  /** synchronous per-pattern erosion to convergence (asserted): one round
    * applies every pattern once, and the first round that erases nothing
    * ends the loop. */
  private def iterate(mask: DataFrame, spur: Boolean, maxRounds: Int,
      what: String): DataFrame =
    Dem.converge(mask, maxRounds, 1, what)(m => patterns(spur).foldLeft(m)(applyPattern))

  /** res-4 occupancy mask (the morph fixture). */
  private def mask4(s: SparkSession, dir: String): DataFrame =
    Raster.density(s, dir, 4).filter(expr("v >= 1")).select("ix", "iy")

  /** N/S-or-W/E-lower ridge mask on the DEM (find_ridges.rs:215-227). */
  private def ridgeMask(s: SparkSession, dir: String): DataFrame = {
    val g = Dem.dem(s, dir)
    def nb(dx: Int, dy: Int, as: String) =
      g.selectExpr(s"ix - ($dx) AS ix", s"iy - ($dy) AS iy", s"z AS $as")
    g.join(nb(0, 1, "zn"), Seq("ix", "iy"), "left")
      .join(nb(0, -1, "zs"), Seq("ix", "iy"), "left")
      .join(nb(-1, 0, "zw"), Seq("ix", "iy"), "left")
      .join(nb(1, 0, "ze"), Seq("ix", "iy"), "left")
      .filter(expr("(zn IS NOT NULL AND zs IS NOT NULL AND zn < z AND zs < z) OR " +
        "(zw IS NOT NULL AND ze IS NOT NULL AND zw < z AND ze < z)"))
      .select("ix", "iy")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // caps = twin unroll + 1: iterate() detects the fixpoint one round
    // after erasure stops, so each cap passes iff convergence happened
    // within the twin's unrolled rounds (ADVICE r4 parity rule).
    "line_thinning" -> ((s, dir) =>
      iterate(mask4(s, dir), spur = false, 11, "line_thinning")
        .orderBy("ix", "iy")),

    "remove_spurs" -> ((s, dir) =>
      iterate(mask4(s, dir), spur = true, 9, "remove_spurs")
        .orderBy("ix", "iy")),

    // thicken_line.rs:192-211 synchronous single pass: a background cell
    // joins the mask when two consecutive cardinal neighbours are present
    // and the diagonal between them is absent
    "thicken_raster_line" -> ((s, dir) => {
      val m = mask4(s, dir)
      // background cells (self = 0) next to the mask; cardinal pairs
      // (n1, n3) with the diagonal n2 between, in reference order:
      // (7,1,0),(1,3,2),(3,5,4),(5,7,6) mapped from n1/n2/n3 arrays
      val grown = flags(m).filter(expr("self = 0 AND (" +
        "(m7 = 1 AND m1 = 1 AND m0 = 0) OR (m1 = 1 AND m3 = 1 AND m2 = 0) OR " +
          "(m3 = 1 AND m5 = 1 AND m4 = 0) OR (m5 = 1 AND m7 = 1 AND m6 = 0))"))
        .select("ix", "iy")
      m.unionByName(grown).orderBy("ix", "iy")
    }),

    "find_ridges" -> ((s, dir) =>
      iterate(ridgeMask(s, dir), spur = false, 7, "find_ridges")
        .orderBy("ix", "iy"))
  )

  // ---- DuckDB twins ----------------------------------------------------

  /** pages, the res-4 density grid and its occupied-cell mask q0 */
  private val duckQ0 = s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 4)}, " +
    "q0 AS (SELECT ix, iy FROM g WHERE v >= 1)"

  private def presE(tbl: String, i: Int): String =
    s"(CASE WHEN EXISTS (SELECT 1 FROM $tbl n WHERE n.ix = c.ix + ${dxs(i)} " +
      s"AND n.iy = c.iy - (${dys(i)})) THEN 1 ELSE 0 END)"

  /** unrolled synchronous pattern rounds q0 → q{rounds·8}. */
  private def unroll(spur: Boolean, rounds: Int): String = {
    var k = 0
    val ctes = for {
      _ <- 1 to rounds
      pat <- patterns(spur)
    } yield {
      val prev = s"q$k"; k += 1
      val cond = pat.map { case (i, v) => s"${presE(prev, i)} = $v" }.mkString(" AND ")
      s"q$k AS MATERIALIZED (SELECT c.ix, c.iy FROM $prev c WHERE NOT ($cond))"
    }
    ctes.mkString(", ")
  }

  private def lastQ(rounds: Int): String = s"q${rounds * 8}"

  def oracles: Map[String, String] = Map(

    "line_thinning" ->
      (s"$duckQ0, ${unroll(spur = false, 10)} " +
        s"SELECT ix, iy FROM ${lastQ(10)} ORDER BY ix, iy"),

    "remove_spurs" ->
      (s"$duckQ0, ${unroll(spur = true, 8)} " +
        s"SELECT ix, iy FROM ${lastQ(8)} ORDER BY ix, iy"),

    "thicken_raster_line" ->
      (s"$duckQ0, " +
        "cand AS (SELECT DISTINCT m.ix + a.d AS ix, m.iy + b.d AS iy FROM q0 m, " +
        "(SELECT unnest([-1, 0, 1]) AS d) a, (SELECT unnest([-1, 0, 1]) AS d) b), " +
        "bg AS (SELECT c.ix, c.iy FROM cand c LEFT JOIN q0 ON q0.ix = c.ix AND q0.iy = c.iy " +
        "WHERE q0.ix IS NULL), " +
        "grown AS (SELECT c.ix, c.iy FROM bg c WHERE " +
        s"(${presE("q0", 7)} = 1 AND ${presE("q0", 1)} = 1 AND ${presE("q0", 0)} = 0) OR " +
        s"(${presE("q0", 1)} = 1 AND ${presE("q0", 3)} = 1 AND ${presE("q0", 2)} = 0) OR " +
        s"(${presE("q0", 3)} = 1 AND ${presE("q0", 5)} = 1 AND ${presE("q0", 4)} = 0) OR " +
        s"(${presE("q0", 5)} = 1 AND ${presE("q0", 7)} = 1 AND ${presE("q0", 6)} = 0)) " +
        "SELECT ix, iy FROM q0 UNION ALL SELECT ix, iy FROM grown ORDER BY ix, iy"),

    "find_ridges" ->
      (s"WITH RECURSIVE ${Dem.duckDemCtes}, " +
        "q0 AS (SELECT d.ix, d.iy FROM dem d " +
        "LEFT JOIN dem nn ON nn.ix = d.ix AND nn.iy = d.iy + 1 " +
        "LEFT JOIN dem ns ON ns.ix = d.ix AND ns.iy = d.iy - 1 " +
        "LEFT JOIN dem nw ON nw.ix = d.ix - 1 AND nw.iy = d.iy " +
        "LEFT JOIN dem ne ON ne.ix = d.ix + 1 AND ne.iy = d.iy " +
        "WHERE (nn.z IS NOT NULL AND ns.z IS NOT NULL AND nn.z < d.z AND ns.z < d.z) " +
        "OR (nw.z IS NOT NULL AND ne.z IS NOT NULL AND nw.z < d.z AND ne.z < d.z)), " +
        s"${unroll(spur = false, 6)} " +
        s"SELECT ix, iy FROM ${lastQ(6)} ORDER BY ix, iy")
  )
}
