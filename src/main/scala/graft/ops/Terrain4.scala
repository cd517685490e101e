package graft.ops

import graft.core.Gates
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Last terrain trio (terrain_analysis/feature_preserving_denoise.rs,
  * drainage_preserving_smoothing.rs, remove_off_terrain_objects.rs):
  *
  *   - FeaturePreservingDenoise (Sun et al. 2007, the reference's
  *     algorithm family): 3×3 plane normals → ONE normal-smoothing pass
  *     weighted by w = max(0, n_i·n_j − T)² (the feature threshold keeps
  *     sharp edges un-smoothed) → three fixed elevation-update rounds,
  *     each moving z toward the weighted mean of the neighbours' plane
  *     predictions z_j − (a_j·dx + b_j·dy)/c_j. Every neighbourhood sum
  *     is per-term micro-quantized to integers so the distributed order
  *     cannot move a bit; the round count is fixed on BOTH engines (the
  *     reference's --num_iter convention, like the KMeans rounds).
  *   - DrainagePreservingSmoothing (drainage_preserving_smoothing.rs):
  *     the same filter with the drainage constraint — STREAM cells
  *     (Dem.streams, fa > threshold) are pinned to their original z in
  *     every update round, so channels are never smoothed away.
  *   - RemoveOffTerrainObjects (remove_off_terrain_objects.rs): the
  *     progressive-morphology form — grey OPENING (dilation of erosion,
  *     two cascaded min- then max-window passes per radius) at radii
  *     {2, 4, 8} with a slope tolerance per radius; the off-terrain
  *     height is clipped to min over radii of opening_r + tol·r. The
  *     reference's progressive filter is this min-composition evaluated
  *     with its hill-flattening tolerance.
  */
object Terrain4 extends Gates {

  private val G = Dem.G
  private val T = "0.92e0" // normal-dot feature threshold
  private val zRounds = 3
  private val otoRadii = Seq(2, 4, 8)
  private val otoTol = 4000L // slope tolerance per radius step (clips ~12% spike cells, keeps terrain)

  private def bound(k: Int): String =
    if (k < 0) s"${-k} PRECEDING" else if (k == 0) "CURRENT ROW" else s"$k FOLLOWING"
  private def cw(agg: String, r: Int): String =
    s"$agg OVER (PARTITION BY iy ORDER BY ix ROWS BETWEEN ${bound(-r)} AND ${bound(r)})"
  private def rw(agg: String, r: Int): String =
    s"$agg OVER (PARTITION BY ix ORDER BY iy ROWS BETWEEN ${bound(-r)} AND ${bound(r)})"

  // 3×3 halo with reference neighbour order (see Multiscale.normalCte)
  private val dxs = Seq(1, 1, 1, 0, -1, -1, -1, 0)
  private val dys = Seq(-1, 0, 1, 1, 1, 0, -1, -1)

  private def nbrCte(nm: String, rel: String, zc: String): String = {
    val vs = (0 until 8).map { i =>
      s"coalesce(max(CASE WHEN n.ix = c.ix + (${dxs(i)}) AND n.iy = c.iy - (${dys(i)}) THEN n.$zc END), max(c.$zc)) AS v$i"
    }
    s"$nm AS (SELECT c.ix, c.iy, max(c.$zc) AS zc, ${vs.mkString(", ")} " +
      s"FROM $rel c JOIN $rel n ON n.ix BETWEEN c.ix - 1 AND c.ix + 1 " +
      "AND n.iy BETWEEN c.iy - 1 AND c.iy + 1 GROUP BY c.ix, c.iy)"
  }

  private val aE = "(-(v2 - v4 + 2.0e0 * (v1 - v5) + v0 - v6))"
  private val bE = "(-(v6 - v4 + 2.0e0 * (v7 - v3) + v0 - v2))"

  /** CTE chain: raw normals → smoothed unit normals (micro-quantized). */
  private def normalChain: String = {
    val zd = "zd AS (SELECT ix, iy, cast(z as double) AS zc FROM dem)"
    val nb = nbrCte("nb0", "zd", "zc")
    val na = s"na AS (SELECT ix, iy, $aE AS a, $bE AS b, " +
      s"sqrt($aE * $aE + $bE * $bE + 64.0e0) AS mag FROM nb0)"
    // pairwise weighted normal smoothing over the 3×3 halo; per-term
    // micro-quantized so the 9-term sums are integer
    val dot = "(a.a * n.a + a.b * n.b + 64.0e0) / (a.mag * n.mag)"
    val w = s"(CASE WHEN $dot > $T THEN ($dot - $T) * ($dot - $T) ELSE 0.0e0 END)"
    val sm = "sm AS (SELECT a.ix, a.iy, " +
      s"cast(sum(cast(round($w * (n.a / n.mag) * 1000000.0e0) as bigint)) as bigint) AS saq, " +
      s"cast(sum(cast(round($w * (n.b / n.mag) * 1000000.0e0) as bigint)) as bigint) AS sbq, " +
      s"cast(sum(cast(round($w * (8.0e0 / n.mag) * 1000000.0e0) as bigint)) as bigint) AS scq " +
      "FROM na a JOIN na n ON n.ix BETWEEN a.ix - 1 AND a.ix + 1 " +
      "AND n.iy BETWEEN a.iy - 1 AND a.iy + 1 GROUP BY a.ix, a.iy)"
    // fall back to the raw normal when every neighbour is across a feature
    val sn = "sn AS (SELECT sm.ix, sm.iy, " +
      "CASE WHEN sm.scq > 0 THEN cast(sm.saq as double) / cast(sm.scq as double) " +
      "ELSE na.a / 8.0e0 END AS pa, " +
      "CASE WHEN sm.scq > 0 THEN cast(sm.sbq as double) / cast(sm.scq as double) " +
      "ELSE na.b / 8.0e0 END AS pb " +
      "FROM sm JOIN na ON na.ix = sm.ix AND na.iy = sm.iy)"
    Seq(zd, nb, na, sm, sn).mkString(", ")
  }

  /** fixed elevation-update rounds; `pin` (SQL bool over ix, iy, stream
    * membership) freezes cells. z carried as micro-z integers. */
  private def zChain(pin: String, mat: String): String = {
    val z0 = "z0 AS (SELECT ix, iy, z * 1000000 AS zq FROM dem)"
    val rounds = (1 to zRounds).map { r =>
      val p = s"z${r - 1}"
      // prediction of neighbour j's plane at c: z_j − (pa_j·dx + pb_j·dy)
      // (unit plane z-coefficient folded into pa/pb by sn); micro-terms
      // floor-of-double division (Spark `div` / DuckDB `//` differ — keep
      // the text dialect-free and the op order identical)
      s"z$r AS $mat(SELECT c.ix, c.iy, CASE WHEN $pin THEN c.zq ELSE " +
        "c.zq + cast(floor(cast(sum(cast(round((cast(n.zq - c.zq as double) / 1000000.0e0 " +
        "- (s.pa * cast(n.ix - c.ix as double) + s.pb * cast(n.iy - c.iy as double))) " +
        "* 1000000.0e0) as bigint)) as double) / cast(count(*) * 2 as double)) as bigint) END AS zq " +
        s"FROM $p c JOIN $p n ON n.ix BETWEEN c.ix - 1 AND c.ix + 1 " +
        "AND n.iy BETWEEN c.iy - 1 AND c.iy + 1 " +
        "AND NOT (n.ix = c.ix AND n.iy = c.iy) " +
        "JOIN sn s ON s.ix = n.ix AND s.iy = n.iy " +
        "GROUP BY c.ix, c.iy, c.zq)"
    }.mkString(", ")
    s"$z0, $rounds"
  }

  private def denoiseSql(pin: String, mat: String = ""): String =
    s"$normalChain, ${zChain(pin, mat)} " +
      s"SELECT ix, iy, zq AS zq_smooth FROM z$zRounds ORDER BY ix, iy"

  // ---- remove_off_terrain_objects --------------------------------------

  private def otoSql: String = {
    val per = otoRadii.map { m =>
      s"er$m AS (SELECT ix, iy, ${rw(s"min(emn$m)", m)} AS ero FROM " +
        s"(SELECT ix, iy, ${cw("min(z)", m)} AS emn$m FROM dem)), " +
        s"op$m AS (SELECT ix, iy, ${rw(s"max(dmx$m)", m)} AS opening FROM " +
        s"(SELECT ix, iy, ${cw("max(ero)", m)} AS dmx$m FROM er$m))"
    }.mkString(", ")
    val caps = otoRadii.map(m => s"op$m.opening + ${otoTol} * $m").mkString("least(", ", ", ")")
    val joins = otoRadii.map(m => s"JOIN op$m ON op$m.ix = d.ix AND op$m.iy = d.iy").mkString(" ")
    s"$per SELECT d.ix, d.iy, least(d.z, $caps) AS z_oto FROM dem d $joins ORDER BY 1, 2"
  }

  // ---- wiring -----------------------------------------------------------

  private def run(s: SparkSession, dir: String, sql: String): DataFrame = {
    Dem.dem(s, dir).createOrReplaceTempView("dem")
    s.sql("WITH " + sql)
  }

  /** stream pin set as SQL over (c.ix, c.iy) via an IN subquery. */
  private val noPin = "false"
  private def streamPinSpark(s: SparkSession, dir: String): String = {
    Dem.streams(s, dir).createOrReplaceTempView("dps_streams")
    "EXISTS (SELECT 1 FROM dps_streams t WHERE t.ix = c.ix AND t.iy = c.iy)"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "feature_preserving_denoise" -> ((s, dir) => run(s, dir, denoiseSql(noPin))),
    "drainage_preserving_smoothing" -> ((s, dir) => {
      val pin = streamPinSpark(s, dir)
      run(s, dir, denoiseSql(pin))
    }),
    "remove_off_terrain_objects" -> ((s, dir) => run(s, dir, otoSql))
  )

  private val duckPin =
    "EXISTS (SELECT 1 FROM st t WHERE t.ix = c.ix AND t.iy = c.iy)"

  def oracles: Map[String, String] = Map(
    "feature_preserving_denoise" ->
      s"WITH RECURSIVE ${Dem.duckDemCtes}, ${denoiseSql(noPin, "MATERIALIZED ")}",
    "drainage_preserving_smoothing" ->
      (s"WITH RECURSIVE ${Dem.duckFaCtes}, " +
        s"st AS MATERIALIZED (SELECT ix, iy FROM fa WHERE fa > ${Dem.streamT}), " +
        denoiseSql(duckPin, "MATERIALIZED ")),
    "remove_off_terrain_objects" ->
      s"WITH RECURSIVE ${Dem.duckDemCtes}, $otoSql"
  )
}
