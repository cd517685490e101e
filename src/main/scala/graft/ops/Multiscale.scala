package graft.ops

import graft.core.Gates
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multiscale terrain family (terrain_analysis/max_elev_deviation.rs,
  * max_diff_from_mean.rs, multiscale_roughness.rs (+_signature),
  * max_anisotropy_dev.rs (+_signature),
  * multiscale_topographic_position_image.rs,
  * relative_topographic_position.rs):
  *
  * the reference computes each of these with INTEGRAL IMAGES (summed-area
  * tables, e.g. max_elev_deviation.rs:266-312) so each window radius costs
  * O(cells). The Spark-native equivalent of a summed-area table is a
  * CASCADED WINDOW AGGREGATE: a first pass sums along ix within each iy
  * row (`PARTITION BY iy ORDER BY ix ROWS BETWEEN r PRECEDING AND r
  * FOLLOWING`), a second sums those partials along iy within each column —
  * the exact clamped box sum in two shuffle-free-after-sort passes,
  * O(cells) per radius, no (2r+1)² halo explode. Every windowed quantity
  * is INTEGER (z, z², counts, micro-degree-quantized roughness), so the
  * distributed sum order cannot move a bit; doubles appear only in final
  * per-cell closed forms.
  *
  * The whole family is ONE dialect-free SQL text (pure window arithmetic —
  * no md5, no engine-specific functions) evaluated by Spark over the
  * memoized DEM (temp view) and by DuckDB over the twin dem CTE chain:
  * character-identical inner SQL on both engines.
  *
  * Per-tool semantics (radii fixed per tool, reference takes
  * --min_scale/--max_scale/--step; reference row axis points south, our iy
  * points north, which mirrors the two diagonal anisotropy panes — a
  * naming flip only):
  *   - DEV(r) = (z − µ)/σ over the clamped (2r+1)² box, population σ,
  *     σ² ≤ 0 → 0 (max_elev_deviation.rs:341-420); kept value = the
  *     signed DEV with max square across scales, ties → smaller scale.
  *   - DIFF(r) = z − µ (max_diff_from_mean.rs), same max-square fold.
  *   - roughness(r) = box-mean of the angular deviation (degrees) between
  *     the cell's 3×3 normal on the raw DEM and on the box-mean-smoothed
  *     DEM (multiscale_roughness.rs:278-590); the acos argument is
  *     clamped to [−1,1] on BOTH engines (the reference lets a >1-ulp
  *     dot/‖·‖ produce NaN); max fold, strict >.
  *   - anisotropy(r) = √(Σ (DEVpane − DEV)² / panes_valid) over the four
  *     NS / EW / diag panes of pane radius (2r+1)/6
  *     (max_anisotropy_dev.rs:358-577), full-window interior cells only;
  *     pane valid iff n > 3 and σ² > 0; max-square fold.
  *   - MTPI = logistic byte channels clamp(⌊512/(1+e^(−1.2·|DEV|))⌋−256,
  *     0, 255) with R=broad(8), G=meso(4), B=local(1)
  *     (multiscale_topographic_position_image.rs:288-320).
  *   - RTP over radius 5: (z−µ)/(µ−min) below the mean, (z−µ)/(max−µ)
  *     above it, 0 on a flat window
  *     (relative_topographic_position.rs:299-320).
  *   - the *_signature twins emit the full scale series at three fixed
  *     probe cells (the reference plots DEV/anisotropy vs scale for
  *     sampled points).
  */
object Multiscale extends Gates {

  private val G = Dem.G
  private val devRadii = Seq(1, 2, 4, 8)
  private val anisoRadii = Seq(2, 4, 8)
  private val roughRadii = Seq(2, 4, 8)
  private val rtpR = 5
  private val probes = Seq((8L, 8L), (24L, 24L), (40L, 40L))

  private def bound(k: Int): String =
    if (k < 0) s"${-k} PRECEDING" else if (k == 0) "CURRENT ROW" else s"$k FOLLOWING"

  /** level-1: along ix within each iy row. */
  private def cw(agg: String, lo: Int, hi: Int): String =
    s"$agg OVER (PARTITION BY iy ORDER BY ix ROWS BETWEEN ${bound(lo)} AND ${bound(hi)})"

  /** level-2: along iy within each ix column. */
  private def rw(agg: String, lo: Int, hi: Int): String =
    s"$agg OVER (PARTITION BY ix ORDER BY iy ROWS BETWEEN ${bound(lo)} AND ${bound(hi)})"

  private def mpr(m: Int): Int = (m * 2 + 1) / 6

  // ---- level-1 / level-2 column catalogs --------------------------------

  /** (name suffix, col-range) pairs needed by the dev/aniso/rtp family. */
  private def colRanges: Seq[(String, (Int, Int))] = {
    val fulls = (devRadii ++ Seq(rtpR)).distinct.map(m => s"a$m" -> (-m, m))
    val aniso = anisoRadii.flatMap { m =>
      val p = mpr(m)
      Seq(s"c$m" -> (-p, p), s"h$m" -> (p + 1, m), s"l$m" -> (-m, -p - 1))
    }
    fulls ++ aniso
  }

  private def p1Cols: Seq[String] =
    colRanges.flatMap { case (nm, (lo, hi)) =>
      Seq(s"${cw("sum(z)", lo, hi)} AS s_$nm",
        s"${cw("sum(z * z)", lo, hi)} AS q_$nm",
        s"${cw("count(*)", lo, hi)} AS n_$nm")
    } ++ Seq(
      s"${cw("min(z)", -rtpR, rtpR)} AS mn_a$rtpR",
      s"${cw("max(z)", -rtpR, rtpR)} AS mx_a$rtpR")

  /** pane = sum of (level-1 range, row-range) blocks. */
  private def paneE(b: String, blocks: Seq[(String, (Int, Int))]): String =
    blocks.map { case (cr, (lo, hi)) => rw(s"sum(${b}_$cr)", lo, hi) }.mkString(" + ")

  private def panes(m: Int): Seq[(String, Seq[(String, (Int, Int))])] = {
    val p = mpr(m)
    Seq(
      s"full$m" -> Seq(s"a$m" -> (-m, m)),
      s"ns$m" -> Seq(s"c$m" -> (-m, m)),
      s"ew$m" -> Seq(s"a$m" -> (-p, p)),
      s"d1$m" -> Seq(s"h$m" -> (-m, -p - 1), s"c$m" -> (-p, p), s"l$m" -> (p + 1, m)),
      s"d2$m" -> Seq(s"l$m" -> (-m, -p - 1), s"c$m" -> (-p, p), s"h$m" -> (p + 1, m)))
  }

  private def p2Cols: Seq[String] = {
    val fulls = (devRadii ++ Seq(rtpR)).distinct.flatMap { m =>
      Seq("s", "q", "n").map(b => s"${paneE(b, Seq(s"a$m" -> (-m, m)))} AS ${b}_f$m")
    }
    val aniso = anisoRadii.flatMap { m =>
      panes(m).drop(1).flatMap { case (pn, blocks) =>
        Seq("s", "q", "n").map(b => s"${paneE(b, blocks)} AS ${b}_$pn")
      }
    }
    val rtp = Seq(
      s"${rw(s"min(mn_a$rtpR)", -rtpR, rtpR)} AS mn_f$rtpR",
      s"${rw(s"max(mx_a$rtpR)", -rtpR, rtpR)} AS mx_f$rtpR")
    fulls ++ aniso ++ rtp
  }

  // ---- per-cell closed forms -------------------------------------------

  private def meanE(sfx: String) =
    s"(cast(s_$sfx as double) / cast(n_$sfx as double))"
  private def varE(sfx: String) =
    s"((cast(q_$sfx as double) - (cast(s_$sfx as double) * cast(s_$sfx as double)) / cast(n_$sfx as double)) / cast(n_$sfx as double))"
  private def devE(sfx: String) =
    s"(CASE WHEN ${varE(sfx)} > 0.0e0 THEN (cast(z as double) - ${meanE(sfx)}) / sqrt(${varE(sfx)}) ELSE 0.0e0 END)"
  private def paneValidE(sfx: String) =
    s"(n_$sfx > 3 AND ${varE(sfx)} > 0.0e0)"

  private def dvCols: Seq[String] = {
    val devs = devRadii.map(m => s"${devE(s"f$m")} AS dev_$m")
    val diffs = devRadii.map(m => s"(cast(z as double) - ${meanE(s"f$m")}) AS dif_$m")
    val aniso = anisoRadii.map { m =>
      val interior = s"ix >= $m AND ix < ${G - m} AND iy >= $m AND iy < ${G - m}"
      val pds = Seq("ns", "ew", "d1", "d2").map { pn =>
        s"(CASE WHEN ${paneValidE(s"$pn$m")} THEN ${devE(s"$pn$m")} - ${devE(s"f$m")} ELSE 0.0e0 END)"
      }
      val nvalid = Seq("ns", "ew", "d1", "d2")
        .map(pn => s"(CASE WHEN ${paneValidE(s"$pn$m")} THEN 1 ELSE 0 END)").mkString(" + ")
      val ssq = pds.map(p => s"$p * $p").mkString(" + ")
      s"(CASE WHEN ($interior) AND ${paneValidE(s"f$m")} AND ($nvalid) > 0 " +
        s"THEN sqrt(($ssq) / cast(($nvalid) as double)) END) AS ani_$m"
    }
    val rtp = {
      val mean = meanE(s"f$rtpR")
      Seq(s"(CASE WHEN cast(z as double) < $mean THEN (cast(z as double) - $mean) / ($mean - cast(mn_f$rtpR as double)) " +
        s"WHEN cast(mx_f$rtpR as double) > $mean THEN (cast(z as double) - $mean) / (cast(mx_f$rtpR as double) - $mean) " +
        s"ELSE 0.0e0 END) AS rtp")
    }
    devs ++ diffs ++ aniso ++ rtp
  }

  /** chained max-square fold over scales: stage k compares stage k-1's
    * kept (value, scale) against scale k. Strict >, so ties keep the
    * smaller scale (the reference's replace-only-on-greater loop). */
  private def foldCtes(col: String, scales: Seq[Int], from: String,
      nullable: Boolean): (String, String) = {
    // purely additive stages (mK/sK names) — `SELECT * EXCEPT` is
    // Spark-only (DuckDB spells it EXCLUDE), so no column is ever dropped
    val init = s"${col}fold1 AS (SELECT *, ${col}_${scales.head} AS ${col}_m1, " +
      s"CASE WHEN ${col}_${scales.head} IS NOT NULL THEN ${scales.head} END AS ${col}_s1 FROM $from)"
    val steps = scales.tail.zipWithIndex.map { case (m, i) =>
      val (pm, ps) = (s"${col}_m${i + 1}", s"${col}_s${i + 1}")
      val guard =
        if (nullable) s"${col}_$m IS NOT NULL AND ($pm IS NULL OR ${col}_$m * ${col}_$m > $pm * $pm)"
        else s"${col}_$m * ${col}_$m > $pm * $pm"
      s"${col}fold${i + 2} AS (SELECT *, " +
        s"CASE WHEN $guard THEN ${col}_$m ELSE $pm END AS ${col}_m${i + 2}, " +
        s"CASE WHEN $guard THEN $m ELSE $ps END AS ${col}_s${i + 2} FROM ${col}fold${i + 1})"
    }
    val last = s"${col}last AS (SELECT *, ${col}_m${scales.size} AS ${col}_m, " +
      s"${col}_s${scales.size} AS ${col}_s FROM ${col}fold${scales.size})"
    (((init +: steps) :+ last).mkString(", "), s"${col}last")
  }

  // ---- the shared CTE body ---------------------------------------------

  /** CTE chain from `src`(ix, iy, z) through p1/p2/dv + folds; returns
    * (cteText, finalRelation). */
  private def body(src: String): (String, String) = {
    val p1 = s"p1 AS (SELECT ix, iy, z, ${p1Cols.mkString(", ")} FROM $src)"
    val p2 = s"p2 AS (SELECT ix, iy, z, ${p2Cols.mkString(", ")} FROM p1)"
    val dv = s"dv AS (SELECT ix, iy, z, ${dvCols.mkString(", ")} FROM p2)"
    val (devF, devR) = foldCtes("dev", devRadii, "dv", nullable = false)
    val (difF, difR) = foldCtes("dif", devRadii, devR, nullable = false)
    val (aniF, aniR) = foldCtes("ani", anisoRadii, difR, nullable = true)
    (Seq(p1, p2, dv, devF, difF, aniF).mkString(", "), aniR)
  }

  // ---- roughness chain (per-scale smoothed normals) --------------------

  /** 3×3 neighbour values of `rel`(ix, iy, zc double) via one range join,
    * reference neighbour order i → (dx[i], row+dy[i]) with row = −iy
    * (multiscale_roughness.rs:286-325); missing neighbours → centre. */
  private def normalCte(nm: String, rel: String): String = {
    val dx = Seq(1, 1, 1, 0, -1, -1, -1, 0)
    val dy = Seq(-1, 0, 1, 1, 1, 0, -1, -1)
    val vs = (0 until 8).map { i =>
      s"coalesce(max(CASE WHEN n.ix = c.ix + (${dx(i)}) AND n.iy = c.iy - (${dy(i)}) THEN n.zc END), max(c.zc)) AS v$i"
    }
    s"$nm AS (SELECT c.ix, c.iy, ${vs.mkString(", ")} " +
      s"FROM $rel c JOIN $rel n ON n.ix BETWEEN c.ix - 1 AND c.ix + 1 " +
      "AND n.iy BETWEEN c.iy - 1 AND c.iy + 1 GROUP BY c.ix, c.iy)"
  }

  private val aE = "(-(v2 - v4 + 2.0e0 * (v1 - v5) + v0 - v6))"
  private val bE = "(-(v6 - v4 + 2.0e0 * (v7 - v3) + v0 - v2))"

  private def roughBody(src: String): (String, String) = {
    val zd = s"zd AS (SELECT ix, iy, cast(z as double) AS zc FROM $src)"
    val n0 = normalCte("nrm0", "zd")
    val a0 = s"na0 AS (SELECT ix, iy, $aE AS a0, $bE AS b0 FROM nrm0)"
    val per = roughRadii.map { m =>
      val sm = s"sm$m AS (SELECT ix, iy, " +
        s"cast(${rw(s"sum(sc$m)", -m, m)} as double) / cast(${rw(s"sum(nc$m)", -m, m)} as double) AS zc FROM " +
        s"(SELECT ix, iy, ${cw("sum(z)", -m, m)} AS sc$m, ${cw("count(*)", -m, m)} AS nc$m FROM $src))"
      val nr = normalCte(s"nrm$m", s"sm$m")
      val na = s"na$m AS (SELECT ix, iy, $aE AS am, $bE AS bm FROM nrm$m)"
      // micro-degree-quantized angular deviation: integer through windows
      val dot = "(a0 * am + b0 * bm + 64.0e0)"
      val den = "(sqrt(a0 * a0 + b0 * b0 + 64.0e0) * sqrt(am * am + bm * bm + 64.0e0))"
      val dd = s"dd$m AS (SELECT u.ix, u.iy, cast(round(degrees(acos(" +
        s"least(1.0e0, greatest(-1.0e0, $dot / $den)))) * 1000000.0e0) as bigint) AS ddq " +
        s"FROM na0 u JOIN na$m v ON v.ix = u.ix AND v.iy = u.iy)"
      // rg_$m (double) drives the max fold; rmq_$m is the SAME mean as an
      // exact half-up-rounded integer micro-degree value — round(S/N) =
      // ((2S+N) − (2S+N) mod 2N) / 2N, all positive integers, so the
      // OUTPUT cannot sit on a double rounding boundary (a sf0.01 cell's
      // mean landed exactly on round(x,6)'s .5 and the engines split)
      val rg = s"rg$m AS (SELECT ix, iy, " +
        s"(cast(S$m as double) / 1000000.0e0) / cast(N$m as double) AS rg_$m, " +
        s"cast(((2 * S$m + N$m) - ((2 * S$m + N$m) % (2 * N$m))) / (2 * N$m) as bigint) AS rmq_$m FROM " +
        s"(SELECT ix, iy, ${rw(s"sum(sd$m)", -m, m)} AS S$m, ${rw(s"sum(nd$m)", -m, m)} AS N$m FROM " +
        s"(SELECT ix, iy, ${cw("sum(ddq)", -m, m)} AS sd$m, ${cw("count(*)", -m, m)} AS nd$m FROM dd$m)))"
      Seq(sm, nr, na, dd, rg).mkString(", ")
    }
    val joined = s"rj AS (SELECT a.ix, a.iy, ${roughRadii.flatMap(m => Seq(s"rg_$m", s"rmq_$m")).mkString(", ")} " +
      s"FROM rg${roughRadii.head} a " +
      roughRadii.tail.map(m => s"JOIN rg$m ON rg$m.ix = a.ix AND rg$m.iy = a.iy").mkString(" ") + ")"
    // strict-> fold (roughness is nonnegative; reference compares raw
    // values); additive stage names — no `* EXCEPT` (Spark-only syntax)
    val init = s"rf1 AS (SELECT *, rg_${roughRadii.head} AS rg_m1, ${roughRadii.head} AS rg_s1 FROM rj)"
    val steps = roughRadii.tail.zipWithIndex.map { case (m, i) =>
      s"rf${i + 2} AS (SELECT *, " +
        s"CASE WHEN rg_$m > rg_m${i + 1} THEN rg_$m ELSE rg_m${i + 1} END AS rg_m${i + 2}, " +
        s"CASE WHEN rg_$m > rg_m${i + 1} THEN $m ELSE rg_s${i + 1} END AS rg_s${i + 2} FROM rf${i + 1})"
    }
    val last = s"rflast AS (SELECT *, rg_m${roughRadii.size} AS rg_m, " +
      s"rg_s${roughRadii.size} AS rg_s FROM rf${roughRadii.size})"
    ((Seq(zd, n0, a0) ++ per ++ Seq(joined, init) ++ steps :+ last).mkString(", "),
      "rflast")
  }

  // ---- query SQL builders (dialect-free inner text) --------------------

  private def channelE(dev: String): String =
    s"cast(least(255.0e0, greatest(0.0e0, floor(512.0e0 / (1.0e0 + exp(-1.2e0 * abs($dev)))) - 256.0e0)) as bigint)"

  private def finals: Map[String, String] = {
    val (ctes, last) = body("SRC")
    val (rctes, rlast) = roughBody("SRC")
    val probeRows = probes.map { case (x, y) => s"(ix = $x AND iy = $y)" }.mkString(" OR ")
    Map(
      "max_elev_deviation" ->
        s"$ctes SELECT ix, iy, round(dev_m, 6) AS dev_mag, dev_s AS dev_scale FROM $last ORDER BY ix, iy",
      "max_diff_from_mean" ->
        s"$ctes SELECT ix, iy, round(dif_m, 6) AS diff_mag, dif_s AS diff_scale FROM $last ORDER BY ix, iy",
      "max_anisotropy_dev" ->
        s"$ctes SELECT ix, iy, round(ani_m, 6) AS ani_mag, ani_s AS ani_scale FROM $last ORDER BY ix, iy",
      "relative_topographic_position" ->
        s"$ctes SELECT ix, iy, round(rtp, 6) AS rtp FROM dv ORDER BY ix, iy",
      "multiscale_topographic_position_image" ->
        (s"$ctes SELECT ix, iy, ${channelE("dev_8")} AS red, ${channelE("dev_4")} AS green, " +
          s"${channelE("dev_1")} AS blue FROM dv ORDER BY ix, iy"),
      "max_elev_dev_signature" ->
        (s"$ctes SELECT ix, iy, scale, round(dev, 6) AS dev FROM (" +
          devRadii.map(m => s"SELECT ix, iy, $m AS scale, dev_$m AS dev FROM dv WHERE $probeRows")
            .mkString(" UNION ALL ") + ") ORDER BY ix, iy, scale"),
      "max_anisotropy_dev_signature" ->
        (s"$ctes SELECT ix, iy, scale, round(ani, 6) AS ani FROM (" +
          anisoRadii.map(m => s"SELECT ix, iy, $m AS scale, ani_$m AS ani FROM dv WHERE $probeRows")
            .mkString(" UNION ALL ") + ") ORDER BY ix, iy, scale"),
      "multiscale_roughness" ->
        (s"$rctes SELECT ix, iy, CASE rg_s ${roughRadii.map(m => s"WHEN $m THEN rmq_$m").mkString(" ")} END " +
          s"AS rough_micro, rg_s AS rough_scale FROM $rlast ORDER BY ix, iy"),
      "multiscale_roughness_signature" ->
        (s"$rctes SELECT ix, iy, scale, rough_micro FROM (" +
          roughRadii.map(m => s"SELECT ix, iy, $m AS scale, rmq_$m AS rough_micro FROM rj WHERE $probeRows")
            .mkString(" UNION ALL ") + ") ORDER BY ix, iy, scale")
    )
  }

  private def sparkSql(name: String): String =
    "WITH " + finals(name).replace("SRC", "ms_dem")

  private def duckSql(name: String): String =
    s"WITH RECURSIVE ${Dem.duckDemCtes}, " + finals(name).replace("SRC", "dem")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    finals.keys.map { name =>
      name -> ((s: SparkSession, dir: String) => {
        Dem.dem(s, dir).createOrReplaceTempView("ms_dem")
        s.sql(sparkSql(name))
      })
    }.toMap

  def oracles: Map[String, String] = finals.keys.map(n => n -> duckSql(n)).toMap
}
