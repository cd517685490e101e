package graft.ops

import graft.core.{DuckD, Gates, Geo, Lit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cell-local kNN / nearest-neighbour / IDW via FRS-style bucket-ring joins.
  *
  * The reference's FixedRadiusSearch2D (fixed_radius_search.rs:46-237)
  * buckets points at width r/2 and scans the 5×5 bucket block around a
  * query, which provably covers every point within radius r (:66,71-78) —
  * its radius search is EXACT. We reproduce that exact plan shape as a
  * static Spark join:
  *
  *   points  → bucket key (floor(x/w), floor(y/w)), shuffle-partitioned
  *   queries → explode the 25 (dx,dy) block offsets → equi-join on bucket
  *   residual: d² ≤ r²  →  per-query top-k (window) or weighted agg (IDW)
  *
  * No driver loop, no broadcast of the big side, no R-tree: candidate
  * volume per query is bounded by local density × 25 buckets. Hot cells
  * (urban skew) inflate single buckets; the join key space is large so AQE
  * skew-split keeps tasks bounded (see Bench notes).
  *
  * kNN here is radius-bounded (k nearest within r) which the static block
  * makes exact; the reference's unbounded knn_search is approximate shell
  * expansion (:134-218) — pinned separately in FrsSpec against a scalar
  * transcription.
  */
object Knn extends Gates {

  private def bucket(e: String, w: Double): String =
    s"cast(floor(($e) / ${Lit.d(w)}) as bigint)"

  /** Pages with FRS bucket keys at width w.
    *
    * lon/lat/bx/by are wrapped non-nullable (coalesce with impossible
    * sentinels): the bucket-equi join + d² residual otherwise infer
    * isnotnull() on all four, and the pushed-down filter substitutes the
    * geocode chain — re-evaluating the md5 digest once more per page at
    * the scan (see the r06 before-plan for knn_radius). Values are
    * unchanged (text is never null); hypothetically-null rows would yield
    * NaN coords whose d² comparison is false and a bucket that cannot
    * match, i.e. the same dropped row. */
  private[ops] def bucketed(s: SparkSession, dir: String, w: Double): DataFrame =
    Tables.pages(s, dir)
      .select(col("doc_id"),
              coalesce(col("lon"), lit(Double.NaN)).as("lon"),
              coalesce(col("lat"), lit(Double.NaN)).as("lat"),
              col("n_chars"),
              coalesce(expr(bucket("lon", w)), lit(Long.MinValue)).as("bx"),
              coalesce(expr(bucket("lat", w)), lit(Long.MinValue)).as("by"))

  /** Explode the bucket-block offsets around a query.
    *
    * r06 optimization: bucket width w = r with a 3×3 block (span 1)
    * replaces the reference's w = r/2 with a 5×5 block (span 2,
    * fixed_radius_search.rs:71-78). Coverage proof: for a query in bucket
    * k = floor(q/w), any point within distance r has coordinate in
    * [q-r, q+r] ⊆ [w(k-1), w(k+2)), i.e. bucket k-1..k+1 — the 3×3 block
    * is exact for radius ≤ w. The exploded side shrinks 25/9 ≈ 2.8× (it
    * is the broadcast build side in every consumer) and each query does 9
    * hash probes instead of 25; the residual d² filter is unchanged and
    * exact, so the RESULT and even the per-group aggregation input order
    * (pts-scan order) are identical. */
  private[ops] val blockSpan = 1
  private[ops] def withBlock(df: DataFrame, w: Double,
                        x: String, y: String): DataFrame =
    df.withColumn("dx", explode(sequence(lit(-blockSpan), lit(blockSpan))))
      .withColumn("dy", explode(sequence(lit(-blockSpan), lit(blockSpan))))
      .withColumn("bx", expr(bucket(x, w)) + col("dx"))
      .withColumn("by", expr(bucket(y, w)) + col("dy"))

  // NYC hot-cell box (Z5) — the skewed query set. The numeric bounds are
  // shared with the knn_radius bucket-pruning filter (which must stay
  // lossless wrt this box), so they exist once.
  private val (nycX0, nycX1, nycY0, nycY1) = (-74.05, -73.85, 40.65, 40.85)
  private val nycBox =
    s"lon >= ${Lit.d(nycX0)} AND lon <= ${Lit.d(nycX1)} AND " +
      s"lat >= ${Lit.d(nycY0)} AND lat <= ${Lit.d(nycY1)}"

  /** (Σ z·w, Σ w) aggregate texts for IDW weight 1/d^w (the --weight
    * parameter, idw_interpolation.rs:575-596); identical text on both
    * engines (sqrt is correctly rounded in both, and the d = 0 row's
    * inf/NULL contribution is discarded by the exact-hit CASE). */
  private def idwKernel(w: Int): (String, String) = w match {
    case 1 => ("sum(cast(n_chars as double) / sqrt(d2))", "sum(1.0e0 / sqrt(d2))")
    case 2 => ("sum(cast(n_chars as double) / d2)", "sum(1.0e0 / d2)")
    case 3 => ("sum(cast(n_chars as double) / (d2 * sqrt(d2)))", "sum(1.0e0 / (d2 * sqrt(d2)))")
  }

  /** IdwInterpolation: res-7 grid, radius r=3°, weight 1/d^wExp,
    * min_points=3, exact-hit d=0 → copy z. */
  private[ops] def idw(s: SparkSession, dir: String, wExp: Int): DataFrame = {
    val res = 7; val n = 1 << res
    val rx = 360.0 / n; val ry = 180.0 / n
    val r = 3.0; val w = r // 3×3 block at width r — see withBlock
    val (swzE, swE) = idwKernel(wExp)
    val cells = s.range(n.toLong * n)
      .select((col("id") % n).as("ix"), expr(s"id div $n").as("iy"))
      .withColumn("cx", expr(s"-180.0e0 + ${Lit.d(rx)} / 2.0e0 + ix * ${Lit.d(rx)}"))
      .withColumn("cy", expr(s"-90.0e0 + ${Lit.d(ry)} / 2.0e0 + iy * ${Lit.d(ry)}"))
    val pts = bucketed(s, dir, w)
    val cand = withBlock(cells, w, "cx", "cy")
      .join(pts, Seq("bx", "by"))
      .withColumn("d2", expr("(lon - cx) * (lon - cx) + (lat - cy) * (lat - cy)"))
      .filter(col("d2") <= lit(r * r))
    cand.groupBy("ix", "iy")
      .agg(count(lit(1)).as("np"),
           expr("min(d2)").as("min_d2"),
           expr("min_by(n_chars, doc_id) FILTER (WHERE d2 = 0.0e0)").as("hit_z"),
           expr(swzE).as("swz"),
           expr(swE).as("sw"))
      .filter(col("np") >= 3)
      .select(col("ix"), col("iy"), col("np"),
        expr("CASE WHEN min_d2 = 0.0e0 THEN cast(hit_z as double) ELSE round(swz / sw, 6) END").as("v"))
  }

  private[ops] def idwDuck(wExp: Int): String = {
    val n = 128; val rx = Lit.d(360.0 / n); val ry = Lit.d(180.0 / n)
    val (swzE, swE) = idwKernel(wExp)
    s"${Geo.pagesWith(DuckD)}, cells AS (SELECT range % $n AS ix, range // $n AS iy, " +
      s"-180.0e0 + $rx / 2.0e0 + (range % $n) * $rx AS cx, " +
      s"-90.0e0 + $ry / 2.0e0 + (range // $n) * $ry AS cy FROM range(${n * n})), " +
      "cand AS (SELECT ix, iy, doc_id, n_chars, " +
      "(lon - cx) * (lon - cx) + (lat - cy) * (lat - cy) AS d2 FROM cells JOIN pages " +
      "ON (lon - cx) * (lon - cx) + (lat - cy) * (lat - cy) <= 9.0e0) " +
      "SELECT ix, iy, count(*) AS np, " +
      "CASE WHEN min(d2) = 0.0e0 THEN cast(arg_min(n_chars, doc_id) FILTER (WHERE d2 = 0.0e0) as double) " +
      s"ELSE round($swzE / $swE, 6) END AS v " +
      "FROM cand GROUP BY ix, iy HAVING count(*) >= 3 ORDER BY ix, iy"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // k=5 nearest pages within r=0.01° for every page in the NYC hot cells.
    "knn_radius" -> ((s, dir) => {
      val r = 0.01; val w = r // 3×3 block at width r — see withBlock
      // Static semi-join reduction of the big side (guide §3.2): every
      // query qx/qy lies in the NYC box, so a joinable point's bucket must
      // lie within the box's bucket range ± the blockSpan-bucket block offset —
      // floor is monotone and the bound is computed with the same IEEE
      // double ops as the bucket key, so no matching row can be dropped.
      // At corpus scale this prunes ~everything outside the query region
      // from the probe side before any join work; result set unchanged.
      val bxLo = math.floor(nycX0 / w).toLong - blockSpan
      val bxHi = math.floor(nycX1 / w).toLong + blockSpan
      val byLo = math.floor(nycY0 / w).toLong - blockSpan
      val byHi = math.floor(nycY1 / w).toLong + blockSpan
      val pts = bucketed(s, dir, w)
        .filter(col("bx").between(bxLo, bxHi) && col("by").between(byLo, byHi))
      val q = withBlock(
        Tables.pages(s, dir).filter(expr(nycBox))
          .select(col("doc_id").as("qid"), col("lon").as("qx"), col("lat").as("qy")),
        w, "qx", "qy")
      val cand = q.join(pts, Seq("bx", "by"))
        .filter(col("doc_id") =!= col("qid"))
        .withColumn("d2", expr("(lon - qx) * (lon - qx) + (lat - qy) * (lat - qy)"))
        .filter(col("d2") <= lit(r * r))
      // bounded top-k: O(k) state per query, map-side partials — the
      // NMinimizer shape; no Exchange+Sort+Window of the candidate stream.
      cand.groupBy("qid")
        .agg(graft.agg.TopKByDist.topK(5)(col("d2"), col("doc_id")).as("tk"))
        .select(col("qid"), posexplode(col("tk")))
        .select(col("qid"), expr("cast(pos + 1 as int)").as("rank"),
          col("col.id").as("nid"), col("col.dist").as("d2"))
    }),

    // NearestNeighbourGridding (nearest_neighbour_gridding.rs): res-7 grid,
    // nearest page within max_dist=2°; empty cells → absent (nodata).
    "nn_gridding" -> ((s, dir) => {
      val res = 7; val n = 1 << res
      val rx = 360.0 / n; val ry = 180.0 / n
      val maxD = 2.0; val w = maxD // 3×3 block at width maxD — see withBlock
      val cells = s.range(n.toLong * n)
        .select((col("id") % n).as("ix"), expr(s"id div $n").as("iy"))
        .withColumn("cx", expr(s"-180.0e0 + ${Lit.d(rx)} / 2.0e0 + ix * ${Lit.d(rx)}"))
        .withColumn("cy", expr(s"-90.0e0 + ${Lit.d(ry)} / 2.0e0 + iy * ${Lit.d(ry)}"))
      val pts = bucketed(s, dir, w)
      val cand = withBlock(cells, w, "cx", "cy")
        .join(pts, Seq("bx", "by"))
        .withColumn("d2", expr("(lon - cx) * (lon - cx) + (lat - cy) * (lat - cy)"))
        .filter(col("d2") <= lit(maxD * maxD))
      // 1-NN as a bounded aggregate (k=1 NMinimizer) — map-side partials,
      // shuffle carries one row per cell, never the candidate stream.
      cand.groupBy("ix", "iy")
        .agg(graft.agg.TopKByDist.topK(1)(col("d2"), col("doc_id")).as("tk"))
        .select(col("ix"), col("iy"),
          expr("tk[0].id").as("doc_id"), expr("tk[0].dist").as("d2"))
    }),

    // IdwInterpolation (idw_interpolation.rs:575-596) at the default
    // weight exponent 2.
    "idw_interpolation" -> ((s, dir) => idw(s, dir, 2))
  )

  def oracles: Map[String, String] = Map(
    "knn_radius" -> {
      val r2 = Lit.d(0.01 * 0.01)
      s"${Geo.pagesWith(DuckD)}, q AS (SELECT doc_id AS qid, lon AS qx, lat AS qy FROM pages WHERE $nycBox), " +
        "cand AS (SELECT qid, p.doc_id AS nid, " +
        "(p.lon - qx) * (p.lon - qx) + (p.lat - qy) * (p.lat - qy) AS d2 " +
        "FROM q JOIN pages p ON p.doc_id <> qid), " +
        s"r AS (SELECT qid, nid, d2, row_number() OVER (PARTITION BY qid ORDER BY d2, nid) AS rn " +
        s"FROM cand WHERE d2 <= $r2) " +
        "SELECT qid, rn AS rank, nid, d2 FROM r WHERE rn <= 5 ORDER BY qid, rank"
    },
    "nn_gridding" -> {
      val n = 128; val rx = Lit.d(360.0 / n); val ry = Lit.d(180.0 / n)
      s"${Geo.pagesWith(DuckD)}, cells AS (SELECT range % $n AS ix, range // $n AS iy, " +
        s"-180.0e0 + $rx / 2.0e0 + (range % $n) * $rx AS cx, " +
        s"-90.0e0 + $ry / 2.0e0 + (range // $n) * $ry AS cy FROM range(${n * n})), " +
        "cand AS (SELECT ix, iy, doc_id, " +
        "(lon - cx) * (lon - cx) + (lat - cy) * (lat - cy) AS d2 FROM cells JOIN pages " +
        "ON (lon - cx) * (lon - cx) + (lat - cy) * (lat - cy) <= 4.0e0), " +
        "r AS (SELECT ix, iy, doc_id, d2, row_number() OVER (PARTITION BY ix, iy ORDER BY d2, doc_id) AS rn FROM cand) " +
        "SELECT ix, iy, doc_id, d2 FROM r WHERE rn = 1 ORDER BY ix, iy"
    },
    "idw_interpolation" -> idwDuck(2)
  )
}
