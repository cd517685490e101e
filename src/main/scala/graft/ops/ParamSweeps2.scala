package graft.ops

import graft.core.{DuckD, Gates, SparkD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parameter-surface sweeps, batch 2 — second points on eight more tools'
  * user-facing parameter axes (see ParamSweeps.scala for batch 1 and the
  * rationale: each gate is the SAME reference tool at a DIFFERENT
  * parameter value, running through the parent gate's production engine
  * path with only the constant changed):
  *
  *   - Slope --zfactor (terrain_analysis/slope.rs:152-160, 236-244): the
  *     z conversion factor scales both partial derivatives, so slope =
  *     atan(zf·√(fx²+fy²)). zf = 2 alongside the gated zf = 1. The
  *     2·√(s) spelling is bit-identical to √((2fx)²+(2fy)²): scaling by
  *     a power of two commutes with IEEE-754 rounding.
  *   - Quantiles --num_quantiles (quantiles.rs:96-100): k = 10 alongside
  *     the gated k = 4, through Relational.quantilesK (the reference's
  *     10,000-bin histogram CDF; 100/k exact in binary for both points).
  *   - VectorHexBinning --width (vector_hex_bin.rs): width 5 alongside
  *     the gated 10 — finer hexes, same codegen'd HexBinAssign kernel.
  *   - ANN cosine top-k --k: k = 5 alongside the gated k = 10; the
  *     result is provably the rank ≤ 5 prefix of the k = 10 frame
  *     (pinned by ParamSweeps2Spec).
  *   - MinHash LSH band shape (the b·r tradeoff of the standard web-dedup
  *     S-curve): 16 bands of 1 row alongside the gated 8 bands of 2 rows
  *     over the SAME 16-value signatures. A 2-row band collision implies
  *     both 1-row band collisions, so cand(8×2) ⊆ cand(16×1) wherever no
  *     bucket cap triggers (pinned by ParamSweeps2Spec at fixture scale).
  *   - SmoothVectors --filter (smooth_vectors.rs:283-315): 5-point moving
  *     average (r = 2) alongside the gated 3-point, same wraparound rule.
  *   - ExtendVectorLines --dist (extend_vector_lines.rs): 1.5 alongside
  *     the gated 0.5.
  *   - KMeansClustering --classes (k_means_clustering.rs): k = 3
  *     alongside the gated k = 5, same deterministic Lloyd loop and
  *     unrolled-round twin (HardOracles.kmeansSql is k-parameterized).
  */
object ParamSweeps2 extends Gates {

  private val zfSlope =
    "round(degrees(atan(2.0e0 * sqrt(fx * fx + fy * fy))), 6) AS slope_deg"

  // ---- queries -----------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "slope_zfactor2" -> ((s, dir) =>
      Terrain.fxy(s, dir).selectExpr("ix", "iy", zfSlope)),
    "quantiles_q10" -> ((s, dir) => Relational.quantilesK(s, dir, 10)),
    "hex_binning_w5" -> ((s, dir) => Raster.hexBinning(s, dir, 5.0)),
    "ann_topk_k5" -> ((s, dir) => Ann.cosineTopk(s, dir, 5)),
    "dedup_minhash_b16" -> ((s, dir) => Dedup.lshPairs(s, dir, 1)),
    "smooth_vectors_f5" -> ((s, dir) => {
      val sm = "transform(sequence(1, size(xs)), i -> struct(" +
        s"(${VectorOps.smoothTermSpark("xs", 2)}) AS sx, (${VectorOps.smoothTermSpark("ys", 2)}) AS sy))"
      VectorOps.ringsDF(s)
        .select(col("fid"), col("ring_id"), posexplode(expr(sm)))
        .select(col("fid"), col("ring_id"), col("pos").as("idx"),
          col("col.sx").as("sx"), col("col.sy").as("sy"))
    }),
    "extend_lines_d15" -> ((s, dir) =>
      VectorOps.ringsDF(s)
        .selectExpr(Seq("fid", "ring_id") ++ VectorOps.extendSelect(SparkD, 1.5): _*)),
    "kmeans_k3" -> ((s, dir) => {
      val cells = Raster.density(s, dir, 6)
        .selectExpr("ix * 1000000 + iy AS id",
          "cast(ix as double) AS x", "cast(iy as double) AS y")
      KMeans.kmeans(s, cells, k = 3)
    })
  )

  def oracles: Map[String, String] = Map(
    "slope_zfactor2" ->
      s"${Terrain.duckFxy()} SELECT ix, iy, $zfSlope FROM fxy ORDER BY ix, iy",
    "quantiles_q10" -> Relational.quantilesDuckK(10),
    "hex_binning_w5" -> Raster.hexBinningDuck(5.0),
    "ann_topk_k5" -> Ann.cosineTopkDuck(5),
    "dedup_minhash_b16" ->
      s"WITH ${Dedup.duckSignatures}, ${Dedup.duckCand(1)} SELECT a, b FROM cand ORDER BY a, b",
    "smooth_vectors_f5" ->
      (s"WITH rings AS ${VectorOps.duckRingRows}, " +
        "u AS (SELECT fid, ring_id, unnest(range(1, len(xs) + 1)) AS i, xs, ys FROM rings) " +
        s"SELECT fid, ring_id, cast(i - 1 as int) AS idx, " +
        s"${VectorOps.smoothTermDuck("xs", 2)} AS sx, ${VectorOps.smoothTermDuck("ys", 2)} AS sy " +
        "FROM u ORDER BY fid, ring_id, idx"),
    "extend_lines_d15" ->
      (s"WITH rings AS ${VectorOps.duckRingRows} SELECT fid, ring_id, " +
        s"${VectorOps.extendSelect(DuckD, 1.5).mkString(", ")} FROM rings ORDER BY fid, ring_id"),
    "kmeans_k3" -> HardOracles.kmeansSql(3)
  )
}
