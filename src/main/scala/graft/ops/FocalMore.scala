package graft.ops

import graft.core.{Dialect, DuckD, Gates, Geo, SparkD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Second focal-filter batch over the same halo frames: StandardDeviation,
  * Olympic, ConservativeSmoothing, HighPass, UnsharpMasking, Emboss,
  * RobertsCross, LineDetection, KNearestMean, LaplacianOfGaussian and
  * DiffOfGaussian (radius-2 halo).
  *
  * References: standard_deviation_filter.rs, olympic_filter.rs,
  * conservative_smoothing_filter.rs, high_pass_filter.rs,
  * unsharp_masking.rs, emboss_filter.rs (direction 'n'),
  * roberts_cross_filter.rs, line_detection_filter.rs:246-252 (the four
  * directional kernels; magnitude is orientation-invariant so the max
  * over all four absorbs the row/column axis flip), k_nearest_mean_filter
  * .rs (k=4 of the 8 neighbours), laplacian_of_gaussian_filter.rs (5×5
  * integer LoG), diff_of_gaussian_filter.rs (binomial radius-1 minus
  * radius-2). Sparse-grid convention: absent neighbours contribute
  * nothing to sums/means (the reference skips nodata cells).
  *
  * Everything is ONE hash aggregate over the (radius-1 or radius-2) halo
  * equi-join with integer-exact sums; the only doubles are final
  * divisions/sqrt.
  */
object FocalMore extends Gates {

  /** radius-2 halo with offsets (Spark: explode equi-join). */
  private[ops] def haloR2(g: DataFrame): DataFrame = {
    val centers = g.select(col("ix").as("cix"), col("iy").as("ciy"), col("v"))
      .withColumn("dx", explode(sequence(lit(-2), lit(2))))
      .withColumn("dy", explode(sequence(lit(-2), lit(2))))
      .withColumn("nix", col("cix") + col("dx"))
      .withColumn("niy", col("ciy") + col("dy"))
    centers.join(g.select(col("ix").as("nix"), col("iy").as("niy"), col("v").as("nv")),
      Seq("nix", "niy"))
      .select(col("cix").as("ix"), col("ciy").as("iy"), col("v"),
        col("dx"), col("dy"), col("nv"))
  }

  private val duckHaloR2 =
    "h2 AS (SELECT c.ix, c.iy, c.v, n.ix - c.ix AS dx, n.iy - c.iy AS dy, n.v AS nv " +
      "FROM g c JOIN g n ON n.ix BETWEEN c.ix - 2 AND c.ix + 2 AND n.iy BETWEEN c.iy - 2 AND c.iy + 2)"

  // ---- kernel weight expressions (functions of dx, dy) -------------------
  private val wLineV = "CASE WHEN dx = 0 THEN 2 ELSE -1 END"
  private val wLineH = "CASE WHEN dy = 0 THEN 2 ELSE -1 END"
  private val wLineD1 = "CASE WHEN dx = dy THEN 2 ELSE -1 END"
  private val wLineD2 = "CASE WHEN dx = -dy THEN 2 ELSE -1 END"
  private val wEmboss =
    "CASE WHEN dx = 0 AND dy = 1 THEN -1 WHEN dx = 0 AND dy = -1 THEN 1 ELSE 0 END"
  // 5×5 integer LoG by |dx|+|dy|: 0→16, 1→−2, 2→−1, else 0
  private val wLoG =
    "CASE abs(dx) + abs(dy) WHEN 0 THEN 16 WHEN 1 THEN -2 WHEN 2 THEN -1 ELSE 0 END"
  // binomial kernels: radius-1 [1,2,1]², zero outside; radius-2 [1,4,6,4,1]²
  private val wB1 =
    "CASE WHEN abs(dx) <= 1 AND abs(dy) <= 1 THEN (2 - abs(dx)) * (2 - abs(dy)) ELSE 0 END"
  private def binom4(e: String) =
    s"CASE abs($e) WHEN 0 THEN 6 WHEN 1 THEN 4 ELSE 1 END"
  private val wB2 = s"(${binom4("dx")}) * (${binom4("dy")})"

  /** shared agg lists per query: (outputCol, aggregate SQL over the halo). */
  private def r1Aggs: Seq[(String, String)] = Seq(
    "s" -> "cast(sum(nv) as bigint)",
    "q" -> "cast(sum(nv * nv) as bigint)",
    "n" -> "count(*)",
    "mn" -> "min(nv)",
    "mx" -> "max(nv)",
    "z" -> "max(CASE WHEN dx = 0 AND dy = 0 THEN nv END)",
    "g1s" -> s"cast(sum(nv * ($wB1)) as bigint)",
    "g1w" -> s"cast(sum($wB1) as bigint)",
    "sv" -> s"cast(sum(nv * ($wLineV)) as bigint)",
    "sh" -> s"cast(sum(nv * ($wLineH)) as bigint)",
    "sd1" -> s"cast(sum(nv * ($wLineD1)) as bigint)",
    "sd2" -> s"cast(sum(nv * ($wLineD2)) as bigint)",
    "emb" -> s"cast(sum(nv * ($wEmboss)) as bigint)",
    "nmn" -> "min(CASE WHEN NOT (dx = 0 AND dy = 0) THEN nv END)",
    "nmx" -> "max(CASE WHEN NOT (dx = 0 AND dy = 0) THEN nv END)",
    // packed (|nv−z|, nv) keys of the 8 neighbours for k-nearest-mean;
    // the centre row takes a 2^62 sentinel (NOT NULL: Spark collect_list
    // drops NULLs but DuckDB list() keeps them — a parity trap), so it
    // sorts last and never enters the k=4 prefix
    "ks" -> "__KS__"
  )

  private val ksExpr =
    "CASE WHEN NOT (dx = 0 AND dy = 0) THEN abs(nv - v) * 4294967296 + nv " +
      "ELSE 4611686018427387904 END"

  // n = 1 (isolated cell) → NULL: guards the ANSI divide-by-zero and keeps
  // both engines identical.
  private val stddevE =
    "CASE WHEN n > 1 THEN sqrt(greatest(0.0e0, (cast(q as double) - " +
      "cast(s as double) * cast(s as double) / cast(n as double)) / (cast(n as double) - 1.0e0))) END"

  private val queryDefs: Seq[(String, String, String)] = Seq(
    // (name, select expression over the aggregated row, extra filter)
    ("focal_stddev", s"$stddevE AS f_sd", ""),
    ("olympic_filter",
      "CASE WHEN n > 2 THEN cast(s - mn - mx as double) / cast(n - 2 as double) END AS v_oly", ""),
    ("conservative_smoothing",
      "CASE WHEN nmn IS NULL THEN cast(z as double) " +
        "WHEN z > nmx THEN cast(nmx as double) WHEN z < nmn THEN cast(nmn as double) " +
        "ELSE cast(z as double) END AS v_cs", ""),
    ("high_pass", "cast(z as double) - cast(s as double) / cast(n as double) AS v_hp", ""),
    ("unsharp_masking",
      "cast(z as double) + (cast(z as double) - cast(g1s as double) / cast(g1w as double)) AS v_um", ""),
    ("emboss_filter", "emb AS v_emb", ""),
    ("line_detection",
      "greatest(abs(sv), abs(sh), abs(sd1), abs(sd2)) AS v_ld", "")
  )

  private def kNearestExpr(d: Dialect): String = {
    // 4 nearest neighbour VALUES to the centre: min-4 of packed keys
    // (|nv−z|·2^32 + nv), mean of the recovered values in fixed order;
    // guard on ≥4 REAL neighbours (n counts the centre row too).
    val arr = "ks"
    def nvAt(i: Int) = s"cast(${d.elemE(arr, i.toString)} % 4294967296 as double)"
    s"CASE WHEN n >= 5 THEN " +
      s"(${nvAt(1)} + ${nvAt(2)} + ${nvAt(3)} + ${nvAt(4)}) / 4.0e0 END AS v_knm"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    def r1(s: SparkSession, dir: String): DataFrame = {
      val h = Focal.haloD(Raster.density(s, dir, 6))
      val ks = SparkD.sortedList(ksExpr)
      val aggs = r1Aggs.map { case (nm, e) =>
        expr(if (e == "__KS__") ks else e).as(nm)
      }
      h.groupBy("ix", "iy").agg(aggs.head, aggs.tail: _*)
    }
    val base: Map[String, (SparkSession, String) => DataFrame] = queryDefs.map {
      case (name, sel, _) =>
        name -> ((s: SparkSession, dir: String) =>
          r1(s, dir).selectExpr("ix", "iy", sel).orderBy("ix", "iy"))
    }.toMap
    base ++ Map(
      "knearest_mean_filter" -> ((s: SparkSession, dir: String) =>
        r1(s, dir).selectExpr("ix", "iy", kNearestExpr(SparkD)).orderBy("ix", "iy")),
      "log_filter" -> ((s: SparkSession, dir: String) =>
        haloR2(Raster.density(s, dir, 6))
          .groupBy("ix", "iy")
          .agg(expr(s"cast(sum(nv * ($wLoG)) as bigint)").as("v_log"))
          .orderBy("ix", "iy")),
      "diff_of_gaussian" -> ((s: SparkSession, dir: String) =>
        haloR2(Raster.density(s, dir, 6))
          .groupBy("ix", "iy")
          .agg(expr(s"cast(sum(nv * ($wB1)) as bigint)").as("s1"),
            expr(s"cast(sum($wB1) as bigint)").as("w1"),
            expr(s"cast(sum(nv * ($wB2)) as bigint)").as("s2"),
            expr(s"cast(sum($wB2) as bigint)").as("w2"))
          .selectExpr("ix", "iy",
            "cast(s1 as double) / cast(w1 as double) - cast(s2 as double) / cast(w2 as double) AS v_dog")
          .orderBy("ix", "iy"))
    )
  }

  def oracles: Map[String, String] = {
    val ks = DuckD.sortedList(ksExpr)
    val aggSql = r1Aggs.map { case (nm, e) =>
      s"${if (e == "__KS__") ks else e} AS $nm"
    }.mkString(", ")
    val agg1 = s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)}, ${Focal.duckHaloD}, " +
      s"ag AS (SELECT ix, iy, $aggSql FROM h GROUP BY ix, iy)"
    val base = queryDefs.map { case (name, sel, _) =>
      name -> s"$agg1 SELECT ix, iy, $sel FROM ag ORDER BY ix, iy"
    }.toMap
    base ++ Map(
      "knearest_mean_filter" ->
        s"$agg1 SELECT ix, iy, ${kNearestExpr(DuckD)} FROM ag ORDER BY ix, iy",
      "log_filter" ->
        (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)}, $duckHaloR2 " +
          s"SELECT ix, iy, cast(sum(nv * ($wLoG)) as bigint) AS v_log " +
          "FROM h2 GROUP BY ix, iy ORDER BY ix, iy"),
      "diff_of_gaussian" ->
        (s"${Geo.pagesWith(DuckD)}, ${Geo.densityCte(DuckD, 6)}, $duckHaloR2, " +
          s"ag AS (SELECT ix, iy, cast(sum(nv * ($wB1)) as bigint) AS s1, " +
          s"cast(sum($wB1) as bigint) AS w1, cast(sum(nv * ($wB2)) as bigint) AS s2, " +
          s"cast(sum($wB2) as bigint) AS w2 FROM h2 GROUP BY ix, iy) " +
          "SELECT ix, iy, cast(s1 as double) / cast(w1 as double) - " +
          "cast(s2 as double) / cast(w2 as double) AS v_dog FROM ag ORDER BY ix, iy")
    )
  }
}
