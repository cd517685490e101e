package graft.ops

import graft.core.{Dialect, DuckD, Gates, SparkD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** StochasticDepressionAnalysis
  * (hydro_analysis/stochastic_depression_analysis.rs:169-310, 596-705):
  * Monte-Carlo depression probability. The reference perturbs the DEM with
  * a spatially-autocorrelated error field (`--rmse` magnitude, `--range`
  * correlation length, turning-bands + histogram matching, rs:247-310),
  * fills the perturbed surface (rs:596-690), and marks a cell "in a
  * depression" for that realization when filled > perturbed
  * (`dep_filled > error_model`, rs:699); pdep = fraction of iterations
  * in-depression.
  *
  * Spark-first re-expression, K = 4 DETERMINISTIC realizations (same
  * derivation convention as turning_bands' 16 md5 bands — operator
  * semantics preserved, RNG replaced by md5 so both engines derive
  * bit-identical fields):
  *
  *   - raw error per cell per k: md5('s{k}_ix_iy') % 201 − 100 (integer,
  *     ±100 — the rmse analogue);
  *   - spatial autocorrelation: 5×5 focal mean (the range analogue),
  *     scaled ×6 and floored to integer micro-relief comparable to the
  *     DEM's fine-noise term (calibrated so each realization yields
  *     ~350/2304 depression cells — non-vacuous without flooding);
  *   - perturbed fill: the shared Planchon–Darboux fixpoint
  *     (HydroFill.fillOf), one asserted-convergent run per realization;
  *   - dep_k = f_k > z_k EXACTLY (fill only propagates max/min of input
  *     values, all integers in doubles, so equality is exact — no eps).
  *
  * Output: per cell, dep_count ∈ 0..4 and pdep = dep_count/4 (exactly
  * representable quarters). Twin: K unrolled fill chains via
  * HydroFill.duckFillCtesFor, identical err expression text.
  *
  * Scale: each realization is one fill fixpoint (same cost envelope as
  * fill_depressions); K realizations are independent — on a cluster they
  * run as K parallel jobs (or one job with a realization column; kept as
  * a loop here so each fill shares the asserted-convergence machinery).
  * The focal mean is the offset-explode equi-join (no range join).
  */
object Stochastic extends Gates {

  private val K = 4
  private val S = 6 // error-amplitude scale (calibrated, see scaladoc)
  private val W = 2 // focal half-window of the autocorrelation smoother

  private def seedE(d: Dialect, k: Int, ix: String, iy: String): String =
    s"('s${k}_' || ${d.toStr(ix)} || '_' || ${d.toStr(iy)})"

  private def rawE(d: Dialect, k: Int, ix: String, iy: String): String =
    s"(${d.md5Bits(seedE(d, k, ix, iy), 1)} % 201 - 100)"

  /** floor(sum·S / count) — exact in both engines: operands are small
    * integers, the true quotient's distance to any integer is ≥ 1/25,
    * far beyond one ulp of the correctly-rounded double division. */
  private val errAgg = s"cast(floor(sum(rn) * ${S}.0e0 / count(*)) as bigint)"

  /** Perturbed DEM realization k: z + spatially-smoothed md5 error. */
  private def realization(s: SparkSession, dir: String, k: Int): DataFrame = {
    val g = Dem.dem(s, dir)
    val raw = g.selectExpr("ix", "iy", s"${rawE(SparkD, k, "ix", "iy")} AS rn")
    val centers = g.select(col("ix").as("cix"), col("iy").as("ciy"))
      .withColumn("dx", explode(sequence(lit(-W), lit(W))))
      .withColumn("dy", explode(sequence(lit(-W), lit(W))))
      .select(col("cix"), col("ciy"),
        (col("cix") + col("dx")).as("nix"), (col("ciy") + col("dy")).as("niy"))
    val err = centers
      .join(raw.select(col("ix").as("nix"), col("iy").as("niy"), col("rn")),
        Seq("nix", "niy"))
      .groupBy(col("cix").as("ix"), col("ciy").as("iy"))
      .agg(expr(errAgg).as("err"))
    g.join(err, Seq("ix", "iy")).selectExpr("ix", "iy", "z + err AS z")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stochastic_depression_analysis" -> ((s, dir) => {
      val deps = (0 until K).map { k =>
        HydroFill.fillOf(realization(s, dir, k), s"stochastic_dep_$k")
          .selectExpr("ix", "iy",
            "CASE WHEN f > cast(z as double) THEN 1 ELSE 0 END AS dep")
      }
      deps.reduce(_.union(_))
        .groupBy("ix", "iy")
        .agg(sum("dep").cast("bigint").as("dep_count"))
        .selectExpr("ix", "iy", "dep_count",
          s"cast(dep_count as double) / ${K}.0e0 AS pdep")
    })
  )

  def oracles: Map[String, String] = {
    val d = DuckD
    val chains = (0 until K).map { k =>
      val raw = s"rawn$k AS (SELECT ix, iy, ${rawE(d, k, "ix", "iy")} AS rn FROM dem)"
      val err = s"errn$k AS (SELECT c.ix, c.iy, $errAgg AS err " +
        s"FROM dem c JOIN rawn$k n ON n.ix BETWEEN c.ix - $W AND c.ix + $W " +
        s"AND n.iy BETWEEN c.iy - $W AND c.iy + $W GROUP BY 1, 2)"
      val nz = s"nz$k AS MATERIALIZED (SELECT d.ix, d.iy, d.z + e.err AS z " +
        s"FROM dem d JOIN errn$k e ON e.ix = d.ix AND e.iy = d.iy)"
      s"$raw, $err, $nz, ${HydroFill.duckFillCtesFor(s"p${k}_", s"nz$k")}"
    }.mkString(", ")
    val depUnion = (0 until K).map { k =>
      s"SELECT ix, iy, CASE WHEN f > cast(z as double) THEN 1 ELSE 0 END AS dep " +
        s"FROM p${k}_${HydroFill.fillLast}"
    }.mkString(" UNION ALL ")
    Map(
      "stochastic_depression_analysis" ->
        (s"WITH RECURSIVE ${Dem.duckDemCtes}, $chains, " +
          s"du AS ($depUnion) " +
          "SELECT ix, iy, cast(sum(dep) as bigint) AS dep_count, " +
          s"cast(sum(dep) as double) / ${K}.0e0 AS pdep " +
          "FROM du GROUP BY 1, 2 ORDER BY ix, iy")
    )
  }
}
