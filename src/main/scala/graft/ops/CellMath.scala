package graft.ops

import graft.core.{Dialect, DuckD, Gates, Geo, SparkD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The cell-wise math toolbox, gated individually.
  *
  * The reference's ~48 per-cell unary/binary/comparison/logical tools
  * (math_stat_analysis/{add,subtract,multiply,divide,integer_division,
  * modulo,min,max,abs,negate,increment,decrement,square,power,reciprocal,
  * equal_to,not_equal_to,greater_than,less_than,and,or,not,xor,ceil,floor,
  * round,truncate,to_degrees,to_radians,sin,cos,tan,sinh,cosh,tanh,arcsin,
  * arccos,arctan,atan2,exp,exp2,ln,log10,log2,sqrt}.rs — each ~150 LoC of
  * identical scaffolding around one `match` arm; the InPlace variants
  * reuse the same arm with the output aliased onto input1) were until now
  * covered only INSIDE other gated queries (the round-1 convention). These
  * two suites gate every arm directly, one aliased output column per tool
  * over the density raster v and an md5-derived second operand w ∈ 1..7:
  *
  *   - cell_math_int_suite: the arms whose result is exact in both
  *     engines — integer arithmetic, comparisons, logicals, floor/ceil/
  *     round/trunc of an integer ratio, radians/degrees (one IEEE multiply
  *     + divide of identical literals), reciprocal and divide (one
  *     correctly-rounded division). Bit-equal by construction.
  *   - cell_math_transcendental_suite: sin..atan2, exp/ln/log variants,
  *     sqrt, micro-quantized: floor(f(x)·10⁶). java.lang.Math and libm
  *     agree far beyond 10⁻⁶ on these bounded args (|x| ≤ 5, asin/acos
  *     args |x| ≤ 0.9), so the quantized integers are engine-identical.
  *
  * Both engines evaluate the SAME generated text (Dialect only spells
  * xor/integer-division). Catalyst folds the whole row into one
  * whole-stage-codegen projection over the grid — one scan, no joins.
  */
object CellMath extends Gates {

  /** second operand: md5 stripe 1..7 (never 0 — safe divisor). */
  private def wE(d: Dialect): String =
    s"(1 + ${d.md5Bits(s"('w' || ${d.toStr("ix")} || '_' || ${d.toStr("iy")})", 1)} % 7)"

  private val micro = "1.0e6"

  /** exact arms: (alias, expression over bigint v and w). */
  private def intArms(d: Dialect): Seq[(String, String)] = Seq(
    "add" -> "(v + w)",
    "subtract" -> "(v - w)",
    "multiply" -> "(v * w)",
    "divide" -> "(cast(v as double) / cast(w as double))",
    "integer_division" -> s"cast(floor(cast(v as double) / cast(w as double)) as bigint)",
    "modulo" -> "(v % w)",
    "min2" -> "least(v, w)",
    "max2" -> "greatest(v, w)",
    "abs1" -> "abs(v - 2 * w)",
    "negate" -> "(-v)",
    "increment" -> "(v + 1)",
    "decrement" -> "(v - 1)",
    "square" -> "(v * v)",
    "power_i" -> "cast(power(cast(v as double), 2) as bigint)",
    "reciprocal" -> "(1.0e0 / cast(v as double))",
    "equal_to" -> "(CASE WHEN v = w THEN 1 ELSE 0 END)",
    "not_equal_to" -> "(CASE WHEN v <> w THEN 1 ELSE 0 END)",
    "greater_than" -> "(CASE WHEN v > w THEN 1 ELSE 0 END)",
    "less_than" -> "(CASE WHEN v < w THEN 1 ELSE 0 END)",
    "and2" -> "(CASE WHEN v > 3 AND w > 3 THEN 1 ELSE 0 END)",
    "or2" -> "(CASE WHEN v > 3 OR w > 3 THEN 1 ELSE 0 END)",
    "not2" -> "(CASE WHEN NOT (v > 3) THEN 1 ELSE 0 END)",
    "xor2" -> s"${d.bitXor("v", "w")}",
    "ceil1" -> "cast(ceil(cast(v as double) / 7.0e0) as bigint)",
    "floor1" -> "cast(floor(cast(v as double) / 7.0e0) as bigint)",
    // v/7 can never be an exact .5 tie (2v = 7 has no integer solution),
    // so HALF_UP (Spark) and half-away (DuckDB) agree on every cell
    "round1" -> "cast(round(cast(v as double) / 7.0e0) as bigint)",
    "trunc1" -> ("cast(CASE WHEN v - 2 * w >= 0 THEN floor(cast(v - 2 * w as double) / 7.0e0) " +
      "ELSE ceil(cast(v - 2 * w as double) / 7.0e0) END as bigint)"),
    "to_radians" -> "radians(cast(v % 360 as double))",
    "to_degrees" -> "degrees(cast(v as double) / 100.0e0)")

  /** transcendental arms, micro-quantized. x1 ∈ [-5, 4]; xp ∈ [1, 97];
    * xa ∈ [-0.9, 0.9]. */
  private val transArms: Seq[(String, String)] = {
    def q(e: String) = s"cast(floor(($e) * $micro) as bigint)"
    val x1 = "cast(v % 10 - 5 as double)"
    val xp = "cast(v % 97 + 1 as double)"
    val xa = "(cast(v % 19 - 9 as double) / 10.0e0)"
    Seq(
      "sin1" -> q(s"sin($x1)"),
      "cos1" -> q(s"cos($x1)"),
      "tan1" -> q(s"tan($xa)"),
      // DuckDB has no sinh/cosh/tanh builtins — both engines evaluate the
      // same exp-composed identity, so the quantized values agree
      "sinh1" -> q(s"((exp($x1) - exp(-($x1))) / 2.0e0)"),
      "cosh1" -> q(s"((exp($x1) + exp(-($x1))) / 2.0e0)"),
      "tanh1" -> q(s"((exp(2.0e0 * ($x1)) - 1.0e0) / (exp(2.0e0 * ($x1)) + 1.0e0))"),
      "arcsin" -> q(s"asin($xa)"),
      "arccos" -> q(s"acos($xa)"),
      "arctan" -> q(s"atan($x1)"),
      "atan2_1" -> q(s"atan2($x1, cast(w as double))"),
      "exp1" -> q(s"exp($x1)"),
      "exp2_1" -> q(s"power(2.0e0, $x1)"),
      "ln1" -> q(s"ln($xp)"),
      "log10_1" -> q(s"log10($xp)"),
      "log2_1" -> q(s"log2($xp)"),
      "sqrt1" -> q(s"sqrt($xp)"))
  }

  private def grid(s: SparkSession, dir: String): DataFrame =
    Raster.density(s, dir, 6)
      .withColumn("w", expr(wE(SparkD)))

  private def sel(arms: Seq[(String, String)]): Seq[String] =
    Seq("ix", "iy") ++ arms.map { case (a, e) => s"$e AS $a" }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cell_math_int_suite" -> ((s, dir) =>
      grid(s, dir).selectExpr(sel(intArms(SparkD)): _*).orderBy("ix", "iy")),
    "cell_math_transcendental_suite" -> ((s, dir) =>
      grid(s, dir).selectExpr(sel(transArms): _*).orderBy("ix", "iy"))
  )

  private def duck(arms: Seq[(String, String)]): String = {
    val d = DuckD
    s"${Geo.pagesWith(d)}, " +
      s"g0 AS (SELECT ${Geo.ix(d, "lon", 6)} AS ix, ${Geo.iy(d, "lat", 6)} AS iy, " +
      "count(*) AS v FROM pages GROUP BY 1, 2), " +
      s"g AS (SELECT ix, iy, v, ${wE(d)} AS w FROM g0) " +
      s"SELECT ${sel(arms).mkString(", ")} FROM g ORDER BY ix, iy"
  }

  def oracles: Map[String, String] = Map(
    "cell_math_int_suite" -> duck(intArms(DuckD)),
    "cell_math_transcendental_suite" -> duck(transArms)
  )
}
