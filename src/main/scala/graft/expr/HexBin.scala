package graft.expr

import graft.core.Lit
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Hexagonal binning (vector_hex_bin.rs, horizontal orientation).
  *
  * Geometry cloned from the reference (:267-322):
  *   half_width = 0.5·w; size = half_width / cos(π/6); height = 2·size;
  *   three_quarter_height = 0.75·height;
  *   centre(row, col) = (minX + hw − hw·(row%2) + col·w,
  *                       maxY − 0.25·height − row·tqh)
  *   assignment = nearest centre (the reference's FRS knn(1) with bucket
  *   width w always finds the true nearest centre since the hex
  *   circumradius ≈ 0.577·w < w).
  *
  * Nearest centre is computed from 6 candidates (rows ⌊r⌋−1..⌊r⌋+1 ×
  * cols ⌊c⌋..⌊c⌋+1, clamped to the lattice), first-wins on exact ties.
  * All trig-derived constants are precomputed as Scala doubles and embedded
  * as literals in the twin SQL so both engines use identical values (libm
  * cos may differ across engines by an ulp).
  */
object HexBin {
  def hw(width: Double): Double = 0.5 * width
  def size(width: Double): Double = hw(width) / math.cos(math.Pi / 6.0)
  def height(width: Double): Double = 2.0 * size(width)
  def tqh(width: Double): Double = 0.75 * height(width)
  def quarterH(width: Double): Double = 0.25 * height(width)

  /** Scalar twin of the SQL below — candidate order must stay identical. */
  def assign(x: Double, y: Double, minX: Double, minY: Double,
             maxX: Double, maxY: Double, width: Double): Long = {
    val HW = hw(width); val TQH = tqh(width); val QH = quarterH(width)
    val cy0 = maxY - QH
    val cx0 = minX + HW
    val rows = math.max(1L, math.ceil((maxY - minY) / TQH).toLong)
    val extW = maxX - minX
    val rEst = math.floor((cy0 - y) / TQH).toLong
    var best = Double.MaxValue
    var bestRow = -1L; var bestCol = -1L
    var i = -1
    while (i <= 1) {
      val rc = math.min(math.max(rEst + i, 0L), rows - 1L)
      val xo = cx0 - HW * (rc % 2)
      val colsR = math.max(1L, math.ceil((extW + HW * (rc % 2)) / width).toLong)
      val cEst = math.floor((x - xo) / width).toLong
      var j = 0
      while (j <= 1) {
        val cc = math.min(math.max(cEst + j, 0L), colsR - 1L)
        val cx = xo + cc * width
        val cy = cy0 - rc * TQH
        val d2 = (x - cx) * (x - cx) + (y - cy) * (y - cy)
        if (d2 < best) { best = d2; bestRow = rc; bestCol = cc }
        j += 1
      }
      i += 1
    }
    (bestRow << 32) | bestCol
  }

  /** Twin SQL producing the same packed (row<<32)|col, given column
    * expressions for the point and the extent. Identical candidate order
    * and float ops as `assign`. */
  def assignSql(x: String, y: String, minX: String, minY: String,
                maxX: String, maxY: String, width: Double): String = {
    val W = Lit.d(width); val HW = Lit.d(hw(width))
    val TQH = Lit.d(tqh(width)); val QH = Lit.d(quarterH(width))
    val cy0 = s"(($maxY) - $QH)"
    val cx0 = s"(($minX) + $HW)"
    val rows = s"greatest(1, cast(ceil((($maxY) - ($minY)) / $TQH) as bigint))"
    val extW = s"(($maxX) - ($minX))"
    val rEst = s"cast(floor(($cy0 - ($y)) / $TQH) as bigint)"
    case class Cand(rc: String, cc: String, d2: String)
    val cands = for (i <- -1 to 1; j <- 0 to 1) yield {
      val rc = s"least(greatest($rEst + $i, 0), $rows - 1)"
      val xo = s"($cx0 - $HW * ($rc % 2))"
      val colsR = s"greatest(1, cast(ceil(($extW + $HW * ($rc % 2)) / $W) as bigint))"
      val cEst = s"cast(floor((($x) - $xo) / $W) as bigint)"
      val cc = s"least(greatest($cEst + $j, 0), $colsR - 1)"
      val cx = s"($xo + $cc * $W)"
      val cy = s"($cy0 - $rc * $TQH)"
      Cand(rc, cc, s"((($x) - $cx) * (($x) - $cx) + (($y) - $cy) * (($y) - $cy))")
    }
    val dmin = cands.map(_.d2).mkString("least(", ", ", ")")
    // first candidate attaining the min wins — same as the scalar strict-<
    val pickSql = cands.map(c =>
      s"WHEN ${c.d2} = ($dmin) THEN ((${c.rc} << 32) | ${c.cc})").mkString(" ")
    s"(CASE $pickSql END)"
  }

  def hexBin(x: Column, y: Column, minX: Column, minY: Column,
             maxX: Column, maxY: Column, width: Double): Column =
    Shim.column(HexBinAssign(Shim.expression(x), Shim.expression(y),
      Shim.expression(minX), Shim.expression(minY),
      Shim.expression(maxX), Shim.expression(maxY), width))
}

/** Codegen'd nearest-hex-centre assignment: packed (row<<32)|col. */
case class HexBinAssign(x: Expression, y: Expression,
                        minX: Expression, minY: Expression,
                        maxX: Expression, maxY: Expression,
                        width: Double) extends Expression {
  override def children: Seq[Expression] = Seq(x, y, minX, minY, maxX, maxY)
  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "graft_hexbin"

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == DoubleType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("graft_hexbin expects 6 double args")

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else java.lang.Long.valueOf(HexBin.assign(
      vs(0).asInstanceOf[Double], vs(1).asInstanceOf[Double],
      vs(2).asInstanceOf[Double], vs(3).asInstanceOf[Double],
      vs(4).asInstanceOf[Double], vs(5).asInstanceOf[Double], width))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val nullCheck =
      if (nullable) evals.map(e => e.isNull.toString).mkString(" || ") else "false"
    val code =
      code"""
        ${evals.map(_.code).mkString("\n")}
        boolean ${ev.isNull} = $nullCheck;
        long ${ev.value} = -1L;
        if (!${ev.isNull}) {
          ${ev.value} = graft.expr.HexBin.assign(
            ${evals(0).value}, ${evals(1).value}, ${evals(2).value},
            ${evals(3).value}, ${evals(4).value}, ${evals(5).value}, $width);
        }
      """
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(x = newChildren(0), y = newChildren(1), minX = newChildren(2),
         minY = newChildren(3), maxX = newChildren(4), maxY = newChildren(5))
}
