package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types._

/** graft_dot(a, b): the dot product of two float arrays, accumulated left
  * to right in double from 0.0 — bit-identical to the lambda form
  *   aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)),
  *             0.0, (acc, v) -> acc + v)
  * it replaces, null exactly where that is: a null argument, a null
  * element, or unequal lengths (zip_with pads the shorter side with nulls,
  * and a null product makes every later sum null). One loop in the
  * generated code instead of two lambda evaluations per element. */
case class DotExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure("graft_dot expects (array<float>, array<float>)")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    ${ev.value} += (double) $x.getFloat($i) * (double) $y.getFloat($i);
         |  }
         |}
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** graft_pairs(ms): every unordered pair of an id list as
  * struct<a = least, b = greatest>, i-major in list order — the rows of
  *   flatten(transform(ms, (x, i) -> transform(slice(ms, i + 2, size(ms)),
  *     y -> struct(least(x, y) AS a, greatest(x, y) AS b))))
  * it replaces. Ids are non-null bigints (the CappedList output). */
case class PairsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("a", LongType, nullable = false),
    StructField("b", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_pairs"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure("graft_pairs expects array<bigint> without nulls")
  }

  override def nullSafeEval(ms: Any): Any = ArrayKernels.pairs(ms.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, ms => s"graft.expr.ArrayKernels.pairs($ms)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object ArrayKernels {
  /** Shared runtime helper of graft_pairs (interpreted + codegen). */
  def pairs(ms: ArrayData): ArrayData = {
    val n = ms.numElements()
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n) {
      val x = ms.getLong(i)
      var j = i + 1
      while (j < n) {
        val y = ms.getLong(j)
        out(k) = InternalRow(math.min(x, y), math.max(x, y))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  def dot(a: Column, b: Column): Column =
    Shim.column(DotExpr(Shim.expression(a), Shim.expression(b)))

  def pairs(ms: Column): Column = Shim.column(PairsExpr(Shim.expression(ms)))
}
