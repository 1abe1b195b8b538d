package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType, StringType}

/** Native codegen'd containment similarity in floor-rounded
  * milli-units over two string arrays — C(A,B) = |A ∩ B| / |A|, the
  * asymmetric verify kernel of
  * [[graft.ops.Similarity.containmentPairs]]. Counts the intersection
  * with [[JaccardMilli]]'s [[ArrayKernels.distinctOverlap]]; only the
  * denominator differs: the LEFT (contained-candidate) side's raw
  * length.
  *
  * Arithmetic is identical to the built-in formulation
  * `floor(1000.0 · |distinct(A) ∩ distinct(B)| / |A| + 0.5)` — callers
  * pass distinct arrays by contract (containmentPairs' defensive
  * `array_distinct`), and the DuckDB oracle performs the same IEEE
  * double division. Null array → null; empty LEFT array → null (a
  * containment of nothing is undefined, and the 0-denominator would
  * otherwise fault); a null element null-poisons. */
case class ContainmentMilli(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "containment_milli"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val l = KernelCheck.arrayOf(StringType, left, "containment_milli left")
    if (l != org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess) l
    else KernelCheck.arrayOf(StringType, right, "containment_milli right")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (ArrayKernels.containmentIsNull(x, y)) null
    else ArrayKernels.containmentMilli(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => KernelCode.guarded(ev,
      s"graft.functions.ArrayKernels.containmentIsNull($a, $b)",
      s"graft.functions.ArrayKernels.containmentMilli($a, $b)"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ContainmentMilli =
    copy(left = newLeft, right = newRight)
}
