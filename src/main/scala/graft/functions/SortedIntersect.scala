package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native codegen'd intersection of two SORTED-ASCENDING, DISTINCT,
  * non-null long arrays — the adjacency-list close of
  * [[graft.ops.Triangles]]. Equivalent to
  * `array_intersect(a, b)` under that precondition (distinct elements
  * of `a` present in `b`, in `a`'s order — ascending here), but a
  * single merge walk over the primitive values instead of the
  * built-in's per-row `OpenHashSet` build + probe + generic element
  * copy, which the round-16 profile put at the top of
  * q_triangle_count's executor samples.
  *
  * PRECONDITION (caller contract, not checked): both arrays sorted
  * ascending with distinct non-null elements — exactly what
  * `sort_array(collect_list(..))` over a distinct edge list yields.
  * On unsorted input the result is NOT array_intersect's.
  *
  * Null array → null. */
case class SortedIntersectLongs(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sorted_intersect_longs"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val l = KernelCheck.arrayOf(LongType, left, "sorted_intersect_longs left")
    if (l != org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess) l
    else KernelCheck.arrayOf(LongType, right, "sorted_intersect_longs right")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayKernels.sortedIntersectLongs(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = " +
      s"graft.functions.ArrayKernels.sortedIntersectLongs($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectLongs =
    copy(left = newLeft, right = newRight)
}
