package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType, StringType}

/** Native codegen'd Jaccard similarity in floor-rounded milli-units
  * over two string arrays — the custom-Expression form of
  * [[graft.ops.Similarity.jaccardMilli]], which is the exact-verify
  * kernel of every near-dup gate (MinHash-LSH, prefix join,
  * incremental near-dup, component build). The built-in form pays a
  * generic `array_intersect` (per-row hash-set machinery through the
  * interpreted ArrayIntersect path plus a materialized result array
  * whose only use is `size`); this expression counts the
  * intersection without building it ([[ArrayKernels.distinctOverlap]]).
  *
  * Arithmetic is IDENTICAL to the built-in form on any input:
  * `inter` = |distinct(A) ∩ distinct(B)| (array_intersect semantics),
  * `union` = |A| + |B| − inter (RAW lengths, as `size(a) + size(b)`
  * computes — callers pass distinct arrays by contract, see
  * setSimilarityPairsExact's defensive array_distinct), result =
  * `floor(1000.0 · inter / union + 0.5)` as a long — the same IEEE
  * double division the Column formula and the DuckDB oracle perform.
  *
  * Null array → null; a null ELEMENT null-poisons (shingle arrays are
  * regex-split output and never carry nulls, but the function is
  * SQL-exposed). */
case class JaccardMilli(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "jaccard_milli"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val l = KernelCheck.arrayOf(StringType, left, "jaccard_milli left")
    if (l != org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess) l
    else KernelCheck.arrayOf(StringType, right, "jaccard_milli right")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (ArrayKernels.jaccardIsNull(x, y)) null
    else ArrayKernels.jaccardMilli(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => KernelCode.guarded(ev,
      s"graft.functions.ArrayKernels.jaccardIsNull($a, $b)",
      s"graft.functions.ArrayKernels.jaccardMilli($a, $b)"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardMilli =
    copy(left = newLeft, right = newRight)
}
