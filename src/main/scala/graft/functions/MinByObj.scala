package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types.DataType

/** `min_by_obj(value, ord)` — min_by as a [[TypedImperativeAggregate]],
  * so the planner can pick `ObjectHashAggregateExec` instead of
  * `SortAggregateExec`.
  *
  * Why this exists: the completeness-dedup aggregate
  * ([[graft.ops.Dedup.keepMostCompleteAgg]]) packs the whole row into a
  * struct and takes `min_by(row_struct, ordering_struct)`. Spark's
  * built-in `min_by` is a DECLARATIVE aggregate whose buffer holds the
  * two structs — struct buffers are not mutable in an UnsafeRow, so
  * `HashAggregateExec` can't run it and the plan degrades to
  * `SortAggregateExec`: a full sort of every input partition BEFORE the
  * shuffle and another after it. At 100 TB those sorts dominate — and
  * they buy nothing, because min_by is order-insensitive.
  *
  * As a typed-imperative function the buffer is a plain JVM object
  * (current best ordering key + row), updates are one interpreted
  * ordering comparison per row, and ObjectHashAggregate keeps a hash
  * map per task with map-side combine — the same shuffle volume as the
  * declarative form, ZERO sorts while the per-partition distinct-key
  * count stays under `spark.sql.objectHashAggregate.sortBased.
  * fallbackThreshold` (beyond it execution degrades to exactly the
  * sort-based plan we started from, so the worst case is the status
  * quo, never worse).
  *
  * Semantics match `min_by`: rows whose `ord` evaluates to null are
  * ignored; ties keep the first-merged candidate (callers that need
  * determinism — the dedup oracle does — make `ord` total by including
  * every column, exactly as [[graft.ops.Dedup.keepMostCompleteAgg]]
  * does). Empty/all-null input yields null.
  *
  * Performance history (measured at sf0.1):
  * the round-3 version used the INTERPRETED struct ordering and two
  * copyValue calls per improving row, and lost to the declarative
  * min_by it replaced (q_dedup_agg 4.6→6.7 s). Two fixes reversed
  * that: (1) struct orderings are now codegen'd via GenerateOrdering;
  * (2) the compact `min_by_obj(x, x)` form (`sameExpr`) evals and
  * copies ONE struct and ships half the partial-aggregate bytes.
  * Result: obj beats decl at both low (~2.6 rows/key, 3.09 vs
  * 3.27 s) and high (~50 rows/key, 0.99 vs 1.55 s) duplication; the
  * WINDOW row_number form still wins below ~10 rows/key because
  * InferWindowGroupLimit gives it map-side group-limit with codegen'd
  * sorts — see [[graft.ops.Dedup]] for the operator-level guidance. */
case class MinByObj(
    valueExpr: Expression,
    ordExpr: Expression,
    asc: Boolean = true,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MinByObj.Buffer] {

  override def children: Seq[Expression] = Seq(valueExpr, ordExpr)
  override def nullable: Boolean = true
  override def dataType: DataType = valueExpr.dataType
  override def prettyName: String = if (asc) "min_by_obj" else "max_by_obj"

  override def checkInputDataTypes(): TypeCheckResult =
    TypeUtils.checkForOrderingExpr(ordExpr.dataType, prettyName)

  // asc=false flips the comparison: the same class serves as
  // max_by_obj (registered under that name) — one buffer/serde
  // implementation for both extremes.
  // Struct orderings are CODEGEN'd (GenerateOrdering): the interpreted
  // struct ordering boxes every field of both sides per comparison,
  // and with one comparison per input row that constant dominated the
  // sort it replaced (measured: q_dedup_agg 4.6->6.7 s with the
  // interpreted form).
  @transient private lazy val ordering: Ordering[Any] = {
    val base = ordExpr.dataType match {
      case st: org.apache.spark.sql.types.StructType =>
        org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
          .create(st).asInstanceOf[Ordering[Any]]
      case dt => TypeUtils.getInterpretedOrdering(dt)
    }
    if (asc) base else base.reverse
  }

  // `min_by_obj(x, x)` — "min_obj" — is the compact formulation used
  // when the ordering struct already CONTAINS the output row (e.g.
  // dedup with a full-row tiebreak): evaluate once, copy once, ship
  // one struct through the shuffle instead of two. Halves the
  // per-improvement copy bytes and the partial-aggregate width.
  @transient private lazy val sameExpr = valueExpr.semanticEquals(ordExpr)

  override def createAggregationBuffer(): MinByObj.Buffer =
    new MinByObj.Buffer(null, null)

  override def update(buf: MinByObj.Buffer,
                      input: InternalRow): MinByObj.Buffer = {
    val ord = ordExpr.eval(input)
    if (ord != null &&
        (buf.ord == null || ordering.compare(ord, buf.ord) < 0)) {
      // eval results alias reused backing rows — copy
      buf.ord = InternalRow.copyValue(ord)
      buf.value =
        if (sameExpr) buf.ord
        else InternalRow.copyValue(valueExpr.eval(input))
    }
    buf
  }

  override def merge(a: MinByObj.Buffer,
                     b: MinByObj.Buffer): MinByObj.Buffer = {
    if (b.ord != null &&
        (a.ord == null || ordering.compare(b.ord, a.ord) < 0)) {
      a.ord = b.ord
      a.value = b.value
    }
    a
  }

  override def eval(buf: MinByObj.Buffer): Any = buf.value

  @transient private lazy val serProj =
    UnsafeProjection.create(Array(ordExpr.dataType, valueExpr.dataType))

  override def serialize(buf: MinByObj.Buffer): Array[Byte] =
    // compact form: value == ord, don't ship it twice
    serProj(InternalRow(buf.ord, if (sameExpr) null else buf.value)).getBytes

  override def deserialize(bytes: Array[Byte]): MinByObj.Buffer = {
    val row = new UnsafeRow(2)
    row.pointTo(bytes, bytes.length)
    val ord =
      if (row.isNullAt(0)) null
      else InternalRow.copyValue(row.get(0, ordExpr.dataType))
    val value =
      if (sameExpr) ord
      else if (row.isNullAt(1)) null
      else InternalRow.copyValue(row.get(1, valueExpr.dataType))
    new MinByObj.Buffer(ord, value)
  }

  override def withNewMutableAggBufferOffset(offset: Int): MinByObj =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MinByObj =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinByObj =
    copy(valueExpr = newChildren(0), ordExpr = newChildren(1))
}

object MinByObj {
  /** Mutable aggregation state: best ordering key seen + its value. */
  final class Buffer(var ord: Any, var value: Any)
}
