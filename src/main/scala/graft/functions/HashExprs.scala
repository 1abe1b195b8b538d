package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Analysis-time input checks shared by the native kernels: the
  * expressions are SQL-callable in extensions-deployed sessions, so
  * misuse must fail at analysis with a readable message, not mid-job
  * with a ClassCastException (or worse, read garbage off ArrayData).
  *
  * Null ELEMENTS can't be rejected at analysis (`transform(...)` always
  * types as containsNull=true even when the lambda never yields null),
  * so every array kernel null-poisons at runtime instead: any null
  * element makes the whole result null — the same semantics as the HOF
  * twins, whose `transform`/`aggregate` lambdas propagate null. */
private[functions] object KernelCheck {
  def arrayOf(elem: DataType, e: Expression,
              what: String): TypeCheckResult = e.dataType match {
    case ArrayType(t, _) if t == elem => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$what must be array<${elem.simpleString}>, got ${other.simpleString}")
  }

  def isString(e: Expression, what: String): TypeCheckResult =
    e.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$what must be string, got ${other.simpleString}")
    }

  /** Foldable, integer-typed, NON-NULL, and > 0 — evaluated here so a
    * zero/negative/null parameter fails ANALYSIS, not per-row mid-job
    * (cdc_bounds(codes, 0) would otherwise divide by zero per row, and
    * a NULL k would yield an empty minhash signature silently). */
  def foldablePosInt(e: Expression, what: String): TypeCheckResult =
    if (!e.foldable ||
        !(e.dataType == IntegerType || e.dataType == LongType ||
          e.dataType == ShortType))
      TypeCheckResult.TypeCheckFailure(
        s"$what must be a foldable integer literal")
    else e.eval(null) match {
      case null => TypeCheckResult.TypeCheckFailure(
        s"$what must not be null")
      case v: java.lang.Number if v.longValue > 0 =>
        TypeCheckResult.TypeCheckSuccess
      case v => TypeCheckResult.TypeCheckFailure(
        s"$what must be > 0, got $v")
    }
}

/** `minhash_sig(hashes, k)`: the k-seed MinHash signature of a
  * pre-hashed shingle array — `array_min(transform(hashes, h =>
  * xxhash64(h, j)))` for j in [0, k), fused into one pass over the
  * input with a k-wide running-min array. `k` must be a foldable int
  * literal. Empty input yields Long.MaxValue sentinels (callers filter
  * empty shingle sets upstream — see Similarity.nearDupPairs). A null
  * element null-poisons the result, matching the HOF twin. */
case class MinHashSig(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullable: Boolean = true

  private lazy val k: Int = right.eval(null) match {
    case i: java.lang.Integer => i.intValue
    case l: java.lang.Long    => l.intValue
    case other => throw new IllegalArgumentException(
      s"minhash_sig k must be a foldable int literal, got $other")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = {
    val l = KernelCheck.arrayOf(LongType, left, "minhash_sig hashes")
    if (l != TypeCheckResult.TypeCheckSuccess) l
    else KernelCheck.foldablePosInt(right, "minhash_sig k")
  }

  override def nullSafeEval(h: Any, kk: Any): Any =
    ArrayKernels.minHashSig(h.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, _) =>
      KernelCode.nullable(ev,
        s"graft.functions.ArrayKernels.minHashSig($a, $k)"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashSig =
    copy(left = newLeft, right = newRight)
}

/** `simhash_pack(hashes)`: 64-bit SimHash from pre-hashed token longs —
  * per-bit majority vote packed MSB-first (bit 0's vote lands in the
  * MSB), exactly [[graft.ops.Similarity.simhash64]]'s fold. One pass,
  * 64 local counters, no intermediate arrays. Empty input → 0L; a null
  * element null-poisons the result, matching the HOF twin. */
case class SimHashPack(child: Expression) extends UnaryExpression {

  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_pack"

  override def checkInputDataTypes(): TypeCheckResult =
    KernelCheck.arrayOf(LongType, child, "simhash_pack hashes")

  override def nullSafeEval(h: Any): Any = {
    val arr = h.asInstanceOf[ArrayData]
    if (TextKernels.hasNullElement(arr)) null
    else ArrayKernels.simhashPack(arr)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => KernelCode.guarded(ev,
      s"graft.functions.TextKernels.hasNullElement($a)",
      s"graft.functions.ArrayKernels.simhashPack($a)"))

  override protected def withNewChildInternal(
      newChild: Expression): SimHashPack = copy(child = newChild)
}

/** `dot_double(a, b)`: sequential-order double dot product of two
  * float vectors — [[graft.ops.Similarity.dotDouble]] without the
  * per-pair product-array allocation. Truncates to the shorter length
  * (inputs here are fixed-width embeddings; the HOF twin null-poisons
  * on length mismatch instead, so equal-length inputs are the
  * contract). A null element in either input null-poisons the result,
  * matching the HOF twin. */
case class DotDouble(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_double"

  override def checkInputDataTypes(): TypeCheckResult = {
    val l = KernelCheck.arrayOf(FloatType, left, "dot_double left")
    if (l != TypeCheckResult.TypeCheckSuccess) l
    else KernelCheck.arrayOf(FloatType, right, "dot_double right")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (ArrayKernels.anyNull(x, y)) null else ArrayKernels.dotDouble(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => KernelCode.guarded(ev,
      s"graft.functions.ArrayKernels.anyNull($a, $b)",
      s"graft.functions.ArrayKernels.dotDouble($a, $b)"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotDouble =
    copy(left = newLeft, right = newRight)
}
