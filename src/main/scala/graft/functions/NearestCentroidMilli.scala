package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}

/** Native codegen'd nearest-centroid assignment over a LITERAL
  * codebook: argmin over k centroids of the exact integer squared-L2
  * distance to a milli-quantized vector, ties to the smaller centroid
  * id — the assignment kernel of [[graft.ops.Clustering]]'s Lloyd
  * loop and k-center induction, returned as `struct(d: long,
  * cid: long)`.
  *
  * Exists because the composed form — `array_min` over k
  * `struct(aggregate(zip_with(...)), cid)` candidates — runs every
  * candidate through INTERPRETED higher-order-function machinery
  * (HOFs have no doGenCode): ~µs per candidate per row. Fine at
  * k = 8; at the SemDeDup scale shape (k grows with n, r15 sf10:
  * k = 400 over 400k vectors × 3 assignment passes) that is ~1e8
  * interpreted lambda evaluations and the gate blew a 900 s watchdog.
  * This kernel is the same arithmetic as `(k·dim)` long multiply-adds
  * per row in one compiled method, [[ArrayKernels.nearestCentroidMilli]].
  *
  * Arguments, all but the first FOLDABLE: (qv array<long>; centsFlat
  * array<long> — k centroids of `dim` longs concatenated in ASCENDING
  * cid order, so the strict-< scan keeps the smaller cid on ties;
  * cids array<long> — the centroid id at each position; dim int).
  * A qv whose length ≠ dim or holding a null element yields null
  * (quantizeMilli never emits either; nulls poison rather than
  * corrupt). Distances are exact: milli values bounded by ±B stay
  * inside long while dim·(2B)² < 2⁶³, same contract as
  * [[graft.ops.Clustering.l2sqLong]]. */
case class NearestCentroidMilli(first: Expression, second: Expression,
                                third: Expression, fourth: Expression)
    extends QuaternaryExpression {

  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid_milli"
  override def dataType: DataType = StructType(Seq(
    StructField("d", LongType, nullable = false),
    StructField("cid", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = {
    val q = KernelCheck.arrayOf(LongType, first, "nearest_centroid_milli qv")
    if (q != TypeCheckResult.TypeCheckSuccess) q
    else if (!second.foldable ||
        KernelCheck.arrayOf(LongType, second,
          "nearest_centroid_milli cents") != TypeCheckResult.TypeCheckSuccess)
      TypeCheckResult.TypeCheckFailure(
        "nearest_centroid_milli cents must be a foldable array<long>")
    else if (!third.foldable ||
        KernelCheck.arrayOf(LongType, third,
          "nearest_centroid_milli cids") != TypeCheckResult.TypeCheckSuccess)
      TypeCheckResult.TypeCheckFailure(
        "nearest_centroid_milli cids must be a foldable array<long>")
    else if (!fourth.foldable || fourth.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        "nearest_centroid_milli dim must be a foldable int")
    else TypeCheckResult.TypeCheckSuccess
  }

  /** The codebook, unpacked and checked once per task from the
    * foldable literals. Both paths read `flat` and `cids`, so both fire
    * the checks. */
  @transient private lazy val dim: Int =
    fourth.eval(null).asInstanceOf[Int]
  @transient private lazy val cids: Array[Long] = {
    val c = third.eval(null).asInstanceOf[ArrayData].toLongArray()
    require((1 until c.length).forall(i => c(i - 1) < c(i)),
      "nearest_centroid_milli: cids must be strictly ascending " +
        "(the strict-< scan's tie rule depends on it)")
    c
  }
  @transient private lazy val flat: Array[Long] = {
    val f = second.eval(null).asInstanceOf[ArrayData].toLongArray()
    require(dim > 0 && f.length == cids.length * dim,
      s"nearest_centroid_milli: ${f.length} codebook longs do not " +
        s"tile ${cids.length} cids by dim=$dim")
    f
  }

  override def eval(input: InternalRow): Any = {
    val q = first.eval(input)
    if (q == null) null
    else ArrayKernels.nearestCentroidMilli(q.asInstanceOf[ArrayData],
      flat, cids, dim)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    // the literal children never reach generated code: the codebook
    // rides as reference objects, dim inlines as a constant
    nullSafeCodeGen(ctx, ev, (q, _, _, _) => {
      val flatRef = ctx.addReferenceObj("centsFlat", flat, "long[]")
      val cidsRef = ctx.addReferenceObj("cids", cids, "long[]")
      KernelCode.nullable(ev, "graft.functions.ArrayKernels" +
        s".nearestCentroidMilli($q, $flatRef, $cidsRef, $dim)")
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}
