package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{array, lit, typedLit}
import org.apache.spark.sql.graft.Internals
import org.apache.spark.sql.types.{DataType, LongType}

/** Native codegen'd cosine similarity in floor-rounded milli-units over
  * two float vectors — the custom-Expression form of
  * [[graft.ops.Similarity.cosineMilli]] (SURVEY.md §7.5: built-ins
  * first, custom Expression only where the bench demands). The HOF
  * form (`aggregate(zip_with(...))`) is interpreted per element and
  * allocates a product array per pair; this expression is one
  * primitive loop that allocates nothing.
  *
  * IEEE-identical to the HOF form and the DuckDB oracle: elements cast
  * to double BEFORE multiply, sequential accumulation in index order,
  * `floor(1000*dot/(sqrt(na)*sqrt(nb)) + 0.5)`.
  *
  * Null vector → null; a null ELEMENT in either input null-poisons the
  * result too (embeddings are dense, but the function is SQL-exposed,
  * so a sparse/nullable array must not silently read as 0.0f). */
case class CosineMilli(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullable: Boolean = true

  // no ExpectsInputTypes (AbstractDataType is private[sql]) — inputs
  // are validated via checkInputDataTypes instead
  override def dataType: DataType = LongType
  override def prettyName: String = "cosine_milli"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val l = KernelCheck.arrayOf(org.apache.spark.sql.types.FloatType,
      left, "cosine_milli left")
    if (l != org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess) l
    else KernelCheck.arrayOf(org.apache.spark.sql.types.FloatType,
      right, "cosine_milli right")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (ArrayKernels.anyNull(x, y)) null else ArrayKernels.cosineMilli(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => KernelCode.guarded(ev,
      s"graft.functions.ArrayKernels.anyNull($a, $b)",
      s"graft.functions.ArrayKernels.cosineMilli($a, $b)"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineMilli =
    copy(left = newLeft, right = newRight)
}

/** graft's native expressions, in two spellings. The Column builders
  * construct each Catalyst expression directly, so DataFrame code
  * resolves in any session with no registration step. [[natives]] is
  * the SQL spelling, injected by [[graft.GraftExtensions]] for
  * `spark.sql` users; GraftFunctionsSpec pins both spellings to the
  * same expression.
  *
  * One body per kernel: each scalar kernel's loop and null rules are
  * written once, as a Scala method — on a plain object with no
  * companion class ([[ArrayKernels]], [[TextKernels]],
  * [[UnicodeKernels]], [[BloomKernels]]), so generated code can call
  * its static forwarder, or on a reference object
  * ([[SubwordMatcher]]). `nullSafeEval`/`eval` calls that method, and
  * `doGenCode` emits only the call, behind the kernel's null-rule call
  * when it returns a primitive ([[KernelCode]]). No loop is written a
  * second time as Java source text; SourceSweepSpec fails on any
  * `ctx.freshName(` in the main sources. */
object GraftFunctions {
  /** Every native expression under its SQL function name. */
  val natives: Seq[(String, Class[_], Seq[Expression] => Expression)] =
    Seq(
      ("cosine_milli", classOf[CosineMilli],
        es => CosineMilli(es.head, es(1))),
      ("minhash_sig", classOf[MinHashSig],
        es => MinHashSig(es.head, es(1))),
      ("simhash_pack", classOf[SimHashPack],
        es => SimHashPack(es.head)),
      ("dot_double", classOf[DotDouble],
        es => DotDouble(es.head, es(1))),
      ("jaccard_milli", classOf[JaccardMilli],
        es => JaccardMilli(es.head, es(1))),
      ("sorted_intersect_longs", classOf[SortedIntersectLongs],
        es => SortedIntersectLongs(es.head, es(1))),
      ("containment_milli", classOf[ContainmentMilli],
        es => ContainmentMilli(es.head, es(1))),
      ("nearest_centroid_milli", classOf[NearestCentroidMilli],
        es => NearestCentroidMilli(es.head, es(1), es(2), es(3))),
      ("char_codes", classOf[CharCodes],
        es => CharCodes(es.head)),
      ("selenium_text", classOf[SeleniumText],
        es => SeleniumText(es.head)),
      ("rolling_hash", classOf[RollingHash],
        es => RollingHash(es.head)),
      ("cdc_bounds", classOf[CdcBounds],
        es => CdcBounds(es.head, es(1))),
      ("unicode_nfc", classOf[UnicodeNfc],
        es => UnicodeNfc(es.head)),
      ("null_if_sentinel", classOf[NullIfSentinel],
        es => NullIfSentinel(es.head, es(1))),
      ("subword_stats", classOf[SubwordStats],
        es => SubwordStats(es.head, es(1))),
      // aggregates: the analyzer wraps a bare AggregateFunction returned
      // by a registry builder into an AggregateExpression, as [[agg]]
      // does for the Column builders
      ("min_by_obj", classOf[MinByObj],
        es => MinByObj(es.head, es(1))),
      ("max_by_obj", classOf[MinByObj],
        es => MinByObj(es.head, es(1), asc = false)),
      ("bloom_agg", classOf[BloomAgg],
        es => BloomAgg(es.head, es(1), es(2))),
      ("bloom_might_contain", classOf[BloomMightContain],
        es => BloomMightContain(es.head, es(1))))

  private def ex(c: Column): Expression = Internals.expression(c)
  private def native(e: Expression): Column = Internals.column(e)
  private def agg(f: AggregateFunction): Column =
    Internals.column(f.toAggregateExpression())

  def cosineMilli(a: Column, b: Column): Column =
    native(CosineMilli(ex(a), ex(b)))
  def minHashSig(hashes: Column, k: Int): Column =
    native(MinHashSig(ex(hashes), ex(lit(k))))
  def simhashPack(hashes: Column): Column =
    native(SimHashPack(ex(hashes)))
  def dotDouble(a: Column, b: Column): Column =
    native(DotDouble(ex(a), ex(b)))
  def jaccardMilli(a: Column, b: Column): Column =
    native(JaccardMilli(ex(a), ex(b)))
  def sortedIntersectLongs(a: Column, b: Column): Column =
    native(SortedIntersectLongs(ex(a), ex(b)))
  def containmentMilli(a: Column, b: Column): Column =
    native(ContainmentMilli(ex(a), ex(b)))
  def nearestCentroidMilli(qv: Column, centsFlat: Array[Long],
                           cids: Array[Long], dim: Int): Column =
    native(NearestCentroidMilli(ex(qv), ex(lit(centsFlat)),
      ex(lit(cids)), ex(lit(dim))))
  def charCodes(c: Column): Column =
    native(CharCodes(ex(c)))
  def seleniumText(c: Column): Column =
    native(SeleniumText(ex(c)))
  def rollingHash(codes: Column): Column =
    native(RollingHash(ex(codes)))
  def cdcBounds(codes: Column, mask: Int = 64): Column =
    native(CdcBounds(ex(codes), ex(lit(mask))))
  def unicodeNfc(c: Column): Column =
    native(UnicodeNfc(ex(c)))
  def nullIfSentinel(c: Column, sentinels: Seq[String]): Column =
    native(NullIfSentinel(ex(c), ex(typedLit(sentinels))))
  def subwordStats(text: Column, vocab: Seq[String]): Column =
    native(SubwordStats(ex(text), ex(array(vocab.map(lit): _*))))
  def minByObj(value: Column, ord: Column): Column =
    agg(MinByObj(ex(value), ex(ord)))
  def maxByObj(value: Column, ord: Column): Column =
    agg(MinByObj(ex(value), ex(ord), asc = false))
  def bloomAgg(key: Column, numBits: Int, numHashes: Int): Column =
    agg(BloomAgg(ex(key), ex(lit(numBits)), ex(lit(numHashes))))
  def bloomMightContain(bloom: Column, key: Column): Column =
    native(BloomMightContain(ex(bloom), ex(key)))
}
