package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Bloom-filter runtime join pruning — the standard 100 TB technique
  * for cutting shuffle volume on a selective join: aggregate the SMALL
  * side's join keys into a fixed-size bit array, ship it to every
  * scan task of the BIG side (a literal/broadcast, a few KB-MB), and
  * drop non-matching rows BEFORE they reach the exchange. False
  * positives only — the join afterwards re-checks equality, so the
  * composition is semantically identical to the plain join (which is
  * exactly what the DuckDB oracle asserts). Catalyst's own
  * InjectRuntimeFilter applies the same idea automatically but only
  * under its own thresholds/shapes; this exposes it as a first-class,
  * deterministic operator.
  *
  * Sketch format (self-describing, engine-portable): big-endian
  * [numHashes:int32][words:int64...]; numBits = 64·numWords.
  *
  * Hashing: double hashing h_i = h1 + i·h2 over two independent
  * xxhash64 seeds of the key long — the classic Kirsch-Mitzenmacher
  * construction (i.e. k bit positions from 2 hash evaluations) with
  * deterministic cross-JVM output. */
object BloomKernels {

  def create(numBitsRequested: Int, numHashes: Int): Array[Long] =
    new Array[Long]((numBitsRequested + 63) / 64)

  private def h1(v: Long): Long = XXH64.hashLong(v, 0x51_7c_c1_b7L)
  private def h2(v: Long): Long = XXH64.hashLong(v, 0x27_22_0a_95L)

  def insert(words: Array[Long], numHashes: Int, v: Long): Unit = {
    val bits = words.length.toLong * 64
    val a = h1(v); val b = h2(v)
    var i = 0
    while (i < numHashes) {
      val bit = java.lang.Long.remainderUnsigned(a + i * b, bits)
      words((bit >>> 6).toInt) |= 1L << (bit & 63)
      i += 1
    }
  }

  def serialize(words: Array[Long], numHashes: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + words.length * 8)
    bb.putInt(numHashes)
    var i = 0
    while (i < words.length) { bb.putLong(words(i)); i += 1 }
    bb.array()
  }

  def deserializeWords(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    bb.getInt() // numHashes
    val words = new Array[Long]((bytes.length - 4) / 8)
    var i = 0
    while (i < words.length) { words(i) = bb.getLong(); i += 1 }
    words
  }

  /** Membership test straight off the serialized bytes — no
    * deserialization per row. */
  def mightContain(bytes: Array[Byte], v: Long): Boolean = {
    val k = ((bytes(0) & 0xFF) << 24) | ((bytes(1) & 0xFF) << 16) |
      ((bytes(2) & 0xFF) << 8) | (bytes(3) & 0xFF)
    val bits = (bytes.length - 4).toLong * 8
    val a = h1(v); val b = h2(v)
    var i = 0
    while (i < k) {
      val bit = java.lang.Long.remainderUnsigned(a + i * b, bits)
      val byteIdx = 4 + (bit >>> 6).toInt * 8
      // big-endian long: bit j of word w lives in byte 7 - j/8
      val w = bit & 63
      val theByte = bytes(byteIdx + (7 - (w >>> 3)).toInt)
      if (((theByte >>> (w & 7)) & 1) == 0) return false
      i += 1
    }
    true
  }
}

/** `bloom_agg(keyLong, numBits, numHashes)`: aggregate long join keys
  * (pre-hash wider types with `xxhash64`) into a serialized Bloom
  * filter. Partial-aggregable: merge is bitwise OR, commutative and
  * associative, so map-side combine applies and the result is
  * partitioning-independent. Null keys are skipped (a null never
  * equi-joins, so pruning it is exact). */
case class BloomAgg(
    child: Expression,
    numBitsExpr: Expression,
    numHashesExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private lazy val numBits: Int =
    numBitsExpr.eval(null).asInstanceOf[Number].intValue
  private lazy val numHashes: Int =
    numHashesExpr.eval(null).asInstanceOf[Number].intValue

  override def children: Seq[Expression] =
    Seq(child, numBitsExpr, numHashesExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "bloom_agg"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_agg key must be bigint (pre-hash with xxhash64), got " +
          child.dataType.simpleString)
    else {
      val b = KernelCheck.foldablePosInt(numBitsExpr, "bloom_agg numBits")
      if (b != TypeCheckResult.TypeCheckSuccess) b
      else KernelCheck.foldablePosInt(numHashesExpr, "bloom_agg numHashes")
    }

  override def createAggregationBuffer(): Array[Long] =
    BloomKernels.create(numBits, numHashes)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      BloomKernels.insert(buf, numHashes, v.asInstanceOf[Long])
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) |= b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any =
    BloomKernels.serialize(buf, numHashes)

  override def serialize(buf: Array[Long]): Array[Byte] =
    BloomKernels.serialize(buf, numHashes)

  override def deserialize(bytes: Array[Byte]): Array[Long] =
    BloomKernels.deserializeWords(bytes)

  override def withNewMutableAggBufferOffset(offset: Int): BloomAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BloomAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomAgg =
    copy(child = newChildren(0), numBitsExpr = newChildren(1),
      numHashesExpr = newChildren(2))
}

/** `bloom_might_contain(bloomBytes, keyLong)`: membership test against
  * a serialized [[BloomAgg]] sketch. The bloom side is normally a
  * LITERAL (collected once on the driver, a few KB), so codegen folds
  * it into the scan-side filter and whole-stage-compiles the per-row
  * test — the generated code is a single static kernel call. */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        "bloom_might_contain filter must be binary (a bloom_agg result)")
    else if (right.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        "bloom_might_contain key must be bigint, got " +
          right.dataType.simpleString)
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(bloom: Any, v: Any): Any =
    BloomKernels.mightContain(bloom.asInstanceOf[Array[Byte]],
      v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, v) =>
      s"${ev.value} = graft.functions.BloomKernels.mightContain($b, $v);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
}
