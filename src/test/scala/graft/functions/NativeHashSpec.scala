package graft.functions

import graft.SparkSpec
import graft.ops.Similarity
import org.apache.spark.sql.functions._

/** Bit-compatibility contract of the native hash kernels: each codegen
  * expression must reproduce its interpreted HOF twin EXACTLY — the
  * LSH/simhash correctness gates depend on signatures, buckets, and
  * dot signs being identical between the two forms. */
class NativeHashSpec extends SparkSpec {
  import spark.implicits._

  private def texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "pack my box with five dozen liquor jugs",
    "a b", "singleword",
    "the quick brown fox jumps over the lazy cat"
  ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")

  test("minhash_sig equals the HOF minHashFromHashes, all k seeds") {
    val hashed = texts.select(col("id"),
      transform(split(col("text"), " "), t => xxhash64(t)).as("h"))
    val rows = hashed.select(col("id"),
        Similarity.minHashFromHashes(col("h"), 32).as("hof"),
        GraftFunctions.minHashSig(col("h"), 32).as("native"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"signature mismatch for id=${r.getLong(0)}")
    }
  }

  test("simhash_pack equals the HOF simhash64") {
    val rows = texts.select(col("id"),
        Similarity.simhash64(col("text")).as("hof"),
        Similarity.simhash64Fast(col("text")).as("native"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"simhash mismatch for id=${r.getLong(0)}")
    }
  }

  test("dot_double equals the HOF dotDouble bit-for-bit") {
    val vecs = Seq(
      (1L, Array(0.5f, -1.25f, 3.75f, 0.001f),
        Array(2.0f, 0.25f, -0.5f, 10.0f)),
      (2L, Array(1e-8f, 1e8f, -1e-8f, -1e8f),
        Array(1e8f, 1e-8f, 1e8f, 1e-8f))
    ).toDF("id", "a", "b")
    val rows = vecs.select(
        Similarity.dotDouble(col("a"), col("b")).as("hof"),
        GraftFunctions.dotDouble(col("a"), col("b")).as("native"))
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("char_codes equals split+ascii HOF incl. CJK and emoji") {
    val docs = Seq(
      (1L, "plain ascii text"),
      (2L, "tabs\tand\nnewlines"),
      (3L, "中文字符 mixed with ascii"),
      (4L, "emoji 😀 beyond the BMP"),
      (5L, "")
    ).toDF("id", "text")
    val rows = docs.select(col("id"),
        graft.ops.TextOps.charCodes(col("text")).as("hof"),
        GraftFunctions.charCodes(col("text")).as("native"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2),
        s"char codes mismatch for id=${r.getLong(0)}")
    }
  }

  test("rolling_hash and cdc_bounds equal their HOF twins") {
    // include a doc engineered long enough to have several cuts, and a
    // short one below the 8-char window
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog " * 20),
      (2L, "short"),
      (3L, "exactly8"),
      (4L, "a slightly longer line with punctuation, numbers 123 and CASE.")
    ).toDF("id", "text")
    val rows = docs.select(col("id"),
        graft.ops.TextOps.rollingHash(col("text")).as("rh_hof"),
        GraftFunctions.rollingHash(
          GraftFunctions.charCodes(col("text"))).as("rh_native"),
        graft.ops.TextOps.cdcBounds(
          graft.ops.TextOps.charCodes(col("text"))).as("cb_hof"),
        GraftFunctions.cdcBounds(
          GraftFunctions.charCodes(col("text"))).as("cb_native"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"rolling hash mismatch for id=${r.getLong(0)}")
      assert(r.getSeq[Int](3) == r.getSeq[Int](4),
        s"cdc bounds mismatch for id=${r.getLong(0)}")
    }
  }

  test("null array elements null-poison every kernel (codegen path)") {
    // arrays built from a column so nothing constant-folds — this
    // exercises the GENERATED code's isNullAt branch
    val r = spark.range(1).selectExpr(
        "array(id, CAST(NULL AS BIGINT)) AS hs",
        "array(CAST(id AS FLOAT), CAST(NULL AS FLOAT)) AS fa",
        "array(CAST(id AS INT), CAST(NULL AS INT)) AS codes")
      .select(
        GraftFunctions.minHashSig(col("hs"), 4).as("ms"),
        GraftFunctions.simhashPack(col("hs")).as("sp"),
        GraftFunctions.dotDouble(col("fa"), col("fa")).as("dd"),
        GraftFunctions.cosineMilli(col("fa"), col("fa")).as("cm"),
        GraftFunctions.rollingHash(col("codes")).as("rh"),
        GraftFunctions.cdcBounds(col("codes"), 64).as("cb"))
      .collect().head
    (0 until 6).foreach { i =>
      assert(r.isNullAt(i), s"column $i should null-poison")
    }
  }

  test("null array elements null-poison every kernel (interpreted eval)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    val longs = Literal.create(
      new GenericArrayData(Array[Any](123L, null)), ArrayType(LongType))
    val floats = Literal.create(
      new GenericArrayData(Array[Any](1.0f, null)), ArrayType(FloatType))
    val ints = Literal.create(
      new GenericArrayData(Array[Any](97, null)), ArrayType(IntegerType))
    assert(MinHashSig(longs, Literal(4)).eval(null) == null)
    assert(SimHashPack(longs).eval(null) == null)
    assert(DotDouble(floats, floats).eval(null) == null)
    assert(CosineMilli(floats, floats).eval(null) == null)
    assert(RollingHash(ints).eval(null) == null)
    assert(CdcBounds(ints, Literal(64)).eval(null) == null)
  }

  test("kernels agree between interpreted eval and codegen paths") {
    // force the interpreted path by eval'ing the expressions directly
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.catalyst.expressions.Literal
    val hs = ArrayData.toArrayData(Array(123L, -77L, Long.MaxValue, 0L))
    val sig = MinHashSig(Literal(hs,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)), Literal(8))
      .eval(null).asInstanceOf[ArrayData]
    assert(sig.numElements() == 8)
    val packed = SimHashPack(Literal(hs,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)))
      .eval(null)
    assert(packed.isInstanceOf[Long])
  }
}
