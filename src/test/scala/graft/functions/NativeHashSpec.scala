package graft.functions

import graft.SparkSpec
import graft.ops.Similarity
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Bit-compatibility contract of the native hash kernels: each codegen
  * expression must reproduce its interpreted HOF twin EXACTLY — the
  * LSH/simhash correctness gates depend on signatures, buckets, and
  * dot signs being identical between the two forms. */
class NativeHashSpec extends SparkSpec {
  import spark.implicits._

  /** A session whose plans run only as generated code (`true`: whole-
    * stage codegen, generated projections) or only interpreted
    * (`false`), with no fallback from one to the other. */
  private def session(codegen: Boolean) = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
    s.conf.set("spark.sql.codegen.factoryMode",
      if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
    s.conf.set("spark.sql.codegen.fallback", "false")
    s
  }

  private def texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "pack my box with five dozen liquor jugs",
    "a b", "singleword",
    "the quick brown fox jumps over the lazy cat"
  ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")

  /** k MinHash values derived from PRE-HASHED shingle longs as
    * interpreted HOFs — each seed re-mixes every 8-byte long — the
    * reference the native `minhash_sig` kernel must reproduce. */
  private def minHashFromHashes(shingleHashes: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)), j =>
      array_min(transform(shingleHashes, h => xxhash64(h, j))))

  test("minhash_sig equals the HOF minHashFromHashes, all k seeds") {
    val hashed = texts.select(col("id"),
      transform(split(col("text"), " "), t => xxhash64(t)).as("h"))
    val rows = hashed.select(col("id"),
        minHashFromHashes(col("h"), 32).as("hof"),
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
    // exercises the GENERATED code's null rules; the last three columns
    // are the empty-set and wrong-length rules
    val r = session(codegen = true).range(1).selectExpr(
        "array(id, CAST(NULL AS BIGINT)) AS hs",
        "array(CAST(id AS FLOAT), CAST(NULL AS FLOAT)) AS fa",
        "array(CAST(id AS INT), CAST(NULL AS INT)) AS codes",
        "array(CAST(id AS STRING), CAST(NULL AS STRING)) AS ss",
        "array(CAST(id AS STRING)) AS one",
        "array(id, id) AS pair",
        "array_remove(array(CAST(id AS STRING)), CAST(id AS STRING)) AS empty")
      .select(
        GraftFunctions.minHashSig(col("hs"), 4).as("ms"),
        GraftFunctions.simhashPack(col("hs")).as("sp"),
        GraftFunctions.dotDouble(col("fa"), col("fa")).as("dd"),
        GraftFunctions.cosineMilli(col("fa"), col("fa")).as("cm"),
        GraftFunctions.rollingHash(col("codes")).as("rh"),
        GraftFunctions.cdcBounds(col("codes"), 64).as("cb"),
        GraftFunctions.jaccardMilli(col("ss"), col("one")).as("jm"),
        GraftFunctions.containmentMilli(col("one"), col("ss")).as("cn"),
        GraftFunctions.nearestCentroidMilli(col("hs"),
          Array(0L, 0L, 1L, 1L), Array(0L, 1L), 2).as("nc"),
        GraftFunctions.jaccardMilli(col("empty"), col("empty")).as("j0"),
        GraftFunctions.containmentMilli(col("empty"), col("one")).as("c0"),
        GraftFunctions.nearestCentroidMilli(col("pair"),
          Array(0L, 0L, 1L, 1L, 2L, 2L), Array(0L), 6).as("nd"))
      .collect().head
    (0 until 12).foreach { i =>
      assert(r.isNullAt(i), s"column $i should be null")
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
    def strs(xs: String*) = Literal.create(new GenericArrayData(
      xs.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any]),
      ArrayType(StringType))
    def codebook(xs: Long*) = Literal.create(
      new GenericArrayData(xs.toArray[Any]), ArrayType(LongType))
    assert(MinHashSig(longs, Literal(4)).eval(null) == null)
    assert(SimHashPack(longs).eval(null) == null)
    assert(DotDouble(floats, floats).eval(null) == null)
    assert(CosineMilli(floats, floats).eval(null) == null)
    assert(RollingHash(ints).eval(null) == null)
    assert(CdcBounds(ints, Literal(64)).eval(null) == null)
    assert(JaccardMilli(strs("a", null), strs("a")).eval(null) == null)
    assert(ContainmentMilli(strs("a"), strs("a", null)).eval(null) == null)
    assert(NearestCentroidMilli(longs, codebook(0L, 0L, 1L, 1L),
      codebook(0L, 1L), Literal(2)).eval(null) == null)
    // empty-set and wrong-length rules
    assert(JaccardMilli(strs(), strs()).eval(null) == null)
    assert(ContainmentMilli(strs(), strs("a")).eval(null) == null)
    assert(NearestCentroidMilli(codebook(1L, 2L),
      codebook(0L, 0L, 1L, 1L, 2L, 2L),
      codebook(0L), Literal(6)).eval(null) == null)
  }

  test("kernels agree between interpreted eval and codegen paths") {
    // one non-trivial input per kernel, built from a column so nothing
    // constant-folds, run once as generated code and once interpreted
    def kernels(s: org.apache.spark.sql.SparkSession) =
      s.range(1).selectExpr(
          "array(id + 123, id - 77, id + 9223372036854775807, id) AS hs",
          "array(concat('a', id), concat('b', id), concat('c', id), " +
            "concat('a', id)) AS sa",
          "array(concat('b', id), concat('c', id), concat('d', id)) AS sb",
          "array(CAST(id + 0.5 AS FLOAT), CAST(id - 1.25 AS FLOAT), " +
            "CAST(id + 3.75 AS FLOAT)) AS fa",
          "array(CAST(id + 2 AS FLOAT), CAST(id + 0.25 AS FLOAT), " +
            "CAST(id - 0.5 AS FLOAT)) AS fb",
          "array(id + 1, id + 3, id + 5, id + 8) AS la",
          "array(id + 3, id + 4, id + 8) AS lb",
          "array(id + 1, id - 2) AS qv")
        .select(
          GraftFunctions.jaccardMilli(col("sa"), col("sb")),
          GraftFunctions.containmentMilli(col("sa"), col("sb")),
          GraftFunctions.cosineMilli(col("fa"), col("fb")),
          GraftFunctions.dotDouble(col("fa"), col("fb")),
          GraftFunctions.minHashSig(col("hs"), 8),
          GraftFunctions.simhashPack(col("hs")),
          GraftFunctions.sortedIntersectLongs(col("la"), col("lb")),
          GraftFunctions.nearestCentroidMilli(col("qv"),
            Array(0L, 0L, 2L, -2L, 5L, 5L), Array(3L, 7L, 9L), 2))
        .collect().head
    val generated = kernels(session(codegen = true))
    val interpreted = kernels(session(codegen = false))
    assert(generated === interpreted)
    assert(!generated.anyNull, generated)
    assert(generated.getLong(0) == 400L) // |{b,c}| / (4 + 3 − 2)
    assert(generated.getLong(1) == 500L) // |{b,c}| / 4
    assert(generated.getSeq[Long](4).length == 8)
    assert(generated.getSeq[Long](6) == Seq(3L, 8L))
    assert(generated.getStruct(7) == org.apache.spark.sql.Row(1L, 7L))
    // the codebook checks fire on both paths
    for (codegen <- Seq(true, false); (cids, msg) <- Seq(
        (Array(7L, 3L, 9L), "strictly ascending"),
        (Array(3L, 7L), "do not tile"))) {
      val e = intercept[Exception] {
        session(codegen).range(1).select(GraftFunctions.nearestCentroidMilli(
            array(col("id"), col("id")), Array(0L, 0L, 2L, -2L, 5L, 5L),
            cids, 2))
          .collect()
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains(msg)),
        s"codegen=$codegen: $e")
    }
  }

  test("null_if_sentinel agrees between interpreted eval and codegen: " +
      "null and exact sentinels map to null, near-misses pass through") {
    val values = Seq(null, "None", "", "none", " None", "plain")
    def cleaned(s: org.apache.spark.sql.SparkSession) =
      s.range(values.size).select(col("id"),
          // built from a column so nothing constant-folds
          element_at(typedLit(values), (col("id") + 1).cast("int"))
            .as("v"))
        .select(GraftFunctions.nullIfSentinel(col("v"), Seq("None", "")))
        .collect().map(_.getString(0)).toSeq
    val generated = cleaned(session(codegen = true))
    assert(generated === cleaned(session(codegen = false)))
    assert(generated === Seq(null, null, null, "none", " None", "plain"))
  }

  test("null_if_sentinel over a foldable input constant-folds to the " +
      "value it computes per row") {
    val df = spark.range(1).select(
      GraftFunctions.nullIfSentinel(lit("None"), Seq("None", "")),
      GraftFunctions.nullIfSentinel(lit("plain"), Seq("None", "")))
    val folded = df.queryExecution.optimizedPlan.expressions
    assert(!folded.exists(_.exists(_.isInstanceOf[NullIfSentinel])), folded)
    val r = df.collect().head
    assert(r.isNullAt(0) && r.getString(1) == "plain")
  }
}
