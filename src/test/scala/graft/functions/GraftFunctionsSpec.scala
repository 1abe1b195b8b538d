package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{AnalysisException, Column}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Complete}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Internals
import org.apache.spark.sql.types._

/** The [[GraftFunctions]] Column builders construct their Catalyst
  * expressions directly: they resolve in a session nobody registered
  * the SQL names into, and they build exactly the expression that the
  * SQL spelling ([[GraftFunctions.natives]], injected by
  * [[graft.GraftExtensions]]) builds from the same arguments. */
class GraftFunctionsSpec extends SparkSpec {

  test("every Column builder evaluates on an unregistered session") {
    val fresh = spark.newSession()
    val registry = fresh.sessionState.functionRegistry
    GraftFunctions.natives.foreach { case (name, _, _) =>
      assert(!registry.functionExists(FunctionIdentifier(name)), name)
    }
    intercept[AnalysisException] {
      fresh.sql("SELECT char_codes('abc')").collect()
    }
    def floats(xs: Float*): Column = array(xs.map(lit): _*)
    def longs(xs: Long*): Column = array(xs.map(lit): _*)
    def strs(xs: String*): Column = array(xs.map(lit): _*)
    val abc = GraftFunctions.charCodes(lit("abc"))
    val r = fresh.range(1).select(
      GraftFunctions.cosineMilli(floats(3f, 4f), floats(4f, 3f)),
      GraftFunctions.minHashSig(longs(7L), 2),
      GraftFunctions.simhashPack(longs(5L)),
      GraftFunctions.dotDouble(floats(1f, 2f), floats(3f, 4f)),
      GraftFunctions.jaccardMilli(strs("a", "b", "c"), strs("b", "c", "d")),
      GraftFunctions.sortedIntersectLongs(longs(1, 3, 5, 7), longs(3, 4, 5)),
      GraftFunctions.containmentMilli(strs("a", "b", "c", "d"), strs("b")),
      GraftFunctions.nearestCentroidMilli(longs(0, 0),
        Array(3L, 4L, 1L, 1L), Array(10L, 20L), 2),
      abc,
      GraftFunctions.seleniumText(lit("<p>a&amp;b<br/>c</p>")),
      GraftFunctions.rollingHash(abc),
      GraftFunctions.cdcBounds(GraftFunctions.charCodes(lit("abcdefghij")), 1),
      GraftFunctions.unicodeNfc(lit("e\u0301")),
      GraftFunctions.subwordStats(lit("the cat"), Seq("the", "at", " ", "c")),
      GraftFunctions.nullIfSentinel(lit("None"), Seq("None", "")),
      GraftFunctions.nullIfSentinel(lit("none"), Seq("None", ""))
    ).collect().head
    assert(r.getLong(0) == 960L) // 24 / (5 · 5)
    val h7 = XXH64.hashLong(7L, 42)
    assert(r.getSeq[Long](1) == Seq(XXH64.hashInt(0, h7), XXH64.hashInt(1, h7)))
    // bits 0 and 2 of 5 win the vote, packed MSB-first
    assert(r.getLong(2) == ((1L << 63) | (1L << 61)))
    assert(r.getDouble(3) == 11.0)
    assert(r.getLong(4) == 500L) // |{b,c}| / |{a,b,c,d}|
    assert(r.getSeq[Long](5) == Seq(3L, 5L))
    assert(r.getLong(6) == 250L) // |{b}| / |{a,b,c,d}|
    // d(0, (3,4)) = 25 > d(0, (1,1)) = 2
    assert((r.getStruct(7).getLong(0), r.getStruct(7).getLong(1)) == (2L, 20L))
    assert(r.getSeq[Int](8) == Seq(97, 98, 99))
    assert(r.getString(9) == "a&b\nc")
    assert(r.getLong(10) ==
      ((97L * 257 + 98) % 1000000007L * 257 + 99) % 1000000007L)
    // mask 1 cuts after every position >= 8; n is appended again
    assert(r.getSeq[Int](11) == Seq(0, 8, 9, 10, 10))
    assert(r.getString(12) == "\u00e9")
    assert(r.getSeq[Int](13) == Seq(4, 0)) // the | ' ' | c | at
    assert(r.isNullAt(14) && r.getString(15) == "none")

    import fresh.implicits._
    val kv = Seq(("a", 3L, 5L), ("b", 1L, 9L), ("c", 2L, 5L))
      .toDF("v", "o", "k")
    val agg = kv.agg(
      GraftFunctions.minByObj(col("v"), col("o")),
      GraftFunctions.maxByObj(col("v"), col("o")),
      GraftFunctions.bloomAgg(col("k"), 1024, 3)).head()
    assert(agg.getString(0) == "b")
    assert(agg.getString(1) == "a")
    val words = BloomKernels.create(1024, 3)
    Seq(5L, 9L).foreach(BloomKernels.insert(words, 3, _))
    val bloom = BloomKernels.serialize(words, 3)
    assert(agg.getAs[Array[Byte]](2).toSeq == bloom.toSeq)
    val probed = fresh.range(1).select(
      GraftFunctions.bloomMightContain(lit(bloom), lit(5L)),
      GraftFunctions.bloomMightContain(lit(bloom), lit(12345L))).head()
    assert(probed.getBoolean(0))
    assert(probed.getBoolean(1) == BloomKernels.mightContain(bloom, 12345L))
  }

  test("each SQL spelling and its Column builder build the same " +
      "expression from the same arguments") {
    def attr(name: String, t: DataType): AttributeReference =
      AttributeReference(name, t)()
    def c(e: Expression): Column = Internals.column(e)
    def ex(column: Column): Expression = Internals.expression(column)
    val fa = attr("fa", ArrayType(FloatType))
    val fb = attr("fb", ArrayType(FloatType))
    val la = attr("la", ArrayType(LongType))
    val lb = attr("lb", ArrayType(LongType))
    val sa = attr("sa", ArrayType(StringType))
    val sb = attr("sb", ArrayType(StringType))
    val ia = attr("ia", ArrayType(IntegerType))
    val s = attr("s", StringType)
    val k = attr("k", LongType)
    val o = attr("o", LongType)
    val bin = attr("bin", BinaryType)
    // SQL name -> (arguments for the natives builder, Column builder)
    val cases: Map[String, (Seq[Expression], Column)] = Map(
      "cosine_milli" -> (Seq(fa, fb), GraftFunctions.cosineMilli(c(fa), c(fb))),
      "minhash_sig" -> (Seq(la, ex(lit(4))), GraftFunctions.minHashSig(c(la), 4)),
      "simhash_pack" -> (Seq(la), GraftFunctions.simhashPack(c(la))),
      "dot_double" -> (Seq(fa, fb), GraftFunctions.dotDouble(c(fa), c(fb))),
      "jaccard_milli" ->
        (Seq(sa, sb), GraftFunctions.jaccardMilli(c(sa), c(sb))),
      "sorted_intersect_longs" ->
        (Seq(la, lb), GraftFunctions.sortedIntersectLongs(c(la), c(lb))),
      "containment_milli" ->
        (Seq(sa, sb), GraftFunctions.containmentMilli(c(sa), c(sb))),
      "nearest_centroid_milli" ->
        (Seq(la, ex(lit(Array(3L, 4L))), ex(lit(Array(10L))), ex(lit(2))),
          GraftFunctions.nearestCentroidMilli(c(la), Array(3L, 4L),
            Array(10L), 2)),
      "char_codes" -> (Seq(s), GraftFunctions.charCodes(c(s))),
      "selenium_text" -> (Seq(s), GraftFunctions.seleniumText(c(s))),
      "rolling_hash" -> (Seq(ia), GraftFunctions.rollingHash(c(ia))),
      "cdc_bounds" -> (Seq(ia, ex(lit(16))), GraftFunctions.cdcBounds(c(ia), 16)),
      "unicode_nfc" -> (Seq(s), GraftFunctions.unicodeNfc(c(s))),
      "null_if_sentinel" -> (Seq(s, ex(typedLit(Seq("None", "")))),
        GraftFunctions.nullIfSentinel(c(s), Seq("None", ""))),
      "subword_stats" -> (Seq(s, ex(array(lit("ab"), lit("c")))),
        GraftFunctions.subwordStats(c(s), Seq("ab", "c"))),
      "min_by_obj" -> (Seq(s, o), GraftFunctions.minByObj(c(s), c(o))),
      "max_by_obj" -> (Seq(s, o), GraftFunctions.maxByObj(c(s), c(o))),
      "bloom_agg" -> (Seq(k, ex(lit(1024)), ex(lit(3))),
        GraftFunctions.bloomAgg(c(k), 1024, 3)),
      "bloom_might_contain" ->
        (Seq(bin, k), GraftFunctions.bloomMightContain(c(bin), c(k))))
    assert(cases.keySet == GraftFunctions.natives.map(_._1).toSet)
    // literal arguments stay Column nodes until analysis, so both
    // spellings are compared as the analyzer resolves them
    val rel = Internals.ofRows(spark,
      LocalRelation(Seq(fa, fb, la, lb, sa, sb, ia, s, k, o, bin)))
    def resolved(column: Column): Expression =
      rel.select(column.as("x")).queryExecution.analyzed.expressions.head
        .asInstanceOf[Alias].child match {
          case AggregateExpression(f, Complete, false, None, _) => f
          case e => e
        }
    GraftFunctions.natives.foreach { case (name, cls, builder) =>
      val (args, column) = cases(name)
      val sql = builder(args)
      assert(sql.getClass == cls, name)
      // the analyzer wraps a registry-built aggregate function this way
      val sqlColumn = sql match {
        case f: AggregateFunction => c(f.toAggregateExpression())
        case e => c(e)
      }
      val (a, b) = (resolved(sqlColumn), resolved(column))
      assert(a.semanticEquals(b), s"$name: $a vs $b")
    }
  }
}
