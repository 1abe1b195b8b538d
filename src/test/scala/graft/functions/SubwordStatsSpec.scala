package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SubwordStatsSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Seq("tion", "the", "and", "ing",
    "er", "an", "at", " ") ++ ('a' to 'z').map(_.toString)

  private def statsOf(texts: Seq[(Long, String)]): Map[Long, Seq[Int]] = {
    texts.toDF("id", "text")
      .select(col("id"),
        GraftFunctions.subwordStats(col("text"), vocab).as("sw"))
      .collect()
      .map(r => r.getLong(0) ->
        Option(r.getSeq[Int](1)).map(_.toList).orNull)
      .toMap.asInstanceOf[Map[Long, Seq[Int]]]
  }

  test("greedy longest match: hand-computed tokenizations") {
    val out = statsOf(Seq(
      (1L, "the cat"),   // the | ' ' | c | at            -> 4 tokens
      (2L, "The cat!"),  // T? h e ' ' c at !?            -> 7 tokens, 2 unk
      (3L, "")))         // empty -> 0 tokens
    assert(out(1L) == Seq(4, 0))
    assert(out(2L) == Seq(7, 2))
    assert(out(3L) == Seq(0, 0))
  }

  test("longest match wins over shorter prefixes") {
    // "tion" must beat "ti"; "ing" must beat "in"/"i"
    val out = statsOf(Seq((1L, "tioning")))
    // tion | ing -> 2 tokens
    assert(out(1L) == Seq(2, 0))
  }

  test("null text yields null stats; interpreted eval agrees with the " +
      "codegen path") {
    val out = statsOf(Seq((1L, null)))
    assert(out(1L) == null)
    // interpreted: eval the expression directly with Literals
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val vocabLit = Literal(
      ArrayData.toArrayData(vocab.map(UTF8String.fromString).toArray),
      ArrayType(StringType))
    val got = SubwordStats(Literal(UTF8String.fromString("The cat!"),
        StringType), vocabLit)
      .eval(null).asInstanceOf[ArrayData]
    assert(got.toIntArray().toSeq == Seq(7, 2))
  }

  test("fuzz: kernel agrees with an independent greedy reference on " +
      "300 seeded random strings; count invariants hold") {
    val rnd = new scala.util.Random(20260814L)
    val alphabet = "abcdefghijklmnopqrstuvwxyz THE!0"
    // independent reference: scan vocab list per position, no hash sets
    def reference(s: String): (Int, Int) = {
      var pos = 0; var nTok = 0; var nUnk = 0
      while (pos < s.length) {
        val ms = vocab.filter(v =>
          v.length <= s.length - pos && s.startsWith(v, pos))
        if (ms.isEmpty) { nUnk += 1; pos += 1 }
        else pos += ms.map(_.length).max
        nTok += 1
      }
      (nTok, nUnk)
    }
    val texts = (0 until 300).map { i =>
      val l = rnd.nextInt(80)
      (i.toLong, Seq.fill(l)(alphabet(rnd.nextInt(alphabet.length)))
        .mkString)
    }
    val got = statsOf(texts)
    texts.foreach { case (id, t) =>
      val (wTok, wUnk) = reference(t)
      assert(got(id) == Seq(wTok, wUnk), s"string $id: '$t'")
      assert(wUnk <= wTok && wTok <= t.length)
    }
  }

  // the non-foldable-vocab case has no Column spelling (the builder
  // takes a Seq[String]); GraftExtensionsSpec covers it through SQL
  test("vocab must be a foldable non-empty string array") {
    val df = Seq((1L, "x")).toDF("id", "text")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(GraftFunctions.subwordStats(col("text"), Nil)).collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      // empty-string entry must fail ANALYSIS, not per-row mid-job
      df.select(GraftFunctions.subwordStats(col("text"), Seq("a", "")))
        .collect()
    }
  }
}
