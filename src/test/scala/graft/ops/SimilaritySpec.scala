package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("jaccardMilli exact on distinct arrays") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val j = df.select(Similarity.jaccardMilli(col("x"), col("y")))
      .collect().head.getLong(0)
    assert(j == 500) // 2 / 4
  }

  test("jaccardMilli kernel ≡ built-in form, duplicates and " +
      "empties included") {
    val rnd = new scala.util.Random(7)
    val vocab = ('a' to 'j').map(_.toString)
    val cases = Seq.fill(200)(
      (Seq.fill(rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))),
       Seq.fill(rnd.nextInt(8) + 1)(vocab(rnd.nextInt(vocab.size))))
    ) ++ Seq(
      (Seq("a", "a", "b"), Seq("a", "c")), // duplicates in one side
      (Seq("x"), Seq("y")),                // disjoint
      (Seq("x", "y"), Seq("x", "y")))      // identical
    val df = cases.toDF("x", "y")
    val rows = df.select(
      Similarity.jaccardMilli(col("x"), col("y")).as("builtin"),
      graft.functions.GraftFunctions.jaccardMilli(col("x"), col("y"))
        .as("kernel"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1) &&
        (r.isNullAt(0) || r.getLong(0) == r.getLong(1)),
        s"kernel diverged: $r")
    }
  }

  test("containmentPairs keeps the half-up rounding boundary pair at " +
      "n=2000 (prefix sized from the ROUNDED filter bound)") {
    // a has 2000 distinct shingles, exactly 1799 of them in the larger
    // b: containment_milli = floor(1000*1799/2000 + 0.5) = 900 — the
    // verify (and the all-pairs oracle) ADMIT the pair. a's 201 rarest
    // tokens (f=1, only in a) are precisely the ones b lacks, so a
    // prefix sized from the un-rounded bound ceil(0.9*2000) = 1800
    // (plen 201) would never collide with b and silently drop the
    // pair; the rounded bound ceil(1799*2000/2000) = 1799 (plen 202)
    // reaches the first shared token.
    val aSh = (0 until 2000).map(j => f"s_$j%04d")
    val bSh = (201 until 2000).map(j => f"s_$j%04d") ++
      (0 until 300).map(j => f"x_$j%04d")
    val df = Seq((1L, aSh), (2L, bSh)).toDF("id", "shingles")
    val got = Similarity.containmentPairs(df, thresholdMilli = 900)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got == Seq((1L, 2L, 900L)))
  }

  test("setSimilarityPairsExact keeps the half-up rounding boundary " +
      "pair the un-rounded length filter would reject") {
    // a (2000 shingles) fully inside b (2501): J = 2000/2501 = 0.7997,
    // jaccard_milli = floor(799.68 + 0.5) = 800 — admitted by the
    // verify and the all-pairs oracle. The un-rounded length filter
    // (min·1000 >= max·t: 2,000,000 >= 2,000,800) rejects the pair
    // before candidates; the rounded form (min·(1999+2t) >=
    // (2t−1)·(sum): 7,198,000 >= 7,197,099) keeps it.
    val aSh = (0 until 2000).map(j => f"s_$j%04d")
    val bSh = aSh ++ (0 until 501).map(j => f"x_$j%04d")
    val df = Seq((1L, aSh), (2L, bSh)).toDF("id", "shingles")
    val got = Similarity.setSimilarityPairsExact(df, thresholdMilli = 800)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got == Seq((1L, 2L, 800L)))
  }

  test("containmentMilli kernel ≡ built-in form, duplicates and " +
      "empties included") {
    val rnd = new scala.util.Random(11)
    val vocab = ('a' to 'j').map(_.toString)
    val cases = Seq.fill(200)(
      (Seq.fill(rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))),
       Seq.fill(rnd.nextInt(8) + 1)(vocab(rnd.nextInt(vocab.size))))
    ) ++ Seq(
      (Seq("a", "a", "b"), Seq("a", "c")), // duplicates in one side
      (Seq("x"), Seq("y")),                // disjoint → 0
      (Seq("x", "y"), Seq("x", "y")),      // identical → 1000
      (Seq.empty[String], Seq("x")))       // empty left → null
    val df = cases.toDF("x", "y")
    val rows = df.select(
      when(size(col("x")) > 0,
        floor(lit(1000.0)
          * size(array_intersect(col("x"), col("y")))
          / size(col("x")) + 0.5).cast("long")).as("builtin"),
      graft.functions.GraftFunctions.containmentMilli(col("x"), col("y"))
        .as("kernel"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1) &&
        (r.isNullAt(0) || r.getLong(0) == r.getLong(1)),
        s"kernel diverged: $r")
    }
  }

  test("cosineMilli: identical vectors → 1000, orthogonal → 0") {
    val df = Seq(
      (Seq(1f, 0f), Seq(1f, 0f)),
      (Seq(1f, 0f), Seq(0f, 1f)),
      (Seq(1f, 1f), Seq(1f, 0f))
    ).toDF("x", "y")
    val v = df.select(Similarity.cosineMilli(col("x"), col("y")))
      .collect().map(_.getLong(0)).toSeq
    assert(v == Seq(1000L, 0L, 707L))
  }

  test("nearDupPairs finds the planted near-duplicate and only it") {
    // 20 base docs of disjoint shingle sets + one near-dup of doc 0
    val base = (0 until 20).map { i =>
      (i.toLong, (0 until 30).map(j => s"shingle_${i}_$j"))
    }
    val nearDup = (100L, (0 until 27).map(j => s"shingle_0_$j"))
    val df = (base :+ nearDup).toDF("id", "shingles")
    val pairs = Similarity.nearDupPairs(df, k = 32, bands = 16,
        thresholdMilli = 800)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((0L, 100L, 900L))) // 27/30 = 0.9
  }

  test("containmentPairs finds size-skewed containment symmetric " +
      "Jaccard misses, exactly once, smaller side first") {
    // doc 1 (5 shingles) fully inside doc 2 (50): J = 5/50 = 0.1 —
    // invisible to any symmetric threshold — but C = 1.0. doc 3
    // shares only 3 of its 5 (C = 0.6, below 900). doc 4 == doc 1's
    // set (equal size: pair must emit once, smaller id first).
    val big = (0 until 50).map(j => s"s_$j")
    val df = Seq(
      (1L, (0 until 5).map(j => s"s_$j")),
      (2L, big),
      (3L, Seq("s_0", "s_1", "s_2", "x_1", "x_2")),
      (4L, (0 until 5).map(j => s"s_$j"))
    ).toDF("id", "shingles")
    val got = Similarity.containmentPairs(df, thresholdMilli = 900)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted
    assert(got == Seq((1L, 2L, 1000L), (1L, 4L, 1000L), (4L, 2L, 1000L)))
  }

  test("simhash64: near-identical docs have small hamming distance") {
    val df = Seq(
      ("a", "the quick brown fox jumps over the lazy dog again and again"),
      ("b", "the quick brown fox jumps over the lazy dog again and once"),
      ("c", "completely different words appear within this unrelated text")
    ).toDF("id", "text")
    val sh = df.select(col("id"), Similarity.simhash64(col("text")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh("a"), sh("b")) < ham(sh("a"), sh("c")))
    assert(ham(sh("a"), sh("b")) <= 16)
  }

  test("hamming64 matches bitCount of xor") {
    val df = Seq((5L, 6L)).toDF("a", "b") // 101 xor 110 = 011 → 2
    val h = df.select(Similarity.hamming64(col("a"), col("b")))
      .collect().head
    assert(h.get(0).toString.toInt == 2)
  }
}
