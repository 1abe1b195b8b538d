package graft.functions

import graft.SparkSpec
import graft.ops.Joins
import org.apache.spark.sql.functions._

/** Bloom join-pruning guarantees: zero false negatives (pruning must
  * never drop a matching row), bounded false positives, merge-order
  * independence, and row-identical join composition. */
class BloomSpec extends SparkSpec {
  import spark.implicits._

  test("no false negatives; false-positive rate is bounded") {
    val keys = (1L to 2000L).map(_ * 7919)
    val words = BloomKernels.create(1 << 15, 7)
    keys.foreach(k => BloomKernels.insert(words, 7, k))
    val bytes = BloomKernels.serialize(words, 7)
    keys.foreach { k =>
      assert(BloomKernels.mightContain(bytes, k), s"false negative: $k")
    }
    // 32768 bits / 2000 keys = 16.4 bits/key at k=7 → fp ~ 1e-3
    val probes = (1L to 20000L).map(_ * 104729 + 3)
    val fp = probes.count(p =>
      !keys.contains(p) && BloomKernels.mightContain(bytes, p))
    assert(fp < 200, s"false-positive rate too high: $fp/20000")
  }

  test("bloom_agg is partitioning-independent (bitwise-OR merge)") {
    def sketch(parts: Int): Array[Byte] =
      (1L to 500L).toDF("k").repartition(parts)
        .agg(GraftFunctions.bloomAgg(col("k"), 4096, 5))
        .head().getAs[Array[Byte]](0)
    assert(sketch(1).toSeq == sketch(13).toSeq)
  }

  test("null keys are skipped, not inserted as zero") {
    val bytes = Seq(Some(5L), None, Some(9L)).toDF("k")
      .agg(GraftFunctions.bloomAgg(col("k"), 1024, 5))
      .head().getAs[Array[Byte]](0)
    assert(BloomKernels.mightContain(bytes, 5L))
    assert(BloomKernels.mightContain(bytes, 9L))
    // the empty bloom of the null row must not set bit patterns of 0L
    val empty = BloomKernels.serialize(BloomKernels.create(1024, 5), 5)
    assert(!BloomKernels.mightContain(empty, 0L))
  }

  test("bloomPrunedJoin is row-identical to the plain join") {
    // range-based fact: a Seq-backed LocalRelation would let
    // ConvertToLocalRelation fold the bloom filter at plan time and
    // the plan assertion below would see nothing
    val fact = spark.range(1, 1001)
      .select((col("id") % 97).as("k"), col("id").as("v"))
    val dim = (0L to 96L by 5).map(k => (k, s"d$k")).toDF("k", "name")
    val plain = fact.join(dim, Seq("k"), "inner")
      .orderBy("k", "v").collect().toSeq
    val pruned = Joins.bloomPrunedJoin(fact, dim, "k")
      .orderBy("k", "v")
    assert(pruned.collect().toSeq == plain)
    // the pruning filter must sit in the fact-side plan
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"), s"no bloom filter:\n$plan")
  }

  test("misuse fails at analysis") {
    import org.apache.spark.sql.AnalysisException
    val e1 = intercept[AnalysisException] {
      spark.range(1)
        .select(GraftFunctions.bloomMightContain(lit("nope"), lit(1L)))
        .collect()
    }
    assert(e1.getMessage.contains("bloom_might_contain"))
    val e2 = intercept[AnalysisException] {
      (1L to 5L).toDF("k")
        .agg(GraftFunctions.bloomAgg(col("k"), 0, 5))
        .collect()
    }
    assert(e2.getMessage.contains("bloom_agg"))
  }
}
