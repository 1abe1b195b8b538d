package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.util.Random

/** Property-style agreement tests over seeded random data: the two
  * keep-most-complete formulations (window row_number, typed-imperative
  * min_by_obj) must produce IDENTICAL row sets
  * whenever the tiebreak is total — the invariant the optimizer rule
  * and the 100 TB path both rest on. Seeded, so failures reproduce. */
@org.scalatest.tags.Slow
class DedupPropertySpec extends SparkSpec {
  import spark.implicits._

  private def randomFrame(seed: Long, rows: Int, keys: Int) = {
    val rnd = new Random(seed)
    (1 to rows).map { i =>
      val k = rnd.nextInt(keys).toLong
      def maybe(s: String) = if (rnd.nextBoolean()) Some(s) else None
      (k, maybe(s"a${rnd.nextInt(5)}"), maybe(s"b${rnd.nextInt(5)}"),
        rnd.nextInt(100).toLong, i.toLong)
    }.toDF("k", "a", "b", "v", "row_id")
  }

  test("window / min_by_obj dedup agree on random data") {
    for (seed <- Seq(1L, 2L, 42L)) {
      val df = randomFrame(seed, rows = 500, keys = 60)
      // row_id makes the tiebreak total
      val tiebreak = Seq("row_id", "a", "b", "v")
      def norm(out: org.apache.spark.sql.DataFrame) =
        out.select("k", "a", "b", "v", "row_id")
          .sort("k", "row_id").collect().toSeq
      val w = norm(Dedup.keepMostComplete(df, Seq("k"), tiebreak))
      val o = norm(Dedup.keepMostCompleteAgg(df, Seq("k"), tiebreak))
      assert(w == o, s"window vs min_by_obj diverged (seed=$seed)")
      assert(w.map(_.getLong(0)).distinct.size == w.size,
        s"keys must be unique after dedup (seed=$seed)")
    }
  }

  test("applyCdc is invariant to change-log row order") {
    for (seed <- Seq(7L, 99L)) {
      val rnd = new Random(seed)
      val snap = (0L until 50L).map(k => (k, k * 10)).toDF("k", "v")
      val changes = (1 to 200).map { i =>
        (rnd.nextInt(80).toLong, rnd.nextInt(1000).toLong, i.toLong,
          if (rnd.nextInt(4) == 0) "D" else "U")
      }
      def apply(cs: Seq[(Long, Long, Long, String)]) =
        Merge.applyCdc(snap, cs.toDF("k", "v", "seq", "op"),
            Seq("k"), Seq("seq"), "op")
          .sort("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val a = apply(changes)
      val b = apply(rnd.shuffle(changes))
      assert(a == b, s"applyCdc must not depend on log order (seed=$seed)")
    }
  }

  test("incrementalExactDedup result is disjoint from corpus content " +
      "and internally unique") {
    val rnd = new Random(13)
    val corpus = (1 to 100).map(i => (i.toLong, s"t${rnd.nextInt(60)}"))
      .toDF("id", "t")
    val batch = (200 to 400).map(i => (i.toLong, s"t${rnd.nextInt(90)}"))
      .toDF("id", "t")
    val out = Dedup.incrementalExactDedup(corpus, batch, Seq("t"), Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val corpusTexts = corpus.collect().map(_.getString(1)).toSet
    assert(out.forall { case (_, t) => !corpusTexts.contains(t) },
      "no surviving row may share content with the corpus")
    assert(out.map(_._2).distinct.length == out.length,
      "surviving rows must be content-unique")
    // completeness: every batch content absent from the corpus survives
    val expected = batch.collect().map(_.getString(1)).toSet -- corpusTexts
    assert(out.map(_._2).toSet == expected)
  }
}
