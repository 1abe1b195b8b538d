package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def frame = Seq(
    // key k1: row with 1 null vs row with 0 nulls -> keep complete one
    ("k1", Some("a"), Some("x"), "s1"),
    ("k1", None, Some("x"), "s2"),
    // key k2: both complete, tie broken by tiebreak column asc
    ("k2", Some("b"), Some("y"), "s2"),
    ("k2", Some("b"), Some("y"), "s1"),
    // key k3: single row passes through
    ("k3", None, None, "s1")
  ).map { case (k, a, b, src) => (k, a.orNull, b.orNull, src) }
    .toDF("key", "a", "b", "src")

  test("nullCount counts nulls horizontally") {
    val out = frame
      .select(col("key"), col("src"),
        Dedup.nullCount(Seq(col("a"), col("b"))).as("nc"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getInt(2))
      .toMap
    assert(out(("k1", "s1")) == 0)
    assert(out(("k1", "s2")) == 1)
    assert(out(("k3", "s1")) == 2)
  }

  test("keepMostComplete keeps the least-null row per key") {
    val out = Dedup.keepMostComplete(frame, Seq("key"), Seq("src"))
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(out == Map("k1" -> "s1", "k2" -> "s1", "k3" -> "s1"))
  }

  test("keepMostCompleteAgg agrees with the window variant") {
    val w = Dedup.keepMostComplete(frame, Seq("key"), Seq("src", "a", "b"))
      .orderBy("key").collect().toSeq
    val a = Dedup.keepMostCompleteAgg(frame, Seq("key"), Seq("src", "a", "b"))
      .orderBy("key").collect().toSeq
    assert(w == a)
  }

  test("keepMostComplete output keys are unique and preserved") {
    val out = Dedup.keepMostComplete(frame, Seq("key"), Seq("src"))
    assert(out.select("key").distinct().count() == out.count())
    assert(out.count() == 3)
    assert(out.columns.toSeq == frame.columns.toSeq) // scaffolding dropped
  }

  test("exactDedup collapses rows equal on content cols") {
    val df = Seq(
      ("text one", 2L), ("text one", 1L), ("text two", 5L)
    ).toDF("body", "id")
    val out = Dedup.exactDedup(df, Seq("body"), Seq("id"))
      .orderBy("id").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("text one", 1L), ("text two", 5L)))
  }

  test("incrementalExactDedup keeps new content, drops batch-internal " +
      "and corpus duplicates") {
    val corpus = Seq((1L, "aa"), (2L, "bb")).toDF("id", "t")
    val batch = Seq((10L, "cc"), (11L, "cc"), // internal dup: keep min id
      (12L, "aa"),                            // exists in corpus: drop
      (13L, "dd")).toDF("id", "t")
    val out = Dedup.incrementalExactDedup(corpus, batch,
        contentCols = Seq("t"), tiebreak = Seq("id"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((10L, "cc"), (13L, "dd")))
  }
}
