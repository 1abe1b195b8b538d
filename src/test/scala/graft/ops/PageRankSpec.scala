package graft.ops

import graft.SparkSpec

class PageRankSpec extends SparkSpec {
  import spark.implicits._

  test("2-cycle is a fixpoint at 1000 milli each") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val out = PageRank.pageRank(edges, iters = 3)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 1000L), (2L, 1000L)))
  }

  test("chain A->B: dangling mass dropped, sink still receives; " +
      "truncating-division trace matches hand computation") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    // it1: A (no in-edges) -> 150; B <- A's 1000 -> 150 + 850 = 1000
    // it2: A -> 150; B <- A's 150 -> 150 + (850*150) div 1000 = 277
    val out = PageRank.pageRank(edges, iters = 2)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 150L), (2L, 277L)))
  }

  test("star: hub splits rank equally among spokes (integer shares)") {
    // hub 1 -> spokes 2,3,4 and back, 1 iteration from uniform start:
    // spokes: 150 + 850*(1000 div 3) div 1000 = 150 + (850*333) div 1000
    //       = 150 + 283 = 433
    // hub: 150 + 850*(1000+1000+1000) div 1000 = 150 + 2550 = 2700
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 1L), (3L, 1L), (4L, 1L)).toDF("src", "dst")
    val out = PageRank.pageRank(edges, iters = 1)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 2700L), (2L, 433L), (3L, 433L),
      (4L, 433L)))
  }

  test("the rounds leave one rank vector's blocks pinned, not one per " +
      "round: pageRank adds as many persisted RDDs at 6 iterations as " +
      "at 2") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
      .toDF("src", "dst")
    // read right after the call (every round is eager): once the
    // result is unreachable the ContextCleaner may free its blocks too
    def pinned(iters: Int): Int = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val ranks = PageRank.pageRank(edges, iters)
      val added = (spark.sparkContext.getPersistentRDDs.keySet -- before)
      assert(ranks.columns.toSeq === Seq("id", "pr_milli"))
      added.size
    }
    assert(pinned(6) === pinned(2))
  }

  test("oracleSql mirrors the Spark loop on the same graph") {
    // generated SQL references edges/nodes/outdeg/itN CTEs; sanity-pin
    // the structure so the generator and the loop can't drift silently
    val sql = PageRank.oracleSql("SELECT 1 AS src, 2 AS dst", 2)
    assert(sql.contains("it0") && sql.contains("it2") &&
      sql.contains("// 1000") && sql.contains("ORDER BY id"))
  }
}
