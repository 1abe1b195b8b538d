package graft.ops

import graft.SparkSpec

/** Connected components: correctness on shapes label propagation can
  * get wrong — chains (diameter > 1), multiple components, and
  * triangles (redundant edges). */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(edges.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain, triangle, and isolated pair resolve to min-id labels") {
    val out = run(Seq(
      (2L, 3L), (3L, 4L), (4L, 5L),    // chain: diameter 3
      (10L, 11L), (11L, 12L), (10L, 12L), // triangle
      (20L, 21L)))                      // isolated pair
    assert(out == Map(
      2L -> 2L, 3L -> 2L, 4L -> 2L, 5L -> 2L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("long chain converges within maxIter via multi-hop propagation") {
    val chain = (1L until 12L).map(i => (i, i + 1))
    val out = run(chain)
    assert(out.values.toSet == Set(1L))
    assert(out.size == 12)
  }

  test("a path longer than maxIter throws instead of returning split " +
      "labels, and the message names maxIter") {
    val path = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val err = intercept[IllegalStateException](
      Components.connectedComponents(path, maxIter = 2))
    assert(err.getMessage.contains("maxIter"))
  }

  test("edge direction does not matter") {
    val out = run(Seq((5L, 1L), (1L, 9L)))
    assert(out == Map(1L -> 1L, 5L -> 1L, 9L -> 1L))
  }

  test("representatives picks the min-score member per component") {
    import spark.implicits._
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (8L, 8L), (9L, 8L))
      .toDF("id", "component")
    // lower score = better; id 2 wins comp 1, id 9 wins comp 8
    val scored = Seq((1L, 30L), (2L, 10L), (3L, 20L), (8L, 5L), (9L, 1L))
      .toDF("id", "score")
    val out = Components.representatives(comp, scored, "id", "score")
      .orderBy("component").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 2L, 3L), (8L, 9L, 2L)))
  }
}
