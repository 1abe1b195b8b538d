package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the native sorted-merge intersect kernel against the built-in
  * `array_intersect` on its precondition domain (sorted ascending,
  * distinct, non-null long arrays) — the adjacency-close input shape
  * of [[graft.ops.Triangles]]. */
class SortedIntersectSpec extends SparkSpec {

  test("matches array_intersect on sorted distinct long arrays (fuzz)") {
    val rnd = new scala.util.Random(42)
    val rows = (1 to 300).map { _ =>
      def arr() = rnd.shuffle((0L to 60L).toList)
        .take(rnd.nextInt(12)).distinct.sorted
      (arr(), arr())
    }
    import spark.implicits._
    val df = rows.toDF("a", "b")
    val got = df.select(
        GraftFunctions.sortedIntersectLongs(col("a"), col("b")).as("x"),
        array_intersect(col("a"), col("b")).as("y"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
    // empty sides and identical sides
    val edge = Seq((Seq.empty[Long], Seq(1L, 2L)),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L))).toDF("a", "b")
      .select(GraftFunctions.sortedIntersectLongs(col("a"), col("b")))
      .collect()
    assert(edge(0).getSeq[Long](0) === Seq.empty[Long])
    assert(edge(1).getSeq[Long](0) === Seq(1L, 2L, 3L))
  }

  test("Triangles.perNode identical native vs built-in intersect") {
    import spark.implicits._
    val edges = (0L until 300L)
      .map(i => (i % 23, (i * 11 + 5) % 29))
      .toDF("id_a", "id_b")
    val nat = graft.ops.Triangles.perNode(edges)
      .orderBy("node").collect().toSeq
    // integer-typed ids take the built-in array_intersect branch
    val intEdges = edges.select(col("id_a").cast("int").as("id_a"),
      col("id_b").cast("int").as("id_b"))
    val ref = graft.ops.Triangles.perNode(intEdges)
      .select(col("node").cast("long").as("node"), col("triangles"))
      .orderBy("node").collect().toSeq
    assert(nat === ref)
  }
}
