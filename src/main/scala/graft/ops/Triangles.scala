package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting over an undirected edge list — the
  * graph-quality metric next to [[PageRank]] and [[Components]]:
  * triangle density separates organic link structure from spam/bot
  * cliques, and per-node triangle counts feed clustering-coefficient
  * features.
  *
  * Algorithm: DEGREE ORIENTATION (Cohen's MapReduce formulation).
  * Orient every undirected edge from the endpoint with (degree, id)
  * lexicographically smaller to the larger one; count paths u→v→w and
  * check the closing edge u→w. Why orientation matters at 100 TB: the
  * naive "join edges on shared vertex" explodes on hubs — a node of
  * degree d contributes d² wedge rows (a 10M-degree hub is 10¹⁴ rows).
  * Under degree orientation every node's OUT-degree is bounded by
  * O(√m) regardless of its raw degree (only neighbors of >= degree
  * rank ahead of it), so wedge expansion is bounded by m^1.5 total —
  * the theoretical optimum for exact counting — and the hub skew
  * disappears without salting.
  *
  * Scale shape: two hash equi-joins (wedge build on the middle vertex,
  * closing-edge check on (u,w)) + one partial-aggregable count — all
  * shuffle keys are edge endpoints, no window, no driver-side data. */
object Triangles {

  /** Total triangle count plus per-corner attribution. `edges` must
    * carry two long columns `id_a`, `id_b`; duplicates/self-loops are
    * cleaned here (each undirected edge counted once).
    * Returns (node, triangles) for every node in >= 1 triangle. */
  def perNode(edges: DataFrame): DataFrame = {
    val e = canonical(edges)
    val tri = triangleCorners(e)
    // each triangle row carries its three corners; attribute to all
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
  }

  /** One row per triangle (u, v, w) with u ≺ v ≺ w in degree order. */
  private[ops] def triangleCorners(canonEdges: DataFrame): DataFrame = {
    // degree over the UNDIRECTED edge set
    val deg = canonEdges.select(col("a").as("n"))
      .unionByName(canonEdges.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    // orient: src = lexicographically smaller (deg, id) endpoint.
    // Total order ⇒ every triangle has exactly ONE source corner (u),
    // one middle (v), one sink (w) — no double counting.
    val withDeg = canonEdges
      .join(deg.select(col("n").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("deg_b")), "b")
    // materialize ONCE: the wedge and closing joins reference the
    // oriented list three times, and without a checkpoint the whole
    // upstream (edge build + degree joins) runs once per branch
    val oriented = withDeg.select(
      when(col("deg_a") < col("deg_b") ||
        (col("deg_a") === col("deg_b") && col("a") < col("b")),
        struct(col("a").as("src"), col("b").as("dst")))
        .otherwise(struct(col("b").as("src"), col("a").as("dst")))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint()
    // EDGE-ITERATOR close: a triangle under orientation is an edge
    // (u,v) plus w ∈ out(u) ∩ out(v). Carrying each node's sorted
    // out-neighbor ARRAY to the edge and intersecting LOCALLY shuffles
    // O(m·√m̄) longs once, instead of materializing every wedge as a
    // row through an exchange (this graph: 1.2M edges but 49M wedges —
    // the wedge-join form measured 3× slower end-to-end). Orientation
    // bounds every array at O(√m) elements, so no row is pathological.
    val adj = oriented.groupBy("src")
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    val e = oriented.select(col("src").as("u"), col("dst").as("v"))
    // the local intersect runs the native sorted-merge kernel
    // (functions.SortedIntersectLongs): the neighbor arrays are
    // sorted+distinct by construction (sort_array over a distinct
    // edge list), so a single primitive merge walk replaces
    // array_intersect's per-row OpenHashSet build+probe — the top
    // executor frame of the round-16 profile. Same result by the
    // kernel's precondition contract (pinned in SortedIntersectSpec).
    // The kernel is long-only: other id types take array_intersect.
    val dstIsLong = oriented.schema("dst").dataType ==
      org.apache.spark.sql.types.LongType
    val inter =
      if (!dstIsLong) array_intersect(col("u_nbrs"), col("v_nbrs"))
      else graft.functions.GraftFunctions
        .sortedIntersectLongs(col("u_nbrs"), col("v_nbrs"))
    // inner joins: u always has out-edges; a v with no out-edges
    // cannot close a triangle, so dropping it is pruning, not loss
    e.join(adj.select(col("src").as("u"), col("nbrs").as("u_nbrs")), "u")
      .join(adj.select(col("src").as("v"), col("nbrs").as("v_nbrs")), "v")
      .select(col("u"), col("v"), explode(inter).as("w"))
  }

  /** Dedup to one row per undirected edge with a < b; drop self-loops. */
  private def canonical(edges: DataFrame): DataFrame =
    edges.select(
      least(col("id_a"), col("id_b")).as("a"),
      greatest(col("id_a"), col("id_b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
}
