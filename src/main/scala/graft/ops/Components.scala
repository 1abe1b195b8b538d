package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over an undirected edge list — the stage a
  * production near-dup pipeline needs AFTER pair detection: near-dup
  * pairs form clusters (A~B, B~C ⇒ {A,B,C}), and dedup keeps one
  * canonical representative per cluster, not one per pair.
  *
  * Algorithm: iterative min-label propagation ("hash-to-min"). Every
  * node starts labeled with its own id; each round a node adopts the
  * minimum label among itself and its neighbors. Converges in
  * O(component diameter) rounds — near-dup clusters are dense and
  * shallow (text variants of one source), so 2-4 rounds in practice.
  *
  * Scale design (100 TB): each round is ONE hash-partition equi-join
  * (edges ⋈ labels on dst) + ONE partial-aggregable min groupBy — no
  * sorts, no windows, no driver-side data. The driver only observes
  * the converged/changed COUNT per round (a scalar), which is the
  * standard iterative-algorithm control loop (GraphX Pregel does the
  * same); rounds run through [[Checkpoints.iterate]]. For graphs with
  * billion-node components the alternating large-star/small-star
  * variant halves round count; near-dup graphs don't need it. */
object Components {

  /** (id, component) for every node incident to ≥1 edge; `component`
    * is the minimum node id in the node's connected component.
    * `edges` must carry two long columns `id_a`, `id_b`.
    *
    * Throws IllegalStateException if labels are still changing after
    * `maxIter` rounds (a component of diameter > maxIter): returning
    * the mid-propagation labels would silently split real clusters,
    * which for a dedup caller means silently keeping duplicates. Pass
    * a larger `maxIter` for deep graphs. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    // checkpoint the edge list FIRST: the symmetric union references it
    // twice, and an expensive upstream (e.g. the whole LSH candidate
    // pipeline) would otherwise be computed once per branch before any
    // cache of the union materializes
    val e = edges.localCheckpoint()
    val sym = e
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(e
        .select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // round 0 fused into initialization: label = min(self, neighbors)
    // via ONE aggregation — replaces the separate distinct() node list
    // AND the first propagation round (star-shaped clusters, the common
    // near-dup case, are already converged here)
    val labels0 = sym.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("min_nbr"))
      .select(col("id"),
        least(col("id"), col("min_nbr")).as("label"))
      .localCheckpoint() // eager: materialize + truncate lineage

    // candidate labels: own + every neighbor's current label. The self
    // rows carry the previous label in `old`, so ONE aggregation yields
    // both the new label and the convergence signal — no extra old⋈new
    // join per round (each id has exactly one self row, so max(old)
    // recovers its previous label). The changed-row count is observed
    // inside the round's checkpoint job (r17 fuse), not a separate job.
    val (labels, converged) = Checkpoints.iterate(labels0, maxIter,
        stopWhenZero = Some(count(when(col("label") =!= col("old"), 1)))) {
      (labels, _) =>
        val self = labels.select(col("id"), col("label"),
          col("label").as("old"))
        val nbr = sym.join(labels, sym("dst") === labels("id"))
          .select(sym("src").as("id"), col("label"),
            lit(null).cast("long").as("old"))
        self.unionByName(nbr)
          .groupBy("id")
          .agg(min("label").as("label"), max("old").as("old"))
    }
    sym.unpersist()
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds " +
        "(component diameter exceeds maxIter) — raise maxIter")
    labels.select(col("id"), col("label").as("component"))
  }

  /** Pick ONE representative per component — the keep-best stage that
    * turns near-dup clusters back into a deduplicated corpus: join the
    * component labels to a scored view of the members and take
    * `min_by(id, score)` per component. Make `scoreCol` TOTAL over
    * members (fold the id into the low digits) or ties are
    * implementation-chosen.
    *
    * Scale shape: one equi-join on the id (both sides already
    * hash-partitioned by id from the components run) + one
    * partial-aggregable min_by shuffle on the component — no window,
    * no sort. min_by over two LONGs has a flat HashAggregate-mutable
    * buffer, so this stays in codegen'd HashAggregateExec (the struct
    * degradation [[graft.functions.MinByObj]] exists for does not
    * apply). */
  def representatives(components: DataFrame, scored: DataFrame,
                      idCol: String, scoreCol: String): DataFrame =
    components.join(scored, idCol)
      .groupBy("component")
      .agg(min_by(col(idCol), col(scoreCol)).as("rep_id"),
        count(lit(1)).as("members"))
}
