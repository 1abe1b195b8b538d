package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SHARED bucketed edge layout for the graph family — the storage
  * answer to three gates (triangles, label propagation, co-purchase
  * analytics) each re-deriving the same co-purchase edge list from the
  * fact table per query: at 100 TB the basket pair expansion (groupBy
  * order + local pair blowup + support aggregate) is the dominant cost
  * and is content-addressed, so it is paid ONCE, written bucketed by
  * `src`, and every graph query reads the hash distribution straight
  * off storage — a groupBy/join on src plans with NO exchange over the
  * edge side (pinned in GraphEdgesSpec).
  *
  * The stored schema is (src, dst, support): support = number of
  * baskets containing the pair, which is the superset every consumer
  * filters from — triangles take all pairs, community detection takes
  * support ≥ k, co-visitation analytics read the count itself. One
  * layout, k consumers, zero rebuilds. */
object GraphEdges {

  /** Distinct co-occurrence pairs (src < dst) with basket support,
    * from a basket table `(basketCol, itemCol)`. The pair expansion is
    * LOCAL to each collected basket (array work inside one aggregate),
    * not a fact-table self-join — baskets are bounded, so the blowup
    * is per-row work; the support aggregate is one partial-aggregable
    * shuffle on the pair key. */
  def copurchaseSupport(facts: DataFrame, basketCol: String,
                        itemCol: String): DataFrame =
    facts.groupBy(basketCol)
      .agg(sort_array(collect_set(col(itemCol))).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps)), " +
          "y -> struct(x AS src, y AS dst))))")).as("pr"))
      .groupBy(col("pr.src").as("src"), col("pr.dst").as("dst"))
      .agg(count(lit(1)).as("support"))

  /** Incremental maintenance of the support layout: pair supports are
    * ADDITIVE when deltas arrive as whole baskets (an order's lines
    * land together — the ingest contract), so merging stored edges
    * with a delta batch's edges is one partial-aggregable sum on the
    * pair key — delta-sized work plus a stored-table-sized merge
    * write, never a fact-table rescan. merge(stored, delta) ≡ rebuild
    * over the union of baskets (gate q_incr_edges_maintain). */
  def mergeSupport(stored: DataFrame, delta: DataFrame): DataFrame =
    stored.unionByName(delta)
      .groupBy("src", "dst")
      .agg(sum(col("support")).as("support"))

  /** Write-once accessor: ensure `table` holds the bucketed edge
    * layout of `build` (bucketed + sorted by `src`, one file per
    * bucket via [[Bucketing.writeBucketed]]) and return the stored
    * relation. Callers key `table` on source content
    * ([[graft.queries.Sinks.contentKey]]) so a stale layout can never
    * silently serve. */
  def shared(s: SparkSession, table: String,
             build: => DataFrame): DataFrame = {
    StoreGuard.table(s, table)(Bucketing.writeBucketed(build, table, "src",
      buckets = s.sessionState.conf.numShufflePartitions))
    s.table(table)
  }
}
