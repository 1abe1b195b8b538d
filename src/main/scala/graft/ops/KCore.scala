package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-round k-core peeling over an undirected edge list — the
  * graph-density filter of crawl curation: link-farm/spam detection
  * keeps the dense core (every surviving node has ≥ k surviving
  * neighbors), and the round at which a node peels is a useful
  * centrality-ish label (peripheral pages peel first; the reference's
  * graph gates — PageRank, triangles, communities — rank or cluster,
  * but none thresholds on structural density).
  *
  * Exact-by-rounds contract: after `rounds` peels the survivor set is
  * a SUPERSET of the true k-core and equals it once `rounds` reaches
  * the peel depth (each round removes every node whose degree in the
  * surviving subgraph is < k — the standard parallel peeling
  * schedule, deterministic, so a SQL oracle can replay it). Callers
  * size `rounds`; peel depth grows slowly in practice (it is ≤ the
  * graph's degeneracy ordering length / width, and real link graphs
  * peel in a handful of parallel rounds).
  *
  * Scale shape: the symmetrized edge list is static (checkpointed
  * once); each round is two equi-joins of the node-sized alive set
  * into the edge list (AQE broadcasts the vector), one
  * partial-aggregable degree count, one anti-join, run through
  * [[Checkpoints.iterate]]. The removed-set accumulator is node-sized.
  * Nothing driver-collected. */
object KCore {

  /** (id, removed_round) after exactly `rounds` parallel peels at
    * threshold `k` over undirected `edges` (long columns `src`,
    * `dst`; self-loops dropped, duplicates deduped, direction
    * ignored). `removed_round` is the 1-based round a node peeled,
    * NULL for survivors (the k-core approximant). */
  def peel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "need k >= 1 and rounds >= 1")
    // canonicalize BEFORE dedup: a reversed duplicate (b, a) of
    // (a, b) survives a directed distinct and double-counts degree
    val e = edges
      .select(least(col("src"), col("dst")).cast("long").as("src"),
        greatest(col("src"), col("dst")).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    // iteration-static big side: plain localCheckpoint (round-15
    // shape, RESTORED round 17). Round 16 pinned it hash-partitioned
    // (`repartition(src).persist()` + an engine-wide AQE-cached-plan
    // conf) so per-round degree aggregates plan no Exchange — the
    // exchange-free plan was real, but the driver's cold local[32]
    // bench adjudicated it a regression (q_graph_kcore 7.8 → 13.8 s,
    // inverse scaling 0.31), and a round-17 interleaved COLD A/B on
    // the builder box confirmed the direction even with a
    // data-proportional partition count (pinned 9.99 s vs
    // checkpointed 8.69 s median of 3 alternating cold runs). The
    // warm same-JVM A/B that accepted the pin (4.80 vs 8.53 s) does
    // not survive cold conditions: the per-round exchange of a
    // node-sized aggregate is cheaper than re-reading a persisted
    // cache whose first materialization, storage maintenance, and
    // lineage-bearing blocks all bill the gate itself.
    val sym = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    // DELTA peeling: maintain the surviving-subgraph degree instead of
    // recomputing it — after the first round, only neighbors of the
    // just-removed nodes change degree, so round r's work is the edges
    // incident to round r−1's removals (delta-sized), not the whole
    // graph — the shape that matters when rounds × edges is the 100 TB
    // bill (measured 9.7 → 7.5 s at sf0.1 in like-for-like runs; the
    // gap widens with graph size since the delta side stays put).
    // Results are identical: deg(v) − |neighbors(v) ∩ removed| IS the
    // surviving degree.
    val deg0 = sym.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    var removed = deg0.select(col("id"),
      lit(null).cast("int").as("removed_round")).limit(0)
    // degree vector cut EVERY round: fusing several peel rounds into
    // one lazy plan measured slower (A/B in BASELINE.md round 12) —
    // the degree vector feeds two consumers per round
    val (deg, _) = Checkpoints.iterate(deg0, rounds) { (deg, r) =>
      val rm = deg.where(col("deg") < k)
        .select(col("id"), lit(r).cast("int").as("removed_round"))
        .localCheckpoint()
      removed = removed.unionByName(rm)
      val delta = sym
        .join(rm.select(col("id").as("dst")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("minus"))
      deg.join(rm.select("id"), Seq("id"), "left_anti")
        .join(delta, Seq("id"), "left")
        .select(col("id"),
          (col("deg") - coalesce(col("minus"), lit(0L))).as("deg"))
    }
    deg.select(col("id"), lit(null).cast("int").as("removed_round"))
      .unionByName(removed)
  }

  /** The DuckDB oracle for [[peel]], UNROLLED: `edgesSql` must yield
    * distinct undirected pairs `(src, dst)` with src < dst and no
    * self-loops. Each round references the previous alive set at
    * three sites — MATERIALIZED hints keep the chain linear
    * (BASELINE protocol note). */
  def oracleSql(edgesSql: String, k: Int, rounds: Int): String = {
    val base =
      s"""WITH e0 AS MATERIALIZED ($edgesSql),
         |sym AS MATERIALIZED (SELECT src, dst FROM e0
         |  UNION ALL SELECT dst AS src, src AS dst FROM e0),
         |a0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM sym)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""d$r AS MATERIALIZED (SELECT e.src AS id,
         |    CAST(count(*) AS BIGINT) AS deg
         |  FROM sym e JOIN a${r - 1} s ON e.src = s.id
         |  JOIN a${r - 1} t ON e.dst = t.id GROUP BY 1),
         |rm$r AS MATERIALIZED (SELECT a.id FROM a${r - 1} a
         |  LEFT JOIN d$r d ON d.id = a.id
         |  WHERE COALESCE(d.deg, 0) < $k),
         |a$r AS MATERIALIZED (SELECT a.id FROM a${r - 1} a
         |  ANTI JOIN rm$r x ON a.id = x.id)""".stripMargin
    }
    val removedUnion = (1 to rounds)
      .map(r => s"SELECT id, CAST($r AS INTEGER) AS removed_round" +
        s" FROM rm$r")
      .mkString("\n  UNION ALL ")
    (base +: steps).mkString(",\n") +
      s"""
         |SELECT id, removed_round FROM (
         |  $removedUnion
         |  UNION ALL SELECT id, CAST(NULL AS INTEGER) FROM a$rounds)
         |ORDER BY id""".stripMargin
  }
}
