package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank over an edge list, integer-exact — the
  * influence-scoring stage after [[Components]] turns pair detections
  * into clusters: rank entities by link structure (suppliers by
  * customer reach, documents by citation, hosts by crawl links).
  *
  * Arithmetic is INTEGER MILLI units throughout: every node starts at
  * 1000; one iteration is
  * `pr'(v) = 150 + (850 · Σ_{u→v} (pr(u) div outdeg(u))) div 1000`
  * (damping 0.85 as 850/1000, both divisions truncating). Sums of
  * longs are exact and associative, and the two divisions happen once
  * per node per iteration at fixed points in the dataflow — so the
  * result is bit-identical on any engine at any parallelism, which is
  * what lets a SQL oracle pin it. (Float PageRank diverges across
  * engines on reduction order alone.) Truncation loss means scores
  * drift a few milli below the float fixpoint — fine for ranking, and
  * the determinism is worth more than the third decimal. Mass from
  * dangling nodes (no out-edges) is dropped, the common simplification;
  * sinks still RECEIVE rank.
  *
  * Scale shape (100 TB graph): `edges` and `outdeg` are computed once
  * and reused every round; each iteration is ONE equi-join of the
  * current rank vector with the edge list on src (both hash-
  * partitionable on the join key) + ONE partial-aggregable sum by dst
  * + one left join back onto the node set — the Pregel shape, same as
  * [[Components.connectedComponents]]; rounds run through
  * [[Checkpoints.iterate]]. The rank vector is node-sized, never
  * driver-collected. */
object PageRank {

  /** (id, pr_milli) after exactly `iters` iterations over the directed
    * `edges` (long columns `src`, `dst`; callers dedupe). Node set =
    * all ids appearing as src or dst. */
  def pageRank(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "pageRank needs at least one iteration")
    // no pre-partitioning of the edge side (round-15 shape, RESTORED
    // round 17): the rank vector is node-sized, so AQE broadcasts it
    // into every iteration's join and the edge list streams without
    // moving. Round 16 pinned the edges hash-partitioned on dst
    // (`repartition(dst).persist()` + an engine-wide AQE-cached-plan
    // conf) to make each contrib aggregate exchange-free; the driver
    // bench showed a mild win here (4.14 → 3.75 s) but a confirmed
    // cold regression on the sibling loops that shared the mechanism
    // (KCore 7.8 → 13.8 s, q_web_host_rank 1.7 → 2.5 s), and a
    // round-17 interleaved cold A/B measured pagerank FLAT pinned vs
    // checkpointed (5.27 vs 5.36 s median). An exchange of a
    // node-sized partial-aggregated contrib vector per iteration is
    // not the cost worth a persisted cache + global conf; at a scale
    // where the rank vector outgrows broadcast, revisit with a
    // partitioned-both-sides layout.
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .localCheckpoint()
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint()
    val outdeg = e.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg"))
    // the out-degree is static: carry it INSIDE the rank vector so
    // each iteration joins once (rank ⋈ edges), not twice
    val pr0 = nodes.join(outdeg, Seq("id"), "left")
      .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"),
        lit(1000L).as("p"))
      .localCheckpoint()
    val (pr, _) = Checkpoints.iterate(pr0, iters) { (pr, _) =>
      val contrib = pr.filter(col("deg") > 0)
        .withColumn("share", expr("p div deg"))
        .join(e, col("id") === col("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("share")).as("s"))
      pr.select(col("id"), col("deg")).join(contrib, Seq("id"), "left")
        .select(col("id"), col("deg"),
          (lit(150L) + expr("850L * coalesce(s, 0L) div 1000L")).as("p"))
    }
    pr.select(col("id"), col("p").as("pr_milli"))
  }

  /** The DuckDB oracle for [[pageRank]], UNROLLED (recursive CTEs
    * cannot aggregate over the recursive table): `edgesSql` must
    * define CTE bodies for `edges(src, dst)`. Generated here so the
    * Spark loop and the SQL twin can never drift. */
  def oracleSql(edgesSql: String, iters: Int): String = {
    val base =
      s"""WITH edges AS ($edgesSql),
         |nodes AS (SELECT DISTINCT src AS id FROM edges
         |  UNION SELECT DISTINCT dst FROM edges),
         |outdeg AS (SELECT src AS id, count(*) AS deg
         |  FROM edges GROUP BY 1),
         |it0 AS (SELECT id, CAST(1000 AS BIGINT) AS p FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""it$i AS (SELECT n.id,
         |  CAST(150 + (850 * COALESCE(c.s, 0)) // 1000 AS BIGINT) AS p
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS id, CAST(sum(prev.p // od.deg) AS BIGINT) AS s
         |    FROM it${i - 1} prev
         |    JOIN outdeg od ON od.id = prev.id
         |    JOIN edges e ON e.src = prev.id
         |    GROUP BY e.dst) c ON n.id = c.id)""".stripMargin
    }
    (base +: steps).mkString(",\n") +
      s"\nSELECT id, p AS pr_milli FROM it$iters ORDER BY id"
  }
}
