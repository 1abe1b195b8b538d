package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration Rank Centrality (Negahban–Oh–Shah, arXiv
  * 1209.1688), integer-exact — the SPECTRAL preference aggregator
  * beside [[BradleyTerry]]'s MM one: build a random walk on entities
  * where the walker moves from i to j proportionally to how often j
  * beat i, and score each entity by its stationary mass. Two
  * independent aggregators over the same duels are the standard
  * cross-check on preference data: where they disagree, the data is
  * thin or intransitive ([[PreferenceAudit.transitivityAudit]]).
  *
  * Integer recurrence (all divisions truncating at fixed dataflow
  * points, same discipline as [[PageRank]]/[[BradleyTerry]]):
  *
  *   rate(i→j) = (wins_{j over i} · 10^9) div (n_ij · D)    static
  *   R_i       = Σ_j rate(i→j)                     (≤ 10^9) static
  *   raw(i)    = s(i) − (s(i)·R_i) div 10^9
  *               + (Σ_j s(j)·rate(j→i)) div 10^9
  *   s'(i)     = (raw(i) · 10^6) div max_k raw(k)
  *
  * with D = max number of distinct opponents (the walk's uniform
  * degree bound, which makes the chain lazy and hence convergent).
  * The max-anchor keeps s in [0, 10^6] independent of entity count,
  * which also caps every product: s·rate ≤ 10^15 and per-node inflow
  * sums over ≤ D neighbors of rate ≤ 10^9/D stay under 10^15 — no
  * overflow at any entity count. max(raw) ≥ 1 always: a node with
  * R = 10^9 exactly (possible only via exact division) zeroes its own
  * mass but ships it to neighbors, and truncation can't erase all
  * mass because the anchor's numerator is ≥ the previous maximum.
  *
  * Scale shape: duels collapse to the pair matrix in ONE shuffle;
  * the rate edge list and out-rate vector are static (computed once,
  * checkpointed); each iteration is one join of the entity-sized
  * score vector into the edge list (AQE broadcasts the vector), one
  * partial-aggregable sum by dst, one 1-row max scalar. Nothing is
  * driver-collected. */
object RankCentrality {

  /** (id, rc) after exactly `iters` iterations over `duels`
    * (columns `i`, `j` long entity ids with i ≠ j canonical per pair,
    * `awin` boolean — one row per comparison, no ties). `rc` is in
    * micro units, max entity = 1,000,000. */
  def fit(duels: DataFrame, iters: Int): DataFrame =
    fitFromPairs(BradleyTerry.pairStats(duels), iters)

  /** [[fit]] from a precomputed `(i, j, n, wi)` pair-statistics table
    * (the same additive matrix [[BradleyTerry.pairStats]] persists) —
    * the rank-centrality rates depend on the duel stream ONLY through
    * per-pair counts and wins, so a store that already paid the one
    * duel-stream shuffle can fit both models from it without a second
    * pass. Bit-identical to [[fit]] on the originating duels. */
  def fitFromPairs(pairStats: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "rankCentrality needs at least one iteration")
    val pairs = pairStats
      .select(col("i").cast("long"), col("j").cast("long"),
        col("n").cast("long"), col("wi").cast("long"))
      .localCheckpoint()
    // deg feeds TWO consumers (the d_max scalar and the node set for
    // sv init) and was recomputed for each; checkpoint it once and
    // take d_max as the checkpoint job's observed metric (r17, same
    // fuse as the per-iteration anchor below) — the separate max
    // aggregate + BroadcastExchange into the edges build disappear.
    val (deg, dmOpt) = Checkpoints.checkpointWithMax(
      pairs.select(col("i").as("id"))
        .unionByName(pairs.select(col("j").as("id")))
        .groupBy("id").agg(count(lit(1)).as("dcount")),
      "dcount")
    val dm = dmOpt.getOrElse(1L) // None only when pairs is empty
    // NOT pinned-partitioned (the round-16 pinPartitioned helper,
    // removed round 17 — see Checkpoints.scala): measured
    // round 16 — same verdict as BradleyTerry.fitFromPairs, the
    // per-iteration inflow exchange ships the partial-aggregated
    // entity vector, so pinning's upfront pair-matrix shuffle bought
    // nothing (A/B flat to worse, 4.30 -> 4.38 s median).
    val edges = pairs
      .select(col("i").as("src"), col("j").as("dst"),
        col("n"), (col("n") - col("wi")).as("w"))
      .unionByName(pairs.select(col("j").as("src"), col("i").as("dst"),
        col("n"), col("wi").as("w")))
      .select(col("src"), col("dst"),
        expr(s"w * 1000000000L div (n * ${dm}L)").as("rate"))
      .localCheckpoint()
    val outr = edges.groupBy(col("src").as("id"))
      .agg(sum(col("rate")).as("r"))
    // out-rate is static: carry it inside the score vector so each
    // iteration joins once (scores ⋈ edges), the PageRank layout
    val sv0 = deg.select("id").join(outr, Seq("id"), "left")
      .select(col("id"), coalesce(col("r"), lit(0L)).as("r"),
        lit(1000000L).as("s"))
      .localCheckpoint()
    // each step's raw update stays checkpointed (max anchor +
    // re-anchor both consume it)
    val (sv, _) = Checkpoints.iterate(sv0, iters, every = 5) { (sv, _) =>
      val inflow = sv.select(col("id").as("src"), col("s"))
        .join(edges, Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("s") * col("rate")).as("x"))
      // max anchor fused into the raw checkpoint job (r17, verdict
      // item 5 — same rewrite as BradleyTerry.fitFromPairs): the mx
      // scalar job + BroadcastExchange + crossJoin per iteration
      // becomes an observed metric of the checkpoint job, applied as
      // a plan literal. Bit-identical (exact-value spec + oracle).
      val (raw, mxOpt) = Checkpoints.checkpointWithMax(
        sv.join(inflow, Seq("id"), "left")
          .select(col("id"), col("r"),
            (col("s") - expr("s * r div 1000000000L") +
              expr("coalesce(x, 0L) div 1000000000L")).as("raw")),
        "raw")
      val mx = mxOpt.getOrElse(1L) // None only when raw is empty
      raw.select(col("id"), col("r"),
        expr(s"raw * 1000000L div ${mx}L").as("s"))
    }
    sv.select(col("id"), col("s").as("rc"))
  }

  /** The DuckDB oracle for [[fit]], UNROLLED and generated by the
    * same code layout as the Spark loop. Each step references its
    * predecessor at two sites (self term + inflow join) plus a
    * same-level max scalar — the MATERIALIZED hints keep DuckDB from
    * inlining the chain exponentially (BASELINE protocol note). */
  def oracleSql(duelsSql: String, iters: Int): String = {
    val base = BradleyTerry.pairsCtes(duelsSql) +
      """,
         |deg AS MATERIALIZED (SELECT id, CAST(count(*) AS BIGINT) AS d
         |  FROM (SELECT i AS id FROM pairs
         |        UNION ALL SELECT j AS id FROM pairs) GROUP BY 1),
         |edges AS MATERIALIZED (
         |  SELECT i AS src, j AS dst,
         |      ((n - wi) * 1000000000) // (n * (SELECT max(d) FROM deg))
         |        AS rate FROM pairs
         |  UNION ALL
         |  SELECT j AS src, i AS dst,
         |      (wi * 1000000000) // (n * (SELECT max(d) FROM deg))
         |        AS rate FROM pairs),
         |outr AS MATERIALIZED (SELECT src AS id,
         |    CAST(sum(rate) AS BIGINT) AS r FROM edges GROUP BY 1),
         |it0 AS (SELECT id, CAST(1000000 AS BIGINT) AS s FROM deg)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""f$k AS MATERIALIZED (SELECT prev.id,
         |    CAST(prev.s - (prev.s * COALESCE(o.r, 0)) // 1000000000
         |      + COALESCE(fi.x, 0) // 1000000000 AS BIGINT) AS raw
         |  FROM it${k - 1} prev
         |  LEFT JOIN outr o ON o.id = prev.id
         |  LEFT JOIN (SELECT e.dst AS id,
         |      CAST(sum(p.s * e.rate) AS BIGINT) AS x
         |    FROM it${k - 1} p JOIN edges e ON e.src = p.id
         |    GROUP BY 1) fi ON fi.id = prev.id),
         |it$k AS MATERIALIZED (SELECT id, CAST((raw * 1000000)
         |    // (SELECT max(raw) FROM f$k) AS BIGINT) AS s
         |  FROM f$k)""".stripMargin
    }
    (base +: steps).mkString(",\n") +
      s"\nSELECT id, s AS rc FROM it$iters ORDER BY id"
  }
}
