package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fixed-iteration Bradley–Terry preference aggregation, integer-exact
  * — the RLHF-side scoring stage: turn a pile of pairwise preference
  * judgments (model A's answer beat model B's; annotator X's label
  * outranked Y's) into one strength score per entity. The reference
  * pipeline ranks by single-column sorts; a preference corpus has no
  * such column — the ranking IS the aggregation of the duels.
  *
  * Arithmetic mirrors [[PageRank]]'s integer-milli discipline so a SQL
  * oracle can pin it bit-identically. Scores live in MICRO units
  * (top entity = 1,000,000): every entity starts at 1e6; one
  * minorization-maximization iteration is
  *
  *   den(i) = Σ_j (n_ij · 10^9) div (s(i) + s(j))        per-pair term
  *   raw(i) = (W_i · 10^9) div den(i)                    MM update
  *   s'(i)  = max(1, (raw(i) · 10^6) div max_k raw(k))   re-anchor
  *
  * with every div truncating at a fixed point in the dataflow. Sums of
  * longs are exact and associative, so the result is identical on any
  * engine at any parallelism. The max-anchored normalization (rather
  * than BT's usual sum- or geomean-anchor) keeps scores in [1, 10^6]
  * INDEPENDENT of entity count — at a million entities a sum-anchor
  * would push single scores toward the total and truncate the per-pair
  * term to zero. The winner-of-everything converges to 10^6; an entity
  * with zero wins hits the max(1, ·) floor. Truncation costs a few
  * micro of accuracy vs the float fixpoint — fine for ranking, and
  * determinism is what lets the oracle exist.
  *
  * Bounds: W_i · 10^9 and n_ij · 10^9 must fit a long, so per-entity
  * wins and per-pair counts are capped at ~9.2e9 comparisons. A corpus
  * past that should pre-scale the duel counts by a common factor (the
  * BT solution is invariant to uniform count scaling).
  *
  * Scale shape (billions of duels): duels collapse to the per-pair
  * count matrix in ONE shuffle on (i, j) — everything after runs on
  * pairs, not duels. Each iteration joins the entity-sized score
  * vector into the symmetric pair list twice (AQE broadcasts the
  * vector; the pair list never moves), one partial-aggregable sum by
  * entity, one 1-row max scalar broadcast back, run through
  * [[Checkpoints.iterate]]. Nothing is driver-collected. */
object BradleyTerry {

  /** (id, bt) after exactly `iters` MM iterations over `duels`
    * (columns `i`, `j` long entity ids with i ≠ j, `awin` boolean —
    * one row per comparison, no ties). Entity set = all ids appearing
    * in a duel. `bt` is in micro units, max entity = 1,000,000. */
  def fit(duels: DataFrame, iters: Int): DataFrame =
    fitFromPairs(pairStats(duels), iters)

  /** Duel stream → per-pair sufficient statistics `(i, j, n, wi)` —
    * the ONLY pass over the raw comparisons, and the quantity an
    * incremental deployment PERSISTS: the statistics are ADDITIVE
    * ([[mergePairs]]), so a new tranche of judgments costs one
    * delta-sized aggregate plus a pair-matrix merge, never a replay
    * of the historical duel stream. */
  def pairStats(duels: DataFrame): DataFrame =
    duels.select(col("i").cast("long"), col("j").cast("long"),
        col("awin").cast("boolean"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("n"),
        sum(when(col("awin"), 1L).otherwise(0L)).as("wi"))

  /** Additive merge of pair-statistics tables: one partial-aggregable
    * sum on the pair key. `mergePairs(pairStats(a), pairStats(b)) ==
    * pairStats(a union b)` exactly — counts are longs, sums are
    * associative — so a refit from the merged matrix is bit-identical
    * to a from-scratch fit on the full duel history. */
  def mergePairs(stored: DataFrame, delta: DataFrame): DataFrame =
    stored.select("i", "j", "n", "wi")
      .unionByName(delta.select("i", "j", "n", "wi"))
      .groupBy("i", "j")
      .agg(sum(col("n")).as("n"), sum(col("wi")).as("wi"))

  /** [[fit]] from a (possibly merged) pair-statistics table. */
  def fitFromPairs(pairStats: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "bradleyTerry needs at least one iteration")
    val pairs = pairStats
      .select(col("i"), col("j"), col("n").cast("long"),
        col("wi").cast("long"))
      .localCheckpoint()
    // NOT pinned-partitioned (the round-16 pinPartitioned helper,
    // removed round 17 — see Checkpoints.scala): measured
    // round 16 — the den exchange ships the PARTIAL-aggregated
    // entity-sized vector, so pinning traded 5 tiny exchanges for one
    // full pair-matrix shuffle and lost (A/B medians 3.53 -> 3.99 s);
    // the lazy union over the pairs checkpoint stays the right shape
    // whenever entities << pairs.
    val sym = pairs.select(col("i"), col("j"), col("n"))
      .unionByName(pairs.select(col("j").as("i"), col("i").as("j"),
        col("n")))
    val nodes = sym.select(col("i").as("id")).distinct()
    val wins = pairs.select(col("i").as("id"), col("wi").as("w"))
      .unionByName(pairs.select(col("j").as("id"),
        (col("n") - col("wi")).as("w")))
      .groupBy("id").agg(sum(col("w")).as("w"))
    // W_i is static across iterations: materialize once
    val wt = nodes.join(wins, Seq("id"), "left")
      .select(col("id"), coalesce(col("w"), lit(0L)).as("w"))
      .localCheckpoint()
    // each step's raw update stays checkpointed: it feeds both the max
    // anchor and the re-anchor, so leaving it lazy doubles the den
    // aggregate
    val sv0 = wt.select(col("id"), lit(1000000L).as("s"))
    val (sv, _) = Checkpoints.iterate(sv0, iters, every = 5) { (sv, _) =>
      val den = sym
        .join(sv.select(col("id").as("i"), col("s").as("si")), Seq("i"))
        .join(sv.select(col("id").as("j"), col("s").as("sj")), Seq("j"))
        .select(col("i").as("id"),
          expr("n * 1000000000L div (si + sj)").as("term"))
        .groupBy("id").agg(sum(col("term")).as("den"))
      // den(i) >= n_i * 10^9 div (2 * 10^6) = 500 * n_i > 0: scores
      // are capped at 10^6 by the anchor, so the term never truncates
      // to zero and the division below is total
      // max anchor fused into the raw checkpoint job (r17, verdict
      // item 5): the separate mx aggregate job + BroadcastExchange +
      // crossJoin per iteration is replaced by an observed metric on
      // rows the checkpoint already streams — same long, same
      // truncating division, now a plan literal. ~2 jobs saved per
      // iteration; bit-identical (exact-value spec + oracle).
      val (raw, mxOpt) = Checkpoints.checkpointWithMax(
        wt.join(den, Seq("id"))
          .select(col("id"), expr("w * 1000000000L div den").as("sr")),
        "sr")
      val mx = mxOpt.getOrElse(1L) // None only when raw is empty
      raw.select(col("id"),
        greatest(lit(1L), expr(s"sr * 1000000L div ${mx}L")).as("s"))
    }
    sv.select(col("id"), col("s").as("bt"))
  }

  /** The DuckDB oracle for [[fit]], UNROLLED like [[PageRank.oracleSql]]
    * (recursive CTEs cannot aggregate over the recursive table):
    * `duelsSql` must be a CTE body yielding `(i, j, awin)`. Generated
    * here so the Spark loop and the SQL twin can never drift.
    *
    * Unlike PageRank's chain, each step here references its
    * predecessor TWICE (the s(i) and s(j) sides) and r_k twice (the
    * max anchor + the update) — inlined, the plan would blow up
    * ~4^iters; the MATERIALIZED hints keep the oracle linear. */
  def oracleSql(duelsSql: String, iters: Int): String =
    oracleChain(duelsSql, iters) +
      s"\nSELECT id, s AS bt FROM it$iters ORDER BY id"

  /** The `duels` and `pairs` CTEs that open every preference-fit
    * oracle — [[pairStats]] in DuckDB. `duelsSql` must be a CTE body
    * yielding `(i, j, awin)`. */
  private[ops] def pairsCtes(duelsSql: String): String =
    s"""WITH duels AS MATERIALIZED ($duelsSql),
       |pairs AS MATERIALIZED (SELECT i, j, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN awin THEN 1 ELSE 0 END) AS BIGINT) AS wi
       |  FROM duels GROUP BY 1, 2)""".stripMargin

  /** The CTE chain only (everything up to `it<iters>` = (id, s)) —
    * shared by [[oracleSql]] and the calibration oracle so the two
    * gates can never pin different score definitions. */
  private def oracleChain(duelsSql: String, iters: Int): String = {
    val base = pairsCtes(duelsSql) +
      """,
         |sym AS MATERIALIZED (SELECT i, j, n FROM pairs
         |  UNION ALL SELECT j AS i, i AS j, n FROM pairs),
         |nodes AS (SELECT DISTINCT i AS id FROM sym),
         |wt AS MATERIALIZED (SELECT nodes.id, CAST(COALESCE(ws.w, 0) AS BIGINT) AS w
         |  FROM nodes LEFT JOIN (
         |    SELECT id, sum(w) AS w FROM (
         |      SELECT i AS id, wi AS w FROM pairs
         |      UNION ALL SELECT j AS id, n - wi AS w FROM pairs)
         |    GROUP BY 1) ws ON nodes.id = ws.id),
         |it0 AS (SELECT id, CAST(1000000 AS BIGINT) AS s FROM wt)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""d$k AS MATERIALIZED (SELECT sym.i AS id,
         |    CAST(sum((sym.n * 1000000000) // (si.s + sj.s)) AS BIGINT)
         |      AS den
         |  FROM sym JOIN it${k - 1} si ON si.id = sym.i
         |  JOIN it${k - 1} sj ON sj.id = sym.j GROUP BY 1),
         |r$k AS MATERIALIZED (SELECT wt.id,
         |    (wt.w * 1000000000) // d$k.den AS sr
         |  FROM wt JOIN d$k ON wt.id = d$k.id),
         |it$k AS MATERIALIZED (SELECT id, CAST(greatest(1,
         |    (sr * 1000000) // (SELECT max(sr) FROM r$k)) AS BIGINT) AS s
         |  FROM r$k)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  /** Reward-model calibration over the fitted scores — the
    * reliability diagram of RLHF evals: bucket each duel by the score
    * GAP between its sides (deciles of the micro-unit range,
    * least(gap DIV 100,000, 9) ∈ 0..9 — the clamp folds a full-range
    * gap of exactly 1,000,000 into the top bucket, so score sources
    * without [[fit]]'s ≥1 floor, e.g. RankCentrality's possible 0s,
    * cannot mint an 11th bucket) and measure how often the
    * higher-scored side
    * actually won. A well-calibrated ranking shows the win rate
    * rising with the gap; a flat curve means the scores order
    * entities but their magnitudes carry no confidence information.
    * Same-score duels are excluded (no prediction to grade).
    *
    * Exact integers throughout: `rate_milli = wins·1000 div n`.
    * Scale shape: duels collapse to [[pairStats]]' single shuffle
    * (the grading regrouped per pair — identical sums, see
    * [[calibrationFromPairs]]); the entity-sized score vector
    * broadcasts into the pair list twice; then one partial-aggregable
    * groupBy over ≤ 10 buckets. */
  def calibration(duels: DataFrame, scores: DataFrame): DataFrame =
    calibrationFromPairs(pairStats(duels), scores)

  /** [[calibration]] from a pair-statistics table — bit-identical to
    * grading the raw duels (every duel of a pair shares the pair's
    * scores, so its decile and prediction are per-pair constants, and
    * long sums regroup associatively), but the frame in flight is the
    * ENTITY-PAIR-bounded matrix, never the duel stream. This is the
    * shape a sweep at any scale must use: round 13's sf10 run proved
    * the duel-sized alternative OOMs a 48 GiB single-JVM stand-in
    * (AGGREGATE_OUT_OF_MEMORY) where the pair matrix sails through. */
  def calibrationFromPairs(pairStats: DataFrame,
                           scores: DataFrame): DataFrame =
    pairStats
      .select(col("i").cast("long"), col("j").cast("long"),
        col("n").cast("long"), col("wi").cast("long"))
      .join(broadcast(scores.select(col("id").as("i"),
        col("bt").as("sci"))), Seq("i"))
      .join(broadcast(scores.select(col("id").as("j"),
        col("bt").as("scj"))), Seq("j"))
      .where(col("sci") =!= col("scj"))
      .select(expr("least(abs(sci - scj) DIV 100000L, 9L)").as("gap_decile"),
        col("n"),
        when(col("sci") > col("scj"), col("wi"))
          .otherwise(col("n") - col("wi")).as("hw"))
      .groupBy("gap_decile")
      .agg(sum(col("n")).as("n_duels"),
        sum(col("hw")).as("higher_wins"))
      .withColumn("rate_milli",
        expr("higher_wins * 1000L DIV n_duels"))

  /** DPO training-pair export — the materialization step between
    * preference aggregation and trainer input: one row per canonical
    * entity pair with at least `minDuels` judgments, oriented by the
    * FITTED scores (chosen = higher-scored side), carrying the score
    * margin and the pair's empirical win rate, and kept only when the
    * pair's own duels do not CONTRADICT the score order (winrate ≥
    * 500 milli — exact 50/50 ties are kept, the score order breaks
    * them; a pair whose duels majority-contradict the global ranking
    * is a label-noise audit candidate, not a training pair). Equal-score
    * pairs carry no preference signal and are dropped. Exact integers
    * (`winrate_milli = wins·1000 div n`).
    *
    * Scale shape: reads the [[pairStats]] matrix, so a caller that
    * already holds (or checkpointed) it shares it between the fit and
    * the export instead of re-deriving or, worse, checkpointing the
    * duel stream (the round-13 sf10 OOM); the entity-sized score
    * vector broadcasts into the pair list twice; everything after is
    * a per-pair projection — nothing else moves at billions of
    * duels. */
  def dpoPairsFromStats(pairStats: DataFrame, scores: DataFrame,
                        minDuels: Long = 2L): DataFrame =
    pairStats
      .select(col("i").cast("long"), col("j").cast("long"),
        col("n").cast("long"), col("wi").cast("long"))
      .join(broadcast(scores.select(col("id").as("i"),
        col("bt").as("si"))), Seq("i"))
      .join(broadcast(scores.select(col("id").as("j"),
        col("bt").as("sj"))), Seq("j"))
      .where(col("n") >= minDuels && col("si") =!= col("sj"))
      .select(
        when(col("si") > col("sj"), col("i")).otherwise(col("j"))
          .as("chosen"),
        when(col("si") > col("sj"), col("j")).otherwise(col("i"))
          .as("rejected"),
        col("n").as("n_duels"),
        when(col("si") > col("sj"), col("wi"))
          .otherwise(col("n") - col("wi")).as("wins_chosen"),
        expr("abs(si - sj)").as("margin"))
      .withColumn("winrate_milli",
        expr("wins_chosen * 1000L div n_duels"))
      .where(col("winrate_milli") >= 500L)

  /** DuckDB oracle for [[dpoPairsFromStats]] over the [[fit]] scores — appends
    * the export projection to the shared score chain, so the gate and
    * the fit gates cannot pin different score definitions. */
  def dpoPairsOracleSql(duelsSql: String, iters: Int,
                        minDuels: Long = 2L): String =
    oracleChain(duelsSql, iters) +
      s""",
         |dpo_p AS (SELECT i, j, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN awin THEN 1 ELSE 0 END) AS BIGINT) AS wi
         |  FROM duels GROUP BY 1, 2),
         |dpo AS (SELECT
         |    CASE WHEN si.s > sj.s THEN p.i ELSE p.j END AS chosen,
         |    CASE WHEN si.s > sj.s THEN p.j ELSE p.i END AS rejected,
         |    p.n AS n_duels,
         |    CASE WHEN si.s > sj.s THEN p.wi ELSE p.n - p.wi END
         |      AS wins_chosen,
         |    CAST(abs(si.s - sj.s) AS BIGINT) AS margin
         |  FROM dpo_p p JOIN it$iters si ON si.id = p.i
         |  JOIN it$iters sj ON sj.id = p.j
         |  WHERE p.n >= $minDuels AND si.s <> sj.s)
         |SELECT chosen, rejected, n_duels, wins_chosen, margin,
         |  CAST((wins_chosen * 1000) // n_duels AS BIGINT)
         |    AS winrate_milli
         |FROM dpo WHERE (wins_chosen * 1000) // n_duels >= 500
         |ORDER BY chosen, rejected""".stripMargin

  /** Each distinct (prompt `ok`, response `id`) participant of `duels`
    * with its fitted score `s` — the input of both per-response
    * exports ([[ktoLabels]], [[bestOfN]]). */
  private def responseScores(duels: DataFrame,
                             scores: DataFrame): DataFrame =
    duels
      .select(col("ok").cast("long"),
        explode(array(col("i").cast("long"), col("j").cast("long")))
          .as("id"))
      .distinct()
      .join(broadcast(scores.select(col("id"), col("bt").as("s"))),
        Seq("id"))

  /** A prompt's whole response set, for per-prompt totals. */
  private val wholePrompt = Window.partitionBy("ok")
    .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

  /** Unpaired-preference (KTO-style) label export — the post-training
    * data shape for trainers that consume per-response BINARY signals
    * instead of pairs: one row per distinct (prompt, response)
    * participant in the duel stream, labeled desirable = 1 iff its
    * fitted score strictly exceeds the per-prompt LOWER MEDIAN (the
    * element at rank ⌈n/2⌉ by (score, id) — integer-exact, unlike an
    * averaged even-count median). `duels` must carry the prompt key in
    * column `ok` alongside `i`/`j`/`awin`.
    *
    * Scale shape: one distinct over (prompt, response) — duels'
    * participant projection, partial-aggregable — then ONE
    * prompt-partitioned window pass (rank + count + median share a
    * sort); the entity-sized score vector broadcasts in. Nothing
    * prompt-global or driver-side. */
  def ktoLabels(duels: DataFrame, scores: DataFrame): DataFrame = {
    val byScore = Window.partitionBy("ok")
      .orderBy(col("s").asc, col("id").asc)
    responseScores(duels, scores)
      .withColumn("rn", row_number().over(byScore).cast("long"))
      .withColumn("n", count(lit(1)).over(wholePrompt))
      .withColumn("med",
        max(when(col("rn") === expr("(n + 1L) DIV 2L"), col("s")))
          .over(wholePrompt))
      .select(col("ok").as("prompt"), col("id"),
        col("s").as("score_bt"),
        when(col("s") > col("med"), 1L).otherwise(0L).as("desirable"))
  }

  /** DuckDB oracle for [[ktoLabels]] over the [[fit]] scores —
    * appends to the shared score chain (`duelsSql` must select
    * `ok, i, j, awin`; the chain's pair CTEs ignore the extra
    * column). */
  def ktoOracleSql(duelsSql: String, iters: Int): String =
    oracleChain(duelsSql, iters) +
      s""",
         |kto_r AS (SELECT DISTINCT ok, id FROM (
         |    SELECT ok, i AS id FROM duels
         |    UNION ALL SELECT ok, j AS id FROM duels)),
         |kto_w AS (SELECT r.ok, r.id, s.s,
         |    CAST(row_number() OVER (PARTITION BY r.ok
         |      ORDER BY s.s ASC, r.id ASC) AS BIGINT) AS rn,
         |    CAST(count(*) OVER (PARTITION BY r.ok) AS BIGINT) AS n
         |  FROM kto_r r JOIN it$iters s ON s.id = r.id),
         |kto_m AS (SELECT ok,
         |    max(CASE WHEN rn = (n + 1) // 2 THEN s END) AS med
         |  FROM kto_w GROUP BY ok)
         |SELECT w.ok AS prompt, w.id, w.s AS score_bt,
         |  CAST(CASE WHEN w.s > m.med THEN 1 ELSE 0 END AS BIGINT)
         |    AS desirable
         |FROM kto_w w JOIN kto_m m USING (ok)
         |ORDER BY prompt, id""".stripMargin

  /** Best-of-n selection export — the other per-response post-training
    * shape: per prompt, the argmax-scored response (ties broken by
    * id) with its margin over the runner-up and the prompt's response
    * count. Prompts with a single distinct response are dropped (no
    * runner-up, margin undefined). Same scale shape as [[ktoLabels]]:
    * one participant distinct + one prompt-partitioned window pass. */
  def bestOfN(duels: DataFrame, scores: DataFrame): DataFrame = {
    val byScore = Window.partitionBy("ok")
      .orderBy(col("s").desc, col("id").asc)
    responseScores(duels, scores)
      .withColumn("rn", row_number().over(byScore))
      .withColumn("n", count(lit(1)).over(wholePrompt))
      .withColumn("s2",
        max(when(col("rn") === 2, col("s"))).over(wholePrompt))
      .where(col("rn") === 1 && col("n") >= 2L)
      .select(col("ok").as("prompt"), col("id").as("best_id"),
        col("s").as("score_bt"),
        (col("s") - col("s2")).as("margin"),
        col("n").as("n_responses"))
  }

  /** DuckDB oracle for [[bestOfN]] — appends to the shared score
    * chain (`duelsSql` must select `ok, i, j, awin`). */
  def bestOfNOracleSql(duelsSql: String, iters: Int): String =
    oracleChain(duelsSql, iters) +
      s""",
         |bon_r AS (SELECT DISTINCT ok, id FROM (
         |    SELECT ok, i AS id FROM duels
         |    UNION ALL SELECT ok, j AS id FROM duels)),
         |bon_w AS (SELECT r.ok, r.id, s.s,
         |    row_number() OVER (PARTITION BY r.ok
         |      ORDER BY s.s DESC, r.id ASC) AS rn,
         |    CAST(count(*) OVER (PARTITION BY r.ok) AS BIGINT) AS n
         |  FROM bon_r r JOIN it$iters s ON s.id = r.id),
         |bon_m AS (SELECT ok,
         |    max(CASE WHEN rn = 1 THEN id END) AS best_id,
         |    max(CASE WHEN rn = 1 THEN s END) AS s1,
         |    max(CASE WHEN rn = 2 THEN s END) AS s2,
         |    max(n) AS n
         |  FROM bon_w GROUP BY ok)
         |SELECT ok AS prompt, best_id, s1 AS score_bt,
         |  CAST(s1 - s2 AS BIGINT) AS margin, n AS n_responses
         |FROM bon_m WHERE n >= 2
         |ORDER BY prompt""".stripMargin

  /** DuckDB oracle for [[calibration]] over the [[fit]] scores —
    * appends the calibration aggregation to the shared score chain. */
  def calibrationOracleSql(duelsSql: String, iters: Int): String =
    oracleChain(duelsSql, iters) +
      s""",
         |cal AS (SELECT d.awin, si.s AS sci, sj.s AS scj
         |  FROM duels d JOIN it$iters si ON si.id = d.i
         |  JOIN it$iters sj ON sj.id = d.j
         |  WHERE si.s <> sj.s)
         |SELECT least(abs(sci - scj) // 100000, 9) AS gap_decile,
         |  CAST(count(*) AS BIGINT) AS n_duels,
         |  CAST(sum(CASE WHEN (sci > scj) = awin THEN 1 ELSE 0 END)
         |    AS BIGINT) AS higher_wins,
         |  (CAST(sum(CASE WHEN (sci > scj) = awin THEN 1 ELSE 0 END)
         |    AS BIGINT) * 1000) // CAST(count(*) AS BIGINT) AS rate_milli
         |FROM cal GROUP BY 1 ORDER BY 1""".stripMargin
}
