package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import scala.util.control.NonFatal

/** Freeing `localCheckpoint()` storage deterministically.
  *
  * `Dataset.unpersist()` is a NO-OP for a checkpointed Dataset: the
  * checkpoint RDD's persistence is registered on the RDD itself, not
  * through the Dataset's CacheManager entry, so the blocks stay pinned
  * until the RDD is garbage-collected — and a checkpoint taken during
  * SETUP (before Bench captures its session-baseline RDD set) is then
  * treated as baseline scaffolding and survives the whole session
  * (round-12 advice, `Tombstones.recordAll`).
  *
  * The fix frees the EXACT RDD backing the checkpointed frame (its
  * plan is a `LogicalRDD` holding it) — never a `getPersistentRDDs`
  * id-delta, which under Bench's parallel prepare pool would unpersist
  * a CONCURRENT prepare's live checkpoints (observed:
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND in pref_score_store while
  * cross_takedown_stores' cleanup ran, round 13). */
object Checkpoints {

  /** STORAGE-LEVEL POLICY for localCheckpoints (r13 verdict item 2,
    * pinned by `CheckpointPolicySpec`):
    *
    *  - Bare `localCheckpoint()` (deserialized MEMORY_AND_DISK) is
    *    reserved for frames that are BOTH bounded-or-linear in row
    *    count AND narrow (fixed-width numeric columns — entity/pair
    *    vectors, edge lists, bounded aggregates). Their deserialized
    *    footprint is a few dozen bytes per row and iterative
    *    consumers re-read them every round, so deserialized blocks
    *    are the right trade.
    *  - Any checkpoint of a frame carrying CORPUS PAYLOAD
    *    (variable-width text / array columns) or super-linear row
    *    counts must use [[spill]] instead: serialized blocks cap the
    *    storage-pool claim at the compact binary size and overflow to
    *    disk, leaving the unified-memory execution half free. Round
    *    13's sf10 sweep is the measured failure of breaking this:
    *    duel-sized deserialized checkpoints in the preference gates
    *    starved hash aggregation under -Xmx48g
    *    (AGGREGATE_OUT_OF_MEMORY) where the pair matrix — or a
    *    serialized level — sails through. */
  def spill(df: DataFrame): DataFrame =
    df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)

  /** REMOVED round 17: `pinPartitioned(df, key)` — materialize an
    * iteration-static frame hash-partitioned on `key` via
    * `repartition(key).persist()` so per-iteration aggregates plan no
    * Exchange (round 16, KCore/PageRank). The exchange-free plan was
    * real (PinPartitionedSpec pinned it), but the mechanism LOST under
    * cold conditions every time it was measured honestly: the round-16
    * driver bench adjudicated q_graph_kcore 7.8 → 13.8 s (inverse
    * scaling 0.31 — 8 cores beat 32 by 3×) and q_web_host_rank
    * 1.7 → 2.5 s cold, and a round-17 interleaved cold A/B still
    * measured the pin behind plain `localCheckpoint()` with a
    * data-proportional partition count and no engine-wide conf
    * (kcore pinned 9.99 s vs checkpointed 8.69 s; pagerank flat).
    * The per-iteration exchange it removes ships a NODE-sized
    * partial-aggregated vector — cheap — while the pin bills the gate
    * an upfront full-edge shuffle, a persist whose blocks carry live
    * lineage, and (in the r16 form) an AQE-cached-plan conf that
    * changed behavior for every cached frame in the engine. Do not
    * re-add on warm same-JVM A/B evidence; only a cold-JVM paired win
    * at local[32] AND a non-degraded 8-core reading justifies it.
    *
    * (The original rationale, kept for the record: a checkpoint scan
    * reports `UnknownPartitioning`, so `repartition(col)
    * .localCheckpoint()` still plans the per-round Exchange — pinning
    * needs persist(), whose cached plan keeps its output
    * partitioning.) */

  /** Eager deserialized localCheckpoint of a NARROW frame (same
    * storage policy as a bare `localCheckpoint()` — callers' contract)
    * that ALSO returns `max(c)` over the checkpointed rows, computed
    * INSIDE the checkpoint job via `Dataset.observe` instead of a
    * separate scalar job + BroadcastExchange (r16 verdict item 5:
    * the preference fits ran one eager raw-vector checkpoint, one
    * max-anchor aggregate job, and one broadcast build PER ITERATION;
    * the anchor is derivable from rows the checkpoint job already
    * streams past). The observed metric is a MAX, which is idempotent
    * under task retries/resubmission — do NOT copy this pattern for
    * sum-like metrics, where a resubmitted map stage can double-count
    * accumulator updates. Returns `None` for the max when the frame
    * is empty (callers' downstream is empty anyway). Results are
    * bit-identical to the two-job shape: the same long max feeds the
    * same integer expression, now as a literal (pinned by
    * CheckpointWithMaxSpec and the exact-value fit specs). `c` must be
    * a LongType column; any other type is rejected up front. */
  def checkpointWithMax(df: DataFrame, c: String)
      : (DataFrame, Option[Long]) = {
    val t = df.schema(c).dataType
    require(t == org.apache.spark.sql.types.LongType,
      s"checkpointWithMax: column '$c' is $t, not LongType — the " +
        "observed max is read as a long; cast the column first")
    val row = checkpointObserving(df, s"graft_ckpt_max_$c",
      org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col(c)))
    (row._1, if (row._2.isNullAt(0)) None else Some(row._2.getLong(0)))
  }

  /** General form of [[checkpointWithMax]]: eager deserialized
    * localCheckpoint returning the row of `metric` observed over the
    * checkpointed data — for fusing an iterative loop's scalar control
    * reads (max anchors, changed-row convergence counts) into the
    * checkpoint job they would otherwise follow as a separate job.
    * Retry caveat as above: only metrics whose CONSUMED property is
    * idempotent under task resubmission belong here — max is, and so
    * is the ZERONESS of a count over deterministic rows (replays can
    * re-add contributions, but a zero count has none to re-add) —
    * never a consumed exact sum. */
  def checkpointObserving(df: DataFrame, tag: String,
                          metric: org.apache.spark.sql.Column)
      : (DataFrame, org.apache.spark.sql.Row) = {
    val observed = df.observe(tag, metric)
    val ck = observed.localCheckpoint()
    (ck, observed.queryExecution.observedMetrics(tag))
  }

  /** The one fixed-point loop of the iterative operators (PageRank,
    * Communities, KCore, BradleyTerry, RankCentrality, Components):
    * runs `step(state, i)` for i = 1 … `maxIter` from `init` and
    * returns the final state with whether `stopWhenZero` stopped it.
    *
    *  - Lineage. The state is cut with an eager `localCheckpoint()`
    *    after every `every`-th step and after the last, so each cut's
    *    plan is one block of steps over the previous cut's blocks, not
    *    the whole history. Persisting alone reuses data but leaves the
    *    plan growing: a step that reads its predecessor twice doubles
    *    the tree per round, and the analyzer runs out of memory near
    *    round 12.
    *  - Cadence. `every = 1` for states that feed two consumers per
    *    round (fusing rounds then recomputes them); the preference fits
    *    fuse 5 steps (BASELINE.md round 12: BT 3.61 → 3.32 s, RC 4.31 →
    *    4.19 s), which is safe because each of their steps cuts its own
    *    raw vector, so a lazy state is one projection off a checkpoint.
    *    Results are identical for any cadence: every recurrence here is
    *    exact integer arithmetic.
    *  - Convergence. With `stopWhenZero`, every step is cut through
    *    [[checkpointObserving]] and the loop stops at the first step
    *    whose metric (a long count over the step's rows) is zero. Only
    *    the count's zeroness is read, and task retries cannot change it
    *    (see [[checkpointObserving]]).
    *  - Freeing. Each cut this loop made is freed with [[free]] once the
    *    next cut is materialized, so one state's blocks stay pinned,
    *    not one per round. `init` belongs to the caller and is never
    *    freed. */
  def iterate(init: DataFrame, maxIter: Int, every: Int = 1,
              stopWhenZero: Option[org.apache.spark.sql.Column] = None)
             (step: (DataFrame, Int) => DataFrame): (DataFrame, Boolean) = {
    require(every >= 1, s"iterate: every must be >= 1, got $every")
    @scala.annotation.tailrec
    def go(state: DataFrame, cut: Option[DataFrame],
           i: Int): (DataFrame, Boolean) =
      if (i > maxIter) (state, false)
      else {
        val next = step(state, i)
        stopWhenZero match {
          case Some(m) =>
            val (ck, row) = checkpointObserving(next, "graft_iterate", m)
            cut.foreach(free)
            if (row.getLong(0) == 0L) (ck, true) else go(ck, Some(ck), i + 1)
          case None if i % every == 0 || i == maxIter =>
            val ck = next.localCheckpoint()
            cut.foreach(free)
            go(ck, Some(ck), i + 1)
          case None => go(next, cut, i + 1)
        }
      }
    go(init, None, 1)
  }

  /** Unpersist the checkpoint blocks behind `df` (a frame returned by
    * `localCheckpoint()`). Safe on any frame: a plan that is not a
    * checkpoint scan is left untouched. */
  def free(df: DataFrame): Unit =
    try df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    } catch {
      // callers free in `finally`: a throw here would mask the gate's
      // own error
      case NonFatal(_) => ()
    }
}
