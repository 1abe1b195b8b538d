package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Completeness-based entity dedup — the reference's flagship semantics
  * (jobs/spark/merge_dedup.py:14-29): rows agreeing on a business key
  * are the same entity; keep the single most-complete row (fewest
  * NULLs).
  *
  * Scale notes (100 TB): the window form is ONE hash-partition shuffle
  * on the key + intra-partition sorts, and since Spark 3.5
  * `InferWindowGroupLimit` adds a PARTIAL `WindowGroupLimit` below the
  * exchange — each map task ships one candidate per key, i.e. the
  * map-side combine the aggregate form was assumed to monopolize.
  * Measured A/B (sf0.1, local[32], medians):
  * at ~2.6 rows/key window 2.1 s vs min_by_obj 3.1 s; at ~50 rows/key
  * min_by_obj 0.99 s vs window 1.6 s. Crossover ≈ 10 rows/key — use
  * [[keepMostComplete]] for lightly-duplicated data and
  * [[keepMostCompleteAgg]] when duplication is heavy or keys are
  * skewed (the object-hash aggregate has no per-group sort to skew). */
object Dedup {

  /** A1 (merge_dedup.py:21-22) — horizontal null count: an N-ary
    * projection `Σ when(isNull,1,0)`, not an aggregate. */
  def nullCount(cols: Seq[Column]): Column =
    cols.map(c => when(c.isNull, lit(1)).otherwise(lit(0)))
      .reduce(_ + _)

  /** W1+F2 (merge_dedup.py:20-29) — window row_number dedup.
    * The reference orders by null_count only, leaving ties
    * nondeterministic; `tiebreak` columns make the kept row stable so
    * the DuckDB oracle can match (SURVEY §7.4). */
  def keepMostComplete(df: DataFrame, keys: Seq[String],
                       tiebreak: Seq[String],
                       countedCols: Option[Seq[String]] = None): DataFrame = {
    val counted = countedCols.getOrElse(df.columns.toIndexedSeq)
    val withNc = df.withColumn("__null_count", nullCount(counted.map(col)))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((col("__null_count").asc +: tiebreak.map(col(_).asc)): _*)
    withNc.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__null_count")
  }

  /** Same semantics as [[keepMostComplete]] via a min-by aggregate over
    * a packed (null_count, tiebreak) ordering struct. One
    * partial-aggregable shuffle, no sort, no row_number — the
    * heavy-duplication path (measured crossover vs the window form is
    * ~10 rows/key; see the object scaladoc).
    *
    * Uses [[graft.functions.MinByObj]], not the built-in `min_by`: the
    * declarative min_by keeps its struct arguments in the aggregation
    * buffer, struct buffers aren't HashAggregate-mutable, and the plan
    * silently degrades to SortAggregateExec. The typed-imperative twin
    * runs in ObjectHashAggregateExec and measured faster than the
    * declarative form at BOTH duplication regimes once its ordering
    * was codegen'd and the compact single-struct form landed
    * (obj 3.09/0.99 s vs decl 3.27/1.55 s — low/high dup). */
  def keepMostCompleteAgg(df: DataFrame, keys: Seq[String],
                          tiebreak: Seq[String]): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    val counted = df.columns.toIndexedSeq
    val ord = struct(
      (nullCount(counted.map(col)).as("__nc") +: tiebreak.map(col)): _*)
    // build the structs in a codegen'd Project BELOW the aggregate:
    // a typed-imperative update() evaluates its argument expressions
    // interpreted per row, so handing it CreateStruct trees would undo
    // the sort-free win — handing it ready attributes keeps the
    // per-row work whole-stage-compiled
    if (counted.forall(c => keys.contains(c) || tiebreak.contains(c)) &&
        tiebreak.distinct == tiebreak) {
      // COMPACT path: the ordering struct already carries every output
      // column, so aggregate ONE struct — min_by_obj(ord, ord) evals
      // once, copies once, and ships half the bytes of the two-struct
      // form (see MinByObj.sameExpr). This is the common dedup shape:
      // determinism demands a total tiebreak, which means full-row.
      df.withColumn("__ord", ord)
        .groupBy(keys.map(col): _*)
        .agg(call_function("min_by_obj", col("__ord"), col("__ord"))
          .as("__row"))
        .select(counted.map { c =>
          if (tiebreak.contains(c)) col(s"__row.$c").as(c) else col(c)
        }: _*)
    } else {
      val packed = struct(counted.map(col): _*)
      df.withColumn("__ord", ord).withColumn("__packed", packed)
        .groupBy(keys.map(col): _*)
        .agg(call_function("min_by_obj", col("__packed"), col("__ord"))
          .as("__row"))
        .select(counted.map(c => col(s"__row.$c").as(c)): _*)
    }
  }

  /** Content fingerprint table of a corpus: one distinct `__fp` row
    * per distinct content. This is the artifact the incremental path
    * anti-joins against — at 100 TB it is STORED (bucketed on `__fp`,
    * maintained by [[graft.ops.Merge.upsert]] as batches land), not
    * recomputed; this helper exists to build/refresh it. */
  def contentFingerprints(corpus: DataFrame,
                          contentCols: Seq[String]): DataFrame =
    corpus.select(sha2(to_json(struct(contentCols.map(col): _*)), 256)
      .as("__fp")).distinct()

  /** Incremental exact dedup — the daily-ingest case: keep batch rows
    * whose content fingerprint is NEW (not duplicated within the
    * batch, not present in `corpusFp`, a `__fp` table from
    * [[contentFingerprints]] — pass the STORED one; each increment
    * then costs one within-batch aggregate + one anti-join, never a
    * corpus payload scan). NULL content participates like any other
    * value (all-NULL rows share one fingerprint) — the SQL analogue
    * is `IS NOT DISTINCT FROM`, not `=`. The fingerprint is computed
    * ONCE per batch row, before the within-batch compaction, and
    * carried through to the anti-join. */
  def incrementalExactDedupByFp(corpusFp: DataFrame, batch: DataFrame,
                                contentCols: Seq[String],
                                tiebreak: Seq[String]): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(batch.sparkSession)
    val counted = batch.columns.toIndexedSeq
    batch
      .withColumn("__fp",
        sha2(to_json(struct(contentCols.map(col): _*)), 256))
      .withColumn("__ord", struct(tiebreak.map(col): _*))
      .withColumn("__packed", struct(counted.map(col): _*))
      .groupBy(col("__fp"))
      .agg(call_function("min_by_obj", col("__packed"), col("__ord"))
        .as("__row"))
      .join(corpusFp, Seq("__fp"), "left_anti")
      .select(counted.map(c => col(s"__row.$c").as(c)): _*)
  }

  /** Convenience wrapper deriving the fingerprint set from the corpus
    * PAYLOAD — one full corpus scan per call; fine for tests and
    * one-offs, wrong for the daily path (use the stored-fingerprint
    * form above). */
  def incrementalExactDedup(corpus: DataFrame, batch: DataFrame,
                            contentCols: Seq[String],
                            tiebreak: Seq[String]): DataFrame =
    incrementalExactDedupByFp(contentFingerprints(corpus, contentCols),
      batch, contentCols, tiebreak)

  /** Exact duplicate removal at content granularity: group on a
    * fingerprint of `contentCols`, keep the row with the smallest
    * tiebreak. Backbone of the exact-dedup stage of a training-data
    * pipeline; one shuffle, partial-aggregable. */
  def exactDedup(df: DataFrame, contentCols: Seq[String],
                 tiebreak: Seq[String]): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    // hash an UNAMBIGUOUS encoding: concat_ws skips NULLs (NULL vs ''
    // collide) - to_json(struct) preserves column boundaries, quoting,
    // and null-vs-empty distinctions
    val fp = sha2(to_json(struct(contentCols.map(col): _*)), 256)
    val counted = df.columns.toIndexedSeq
    // materialize the structs in a codegen'd Project BELOW the
    // aggregate (same reasoning as keepMostCompleteAgg: a
    // typed-imperative update() evaluates raw CreateStruct argument
    // trees interpreted per row)
    df.withColumn("__fp", fp)
      .withColumn("__packed", struct(counted.map(col): _*))
      .withColumn("__ord", struct(tiebreak.map(col): _*))
      .groupBy(col("__fp"))
      // min_by_obj, not min_by: ObjectHashAggregate vs SortAggregate
      // (see keepMostCompleteAgg)
      .agg(call_function("min_by_obj", col("__packed"), col("__ord"))
        .as("__row"))
      .select(counted.map(c => col(s"__row.$c").as(c)): _*)
  }

  /** [[exactDedup]] that PRESERVES multiplicity: one representative
    * per content fingerprint plus `weight` = how many copies it stood
    * for — the count-aware variant a training pipeline uses when
    * duplicates should be collapsed for storage but their frequency
    * kept as a sampling/loss weight (or for a dedup-impact report)
    * rather than discarded. Same single partial-aggregable shuffle;
    * the count rides the existing aggregate for free. */
  def exactDedupWeighted(df: DataFrame, contentCols: Seq[String],
                         tiebreak: Seq[String]): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    val fp = sha2(to_json(struct(contentCols.map(col): _*)), 256)
    val counted = df.columns.toIndexedSeq
    df.withColumn("__fp", fp)
      .withColumn("__packed", struct(counted.map(col): _*))
      .withColumn("__ord", struct(tiebreak.map(col): _*))
      .groupBy(col("__fp"))
      .agg(call_function("min_by_obj", col("__packed"), col("__ord"))
        .as("__row"),
        count(lit(1)).as("weight"))
      .select(counted.map(c => col(s"__row.$c").as(c)) :+
        col("weight"): _*)
  }
}
