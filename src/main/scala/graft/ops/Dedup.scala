package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.{maxByObj, minByObj}

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
  * [[keepMostComplete]] for lightly-duplicated data and the
  * [[firstPerKey]] aggregate (through [[keepMostCompleteAgg]]) when
  * duplication is heavy or keys are skewed (the object-hash aggregate
  * has no per-group sort to skew). */
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
                       tiebreak: Seq[String]): DataFrame = {
    val withNc = df.withColumn("__null_count",
      nullCount(df.columns.toIndexedSeq.map(col)))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((col("__null_count").asc +: tiebreak.map(col(_).asc)): _*)
    withNc.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__null_count")
  }

  /** Keep one row per `keys` group — the one whose `ord` struct is
    * smallest (largest with `largest`) — as the `keep` columns in their
    * given order, `extra` aggregates after them. The sort-free form of
    * W1+F2: ONE partial-aggregable shuffle, no sort, no row_number.
    * Ties on `ord` keep an arbitrary candidate, so a deterministic
    * caller makes `ord` total.
    *
    * Uses [[graft.functions.MinByObj]], not the built-in `min_by`,
    * whose struct buffers degrade the plan to SortAggregateExec (the
    * measurements are in MinByObj's scaladoc).
    *
    * COMPACT form, when every kept non-key column is a plain `ord`
    * column: the ordering struct already carries the output row, so
    * ONE struct is aggregated — min_by_obj(ord, ord) evals once,
    * copies once, and ships half the bytes of the two-struct form
    * (see MinByObj.sameExpr). This is the common dedup shape:
    * determinism demands a total tiebreak, which means full-row.
    * Otherwise the kept non-key columns ride a second `__packed`
    * struct. A kept column no struct carries is a key, read from the
    * grouping key. */
  def firstPerKey(df: DataFrame, keys: Seq[String], ord: Seq[Column],
                  keep: Seq[String], largest: Boolean = false,
                  extra: Seq[Column] = Nil): DataFrame = {
    val payload = keep.filterNot(keys.contains)
    val plain = keep.filter(c => ord.contains(col(c)))
    val compact = payload.forall(plain.contains) && ord.distinct == ord
    // build the structs in a codegen'd Project BELOW the aggregate:
    // a typed-imperative update() evaluates its argument expressions
    // interpreted per row, so handing it CreateStruct trees would undo
    // the sort-free win — handing it ready attributes keeps the
    // per-row work whole-stage-compiled
    val withOrd = df.withColumn("__ord", struct(ord: _*))
    val (in, value, carried) =
      if (compact) (withOrd, col("__ord"), plain)
      else (withOrd.withColumn("__packed", struct(payload.map(col): _*)),
        col("__packed"), payload)
    val row = if (largest) maxByObj(value, col("__ord"))
              else minByObj(value, col("__ord"))
    val picked = in.groupBy(keys.map(col): _*)
      .agg(row.as("__row"), extra: _*)
    picked.select(keep.map { c =>
      if (carried.contains(c)) col(s"__row.$c").as(c) else col(c)
    } ++ picked.columns.drop(keys.size + 1).map(col): _*)
  }

  /** Same semantics as [[keepMostComplete]] via [[firstPerKey]] over a
    * (null_count, tiebreak) ordering struct — the heavy-duplication
    * path (measured crossover vs the window form is ~10 rows/key; see
    * the object scaladoc). */
  def keepMostCompleteAgg(df: DataFrame, keys: Seq[String],
                          tiebreak: Seq[String]): DataFrame = {
    val counted = df.columns.toIndexedSeq
    firstPerKey(df, keys,
      nullCount(counted.map(col)).as("__nc") +: tiebreak.map(col), counted)
  }

  // hash an UNAMBIGUOUS encoding: concat_ws skips NULLs (NULL vs ''
  // collide) - to_json(struct) preserves column boundaries, quoting,
  // and null-vs-empty distinctions
  private def fingerprint(contentCols: Seq[String]): Column =
    sha2(to_json(struct(contentCols.map(col): _*)), 256)

  /** Content fingerprint table of a corpus: one distinct `__fp` row
    * per distinct content. This is the artifact the incremental path
    * anti-joins against — at 100 TB it is STORED (bucketed on `__fp`,
    * maintained by [[graft.ops.Merge.upsert]] as batches land), not
    * recomputed; this helper exists to build/refresh it. */
  def contentFingerprints(corpus: DataFrame,
                          contentCols: Seq[String]): DataFrame =
    corpus.select(fingerprint(contentCols).as("__fp")).distinct()

  /** The exact-dedup family's one body: per content fingerprint, the
    * row with the smallest `tiebreak`, then `extra` — over the rows
    * whose fingerprint is absent from `corpusFp` when one is given. */
  private def firstPerFingerprint(df: DataFrame, contentCols: Seq[String],
                                  tiebreak: Seq[String],
                                  corpusFp: Option[DataFrame] = None,
                                  extra: Seq[Column] = Nil): DataFrame = {
    val withFp = df.withColumn("__fp", fingerprint(contentCols))
    firstPerKey(corpusFp.fold(withFp)(withFp.join(_, Seq("__fp"), "left_anti")),
      Seq("__fp"), tiebreak.map(col), df.columns.toIndexedSeq, extra = extra)
  }

  /** Incremental exact dedup — the daily-ingest case: keep batch rows
    * whose content fingerprint is NEW (not duplicated within the
    * batch, not present in `corpusFp`, a `__fp` table from
    * [[contentFingerprints]] — pass the STORED one; each increment
    * then costs one within-batch aggregate + one anti-join, never a
    * corpus payload scan). NULL content participates like any other
    * value (all-NULL rows share one fingerprint) — the SQL analogue
    * is `IS NOT DISTINCT FROM`, not `=`. The fingerprint is computed
    * ONCE per batch row; the anti-join keys on it, the grouping key,
    * so it runs below the within-batch compaction. */
  def incrementalExactDedupByFp(corpusFp: DataFrame, batch: DataFrame,
                                contentCols: Seq[String],
                                tiebreak: Seq[String]): DataFrame =
    firstPerFingerprint(batch, contentCols, tiebreak, Some(corpusFp))

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
                 tiebreak: Seq[String]): DataFrame =
    firstPerFingerprint(df, contentCols, tiebreak)

  /** [[exactDedup]] that PRESERVES multiplicity: one representative
    * per content fingerprint plus `weight` = how many copies it stood
    * for — the count-aware variant a training pipeline uses when
    * duplicates should be collapsed for storage but their frequency
    * kept as a sampling/loss weight (or for a dedup-impact report)
    * rather than discarded. Same single partial-aggregable shuffle;
    * the count rides the existing aggregate for free. */
  def exactDedupWeighted(df: DataFrame, contentCols: Seq[String],
                         tiebreak: Seq[String]): DataFrame =
    firstPerFingerprint(df, contentCols, tiebreak,
      extra = Seq(count(lit(1)).as("weight")))
}
