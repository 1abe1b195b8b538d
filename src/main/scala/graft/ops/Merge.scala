package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental-maintenance operators: upsert, CDC merge-apply, and
  * SCD type-2 history — the "MERGE INTO" family an ETL engine needs
  * once a pipeline runs repeatedly instead of from scratch (the
  * reference re-snapshots daily and overwrites,
  * jobs/spark/merge_dedup.py:31-41 + dags/pipeline.py; these operators
  * are what that pattern grows into at 100 TB, where rewriting the
  * world daily is not an option).
  *
  * Scale shapes:
  *  - [[upsert]]: one anti-join on the key + a union. No sort, no
  *    window. The key-set side is NOT hint-forced to broadcast: a
  *    daily delta ≪ snapshot gets broadcast anyway (statically when
  *    stats are under spark.sql.autoBroadcastJoinThreshold, else by
  *    AQE from the measured size of the distinct-keys aggregate),
  *    while a fact-sized CDC batch degrades gracefully to a shuffled
  *    anti-join instead of failing on the 8 GB broadcast limit /
  *    driver OOM — a forced hint would suppress exactly that judgment.
  *  - [[applyCdc]]: ONE partial-aggregable max_by_obj shuffle over the
  *    change log ([[Dedup.firstPerKey]]; each task ships one candidate
  *    per key) + the upsert join. Change logs compact before touching
  *    the snapshot.
  *  - [[scd2]]: one window (shuffle + intra-partition sort on the
  *    key) — inherent to "each version needs its successor". */
object Merge {

  /** Replace target rows whose key appears in `updates`; append the
    * rest. Both sides must share the full schema. */
  def upsert(target: DataFrame, updates: DataFrame,
             keys: Seq[String]): DataFrame = {
    val kept = target.join(updates.select(keys.map(col): _*)
        .distinct(), keys, "left_anti")
    kept.unionByName(updates)
  }

  /** Apply a CDC change log to a snapshot. `changes` carries the
    * snapshot schema plus `opCol` ('U' upsert / 'D' delete) and is
    * ordered per key by `ordCols` (must be total per key for a
    * deterministic outcome — include a unique change id). Per key the
    * LATEST change wins: 'U' replaces the snapshot row, 'D' removes
    * it; keys without changes pass through.
    *
    * The compaction is [[Dedup.firstPerKey]] with `largest` — one
    * max_by_obj ObjectHashAggregate, map-side combine, no sort — so a
    * billion-row change log reduces to one row per touched key before
    * the snapshot is ever read. */
  def applyCdc(snapshot: DataFrame, changes: DataFrame, keys: Seq[String],
               ordCols: Seq[String], opCol: String): DataFrame = {
    val payloadCols = snapshot.columns.toIndexedSeq
    require((payloadCols :+ opCol).toSet.subsetOf(changes.columns.toSet),
      "changes must carry the snapshot schema plus the op column")
    val compacted = Dedup.firstPerKey(changes, keys, ordCols.map(col),
      payloadCols :+ opCol, largest = true)
    val upserts = compacted.filter(col(opCol) =!= "D")
      .select(payloadCols.map(col): _*)
    // touched = every key with ANY change (deletes must suppress the
    // snapshot row even when the delete is the latest change)
    // no broadcast hint: see the object scaladoc — the planner/AQE
    // broadcasts a small touched-key set on its own, and a fact-sized
    // change batch must be allowed to shuffle instead
    val touched = changes.select(keys.map(col): _*).distinct()
    snapshot.join(touched, keys, "left_anti")
      .unionByName(upserts)
  }

  /** Snapshot diff — the dataset-regression primitive: classify every
    * key of two same-schema snapshots as added / removed / changed /
    * unchanged. One full-outer join on the key with the payloads
    * packed into structs (null-safe struct comparison), so the diff
    * is a single shuffle regardless of column count. Output:
    * keys ++ (status, old payload struct, new payload struct).
    *
    * Payload comparison uses `<=>` on the packed structs: rows whose
    * payload columns contain NULLs compare field-wise with
    * null == null — the `IS NOT DISTINCT FROM` semantics a diff
    * wants. */
  def diffSnapshots(prev: DataFrame, next: DataFrame,
                    keys: Seq[String]): DataFrame = {
    require(prev.schema == next.schema,
      "diffSnapshots requires identical schemas (names AND types — a " +
        "type drift is exactly the regression a diff must catch, not " +
        s"coerce away): ${prev.schema.simpleString} vs " +
        next.schema.simpleString)
    val payload = prev.columns.filterNot(keys.contains).toSeq
    val p = prev.select(keys.map(col) :+
      struct(payload.map(col): _*).as("__old"): _*)
    val n = next.select(keys.map(col) :+
      struct(payload.map(col): _*).as("__new"): _*)
    p.join(n, keys, "full_outer")
      .withColumn("status",
        when(col("__old").isNull, lit("added"))
          .when(col("__new").isNull, lit("removed"))
          .when(!(col("__old") <=> col("__new")), lit("changed"))
          .otherwise(lit("unchanged")))
  }

  /** SCD type-2 history from a version log: each (key, version) row
    * gains `valid_from` (its own `effCol`), `valid_to` (the next
    * version's, null for the current one) and `is_current`. Versions
    * must be totally ordered per key by (`effCol`, tiebreak). */
  def scd2(versions: DataFrame, keys: Seq[String], effCol: String,
           tiebreak: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((col(effCol).asc +: tiebreak.map(col(_).asc)): _*)
    versions
      .withColumn("valid_from", col(effCol))
      .withColumn("valid_to", lead(col(effCol), 1).over(w))
      .withColumn("is_current",
        when(col("valid_to").isNull, lit(1)).otherwise(lit(0)))
  }
}
