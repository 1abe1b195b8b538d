package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generic tombstone lifecycle for id-keyed persisted stores — the
  * takedown mechanism shared by every store family (inverted index,
  * ANN buckets, media fingerprints): a document spread across many
  * partitions (its terms' prefixes, its bands' buckets) cannot be
  * physically deleted without rewriting most of the store, so a
  * takedown APPENDS ids to a side table (O(|removal|), zero rewrite),
  * readers anti-join it, and a compaction folds it into the data
  * files. See [[InvertedIndexStore]] / [[AnnIndex]] for the wired
  * store families and TakedownSpec for the pinned contract
  * (tombstoned == compacted == rebuilt-without). */
object Tombstones {

  /** The tombstone side table beside a store table. */
  def table(store: String): String = s"${store}_tombstones"

  /** The durable staging table [[compact]] writes a table's survivor
    * set to in phase 1. Exposed so a `derived` unit's thunk can read a
    * DATA table's already-staged survivors (the post-compaction truth
    * in every crash window) instead of the live table, whose state
    * depends on how far a previous crashed run got. */
  def stagingTable(t: String): String = s"${t}__compact_staging"

  /** Record `removeIds` (a 1-column id frame) as taken down —
    * append-only, idempotent under re-delivery (readers anti-join, so
    * duplicate tombstones change nothing). */
  def record(removeIds: DataFrame, store: String): Unit = {
    val s = removeIds.sparkSession
    val t = table(store)
    if (!s.catalog.tableExists(t)) {
      // in-memory catalog + shared warehouse: a prior session can have
      // left the LOCATION without a catalog entry, and CREATE trips on
      // LOCATION_ALREADY_EXISTS — clear it first (the owning store's
      // StoreGuard re-runs the whole takedown sequence anyway)
      Compaction.dropManagedTable(s, t)
    }
    removeIds.toDF("id")
      .write.format("parquet").mode("append").saveAsTable(t)
  }

  /** Cross-store takedown sweep — ONE removal id set applied to EVERY
    * store family in a single pass, the shape a real DMCA / consent-
    * revocation request has: the id is retracted everywhere it was
    * ever indexed (postings, ANN buckets, media fingerprints), not
    * store-by-store as each team gets around to it. The id frame is
    * materialized once (localCheckpoint) so the N appends share one
    * computation; each append is O(|removal|) and idempotent, so a
    * re-delivered sweep is harmless. The propagation property — no
    * retracted id survives in ANY store's read face — is what
    * q_takedown_cross_store audits against its oracle. */
  def recordAll(removeIds: DataFrame, stores: Seq[String]): Unit = {
    val ids = removeIds.toDF("id").localCheckpoint()
    // Checkpoints.free, not ids.unpersist(): Dataset.unpersist is a
    // no-op for a localCheckpoint()ed frame (the blocks are pinned on
    // the RDD, invisible to the CacheManager), which leaked the id
    // frame into the session baseline when recordAll ran inside an
    // untimed prepare (round-12 advice)
    try stores.foreach(record(ids, _))
    finally Checkpoints.free(ids)
  }

  /** `df` minus tombstoned ids (`df`'s id column must be named `id`) —
    * a broadcast anti-join when the tombstone set is takedown-sized
    * (it is; a set large enough to defeat broadcast is overdue for
    * [[compact]]). */
  def minus(s: SparkSession, store: String, df: DataFrame): DataFrame =
    if (s.catalog.tableExists(table(store)))
      df.join(broadcast(s.table(table(store))), Seq("id"), "left_anti")
    else df

  /** Fold tombstones into the data files: rewrite each
    * `(tableName, partitionCols)` minus the tombstoned ids, then drop
    * the tombstone table. After this the anti-join is over nothing —
    * queries pay zero — and the files genuinely no longer carry the
    * removed documents (the property a takedown audit checks). */
  def compact(s: SparkSession, store: String,
              tables: Seq[(String, Seq[String])],
              idCol: String = "id",
              derived: Seq[(String, () => DataFrame)] = Seq.empty): Unit = {
    if (!s.catalog.tableExists(table(store))) return
    // Two durable phases, never a window where the only copy of a
    // store's surviving rows is ephemeral. Phase 1 writes every
    // survivor set to a staging TABLE on the warehouse (reliable
    // storage) while the sources are still intact — a crash here
    // loses only staging. Phase 2 overwrites each source FROM its
    // durable staging copy — a crash mid-overwrite leaves the
    // survivors recoverable in staging. (The previous localCheckpoint
    // staging held survivors only in executor-local blocks: a failure
    // after the first overwrite began could lose store data on the
    // production deletion path.) Tombstones drop last, so a partial
    // compaction is RE-RUNNABLE: the restore step below heals the one
    // non-atomic window (saveAsTable drops the target before
    // recreating it), and until then readers keep anti-joining.
    // `derived` tables (e.g. a store's maintained corpus-scalars
    // summary) have no per-row id to anti-join: their post-compaction
    // content is the caller's thunk, EVALUATED IN PHASE 1 while the
    // sources and the tombstone table are both still intact, and
    // carried through the identical staging/restore discipline — so
    // summary maintenance inherits the same crash story as the data
    // files instead of adding a second, weaker one.
    val units: Seq[(String, Seq[String], () => DataFrame)] =
      tables.map { case (t, parts) =>
        (t, parts, () => minus(s, store,
            s.table(t).withColumnRenamed(idCol, "id"))
          .withColumnRenamed("id", idCol))
      } ++ derived.map { case (t, f) => (t, Seq.empty[String], f) }
    val staged = units.map { case (t, parts, survivorsOf) =>
      val tmp = stagingTable(t)
      // crash recovery: a previous run died inside phase 2's
      // drop-then-recreate on THIS table — the source is gone but its
      // survivors are durable in staging. Detection and restore go
      // through the FILESYSTEM, not the catalog: the in-memory
      // catalog forgets tables across sessions while the warehouse
      // dir persists (the r10 review's process-death scenario — a
      // catalog-only check would skip the restore and then DELETE the
      // only copy via the staging drop below). A COMPLETE staging
      // write carries _SUCCESS; a partial one (which can only
      // coexist with a missing t when a fresh session forgot an
      // intact t) must NOT restore over t's surviving files. The
      // crashed phase-2 target may itself hold partial files with no
      // catalog entry — CTAS refuses that location, so it is cleared
      // first (nothing is lost: t's catalog entry is already gone and
      // the survivors live in staging).
      val tmpLoc = new org.apache.hadoop.fs.Path(
        s.sessionState.catalog.defaultTablePath(
          org.apache.spark.sql.catalyst.TableIdentifier(tmp)))
      val fs = tmpLoc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!s.catalog.tableExists(t)) {
        if (fs.exists(new org.apache.hadoop.fs.Path(tmpLoc, "_SUCCESS"))) {
          // Staging is deliberately UNPARTITIONED (see the write below),
          // so this read recovers the exact schema from parquet footers.
          // A partitioned staging layout would force partition-column
          // type INFERENCE from directory names here: AnnIndex's long
          // band/bucket columns would come back as ints, and the
          // inverted index's string prefix "00" would normalize to the
          // number 0, colliding with prefix "0" — a silent schema and
          // value change on the recovery path (r10 advice).
          val survivors = s.read.parquet(tmpLoc.toString)
          Compaction.dropManagedTable(s, t)
          val w = survivors.write.format("parquet").mode("overwrite")
          (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).saveAsTable(t)
        } else {
          // t is gone from the catalog AND staging is not restorable
          // (absent, or partial with no _SUCCESS). Falling through to
          // s.table(t) would fail with an opaque TABLE_OR_VIEW_NOT_FOUND;
          // name the state and the options instead (r10 advice). We do
          // NOT silently continue on a partial staging: its rows are a
          // subset of t's survivors, so restoring from it would lose data.
          throw new IllegalStateException(
            s"unrecoverable compaction state for store '$store': table " +
            s"'$t' is missing from the catalog and its staging copy at " +
            s"$tmpLoc is " +
            (if (fs.exists(tmpLoc)) "partial (no _SUCCESS marker)"
             else "absent") +
            ". Recovery options: (a) if this is a fresh session and the " +
            s"warehouse still holds '$t''s files, re-register the table " +
            "(the owning store's StoreGuard does this) and re-run " +
            "compact; (b) rebuild the store from its source corpus; " +
            "(c) restore staging from backup and re-run compact.")
        }
      }
      Compaction.dropManagedTable(s, tmp)
      // The staging write is UNPARTITIONED even for partitioned sources:
      // staging is a transient durability copy, never queried, and an
      // unpartitioned layout keeps the exact column types in parquet
      // footers for the crash-restore read above. Partitioning is
      // re-applied when writing back to t (phase 2 and the restore).
      // idCol: the phash index keys rows by doc_id while the
      // inverted-index/ANN stores use id — rename through the
      // anti-join so the stored layout's own column name survives
      // (derived units substitute their own survivor frame here)
      survivorsOf()
        .write.format("parquet").mode("overwrite").saveAsTable(tmp)
      (t, parts, tmp)
    }
    staged.foreach { case (t, parts, tmp) =>
      val w = s.table(tmp).write.format("parquet").mode("overwrite")
      (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).saveAsTable(t)
      Compaction.dropManagedTable(s, tmp)
    }
    Compaction.dropManagedTable(s, table(store))
  }
}
