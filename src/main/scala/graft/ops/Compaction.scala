package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.Path

/** Small-file compaction — the table-maintenance operator every
  * append-heavy lake needs: streaming sinks and per-batch appends
  * leave thousands of KB-sized files, and at 100 TB the scan cost
  * becomes file-OPEN bound (footer reads, scheduler tasks) rather
  * than byte bound. Compaction rewrites a directory into files of a
  * target size: list the input once to measure bytes, round-robin
  * repartition to `ceil(bytes / target)` even output files, write
  * once. No shuffle key — round-robin gives equal-sized files without
  * assuming any distribution of the data. */
object Compaction {

  /** Total bytes of the parquet data files under `path`. */
  def dataBytes(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
  }

  /** Compact a PARTITIONED managed table in place — the maintenance
    * pass an append-maintained store (the persisted inverted index,
    * the ANN lists) needs: every [[InvertedIndexStore.append]] /
    * [[AnnIndex.appendBatch]] leaves one more file per touched
    * partition, and after N batches each partition holds N files.
    * Rows are clustered back to their partition key (one shuffle; all
    * rows of a partition land in one task → ONE file per partition),
    * staged as a new table, and swapped in via catalog rename — the
    * read and the overwrite never race on the same location. Content
    * is untouched: CompactionSpec + the q_index_compaction gate pin
    * assembly invariance. */
  def compactPartitionedTable(spark: SparkSession, table: String): Unit = {
    import org.apache.spark.sql.functions.col
    val parts = spark.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      .partitionColumnNames
    require(parts.nonEmpty, s"$table has no partition columns")
    val staged = s"${table}__compacting"
    dropManagedTable(spark, staged)
    spark.table(table)
      .repartition(parts.map(col): _*)
      .write.partitionBy(parts: _*)
      .format("parquet").mode("overwrite").saveAsTable(staged)
    // publish via DROP + RENAME. A rename-out/rename-in swap (which
    // would keep both copies until the new one is live) does NOT work
    // here: renaming into a location whose directory still exists
    // nests the source dir inside it (filesystem rename semantics),
    // so the old dir must be gone before the staged rename. Failure
    // window: a death between the two statements loses the table NAME
    // but no CONTENT — the staged table holds the identical rows, and
    // callers rebuild on re-entry because StoreGuard.tables verifies
    // the DATA tables exist (`writes`), not just its completion
    // marker — a surviving marker over a dropped table is exactly
    // this window's signature and triggers the rebuild.
    spark.sql(s"DROP TABLE `$table`")
    spark.sql(s"ALTER TABLE `$staged` RENAME TO `$table`")
    // the rename moves the DIRECTORY but the catalog's partition
    // entries still point at the staged location — re-discover them
    // from the moved directory or every scan comes back empty
    spark.sql(s"ALTER TABLE `$table` RECOVER PARTITIONS")
  }

  /** Drop a managed table AND its orphan location — the in-memory
    * catalog forgets tables across sessions while the warehouse dir
    * persists, and CTAS refuses an existing location (same hazard
    * [[Bucketing.writeBucketed]] documents). */
  def dropManagedTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new Path(spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(table)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Rewrite the parquet directory at `inPath` into
    * `ceil(inputBytes / targetBytes)` similarly-sized files at
    * `outPath` (overwritten) and return the compacted relation. A
    * caller that reuses the output builds it through
    * [[StoreGuard.directory]]. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetBytes: Long): DataFrame = {
    require(targetBytes > 0, "targetBytes must be positive")
    val bytes = dataBytes(spark, inPath)
    val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(inPath)
      .repartition(nFiles)
      .write.mode("overwrite").parquet(outPath)
    spark.read.parquet(outPath)
  }
}
