package graft.ops

import org.apache.spark.sql.SparkSession

/** The one build-once guard every prepared store goes through.
  *
  * Stores are content-keyed (their names carry
  * [[graft.queries.Sinks.contentKey]]), so a COMPLETE store is never
  * stale and is served as is. An incomplete one is rebuilt under the
  * store key's [[StoreLedger]] lock — Bench's parallel prepare pool
  * reaches shared stores (the corpus shingle table feeds four
  * prepares) from several threads, and two bare exists-checks race
  * the same output committer directory (round 13: `_temporary/0 does
  * not exist` on the shingle store); the second thread blocks,
  * re-checks and serves the finished store. Before the build the
  * store's OWN stale outputs are dropped: the in-memory catalog
  * forgets tables across sessions while their warehouse directories
  * persist (CTAS then throws LOCATION_ALREADY_EXISTS), and a
  * directory whose writer died keeps its part files. Every call
  * records its outcome (built, or found complete) in [[StoreLedger]].
  *
  * The three entry points differ only in the completeness witness:
  * the catalog entry of a single CTAS ([[table]]), a marker table
  * written after a multi-write sequence ([[tables]]), and a
  * `_GRAFT_COMPLETE` file in a directory under `java.io.tmpdir`
  * ([[directory]]). */
object StoreGuard {

  /** Build `table` once: its catalog entry is the completion marker
    * (CTAS registers only after a successful write). */
  def table(s: SparkSession, table: String)(build: => Unit): Unit =
    guard(table, Seq(table))(s.catalog.tableExists(table)) {
      Compaction.dropManagedTable(s, table)
      build
    }

  /** Build the tables `writes` once, as one sequence completed by the
    * `marker` table: a run that dies between writes re-runs the whole
    * sequence instead of serving a half-built store. The marker alone
    * is not trusted — a maintenance pass can remove a data table while
    * the marker survives (e.g. [[Compaction.compactPartitionedTable]]
    * dying between its DROP and the staged RENAME) — so every table in
    * `writes` and `requires` must exist too. `requires` lists tables
    * the build only READS, owned by another store: they are checked,
    * never dropped. */
  def tables(s: SparkSession, marker: String, writes: Seq[String],
             requires: Seq[String] = Seq.empty)(build: => Unit): Unit = {
    val data = writes ++ requires
    guard(marker, marker +: data)(
        (marker +: data).forall(s.catalog.tableExists)) {
      (marker +: writes).foreach(Compaction.dropManagedTable(s, _))
      build
      import s.implicits._
      Seq(1).toDF("ok").write.format("parquet")
        .mode("overwrite").saveAsTable(marker)
    }
  }

  /** Build the directory `name` under `java.io.tmpdir` once and return
    * its absolute path: `build` writes the store into the path it is
    * given, and a `_GRAFT_COMPLETE` file marks it complete (directory
    * writers leave part files but no transactional witness). The
    * tmpdir is read per call, so a caller that re-points it gets its
    * own stores. */
  def directory(name: String)(build: String => Unit): String = {
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"), name)
    val marker = new java.io.File(dir, "_GRAFT_COMPLETE")
    val path = dir.getAbsolutePath
    guard(path, Seq.empty)(marker.exists()) {
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
      build(path)
      dir.mkdirs()
      marker.createNewFile()
    }
    path
  }

  /** The shared discipline: under `key`'s lock, run `rebuild` unless
    * the store is `complete`, and record the outcome. */
  private def guard(key: String, tables: Seq[String])
                   (complete: => Boolean)(rebuild: => Unit): Unit =
    StoreLedger.lockFor(key).synchronized {
      val done = complete
      if (!done) rebuild
      StoreLedger.record(key, ran = !done, tables)
    }
}
