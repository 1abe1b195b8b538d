package graft.ops

import graft.SparkSpec

/** Pins [[StoreGuard]]'s build-once discipline: one build per store
  * key across threads, a rebuild that clears the store's own stale
  * outputs, and a marker that is trusted only while every table it
  * vouches for exists — without ever dropping a table the store only
  * reads. */
class StoreGuardSpec extends SparkSpec {

  private def mkTable(name: String, rows: Int): Unit = {
    import spark.implicits._
    Compaction.dropManagedTable(spark, name)
    (1 to rows).toDF("x").write.format("parquet").saveAsTable(name)
  }

  private def uniqueName(prefix: String): String =
    s"${prefix}_${java.util.UUID.randomUUID().toString.replace("-", "")}"

  test("two threads reaching one directory store build it once") {
    val name = uniqueName("graft_guard_race")
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val paths = try {
      val runs = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = {
            start.await()
            StoreGuard.directory(name) { p =>
              builds.incrementAndGet()
              Thread.sleep(300) // hold the build open for the other thread
              java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
              java.nio.file.Files.writeString(
                java.nio.file.Paths.get(p, "part-0"), "x")
            }
          }
        })
      }
      start.countDown()
      runs.map(_.get())
    } finally pool.shutdown()
    assert(paths.distinct.size == 1)
    assert(builds.get == 1)
    assert(StoreLedger.buildLog.get(paths.head).runs == 1)
    assert(new java.io.File(paths.head, "_GRAFT_COMPLETE").exists())
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(paths.head))
  }

  test("a directory with part files but no marker is rebuilt, stale " +
      "files removed") {
    val name = uniqueName("graft_guard_stale")
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"), name)
    dir.mkdirs()
    val stale = new java.io.File(dir, "part-00000-stale.parquet")
    java.nio.file.Files.writeString(stale.toPath, "half-written")
    var builds = 0
    def build(p: String): Unit = {
      builds += 1
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p, "part-00000-fresh.parquet"), "ok")
    }
    val path = StoreGuard.directory(name)(build)
    assert(path == dir.getAbsolutePath)
    assert(builds == 1)
    assert(!stale.exists(), "stale part file survived the rebuild")
    assert(new java.io.File(dir, "part-00000-fresh.parquet").exists())
    assert(new java.io.File(dir, "_GRAFT_COMPLETE").exists())
    // complete now: a re-entry serves the store without building
    StoreGuard.directory(name)(build)
    assert(builds == 1)
    assert(StoreLedger.buildLog.get(path).runs == 1)
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("a marker-set rebuild leaves a foreign required table in place") {
    val (marker, own, foreign) =
      ("t_guard_set_ok", "t_guard_set_own", "t_guard_foreign")
    Seq(marker, own).foreach(Compaction.dropManagedTable(spark, _))
    mkTable(foreign, rows = 3)
    var builds = 0
    def build(): Unit = { builds += 1; mkTable(own, rows = 1) }
    StoreGuard.tables(spark, marker, writes = Seq(own),
      requires = Seq(foreign))(build())
    assert(builds == 1)
    // the store's own table lost, marker standing: rebuild, but the
    // table it only reads must survive untouched
    Compaction.dropManagedTable(spark, own)
    StoreGuard.tables(spark, marker, writes = Seq(own),
      requires = Seq(foreign))(build())
    assert(builds == 2)
    assert(spark.catalog.tableExists(own))
    assert(spark.catalog.tableExists(foreign) &&
      spark.table(foreign).count() == 3)
    Seq(marker, own, foreign).foreach(Compaction.dropManagedTable(spark, _))
  }

  test("a surviving marker over a missing data table triggers a rebuild") {
    var builds = 0
    def build(): Unit = { builds += 1; mkTable("t_sinks_data", rows = 1) }

    Seq("t_sinks_data", "t_sinks_data_ok")
      .foreach(Compaction.dropManagedTable(spark, _))
    StoreGuard.tables(spark, "t_sinks_data_ok",
      writes = Seq("t_sinks_data"))(build())
    assert(builds == 1)
    // marker + data present: no rebuild
    StoreGuard.tables(spark, "t_sinks_data_ok",
      writes = Seq("t_sinks_data"))(build())
    assert(builds == 1)
    // simulate the maintenance-death window (compactPartitionedTable:
    // DROP succeeded, staged RENAME didn't): data table gone, marker
    // still standing — the next access must rebuild, not throw
    // NoSuchTableException at every later read
    Compaction.dropManagedTable(spark, "t_sinks_data")
    StoreGuard.tables(spark, "t_sinks_data_ok",
      writes = Seq("t_sinks_data"))(build())
    assert(builds == 2)
    assert(spark.catalog.tableExists("t_sinks_data"))
    Seq("t_sinks_data", "t_sinks_data_ok")
      .foreach(Compaction.dropManagedTable(spark, _))
  }
}
