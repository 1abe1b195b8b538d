package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every harness main (Bench, Verify, Explain, tools.GateAB,
  * tools.ScaleUp) shares, installed once here instead of copied per
  * main so their confs cannot drift: the session factory with the
  * bench conf, the untimed fixture warm-up, the store-prepare pool,
  * the store warm pass, and gate-local block freeing.
  *
  * The three setup steps never throw for a failed table or prepare:
  * they return one [[Failure]] per failed step, which the caller
  * records (Bench's `harness_errors`) or prints (GateAB). A failed
  * prepare is not fatal — the consumer gate's own guard re-runs the
  * build (timed) and surfaces the error there. */
object Harness {

  /** A setup step that threw: the fixture table, prepare or store it
    * was working on, and the exception message. */
  final case class Failure(name: String, message: String)

  /** The driver's fixture tables, `<sfDir>/<t>.parquet`. */
  val FixtureTables: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** The bench session: `local[$SPARK_GRAFT_CPUS]` (default 32, the
    * driver contract), shuffle partitions = cores, UTC, UI off. */
  def session(logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // ObjectHashAggregate (min_by_obj dedup) falls back to
      // sort-based at 128 map entries by default — sized for
      // percentile-class buffers, far too small for one-row-per-key
      // dedup state (~200 B/entry; 256k entries ~= 50 MB/task)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "262144")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Materializes every column of `df` and discards the rows — the
    * bench's timing semantics. `count()` would let Catalyst prune
    * exactly the per-row expression work most gates exist to measure. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Untimed warm-up: scheduler + codegen + parquet reader init, then
    * EVERY fixture table read in full, so footers and page cache are
    * not charged to whichever gate reads a table first. Returns the
    * tables that failed to read. */
  def warmFixtures(spark: SparkSession, sfDir: String): Seq[Failure] = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    FixtureTables.flatMap(t =>
      attempt(t)(noop(spark.read.parquet(s"$sfDir/$t.parquet"))))
  }

  /** Runs every `Registry.prepares` store build on a pool of 4
    * threads. The prepares are independent content-addressed builds
    * (shared sub-stores are serialized by StoreLedger's per-key
    * locks), each a small Spark job that underuses 32 cores, so the
    * pool brings setup wall toward its critical path. Returns each
    * prepare's wall seconds in submit order — they overlap, so their
    * sum exceeds the pool's wall by design — and the failures. */
  def prepareStores(spark: SparkSession, sfDir: String)
      : (Seq[(String, Double)], Seq[Failure]) = {
    val prepares = graft.queries.Registry.prepares
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, math.max(1, prepares.size)))
    val done = prepares.map { case (name, fn) =>
      pool.submit(new java.util.concurrent.Callable[(Double, Option[Failure])] {
        def call(): (Double, Option[Failure]) = {
          graft.ops.StoreLedger.currentOwner.set(name)
          val t = System.nanoTime()
          try {
            val failed = attempt(name)(fn(spark, sfDir))
            val sec = (System.nanoTime() - t) / 1e9
            failed match {
              case None => System.err.println(f"[setup] $name $sec%.2f s")
              case Some(f) =>
                System.err.println(s"[setup] $name FAILED: ${f.message}")
            }
            (sec, failed)
          } finally graft.ops.StoreLedger.currentOwner.remove()
        }
      })
    }.map(_.get())
    pool.shutdown()
    (prepares.map(_._1).zip(done.map(_._1)), done.flatMap(_._2))
  }

  /** Untimed store warm pass: reads every catalog table in full. A
    * store's first consumer gate otherwise pays the cold read of its
    * parquet files (footers + OS page cache) — the signal behind
    * q_incr_curation_pipeline's twice-flagged driver-context drift
    * (r9 5.5x, r10 1.51x, GC-exonerated). At a deployment the store
    * refresh both builds AND leaves warm caches; charging the cold
    * read to one arbitrary gate measures session history, not the
    * operator (mechanism recorded in BASELINE.md round 11). */
  def warmStores(spark: SparkSession): Seq[Failure] =
    spark.catalog.listTables().collect().toSeq.flatMap(tb =>
      attempt(tb.name)(noop(spark.table(tb.name))))

  /** The persisted RDDs that are session baseline (store scaffolding
    * built by setup); everything persisted after this call is
    * gate-local and freed by [[freeGateBlocks]]. Also silences the
    * 'lineage has been truncated' WARN that unpersisting a
    * localCheckpointed RDD logs — expected by construction here, and
    * 200+ of them would crowd the bench's JSON line out of the ~2 KB
    * driver-captured output tail. */
  def gateBaseline(spark: SparkSession): Set[Int] = {
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }
    spark.sparkContext.getPersistentRDDs.keySet.toSet
  }

  /** Unpersists every RDD not in `baseline`: a localCheckpoint() inside
    * a gate pins its blocks in the block manager for the rest of the
    * session unless freed — across 246 gates at -Xmx8g that
    * accumulation was the r9 driver-run spike suspect. Cross-gate
    * sharing is content-addressed tables on disk, never in-memory
    * blocks, so freeing is safe — but only from the thread that runs
    * the gates, never per-gate from pool threads (an id delta would
    * free a CONCURRENT gate's live checkpoints; see
    * ops/Checkpoints.scala). */
  def freeGateBlocks(spark: SparkSession, baseline: Set[Int],
                     blocking: Boolean = true): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!baseline.contains(id))
        try rdd.unpersist(blocking) catch { case _: Throwable => () }
    }

  private[graft] def attempt(name: String)(body: => Unit): Option[Failure] =
    try { body; None }
    catch { case e: Throwable =>
      Some(Failure(name, Option(e.getMessage).getOrElse(e.getClass.getName)))
    }
}
