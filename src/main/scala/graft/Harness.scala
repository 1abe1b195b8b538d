package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** What every harness main (Bench, Verify, Explain, tools.GateAB,
  * tools.ScaleUp) shares, installed once here instead of copied per
  * main so their confs cannot drift: the session factory with the
  * bench conf, the untimed fixture warm-up, the store-prepare pool,
  * the store warm pass, gate-local block freeing, and [[runGate]], the
  * one timed gate execution (Bench's main pass and second run,
  * GateAB's reps, Verify's pool).
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
    * exactly the per-row expression work most gates exist to measure.
    * Private: every timed gate goes through [[runGate]]. */
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One timed gate: wall seconds from building the DataFrame through
    * its sink, the STW GC milliseconds accrued meanwhile, and the
    * failure message (None when the gate succeeded). */
  final case class GateRun(sec: Double, gcMs: Long, error: Option[String])

  /** Builds gate `name` with `fn`, runs `sink` on it (default: the
    * bench's noop sink), and times both. A throwing gate is returned
    * as `error`, never thrown: its time-to-fail is not a timing.
    * `timeoutSec` arms [[withGateWatchdog]]. With `baseline` set,
    * every RDD persisted outside it is freed after the gate, on this
    * thread — only a caller that runs one gate at a time may pass it
    * (Verify's pool frees at wave boundaries instead; see
    * [[freeGateBlocks]]). GC is read before the freeing, so cleanup is
    * never charged to the gate. */
  def runGate(spark: SparkSession, sfDir: String, name: String,
              fn: (SparkSession, String) => DataFrame,
              sink: DataFrame => Unit = noop,
              timeoutSec: Option[Int] = None,
              baseline: Option[Set[Int]] = None): GateRun = {
    val gc0 = gcMillis()
    val t0 = System.nanoTime()
    val failed = attempt(name)(
      withGateWatchdog(spark, name, timeoutSec)(sink(fn(spark, sfDir))))
    val run = GateRun((System.nanoTime() - t0) / 1e9, gcMillis() - gc0,
      failed.map(_.message))
    baseline.foreach(freeGateBlocks(spark, _))
    run
  }

  /** Sum of all collectors' accumulated STW time — per-gate deltas
    * attribute "was this gate slow, or was the JVM collecting". */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** GATE WATCHDOG (r14 post-mortem): the r14 sf10 full-registry sweep
    * wedged for 4.5+ h inside ONE gate — seven executor threads
    * spinning at 100% CPU in a codegen'd hash aggregate, the main
    * thread blocked in AQE's stage-event wait — and the whole sweep
    * (and the round's artifact) died with it. One pathological gate
    * must cost its own timeout, not the sweep: with `timeoutSec` set,
    * a gate still running after that many seconds has its job group
    * cancelled (interrupt-on-cancel), which fails the gate and lets
    * the sweep continue. Tasks that ignore interruption (a tight
    * generated loop) are abandoned as zombies — the scheduler still
    * fails the job, so the loop advances; the watchdog line in stderr
    * records the abandonment. A gate the watchdog fired on fails with
    * a message naming the watchdog, even when it finished (the cancel
    * raced the finish: it still exceeded its budget). None: the body
    * runs unguarded. */
  private def withGateWatchdog(spark: SparkSession, name: String,
                               timeoutSec: Option[Int])
                              (body: => Unit): Unit =
    timeoutSec match {
      case None => body
      case Some(t) =>
        val sc = spark.sparkContext
        val group = s"gate:$name"
        sc.setJobGroup(group, s"bench gate $name (watchdog ${t}s)",
          interruptOnCancel = true)
        val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
        val timer = new java.util.Timer(s"gate-watchdog", true)
        timer.schedule(new java.util.TimerTask {
          def run(): Unit = {
            fired.set(true)
            System.err.println(
              s"[bench] $name WATCHDOG fired after $t s - cancelling " +
                "job group (zombie tasks, if any, are abandoned)")
            // the gate may have finished meanwhile; its own error or
            // the `fired` flag reports the overrun either way
            try sc.cancelJobGroup(group) catch { case NonFatal(_) => () }
          }
        }, t * 1000L)
        val exceeded = s"gate exceeded ${t}s watchdog (cancelled)"
        try {
          try body
          catch { case e: Throwable if fired.get =>
            throw new RuntimeException(s"$exceeded: ${e.getMessage}", e)
          }
          if (fired.get) throw new RuntimeException(exceeded)
        } finally { timer.cancel(); sc.clearJobGroup() }
    }

  /** Untimed warm-up: scheduler + codegen + parquet reader init, then
    * EVERY fixture table read in full, so footers and page cache are
    * not charged to whichever gate reads a table first. Returns the
    * tables that failed to read. */
  def warmFixtures(spark: SparkSession, sfDir: String): Seq[Failure] = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    FixtureTables.flatMap(t =>
      attempt(t)(noop(spark.read.parquet(s"$sfDir/$t.parquet"))))
  }

  /** The registered gates a comma-separated selection names, sorted;
    * None selects every gate. A name that is no registered gate fails
    * the selection, naming each such name: a typo would otherwise run
    * nothing and report an empty run. */
  def selectGates(only: Option[String]): Seq[String] = {
    val gates = SparkEntry.queries.keySet
    val names = only.fold(gates.toSeq)(_.split(",").toSeq)
    val unknown = names.filterNot(gates).distinct
    require(unknown.isEmpty, s"unknown gate(s): ${unknown.mkString(", ")}")
    names.distinct.sorted
  }

  /** Runs the store builds that `gates` declare (their `Q.stores`) on a
    * pool of 4 threads; names that are no gate declare nothing. The
    * prepares are independent content-addressed builds (shared
    * sub-stores are serialized by StoreLedger's per-key locks), each a
    * small Spark job that underuses 32 cores, so the pool brings setup
    * wall toward its critical path. Returns each prepare's wall
    * seconds in submit order — they overlap, so their sum exceeds the
    * pool's wall by design — and the failures. */
  def prepareStores(spark: SparkSession, sfDir: String, gates: Seq[String])
      : (Seq[(String, Double)], Seq[Failure]) = {
    val selected = gates.toSet
    val prepares = graft.queries.Registry.storesOf(
      graft.queries.Registry.all.filter(q => selected(q.name)))
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
    // another logging backend (a missing log4j-core class is a
    // LinkageError): the WARN lines stay, nothing else changes
    catch { case NonFatal(_) | _: LinkageError => () }
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
        // best effort: a block that cannot be freed stays cached, and
        // the gate's result is already taken
        try rdd.unpersist(blocking) catch { case NonFatal(_) => () }
    }

  private[graft] def attempt(name: String)(body: => Unit): Option[Failure] =
    try { body; None }
    catch { case e: Throwable =>
      Some(Failure(name, Option(e.getMessage).getOrElse(e.getClass.getName)))
    }
}
