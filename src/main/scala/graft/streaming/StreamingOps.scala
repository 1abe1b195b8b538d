package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamReader, DataStreamWriter,
  ExpiredTimerInfo, GroupStateTimeout, ListState, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger}
import org.apache.spark.sql.types._
import java.util.concurrent.atomic.AtomicLong

/** Structured Streaming operators. The reference has no streaming
  * (SURVEY.md §2.11) — its "incrementality" is daily WRITE_APPEND into
  * day-partitioned tables — but the declared capability (continuous
  * ingest → conformed tables) maps to `readStream → transforms →
  * writeStream` with watermarked event-time state.
  *
  * Test harness runs with `Trigger.AvailableNow` over the static events
  * parquet so each streaming query terminates and its result equals the
  * batch answer — which is exactly what the DuckDB oracle checks.
  * At scale the same code runs unbounded: watermarks bound state,
  * `dropDuplicatesWithinWatermark` state is evicted past the
  * watermark, and the stateful map keeps one struct per key.
  *
  * Every streaming gate runs on [[session]]. */
object StreamingOps {

  private val runId = new AtomicLong(0)

  /** The session every streaming query runs on: a `newSession()` of
    * `spark` (shared catalog and SparkContext, its own SQL confs, so
    * batch queries keep the global settings) with
    *  - 4 shuffle partitions: each stateful operator keeps one state
    *    store per shuffle partition, and at stream-sized volumes even 8
    *    stores are mostly setup overhead (an unbounded deployment sizes
    *    this to cluster cores × state volume);
    *  - [[LocalCheckpointFileManager]] as the checkpoint file manager:
    *    without libhadoop Spark's default one forks `chmod` and
    *    `readlink` for each checkpoint file it writes, about 280 forks
    *    per pass over the streaming benchmark's six gates, mostly on
    *    the stream execution thread. `CheckpointFileManager.create`
    *    reads the class from the session's Hadoop conf, so it covers
    *    the offset, commit, metadata and source logs and the
    *    state-store files. */
  def session(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      classOf[LocalCheckpointFileManager].getName)
    s
  }

  /** Events source as a bounded stream with `ts` NORMALIZED to exact
    * epoch-micros longs — the same contract as [[graft.Tables.events]].
    * File streams need an explicit schema, so peek at the static
    * parquet footer to learn what the fixture stores and dispatch
    * through [[graft.Tables.tsToMicros]], which REFUSES unrecognized
    * types: a forced LongType read of a TIMESTAMP(MICROS) column once
    * silently compressed every event time 1000× (micros read as
    * "nanos"), wrong-answering all eight stateful streaming gates. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // harmless when ts is MICROS; keeps a NANOS fixture readable
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val inferred =
      graft.Tables.eventsInferredSchema(spark, s"$dir/events.parquet")
    // same explicit-schema pinning as the batch boundary: a stored
    // timestamp loads as TimestampType (raw epoch-us internal value),
    // anything unrecognized throws here rather than coercing
    val schema = graft.Tables.eventsReadSchema(inferred).getOrElse(inferred)
    fixtureStream(spark.readStream.schema(schema), dir, "events")
      .withColumn("ts", graft.Tables.tsToMicros(schema("ts").dataType))
  }

  /** Bounded stream over fixture table `table` under `dir`, read
    * through `reader` (which carries the caller's schema and options).
    * File-stream sources monitor a DIRECTORY. The fixture layout
    * stores a table as a single FILE beside the other tables, so the
    * source monitors `dir` with a name glob; a production table is a
    * DIRECTORY of part files (any distributed writer's output, and
    * the tiled sf1/sf10 fixtures), which the source monitors
    * directly — the glob would match no leaf file there and the
    * stream would silently produce zero batches. */
  private[graft] def fixtureStream(reader: DataStreamReader, dir: String,
                                   table: String): DataFrame = {
    val tablePath = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = tablePath.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    if (fs.exists(tablePath) && fs.getFileStatus(tablePath).isDirectory)
      reader.parquet(tablePath.toString)
    else reader.option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** Start `writer` with the AvailableNow trigger and block until it has
    * drained every input available at start. */
  private def runAvailableNow(writer: DataStreamWriter[Row]): Unit =
    writer.trigger(Trigger.AvailableNow()).start().awaitTermination()

  /** The foreachBatch fold every streaming operator below that keeps
    * DataFrame state is built on: each micro-batch is folded into the
    * accumulator by `step(acc, batch)` (acc is None on the first
    * batch) and the result returned once the stream drains.
    *  - batchId idempotence guard: at-least-once delivery can replay a
    *    batch id, and a replay is skipped, so a non-idempotent step
    *    (a monoid that re-adds) never double-counts;
    *  - `localCheckpoint` per batch bounds lineage — without it the
    *    plan deepens by one step per batch and planning cost compounds.
    * Throws if the stream produced no batch at all. */
  private[streaming] def foldBatches(stream: DataFrame)(
      step: (Option[DataFrame], Dataset[Row]) => DataFrame): DataFrame = {
    var acc: Option[DataFrame] = None
    val applied = scala.collection.mutable.Set.empty[Long]
    val fold = (batch: Dataset[Row], batchId: Long) => {
      if (applied.add(batchId)) acc = Some(step(acc, batch).localCheckpoint())
      ()
    }
    runAvailableNow(stream.writeStream.foreachBatch(fold))
    acc.getOrElse(
      throw new IllegalStateException("stream produced no batches"))
  }

  /** Run a streaming transform to completion (AvailableNow) into a
    * memory sink and return the materialized result. */
  def runToTable(out: DataFrame, mode: OutputMode): DataFrame = {
    val name = s"graft_stream_${runId.incrementAndGet()}"
    runAvailableNow(
      out.writeStream.format("memory").queryName(name).outputMode(mode))
    out.sparkSession.table(name)
  }

  /** Watermarked hourly tumbling-window aggregation by event type:
    * the canonical streaming group-by. Output keyed by exact
    * epoch-micros window start. */
  def windowedCounts(events: DataFrame): DataFrame = {
    val withTime = events
      .withColumn("event_time", timestamp_micros(col("ts")))
    withTime
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(floor(col("value") * 100 + 0.5).cast(LongType))
          .as("sum_value_c"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        col("event_type"), col("cnt"), col("sum_value_c"))
  }

  /** Watermarked streaming dedup + distinct-user counts — the streaming
    * form of exact dedup. Uses `dropDuplicatesWithinWatermark` so state
    * IS evicted past the watermark even though the event-time column is
    * not part of the dedup key (plain `dropDuplicates` only prunes when
    * the event-time column is in the key set).
    *
    * Semantics contract: on a bounded run (the verification path) every
    * duplicate falls inside one watermark horizon, so the result equals
    * the batch `count(DISTINCT user_id)` oracle exactly. Unbounded,
    * this computes WITHIN-WATERMARK distinct counts: a user re-emitting
    * the same event type more than the delay apart is counted again
    * after its state was evicted. That over-count is the inherent price
    * of bounded state — exact global distinct over an infinite stream
    * requires unbounded memory; use the batch path (or a sketch) for
    * exact/approximate global counts. */
  def dedupUserCounts(events: DataFrame): DataFrame = {
    val withTime = events
      .withColumn("event_time", timestamp_micros(col("ts")))
    withTime
      .withWatermark("event_time", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"))
  }

  /** Stream-stream LEFT OUTER join: [[viewClickJoin]]'s shape, but
    * views with no qualifying click ALSO emit (null click columns) —
    * the abandonment side of the funnel, which the inner join cannot
    * see. Outer rows emit only when the watermark proves no future
    * click can match (view_time + withinUs behind the global
    * watermark), so a bounded run withholds trailing unmatched views
    * still inside the horizon — exactly what an unbounded deployment
    * does, and what the oracle's final-watermark predicate replays. */
  def viewClickLeftOuter(events: DataFrame, withinUs: Long): DataFrame =
    viewClickPairs(events, withinUs, "left_outer")

  /** Stream-stream inner join: views joined to the clicks that follow
    * them (same user, click within `withinUs` micros after the view).
    * Both sides carry watermarks and the join condition bounds event
    * time, so state on each side is pruned — the canonical funnel
    * (view → click) join shape. Bounded run ≡ the batch time-range
    * join the oracle computes. */
  def viewClickJoin(events: DataFrame, withinUs: Long): DataFrame =
    viewClickPairs(events, withinUs, "inner")

  private def viewClickPairs(events: DataFrame, withinUs: Long,
                             how: String): DataFrame = {
    val withTime = events
      .withColumn("ts_us", col("ts"))
      .withColumn("event_time", timestamp_micros(col("ts_us")))
    val views = withTime.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts_us").as("view_ts_us"),
        col("event_time").as("view_time"))
      .withWatermark("view_time", "1 hour")
    val clicks = withTime.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("click_user"), col("ts_us").as("click_ts_us"),
        col("event_time").as("click_time"))
      .withWatermark("click_time", "1 hour")
    // ONLY the watermarked timestamp conjuncts in the join condition
    // (r14 verdict item 5): timestamp_micros is a bijection on the
    // stored micros, so the interval pair bounds event time exactly —
    // a redundant raw-long pair (click_ts_us >= view_ts_us, ...) made
    // StreamingJoinHelper probe unevaluable attributes and print an
    // INTERNAL_ERROR stack at WARN in every run before falling back
    // to these conjuncts. Lag arithmetic still uses the micros
    // columns below, byte-exact. JoinStateBoundSpec pins that state
    // eviction still fires from this condition.
    views.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_time") >= col("view_time") &&
        // exact micros interval: a seconds-truncated bound would be
        // strictly tighter than the micros semantics and silently drop
        // pairs for any withinUs not a whole-second multiple
        col("click_time") <= col("view_time") + expr(
          s"INTERVAL $withinUs MICROSECOND"),
      how)
      .select(col("user_id"), col("view_id"), col("click_id"),
        (col("click_ts_us") - col("view_ts_us")).as("lag_us"))
  }

  /** Streaming twin of the reference's day-partitioned append sink
    * (S5, the jobs/spark python jobs' WRITE_APPEND into
    * day-partitioned tables): the
    * event stream written exactly-once to parquet partitioned by event
    * day, with a checkpoint directory making restarts idempotent —
    * the unbounded-deployment form of daily batch appends. Returns the
    * sink path for read-back verification. */
  def streamToPartitionedParquet(events: DataFrame, outDir: String): String = {
    val withDay = events
      .withColumn("event_time", timestamp_micros(col("ts")))
      .withColumn("day", to_date(col("event_time")))
    runAvailableNow(withDay.writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .partitionBy("day")
      .outputMode(OutputMode.Append()))
    outDir
  }

  /** Streaming CDC-to-snapshot materialization — the foreachBatch
    * upsert pattern ([[foldBatches]]): every micro-batch folds into a
    * keyed snapshot holding the LATEST row per (user_id, event_type),
    * "latest" by (ts, event_id). The fold is `latest(snapshot ∪ batch)`
    * — a max_by_obj compaction ([[graft.ops.Dedup.firstPerKey]]) — so
    * it is ORDER-INDEPENDENT and idempotent: correct under any batching,
    * replayed batches, or late data, unlike blind per-batch overwrite
    * (which silently loses to an out-of-order batch).
    *
    * At scale the snapshot would live in a keyed store (bucketed
    * table) and the fold becomes [[graft.ops.Merge.applyCdc]] against
    * it; the in-session DataFrame fold is the bounded-verification
    * form of the same dataflow. */
  def streamingLatestSnapshot(events: DataFrame): DataFrame =
    foldBatches(events) { (snapshot, batch) =>
      // ts is canonical epoch-micros (Tables.tsToMicros) — "latest"
      // means the same thing here, in batch, and in the DuckDB oracle
      val b = batch.select(col("user_id"), col("event_type"),
        col("ts").as("ts_us"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast(LongType).as("value_c"))
      graft.ops.Dedup.firstPerKey(
        snapshot.map(_.unionByName(b)).getOrElse(b),
        keys = Seq("user_id", "event_type"),
        ord = Seq(col("ts_us"), col("event_id")), keep = b.columns.toSeq,
        largest = true)
    }

  /** Streaming face of the incremental near-dup path
    * ([[graft.ops.Similarity.nearDupPairsAgainstBuckets]]): arriving
    * documents, already shingled, are banded and verified against the
    * PERSISTED corpus LSH store inside foreachBatch — the online
    * "does this incoming doc duplicate the corpus?" shape of a
    * training-data ingest pipeline. The per-micro-batch dataflow is
    * IDENTICAL to the daily batch path (same operator, same stored
    * bucket and shingle tables): each batch pays banding over its own
    * rows only, the bucket equi-join probes the store, and the
    * exact-Jaccard verify reads the stored shingles — so stream ≡
    * batch by construction, which the shared brute-force oracle pins.
    * Detected pairs are per-doc facts (each incoming id appears in
    * one batch), so accumulation is a plain union — order-independent
    * across any batching; the [[foldBatches]] batchId guard keeps
    * at-least-once replays from duplicating pairs. Store tables travel
    * BY NAME and resolve against the micro-batch's own session
    * (newSession shares the catalog) — capturing outer-session
    * DataFrames would marry plans from two sessions.
    *
    * At scale the union-accumulate becomes an append sink (the
    * pairs table is the pipeline's rejection log); the in-session
    * fold is the bounded-verification form of that dataflow. */
  def streamingNearDup(docs: DataFrame, bucketsTable: String,
                       shinglesTable: String, k: Int, bands: Int,
                       thresholdMilli: Int): DataFrame =
    foldBatches(docs) { (pairs, batch) =>
      val ss = batch.sparkSession
      val found = graft.ops.Similarity.nearDupPairsAgainstBuckets(
        batch, ss.table(bucketsTable), ss.table(shinglesTable),
        k, bands, thresholdMilli)
      pairs.map(_.unionByName(found)).getOrElse(found)
    }

  /** Streaming preference ingest: duel micro-batches fold into the
    * running ADDITIVE pair matrix ([[graft.ops.BradleyTerry.pairStats]]
    * + [[graft.ops.BradleyTerry.mergePairs]], via [[foldBatches]]) —
    * the online face of the incremental refresh:
    * a refit from the folded matrix is bit-identical to a batch fit
    * over the full duel history, because the pair matrix is the
    * order-insensitive sufficient statistic. Per batch the work is
    * delta-sized stats + a pair-key merge; the matrix is
    * entity-pair-sized. */
  def streamingPairStats(duels: DataFrame): DataFrame =
    foldBatches(duels) { (pairs, batch) =>
      val ps = graft.ops.BradleyTerry.pairStats(batch)
      pairs.map(p => graft.ops.BradleyTerry.mergePairs(p, ps)).getOrElse(ps)
    }

  /** Streaming conversation-prefix ingest: conversation micro-batches
    * fold into the running ADDITIVE prefix-fingerprint index
    * ([[graft.ops.TextOps.prefixIndex]]; union + re-aggregate on
    * (p, fp), via [[foldBatches]]) — the online face of the
    * incremental conversation dedup, same sufficient-statistic
    * argument as [[streamingPairStats]]: the folded index is
    * bit-identical to a batch build over all conversations, because
    * counts are order-insensitive long sums. Per batch the work is
    * delta-sized fingerprints + one (p, fp) merge; the index is
    * prefix-distinct-sized (narrow: two longs + a 32-char md5 per
    * row). */
  def streamingPrefixIndex(convs: DataFrame, idCol: String,
                           turnsCol: String): DataFrame =
    foldBatches(convs) { (idx, batch) =>
      val bi = graft.ops.TextOps.prefixIndex(batch, idCol, turnsCol)
      idx.map(p => p.unionByName(bi).groupBy("p", "fp")
          .agg(org.apache.spark.sql.functions.sum("n").as("n")))
        .getOrElse(bi)
    }

  final case class UserEvent(user_id: Long, value_c: Long)
  final case class UserState(n: Long, maxC: Long)
  final case class UserStats(user_id: Long, n_events: Long,
                             max_value_c: Long)

  /** Custom per-key streaming state via flatMapGroupsWithState: running
    * event count + max value per user, emitted on completion of each
    * batch. The explicit-state form of `groupBy(user).agg(...)` — the
    * extension point for session state no built-in aggregate covers. */
  def userStats(events: DataFrame): Dataset[UserStats] = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(col("user_id"),
        floor(col("value") * 100 + 0.5).cast(LongType).as("value_c"))
      .as[UserEvent]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, UserStats](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (uid, rows, state) =>
          val prev = state.getOption.getOrElse(UserState(0L, Long.MinValue))
          val next = rows.foldLeft(prev) { (s, e) =>
            UserState(s.n + 1, math.max(s.maxC, e.value_c))
          }
          state.update(next)
          Iterator(UserStats(uid, next.n, next.maxC))
      }
  }

  final case class SessEvent(user_id: Long, ts_us: Long,
                             event_time: java.sql.Timestamp)
  final case class OpenSess(start_us: Long, end_us: Long, n: Long)
  final case class SessionRow(user_id: Long, session_start_us: Long,
                              session_end_us: Long, n_events: Long)

  /** Watermark-correct sessionization via transformWithState (the
    * arbitrary-state v2 API): per-user ListState of disjoint candidate
    * sessions plus an event-time timer per key. A session is emitted
    * ONLY once the watermark proves it closed (`end + gap <= wm`) —
    * in-batch gap evidence alone is NOT enough, because an in-horizon
    * event can still arrive and bridge two candidates into one
    * session, which the merge loop below handles (`last.end` keeps
    * extending, so a bridging event coalesces its neighbors).
    *
    * Unbounded this is exact sessionization under the watermark
    * contract; bounded (AvailableNow) the final no-data microbatch
    * fires the remaining eligible timers, so the emitted set is
    * exactly the sessions closed before the FINAL watermark
    * (`max event-time ms − delay`) — which is what the oracle
    * recomputes. State is one short list per active user, evicted on
    * emit; timers are one per key (re-registered, stale ones
    * deleted). */
  class SessionProcessor(gapUs: Long)
      extends StatefulProcessor[Long, SessEvent, SessionRow] {
    @transient private var sessions: ListState[OpenSess] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sessions = getHandle.getListState[OpenSess]("sessions",
        Encoders.product[OpenSess], TTLConfig.NONE)

    // timers fire when expiry <= watermark (ms); ceil-divide so an
    // ms-aligned close time registers AT its watermark ms — a +1
    // would overshoot and never fire when the final watermark lands
    // exactly on the close time (the close test itself is <=)
    private def timerMsFor(minCloseUs: Long): Long = (minCloseUs + 999) / 1000

    override def handleInputRows(key: Long, rows: Iterator[SessEvent],
        tv: TimerValues): Iterator[SessionRow] = {
      val incoming = rows.map(e => OpenSess(e.ts_us, e.ts_us, 1L)).toArray
      val all = (sessions.get().toArray ++ incoming)
        .sortBy(s => (s.start_us, s.end_us))
      val merged = scala.collection.mutable.ArrayBuffer.empty[OpenSess]
      all.foreach { s =>
        if (merged.nonEmpty && s.start_us - merged.last.end_us <= gapUs) {
          val last = merged.last
          merged(merged.length - 1) = OpenSess(last.start_us,
            math.max(last.end_us, s.end_us), last.n + s.n)
        } else merged += s
      }
      sessions.put(merged.toArray)
      getHandle.listTimers().foreach(t =>
        getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(
        timerMsFor(merged.map(s => s.end_us + gapUs).min))
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessionRow] = {
      val wmUs = tv.getCurrentWatermarkInMs * 1000L
      val (closed, open) = sessions.get().toArray
        .partition(s => s.end_us + gapUs <= wmUs)
      if (open.isEmpty) sessions.clear() else sessions.put(open)
      if (open.nonEmpty)
        getHandle.registerTimer(
          timerMsFor(open.map(s => s.end_us + gapUs).min))
      closed.sortBy(_.start_us).iterator
        .map(s => SessionRow(key, s.start_us, s.end_us, s.n))
    }
  }

  /** Session bounds per user via [[SessionProcessor]]. Input must be
    * the bounded events stream; caller's session should run the
    * RocksDB state store provider (transformWithState requirement). */
  def sessionState(events: DataFrame, gapUs: Long): Dataset[SessionRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .withColumn("ts_us", col("ts"))
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", "1 hour")
      .select(col("user_id"), col("ts_us"), col("event_time"))
      .as[SessEvent]
    typed.groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapUs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** The STREAMING side of the drift monitor: maintain the per-(day,
    * bin) value histogram as a single streaming aggregation — the
    * monitor's ONLY state, bounded by days×bins (a few hundred rows),
    * never by stream volume. Complete output mode because the whole
    * histogram is re-emitted per trigger (it IS the state, and it is
    * tiny); the TV finalize ([[graft.ops.Analytics.driftFromCounts]])
    * then runs as a batch query over the materialized histogram at
    * each read of the monitor — drift needs the corpus-wide baseline,
    * so it belongs at read time, not inside the stream. */
  def driftHistogram(events: DataFrame): DataFrame =
    events.filter(col("value").isNotNull)
      .select(
        to_date(timestamp_micros(col("ts"))).as("day"),
        least(lit(9L), floor(col("value") / 50).cast(LongType))
          .as("bin"))
      .groupBy("day", "bin")
      .agg(count(lit(1)).as("__c"))

  /** Streaming incremental aggregate-MV maintenance — the streaming
    * twin of [[graft.ops.IncrementalAgg]]: each micro-batch is reduced
    * to its per-key (cnt, sum) partial state and MERGED into the
    * running state table, so per-batch work is batch-size + state-
    * cardinality, never history-size. Because count/sum form a
    * commutative monoid the fold is ORDER-independent; it is NOT
    * idempotent (a monoid re-adds), so REPLAY tolerance comes from
    * [[foldBatches]]' batchId guard — the same idempotent-upsert
    * discipline an at-scale deployment applies when committing
    * (batchId, state) to its state table transactionally.
    *
    * Returns the READ-TIME view ([[graft.ops.IncrementalAgg
    * .finalizeView]]): per-user cnt, sum_value_c, exact milli mean.
    * At scale the state lives in a bucketed table keyed by user_id
    * and each fold is one co-partitioned merge — no history rescan. */
  def streamingAggMaintain(events: DataFrame): DataFrame = {
    import graft.ops.IncrementalAgg
    val keys = Seq("user_id")
    val state = foldBatches(events) { (prev, batch) =>
      val b = batch.filter(col("value").isNotNull)
        .select(col("user_id"),
          floor(col("value") * 100 + 0.5).cast(LongType).as("value_c"))
      val bs = IncrementalAgg.aggState(b, keys, Seq("value_c"))
      prev.map(st => IncrementalAgg.mergeStates(Seq(st, bs), keys))
        .getOrElse(bs)
    }
    IncrementalAgg.finalizeView(state, keys)
  }
}
