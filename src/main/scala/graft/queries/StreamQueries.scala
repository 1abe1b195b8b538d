package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamingOps

/** Structured Streaming queries, run to completion with AvailableNow
  * over the bounded events source — each result equals the batch
  * answer, which is what the DuckDB oracle verifies. */
object StreamQueries {

  def all: Seq[Q] = Seq(

    // Complete mode for the bounded verification run: Append would
    // hold back the final windows still inside the watermark horizon.
    // An unbounded deployment uses Append and those windows emit as
    // the watermark passes them.
    Q("q_stream_windowed_counts",
      (s, d) => StreamingOps.runToTable(
          StreamingOps.windowedCounts(
            StreamingOps.eventsStream(StreamingOps.session(s), d)),
          OutputMode.Complete())
        .orderBy("window_start_us", "event_type"),
      Some("""
        |SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
        |  event_type, count(*) AS cnt,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sum_value_c
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2
        |""".stripMargin.trim)),

    Q("q_stream_dedup_counts",
      (s, d) => StreamingOps.runToTable(
          StreamingOps.dedupUserCounts(
            StreamingOps.eventsStream(StreamingOps.session(s), d)),
          OutputMode.Complete())
        .orderBy("event_type"),
      Some("""
        |SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type
        |""".stripMargin.trim)),

    Q("q_stream_stream_join",
      (s, d) => StreamingOps.runToTable(
          StreamingOps.viewClickJoin(
            StreamingOps.eventsStream(StreamingOps.session(s), d),
            withinUs = 1800L * 1000000L),
          OutputMode.Append())
        .orderBy("user_id", "view_id", "click_id"),
      Some("""
        |SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
        |  epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
        |FROM events v JOIN events c
        |  ON v.user_id = c.user_id
        |  AND v.event_type = 'view' AND c.event_type = 'click'
        |  AND epoch_us(c.ts) >= epoch_us(v.ts)
        |  AND epoch_us(c.ts) <= epoch_us(v.ts) + 1800000000
        |ORDER BY v.user_id, view_id, click_id
        |""".stripMargin.trim)),

    // LEFT OUTER stream-stream join: matched pairs emit like the inner
    // join; a view with NO qualifying click emits null click columns
    // only once the global watermark proves no future click can match.
    // The oracle replays both halves: the batch time-range join, plus
    // unmatched views whose window (view_ts + 30 min) closed before
    // the final watermark — min of the two sides' (ms-truncated max
    // event time − 1 h), the same recipe as q_stream_session_state.
    // Trailing unmatched views inside the horizon are withheld, which
    // is exactly the unbounded semantics.
    Q("q_stream_stream_outer",
      (s, d) => StreamingOps.runToTable(
          StreamingOps.viewClickLeftOuter(
            StreamingOps.eventsStream(StreamingOps.session(s), d),
            withinUs = 1800L * 1000000L),
          OutputMode.Append())
        .orderBy("user_id", "view_id", "click_id"),
      Some("""
        |WITH v AS (SELECT user_id, event_id AS view_id,
        |    epoch_us(ts) AS view_ts_us FROM events
        |  WHERE event_type = 'view'),
        |c AS (SELECT user_id, event_id AS click_id,
        |    epoch_us(ts) AS click_ts_us FROM events
        |  WHERE event_type = 'click'),
        |wm AS (SELECT least(
        |    (SELECT (max(epoch_us(ts)) // 1000 - 3600000) * 1000
        |       FROM events WHERE event_type = 'view'),
        |    (SELECT (max(epoch_us(ts)) // 1000 - 3600000) * 1000
        |       FROM events WHERE event_type = 'click')) AS wm_us),
        |m AS (SELECT v.user_id, v.view_id, c.click_id,
        |    c.click_ts_us - v.view_ts_us AS lag_us
        |  FROM v JOIN c ON v.user_id = c.user_id
        |    AND c.click_ts_us >= v.view_ts_us
        |    AND c.click_ts_us <= v.view_ts_us + 1800000000),
        |um AS (SELECT v.user_id, v.view_id,
        |    CAST(NULL AS BIGINT) AS click_id,
        |    CAST(NULL AS BIGINT) AS lag_us
        |  FROM v, wm
        |  WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.view_id = v.view_id)
        |    AND v.view_ts_us + 1800000000 < wm.wm_us)
        |SELECT user_id, view_id, click_id, lag_us FROM m
        |UNION ALL SELECT user_id, view_id, click_id, lag_us FROM um
        |ORDER BY user_id, view_id, click_id
        |""".stripMargin.trim)),

    // Streaming day-partitioned parquet sink (the reference's S5 sink
    // in streaming form): write the bounded stream exactly-once with a
    // checkpoint, read the sink back, and aggregate per day — the
    // oracle checks the round-trip equals the batch answer.
    Q("q_stream_day_partitioned_sink",
      (s, d) => {
        // FIXED path per (sf-dir, source length, source mtime) — not a
        // fresh temp dir per invocation, which would leak a sink copy
        // every bench/verify run. Re-runs over unchanged data find the
        // existing checkpoint, AvailableNow processes nothing new, and
        // the read-back still matches — precisely the exactly-once
        // restart semantics the sink claims. Regenerated source data
        // changes the key, so a stale checkpoint is never reused. Full
        // md5 digest, not String.hashCode: a 32-bit key could collide
        // across sf dirs (or same-length same-mtime regenerations) and
        // silently verify against a stale sink.
        val src = new java.io.File(s"$d/events.parquet")
        // sinkVer: the sink's CONTENT also depends on the writer's code
        // (a ts-contract bug once wrote wrong day partitions under an
        // unchanged source key, and the checkpoint made every re-run a
        // no-op against the poisoned sink) — bump on any change to what
        // streamToPartitionedParquet writes
        val sinkVer = "v2-tsus"
        val keyStr = s"$d|${src.length}|${src.lastModified}|$sinkVer"
        val key = java.security.MessageDigest.getInstance("MD5")
          .digest(keyStr.getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString
        val out = new java.io.File(
          sys.props("java.io.tmpdir"),
          "graft_stream_sink_" + key
        ).getAbsolutePath
        StreamingOps.streamToPartitionedParquet(
          StreamingOps.eventsStream(StreamingOps.session(s), d), out)
        s.read.parquet(out)
          .groupBy("day")
          .agg(count(lit(1)).as("cnt"),
            sum(floor(col("value") * 100 + 0.5)
              .cast(org.apache.spark.sql.types.LongType))
              .as("sum_value_c"))
          .orderBy("day")
      },
      Some("""
        |SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sum_value_c
        |FROM events GROUP BY 1 ORDER BY 1
        |""".stripMargin.trim)),

    // Stream-static join: the streaming fact enriched against a batch
    // dimension — stateless (no watermark, no state store), the dim is
    // re-resolved per micro-batch; with a broadcastable dim each batch
    // plans a BroadcastHashJoin, the same shape as the batch enrich.
    Q("q_stream_static_join",
      (s, d) => {
        val s2 = StreamingOps.session(s)
        val dim = graft.Tables.events(s2, d)
          .select(col("user_id")).distinct()
          .withColumn("cohort", pmod(col("user_id"), lit(5L)))
        val enriched = StreamingOps.eventsStream(s2, d)
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            col("ts").as("ts_us"))
          .join(dim, "user_id")
        StreamingOps.runToTable(enriched, OutputMode.Append())
          .orderBy("event_id")
      },
      Some("""
        |WITH dim AS (SELECT DISTINCT user_id, user_id % 5 AS cohort
        |  FROM events)
        |SELECT e.user_id, e.event_id, epoch_us(e.ts) AS ts_us, d.cohort
        |FROM events e JOIN dim d ON e.user_id = d.user_id
        |WHERE e.event_type = 'purchase'
        |ORDER BY event_id
        |""".stripMargin.trim)),

    // foreachBatch CDC-to-snapshot: every micro-batch folds into a
    // latest-per-(user, event_type) snapshot via an order-independent
    // max_by_obj compaction — the streaming materialized-upsert-view
    // pattern. The oracle is the batch "latest row per key" answer.
    Q("q_stream_cdc_snapshot",
      (s, d) => StreamingOps.streamingLatestSnapshot(
          StreamingOps.eventsStream(StreamingOps.session(s), d))
        .orderBy("user_id", "event_type"),
      Some("""
        |WITH r AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us,
        |    event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_c,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_type, ts_us, event_id, value_c
        |FROM r WHERE rn = 1 ORDER BY user_id, event_type
        |""".stripMargin.trim)),

    Q("q_stream_user_stats",
      (s, d) => StreamingOps.runToTable(
          StreamingOps.userStats(
            StreamingOps.eventsStream(StreamingOps.session(s), d)).toDF(),
          OutputMode.Update())
        .orderBy("user_id"),
      Some("""
        |SELECT user_id, count(*) AS n_events,
        |  max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS max_value_c
        |FROM events GROUP BY user_id ORDER BY user_id
        |""".stripMargin.trim)),

    // foreachBatch incremental-MV maintenance: per-batch partial
    // (cnt, sum) states merged into a running state table — the
    // streaming face of ops/IncrementalAgg, order-independent because
    // count/sum are a commutative monoid. Oracle = full recompute.
    Q("q_stream_incr_agg",
      (s, d) => StreamingOps.streamingAggMaintain(
          StreamingOps.eventsStream(StreamingOps.session(s), d))
        .orderBy("user_id"),
      Some("""
        |SELECT user_id, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(v_c) AS BIGINT) AS sum_value_c,
        |  CAST((sum(v_c) * 1000) // count(*) AS BIGINT)
        |    AS avg_value_c_milli
        |FROM (SELECT user_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_c
        |  FROM events WHERE value IS NOT NULL)
        |GROUP BY user_id ORDER BY user_id
        |""".stripMargin.trim)),

    // Streaming drift monitor: the stream maintains ONLY the (day,
    // bin) histogram (state bounded by days×bins); the TV-vs-baseline
    // finalize runs as a batch query over the materialized histogram.
    // Shares q_drift_tv's oracle — stream-maintained + finalize must
    // equal the all-batch computation row for row.
    Q("q_stream_drift_tv",
      (s, d) => {
        val counts = StreamingOps.runToTable(
          StreamingOps.driftHistogram(
            StreamingOps.eventsStream(StreamingOps.session(s), d)),
          OutputMode.Complete())
          // snapshot the (tiny) histogram out of the memory sink: the
          // finalize self-joins it, and MemoryPlan leaves cannot
          // re-instance attribute ids (conflicting-references error);
          // a LogicalRDD can
          .localCheckpoint()
        graft.ops.Analytics.driftFromCounts(counts, "day", "bin", "__c")
          .orderBy("day")
      },
      Some(AnalyticsQueries.driftOracle)),

    // transformWithState (arbitrary-state v2) sessionization: per-user
    // ListState of candidate sessions + event-time timers; a session
    // emits only once the watermark proves it closed. Bounded run ⇒
    // emitted set = sessions with end + gap ≤ final watermark
    // (max event-time ms − 1 h), which the oracle recomputes from the
    // batch gaps-islands sessionization. Requires the RocksDB state
    // store provider (a TWS prerequisite) — session-scoped conf.
    Q("q_stream_session_state",
      (s, d) => {
        val s2 = StreamingOps.session(s)
        s2.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state." +
            "RocksDBStateStoreProvider")
        StreamingOps.runToTable(
            StreamingOps.sessionState(
              StreamingOps.eventsStream(s2, d),
              gapUs = 1800L * 1000000L).toDF(),
            OutputMode.Append())
          .orderBy("user_id", "session_start_us")
      },
      Some("""
        |WITH g AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
        |            > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts_us,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_seq
        |  FROM g),
        |agg AS (SELECT user_id, session_seq,
        |    min(ts_us) AS session_start_us,
        |    max(ts_us) AS session_end_us,
        |    count(*) AS n_events
        |  FROM s GROUP BY user_id, session_seq),
        |wm AS (SELECT (max(epoch_us(ts)) // 1000 - 3600000) * 1000
        |    AS wm_us FROM events)
        |SELECT user_id, session_start_us, session_end_us,
        |  CAST(n_events AS BIGINT) AS n_events
        |FROM agg, wm
        |WHERE session_end_us + 1800000000 <= wm_us
        |ORDER BY user_id, session_start_us
        |""".stripMargin.trim)),

    // ---- streaming corrupt-record quarantine --------------------------
    // The audit posture where it matters most: a scrape feed arriving
    // as a stream. Because the audited parse is a pure PROJECTION
    // (Audited.auditJsonLines — the reason the op line-frames instead
    // of using the file readers' internal corrupt column), the exact
    // batch semantics run unchanged on readStream.text: clean rows
    // flow on, planted corrupt rows surface with their raw payload,
    // stateless Append mode. Oracle = the JSON half of
    // q_source_quarantine's golden VALUES.
    Q("q_stream_quarantine",
      (s, _) => {
        val dir = JobQueries.quarantineFixtureDir()
        val s2 = StreamingOps.session(s)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.StringType)))
        val lines = s2.readStream
          .option("pathGlobFilter", "feed.json").text(dir)
        StreamingOps.runToTable(
            graft.sources.Audited.auditJsonLines(lines, schema)
              .select(col("id"), col("v"),
                col(graft.sources.Audited.CorruptCol)
                  .as("quarantined_payload")),
            OutputMode.Append())
          .orderBy("id", "quarantined_payload")
      },
      Some("""
        |SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'alpha', CAST(NULL AS VARCHAR)),
        |  (CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
        |   '{"id": 2 "v": "beta"}'),
        |  (CAST(NULL AS BIGINT), 'gamma', '{"id": "x3", "v": "gamma"}'),
        |  (CAST(4 AS BIGINT), 'delta', CAST(NULL AS VARCHAR))
        |) AS t(id, v, quarantined_payload)
        |ORDER BY id, quarantined_payload
        |""".stripMargin.trim))
  )
}
