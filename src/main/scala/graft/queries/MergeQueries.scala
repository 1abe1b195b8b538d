package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._
import graft.ops.Merge

/** Incremental-maintenance queries: upsert, CDC merge-apply, SCD2
  * history (ops/Merge.scala). The reference pipeline overwrites its
  * snapshot daily (merge_dedup.py:31-41); these are the operators that
  * replace full rewrites once the data outgrows them.
  *
  * events.ts is canonical epoch-MICROS int64 on both sides
  * (Tables.events + DuckDB epoch_us) — exact, no precision drift. */
object MergeQueries {

  private def cents(c: org.apache.spark.sql.Column) =
    floor(c * 100 + 0.5).cast(LongType)
  private val centsSql = OracleSql.cents

  /** Order count and exact cents sum per priority over (o_orderpriority,
    * price_c) rows — the aggregate both format round-trips compare. */
  private def priorityCents(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(col("price_c")).as("sum_c"))
      .orderBy("o_orderpriority")

  /** [[priorityCents]] computed straight from the parquet orders. */
  private val priorityCentsSql = s"""
    |SELECT o_orderpriority, count(*) AS n,
    |  CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS sum_c
    |FROM orders GROUP BY 1 ORDER BY 1
    |""".stripMargin.trim

  /** Content-keyed managed ORC table over an orders projection — the
    * q_orc_roundtrip store (single CTAS: the catalog entry is its own
    * completion marker). */
  private def orcOrdersTable(s: org.apache.spark.sql.SparkSession,
                             d: String): String = {
    val tbl = "orc_orders_" +
      Sinks.contentKey(d, "orders.parquet", "orc|v2")
    graft.ops.StoreGuard.table(s, tbl) {
      orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          cents(col("o_totalprice")).as("price_c"))
        .write.format("orc").mode("overwrite").saveAsTable(tbl)
    }
    tbl
  }

  /** Content-keyed directory of the same orders projection through
    * Spark 4's NATIVE XML source (`format("xml")`, one row element
    * per order) — the q_xml_roundtrip store. Marker-completed like
    * the WARC dir: the XML writer emits per-task part files with no
    * transactional catalog entry, so completion needs its own
    * witness. */
  private def xmlOrdersDir(s: org.apache.spark.sql.SparkSession,
                           d: String): String =
    graft.ops.StoreGuard.directory("graft_xml_" +
        Sinks.contentKey(d, "orders.parquet", "xml|v1")) { dir =>
      orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          cents(col("o_totalprice")).as("price_c"))
        .write.format("xml")
        .option("rootTag", "orders").option("rowTag", "order")
        .mode("overwrite").save(dir)
    }

  /** Content-keyed WARC archive of the documents corpus, written by
    * the distributed [[graft.sources.WarcSink]] (4 members, one per
    * task; marker after the full set so a death mid-write re-runs the
    * sink). */
  private def warcDir(s: org.apache.spark.sql.SparkSession,
                      d: String): String =
    graft.ops.StoreGuard.directory("graft_warc_" +
        Sinks.contentKey(d, "documents.parquet", "warc|v1")) { dir =>
      graft.sources.WarcSink.write(
        documents(s, d).repartition(4, col("doc_id"))
          .select(
            concat(lit("http://corpus.local/doc/"), col("doc_id"))
              .as("uri"),
            lit("2026-01-01T00:00:00Z").as("warc_date"),
            concat(lit("urn:graft:"), col("doc_id")).as("rid"),
            encode(col("text"), "UTF-8").as("payload")),
        dir)
    }

  val OrcOrdersStore = Prepare("orc_orders_store", orcOrdersTable(_, _))
  val XmlOrdersStore = Prepare("xml_orders_store", xmlOrdersDir(_, _))
  val WarcStore = Prepare("warc_store", warcDir(_, _))

  def all: Seq[Q] = Seq(

    // ---- upsert: delta batch replaces/extends the snapshot ------------
    // Deterministic synthetic delta from customer itself: every 10th
    // key gets a segment overwrite, every (10k+1)th key re-keyed past
    // the max becomes an insert.
    Q("q_merge_upsert",
      (s, d) => {
        val snap = customer(s, d).select("c_custkey", "c_mktsegment")
        val updates = snap.filter(col("c_custkey") % 10 === 0)
          .withColumn("c_mktsegment", lit("UPDATED"))
        val inserts = snap.filter(col("c_custkey") % 10 === 1)
          .withColumn("c_custkey", col("c_custkey") + 1000000L)
        Merge.upsert(snap, updates.unionByName(inserts),
            keys = Seq("c_custkey"))
          .orderBy("c_custkey")
      },
      Some("""
        |WITH delta AS (
        |  SELECT c_custkey, 'UPDATED' AS c_mktsegment FROM customer
        |  WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_mktsegment FROM customer
        |  WHERE c_custkey % 10 = 1)
        |SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_custkey NOT IN (SELECT c_custkey FROM delta)
        |UNION ALL
        |SELECT c_custkey, c_mktsegment FROM delta
        |ORDER BY c_custkey
        |""".stripMargin.trim)),

    // ---- CDC merge-apply: latest change per key wins, deletes drop ----
    // Snapshot = each user's first signup; change log = purchases
    // (upserts) and errors (deletes), ordered by (ts, event_id). The
    // change log compacts via ONE max_by_obj shuffle before touching
    // the snapshot.
    Q("q_cdc_merge_apply",
      (s, d) => {
        val ev = events(s, d)
        val snap = ev.filter(col("event_type") === "signup")
          .groupBy("user_id")
          .agg(min(struct(col("ts").as("ts_us"),
            col("event_id"),
            cents(col("value")).as("value_c"))).as("f"))
          .select(col("user_id"), col("f.event_id").as("event_id"),
            col("f.value_c").as("value_c"))
        // micros ordering on both sides (oracle rule 5): DuckDB windows
        // can only see micro-precision ts, so latest-change selection
        // must use the same truncation here
        val changes = ev
          .filter(col("event_type").isin("purchase", "error"))
          .select(col("user_id"), col("event_id"),
            cents(col("value")).as("value_c"),
            col("ts").as("ts_us"),
            when(col("event_type") === "error", lit("D"))
              .otherwise(lit("U")).as("op"))
        Merge.applyCdc(snap, changes, keys = Seq("user_id"),
            ordCols = Seq("ts_us", "event_id"), opCol = "op")
          .orderBy("user_id")
      },
      Some(s"""
        |WITH snap AS (
        |  SELECT user_id, event_id, value_c FROM (
        |    SELECT user_id, event_id,
        |      ${centsSql("value")} AS value_c,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY epoch_us(ts), event_id) AS rn
        |    FROM events WHERE event_type = 'signup')
        |  WHERE rn = 1),
        |ch AS (
        |  SELECT user_id, event_id, ${centsSql("value")} AS value_c,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events WHERE event_type IN ('purchase', 'error')),
        |latest AS (SELECT user_id, event_id, value_c, op FROM ch
        |           WHERE rn = 1)
        |SELECT user_id, event_id, value_c FROM snap
        |WHERE user_id NOT IN (SELECT user_id FROM ch)
        |UNION ALL
        |SELECT user_id, event_id, value_c FROM latest WHERE op <> 'D'
        |ORDER BY user_id
        |""".stripMargin.trim)),

    // ---- SCD2: version log → validity intervals -----------------------
    // ts truncated to MICROS before the window: DuckDB timestamps are
    // micro-precision, so ordering and interval bounds must be computed
    // on the same truncated values on both sides (oracle rule 5).
    Q("q_scd2_history",
      (s, d) => Merge.scd2(
          events(s, d).filter(col("event_type") === "purchase")
            .select(col("user_id"), col("event_id"),
              cents(col("value")).as("value_c"),
              col("ts").as("ts_us")),
          keys = Seq("user_id"), effCol = "ts_us",
          tiebreak = Seq("event_id"))
        .drop("ts_us")
        .orderBy("user_id", "valid_from", "event_id"),
      Some(s"""
        |SELECT user_id, event_id, ${centsSql("value")} AS value_c,
        |  epoch_us(ts) AS valid_from,
        |  lead(epoch_us(ts)) OVER w AS valid_to,
        |  CASE WHEN lead(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END
        |    AS is_current
        |FROM events WHERE event_type = 'purchase'
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |ORDER BY user_id, valid_from, event_id
        |""".stripMargin.trim)),

    // ---- snapshot diff: added / removed / changed / unchanged ----------
    // The dataset-regression primitive: one full-outer join classifies
    // every key between two snapshot versions. Deterministic synthetic
    // next-version from customer itself: every 97th key dropped, every
    // 13th (surviving) key's segment rewritten, a re-keyed slice
    // appended. Only the non-unchanged rows are output (the
    // interesting diff), with the payloads unpacked for the oracle.
    Q("q_snapshot_diff",
      (s, d) => {
        val prev = customer(s, d).select("c_custkey", "c_mktsegment")
        val changed = prev.filter(col("c_custkey") % 97 =!= 0)
          .withColumn("c_mktsegment",
            when(col("c_custkey") % 13 === 0, lit("REWRITTEN"))
              .otherwise(col("c_mktsegment")))
        val next = changed.unionByName(
          prev.filter(col("c_custkey") % 11 === 0)
            .select((col("c_custkey") + 1000000L).as("c_custkey"),
              col("c_mktsegment")))
        Merge.diffSnapshots(prev, next, Seq("c_custkey"))
          .filter(col("status") =!= "unchanged")
          .select(col("c_custkey"), col("status"),
            col("__old.c_mktsegment").as("old_seg"),
            col("__new.c_mktsegment").as("new_seg"))
          .orderBy("c_custkey")
      },
      Some("""
        |WITH prev AS (SELECT c_custkey, c_mktsegment FROM customer),
        |chg AS (SELECT c_custkey,
        |    CASE WHEN c_custkey % 13 = 0 THEN 'REWRITTEN'
        |         ELSE c_mktsegment END AS c_mktsegment
        |  FROM prev WHERE c_custkey % 97 <> 0),
        |next AS (SELECT * FROM chg
        |  UNION ALL SELECT c_custkey + 1000000, c_mktsegment
        |  FROM prev WHERE c_custkey % 11 = 0),
        |d AS (SELECT coalesce(p.c_custkey, n.c_custkey) AS c_custkey,
        |    CASE WHEN p.c_custkey IS NULL THEN 'added'
        |         WHEN n.c_custkey IS NULL THEN 'removed'
        |         WHEN p.c_mktsegment IS DISTINCT FROM n.c_mktsegment
        |           THEN 'changed'
        |         ELSE 'unchanged' END AS status,
        |    p.c_mktsegment AS old_seg, n.c_mktsegment AS new_seg
        |  FROM prev p FULL OUTER JOIN next n
        |    ON p.c_custkey = n.c_custkey)
        |SELECT c_custkey, status, old_seg, new_seg FROM d
        |WHERE status <> 'unchanged' ORDER BY c_custkey
        |""".stripMargin.trim)),

    // ---- schema-evolution read: mergeSchema over two snapshot eras ---
    // The day-2 corpus-store problem beside q_snapshot_diff: snapshot
    // v1 (even orderkeys) carries (o_orderkey, price, priority);
    // snapshot v2 (odd orderkeys) ADDS cust and RENAMES priority →
    // order_priority. One mergeSchema read unifies them; the rename
    // reconciles as coalesce(new, old) (parquet has no rename — each
    // era's files carry one of the names). Oracle recomputes the union
    // from the orders table: added column null for v1 rows, snapshot
    // id from the partition directory.
    Q("q_schema_evolution",
      (s, d) => {
        val root = graft.ops.StoreGuard.directory("graft_schema_evo_" +
            Sinks.contentKey(d, "orders.parquet", "evo|v1")) { dir =>
          val o = orders(s, d)
          o.filter(col("o_orderkey") % 2 === 0)
            .select(col("o_orderkey"), col("o_totalprice").as("price"),
              col("o_orderpriority").as("priority"))
            .write.mode("overwrite").parquet(s"$dir/snap=1")
          o.filter(col("o_orderkey") % 2 === 1)
            .select(col("o_orderkey"), col("o_totalprice").as("price"),
              col("o_orderpriority").as("order_priority"),
              col("o_custkey").as("cust"))
            .write.mode("overwrite").parquet(s"$dir/snap=2")
        }
        graft.sources.Evolved.readMerged(s, root,
            renames = Map("priority" -> "order_priority"))
          .select(col("o_orderkey"), cents(col("price")).as("price_c"),
            col("order_priority"), col("cust"),
            col("snap").cast(IntegerType).as("snap"))
          .orderBy("o_orderkey")
      },
      Some(s"""
        |SELECT o_orderkey, ${centsSql("o_totalprice")} AS price_c,
        |  o_orderpriority AS order_priority,
        |  CASE WHEN o_orderkey % 2 = 1 THEN o_custkey END AS cust,
        |  CAST(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END
        |    AS INTEGER) AS snap
        |FROM orders ORDER BY o_orderkey
        |""".stripMargin.trim)),

    // ---- ORC round-trip: the second columnar format ------------------
    // Spark's built-in ORC source beside parquet: a projection of
    // orders written once as a content-keyed managed ORC table (built
    // untimed with the other stores — same discipline, no hand-rolled
    // tmpdir guards), read back from ORC, and aggregated —
    // hash-compared against the same aggregate computed from the
    // parquet table, pinning value fidelity across the format boundary
    // (long keys, strings, cent-quantized money).
    Q("q_orc_roundtrip",
      (s, d) => priorityCents(s.table(orcOrdersTable(s, d))),
      Some(priorityCentsSql),
      stores = Seq(OrcOrdersStore)),

    // ---- XML round-trip through Spark 4's NATIVE XML source -----------
    // Same value-fidelity pin as the ORC twin, through the one
    // built-in source format the registry didn't yet exercise: the
    // orders projection is written as <orders><order>…</order>…
    // (content-keyed dir, untimed with the other stores), read back
    // with an EXPLICIT schema (XML inference samples the data — a
    // schema'd read is the only scan shape to ship; keys and cents
    // land as longs, never inferred doubles), aggregated, and
    // hash-compared against the parquet-side aggregate.
    Q("q_xml_roundtrip",
      (s, d) => priorityCents(s.read.format("xml").option("rowTag", "order")
        .schema(StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_orderpriority", StringType),
          StructField("price_c", LongType))))
        .load(xmlOrdersDir(s, d))),
      Some(priorityCentsSql),
      stores = Seq(XmlOrdersStore)),

    // ---- WARC ingestion round-trip (DataSourceV2) --------------------
    // The web-archive front door: the corpus written as WARC/1.0
    // members by the distributed sink, read back through the custom
    // DataSourceV2 (one input partition per member, record framing
    // parsed, payload bytes read only when `content` is projected).
    // Full-fidelity read — every record's uri-derived id, declared
    // Content-Length, and payload hash-compared against the source
    // table.
    Q("q_warc_roundtrip",
      (s, d) => {
        val dir = warcDir(s, d)
        s.read.format("graft.sources.WarcSource").load(dir)
          .select(
            expr("CAST(substring(rid, 11) AS BIGINT)").as("doc_id"),
            col("n_bytes"), col("content"))
          .orderBy("doc_id")
      },
      Some("""
        |SELECT doc_id, length(text) AS n_bytes, text AS content
        |FROM documents ORDER BY doc_id
        |""".stripMargin.trim),
      stores = Seq(WarcStore)),

    // ---- WARC header-only scan (pruned: payloads never read) ---------
    // The archive-inventory query: only header-derived columns are
    // projected, so the reader SKIPs every record's payload via its
    // Content-Length (column pruning reaching the byte level — pinned
    // structurally in WarcSpec). Totals still must be exact.
    Q("q_warc_pruned_scan",
      (s, d) => {
        val dir = warcDir(s, d)
        s.read.format("graft.sources.WarcSource").load(dir)
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_bytes")).cast("long").as("total_bytes"))
      },
      Some("""
        |SELECT count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS total_bytes
        |FROM documents
        |""".stripMargin.trim),
      stores = Seq(WarcStore)),

    // ---- SCD2 point-in-time join (the native as-of exec's natural
    // use): enrich each click with the purchase-value VERSION valid at
    // the click instant. SCD2 intervals are contiguous per key, so
    // "latest valid_from <= ts" (backward as-of, tiebreak event_id) IS
    // interval containment — including the empty-[t,t) edge from
    // same-microsecond version pairs, where the tiebreak picks the
    // surviving later version exactly as the interval predicate does.
    // History is dim-sized → BroadcastAsOfJoinExec: clicks stream with
    // no exchange and no sort. Oracle spells the containment LEFT JOIN.
    Q("q_scd2_pointintime",
      (s, d) => {
        val versions = Merge.scd2(
            events(s, d).filter(col("event_type") === "purchase")
              .select(col("user_id"), col("event_id"),
                cents(col("value")).as("value_c"),
                col("ts").as("ts_us")),
            keys = Seq("user_id"), effCol = "ts_us",
            tiebreak = Seq("event_id"))
          .select(col("user_id"), col("valid_from").as("ts_us"),
            col("event_id"), col("value_c"))
        val clicks = events(s, d).filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("ts_us"),
            col("event_id").as("click_id"))
        graft.ops.Joins.asofJoinBroadcast(clicks, versions,
            key = "user_id", time = "ts_us",
            payload = Seq("event_id", "value_c"),
            rightTiebreak = Seq("event_id"))
          .orderBy("click_id")
      },
      Some(s"""
        |WITH v AS (SELECT user_id, event_id,
        |    ${centsSql("value")} AS value_c,
        |    epoch_us(ts) AS valid_from,
        |    lead(epoch_us(ts)) OVER w AS valid_to
        |  FROM events WHERE event_type = 'purchase'
        |  WINDOW w AS (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id)),
        |c AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |    event_id AS click_id FROM events
        |  WHERE event_type = 'click')
        |SELECT c.user_id, c.ts_us, c.click_id,
        |  v.event_id AS asof_event_id, v.value_c AS asof_value_c
        |FROM c LEFT JOIN v ON v.user_id = c.user_id
        |  AND v.valid_from <= c.ts_us
        |  AND (v.valid_to IS NULL OR c.ts_us < v.valid_to)
        |ORDER BY click_id
        |""".stripMargin.trim)),

    // ---- replay-idempotent day-partitioned load -----------------------
    // The reference's loads are WRITE_APPEND under Airflow retries
    // (dags/pipeline.py:246,258,271) — a retried load double-appends
    // the day's rows. Pipeline.writePartitionedIdempotent is the fix
    // (dynamic partition overwrite); this gate RUNS THE REPLAY: the
    // same month of orders is loaded twice into the sink, and the
    // hash-checked oracle holds single-copy counts — a double-append
    // would double every row and fail the gate.
    Q("q_partition_replay",
      (s, d) => {
        val key = Sinks.contentKey(d, "orders.parquet", "replay|v1")
        val out = s"/tmp/graft_replay_$key"
        val day = orders(s, d)
          .filter(col("o_orderdate").between("1995-01-01", "1995-01-31"))
          .select(col("o_orderkey"), col("o_custkey"),
            cents(col("o_totalprice")).as("price_c"),
            col("o_orderdate"))
        graft.jobs.Pipeline.writePartitionedIdempotent(
          day, out, "o_orderdate")
        // the retry — byte-identical batch, same partitions
        graft.jobs.Pipeline.writePartitionedIdempotent(
          day, out, "o_orderdate")
        s.read.parquet(out)
          .select(col("o_orderkey"), col("o_custkey"), col("price_c"),
            col("o_orderdate").cast(DateType).as("o_orderdate"))
          .orderBy("o_orderkey")
      },
      Some(s"""
        |SELECT o_orderkey, o_custkey,
        |  ${centsSql("o_totalprice")} AS price_c, o_orderdate
        |FROM orders
        |WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-01-31'
        |ORDER BY o_orderkey
        |""".stripMargin.trim))
  )
}
