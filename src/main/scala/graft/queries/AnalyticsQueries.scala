package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._
import graft.ops.{Analytics, BradleyTerry, GraphEdges, PageRank,
  PreferenceAudit, RankCentrality}

/** Product-analytics queries (funnel, cohort retention, gap fill,
  * anomaly flags) — the BigQuery/Looker layer of the reference
  * (README.md:62-65) re-expressed in-engine. Every query is pinned to a
  * DuckDB oracle; times go through epoch-microseconds and money/value
  * through integer milli-units so the hashes are engine-exact (see
  * AggQueries' determinism note). */
object AnalyticsQueries {

  /** The write-once co-purchase edge layout shared by the graph gates
    * (triangles, label propagation): (src, dst, support) bucketed by
    * src — see [[GraphEdges]]. Content-keyed so regeneration of the
    * source invalidates the stored table. */
  private def copurchaseEdges(s: org.apache.spark.sql.SparkSession,
                              d: String): org.apache.spark.sql.DataFrame =
    GraphEdges.shared(s,
      "grf_copurchase_" + Sinks.contentKey(d, "lineitem.parquet",
        "copurchase-support|v1"),
      GraphEdges.copurchaseSupport(lineitem(s, d), "l_orderkey",
        "l_partkey"))

  /** The symmetric customer↔supplier purchase graph PageRank walks,
    * same write-once bucketed layout (supplier ids offset by 1e6 —
    * disjoint from customer keys by construction). */
  private def purchaseGraphEdges(s: org.apache.spark.sql.SparkSession,
                                 d: String): org.apache.spark.sql.DataFrame =
    GraphEdges.shared(s,
      "grf_purchase_" + Sinks.contentKey(d, "lineitem.parquet",
        "bipartite|v1|" + Sinks.contentKey(d, "orders.parquet")), {
        val pairs = orders(s, d).select("o_orderkey", "o_custkey")
          .join(lineitem(s, d).select("l_orderkey", "l_suppkey"),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("c"),
            (col("l_suppkey") + 1000000L).as("s2"))
          .distinct()
        pairs.select(col("c").as("src"), col("s2").as("dst"))
          .unionByName(pairs.select(col("s2").as("src"),
            col("c").as("dst")))
      })

  /** The MAINTAINED support store q_incr_edges_maintain merges a delta
    * into: the co-purchase layout over the 90% "already ingested"
    * baskets, built once per corpus content like [[copurchaseEdges]] —
    * the maintenance gate then measures delta work + merge, not a
    * rebuild of state that in production already sits on disk. */
  private def storedEdges90(s: org.apache.spark.sql.SparkSession,
                            d: String): org.apache.spark.sql.DataFrame =
    GraphEdges.shared(s,
      "grf_copurchase90_" + Sinks.contentKey(d, "lineitem.parquet",
        "copurchase-support|mod10ne7|v1"),
      GraphEdges.copurchaseSupport(
        lineitem(s, d).select("l_orderkey", "l_partkey")
          .filter(pmod(col("l_orderkey"), lit(10)) =!= 7),
        "l_orderkey", "l_partkey"))

  /** One-time content-addressed layout builds, run untimed
    * ([[Registry.prepares]]). */
  val CopurchaseEdges = Prepare("copurchase_edges", copurchaseEdges(_, _))
  val PurchaseGraphEdges =
    Prepare("purchase_graph_edges", purchaseGraphEdges(_, _))
  val CopurchaseEdgesStored90 =
    Prepare("copurchase_edges_stored90", storedEdges90(_, _))
  val PrefScoreStore = Prepare("pref_score_store", prefScoreTables(_, _))

  /** Lineitem self-join aliased `a`/`b`: supplier pairs of one order
    * in strict key order whose quantities differ — every duel stream
    * below selects its outcome from these rows (the price column only
    * feeds the confound audit; column pruning drops it elsewhere). */
  private def duelJoin(s: org.apache.spark.sql.SparkSession, d: String) = {
    val li = lineitem(s, d)
      .select("l_orderkey", "l_suppkey", "l_quantity", "l_extendedprice")
    li.as("a").join(li.as("b"),
      col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_suppkey") < col("b.l_suppkey") &&
        col("a.l_quantity") =!= col("b.l_quantity"))
  }

  /** [[duelJoin]] in DuckDB: the FROM clause of every duel CTE. */
  private val duelJoinSql =
    """  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey
      |   AND a.l_suppkey < b.l_suppkey
      |   AND a.l_quantity <> b.l_quantity""".stripMargin

  /** Quantity duels (i, j, awin): the larger quantity wins. */
  private def quantityDuels(s: org.apache.spark.sql.SparkSession,
                            d: String) =
    duelJoin(s, d).select(col("a.l_suppkey").as("i"),
      col("b.l_suppkey").as("j"),
      (col("a.l_quantity") > col("b.l_quantity")).as("awin"))

  /** [[quantityDuels]] in DuckDB. */
  private val quantityDuelsSql =
    s"""SELECT a.l_suppkey AS i, b.l_suppkey AS j,
      |    a.l_quantity > b.l_quantity AS awin
      |$duelJoinSql""".stripMargin

  /** Latent-strength duels (i, j, awin): the higher suppkey wins unless
    * a deterministic hash-noise term (~1/4 of duels) flips the outcome. */
  private def noisyDuels(s: org.apache.spark.sql.SparkSession, d: String) =
    duelJoin(s, d).select(col("a.l_suppkey").as("i"),
        col("b.l_suppkey").as("j"),
        (pmod(col("a.l_suppkey") * 7 + col("b.l_suppkey") * 13 +
          col("a.l_orderkey"), lit(4)) > 0).as("awin0"))
      // i < j always: "a wins" = noise says follow strength = j…
      // so awin (i wins) = NOT(strength outcome kept)
      .select(col("i"), col("j"), (!col("awin0")).as("awin"))

  /** [[noisyDuels]] in DuckDB. */
  private val noisyDuelsSql =
    s"""SELECT a.l_suppkey AS i, b.l_suppkey AS j,
      |    NOT ((a.l_suppkey*7 + b.l_suppkey*13 + a.l_orderkey)
      |      % 4 > 0) AS awin
      |$duelJoinSql""".stripMargin

  /** The from-scratch 5-iteration BT fit over all quantity duels: the
    * batch, incremental-refresh and streaming fits must all equal it. */
  private lazy val btOracle =
    BradleyTerry.oracleSql(quantityDuelsSql, iters = 5)

  /** The stored duel stream WITH its prompt key — the oracle-side
    * replay of [[prefScoreTables]]' duels table for the per-prompt
    * exports (KTO labels, best-of-n). The score chain's pair CTEs
    * ignore the extra column, so the same SQL feeds both. */
  private val duelsWithPromptSql =
    s"""SELECT a.l_orderkey AS ok, a.l_suppkey AS i, b.l_suppkey AS j,
      |    a.l_quantity > b.l_quantity AS awin
      |$duelJoinSql""".stripMargin

  /** The stored preference artifacts the grading gates consume: the
    * quantity-duel stream plus BOTH aggregators' fitted score vectors,
    * content-keyed on the lineitem fixture. At deployment these are
    * refreshed once per preference-corpus drop and then read by every
    * eval — the fit gates (`q_pref_bradley_terry`,
    * `q_pref_rank_centrality`) still run their fits end-to-end, so
    * fit cost stays measured; the store only keeps DOWNSTREAM evals
    * from re-paying it. Returns (duelsTable, btTable, rcTable,
    * pairs90Table). */
  private def prefScoreTables(s: org.apache.spark.sql.SparkSession,
      d: String): (String, String, String, String) = {
    val key = Sinks.contentKey(d, "lineitem.parquet", "prefscores|v2")
    val (dt, bt, rt, p90) = (s"pref_duels_$key", s"pref_bt_$key",
      s"pref_rc_$key", s"pref_pairs90_$key")
    graft.ops.StoreGuard.tables(s, s"${dt}_ok",
      writes = Seq(dt, bt, rt, p90)) {
      duelJoin(s, d)
        .select(col("a.l_orderkey").as("ok"),
          col("a.l_suppkey").as("i"),
          col("b.l_suppkey").as("j"),
          (col("a.l_quantity") > col("b.l_quantity")).as("awin"))
        .write.mode("overwrite").saveAsTable(dt)
      // ONE duel-stream pass for all three derived stores (r12 verdict
      // item 2 — this prepare was 12.4 s of an 87 s setup): pair stats
      // grouped WITH the incremental tranche flag, then the full
      // matrix (both tranches summed — bit-identical to
      // pairStats(duels), counts are longs and addition is
      // associative) feeds BOTH fits via fitFromPairs, and the
      // historical-tranche matrix is the flag's other slice. Duels
      // previously took 4 passes here (write + BT + RC + p90).
      val byTranche = s.table(dt)
        .groupBy(col("i"), col("j"),
          (pmod(col("ok"), lit(10L)) === 0L).as("held"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("awin"), 1L).otherwise(0L)).as("wi"))
        .localCheckpoint()
      try {
        val full = byTranche.groupBy("i", "j")
          .agg(sum(col("n")).as("n"), sum(col("wi")).as("wi"))
          .localCheckpoint()
        try {
          BradleyTerry.fitFromPairs(full, iters = 5)
            .write.mode("overwrite").saveAsTable(bt)
          RankCentrality.fitFromPairs(full, iters = 5)
            .write.mode("overwrite").saveAsTable(rt)
          // the incremental deployment's persisted artifact: the
          // additive pair matrix over the historical tranche
          // (ok % 10 != 0); the refresh gate merges the held-out
          // tranche in delta-sized work
          byTranche.where(!col("held")).groupBy("i", "j")
            .agg(sum(col("n")).as("n"), sum(col("wi")).as("wi"))
            .write.mode("overwrite").saveAsTable(p90)
        } finally graft.ops.Checkpoints.free(full)
      } finally graft.ops.Checkpoints.free(byTranche)
    }
    (dt, bt, rt, p90)
  }

  /** Shared by q_drift_tv and its streaming twin q_stream_drift_tv —
    * the stream-maintained histogram plus batch finalize must equal
    * the all-batch computation row for row. */
  private[queries] val driftOracle: String = """
    |WITH t AS (SELECT CAST(ts AS DATE) AS day,
    |    LEAST(9, CAST(floor(value / 50) AS BIGINT)) AS bin
    |  FROM events WHERE value IS NOT NULL),
    |c AS (SELECT day, bin, count(*) AS c FROM t GROUP BY 1, 2),
    |g AS (SELECT day, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
    |b AS (SELECT bin, CAST(sum(c) AS BIGINT) AS cb FROM c GROUP BY 1),
    |tot AS (SELECT CAST(sum(c) AS BIGINT) AS nt FROM c),
    |s AS (SELECT c.day,
    |    CAST(sum(abs(c.c * tot.nt - b.cb * g.n)) AS BIGINT) AS sp,
    |    CAST(sum(b.cb) AS BIGINT) AS cbp
    |  FROM c JOIN b USING (bin) JOIN g USING (day) CROSS JOIN tot
    |  GROUP BY 1)
    |SELECT g.day, g.n,
    |  (1000 * (s.sp + (tot.nt - s.cbp) * g.n) + g.n * tot.nt)
    |    // (2 * g.n * tot.nt) AS tv_milli
    |FROM s JOIN g USING (day) CROSS JOIN tot ORDER BY day
    |""".stripMargin.trim

  def all: Seq[Q] = Seq(

    // ---- ordered funnel: view -> click -> purchase ------------------
    // Per-user ordered-stage flags: a click counts only at-or-after the
    // first view, a purchase only at-or-after the first qualifying
    // click. One exchange + one sort total (all windows share a spec).
    Q("q_funnel_stages",
      (s, d) => {
        val ev = events(s, d).select(col("user_id"),
          col("ts").as("ts_us"), col("event_id"),
          col("event_type"))
        Analytics.funnel(ev, "user_id", col("ts_us"), col("event_id"),
            col("event_type"), Seq("view", "click", "purchase"))
          .orderBy("user_id")
      },
      Some("""
        |WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    event_type FROM events),
        |f AS (SELECT user_id, ts_us, event_id, event_type,
        |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      OVER win AS r0 FROM e
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |g AS (SELECT user_id, ts_us, event_id, event_type, r0,
        |    max(CASE WHEN event_type = 'click' AND r0 = 1
        |        THEN 1 ELSE 0 END) OVER win AS r1 FROM f
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |h AS (SELECT user_id, r0, r1,
        |    max(CASE WHEN event_type = 'purchase' AND r1 = 1
        |        THEN 1 ELSE 0 END) OVER win AS r2 FROM g
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, CAST(max(r0) AS BIGINT) AS reached_view,
        |  CAST(max(r1) AS BIGINT) AS reached_click,
        |  CAST(max(r2) AS BIGINT) AS reached_purchase
        |FROM h GROUP BY user_id ORDER BY user_id
        |""".stripMargin.trim)),

    // ---- cohort retention triangle ----------------------------------
    // Cohort = day of first activity; users counted distinct at each
    // (cohort, day-offset). All stages partial-aggregable.
    Q("q_cohort_retention",
      (s, d) => {
        val ev = events(s, d).select(col("user_id"),
          to_date(timestamp_micros(col("ts"))).as("day"))
        Analytics.cohortRetention(ev, "user_id", col("day"))
          .orderBy("cohort_d", "offset_days")
      },
      Some("""
        |WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        |    FROM events),
        |c AS (SELECT user_id, min(d) AS cohort_d FROM a GROUP BY user_id)
        |SELECT c.cohort_d, CAST(date_diff('day', c.cohort_d, a.d)
        |    AS BIGINT) AS offset_days,
        |  CAST(count(DISTINCT a.user_id) AS BIGINT) AS users
        |FROM a JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2
        |""".stripMargin.trim)),

    // ---- daily gap fill + forward fill ------------------------------
    // Orders per priority are sparse at the daily grain (~1720 of 2405
    // days present per priority at sf0.01): build each key's dense day
    // spine distributed (sequence + explode) and forward-fill revenue.
    Q("q_ts_gapfill",
      (s, d) => {
        val daily = orders(s, d)
          .groupBy(col("o_orderpriority").as("p"),
            to_date(col("o_orderdate")).as("day"))
          .agg(sum(floor(col("o_totalprice") * 100 + 0.5)
            .cast(LongType)).as("rev_c"))
        Analytics.gapFillDaily(daily, "p", "day", "rev_c")
          .select("p", "day", "rev_c", "is_gap")
          .orderBy("p", "day")
      },
      Some("""
        |WITH daily AS (SELECT o_orderpriority AS p,
        |    CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS rev_c
        |  FROM orders GROUP BY 1, 2),
        |bounds AS (SELECT p, min(day) AS lo, max(day) AS hi
        |  FROM daily GROUP BY p),
        |spine AS (SELECT p, CAST(unnest(generate_series(lo, hi,
        |    INTERVAL 1 DAY)) AS DATE) AS day FROM bounds),
        |j AS (SELECT s.p, s.day, daily.rev_c,
        |    daily.rev_c IS NULL AS is_gap
        |  FROM spine s LEFT JOIN daily ON s.p = daily.p
        |    AND s.day = daily.day)
        |SELECT p, day,
        |  last_value(rev_c IGNORE NULLS) OVER (PARTITION BY p
        |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS rev_c,
        |  is_gap
        |FROM j ORDER BY p, day
        |""".stripMargin.trim)),

    // ---- integer-exact z-score anomaly flags ------------------------
    // |z| > 2.5 on events.value (milli-units) per event_type, via the
    // cross-multiplied moment inequality — no float stddev anywhere,
    // so the flag is exact under any aggregation order.
    Q("q_anomaly_zscore",
      (s, d) => {
        val ev = events(s, d).filter(col("value").isNotNull)
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 1000 + 0.5).cast(LongType)
              .as("v_milli"))
        Analytics.anomalyZScore(ev, "event_type", "v_milli", 2500)
          .orderBy("event_id")
      },
      Some("""
        |WITH t AS (SELECT event_id, event_type,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v_milli
        |  FROM events WHERE value IS NOT NULL),
        |m AS (SELECT event_id, event_type, v_milli,
        |    CAST(count(*) OVER w AS HUGEINT) AS n,
        |    CAST(sum(v_milli) OVER w AS HUGEINT) AS s,
        |    CAST(sum(CAST(v_milli AS HUGEINT) * v_milli) OVER w
        |      AS HUGEINT) AS q
        |  FROM t WINDOW w AS (PARTITION BY event_type))
        |SELECT event_id, event_type, v_milli,
        |  (n * v_milli - s) * (n * v_milli - s) * (n - 1) * 1000000
        |    > 6250000 * n * (n * q - s * s) AS is_anomaly
        |FROM m ORDER BY event_id
        |""".stripMargin.trim)),

    // ---- per-day distribution drift vs corpus baseline (TV) ---------
    // Data-quality monitor for continuous ingestion: total-variation
    // distance between each day's binned value distribution and the
    // whole-corpus baseline, in exact integer milli-units (TV not KL:
    // no libm, no empty-bin singularities — see
    // Analytics.distributionDriftTV). Bins: value/50 clamped to 10.
    Q("q_drift_tv",
      (s, d) => {
        val ev = events(s, d).filter(col("value").isNotNull)
          .select(
            to_date(timestamp_micros(col("ts"))).as("day"),
            least(lit(9L), floor(col("value") / 50).cast(LongType))
              .as("bin"))
        Analytics.distributionDriftTV(ev, "day", "bin").orderBy("day")
      },
      Some(driftOracle)),

    // ---- per-group winsorization at exact histogram quantiles -------
    // Clip each event type's value to its own [p05, p95] — the
    // outlier-clipping step before feature/reward normalization, where
    // a global clip miscalibrates heavy-tailed groups. Values are
    // cent-quantized so the histogram quantile is EXACT and
    // engine-portable; both thresholds come from one aggregate over
    // the cumulated (type, cent) histogram; windows run over bins,
    // never rows (see Analytics.winsorize).
    Q("q_winsorize",
      (s, d) => {
        val ev = events(s, d).filter(col("value").isNotNull)
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 100 + 0.5).cast(LongType)
              .as("value_cent"))
        Analytics.winsorize(ev, "event_type", "value_cent",
            loMilli = 50L, hiMilli = 950L)
          .select(col("event_id"), col("event_type"), col("value_cent"),
            col("lo_thr").as("lo_cent"), col("hi_thr").as("hi_cent"),
            col("value_cent_wins").as("wins_cent"))
          .orderBy("event_id")
      },
      Some(s"""
        |WITH ev AS (SELECT event_id, event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cent
        |  FROM events WHERE value IS NOT NULL),
        |${Analytics.winsorizeSql("ev", "event_type", "value_cent",
             50L, 950L)}
        |SELECT event_id, event_type, value_cent,
        |  lo_thr AS lo_cent, hi_thr AS hi_cent,
        |  greatest(least(value_cent, hi_thr), lo_thr) AS wins_cent
        |FROM ev JOIN wz_thr USING (event_type)
        |ORDER BY event_id
        |""".stripMargin.trim)),

    // ---- integer-exact PageRank (5 iterations) ----------------------
    // Influence scores over the symmetric customer<->supplier purchase
    // graph (supplier ids offset by 1e6 — disjoint from customer keys
    // by construction). Milli-integer arithmetic with truncating
    // division at fixed dataflow points makes the scores bit-exact at
    // any parallelism; the oracle is generated by the SAME code that
    // documents the iteration (PageRank.oracleSql), unrolled because
    // recursive CTEs cannot aggregate over the recursive table.
    Q("q_pagerank",
      (s, d) => PageRank.pageRank(purchaseGraphEdges(s, d), iters = 5)
        .orderBy("id"),
      Some(PageRank.oracleSql(
        """SELECT c AS src, s2 AS dst FROM (SELECT DISTINCT o_custkey
          |    AS c, 1000000 + l_suppkey AS s2 FROM orders
          |  JOIN lineitem ON o_orderkey = l_orderkey)
          |UNION ALL
          |SELECT s2 AS src, c AS dst FROM (SELECT DISTINCT o_custkey
          |    AS c, 1000000 + l_suppkey AS s2 FROM orders
          |  JOIN lineitem ON o_orderkey = l_orderkey)""".stripMargin,
        iters = 5)),
      stores = Seq(PurchaseGraphEdges)),

    // ---- Bradley-Terry preference aggregation (5 MM iterations) -----
    // The RLHF scoring stage: pairwise duels -> one strength score per
    // entity. Duels here are supplier-vs-supplier quantity contests
    // within an order (strict key order, ties skipped); production
    // swaps in (model_a, model_b, preferred) rows unchanged. Integer
    // micro-unit MM updates with a max anchor (entity-count-
    // independent score range — a sum anchor would truncate the
    // per-pair term to zero at 1e6 entities); oracle generated by the
    // SAME code that documents the iteration (BradleyTerry.oracleSql).
    Q("q_pref_bradley_terry",
      (s, d) => {
        BradleyTerry.fit(quantityDuels(s, d), iters = 5).orderBy("id")
      },
      Some(btOracle)),

    // ---- rank centrality (the spectral preference aggregator) --------
    // Same duel stream as the BT gate, scored by the OTHER standard
    // aggregator: stationary mass of a random walk that drifts toward
    // winners. Integer-exact fixed-iteration recurrence; oracle is
    // the unrolled chain generated next to the Spark loop.
    Q("q_pref_rank_centrality",
      (s, d) => {
        RankCentrality.fit(quantityDuels(s, d), iters = 5).orderBy("id")
      },
      Some(RankCentrality.oracleSql(quantityDuelsSql, iters = 5))),

    // ---- cross-method rank agreement (BT × rank-centrality) ----------
    // Decile-bucket both aggregators' rankings and count the joint
    // matrix: diagonal mass = methods agree; where off-diagonal mass
    // concentrates localizes the quality range on which the duel data
    // underdetermines the ranking. Exact ranks via the exchange-free
    // global index (never a one-partition window).
    Q("q_pref_method_agreement",
      (s, d) => {
        val (_, bt, rc, _) = prefScoreTables(s, d) // untimed store build
        PreferenceAudit.rankAgreement(
            s.table(bt), "bt", s.table(rc), "rc")
          .withColumnRenamed("dec_a", "dec_bt")
          .withColumnRenamed("dec_b", "dec_rc")
          .orderBy("dec_bt", "dec_rc")
      },
      Some(s"""
        |WITH btq AS MATERIALIZED (
        |$btOracle),
        |rcq AS MATERIALIZED (
        |${RankCentrality.oracleSql(quantityDuelsSql, 5)}),
        |da AS (SELECT id,
        |    (CAST(row_number() OVER (ORDER BY bt DESC, id ASC) - 1
        |      AS BIGINT) * 10) // (SELECT count(*) FROM btq)
        |      AS dec_bt FROM btq),
        |db AS (SELECT id,
        |    (CAST(row_number() OVER (ORDER BY rc DESC, id ASC) - 1
        |      AS BIGINT) * 10) // (SELECT count(*) FROM rcq)
        |      AS dec_rc FROM rcq)
        |SELECT da.dec_bt, db.dec_rc, CAST(count(*) AS BIGINT)
        |    AS n_entities
        |FROM da JOIN db ON da.id = db.id
        |GROUP BY 1, 2 ORDER BY 1, 2
        |""".stripMargin.trim),
      stores = Seq(PrefScoreStore)),

    // ---- incremental preference refresh (pair-matrix merge) ----------
    // A new tranche of judgments (ok % 10 == 0, the held-out 10%)
    // arrives against the STORED pair matrix of the historical 90%:
    // the refresh is one delta-sized pairStats aggregate + one
    // additive merge + the refit — the historical duel stream is
    // never replayed. The oracle is the from-scratch chain over ALL
    // duels: merged-refit must be bit-identical to full-history fit.
    Q("q_incr_pref_refresh",
      (s, d) => {
        val (dt, _, _, p90) = prefScoreTables(s, d)
        val delta = s.table(dt)
          .where(pmod(col("ok"), lit(10L)) === 0L)
        BradleyTerry.fitFromPairs(
          BradleyTerry.mergePairs(s.table(p90),
            BradleyTerry.pairStats(delta)),
          iters = 5).orderBy("id")
      },
      Some(btOracle),
      stores = Seq(PrefScoreStore)),

    // ---- streaming preference ingest (pair-matrix fold) --------------
    // The online face of q_incr_pref_refresh: duels arrive in
    // micro-batches from the stored duel table's directory, each
    // batch folds into the running additive pair matrix, and the
    // refit from the folded matrix must be bit-identical to the batch
    // fit over all duels — stream ≡ incremental ≡ batch ≡ oracle,
    // the same triad the near-dup path carries.
    Q("q_stream_pref_refresh",
      (s, d) => {
        val (dt, _, _, _) = prefScoreTables(s, d)
        val loc = s.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(dt))
          .location.toString
        val s2 = graft.streaming.StreamingOps.session(s)
        val duelStream = s2.readStream
          .schema("ok LONG, i LONG, j LONG, awin BOOLEAN")
          .parquet(loc)
        BradleyTerry.fitFromPairs(
          graft.streaming.StreamingOps.streamingPairStats(duelStream),
          iters = 5).orderBy("id")
      },
      Some(btOracle),
      stores = Seq(PrefScoreStore)),

    // ---- reward-model calibration (reliability diagram) --------------
    // Bucket every duel by the fitted-score GAP between its sides and
    // measure how often the higher-scored side won: the win rate must
    // rise with the gap for the scores' magnitudes to mean anything.
    // Shares the BT gate's score chain (oracle reuses the exact same
    // unrolled CTEs, so the two gates cannot drift).
    // (noisyDuels carry a LATENT STRENGTH gradient — the higher suppkey
    // wins unless a deterministic hash-noise term flips the outcome
    // (~1/4 of duels) — so fitted scores spread over the range and
    // several gap deciles populate; the BT gate's pure-quantity duels
    // cluster every score mid-range and grade only two buckets.)
    Q("q_pref_calibration",
      (s, d) => {
        val duels = noisyDuels(s, d)
        // pair-matrix-first: the duel stream collapses to the
        // entity-pair-bounded matrix in ONE shuffle and only THAT is
        // checkpointed for the two consumers (fit + grading) — a
        // duel-sized checkpoint here OOMed the 48 GiB sf10 sweep (r13)
        val pairs = BradleyTerry.pairStats(duels).localCheckpoint()
        BradleyTerry.calibrationFromPairs(pairs,
          BradleyTerry.fitFromPairs(pairs, iters = 5))
          .orderBy("gap_decile")
      },
      Some(BradleyTerry.calibrationOracleSql(noisyDuelsSql, iters = 5))),

    // ---- DPO training-pair export ------------------------------------
    // The materialization step a post-training pipeline runs between
    // preference aggregation and the trainer: every evidenced pair
    // (>= 2 duels) oriented by the fitted scores into
    // (chosen, rejected) with the score margin and empirical win
    // rate, kept only where the pair's own duels do not CONTRADICT
    // the global ranking (winrate >= 500 milli; exact ties kept, the
    // score order breaks them) — majority-contradicting pairs are
    // label-noise audit material, not training rows. Shares the
    // calibration gate's noisyDuels stream and the BT score chain
    // (dpoPairsOracleSql appends to the same unrolled CTEs).
    Q("q_pref_dpo_pairs",
      (s, d) => {
        val duels = noisyDuels(s, d)
        // pair-matrix-first, same rationale as q_pref_calibration
        val pairs = BradleyTerry.pairStats(duels).localCheckpoint()
        BradleyTerry.dpoPairsFromStats(pairs,
            BradleyTerry.fitFromPairs(pairs, iters = 5), minDuels = 2L)
          .orderBy("chosen", "rejected")
      },
      Some(BradleyTerry.dpoPairsOracleSql(noisyDuelsSql,
        iters = 5, minDuels = 2L))),

    // ---- unpaired-preference (KTO-style) label export -----------------
    // The third post-training data shape next to DPO pairs and
    // best-of-n: per (prompt, response) binary desirability, derived
    // from the STORED fit scores vs the per-prompt lower median —
    // rides the persisted duel + score store, one participant distinct
    // plus one prompt-partitioned window pass (see
    // [[BradleyTerry.ktoLabels]]). Oracle appends to the shared
    // unrolled score chain, so the labels cannot drift from the fit.
    Q("q_pref_kto_labels",
      (s, d) => {
        val (dt, bt, _, _) = prefScoreTables(s, d)
        BradleyTerry.ktoLabels(s.table(dt), s.table(bt))
          .orderBy("prompt", "id")
      },
      Some(BradleyTerry.ktoOracleSql(duelsWithPromptSql, iters = 5)),
      stores = Seq(PrefScoreStore)),

    // ---- best-of-n selection export ------------------------------------
    // Per prompt: the argmax-scored response with its margin over the
    // runner-up and the response count — the rejection-sampling /
    // BoN-distillation export. Single-response prompts are dropped
    // (margin undefined). Same stored inputs and window shape as the
    // KTO gate; the oracle shares the exact score chain.
    Q("q_pref_best_of_n",
      (s, d) => {
        val (dt, bt, _, _) = prefScoreTables(s, d)
        BradleyTerry.bestOfN(s.table(dt), s.table(bt))
          .orderBy("prompt")
      },
      Some(BradleyTerry.bestOfNOracleSql(duelsWithPromptSql, iters = 5)),
      stores = Seq(PrefScoreStore)),

    // ---- preference-data confound audit ------------------------------
    // The RLHF "length bias" check: does a covariate (response length;
    // here the line's extendedprice) predict duel outcomes? If the
    // higher-covariate side wins far more than 500/1000, the
    // preference signal is partly an artifact and a reward model
    // trained on it inherits the bias. Exact integers: wins counted
    // only where the covariate actually differs, milli rate by
    // truncating division. ONE pass over the duel stream + a
    // broadcast-joined priority dim — scan-speed at any corpus size.
    Q("q_pref_confound_audit",
      (s, d) => {
        duelJoin(s, d)
          .select(col("a.l_orderkey").as("ok"),
            (col("a.l_extendedprice") =!= col("b.l_extendedprice"))
              .as("attr_diff"),
            (((col("a.l_quantity") > col("b.l_quantity")) &&
              (col("a.l_extendedprice") > col("b.l_extendedprice"))) ||
             ((col("b.l_quantity") > col("a.l_quantity")) &&
              (col("b.l_extendedprice") > col("a.l_extendedprice"))))
              .as("hi_wins"))
          .join(orders(s, d).select(col("o_orderkey"),
            col("o_orderpriority").as("priority")),
            col("ok") === col("o_orderkey"))
          .groupBy("priority")
          .agg(count(lit(1)).as("n_duels"),
            sum(when(col("attr_diff"), 1L).otherwise(0L))
              .as("n_attr_diff"),
            sum(when(col("attr_diff") && col("hi_wins"), 1L)
              .otherwise(0L)).as("higher_attr_wins"))
          .withColumn("rate_milli",
            expr("higher_attr_wins * 1000L div nullif(n_attr_diff, 0L)"))
          .orderBy("priority")
      },
      Some(s"""
        |WITH duels AS (SELECT a.l_orderkey AS ok,
        |    a.l_extendedprice <> b.l_extendedprice AS attr_diff,
        |    (a.l_quantity > b.l_quantity
        |       AND a.l_extendedprice > b.l_extendedprice)
        |    OR (b.l_quantity > a.l_quantity
        |       AND b.l_extendedprice > a.l_extendedprice) AS hi_wins
        |$duelJoinSql)
        |SELECT o.o_orderpriority AS priority,
        |  CAST(count(*) AS BIGINT) AS n_duels,
        |  CAST(sum(CASE WHEN attr_diff THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_attr_diff,
        |  CAST(sum(CASE WHEN attr_diff AND hi_wins THEN 1 ELSE 0 END)
        |    AS BIGINT) AS higher_attr_wins,
        |  CAST(sum(CASE WHEN attr_diff AND hi_wins THEN 1 ELSE 0 END)
        |      AS BIGINT) * 1000
        |    // NULLIF(CAST(sum(CASE WHEN attr_diff THEN 1 ELSE 0 END)
        |      AS BIGINT), 0)
        |    AS rate_milli
        |FROM duels JOIN orders o ON duels.ok = o.o_orderkey
        |GROUP BY 1 ORDER BY 1
        |""".stripMargin.trim)),

    // ---- preference transitivity audit --------------------------------
    // Tournament cyclicity of the majority-preference graph: among
    // entity triples whose three pairwise majorities all exist (>= 4
    // duels each, ties excluded), the fraction forming a directed
    // 3-cycle — the "can ANY scalar reward model fit this data" check
    // (coin-flip preferences expect 250/1000). Triangle enumeration
    // reuses the degree-oriented m^1.5 corner listing, so entity hubs
    // don't explode the wedge join at corpus scale.
    Q("q_pref_transitivity",
      (s, d) => {
        PreferenceAudit.transitivityAudit(quantityDuels(s, d), minDuels = 4L)
      },
      Some(s"""
        |WITH duels AS MATERIALIZED ($quantityDuelsSql),
        |maj AS MATERIALIZED (SELECT i AS lo, j AS hi,
        |    (2 * wi > n) AS lowins FROM (
        |    SELECT i, j, CAST(count(*) AS BIGINT) AS n,
        |      CAST(sum(CASE WHEN awin THEN 1 ELSE 0 END) AS BIGINT)
        |        AS wi
        |    FROM duels GROUP BY 1, 2)
        |  WHERE n >= 4 AND 2 * wi <> n),
        |tri AS (SELECT e1.lowins AS xy, e2.lowins AS yz,
        |    e3.lowins AS xz
        |  FROM maj e1 JOIN maj e2 ON e2.lo = e1.hi
        |  JOIN maj e3 ON e3.lo = e1.lo AND e3.hi = e2.hi),
        |cls AS (SELECT (xy AND yz AND NOT xz)
        |    OR (NOT xy AND NOT yz AND xz) AS cyclic FROM tri)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM maj) AS n_edges,
        |  CAST(count(*) AS BIGINT) AS n_triangles,
        |  CAST(COALESCE(sum(CASE WHEN cyclic THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) AS n_cyclic,
        |  CAST(COALESCE(sum(CASE WHEN cyclic THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) * 1000
        |    // NULLIF(CAST(count(*) AS BIGINT), 0) AS cyclic_milli
        |FROM cls
        |""".stripMargin.trim)),

    // ---- 7-day trailing window over sparse daily series -------------
    // RANGE frame on the day ORDINAL (not ROWS — the series is sparse,
    // so "last 7 rows" and "last 7 days" differ): trailing revenue sum
    // + days-present count per priority. One exchange + one sort.
    Q("q_rolling_7d",
      (s, d) => {
        val daily = orders(s, d)
          .groupBy(col("o_orderpriority").as("p"),
            to_date(col("o_orderdate")).as("day"))
          .agg(sum(floor(col("o_totalprice") * 100 + 0.5)
            .cast(LongType)).as("rev_c"))
          .withColumn("day_ord",
            datediff(col("day"), lit("1990-01-01")).cast(LongType))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("p").orderBy("day_ord").rangeBetween(-6, 0)
        daily.select(col("p"), col("day"), col("rev_c"),
            sum(col("rev_c")).over(w).as("rev_7d_c"),
            count(lit(1)).over(w).cast(LongType).as("days_present_7d"))
          .orderBy("p", "day")
      },
      Some("""
        |WITH daily AS (SELECT o_orderpriority AS p,
        |    CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS rev_c,
        |    date_diff('day', DATE '1990-01-01',
        |      CAST(o_orderdate AS DATE)) AS day_ord
        |  FROM orders GROUP BY 1, 2, 4)
        |SELECT p, day, rev_c,
        |  CAST(sum(rev_c) OVER w AS BIGINT) AS rev_7d_c,
        |  CAST(count(*) OVER w AS BIGINT) AS days_present_7d
        |FROM daily
        |WINDOW w AS (PARTITION BY p ORDER BY day_ord
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY p, day
        |""".stripMargin.trim)),

    // ---- market-basket co-purchase pairs ----------------------------
    // Part pairs co-occurring in an order. NOT a self-join: baskets
    // are collected per order (one partial-aggregable shuffle) and the
    // i<j pairs expand LOCALLY inside the sorted basket array —
    // items/order is a bounded constant, so the blowup is per-row
    // work, not a join. Pair multiplicity matches the self-join
    // semantics (sorted list, strict y > x pairs ⇒ m1·m2 per distinct
    // pair, equal keys excluded). Top 100 with a total tiebreak.
    Q("q_copurchase_pairs",
      (s, d) => {
        lineitem(s, d)
          .groupBy("l_orderkey")
          .agg(sort_array(collect_list(col("l_partkey"))).as("ps"))
          .select(explode(expr(
            "flatten(transform(ps, (x, i) -> " +
              "transform(filter(slice(ps, i + 2, size(ps)), " +
              "y -> y > x), y -> struct(x AS p1, y AS p2))))"))
            .as("pr"))
          .groupBy(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("p1"), col("p2"))
          .limit(100)
      },
      Some("""
        |SELECT a.l_partkey AS p1, b.l_partkey AS p2,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey
        |  AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 ORDER BY cnt DESC, p1, p2 LIMIT 100
        |""".stripMargin.trim)),

    // ---- event-type transition matrix -------------------------------
    // Next-event bigrams per user ((ts, event_id)-ordered lead), then
    // global (from, to) counts — the Markov-chain view of user
    // behavior. END marks a user's last event so rows are conserved.
    Q("q_event_transitions",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts_us", "event_id")
        events(s, d)
          .select(col("user_id"), col("ts").as("ts_us"),
            col("event_id"), col("event_type"))
          .withColumn("next_type",
            coalesce(lead(col("event_type"), 1).over(w), lit("END")))
          .groupBy(col("event_type").as("from_type"), col("next_type"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy("from_type", "next_type")
      },
      Some("""
        |WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    event_type FROM events),
        |t AS (SELECT event_type AS from_type,
        |    COALESCE(lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id), 'END') AS next_type
        |  FROM e)
        |SELECT from_type, next_type, CAST(count(*) AS BIGINT) AS cnt
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2
        |""".stripMargin.trim)),

    // ---- data-quality rule evaluation -------------------------------
    // Declarative constraint checks in ONE scan (conditional partial
    // aggregates), unpivoted to a rule ledger — the Deequ-style
    // validation pass a pipeline runs before publishing a table.
    Q("q_dq_rules",
      (s, d) => {
        val o = orders(s, d)
        o.agg(
            count(lit(1)).as("n"),
            sum(when(col("o_totalprice") <= 0 ||
              col("o_totalprice").isNull, 1L).otherwise(0L))
              .as("v_price_positive"),
            sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L)
              .otherwise(0L)).as("v_status_domain"),
            sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
              .as("v_custkey_not_null"),
            sum(when(col("o_orderdate") < lit("1990-01-01") ||
              col("o_orderdate") >= lit("2005-01-01"), 1L)
              .otherwise(0L)).as("v_orderdate_range"))
          .select(expr(
            """stack(4,
              |'price_positive', v_price_positive, n,
              |'status_domain', v_status_domain, n,
              |'custkey_not_null', v_custkey_not_null, n,
              |'orderdate_range', v_orderdate_range, n)
              |AS (rule, n_violations, n_checked)""".stripMargin))
          .orderBy("rule")
      },
      Some("""
        |WITH s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN o_totalprice <= 0 OR o_totalprice IS NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
        |  CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS v_status,
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS v_cust,
        |  CAST(sum(CASE WHEN o_orderdate < DATE '1990-01-01'
        |    OR o_orderdate >= DATE '2005-01-01' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS v_date
        |  FROM orders)
        |SELECT rule, n_violations, n_checked FROM (
        |  SELECT 'price_positive' AS rule, v_price AS n_violations,
        |    n AS n_checked FROM s
        |  UNION ALL SELECT 'status_domain', v_status, n FROM s
        |  UNION ALL SELECT 'custkey_not_null', v_cust, n FROM s
        |  UNION ALL SELECT 'orderdate_range', v_date, n FROM s)
        |ORDER BY rule
        |""".stripMargin.trim)),

    // ---- observed metrics riding a real pass (CollectMetrics) --------
    // The q_dq_rules counters' PRODUCTION deployment shape: harvested
    // from `Dataset.observe` DURING another action over the frame (a
    // full foreach pass standing in for the job's own sink write) —
    // the zero-extra-scan audit a 100 TB publish runs instead of a
    // second dedicated aggregation scan. Money sums go through
    // per-row cent quantization BEFORE the sum (integer sum —
    // associative-exact; a double sum is partition-order-dependent
    // and would hash-diverge from any replay). The oracle computes
    // the identical aggregates directly, pinning observe() == a
    // dedicated pass.
    Q("q_observe_metrics",
      (s, d) => {
        import s.implicits._
        val row = graft.ops.Observe.metrics(lineitem(s, d), Seq(
          count(lit(1)).as("n_rows"),
          sum(when(col("l_quantity").isNull, 1L).otherwise(0L))
            .as("n_null_qty"),
          sum(floor(col("l_extendedprice") * 100 + 0.5).cast(LongType))
            .as("sum_price_c"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok")))
        Seq((row.getAs[Long](0), row.getAs[Long](1), row.getAs[Long](2),
            row.getAs[Long](3), row.getAs[Long](4)))
          .toDF("n_rows", "n_null_qty", "sum_price_c", "min_ok", "max_ok")
      },
      Some(s"""
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_null_qty,
        |  ${OracleSql.sumB(OracleSql.cents("l_extendedprice"))}
        |    AS sum_price_c,
        |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
        |FROM lineitem
        |""".stripMargin.trim)),

    // ---- referential-integrity audit --------------------------------
    // Orphan counts across the FK graph via left-anti joins — the
    // cross-table complement of q_dq_rules' single-scan constraints.
    // Each anti-join broadcasts nothing it shouldn't: the key sides
    // are projected to the key column before the join, so the shuffle
    // carries keys only.
    Q("q_dq_referential",
      (s, d) => {
        // NULL FKs are a different rule (q_dq_rules' not-null checks),
        // not orphans — excluded on BOTH sides so the anti-join and
        // the oracle's NOT IN (which silently drops null comparisons)
        // count the same rows
        def orphans(fact: org.apache.spark.sql.DataFrame, fk: String,
                    dim: org.apache.spark.sql.DataFrame, pk: String,
                    name: String) =
          fact.select(col(fk)).filter(col(fk).isNotNull)
            .join(dim.select(col(pk).as(fk)), Seq(fk), "left_anti")
            .agg(lit(name).as("relation"),
              count(lit(1)).as("n_orphans"))
        orphans(lineitem(s, d), "l_orderkey", orders(s, d),
            "o_orderkey", "lineitem_orders")
          .unionByName(orphans(orders(s, d), "o_custkey",
            customer(s, d), "c_custkey", "orders_customer"))
          .unionByName(orphans(customer(s, d), "c_nationkey",
            nation(s, d), "n_nationkey", "customer_nation"))
          .unionByName(orphans(lineitem(s, d), "l_partkey",
            part(s, d), "p_partkey", "lineitem_part"))
          .orderBy("relation")
      },
      Some("""
        |SELECT relation, CAST(n_orphans AS BIGINT) AS n_orphans
        |FROM (
        |  SELECT 'lineitem_orders' AS relation, count(*) AS n_orphans
        |  FROM lineitem WHERE l_orderkey IS NOT NULL AND l_orderkey NOT IN
        |    (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL)
        |  UNION ALL
        |  SELECT 'orders_customer', count(*) FROM orders
        |  WHERE o_custkey IS NOT NULL AND o_custkey NOT IN
        |    (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)
        |  UNION ALL
        |  SELECT 'customer_nation', count(*) FROM customer
        |  WHERE c_nationkey IS NOT NULL AND c_nationkey NOT IN
        |    (SELECT n_nationkey FROM nation WHERE n_nationkey IS NOT NULL)
        |  UNION ALL
        |  SELECT 'lineitem_part', count(*) FROM lineitem
        |  WHERE l_partkey IS NOT NULL AND l_partkey NOT IN
        |    (SELECT p_partkey FROM part WHERE p_partkey IS NOT NULL))
        |ORDER BY relation
        |""".stripMargin.trim)),

    // ---- new vs returning users per day -----------------------------
    // First-touch classification folded onto the daily activity table:
    // the two partial-aggregable passes cohortRetention already uses,
    // rejoined once.
    Q("q_new_vs_returning",
      (s, d) => {
        val act = events(s, d)
          .select(col("user_id"),
            to_date(timestamp_micros(col("ts"))).as("day"))
          .distinct()
        val first = act.groupBy("user_id")
          .agg(min(col("day")).as("first_day"))
        act.join(first, "user_id")
          .groupBy("day")
          .agg(sum(when(col("day") === col("first_day"), 1L)
            .otherwise(0L)).as("new_users"),
            sum(when(col("day") =!= col("first_day"), 1L)
              .otherwise(0L)).as("returning_users"))
          .orderBy("day")
      },
      Some("""
        |WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS first_day FROM act
        |  GROUP BY user_id)
        |SELECT day,
        |  CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)
        |    AS BIGINT) AS new_users,
        |  CAST(sum(CASE WHEN day <> first_day THEN 1 ELSE 0 END)
        |    AS BIGINT) AS returning_users
        |FROM act JOIN f USING (user_id)
        |GROUP BY day ORDER BY day
        |""".stripMargin.trim)),

    // ---- k-core peel: structural-density filter over the co-purchase
    // graph (the link-farm/spam cut of crawl curation). Fixed 6-round
    // parallel peel at k=80: at sf0.01 the graph peels in 5 rounds
    // (143 peripheral parts labeled by round, 1857-part core), so the
    // 6-round answer IS the exact k-core there; the 6-round schedule
    // itself is the deterministic contract the oracle replays.
    Q("q_graph_kcore",
      (s, d) => graft.ops.KCore.peel(
          copurchaseEdges(s, d).select("src", "dst"),
          k = 80, rounds = 6)
        .orderBy("id"),
      Some(graft.ops.KCore.oracleSql(
        """SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          |  FROM lineitem a JOIN lineitem b
          |    ON a.l_orderkey = b.l_orderkey
          |    AND a.l_partkey < b.l_partkey""".stripMargin,
        k = 80, rounds = 6)),
      stores = Seq(CopurchaseEdges)),

    // ---- per-node triangle counts over the co-purchase graph --------
    // Degree-oriented exact triangle counting (Triangles scaladoc: hub
    // wedge explosion bounded to m^1.5 with no salting). Edges come
    // from the SHARED write-once bucketed layout (GraphEdges) — the
    // basket pair expansion is paid once for the whole graph family,
    // not per query. The oracle recomputes edges, orientation, and
    // both joins from first principles.
    Q("q_triangle_count",
      (s, d) => {
        val edges = copurchaseEdges(s, d)
          .select(col("src").as("id_a"), col("dst").as("id_b"))
        graft.ops.Triangles.perNode(edges).orderBy("node")
      },
      Some("""
        |WITH e0 AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT n, count(*) AS deg FROM (
        |    SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0)
        |  GROUP BY n),
        |o AS (SELECT
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
        |      THEN a ELSE b END AS src,
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
        |      THEN b ELSE a END AS dst
        |  FROM e0 JOIN deg da ON da.n = e0.a
        |          JOIN deg db ON db.n = e0.b),
        |tri AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
        |  FROM o e1 JOIN o e2 ON e1.dst = e2.src
        |    JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst),
        |corners AS (SELECT u AS node FROM tri
        |  UNION ALL SELECT v FROM tri UNION ALL SELECT w FROM tri)
        |SELECT node, CAST(count(*) AS BIGINT) AS triangles
        |FROM corners GROUP BY node ORDER BY node
        |""".stripMargin.trim),
      stores = Seq(CopurchaseEdges)),

    // ---- incremental edge-layout maintenance --------------------------
    // The shared support table maintained as an aggregate MV: deltas
    // arrive as whole baskets, so pair supports merge additively —
    // stored(90% of orders) + delta(10%) must equal the full rebuild
    // bit-for-bit. The oracle recomputes support over ALL baskets from
    // first principles (count of distinct containing orders).
    Q("q_incr_edges_maintain",
      (s, d) => {
        val li = lineitem(s, d).select("l_orderkey", "l_partkey")
        // stored side reads the PERSISTED layout (storedEdges90) — the
        // production shape, where the maintained table sits on disk
        // and only the delta pays the basket pair expansion
        val stored = storedEdges90(s, d)
        val delta = GraphEdges.copurchaseSupport(
          li.filter(pmod(col("l_orderkey"), lit(10)) === 7),
          "l_orderkey", "l_partkey")
        GraphEdges.mergeSupport(stored, delta)
          .orderBy("src", "dst")
      },
      Some("""
        |SELECT a.l_partkey AS src, b.l_partkey AS dst,
        |  CAST(count(DISTINCT a.l_orderkey) AS BIGINT) AS support
        |FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey
        |  AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 ORDER BY 1, 2
        |""".stripMargin.trim),
      stores = Seq(CopurchaseEdgesStored90)),

    // ---- item-to-item recommendations off the shared layout -----------
    // Fourth consumer of the stored edge table (after triangles, LPA,
    // and the threshold filter): per-part top-3 co-purchased parts by
    // support — a filter + symmetric union + rank window over the
    // STORED layout, zero rebuild. Ties break to the smaller neighbor.
    Q("q_item_recs",
      (s, d) => {
        val e = copurchaseEdges(s, d)
        val sym = e.select(col("src").as("item"),
            col("dst").as("rec"), col("support"))
          .unionByName(e.select(col("dst").as("item"),
            col("src").as("rec"), col("support")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("item")
          .orderBy(col("support").desc, col("rec").asc)
        sym.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select("item", "rank", "rec", "support")
          .orderBy("item", "rank")
      },
      Some("""
        |WITH e AS (SELECT a.l_partkey AS src, b.l_partkey AS dst,
        |    CAST(count(DISTINCT a.l_orderkey) AS BIGINT) AS support
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |sym AS (SELECT src AS item, dst AS rec, support FROM e
        |  UNION ALL SELECT dst, src, support FROM e),
        |r AS (SELECT item, rec, support, row_number() OVER (
        |    PARTITION BY item ORDER BY support DESC, rec ASC) AS rank
        |  FROM sym)
        |SELECT item, rank, rec, support FROM r WHERE rank <= 3
        |ORDER BY item, rank
        |""".stripMargin.trim),
      stores = Seq(CopurchaseEdges)),

    // ---- label-propagation communities -------------------------------
    // Third graph op beside PageRank and triangles: deterministic
    // synchronous LPA (3 rounds) over the SUPPORT-THRESHOLDED
    // co-purchase graph (pairs sharing >= 2 baskets — the raw graph is
    // near-complete and collapses to one community; thresholding is
    // also what a 100 TB run does to cut the pair expansion). The
    // oracle replays the same rounds as unrolled CTEs, generated from
    // the same iteration count.
    Q("q_label_prop",
      (s, d) => {
        // support ≥ 2 read straight off the shared layout — the
        // threshold is a filter over the stored support column, not a
        // recount
        val edges = copurchaseEdges(s, d)
          .filter(col("support") >= 2).select("src", "dst")
        graft.ops.Communities.labelPropagation(edges, iters = 3)
          .orderBy("id")
      },
      Some(graft.ops.Communities.oracleSql(
        """SELECT a.l_partkey AS src, b.l_partkey AS dst
          |  FROM lineitem a JOIN lineitem b
          |    ON a.l_orderkey = b.l_orderkey
          |    AND a.l_partkey < b.l_partkey
          |  GROUP BY 1, 2
          |  HAVING count(DISTINCT a.l_orderkey) >= 2""".stripMargin,
        iters = 3)),
      stores = Seq(CopurchaseEdges)))
}
