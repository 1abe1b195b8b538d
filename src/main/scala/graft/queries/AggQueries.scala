package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._

/** Aggregation-layer queries (SURVEY.md §7.3 step 6): the analytical
  * capability the reference delegates to BigQuery/Looker (README.md:3,
  * 62-65) — group-bys, windows, rollups, top-k, sessionization — built
  * Spark-first over the driver testdata.
  *
  * Determinism across engines: money/quantity sums are computed as
  * integer cents (`floor(x*100+0.5)` then BIGINT sum) because double
  * summation is order-dependent and Spark's partial-aggregate order
  * differs from DuckDB's. Integer aggregation is exact, associative,
  * and — at 100 TB — still partial-aggregable map-side. */
object AggQueries {

  /** Double → exact integer cents, deterministically. */
  private def cents(c: Column) =
    floor(c * 100 + 0.5).cast(LongType)

  private val centsSql = OracleSql.cents

  /** See [[OracleSql.sumB]]. */
  private val sumB = OracleSql.sumB

  /** Top-3 customers by balance per market segment, ties to the
    * smaller key: the window gate and the bounded-Aggregator gate must
    * both return it. */
  private val topkPerSegmentOracle = """
    |SELECT c_mktsegment, rk, c_custkey, c_acctbal FROM (
    |  SELECT c_mktsegment, c_custkey, c_acctbal,
    |    row_number() OVER (PARTITION BY c_mktsegment
    |      ORDER BY c_acctbal DESC, c_custkey ASC) AS rk
    |  FROM customer) WHERE rk <= 3
    |ORDER BY c_mktsegment, rk
    |""".stripMargin.trim

  /** The as-of join's sides from events: clicks (user_id, ts_us,
    * click_id) and views (user_id, ts_us, view_id, view_ts_us). */
  private def clicksAndViews(s: SparkSession, d: String) = {
    val ev = events(s, d).withColumn("ts_us", col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"),
        col("event_id").as("click_id"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_us"),
        col("event_id").as("view_id"),
        col("ts_us").as("view_ts_us"))
    (clicks, views)
  }

  /** Each click's latest view at or before it, replayed with the same
    * union-tag + IGNORE NULLS last_value construction (so ≤-ties match)
    * — the answer of both as-of gates, declarative and broadcast. */
  private val asofClickOracle = """
    |WITH v AS (SELECT user_id, epoch_us(ts) AS ts_us,
    |    event_id AS view_id FROM events WHERE event_type = 'view'),
    |c AS (SELECT user_id, epoch_us(ts) AS ts_us,
    |    event_id AS click_id FROM events WHERE event_type = 'click'),
    |u AS (
    |  SELECT user_id, ts_us, 0 AS side, view_id, ts_us AS view_ts_us,
    |    CAST(NULL AS BIGINT) AS click_id FROM v
    |  UNION ALL
    |  SELECT user_id, ts_us, 1 AS side, NULL, NULL, click_id FROM c),
    |w AS (SELECT *,
    |    last_value(view_id IGNORE NULLS) OVER win AS asof_view_id,
    |    last_value(view_ts_us IGNORE NULLS) OVER win
    |      AS asof_view_ts_us
    |  FROM u
    |  WINDOW win AS (PARTITION BY user_id
    |    ORDER BY ts_us, side, view_id NULLS FIRST
    |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    |SELECT user_id, ts_us, click_id, asof_view_id, asof_view_ts_us
    |FROM w WHERE side = 1 ORDER BY click_id
    |""".stripMargin.trim

  /** Lineitem rows of the orders `urgent` keeps, pre-filtered through
    * the runtime-filter join `prunedJoin(lineitem, dim)`, quantity as
    * exact cents — the Bloom and IN pruned-join gates. */
  private def urgentLineQty(s: SparkSession, d: String, urgent: Column,
      prunedJoin: (DataFrame, DataFrame) => DataFrame) = {
    val dim = orders(s, d).filter(urgent)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    prunedJoin(
        lineitem(s, d).select("l_orderkey", "l_linenumber", "l_quantity"),
        dim)
      .withColumn("qty_c", cents(col("l_quantity")))
      .drop("l_quantity")
      .orderBy("l_orderkey", "l_linenumber", "qty_c")
  }

  /** [[urgentLineQty]]'s answer: the plain join under the same order
    * predicate `where`. */
  private def urgentLineQtySql(where: String): String = s"""
    |SELECT l.l_orderkey, l.l_linenumber, o.o_orderpriority,
    |  ${centsSql("l.l_quantity")} AS qty_c
    |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    |WHERE $where
    |ORDER BY l.l_orderkey, l.l_linenumber, qty_c
    |""".stripMargin.trim

  /** See [[Sinks.contentKey]]. */
  private def contentKey(d: String, file: String,
                         extra: String = ""): String =
    Sinks.contentKey(d, file, extra)

  /** Content key of the fragmented lineitem copy and of its compacted
    * output. */
  private def fragKey(d: String): String =
    contentKey(d, "lineitem.parquet", "frag64|target4m")

  /** The deliberately-fragmented lineitem copy q_compact_roundtrip
    * compacts (64 small files — the small-file problem as a fixture).
    * Content-keyed. */
  private def fragDir(s: SparkSession, d: String): String =
    graft.ops.StoreGuard.directory("graft_frag_" + fragKey(d)) { dir =>
      lineitem(s, d).repartition(64).write.mode("overwrite").parquet(dir)
    }

  /** Orders rewritten z-ordered on (o_custkey, o_orderkey), the layout
    * q_zorder_scan reads back. Content-keyed. */
  private def zorderOrdersDir(s: SparkSession, d: String): String =
    graft.ops.StoreGuard.directory("graft_zorder_" +
        contentKey(d, "orders.parquet",
          "zorder|o_custkey|o_orderkey|bits16|files8")) { dir =>
      graft.ops.ZOrder.writeZOrdered(
        orders(s, d).select("o_orderkey", "o_custkey", "o_orderdate",
          "o_orderpriority"),
        dir, "o_custkey", "o_orderkey")
    }

  /** One-time content-addressed layout builds (untimed via
    * [[Registry.prepares]]): the fragmented compaction input and the
    * z-ordered orders copy. Both gates go through the same accessors,
    * so a failed prepare only moves the (timed) build back into the
    * consumer — but charging these writes to the first fresh-context
    * run otherwise misreads the GATE as super-linear (the sf1 probe
    * measured q_compact_roundtrip at 34× with the build in-gate and
    * 4.4× warm). */
  val FragLineitemLayout = Prepare("frag_lineitem_layout", fragDir(_, _))
  val ZorderOrdersLayout =
    Prepare("zorder_orders_layout", zorderOrdersDir(_, _))

  def all: Seq[Q] = Seq(

    // ---- TPC-H Q1-style pricing summary (groupBy agg, partial-aggregable)
    Q("q_agg_pricing",
      (s, d) => lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(cents(col("l_quantity"))).as("sum_qty_c"),
          sum(cents(col("l_extendedprice"))).as("sum_price_c"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("sum_disc_price_c"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some(s"""
        |SELECT l_returnflag, l_linestatus,
        |  ${sumB(centsSql("l_quantity"))} AS sum_qty_c,
        |  ${sumB(centsSql("l_extendedprice"))} AS sum_price_c,
        |  ${sumB(centsSql("l_extendedprice * (1 - l_discount)"))}
        |    AS sum_disc_price_c,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus
        |""".stripMargin.trim)),

    // ---- monthly revenue + month-over-month delta via lag window ------
    // (the reference's BI layer use case: price trend by month)
    Q("q_agg_monthly_lag",
      (s, d) => {
        val monthly = orders(s, d)
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
          .agg(sum(cents(col("o_totalprice"))).as("revenue_c"),
            count(lit(1)).as("cnt"))
        val w = Window.orderBy("month")
        monthly
          .withColumn("prev_revenue_c", lag("revenue_c", 1).over(w))
          .withColumn("mom_delta_c",
            col("revenue_c") - coalesce(col("prev_revenue_c"), lit(0L)))
          .orderBy("month")
      },
      Some(s"""
        |WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |    ${sumB(centsSql("o_totalprice"))} AS revenue_c,
        |    count(*) AS cnt
        |  FROM orders GROUP BY 1)
        |SELECT month, revenue_c, cnt,
        |  lag(revenue_c, 1) OVER (ORDER BY month) AS prev_revenue_c,
        |  revenue_c - coalesce(lag(revenue_c, 1) OVER (ORDER BY month), 0)
        |    AS mom_delta_c
        |FROM m ORDER BY month
        |""".stripMargin.trim)),

    // ---- top-k per group (rank window, deterministic tiebreak) --------
    Q("q_agg_topk_per_group",
      (s, d) => {
        val w = Window.partitionBy("c_mktsegment")
          .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        customer(s, d)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select("c_mktsegment", "rk", "c_custkey", "c_acctbal")
          .orderBy("c_mktsegment", "rk")
      },
      Some(topkPerSegmentOracle)),

    // ---- top-k via bounded Aggregator (topkPerSegmentOracle, as the
    // window form — proving the partial-aggregable path computes identical
    // results; see functions/TopKAggregator for the scale rationale) --
    Q("q_agg_topk_agg",
      (s, d) => {
        val top3 = graft.functions.TopKAggregator.topK(3)
        customer(s, d)
          .groupBy("c_mktsegment")
          .agg(top3(col("c_acctbal"), col("c_custkey")).as("top"))
          .select(col("c_mktsegment"), posexplode(col("top")))
          .select(col("c_mktsegment"), (col("pos") + 1).as("rk"),
            col("col._2").as("c_custkey"), col("col._1").as("c_acctbal"))
          .orderBy("c_mktsegment", "rk")
      },
      Some(topkPerSegmentOracle)),

    // ---- rollup with grouping indicators ------------------------------
    Q("q_agg_rollup",
      (s, d) => lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          sum(cents(col("l_quantity"))).as("sum_qty_c"),
          grouping(col("l_returnflag")).as("g_flag"),
          grouping(col("l_linestatus")).as("g_status"))
        .orderBy(col("g_flag"), col("g_status"),
          col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first),
      Some(s"""
        |SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  ${sumB(centsSql("l_quantity"))} AS sum_qty_c,
        |  GROUPING(l_returnflag) AS g_flag,
        |  GROUPING(l_linestatus) AS g_status
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status, l_returnflag ASC NULLS FIRST,
        |  l_linestatus ASC NULLS FIRST
        |""".stripMargin.trim)),

    // ---- cube: all grouping-set combinations --------------------------
    Q("q_agg_cube",
      (s, d) => lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          grouping(col("l_returnflag")).as("g_flag"),
          grouping(col("l_linestatus")).as("g_status"))
        .orderBy(col("g_flag"), col("g_status"),
          col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first),
      Some("""
        |SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  GROUPING(l_returnflag) AS g_flag,
        |  GROUPING(l_linestatus) AS g_status
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status, l_returnflag ASC NULLS FIRST,
        |  l_linestatus ASC NULLS FIRST
        |""".stripMargin.trim)),

    // ---- null-safe equality join (<=> / IS NOT DISTINCT FROM) ---------
    Q("q_join_null_safe",
      (s, d) => {
        val nullableKey = when(col("c_custkey") % 7 === 0,
          lit(null).cast("long")).otherwise(col("c_custkey") % 5)
        val fact = customer(s, d)
          .select(col("c_custkey"), nullableKey.as("grp"))
        val dim = (-1 to 4).map(i =>
            (if (i < 0) None else Some(i.toLong), s"label_$i"))
          .foldLeft(Seq.empty[(Option[Long], String)])(_ :+ _)
        import s.implicits._
        val dimDf = dim.toDF("grp", "label")
        fact.join(broadcast(dimDf),
            fact("grp") <=> dimDf("grp"), "left")
          .select(col("c_custkey"), fact("grp").as("grp"), col("label"))
          .orderBy("c_custkey")
      },
      Some("""
        |WITH fact AS (SELECT c_custkey,
        |    CASE WHEN c_custkey % 7 = 0 THEN NULL
        |         ELSE c_custkey % 5 END AS grp FROM customer),
        |dim(grp, label) AS (VALUES
        |  (NULL, 'label_-1'), (0, 'label_0'), (1, 'label_1'),
        |  (2, 'label_2'), (3, 'label_3'), (4, 'label_4'))
        |SELECT c_custkey, fact.grp AS grp, label
        |FROM fact LEFT JOIN dim ON fact.grp IS NOT DISTINCT FROM dim.grp
        |ORDER BY c_custkey
        |""".stripMargin.trim)),

    // ---- exact distinct counts per group ------------------------------
    Q("q_agg_distinct_counts",
      (s, d) => lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag"),
      Some("""
        |SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT l_partkey) AS n_part, count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        |""".stripMargin.trim)),

    // ---- approximate sketches (HLL + quantile digest) — the 100 TB
    // path; no SQL oracle (sketch values are engine-specific), driver
    // rows-only check ---------------------------------------------------
    Q("q_agg_approx_distinct",
      (s, d) => lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("n_part_approx"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
            .as("median_price_approx"))
        .orderBy("l_returnflag"),
      None),

    // Companion that turns the rows-only HLL check into a hash-matched
    // BOUND check (same pattern as q_simhash_detected): Spark computes
    // |approx - exact| <= 5% * exact per group; the oracle computes the
    // exact distinct and asserts the bound HELD (within_bound = true).
    // A drifting sketch flips the boolean and the hash mismatches. The
    // 5% bound is 2.5x the requested 2% rsd — comfortably outside
    // noise, honestly inside failure.
    Q("q_agg_approx_distinct_bound",
      (s, d) => lineitem(s, d)
        // HLL is duplicate-insensitive (register max), so sketching the
        // DISTINCT pairs gives the bit-identical estimate while turning
        // the mixed distinct+plain aggregate (Expand: 2x the input
        // rows through the shuffle) into two plain aggregations
        .select("l_returnflag", "l_partkey").distinct()
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx"),
          count(lit(1)).as("n_part_exact"))
        .select(col("l_returnflag"), col("n_part_exact"),
          (abs(col("approx") - col("n_part_exact")) <=
            lit(0.05) * col("n_part_exact")).as("within_bound"))
        .orderBy("l_returnflag"),
      Some("""
        |SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_part_exact,
        |  TRUE AS within_bound
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        |""".stripMargin.trim)),

    // Rank-bound companion for the OTHER sketch in q_agg_approx_distinct
    // (percentile_approx): a t-digest style approx median with accuracy
    // 1000 guarantees rank error <= n/1000; Spark counts how many
    // values fall strictly below its approx median and asserts that
    // rank is within n/2 +- n/50. The oracle asserts the bound held —
    // exact arithmetic, no sketch values cross engines.
    Q("q_agg_approx_median_bound",
      (s, d) => {
        val li = lineitem(s, d).select("l_returnflag", "l_extendedprice")
        val med = li.groupBy("l_returnflag")
          .agg(percentile_approx(col("l_extendedprice"), lit(0.5),
            lit(1000)).as("am"), count(lit(1)).as("n"))
        li.join(broadcast(med), "l_returnflag")
          .groupBy(col("l_returnflag"), col("n"))
          .agg(sum(when(col("l_extendedprice") < col("am"), 1L)
            .otherwise(0L)).as("below"))
          .select(col("l_returnflag"), col("n"),
            (abs(col("below") - expr("n div 2")) <= expr("n div 50"))
              .as("within_bound"))
          .orderBy("l_returnflag")
      },
      Some("""
        |SELECT l_returnflag, count(*) AS n, TRUE AS within_bound
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        |""".stripMargin.trim)),

    // ---- running total per entity (cumulative window) -----------------
    Q("q_window_running_total",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy("o_orderdate", "o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
            cents(col("o_totalprice")).as("price_c"))
          .withColumn("running_c", sum("price_c").over(w))
          .orderBy("o_custkey", "o_orderdate", "o_orderkey")
      },
      Some(s"""
        |SELECT o_custkey, o_orderkey, o_orderdate,
        |  ${centsSql("o_totalprice")} AS price_c,
        |  CAST(sum(${centsSql("o_totalprice")}) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS running_c
        |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey
        |""".stripMargin.trim)),

    // ---- pivot (segment × nation-parity counts) -----------------------
    Q("q_agg_pivot",
      (s, d) => customer(s, d)
        .withColumn("parity",
          when(col("c_nationkey") % 2 === 0, lit("even")).otherwise(lit("odd")))
        .groupBy("c_mktsegment")
        .pivot("parity", Seq("even", "odd"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("even", "odd"))
        .orderBy("c_mktsegment"),
      Some("""
        |SELECT c_mktsegment,
        |  count(*) FILTER (c_nationkey % 2 = 0) AS even,
        |  count(*) FILTER (c_nationkey % 2 <> 0) AS odd
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
        |""".stripMargin.trim)),

    // ---- fact-to-fact join + agg: revenue by nation (shuffle join of
    // two big tables at scale; dims broadcast) --------------------------
    Q("q_agg_join_revenue",
      (s, d) => {
        val li = lineitem(s, d)
          .select(col("l_orderkey"),
            cents(col("l_extendedprice") * (lit(1) - col("l_discount")))
              .as("rev_c"))
        val ord = orders(s, d).select("o_orderkey", "o_custkey")
        val cust = customer(s, d).select("c_custkey", "c_nationkey")
        val nat = nation(s, d).select(col("n_nationkey"), col("n_name"))
        // only the 25-row nation dim gets an explicit broadcast hint;
        // lineitem⋈orders⋈customer are all fact-sized at scale — let
        // AQE pick broadcast locally and shuffle joins on a cluster
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(sum("rev_c").as("revenue_c"), count(lit(1)).as("n_items"))
          .orderBy("n_name")
      },
      Some(s"""
        |SELECT n_name,
        |  ${sumB(centsSql("l_extendedprice * (1 - l_discount)"))} AS revenue_c,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name
        |""".stripMargin.trim)),

    // ---- local-supplier volume (TPC-H Q5 shape) -----------------------
    // The 6-table analytic join: region -> nation -> customer -> orders
    // -> lineitem -> supplier with the SAME-NATION constraint between
    // customer and supplier, a year of orders, revenue by nation. The
    // join-order exerciser: two KB dims broadcast (nation, region via
    // nation prune), the date filter pushes to the orders scan, and
    // the three fact joins stay key-partitioned for AQE — the shape a
    // cluster optimizer must get right at 100 TB.
    Q("q_agg_local_supplier",
      (s, d) => {
        val li = lineitem(s, d).select(col("l_orderkey"),
          col("l_suppkey"),
          cents(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("rev_c"))
        val ord = orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1997-01-01"))
          .select("o_orderkey", "o_custkey")
        val cust = customer(s, d).select("c_custkey", "c_nationkey")
        val supp = supplier(s, d).select("s_suppkey", "s_nationkey")
        val nat = nation(s, d)
          .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")
            .select("r_regionkey")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(supp, col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(nat),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(sum("rev_c").as("revenue_c"), count(lit(1)).as("n_items"))
          .orderBy(col("revenue_c").desc, col("n_name"))
      },
      Some(s"""
        |SELECT n_name,
        |  ${sumB(centsSql("l_extendedprice * (1 - l_discount)"))}
        |    AS revenue_c,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= '1996-01-01'
        |  AND o_orderdate < '1997-01-01'
        |GROUP BY n_name ORDER BY revenue_c DESC, n_name
        |""".stripMargin.trim)),

    // ---- sessionization over the events stream table ------------------
    // (gap > 30 min ⇒ new session; lag + running conditional sum;
    // ts arrives as exact epoch-micros longs — see Tables.events)
    Q("q_events_sessionize",
      (s, d) => {
        // micros throughout: duckdb timestamps are micro-precision, so
        // both the gap test and the output use exact epoch-micros longs
        val byUser = Window.partitionBy("user_id")
          .orderBy("ts_us", "event_id")
        val gapped = events(s, d)
          .withColumn("ts_us", col("ts"))
          .withColumn("prev_ts", lag("ts_us", 1).over(byUser))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              col("ts_us") - col("prev_ts") > lit(1800L * 1000000L),
              lit(1)).otherwise(lit(0)))
        gapped
          .withColumn("session_seq",
            sum("new_session").over(
              byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("user_id"), col("event_id"), col("ts_us"),
            col("session_seq"))
          .orderBy("user_id", "ts_us", "event_id")
      },
      Some("""
        |WITH g AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
        |            > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id, ts_us,
        |  CAST(sum(new_session) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS session_seq
        |FROM g ORDER BY user_id, ts_us, event_id
        |""".stripMargin.trim)),

    // ---- JSON property extraction (read side of the reference's
    // to_json packing: get_json_object over the events props column) ----
    Q("q_events_json_props",
      (s, d) => events(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .withColumn("k_bucket", col("k") % 10)
        .orderBy("event_id"),
      Some("""
        |SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
        |    AS k_bucket
        |FROM events ORDER BY event_id
        |""".stripMargin.trim)),

    // ---- map-typed column: JSON → map, exploded to key/value rows -----
    Q("q_map_explode",
      (s, d) => events(s, d)
        .select(col("event_id"),
          from_json(col("props"),
            MapType(StringType, LongType)).as("m"))
        .select(col("event_id"), explode(col("m")))
        .orderBy("event_id", "key"),
      // duckdb's json_each table function is unavailable offline; the
      // fixture props are verified single-key {"k": n}, so the oracle
      // enumerates that key
      Some("""
        |SELECT event_id, 'k' AS key,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS value
        |FROM events ORDER BY event_id, key
        |""".stripMargin.trim)),

    // ---- exact interpolated median (percentile over exact cents) ------
    Q("q_agg_median",
      (s, d) => lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(percentile(cents(col("l_quantity")), lit(0.5))
          .as("median_qty_c"))
        .orderBy("l_returnflag"),
      Some(s"""
        |SELECT l_returnflag,
        |  quantile_cont(${centsSql("l_quantity")}, 0.5) AS median_qty_c
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        |""".stripMargin.trim)),

    // ---- skew-safe two-stage (salted) aggregation ---------------------
    // Identical result to the plain groupBy (same oracle as the
    // q_agg_pricing sums): stage 1 aggregates on (key, salt) spreading
    // a hot key over N reducers, stage 2 combines the partials. The
    // pattern for power-law keys at 100 TB where one group would
    // otherwise pin a single reducer.
    Q("q_agg_salted",
      (s, d) => graft.ops.Skew.saltedSum(
          lineitem(s, d).withColumn("qty_c", cents(col("l_quantity"))),
          keys = Seq("l_returnflag"), valueCol = "qty_c", salts = 16)
        .withColumnRenamed("qty_c_sum", "sum_qty_c")
        .orderBy("l_returnflag"),
      Some(s"""
        |SELECT l_returnflag, ${sumB(centsSql("l_quantity"))} AS sum_qty_c,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        |""".stripMargin.trim)),

    // ---- one-pass column profiling (data-quality gate) ----------------
    Q("q_profile_columns",
      (s, d) => {
        val withNulls = customer(s, d).withColumn("c_mktsegment",
          when(col("c_custkey") % 10 === 0, lit(null))
            .otherwise(col("c_mktsegment")))
        graft.ops.Profile.profileColumns(withNulls,
            Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))
          .orderBy("column_name")
      },
      Some("""
        |WITH t AS (SELECT c_custkey, c_name, c_nationkey,
        |    CASE WHEN c_custkey % 10 = 0 THEN NULL
        |         ELSE c_mktsegment END AS c_mktsegment
        |  FROM customer)
        |SELECT 'c_custkey' AS column_name, count(*) AS n_rows,
        |  count(*) FILTER (c_custkey IS NULL) AS n_nulls,
        |  count(DISTINCT c_custkey) AS n_distinct FROM t
        |UNION ALL SELECT 'c_name', count(*),
        |  count(*) FILTER (c_name IS NULL), count(DISTINCT c_name) FROM t
        |UNION ALL SELECT 'c_nationkey', count(*),
        |  count(*) FILTER (c_nationkey IS NULL),
        |  count(DISTINCT c_nationkey) FROM t
        |UNION ALL SELECT 'c_mktsegment', count(*),
        |  count(*) FILTER (c_mktsegment IS NULL),
        |  count(DISTINCT c_mktsegment) FROM t
        |ORDER BY column_name
        |""".stripMargin.trim)),

    // ---- window-function breadth: rank/dense_rank/ntile/lead ----------
    Q("q_window_rank_funcs",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
            rank().over(w).as("rk"),
            dense_rank().over(w).as("drk"),
            ntile(4).over(w).as("quartile"),
            lead("o_orderkey", 1).over(w).as("next_order"))
          .orderBy("o_custkey", "rk", "o_orderkey")
      },
      Some("""
        |SELECT o_custkey, o_orderkey, o_orderdate,
        |  rank() OVER w AS rk, dense_rank() OVER w AS drk,
        |  ntile(4) OVER w AS quartile,
        |  lead(o_orderkey, 1) OVER w AS next_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate ASC, o_orderkey ASC)
        |ORDER BY o_custkey, rk, o_orderkey
        |""".stripMargin.trim)),

    // ---- set operations: intersect / except (beyond the reference) ----
    Q("q_set_ops",
      (s, d) => {
        val a = orders(s, d).filter(col("o_totalprice") > 150000)
          .select("o_custkey")
        val b = orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
          .select("o_custkey")
        a.intersect(b).withColumn("op", lit("both"))
          .unionByName(a.except(b).withColumn("op", lit("only_big")))
          .orderBy("op", "o_custkey")
      },
      Some("""
        |SELECT o_custkey, 'both' AS op FROM (
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 150000
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |UNION ALL
        |SELECT o_custkey, 'only_big' AS op FROM (
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 150000
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |ORDER BY op, o_custkey
        |""".stripMargin.trim)),

    // ---- semi / anti joins (EXISTS / NOT EXISTS) ----------------------
    // ---- Count-Min Sketch frequency estimates -------------------------
    // The bounded-memory frequency sketch as a partial-aggregable typed
    // Aggregator (functions/CountMinSketchAgg): counter merges are
    // commutative sums, so results are partitioning-independent. Over
    // the low-cardinality event_type domain (5 keys in a 4×2048 sketch)
    // estimates equal exact counts, so the sketch path is hash-checked
    // against the exact-count oracle; the unbounded-domain guarantees
    // (est ≥ true, bounded overshoot) are pinned by CountMinSpec.
    // The single-row sketch collect is the canonical sketch pattern
    // (one aggregate row to the driver, never per-row data).
    Q("q_sketch_cms_counts",
      (s, d) => {
        import s.implicits._
        val cms = new graft.functions.CountMinSketchAgg(
          depth = 4, width = 2048)
        val ev = events(s, d)
        val sketch = ev
          .select(xxhash64(col("event_type")).as("h")).as[Long]
          .select(cms.toColumn.name("sketch")).head()
        // estimate DISTRIBUTED over the key frame: the sketch (a
        // depth×width array, KB-sized) ships to executors in the
        // estimator's closure — the keys themselves never visit the
        // driver, so the gate stays safe if re-pointed at a
        // high-cardinality column. (A udf, not an expression, because
        // the splitmix64 row hash needs wrapping i64 multiplies and
        // ANSI-mode long arithmetic throws on overflow.)
        val est = udf((h: Long) => cms.estimate(sketch, h))
        ev.select(col("event_type"), xxhash64(col("event_type")).as("h"))
          .distinct()
          .select(col("event_type"), est(col("h")).as("cms_count"))
          .orderBy("event_type")
      },
      Some("""
        |SELECT event_type, CAST(count(*) AS BIGINT) AS cms_count
        |FROM events GROUP BY event_type ORDER BY event_type
        |""".stripMargin.trim)),

    // ---- Misra-Gries heavy hitters -----------------------------------
    // Deterministic counter-based sibling of the CMS gate: k=32 pairs
    // of state instead of a full groupBy over ~45k distinct keys. The
    // summary contents are merge-order-dependent, so the gate checks
    // the GUARANTEE (every key with cnt*k > n detected, undercount
    // <= n/(k+1)) against exact counts — the HLL-bound pattern. Skew is
    // synthesized (3 hot keys at ~n/12 over a mostly-unique tail; same
    // approach as q_join_salted) because the testdata is uniform.
    Q("q_heavy_hitters",
      (s, d) => {
        import s.implicits._
        val k = 32
        val mg = new graft.functions.MisraGriesAgg(k)
        val keyed = lineitem(s, d).select(
          when(col("l_orderkey") % 4 === 0, col("l_orderkey") % 3)
            .otherwise(lit(100L) + col("l_orderkey") * 10 +
              col("l_linenumber"))
            .as("k"))
        // k-entry summary + scalar n to the driver — sketch-sized, the
        // Bloom-gate pattern, never data
        val summary = keyed.as[Long].select(mg.toColumn.name("mg")).head()
        val n = keyed.count()
        val bound = n / (k + 1)
        val estOf = typedlit(summary)
        keyed.groupBy("k").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") * k > n)
          .withColumn("est",
            coalesce(element_at(estOf, col("k")), lit(0L)))
          .select(col("k"), col("cnt"),
            (col("est") > 0).as("detected"),
            (col("cnt") - col("est") >= 0 &&
              col("cnt") - col("est") <= bound).as("within_bound"))
          .orderBy("k")
      },
      Some("""
        |WITH kk AS (SELECT CASE WHEN l_orderkey % 4 = 0
        |      THEN l_orderkey % 3
        |      ELSE 100 + l_orderkey * 10 + l_linenumber END AS k
        |  FROM lineitem),
        |tot AS (SELECT count(*) AS n FROM kk),
        |c AS (SELECT k, count(*) AS cnt FROM kk GROUP BY k)
        |SELECT c.k, CAST(c.cnt AS BIGINT) AS cnt, TRUE AS detected,
        |  TRUE AS within_bound
        |FROM c, tot WHERE c.cnt * 32 > tot.n ORDER BY c.k
        |""".stripMargin.trim)),

    // ---- bucketized range join: orders × overlapping price bands ------
    // Interval join without BroadcastNestedLoopJoin: bands (stride $7k,
    // width $20k → ~3-way overlap, derived from nation so the oracle
    // regenerates them) exploded onto $10k buckets, one equi-join on
    // bucket, exact bound filter. Oracle is the plain theta join.
    Q("q_range_join_bucketed",
      (s, d) => {
        val ord = orders(s, d).select(col("o_orderkey"),
          cents(col("o_totalprice")).as("price_c"))
        val bands = nation(s, d).select(
          col("n_nationkey").as("band_id"),
          (col("n_nationkey") * 700000L).as("lo_c"),
          (col("n_nationkey") * 700000L + 2000000L).as("hi_c"))
        graft.ops.Joins.rangeJoinBucketed(
            ord, "price_c", bands, "lo_c", "hi_c",
            bucketWidth = 1000000L)
          .select("o_orderkey", "price_c", "band_id")
          .orderBy("o_orderkey", "band_id")
      },
      Some(s"""
        |WITH bands AS (SELECT n_nationkey AS band_id,
        |    n_nationkey * 700000 AS lo_c,
        |    n_nationkey * 700000 + 2000000 AS hi_c FROM nation)
        |SELECT o_orderkey, ${centsSql("o_totalprice")} AS price_c, band_id
        |FROM orders JOIN bands
        |  ON ${centsSql("o_totalprice")} >= lo_c
        |  AND ${centsSql("o_totalprice")} < hi_c
        |ORDER BY o_orderkey, band_id
        |""".stripMargin.trim)),

    // ---- backward as-of join: click ← latest view at-or-before --------
    // The time-series join Spark lacks natively (Joins.asofJoinBackward:
    // union-tag + running last over one per-key window — one shuffle,
    // no range explosion). Oracle replicates the same construction with
    // IGNORE NULLS last_value, so semantics incl. ≤-ties match exactly.
    Q("q_asof_view_click",
      (s, d) => {
        val (clicks, views) = clicksAndViews(s, d)
        graft.ops.Joins.asofJoinBackward(clicks, views,
            key = "user_id", time = "ts_us",
            payload = Seq("view_id", "view_ts_us"),
            rightTiebreak = Seq("view_id"))
          .orderBy("click_id")
      },
      Some(asofClickOracle)),

    // ---- native as-of exec: same semantics, broadcast physical plan --
    // The whole-operator Catalyst path (plans.BroadcastAsOfJoin →
    // AsOfJoinStrategy → BroadcastAsOfJoinExec): right side broadcast as
    // per-key sorted arrays, left streamed with NO shuffle and NO sort.
    // asofClickOracle, as q_asof_view_click — pins the custom exec
    // row-identical to the declarative union-window form at sf scale.
    Q("q_asof_broadcast",
      (s, d) => {
        val (clicks, views) = clicksAndViews(s, d)
        graft.ops.Joins.asofJoinBroadcast(clicks, views,
            key = "user_id", time = "ts_us",
            payload = Seq("view_id", "view_ts_us"),
            rightTiebreak = Seq("view_id"))
          .orderBy("click_id")
      },
      Some(asofClickOracle)),

    Q("q_semi_anti_join",
      (s, d) => {
        val cust = customer(s, d).select("c_custkey", "c_mktsegment")
        val ord = orders(s, d).select("o_custkey")
        val withO = cust.join(ord, col("c_custkey") === col("o_custkey"),
            "left_semi").withColumn("has_orders", lit(1))
        val noO = cust.join(ord, col("c_custkey") === col("o_custkey"),
            "left_anti").withColumn("has_orders", lit(0))
        withO.unionByName(noO).orderBy("c_custkey")
      },
      Some("""
        |SELECT c_custkey, c_mktsegment, 1 AS has_orders FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, c_mktsegment, 0 AS has_orders FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey
        |""".stripMargin.trim)),

    // ---- Bloom-pruned selective join -----------------------------------
    // The runtime-filter technique as an explicit operator: the
    // 'URGENT orders' dim side is selective (~1/5 of orders), so the
    // lineitem side is pre-filtered by a 512 KB Bloom sketch before its
    // shuffle. False positives are re-checked by the join — the oracle
    // is the PLAIN join, asserting row-identical composition.
    Q("q_join_bloom_pruned",
      // 2^20 bits = 128 KB: ~10 bits/key up to 100k dim keys; the
      // sketch ships in every task binary, so size to the dim, not
      // to the default
      (s, d) => urgentLineQty(s, d, col("o_orderpriority") === "1-URGENT",
        graft.ops.Joins.bloomPrunedJoin(_, _, key = "l_orderkey",
          numBits = 1 << 20)),
      Some(urgentLineQtySql("o.o_orderpriority = '1-URGENT'"))),

    // Multi-column-key Bloom pruning: the composite key is hashed
    // through ONE xxhash64 (same as the shuffle's own composite hash).
    // Oracle = the plain two-key join.
    Q("q_join_bloom_multikey",
      (s, d) => {
        val dim = orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select("o_custkey", "o_orderdate").distinct()
        graft.ops.Joins.bloomPrunedJoin(
            orders(s, d).select("o_orderkey", "o_custkey", "o_orderdate",
              "o_totalprice"),
            dim, keys = Seq("o_custkey", "o_orderdate"), how = "inner",
            numBits = 1 << 20, numHashes = 7)
          .withColumn("price_c", cents(col("o_totalprice")))
          .drop("o_totalprice")
          .orderBy("o_orderkey")
      },
      Some(s"""
        |SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
        |  ${centsSql("o.o_totalprice")} AS price_c
        |FROM orders o JOIN (
        |  SELECT DISTINCT o_custkey, o_orderdate FROM orders
        |  WHERE o_orderpriority = '1-URGENT') u
        |ON o.o_custkey = u.o_custkey AND o.o_orderdate = u.o_orderdate
        |ORDER BY o_orderkey
        |""".stripMargin.trim)),

    // IN-pruned join — the EXACT runtime-filter twin of the Bloom gate:
    // the urgent key set is collected (bounded) and pushed into the
    // lineitem scan as PushedFilters: In(...), pruning row-groups at
    // the I/O layer. Oracle = the plain join (urgentLineQtySql).
    // The dim is deliberately SMALL (~1.5k keys at sf0.1): the exact
    // IN form is for genuinely small key sets — beyond that regime the
    // Bloom form is the right tool (and inPrunedJoin enforces maxKeys).
    Q("q_join_in_pruned",
      (s, d) => urgentLineQty(s, d,
        col("o_orderpriority") === "1-URGENT" && col("o_orderkey") % 20 === 0,
        graft.ops.Joins.inPrunedJoin(_, _, keys = Seq("l_orderkey"))),
      Some(urgentLineQtySql(
        "o.o_orderpriority = '1-URGENT' AND o.o_orderkey % 20 = 0"))),

    // ---- equi-width histogram (width_bucket) ---------------------------
    // Distribution profiling over exact cents: SQL-standard
    // width_bucket semantics agree across engines (under/overflow
    // land in buckets 0 and n+1). One partial-aggregable pass.
    Q("q_agg_histogram",
      (s, d) => orders(s, d)
        .select(width_bucket(cents(col("o_totalprice")), lit(0L),
          lit(60000000L), lit(20)).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
        .orderBy("bucket"),
      Some(s"""
        |WITH c AS (SELECT ${centsSql("o_totalprice")} AS v FROM orders)
        |SELECT CASE WHEN v < 0 THEN 0
        |            WHEN v >= 60000000 THEN 21
        |            ELSE CAST((v * 20) // 60000000 + 1 AS BIGINT) END
        |    AS bucket,
        |  count(*) AS cnt
        |FROM c GROUP BY bucket ORDER BY bucket
        |""".stripMargin.trim)),

    // ---- UNPIVOT (melt) -------------------------------------------------
    // The inverse of q_agg_pivot: wide measure columns melted to
    // (measure, value) rows — Dataset.unpivot is an Expand under the
    // hood (rows x measures, one pass, no shuffle). NULL caveat when
    // reusing this shape: Spark's unpivot RETAINS null measure values,
    // DuckDB's UNPIVOT drops them by default — these measures are
    // non-null by construction (cents of non-null doubles), so the
    // twins agree; melt a nullable column and the DuckDB side needs
    // explicit null handling.
    Q("q_agg_unpivot",
      (s, d) => lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          cents(col("l_extendedprice")).as("price_c"),
          cents(col("l_tax")).as("tax_c"),
          cents(col("l_discount")).as("disc_c"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("price_c"), col("tax_c"), col("disc_c")),
          "measure", "value_c")
        .orderBy("l_orderkey", "l_linenumber", "measure", "value_c"),
      Some(s"""
        |SELECT l_orderkey, l_linenumber, measure, value_c FROM (
        |  SELECT l_orderkey, l_linenumber,
        |    ${centsSql("l_extendedprice")} AS price_c,
        |    ${centsSql("l_tax")} AS tax_c,
        |    ${centsSql("l_discount")} AS disc_c
        |  FROM lineitem)
        |UNPIVOT (value_c FOR measure IN (price_c, tax_c, disc_c))
        |ORDER BY l_orderkey, l_linenumber, measure, value_c
        |""".stripMargin.trim)),

    // ---- 3-way analytical join pipeline (shipping-priority shape) ------
    // customer ⋈ orders ⋈ lineitem with selective date filters — the
    // classic multi-join the planner must get right: filters pushed to
    // all three scans, the orders-lineitem join shuffled on the key,
    // aggregation partial on the map side. The filtered customer side
    // is left UNHINTED: it is a fixed fraction of a corpus-scaled
    // table (one mktsegment ≈ 1/5 of customer), so a hard broadcast
    // would not survive 100×; AQE broadcasts it while it fits and
    // shuffles it when it doesn't.
    Q("q_agg_shipping_priority",
      (s, d) => {
        val cust = customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey")
        val ord = orders(s, d)
          .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
          .select("o_orderkey", "o_custkey", "o_orderdate")
        val li = lineitem(s, d)
          .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
          .select(col("l_orderkey"),
            cents(col("l_extendedprice")).as("price_c"),
            cents(col("l_discount")).as("disc_c"))
        ord.join(cust, col("o_custkey") === col("c_custkey"))
          .join(li, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderkey"), col("o_orderdate"))
          // integer `div`, not `/` (double division loses exactness)
          .agg(sum(expr("price_c - (price_c * disc_c) div 100"))
            .as("revenue_c"))
          .orderBy(col("revenue_c").desc, col("o_orderkey").asc)
          .limit(20)
      },
      Some(s"""
        |SELECT o_orderkey, o_orderdate,
        |  CAST(sum(${centsSql("l_extendedprice")}
        |    - (${centsSql("l_extendedprice")} * ${centsSql("l_discount")})
        |      // 100) AS BIGINT) AS revenue_c
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue_c DESC, o_orderkey ASC LIMIT 20
        |""".stripMargin.trim)),

    // ---- explicit GROUPING SETS ----------------------------------------
    // The general form rollup/cube specialize (both already gated):
    // hand-picked aggregation levels in ONE pass over the data —
    // Spark expands each input row once per grouping set before a
    // single shuffle, instead of one job per level.
    Q("q_agg_grouping_sets",
      (s, d) => {
        val df = orders(s, d)
          .select(col("o_orderpriority"), col("o_orderstatus"),
            cents(col("o_totalprice")).as("price_c"))
        df.groupingSets(
            Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
              Seq(col("o_orderpriority")), Seq()),
            col("o_orderpriority"), col("o_orderstatus"))
          .agg(count(lit(1)).as("cnt"), sum(col("price_c")).as("sum_c"))
          .orderBy(col("o_orderpriority").asc_nulls_first,
            col("o_orderstatus").asc_nulls_first)
      },
      Some(s"""
        |SELECT o_orderpriority, o_orderstatus, count(*) AS cnt,
        |  ${sumB(centsSql("o_totalprice"))} AS sum_c
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
        |  (o_orderpriority), ())
        |ORDER BY o_orderpriority ASC NULLS FIRST,
        |  o_orderstatus ASC NULLS FIRST
        |""".stripMargin.trim)),

    // ---- native session windows ----------------------------------------
    // Spark's session_window operator (merge-on-overlap), the native
    // twin of the manual gaps-islands q_events_sessionize. Boundary
    // semantics differ by design: session_window starts a NEW session
    // at gap >= 30 min (window overlap is strict <), the manual form
    // at gap > 30 min — the oracle mirrors the >= rule exactly in
    // integer micros.
    Q("q_events_session_window",
      (s, d) => events(s, d)
        .withColumn("event_time", timestamp_micros(col("ts")))
        .groupBy(col("user_id"),
          session_window(col("event_time"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("sw.start")).as("session_start_us"),
          unix_micros(col("sw.end")).as("session_end_us"),
          col("n_events"))
        .orderBy("user_id", "session_start_us"),
      Some("""
        |WITH g AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
        |            >= 1800000000 THEN 1 ELSE 0 END AS ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts_us,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
        |  FROM g)
        |SELECT user_id, min(ts_us) AS session_start_us,
        |  max(ts_us) + 1800000000 AS session_end_us,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, seq
        |ORDER BY user_id, session_start_us
        |""".stripMargin.trim)),

    // ---- Small-file compaction round-trip ------------------------------
    // lineitem deliberately fragmented into 64 files, compacted back to
    // ~4 MB targets, then aggregated — the oracle is the plain table:
    // compaction must be row-invisible. File-count behavior is pinned
    // in CompactionSpec; the output is a content-keyed directory store.
    Q("q_compact_roundtrip",
      (s, d) => {
        val frag = fragDir(s, d)
        val out = graft.ops.StoreGuard.directory(
            "graft_compact_" + fragKey(d)) { dir =>
          graft.ops.Compaction.compact(s, frag, dir, targetBytes = 4L << 20)
        }
        s.read.parquet(out)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("cnt"),
            sum(cents(col("l_quantity"))).as("sum_qty_c"))
          .orderBy("l_returnflag")
      },
      Some(s"""
        |SELECT l_returnflag, count(*) AS cnt,
        |  ${sumB(centsSql("l_quantity"))} AS sum_qty_c
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        |""".stripMargin.trim),
      stores = Seq(FragLineitemLayout)),

    // ---- Z-order scan ---------------------------------------------------
    // Orders rewritten z-ordered on (o_custkey, o_orderkey), then a
    // 2-D range filter reads it back. The layout must be row-invisible
    // — the oracle filters the PLAIN table; the row-group-pruning
    // property itself is footer-verified in ZOrderSpec. The layout is
    // the zorder_orders_layout store.
    Q("q_zorder_scan",
      (s, d) => s.read.parquet(zorderOrdersDir(s, d))
        .filter(col("o_custkey").between(100, 500) &&
          col("o_orderkey").between(1000, 50000))
        .orderBy("o_orderkey"),
      Some("""
        |SELECT o_orderkey, o_custkey, o_orderdate, o_orderpriority
        |FROM orders
        |WHERE o_custkey BETWEEN 100 AND 500
        |  AND o_orderkey BETWEEN 1000 AND 50000
        |ORDER BY o_orderkey
        |""".stripMargin.trim),
      stores = Seq(ZorderOrdersLayout)),

    // ---- Salted join (manual skew mitigation) --------------------------
    // A hot l_suppkey's rows spread across 8 reducers instead of one;
    // the salt is internal, so the oracle is the PLAIN join — salting
    // must be row-invisible.
    Q("q_join_salted",
      (s, d) => graft.ops.Skew.saltedJoin(
          lineitem(s, d).select("l_orderkey", "l_linenumber",
            "l_suppkey", "l_quantity"),
          supplier(s, d).select(col("s_suppkey").as("l_suppkey"),
            col("s_name")),
          keys = Seq("l_suppkey"), salts = 8)
        .withColumn("qty_c", cents(col("l_quantity")))
        .drop("l_quantity")
        .orderBy("l_orderkey", "l_linenumber", "l_suppkey", "qty_c"),
      Some(s"""
        |SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey, s.s_name,
        |  ${centsSql("l.l_quantity")} AS qty_c
        |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |ORDER BY l_orderkey, l_linenumber, l_suppkey, qty_c
        |""".stripMargin.trim)),

    // ---- Bucketed (exchange-free) join ---------------------------------
    // The storage-layout answer to repeated fact joins: both sides
    // written bucketed on the join key (one file per bucket, sorted),
    // so the join plans with ZERO exchanges — the shuffle was paid once
    // at write time. The oracle is the PLAIN join: the layout must not
    // change a single row. The exchange-free plan property itself is
    // pinned by BucketingSpec.
    Q("q_bucketed_join",
      (s, d) => {
        val o = orders(s, d)
          .select("o_orderkey", "o_custkey", "o_orderpriority")
        val c = customer(s, d).select("c_custkey", "c_mktsegment")
        // table names keyed on the source content: a session reused
        // across data dirs (sf0.001 smoke then sf0.01 gate) must not
        // join a stale bucketed copy from the earlier dir
        val key = contentKey(d, "orders.parquet", "bkt8")
        graft.ops.Bucketing.writeBucketed(o, s"bkt_orders_$key",
          "o_custkey", 8)
        graft.ops.Bucketing.writeBucketed(c, s"bkt_customer_$key",
          "c_custkey", 8)
        graft.ops.Bucketing.bucketedJoin(s, s"bkt_orders_$key",
            s"bkt_customer_$key", "o_custkey", "c_custkey")
          .select("o_orderkey", "o_custkey", "o_orderpriority",
            "c_mktsegment")
          .orderBy("o_orderkey")
      },
      Some("""
        |SELECT o_orderkey, o_custkey, o_orderpriority, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey
        |""".stripMargin.trim)),

    // ---- per-event-type value stats (min/max as exact cents) ----------
    Q("q_events_stats",
      (s, d) => events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("user_id")).as("n_users"),
          min(cents(col("value"))).as("min_value_c"),
          max(cents(col("value"))).as("max_value_c"),
          sum(cents(col("value"))).as("sum_value_c"))
        .orderBy("event_type"),
      Some(s"""
        |SELECT event_type, count(*) AS cnt,
        |  count(DISTINCT user_id) AS n_users,
        |  min(${centsSql("value")}) AS min_value_c,
        |  max(${centsSql("value")}) AS max_value_c,
        |  ${sumB(centsSql("value"))} AS sum_value_c
        |FROM events GROUP BY event_type ORDER BY event_type
        |""".stripMargin.trim))
  )
}
