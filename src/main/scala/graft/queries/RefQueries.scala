package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._
import graft.ops.{Cleaning, Dedup, Joins, Parsers}

/** Reference-parity operator queries (SURVEY.md §2) expressed over the
  * driver testdata, each with its DuckDB oracle twin. Every query ends
  * with a deterministic ORDER BY on a unique key so hash comparison is
  * stable regardless of how the driver canonicalizes rows. */
object RefQueries {

  /** All 11 lineitem columns, in parquet order. */
  private val liCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate")

  /** SQL SELECT list for the degraded copy of lineitem (same column
    * positions, two columns conditionally nulled). */
  private val degradedSql = liCols.map {
    case "l_returnflag" =>
      "CASE WHEN l_orderkey % 3 = 0 THEN NULL ELSE l_returnflag END AS l_returnflag"
    case "l_linestatus" =>
      "CASE WHEN l_orderkey % 2 = 0 THEN NULL ELSE l_linestatus END AS l_linestatus"
    case c => c
  }.mkString(", ")

  private val nullCountSql = (liCols :+ "src")
    .map(c => s"CASE WHEN $c IS NULL THEN 1 ELSE 0 END")
    .mkString(" + ")

  /** The two-source union the flagship dedups: lineitem as source "a"
    * plus a deterministically degraded copy as source "b" (stands in for
    * the reference's propnex ∪ srx merge, merge_dedup.py:56). */
  private[graft] def twoSourceUnion(s: org.apache.spark.sql.SparkSession, d: String) = {
    val li = lineitem(s, d)
    val a = li.withColumn("src", lit("a"))
    val b = li
      .withColumn("l_returnflag",
        when(col("l_orderkey") % 3 === 0, lit(null).cast(StringType))
          .otherwise(col("l_returnflag")))
      .withColumn("l_linestatus",
        when(col("l_orderkey") % 2 === 0, lit(null).cast(StringType))
          .otherwise(col("l_linestatus")))
      .withColumn("src", lit("b"))
    a.unionByName(b)
      .filter(col("l_orderkey").isNotNull && col("l_linenumber").isNotNull &&
        col("l_quantity").isNotNull)
  }

  /** Full deterministic tie-break: the testdata lineitem contains
    * duplicate (l_orderkey, l_linenumber) keys with differing payload
    * columns, so ordering by (null_count, src) alone leaves real ties —
    * order by every column. NULLS FIRST matches Spark's asc default. */
  private val fullTiebreak = Seq("src") ++ liCols

  private val tiebreakSql =
    fullTiebreak.map(c => s"$c ASC NULLS FIRST").mkString(", ")

  private val flagshipOracle = s"""
    |WITH a AS (SELECT ${liCols.mkString(", ")}, 'a' AS src FROM lineitem),
    |b AS (SELECT $degradedSql, 'b' AS src FROM lineitem),
    |u AS (SELECT * FROM a UNION ALL SELECT * FROM b),
    |f AS (SELECT * FROM u WHERE l_orderkey IS NOT NULL
    |      AND l_linenumber IS NOT NULL AND l_quantity IS NOT NULL),
    |n AS (SELECT *, $nullCountSql AS nc FROM f),
    |r AS (SELECT *, row_number() OVER (
    |        PARTITION BY l_orderkey, l_linenumber
    |        ORDER BY nc ASC, $tiebreakSql) AS rn FROM n)
    |SELECT ${liCols.mkString(", ")}, src FROM r WHERE rn = 1
    |ORDER BY l_orderkey, l_linenumber
    |""".stripMargin.trim

  def all: Seq[Q] = Seq(

    // ---- flagship: MD spine (S3,U2,F1,A1,W1,F2,P1) --------------------
    Q("q_dedup_flagship",
      (s, d) => Dedup.keepMostComplete(
          twoSourceUnion(s, d),
          keys = Seq("l_orderkey", "l_linenumber"), tiebreak = fullTiebreak)
        .orderBy("l_orderkey", "l_linenumber"),
      Some(flagshipOracle)),

    // Same semantics via min_by aggregation — the 100 TB path (one
    // partial-aggregable shuffle, no sort). Shares the flagship oracle:
    // proving the two plans agree IS the point.
    Q("q_dedup_agg",
      (s, d) => Dedup.keepMostCompleteAgg(
          twoSourceUnion(s, d),
          keys = Seq("l_orderkey", "l_linenumber"), tiebreak = fullTiebreak)
        .orderBy("l_orderkey", "l_linenumber"),
      Some(flagshipOracle)),

    // The same WINDOW formulation as the flagship, but with the
    // DedupWindowToAggregate optimizer rule injected (a fresh session:
    // extraOptimizations is session-scoped): Catalyst rewrites the
    // Filter(rn=1, Window(row_number)) idiom into the min_by aggregate
    // automatically. Shares the flagship oracle — the rewritten plan
    // must produce identical rows.
    Q("q_dedup_rule_rewrite",
      (s, d) => {
        val s2 = s.newSession()
        s2.experimental.extraOptimizations =
          s2.experimental.extraOptimizations :+
            graft.plans.DedupWindowToAggregate
        Dedup.keepMostComplete(
            twoSourceUnion(s2, d),
            keys = Seq("l_orderkey", "l_linenumber"), tiebreak = fullTiebreak)
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some(flagshipOracle)),

    // ---- A1 standalone: horizontal null count -------------------------
    Q("q_null_count",
      (s, d) => {
        val u = twoSourceUnion(s, d)
        u.select(col("l_orderkey"), col("l_linenumber"), col("src"),
            Dedup.nullCount((liCols :+ "src").map(col)).as("null_count"))
          .orderBy("l_orderkey", "l_linenumber", "src")
      },
      Some(s"""
        |WITH a AS (SELECT ${liCols.mkString(", ")}, 'a' AS src FROM lineitem),
        |b AS (SELECT $degradedSql, 'b' AS src FROM lineitem),
        |u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
        |SELECT l_orderkey, l_linenumber, src, $nullCountSql AS null_count
        |FROM u ORDER BY l_orderkey, l_linenumber, src
        |""".stripMargin.trim)),

    // ---- F3: sentinel-string null normalization -----------------------
    Q("q_null_normalize",
      (s, d) => {
        val withSentinels = customer(s, d).withColumn("seg_raw",
          when(col("c_custkey") % 3 === 0, lit("None"))
            .when(col("c_custkey") % 3 === 1, lit(""))
            .otherwise(col("c_mktsegment")))
        Cleaning.normalizeNulls(
            withSentinels.select("c_custkey", "seg_raw"))
          .withColumnRenamed("seg_raw", "seg")
          .orderBy("c_custkey")
      },
      Some("""
        |SELECT c_custkey,
        |  NULLIF(NULLIF(CASE WHEN c_custkey % 3 = 0 THEN 'None'
        |                     WHEN c_custkey % 3 = 1 THEN ''
        |                     ELSE c_mktsegment END, 'None'), '') AS seg
        |FROM customer ORDER BY c_custkey
        |""".stripMargin.trim)),

    // ---- F4: conditional null-out by prefix ---------------------------
    Q("q_null_out_prefix",
      (s, d) => part(s, d)
        .select(col("p_partkey"),
          Cleaning.nullIfPrefix(col("p_type"), "PROMO").as("p_type_clean"))
        .orderBy("p_partkey"),
      Some("""
        |SELECT p_partkey,
        |  CASE WHEN p_type LIKE 'PROMO%' THEN NULL ELSE p_type END
        |    AS p_type_clean
        |FROM part ORDER BY p_partkey
        |""".stripMargin.trim)),

    // ---- P1/P2/P3: select-reorder + batch rename + drop ---------------
    Q("q_rename_project",
      (s, d) => nation(s, d).withColumnsRenamed(
          Map("n_name" -> "nation_name", "n_regionkey" -> "region_id"))
        .drop("region_id")
        .select("nation_name", "n_nationkey")
        .orderBy("n_nationkey"),
      Some("""
        |SELECT n_name AS nation_name, n_nationkey
        |FROM nation ORDER BY n_nationkey
        |""".stripMargin.trim)),

    // ---- P5: typed cast loop ------------------------------------------
    Q("q_cast_loop",
      (s, d) => Cleaning.castColumnsLenient(
          lineitem(s, d).select("l_orderkey", "l_linenumber", "l_quantity",
            "l_shipdate"),
          Map("l_quantity" -> IntegerType, "l_orderkey" -> StringType,
            "l_shipdate" -> DateType))
        .orderBy(col("l_orderkey").cast(LongType), col("l_linenumber")),
      Some("""
        |SELECT CAST(l_orderkey AS VARCHAR) AS l_orderkey, l_linenumber,
        |  CAST(l_quantity AS INTEGER) AS l_quantity,
        |  CAST(l_shipdate AS DATE) AS l_shipdate
        |FROM lineitem ORDER BY CAST(l_orderkey AS BIGINT), l_linenumber
        |""".stripMargin.trim)),

    // ---- P6: constant / null columns + injected run date --------------
    Q("q_const_cols",
      (s, d) => supplier(s, d)
        .select(col("s_suppkey"), col("s_name"),
          lit(null).cast(StringType).as("property_type"),
          lit(java.sql.Date.valueOf("2024-11-01")).as("transformed_date"))
        .orderBy("s_suppkey"),
      Some("""
        |SELECT s_suppkey, s_name, CAST(NULL AS VARCHAR) AS property_type,
        |  DATE '2024-11-01' AS transformed_date
        |FROM supplier ORDER BY s_suppkey
        |""".stripMargin.trim)),

    // ---- J3/J5: broadcast enrich chain fact→dim→dim -------------------
    Q("q_join_chain",
      (s, d) => {
        val enriched = Joins.broadcastEnrich(
          Joins.broadcastEnrich(
            supplier(s, d).withColumnRenamed("s_nationkey", "n_nationkey"),
            nation(s, d), Seq("n_nationkey")),
          region(s, d).withColumnRenamed("r_regionkey", "n_regionkey"),
          Seq("n_regionkey"))
        enriched.select(col("s_suppkey"), col("s_name"),
            col("n_name").as("nation_name"), col("r_name").as("region_name"))
          .orderBy("s_suppkey")
      },
      Some("""
        |SELECT s_suppkey, s_name, n_name AS nation_name,
        |  r_name AS region_name
        |FROM supplier
        |LEFT JOIN nation ON s_nationkey = n_nationkey
        |LEFT JOIN region ON n_regionkey = r_regionkey
        |ORDER BY s_suppkey
        |""".stripMargin.trim)),

    // ---- J1: case-insensitive normalize-join-restore ------------------
    Q("q_join_normalized",
      (s, d) => {
        import s.implicits._
        val dim = Seq(
          ("building", "Zone East"), ("automobile", "Zone West"),
          ("machinery", "Zone North"), ("household", "Zone South"),
          ("furniture", "Zone Central")).toDF("segment", "zone")
        val fact = customer(s, d)
          .select(col("c_custkey"), initcap(col("c_mktsegment")).as("segment"))
        Joins.normalizedEnrich(fact, dim, "segment", initcap)
          .select("c_custkey", "segment", "zone")
          .orderBy("c_custkey")
      },
      Some("""
        |WITH dim(segment, zone) AS (VALUES
        |  ('building','Zone East'), ('automobile','Zone West'),
        |  ('machinery','Zone North'), ('household','Zone South'),
        |  ('furniture','Zone Central'))
        |SELECT c_custkey,
        |  upper(substr(lower(c_mktsegment),1,1)) ||
        |    lower(substr(lower(c_mktsegment),2)) AS segment,
        |  zone
        |FROM customer LEFT JOIN dim ON lower(c_mktsegment) = dim.segment
        |ORDER BY c_custkey
        |""".stripMargin.trim)),

    // ---- J2: distinct-dim-then-join -----------------------------------
    Q("q_join_dim_distinct",
      (s, d) => {
        val enriched = Joins.distinctDimEnrich(
          supplier(s, d).withColumnRenamed("s_nationkey", "n_nationkey"),
          nation(s, d), Seq("n_nationkey", "n_regionkey"), "n_nationkey")
        Joins.broadcastEnrich(enriched,
            region(s, d).withColumnRenamed("r_regionkey", "n_regionkey"),
            Seq("n_regionkey"))
          .select(col("s_suppkey"), col("n_regionkey").as("region_id"),
            col("r_name").as("region_name"))
          .orderBy("s_suppkey")
      },
      Some("""
        |SELECT s_suppkey, n_regionkey AS region_id, r_name AS region_name
        |FROM supplier
        |LEFT JOIN (SELECT DISTINCT n_nationkey, n_regionkey FROM nation) n
        |  ON s_nationkey = n_nationkey
        |LEFT JOIN region ON n_regionkey = r_regionkey
        |ORDER BY s_suppkey
        |""".stripMargin.trim)),

    // ---- J4: alias-overwrite enrich -----------------------------------
    Q("q_join_overwrite",
      (s, d) => {
        val fact = customer(s, d)
          .select("c_custkey", "c_nationkey")
          .withColumn("region_id", lit(-1))
        val dim = nation(s, d)
          .select(col("n_nationkey").as("c_nationkey"),
            col("n_regionkey").as("region_id"))
        Joins.enrichOverwrite(fact, dim, "c_nationkey", Seq("region_id"))
          .orderBy("c_custkey")
      },
      Some("""
        |SELECT c_custkey, c_nationkey, n_regionkey AS region_id
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY c_custkey
        |""".stripMargin.trim)),

    // ---- U2: unionByName of conformed sources -------------------------
    Q("q_union_byname",
      (s, d) => {
        val c = customer(s, d)
        val a = c.select(col("c_custkey"), col("c_name"),
          col("c_mktsegment").as("segment"), lit("cur").as("src"))
        val b = c.select(lit("hist").as("src"),
            col("c_mktsegment").as("segment"), col("c_name"),
            (col("c_custkey") + 1000000).as("c_custkey"))
        a.unionByName(b).orderBy("c_custkey", "src")
      },
      Some("""
        |SELECT * FROM (
        |  SELECT c_custkey, c_name, c_mktsegment AS segment, 'cur' AS src
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 1000000 AS c_custkey, c_name,
        |    c_mktsegment AS segment, 'hist' AS src
        |  FROM customer)
        |ORDER BY c_custkey, src
        |""".stripMargin.trim)),

    // ---- S8/A3: single-column dropDuplicates (url-list dedup shape) ---
    Q("q_dropdup_keys",
      (s, d) => customer(s, d)
        .select("c_mktsegment")
        .dropDuplicates("c_mktsegment")
        .orderBy("c_mktsegment"),
      Some("""
        |SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment
        |""".stripMargin.trim)),

    // ---- §2.9 strings: initcap/lower/upper/trim -----------------------
    Q("q_string_clean",
      (s, d) => part(s, d)
        .select(col("p_partkey"),
          initcap(col("p_name")).as("name_ic"),
          lower(col("p_brand")).as("brand_lc"),
          upper(col("p_type")).as("type_uc"),
          trim(col("p_name")).as("name_trim"))
        .orderBy("p_partkey"),
      Some("""
        |SELECT p_partkey,
        |  array_to_string(list_transform(string_split(p_name, ' '),
        |    w -> upper(substr(w,1,1)) || lower(substr(w,2))), ' ') AS name_ic,
        |  lower(p_brand) AS brand_lc,
        |  upper(p_type) AS type_uc,
        |  trim(p_name) AS name_trim
        |FROM part ORDER BY p_partkey
        |""".stripMargin.trim)),

    // ---- §2.9 regex: extract ------------------------------------------
    Q("q_regex_extract",
      (s, d) => customer(s, d)
        .select(col("c_custkey"),
          regexp_extract(col("c_name"), "([0-9]+)", 1).as("id_str"),
          regexp_extract(col("c_name"), "([0-9]+)", 1).cast(LongType)
            .as("id_num"))
        .orderBy("c_custkey"),
      Some("""
        |SELECT c_custkey, regexp_extract(c_name, '([0-9]+)', 1) AS id_str,
        |  CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS id_num
        |FROM customer ORDER BY c_custkey
        |""".stripMargin.trim)),

    // ---- §2.9 regex: money strip + replace ----------------------------
    Q("q_regex_replace_money",
      (s, d) => lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          concat(lit("$"), col("l_orderkey"), lit(","),
            lpad(col("l_linenumber"), 3, "0")).as("money_raw"))
        .withColumn("money_int", Cleaning.parseMoney(col("money_raw")))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""
        |WITH m AS (SELECT l_orderkey, l_linenumber,
        |  '$' || CAST(l_orderkey AS VARCHAR) || ',' ||
        |    lpad(CAST(l_linenumber AS VARCHAR), 3, '0') AS money_raw
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber, money_raw,
        |  CAST(regexp_replace(money_raw, '[$,]', '', 'g') AS INTEGER)
        |    AS money_int
        |FROM m ORDER BY l_orderkey, l_linenumber
        |""".stripMargin.trim)),

    // ---- §2.9 tokens: split/getItem/size/slice/concat_ws/substring_index
    Q("q_substr_tokens",
      (s, d) => {
        val toks = split(col("p_type"), " ")
        part(s, d).select(col("p_partkey"),
            substring_index(col("p_brand"), "#", -1).as("brand_id"),
            toks.getItem(0).as("tok_first"),
            size(toks).as("tok_count"),
            concat_ws(" ", slice(toks, 2, 10)).as("tok_rest"),
            substring(col("p_type"), 1, 2).as("type_prefix"))
          .orderBy("p_partkey")
      },
      Some("""
        |SELECT p_partkey,
        |  split_part(p_brand, '#', -1) AS brand_id,
        |  string_split(p_type, ' ')[1] AS tok_first,
        |  len(string_split(p_type, ' ')) AS tok_count,
        |  coalesce(array_to_string(string_split(p_type, ' ')[2:11], ' '),
        |    '') AS tok_rest,
        |  substr(p_type, 1, 2) AS type_prefix
        |FROM part ORDER BY p_partkey
        |""".stripMargin.trim)),

    // ---- §2.9 dates: month-string assembly + part extraction ----------
    Q("q_date_assembly",
      (s, d) => orders(s, d)
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month_str"))
        .withColumn("month_date", Cleaning.monthToDate(col("month_str")))
        .withColumn("yr", year(col("month_date")).cast(IntegerType))
        .withColumn("mo", month(col("month_date")).cast(IntegerType))
        .orderBy("o_orderkey"),
      Some("""
        |WITH m AS (SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y-%m') AS month_str FROM orders)
        |SELECT o_orderkey, month_str,
        |  CAST(month_str || '-01' AS DATE) AS month_date,
        |  CAST(year(CAST(month_str || '-01' AS DATE)) AS INTEGER) AS yr,
        |  CAST(month(CAST(month_str || '-01' AS DATE)) AS INTEGER) AS mo
        |FROM m ORDER BY o_orderkey
        |""".stripMargin.trim)),

    // ---- §2.9 arithmetic: remaining-lease formula ---------------------
    Q("q_remaining_lease",
      (s, d) => orders(s, d)
        .select(col("o_orderkey"),
          (lit(1960) + col("o_custkey") % 40).cast(IntegerType).as("top"))
        .withColumn("sale_year", lit(1998))
        .withColumn("remaining_lease",
          Cleaning.remainingLease(col("sale_year"), col("top")))
        .orderBy("o_orderkey"),
      Some("""
        |SELECT o_orderkey,
        |  CAST(1960 + o_custkey % 40 AS INTEGER) AS top,
        |  1998 AS sale_year,
        |  CAST(99 - (1998 - (1960 + o_custkey % 40)) AS INTEGER)
        |    AS remaining_lease
        |FROM orders ORDER BY o_orderkey
        |""".stripMargin.trim)),

    // ---- §2.9 math: sqm→sqft conversion + psf -------------------------
    // price_psf kept as integer cents via floor(x+0.5): double `round`
    // half-way behavior differs between engines (Spark BigDecimal HALF_UP
    // on the exact binary value vs DuckDB), floor on IEEE doubles doesn't.
    Q("q_sqm_sqft",
      (s, d) => part(s, d)
        .select(col("p_partkey"),
          Cleaning.sqmToSqft(col("p_size")).as("sqft"),
          floor(col("p_retailprice") * 100 / col("p_size") + 0.5)
            .cast(LongType).as("psf_cents"))
        .orderBy("p_partkey"),
      Some("""
        |SELECT p_partkey,
        |  CAST(round(p_size * (3.28084 * 3.28084), 0) AS INTEGER) AS sqft,
        |  CAST(floor(p_retailprice * 100 / p_size + 0.5) AS BIGINT)
        |    AS psf_cents
        |FROM part ORDER BY p_partkey
        |""".stripMargin.trim)),

    // ---- §2.9 conditionals: multi-branch when mapping -----------------
    Q("q_when_mapping",
      (s, d) => orders(s, d)
        .select(col("o_orderkey"),
          when(col("o_orderpriority") === "1-URGENT", lit("critical"))
            .when(col("o_orderpriority") === "2-HIGH", lit("high"))
            .when(col("o_orderpriority").isin("3-MEDIUM", "4-NOT SPECIFIED"),
              lit("normal"))
            .otherwise(lit("low")).as("priority_class"))
        .orderBy("o_orderkey"),
      Some("""
        |SELECT o_orderkey,
        |  CASE WHEN o_orderpriority = '1-URGENT' THEN 'critical'
        |       WHEN o_orderpriority = '2-HIGH' THEN 'high'
        |       WHEN o_orderpriority IN ('3-MEDIUM','4-NOT SPECIFIED')
        |         THEN 'normal'
        |       ELSE 'low' END AS priority_class
        |FROM orders ORDER BY o_orderkey
        |""".stripMargin.trim)),

    // ---- UDF1 replacement: bedroom-count parser -----------------------
    Q("q_bedrooms_parser",
      (s, d) => {
        val raw = when(col("c_custkey") % 5 === 0, lit("Studio"))
          .when(col("c_custkey") % 5 === 1, lit("3+1"))
          .when(col("c_custkey") % 5 === 2, lit("4"))
          .when(col("c_custkey") % 5 === 3, lit(null).cast(StringType))
          .otherwise(lit("junk"))
        customer(s, d)
          .select(col("c_custkey"), raw.as("bedrooms_raw"))
          .withColumn("bedrooms", Parsers.bedroomCount(col("bedrooms_raw")))
          .orderBy("c_custkey")
      },
      Some("""
        |WITH r AS (SELECT c_custkey,
        |  CASE WHEN c_custkey % 5 = 0 THEN 'Studio'
        |       WHEN c_custkey % 5 = 1 THEN '3+1'
        |       WHEN c_custkey % 5 = 2 THEN '4'
        |       WHEN c_custkey % 5 = 3 THEN NULL
        |       ELSE 'junk' END AS bedrooms_raw
        |  FROM customer)
        |SELECT c_custkey, bedrooms_raw,
        |  CASE WHEN lower(trim(bedrooms_raw)) = 'studio' THEN 1
        |       WHEN regexp_matches(trim(bedrooms_raw), '^\d+\+\d+$')
        |         THEN CAST(split_part(trim(bedrooms_raw), '+', 1) AS INTEGER)
        |            + CAST(split_part(trim(bedrooms_raw), '+', 2) AS INTEGER)
        |       WHEN regexp_matches(trim(bedrooms_raw), '^\d+$')
        |         THEN CAST(trim(bedrooms_raw) AS INTEGER)
        |       ELSE NULL END AS bedrooms
        |FROM r ORDER BY c_custkey
        |""".stripMargin.trim)),

    // ---- to_json(struct(coalesce(...))) -------------------------------
    Q("q_to_json",
      (s, d) => {
        val seg = when(col("c_custkey") % 7 === 0, lit(null).cast(StringType))
          .otherwise(col("c_mktsegment"))
        customer(s, d)
          .select(col("c_custkey"),
            to_json(struct(
              coalesce(seg, lit("N/A")).as("segment"),
              col("c_name").as("name"))).as("additional_information"))
          .orderBy("c_custkey")
      },
      Some("""
        |SELECT c_custkey,
        |  to_json({'segment': coalesce(
        |     CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END,
        |     'N/A'), 'name': c_name}) AS additional_information
        |FROM customer ORDER BY c_custkey
        |""".stripMargin.trim))
  )
}
