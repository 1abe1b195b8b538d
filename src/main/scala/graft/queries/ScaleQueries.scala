package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._
import graft.ops.{IncrementalAgg, Reconcile, TextOps}
import graft.functions.GraftFunctions.bloomMightContain

/** 100 TB operational queries: snapshot reconciliation by bucketed
  * checksums, incremental aggregate-MV maintenance, and Bloom-staged
  * decontamination. Each gate pins the SCALE formulation to the naive
  * full-recompute oracle — the operator's contract is "identical
  * answer, fraction of the work". */
object ScaleQueries {

  private val centsSql = OracleSql.cents

  def all: Seq[Q] = Seq(

    // ---- bucketed checksum reconciliation ---------------------------
    // A drifted copy of orders (every 97th key's price bumped, every
    // 101st key dropped) is reconciled against the original at the
    // BUCKET level: 64 checksum triples per side instead of a row join.
    // The oracle recomputes both checksum tables in SQL — md5 is
    // bit-identical across engines, so the triples match exactly.
    Q("q_table_checksum",
      (s, d) => {
        val a = orders(s, d).select(col("o_orderkey"),
          floor(col("o_totalprice") * 100 + 0.5).cast(LongType)
            .as("price_c"))
        val b = a.filter(col("o_orderkey") % 101 =!= 0)
          .withColumn("price_c",
            when(col("o_orderkey") % 97 === 0, col("price_c") + 1)
              .otherwise(col("price_c")))
        Reconcile.checksumDiff(a, b,
            Seq("o_orderkey", "price_c"), buckets = 64)
          .orderBy("bucket")
      },
      Some(s"""
        |WITH a AS (SELECT o_orderkey,
        |    ${centsSql("o_totalprice")} AS price_c FROM orders),
        |b AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 97 = 0 THEN price_c + 1
        |         ELSE price_c END AS price_c
        |  FROM a WHERE o_orderkey % 101 <> 0),
        |ha AS (SELECT md5(concat_ws('',
        |    COALESCE(md5(CAST(o_orderkey AS VARCHAR)), 'N'),
        |    COALESCE(md5(CAST(price_c AS VARCHAR)), 'N'))) AS dg FROM a),
        |hb AS (SELECT md5(concat_ws('',
        |    COALESCE(md5(CAST(o_orderkey AS VARCHAR)), 'N'),
        |    COALESCE(md5(CAST(price_c AS VARCHAR)), 'N'))) AS dg FROM b),
        |ca AS (SELECT CAST(('0x' || substr(dg, 1, 4)) AS BIGINT) % 64
        |      AS bucket,
        |    CAST(count(*) AS BIGINT) AS cnt_a,
        |    CAST(sum(CAST(('0x' || substr(dg, 5, 15)) AS BIGINT))
        |      % 1152921504606846976 AS BIGINT) AS hsum_a,
        |    bit_xor(CAST(('0x' || substr(dg, 5, 15)) AS BIGINT))
        |      AS hxor_a
        |  FROM ha GROUP BY 1),
        |cb AS (SELECT CAST(('0x' || substr(dg, 1, 4)) AS BIGINT) % 64
        |      AS bucket,
        |    CAST(count(*) AS BIGINT) AS cnt_b,
        |    CAST(sum(CAST(('0x' || substr(dg, 5, 15)) AS BIGINT))
        |      % 1152921504606846976 AS BIGINT) AS hsum_b,
        |    bit_xor(CAST(('0x' || substr(dg, 5, 15)) AS BIGINT))
        |      AS hxor_b
        |  FROM hb GROUP BY 1)
        |SELECT bucket,
        |  COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b,
        |  COALESCE(hsum_a, 0) AS hsum_a, COALESCE(hsum_b, 0) AS hsum_b,
        |  COALESCE(hxor_a, 0) AS hxor_a, COALESCE(hxor_b, 0) AS hxor_b
        |FROM ca FULL OUTER JOIN cb USING (bucket)
        |WHERE COALESCE(cnt_a, 0) <> COALESCE(cnt_b, 0)
        |  OR COALESCE(hsum_a, 0) <> COALESCE(hsum_b, 0)
        |  OR COALESCE(hxor_a, 0) <> COALESCE(hxor_b, 0)
        |ORDER BY bucket
        |""".stripMargin.trim)),

    // ---- incremental aggregate-MV maintenance -----------------------
    // History (shipped before 1997) is folded into a per-group state
    // table ONCE; the new batch's state merges in at group cardinality.
    // The gate pins merge(state(hist), state(batch)) == full recompute
    // (the oracle aggregates all of lineitem directly). Averages are
    // derived at read time as exact milli integer division — positive
    // sums, so Spark's `div` (truncate) and DuckDB's `//` (floor)
    // agree.
    Q("q_incr_agg_maintain",
      (s, d) => {
        val li = lineitem(s, d).select(col("l_returnflag"),
          col("l_linestatus"), col("l_shipdate"),
          floor(col("l_quantity") * 100 + 0.5).cast(LongType)
            .as("qty_c"),
          floor(col("l_extendedprice") * 100 + 0.5).cast(LongType)
            .as("price_c"))
        val keys = Seq("l_returnflag", "l_linestatus")
        val vals = Seq("qty_c", "price_c")
        val cutoff = "1997-01-01"
        val hist = li.filter(col("l_shipdate") < lit(cutoff))
        val batch = li.filter(col("l_shipdate") >= lit(cutoff))
        val merged = IncrementalAgg.mergeStates(
          Seq(IncrementalAgg.aggState(hist, keys, vals),
            IncrementalAgg.aggState(batch, keys, vals)), keys)
        IncrementalAgg.finalizeView(merged, keys)
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some(s"""
        |SELECT l_returnflag, l_linestatus,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(${centsSql("l_quantity")}) AS BIGINT) AS sum_qty_c,
        |  CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT)
        |    AS sum_price_c,
        |  CAST((sum(${centsSql("l_quantity")}) * 1000) // count(*)
        |    AS BIGINT) AS avg_qty_c_milli,
        |  CAST((sum(${centsSql("l_extendedprice")}) * 1000) // count(*)
        |    AS BIGINT) AS avg_price_c_milli
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2
        |""".stripMargin.trim)),

    // ---- incremental JOIN-MV maintenance -----------------------------
    // The delta-join companion to q_incr_agg_maintain: a materialized
    // orders ⋈ customer updates under one insert batch per side via the
    // three-term expansion (ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB) — every new term
    // probes with a delta-sized side, never recomputing J. The oracle
    // is the full recompute over (A∪ΔA) ⋈ (B∪ΔB): identical answer,
    // delta-sized work.
    Q("q_incr_join_maintain",
      (s, d) => {
        def aSide(pred: org.apache.spark.sql.Column) =
          orders(s, d).filter(pred)
            .select(col("o_custkey").as("custkey"), col("o_orderkey"),
              floor(col("o_totalprice") * 100 + 0.5).cast(LongType)
                .as("price_c"))
        val b = customer(s, d).select(col("c_custkey").as("custkey"),
          col("c_name"))
        val cutoff = "1997-01-01"
        val aOld = aSide(col("o_orderdate") < lit(cutoff))
        val dA = aSide(col("o_orderdate") >= lit(cutoff))
        val bOld = b.filter(col("custkey") % 10 =!= 0)
        val dB = b.filter(col("custkey") % 10 === 0)
        val jOld = aOld.join(bOld, Seq("custkey"))
        graft.ops.IncrementalJoin
          .deltaJoinInserts(jOld, aOld, dA, bOld, dB, Seq("custkey"))
          .orderBy("o_orderkey")
      },
      Some(s"""
        |SELECT o_custkey AS custkey, o_orderkey,
        |  ${centsSql("o_totalprice")} AS price_c, c_name
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey
        |""".stripMargin.trim)),

    // ---- Bloom-staged decontamination -------------------------------
    // Same contract as q_text_decontaminate (flag corpus docs sharing
    // an 8-gram with the eval set), staged for scale: the eval
    // shingles fold into a KB-sized Bloom sketch (partial-aggregable
    // OR-merge), the corpus side is pruned by a codegen'd membership
    // test BEFORE any join, and only the ~selectivity fraction of
    // shingle rows reaches the exact broadcast semi-join that removes
    // Bloom false positives. Identical output, shuffle traffic cut to
    // the matching fraction — the decontamination twin of
    // Joins.bloomPrunedJoin. Oracle = the exact formulation.
    Q("q_decontaminate_bloom",
      (s, d) => {
        val corpus = EvalArtifacts.plantedCorpus(s, d)
        // the eval-set artifacts (stored shingle table + memoized
        // sketch) are read, not rebuilt — EvalArtifacts; the timed
        // path is corpus-side work only
        val evalShingles = s.table(EvalArtifacts.evalShingleTable(s, d))
        val sketch = EvalArtifacts.bloomSketch(s, d)
        corpus
          .select(col("doc_id"),
            explode(TextOps.wordShingles(col("text"), 8)).as("s"))
          .filter(bloomMightContain(lit(sketch), xxhash64(col("s"))))
          .join(broadcast(evalShingles), Seq("s"), "left_semi")
          .select("doc_id").distinct()
          .orderBy("doc_id")
      },
      Some(OracleSql.decontaminated)),

    // ---- rolling distinct users from MERGED daily sketches ----------
    // Distinct counts don't sum, but their SKETCHES merge: one daily
    // HLL sketch table (tiny — one row per day), rolling 7-day distinct
    // by unioning 7 sketches per target day, never re-touching raw
    // events — the incremental-MV story for COUNT(DISTINCT). Exact
    // 7-day distinct computed alongside (explode to target days +
    // countDistinct); the gate hash-checks the exact values and the
    // sketch-vs-exact 5% bound (oracle asserts TRUE — the
    // q_agg_approx_distinct_bound pattern, since sketch estimates are
    // engine-specific).
    Q("q_rolling_distinct_sketch",
      (s, d) => {
        val act = events(s, d)
          .select(col("user_id"),
            to_date(timestamp_micros(col("ts"))).as("day"))
          .distinct()
          .withColumn("day_ord",
            datediff(col("day"), lit("1990-01-01")).cast(LongType))
        val days = act.select("day_ord", "day").distinct()
        val daily = act.groupBy("day_ord")
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
        val est = daily
          .select(explode(sequence(col("day_ord"), col("day_ord") + 6))
            .as("t_ord"), col("sk"))
          .groupBy("t_ord")
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        val exact = act
          .select(explode(sequence(col("day_ord"), col("day_ord") + 6))
            .as("t_ord"), col("user_id"))
          .groupBy("t_ord")
          .agg(countDistinct(col("user_id")).as("exact_7d"))
        days.join(est, col("day_ord") === est("t_ord")).drop("t_ord")
          .join(exact, col("day_ord") === exact("t_ord")).drop("t_ord")
          .select(col("day"), col("exact_7d"),
            (abs(col("est") - col("exact_7d")) <=
              lit(0.05) * col("exact_7d")).as("within_bound"))
          .orderBy("day")
      },
      Some("""
        |WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events)
        |SELECT d.day, CAST(count(DISTINCT a.user_id) AS BIGINT)
        |    AS exact_7d,
        |  TRUE AS within_bound
        |FROM (SELECT DISTINCT day FROM act) d
        |JOIN act a ON a.day BETWEEN d.day - 6 AND d.day
        |GROUP BY d.day ORDER BY d.day
        |""".stripMargin.trim)),

    // ---- bounded edit-distance fuzzy join ---------------------------
    // PassJoin segment pigeonhole (d+1 segments, one must survive
    // intact within a ±d shift) + exact levenshtein verify, over a
    // corpus with planted two-substitution twins. The oracle does the
    // all-pairs scan the operator exists to avoid — pinning
    // completeness of the segment candidate set.
    Q("q_editdist_join",
      (s, d) => {
        val base = documents(s, d).filter(length(col("text")) >= 50)
          .select(col("doc_id").as("id"),
            substring(col("text"), 1, 50).as("text"))
        val corpus = base.unionByName(base.select(
          (col("id") + 4000000L).as("id"),
          concat(substring(col("text"), 1, 6), lit("Q"),
            expr("substring(text, 8, 11)"), lit("Q"),
            expr("substring(text, 20)")).as("text")))
        graft.ops.Similarity.editDistanceJoin(corpus, maxDist = 2)
          .orderBy("id_a", "id_b")
      },
      Some("""
        |WITH base AS (SELECT doc_id AS id, substr(text, 1, 50) AS s
        |  FROM documents WHERE length(text) >= 50),
        |corpus AS (SELECT id, s FROM base
        |  UNION ALL SELECT id + 4000000,
        |    concat(substr(s, 1, 6), 'Q', substr(s, 8, 11), 'Q',
        |      substr(s, 20)) FROM base)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM corpus a JOIN corpus b ON a.id < b.id
        |  AND levenshtein(a.s, b.s) <= 2
        |ORDER BY id_a, id_b
        |""".stripMargin.trim)),

    // ---- global row index without a single-partition window ---------
    // GlobalOrder.withGlobalIndex: range-sort + two-pass exclusive
    // prefix scan. The oracle is the row_number() the operator refuses
    // to compute the naive way — identical output, parallel plan.
    // Sort key goes through epoch-micros so both engines compare the
    // same integers.
    Q("q_global_rownum",
      (s, d) => {
        val li = lineitem(s, d).select(
          unix_micros(col("l_shipdate").cast(TimestampType)).as("ship_us"),
          col("l_orderkey"), col("l_linenumber").cast(LongType)
            .as("l_linenumber"))
        graft.ops.GlobalOrder.withGlobalIndex(li,
            Seq(col("ship_us").asc, col("l_orderkey").asc,
              col("l_linenumber").asc))
          .select("idx", "l_orderkey", "l_linenumber")
          .orderBy("idx")
      },
      Some("""
        |SELECT CAST(row_number() OVER (ORDER BY epoch_us(l_shipdate),
        |    l_orderkey, l_linenumber) - 1 AS BIGINT) AS idx,
        |  l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber
        |FROM lineitem ORDER BY idx
        |""".stripMargin.trim)),

    // ---- 2-D skyline (Pareto frontier) -------------------------------
    // Cheapest-for-its-size parts: minimize (price cents, size). The
    // operator is the O(n log n) prefix-scan over a range sort; the
    // oracle is the first-principles O(n^2) NOT-EXISTS dominance
    // definition — proving the sort formulation IS the skyline.
    Q("q_skyline",
      (s, d) => {
        val p = part(s, d).select(
          floor(col("p_retailprice") * 100 + 0.5).cast(LongType)
            .as("price_c"),
          col("p_size").cast(LongType).as("sz"))
        val sky = graft.ops.GlobalOrder.skylineMin2D(p, "price_c", "sz")
        // row multiplicity back on the frontier points
        sky.join(p, Seq("price_c", "sz"))
          .groupBy("price_c", "sz").agg(count(lit(1)).as("n_parts"))
          .orderBy("price_c", "sz")
      },
      Some(s"""
        |WITH p AS (SELECT ${centsSql("p_retailprice")} AS price_c,
        |    CAST(p_size AS BIGINT) AS sz FROM part
        |  WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL),
        |d AS (SELECT DISTINCT price_c, sz FROM p),
        |sk AS (SELECT * FROM d a WHERE NOT EXISTS (
        |  SELECT 1 FROM d b WHERE b.price_c <= a.price_c
        |    AND b.sz <= a.sz
        |    AND (b.price_c < a.price_c OR b.sz < a.sz)))
        |SELECT sk.price_c, sk.sz, count(*) AS n_parts
        |FROM sk JOIN p ON p.price_c = sk.price_c AND p.sz = sk.sz
        |GROUP BY sk.price_c, sk.sz ORDER BY sk.price_c, sk.sz
        |""".stripMargin.trim)),

    // ---- rendezvous (HRW) sharding ----------------------------------
    // Highest-random-weight storage assignment — the stable sharding a
    // pipeline uses to route docs to N stores so that REMOVING a shard
    // relocates only that shard's keys (consistent-hashing's guarantee
    // without the ring). Weight = md5(key ':' shard), assignment =
    // min-weight shard; the gate computes the 8-shard assignment AND
    // the 7-shard assignment with shard 3 removed — per shard: doc
    // count, departures, arrivals. The invariant IS the output:
    // n_out = 0 everywhere except the removed shard (which empties),
    // pinned by the oracle. Per-row expression work + one bounded
    // 8-row aggregate; md5 is bit-identical across engines.
    Q("q_rendezvous_shard",
      (s, d) => {
        def assign(shards: Seq[Int]) =
          graft.ops.Sharding.rendezvousShard(col("doc_id"), shards)
        val j = documents(s, d).select(
          assign(0 to 7).as("s1"),
          assign((0 to 7).filterNot(_ == 3)).as("s2"))
        val moved = when(col("s1") =!= col("s2"), 1L).otherwise(0L)
        val outs = j.groupBy(col("s1").as("shard"))
          .agg(count(lit(1)).as("n_docs"), sum(moved).as("n_out"))
        val ins = j.groupBy(col("s2").as("shard"))
          .agg(sum(moved).as("n_in"))
        outs.join(ins, Seq("shard"), "left")
          .select(col("shard"), col("n_docs"), col("n_out"),
            coalesce(col("n_in"), lit(0L)).as("n_in"))
          .orderBy("shard")
      },
      Some("""
        |WITH rz_w AS (SELECT doc_id, sh,
        |    md5(CAST(doc_id AS VARCHAR) || ':' || sh) AS wt
        |  FROM documents
        |  CROSS JOIN (SELECT unnest(range(0, 8)) AS sh)),
        |rz_a1 AS (SELECT doc_id, CAST(sh AS BIGINT) AS s1 FROM (
        |    SELECT doc_id, sh, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY wt, sh) AS rn FROM rz_w) WHERE rn = 1),
        |rz_a2 AS (SELECT doc_id, CAST(sh AS BIGINT) AS s2 FROM (
        |    SELECT doc_id, sh, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY wt, sh) AS rn FROM rz_w WHERE sh <> 3)
        |  WHERE rn = 1),
        |rz_j AS (SELECT a1.doc_id, s1, s2
        |  FROM rz_a1 a1 JOIN rz_a2 a2 USING (doc_id)),
        |rz_o AS (SELECT s1 AS shard, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN s1 <> s2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_out
        |  FROM rz_j GROUP BY 1),
        |rz_i AS (SELECT s2 AS shard,
        |    CAST(sum(CASE WHEN s1 <> s2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_in
        |  FROM rz_j GROUP BY 1)
        |SELECT o.shard, o.n_docs, o.n_out,
        |  CAST(coalesce(i.n_in, 0) AS BIGINT) AS n_in
        |FROM rz_o o LEFT JOIN rz_i i USING (shard) ORDER BY o.shard
        |""".stripMargin.trim)))
}
