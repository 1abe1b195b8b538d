package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Integer-exact Lloyd k-means over embedding vectors — the clustering
  * stage a semantic-dedup (SemDeDup-style) or data-curation pipeline
  * runs before within-cluster comparison: partition the corpus into k
  * buckets of mutually-similar vectors so the expensive pairwise work
  * is confined to each bucket.
  *
  * Arithmetic is INTEGER MILLI units throughout: vectors are quantized
  * once to milli-scaled longs ([[quantizeMilli]]), distances are exact
  * integer squared-L2, and centroid updates are per-dimension floor
  * divisions at fixed dataflow points — so, like
  * [[PageRank.pageRank]], the assignment is bit-identical on any
  * engine at any parallelism and a SQL oracle can pin it. (Float
  * k-means diverges across engines on reduction order alone.)
  * Initialization is data-derived and deterministic: the rows with
  * `idCol` in [0, k) seed the codebook, the same convention as the IVF
  * ANN query's codebook.
  *
  * Scale shape (100 TB corpus): the codebook is k·dim longs — KB-sized
  * — so ASSIGNMENT is one codegen'd projection against a LITERAL
  * codebook: no join, no shuffle, no window; the argmin folds over the
  * k candidates inside a single expression per row. The UPDATE step is
  * posexplode → partial-aggregable sum by (cluster, dim) — ONE shuffle
  * of k·dim·partitions pre-aggregated rows per iteration — followed by
  * a k·dim-row driver collect (the standard k-means-on-Spark contract;
  * MLlib's KMeans collects the same). The quantized input is persisted
  * across iterations so the parquet scan happens once. */
object Clustering {

  /** Quantize a float/double array column to milli-scaled longs.
    * float→double is exact; ·1000 and floor are deterministic IEEE on
    * both engines. DuckDB twin:
    * `list_transform(range(1, dim+1), i ->
    *    CAST(floor(CAST(v[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT))`. */
  def quantizeMilli(v: Column): Column =
    transform(v, x =>
      floor(x.cast(DoubleType) * 1000d + 0.5d).cast(LongType))

  /** Exact integer squared L2 between two equal-length long arrays.
    * Values bounded by ±B milli stay exact while dim·(2B)² < 2⁶³. */
  def l2sqLong(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  /** (id, cluster, dist_sq) after exactly `iters` Lloyd iterations on
    * `df(idCol: long, qvCol: array<long>)`. Requires ids 0..k-1 to be
    * present (they seed the codebook). Ties go to the smaller centroid
    * id; a cluster that loses all members keeps its previous centroid.
    * `dist_sq` is the exact integer squared-L2 to the FINAL centroid. */
  // argmin over the literal codebook inside ONE projection:
  // the native nearest_centroid_milli kernel — one fused (k·dim)
  // long-loop per row inside whole-stage codegen, struct(d, cid),
  // ties to the smaller cid (centroids fed ascending by cid; the
  // kernel's strict-< scan then keeps the first). The composed
  // array_min-over-structs form it replaced ran each candidate
  // through interpreted HOFs (zip_with/aggregate have no doGenCode)
  // — invisible at k = 8, fatal at the SemDeDup k-grows-with-n
  // shape (r15 sf10: k = 400 × 400k rows × 3 passes blew a 900 s
  // watchdog). cids ride beside the codebook because k-center
  // induction assigns against centers keyed by ORIGINAL row ids,
  // not positions.
  private def assignCol(cs: Seq[(Long, Seq[Long])]): Column = {
    val sorted = cs.sortBy(_._1)
    val dim = sorted.head._2.length
    graft.functions.GraftFunctions.nearestCentroidMilli(col("qv"),
      sorted.flatMap(_._2).toArray, sorted.map(_._1).toArray, dim)
  }

  /** The Lloyd loop over a persisted `(id, qv)` frame: seed from rows
    * with id < k, run exactly `iters` assignment/update rounds, return
    * the FINAL centroids. Shared by [[kmeansAssign]] (which projects
    * the assignment) and [[kmeansCentroids]] (which returns the
    * codebook itself — e.g. as a trained PQ/IVF seed). */
  private def lloyd(in: DataFrame, k: Int,
                    iters: Int): Seq[(Long, Seq[Long])] = {
    // seed codebook: rows with id < k (KB-sized collect, k·dim longs)
    var cents: Seq[(Long, Seq[Long])] = in.filter(col("id") < k)
      .collect().map(r =>
        r.getLong(0) -> r.getSeq[Long](1)).toSeq.sortBy(_._1)
    require(cents.size == k,
      s"kmeans: expected ids 0..${k - 1} to seed the codebook, " +
        s"found ${cents.size}")
    for (_ <- 1 to iters) {
      val assigned = in.withColumn("cluster",
        assignCol(cents).getField("cid"))
      // per-dimension integer mean: sum by (cluster, pos) is
      // partial-aggregable; (s - pmod(s, n)) is an exact multiple of n,
      // so truncating `div` equals floor division on both engines
      val sums = assigned
        .select(col("cluster"), posexplode(col("qv")))
        .groupBy("cluster", "pos")
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .select(col("cluster"), col("pos"),
          expr("(s - pmod(s, n)) div n").as("m"))
        .collect()
      val byCluster = sums.groupBy(_.getLong(0)).map { case (cid, rows) =>
        cid -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      }
      // empty cluster: keep its previous centroid (deterministic)
      cents = cents.map { case (cid, prev) =>
        cid -> byCluster.getOrElse(cid, prev)
      }
    }
    cents
  }

  /** The TRAINED codebook alone — the final centroids after `iters`
    * Lloyd rounds, for callers that want a data-trained quantizer
    * (PQ/IVF codebook seeding) rather than the assignment. Same seed,
    * arithmetic, and dataflow as [[kmeansAssign]], so the DuckDB twin
    * is [[oracleCtes]]'s `c<iters>` CTE. */
  def kmeansCentroids(df: DataFrame, idCol: String, qvCol: String,
                      k: Int, iters: Int): Seq[(Long, Seq[Long])] = {
    require(k >= 1 && iters >= 1, "kmeansCentroids needs k, iters >= 1")
    val in = df.select(col(idCol).cast("long").as("id"),
      col(qvCol).as("qv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try lloyd(in, k, iters) finally in.unpersist()
  }

  def kmeansAssign(df: DataFrame, idCol: String, qvCol: String,
                   k: Int, iters: Int): DataFrame = {
    require(k >= 1 && iters >= 1, "kmeansAssign needs k >= 1, iters >= 1")
    val in = df.select(col(idCol).cast("long").as("id"),
      col(qvCol).as("qv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = lloyd(in, k, iters)
    val best = assignCol(cents)
    // materialize the final projection (id/cluster/dist_sq — 3 narrow
    // columns) off the cache BEFORE unpersisting, so the "quantized
    // input is scanned once" contract holds for callers evaluating the
    // returned frame after this method exits
    val out = in.select(col("id"),
      best.getField("cid").as("cluster"),
      best.getField("d").as("dist_sq"))
      .localCheckpoint()
    in.unpersist()
    out
  }

  /** Greedy k-center (farthest-point-first) selection — the maxmin
    * DIVERSITY-SAMPLING primitive a curation pipeline runs to pick a
    * small spread-out subset (coreset seeds, eval probes, labeling
    * batches): Gonzalez's 2-approximation to the k-center objective.
    * Seed = the smallest id; each round the point FARTHEST from its
    * nearest already-chosen center joins the set (ties to the smaller
    * id). Same integer-milli discipline as the Lloyd loop, so a SQL
    * oracle pins every round.
    *
    * Scale shape (100 TB corpus): the center set is ≤ k·dim longs —
    * KB-sized — and each row's min-distance-to-the-chosen-set is
    * carried FORWARD between rounds (`dmin' = min(dmin, dist to the
    * newest center)` — the standard incremental Gonzalez state), so a
    * round is ONE O(dim)-per-row pass feeding a global max: one row
    * returned per round, no shuffle, nothing n×k materialized.
    *
    * The loop runs at RDD level (the same move MLlib's KMeans makes
    * for ITS Lloyd loop): a k-round driver-barrier loop through the
    * DataFrame API re-plans and re-codegens a fresh Catalyst plan
    * every round, and that fixed driver cost — not data — dominated
    * the gate (measured on 2k rows × 64 dims, k=8: 3.3 s as k
    * re-planned TakeOrdered passes, 2.9 s as per-round
    * localCheckpoint'ed least()-chains, ~1.3 s as this closure loop;
    * in a long shared session the re-planning forms inflated 4×
    * further — BENCH r7→r8 — while closure jobs are immune). Long
    * arithmetic in the closure is bit-identical to [[l2sqLong]], so
    * the SQL oracle pins the selection unchanged. */
  private def greedyCenters(in: DataFrame, k: Int): Seq[(Long, Seq[Long])] = {
    val sc = in.sparkSession.sparkContext
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // (id, qv) off the caller's persisted frame; one closure pass each
    val base = in.rdd.map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val seed = base.min()(Ordering.by[(Long, Array[Long]), Long](_._1))
    var cents = Seq(seed._1 -> (seed._2.toSeq: Seq[Long]))
    if (k == 1) return cents
    // farthest point, ties to the smaller id
    val pick = new Ordering[(Long, Array[Long], Long)] {
      def compare(x: (Long, Array[Long], Long),
                  y: (Long, Array[Long], Long)): Int = {
        val c = java.lang.Long.compare(x._3, y._3)
        if (c != 0) c else java.lang.Long.compare(y._1, x._1)
      }
    }
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val bcSeed = sc.broadcast(seed._2)
    var state = base.map { case (id, qv) => (id, qv, d2(qv, bcSeed.value)) }
      .persist(lvl)
    var retired: Option[org.apache.spark.rdd.RDD[_]] = None
    for (i <- 2 to k) {
      // this max() is the round's ONE job; it also materializes the
      // round's state into the cache, so only then is the PREVIOUS
      // round's cache safe to drop (unpersisting earlier would force
      // the lineage to recompute from `base`)
      val next = state.max()(pick)
      retired.foreach(_.unpersist(false))
      cents = cents :+ (next._1 -> (next._2.toSeq: Seq[Long]))
      // the last round's dmin refresh feeds nothing: skip it
      if (i < k) {
        val bc = sc.broadcast(next._2)
        val ns = state.map { case (id, qv, dm) =>
          (id, qv, math.min(dm, d2(qv, bc.value))) }.persist(lvl)
        retired = Some(state); state = ns
      }
    }
    state.unpersist(false)
    retired.foreach(_.unpersist(false))
    cents
  }

  /** (id, center, dist_sq): every row of `df(idCol, qvCol:
    * array<long>)` assigned to its nearest of the k greedily-selected
    * centers ([[greedyCenters]]), `center` being the chosen row's
    * ORIGINAL id and `dist_sq` the exact integer squared-L2 — the
    * k-center clustering induced by the diversity sample. Ties go to
    * the smaller center id. DuckDB twin: [[kCenterOracleCtes]]. */
  def kCenterAssign(df: DataFrame, idCol: String, qvCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, "kCenterAssign needs k >= 1")
    val in = df.select(col(idCol).cast("long").as("id"),
      col(qvCol).as("qv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = greedyCenters(in, k)
    val best = assignCol(cents)
    val out = in.select(col("id"),
      best.getField("cid").as("center"),
      best.getField("d").as("dist_sq"))
      .localCheckpoint()
    in.unpersist()
    out
  }

  private def distSql(dim: Int)(a: String, b: String) =
    s"list_sum(list_transform(range(1, ${dim + 1}), i -> " +
      s"($a[i] - $b[i]) * ($a[i] - $b[i])))"

  /** The CTE chain replaying [[kmeansAssign]] in DuckDB, UNROLLED like
    * [[PageRank.oracleSql]] (recursive CTEs cannot aggregate over the
    * recursive table): `vecsSql` must be a SELECT producing
    * `(id BIGINT, qv BIGINT[dim])`. Ends with CTE `<p>asg(id, cluster,
    * dist_sq)` — the final assignment — so SemDeDup-style oracles can
    * keep building; `<p>c<iters>` is the trained codebook. `p`
    * prefixes every CTE name so several independent chains can share
    * one WITH clause (the per-subspace PQ training runs 8). Generated
    * by the same object that documents the iteration so the Spark
    * loop and the SQL twin can never drift. */
  def oracleCtes(vecsSql: String, k: Int, iters: Int, dim: Int,
                 p: String = ""): String = {
    val d = distSql(dim) _
    val base =
      s"""${p}v AS ($vecsSql),
         |${p}c0 AS (SELECT id AS cid, qv AS cv FROM ${p}v WHERE id < $k)""".stripMargin
    val steps = (1 to iters).flatMap { i =>
      val prev = s"${p}c${i - 1}"
      Seq(
        // assignment under the previous codebook
        s"""${p}a$i AS (SELECT id, qv, cid AS cluster FROM (
           |  SELECT v.id, v.qv, c.cid, row_number() OVER (
           |      PARTITION BY v.id
           |      ORDER BY ${d("v.qv", "c.cv")}, c.cid) AS rn
           |  FROM ${p}v v, $prev c) WHERE rn = 1)""".stripMargin,
        // centroid update: exact integer floor-division mean; empty
        // clusters carry the previous centroid forward
        s"""${p}c$i AS (
           |  SELECT cluster AS cid, list(m ORDER BY i) AS cv FROM (
           |    SELECT cluster, i,
           |      CAST((s - ((s % n + n) % n)) // n AS BIGINT) AS m
           |    FROM (SELECT a.cluster, t.i,
           |        CAST(sum(a.qv[t.i]) AS BIGINT) AS s,
           |        CAST(count(*) AS BIGINT) AS n
           |      FROM ${p}a$i a, unnest(range(1, ${dim + 1})) AS t(i)
           |      GROUP BY a.cluster, t.i))
           |  GROUP BY cluster
           |  UNION ALL
           |  SELECT cid, cv FROM $prev
           |  WHERE cid NOT IN (SELECT DISTINCT cluster FROM ${p}a$i))""".stripMargin)
    }
    // final assignment under the FINAL codebook, mirroring the Spark
    // side's post-loop projection
    val fin =
      s"""${p}asg AS (SELECT id, cluster, dist_sq FROM (
         |  SELECT v.id, c.cid AS cluster,
         |    CAST(${d("v.qv", "c.cv")} AS BIGINT) AS dist_sq,
         |    row_number() OVER (PARTITION BY v.id
         |      ORDER BY ${d("v.qv", "c.cv")}, c.cid) AS rn
         |  FROM ${p}v v, ${p}c$iters c) WHERE rn = 1)""".stripMargin
    (base +: steps :+ fin).mkString(",\n")
  }

  /** Complete standalone oracle for [[kmeansAssign]]. */
  def oracleSql(vecsSql: String, k: Int, iters: Int, dim: Int): String =
    s"WITH ${oracleCtes(vecsSql, k, iters, dim)}\n" +
      "SELECT id, cluster, dist_sq FROM asg ORDER BY id"

  /** The CTE chain replaying [[kCenterAssign]] in DuckDB, unrolled
    * one CTE pair per greedy round (`<p>s<i>` = the i-th selected
    * center, `<p>d<i>` = each point's running min distance to the
    * first i centers). Ends with `<p>kasg(id, center, dist_sq)` —
    * the induced k-center assignment. Generated by the same object
    * that runs the greedy loop so the two can never drift. */
  def kCenterOracleCtes(vecsSql: String, k: Int, dim: Int,
                        p: String = ""): String = {
    val d = distSql(dim) _
    val base =
      s"""${p}v AS ($vecsSql),
         |${p}s1 AS (SELECT id, qv FROM ${p}v ORDER BY id ASC LIMIT 1),
         |${p}d1 AS (SELECT v.id, v.qv,
         |  CAST(${d("v.qv", "s.qv")} AS BIGINT) AS dmin
         |  FROM ${p}v v, ${p}s1 s)""".stripMargin
    val steps = (2 to k).flatMap { i =>
      val pd = s"${p}d${i - 1}"
      val sel =
        s"""${p}s$i AS (SELECT id, qv FROM $pd
           |  ORDER BY dmin DESC, id ASC LIMIT 1)""".stripMargin
      // the last round's dmin refresh feeds nothing: skip it
      if (i == k) Seq(sel) else Seq(sel,
        s"""${p}d$i AS (SELECT d.id, d.qv,
           |  least(d.dmin, CAST(${d("d.qv", "s.qv")} AS BIGINT)) AS dmin
           |  FROM $pd d, ${p}s$i s)""".stripMargin)
    }
    val centUnion = (1 to k).map(i =>
      s"SELECT id AS cid, qv AS cv FROM ${p}s$i").mkString(
      "\n  UNION ALL ")
    val fin =
      s"""${p}cent AS ($centUnion),
         |${p}kasg AS (SELECT id, center, dist_sq FROM (
         |  SELECT v.id, c.cid AS center,
         |    CAST(${d("v.qv", "c.cv")} AS BIGINT) AS dist_sq,
         |    row_number() OVER (PARTITION BY v.id
         |      ORDER BY ${d("v.qv", "c.cv")}, c.cid) AS rn
         |  FROM ${p}v v, ${p}cent c) WHERE rn = 1)""".stripMargin
    (base +: steps :+ fin).mkString(",\n")
  }
}
