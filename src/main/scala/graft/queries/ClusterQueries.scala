package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import graft.Tables._
import graft.functions.GraftFunctions
import graft.ops.{Clustering, Quantization}

/** Embedding-clustering queries: integer-exact k-means and the
  * SemDeDup-style semantic dedup built on top of it (cluster first,
  * then compare pairs only WITHIN each cluster — the standard trick
  * that turns O(n²) semantic dedup into per-bucket work; Abbas et al.
  * 2023, "SemDeDup", arXiv:2303.09540).
  *
  * Both oracles replay the whole algorithm unrolled in DuckDB — the
  * milli-integer arithmetic ([[Clustering]]) is what makes that
  * possible: float k-means could not be pinned across engines. */
object ClusterQueries {

  /** embeddings ∪ near-duplicate perturbed copies (id+1e6 — the
    * suite's documented mutated-copy sentinel, ABOVE ScaleUp's
    * +10,000·r replica id space so a scaled corpus never collides
    * with its own perturbed copies (r15 advice: at +1e5, replica
    * r+10's ids reused replica r's pert ids from 11 replicas on) —
    * first component +2⁻⁵, binary-exact, cos ≈ 1): the corpus
    * q_semdedup dedups. Same planting recipe as q_embed_neardup. */
  private def semCorpus(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).select("vec_id", "embedding")
    val pert = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      concat(
        array((element_at(col("embedding"), 1).cast(DoubleType)
          + 0.03125).cast(FloatType)),
        slice(col("embedding"), 2, 63)).as("embedding"))
    emb.unionByName(pert)
  }

  /** The k the SemDeDup oracles hard-code — the ONE constant both the
    * Spark-side k formula ([[semDedupK]]) and the unrolled DuckDB
    * replay derive from, so the two cannot drift. */
  private val SemDedupOracleK = 8

  /** k ∝ n for SemDeDup clustering: k = max([[SemDedupOracleK]],
    * n/1000) keeps members-per-cluster ~1000-bounded (the r15 sf10
    * fix). Oracle-coupling guards, failing at the CAUSE: the unrolled
    * DuckDB replay hard-codes k = [[SemDedupOracleK]], which equals
    * this formula exactly while n < 1000·(k+1) — the verify-fixture
    * regime (sf0.01 corpus ≈ 4k rows; scale fixtures at sf ≥ 1 pass
    * k > 8 by design and are never hash-compared). lloyd's seeding
    * additionally requires ids 0..k-1 present, which holds while
    * k ≤ the base table's dense-id prefix (~2k at sf0.01): a verify
    * fixture grown past either bound fails HERE with the coupling
    * named, not downstream as a bare hash mismatch. */
  private def semDedupK(n: Long): Int = {
    val k = math.max(SemDedupOracleK.toLong, n / 1000L).toInt
    require(k == SemDedupOracleK || n > 9000L,
      s"semDedupK coupling broken: k=$k for n=$n but the DuckDB " +
        s"replay hard-codes k=$SemDedupOracleK — regenerate the " +
        "oracle alongside the formula")
    k
  }

  private val semCorpusSql =
    """e AS (SELECT vec_id, embedding FROM embeddings),
      |pert AS (SELECT vec_id + 1000000 AS vec_id,
      |    list_prepend(CAST(CAST(embedding[1] AS DOUBLE)
      |        + CAST(0.03125 AS DOUBLE) AS REAL),
      |      embedding[2:64]) AS embedding FROM e),
      |corp AS (SELECT * FROM e UNION ALL SELECT * FROM pert)""".stripMargin

  /** q_semdedup's exact clustering: the corpus, its k-means
    * assignment (id, cluster) on milli-quantized vectors, and that
    * assignment joined back to the raw vectors (id, cluster, ev). */
  private def semKmeans(s: SparkSession,
                        d: String): (DataFrame, DataFrame, DataFrame) = {
    val corp = semCorpus(s, d)
    // n WITHOUT re-evaluating the union+perturbation pipeline: the
    // corpus is by construction exactly 2x the base embeddings
    // table (r15 advice — corp.count() paid the corpus scan twice)
    val k = semDedupK(2L * embeddings(s, d).count())
    val qv = corp.select(col("vec_id").as("id"),
      Clustering.quantizeMilli(col("embedding")).as("qv"))
    val asg = Clustering.kmeansAssign(qv, "id", "qv", k = k, iters = 2)
      .select("id", "cluster")
    val withV = asg.join(
      corp.select(col("vec_id").as("id"), col("embedding").as("ev")),
      "id")
    (corp, asg, withV)
  }

  /** SemDeDup's keep rule over `wv` (id, cluster, ev): the ids that
    * have a smaller-id cluster mate at cos_milli >= 950. */
  private def semDupsWithin(wv: DataFrame): DataFrame = {
    val a = wv.select(col("id").as("id_a"), col("cluster"),
      col("ev").as("ea"))
    val b = wv.select(col("id").as("id_b"), col("cluster"),
      col("ev").as("eb"))
    a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(GraftFunctions.cosineMilli(col("ea"), col("eb")) >= 950)
      .select(col("id_b").as("id")).distinct()
  }

  /** [[semKmeans]] as DuckDB CTEs, ending at `wv(id, cluster, ev)`. */
  private lazy val semKmeansCtes: String = {
    val kmeans = Clustering.oracleCtes(
      s"SELECT vec_id AS id, ${OracleSql.quantMilli("embedding", 64)} " +
        "AS qv FROM corp",
      k = SemDedupOracleK, iters = 2, dim = 64)
    s"""$semCorpusSql,
       |$kmeans,
       |wv AS (SELECT a.id, a.cluster, c.embedding AS ev
       |  FROM asg a JOIN corp c ON c.vec_id = a.id)""".stripMargin
  }

  /** [[semDupsWithin]] as a DuckDB CTE `name` over the CTE `wv`. */
  private def semDupsSql(name: String, wv: String): String = s"""
    |$name AS (SELECT DISTINCT b.id FROM $wv a JOIN $wv b
    |  ON a.cluster = b.cluster AND a.id < b.id
    |  WHERE ${OracleSql.cosMilli("a.ev", "b.ev")} >= 950)""".stripMargin.trim

  /** hits@10 of `approx` (q_id, vec_id) for queries 20..24: how many of
    * its rows are in the exact-cosine top-10 — the recall companion of
    * the PQ and IVF-PQ top-k gates. */
  private def recallAt10(s: SparkSession, d: String,
                         approx: DataFrame): DataFrame = {
    val base = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val q = base.filter(col("vec_id") >= 20 && col("vec_id") < 25)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val wCos = Window.partitionBy("q_id")
      .orderBy(col("cos_milli").desc, col("vec_id").asc)
    val exact = base.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_milli",
        GraftFunctions.cosineMilli(col("q_emb"), col("embedding")))
      .withColumn("rn", row_number().over(wCos))
      .filter(col("rn") <= 10)
      .select("q_id", "vec_id")
    val hits = approx.select("q_id", "vec_id")
      .join(exact, Seq("q_id", "vec_id"))
      .groupBy("q_id").agg(count(lit(1)).as("hits10"))
    q.select("q_id").join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("hits10"), lit(0L)).as("hits10"))
      .orderBy("q_id")
  }

  /** [[recallAt10]]'s exact top-10 as a DuckDB CTE `name` (q_id, vec_id)
    * over the query CTE `qq`. */
  private def exactTop10Sql(name: String): String = s"""
    |$name AS (SELECT q_id, vec_id FROM (
    |    SELECT q.q_id, e.vec_id, row_number() OVER (
    |      PARTITION BY q.q_id
    |      ORDER BY ${OracleSql.cosMilli("q.q_emb", "e.embedding")}
    |        DESC, e.vec_id) AS rn
    |    FROM qq q, embeddings e WHERE e.vec_id <> q.q_id)
    |  WHERE rn <= 10)""".stripMargin.trim

  /** The shared PQ pipeline (train → encode → ADC shortlist 40 →
    * exact re-rank): q_ann_pq_topk returns its top-10, q_ann_pq_recall
    * compares that top-10 against the exact brute-force answer.
    * Output columns (q_id, rank, vec_id, cos_milli), rank <= 10. */
  /** Per-dataset memo of the trained per-subspace codebooks (two
    * gates share one training; KB-sized driver state keyed on source
    * content — the stored-codebook discipline without a table). */
  private val pqCodebookMemo =
    new java.util.concurrent.ConcurrentHashMap[
      String, Seq[Seq[(Int, Seq[Long])]]]()

  /** TRAINED codebooks — canonical PQ: an INDEPENDENT k=16 integer
    * k-means (2 Lloyd rounds) per 8-dim subspace, seeded like every
    * Clustering run from ids 0..15 (whose sub-slices are exactly the
    * previous data-seeded codebook — training strictly refines it).
    * 8 KB-sized driver results, memoized per corpus content; shared by
    * the PQ gates and the IVF-PQ store. */
  private def trainedCodebooks(d: String, base: DataFrame)
      : Seq[Seq[(Int, Seq[Long])]] =
    pqCodebookMemo.computeIfAbsent(
      Sinks.contentKey(d, "embeddings.parquet", "pq8x16i2"), _ =>
        (0 until 8).map { sub =>
          Clustering.kmeansCentroids(
            base.select(col("vec_id").as("id"),
              slice(col("qv"), sub * 8 + 1, 8).as("sqv")),
            "id", "sqv", k = 16, iters = 2)
            .map { case (cid, cv) => cid.toInt -> cv }
        })

  private def pqTopK(s: SparkSession, d: String): DataFrame = {
    val base = embeddings(s, d).select(col("vec_id"), col("embedding"))
      .withColumn("qv", Clustering.quantizeMilli(col("embedding")))
    val codebooks = trainedCodebooks(d, base)
    val rec = base.withColumn("recon",
      Quantization.pqReconstruct(col("qv"), codebooks, subDim = 8))
    val q = base.filter(col("vec_id") >= 20 && col("vec_id") < 25)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("qv").as("q_qv"))
    val wAdc = Window.partitionBy("q_id")
      .orderBy(col("adc").asc, col("vec_id").asc)
    val cands = rec.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc", Clustering.l2sqLong(col("recon"), col("q_qv")))
      .withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= 40)
    val wCos = Window.partitionBy("q_id")
      .orderBy(col("cos_milli").desc, col("vec_id").asc)
    cands.withColumn("cos_milli",
        GraftFunctions.cosineMilli(col("q_emb"), col("embedding")))
      .withColumn("rank", row_number().over(wCos))
      .filter(col("rank") <= 10)
  }

  /** DuckDB CTE chain replaying [[pqTopK]] end-to-end: EIGHT
    * independent k=16 2-round Lloyd trainings — one per subspace
    * (Clustering.oracleCtes with a per-chain prefix; each chain's c2
    * is that subspace's trained codebook), reassembled into full-dim
    * codebook rows for PQ encode/reconstruct
    * (Quantization.reconCtes), then the ADC shortlist and the exact
    * re-rank. Ends with `ranked(q_id, rank, vec_id, cos_milli)`. */
  private lazy val pqCtes: String = {
    def l2(a: String, b: String) =
      s"list_sum(list_transform(range(1, 65), i -> " +
        s"($a[i] - $b[i]) * ($a[i] - $b[i])))"
    def subQuant(sub: Int) =
      s"list_transform(range(${sub * 8 + 1}, ${sub * 8 + 9}), i -> " +
        "CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT))"
    val kmeansChains = (0 until 8).map { sub =>
      Clustering.oracleCtes(
        s"SELECT vec_id AS id, ${subQuant(sub)} AS qv FROM embeddings",
        k = 16, iters = 2, dim = 8, p = s"s${sub}_")
    }.mkString(",\n")
    // full-dim codebook rows: entry j = concat over subspaces of each
    // subspace's centroid j (reconCtes re-slices per subspace, so the
    // round trip is exactly the per-subspace codebook lookup)
    val cbUnion = (0 until 8).map(sub =>
      s"SELECT $sub AS sub, cid, cv FROM s${sub}_c2").mkString(
      "\n  UNION ALL ")
    s"""$kmeansChains,
       |v AS (SELECT vec_id AS id,
       |    ${OracleSql.quantMilli("embedding", 64)} AS qv
       |  FROM embeddings),
       |cb AS (SELECT CAST(cid AS INTEGER) AS j,
       |    flatten(list(cv ORDER BY sub)) AS qv
       |  FROM ($cbUnion) GROUP BY cid),
       |${Quantization.reconCtes(subspaces = 8, subDim = 8)},
       |qq AS (SELECT vec_id AS q_id, embedding AS q_emb,
       |    ${OracleSql.quantMilli("embedding", 64)} AS q_qv
       |  FROM embeddings WHERE vec_id >= 20 AND vec_id < 25),
       |adc AS (SELECT q.q_id, r.id AS vec_id,
       |    ${l2("r.recon", "q.q_qv")} AS adc
       |  FROM rec r, qq q WHERE r.id <> q.q_id),
       |cand AS (SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id, row_number() OVER (
       |      PARTITION BY q_id ORDER BY adc, vec_id) AS rn
       |    FROM adc) WHERE rn <= 40),
       |scored AS (SELECT c.q_id, c.vec_id,
       |    ${OracleSql.cosMilli("q.q_emb", "e.embedding")} AS cos_milli
       |  FROM cand c JOIN qq q ON q.q_id = c.q_id
       |    JOIN embeddings e ON e.vec_id = c.vec_id),
       |ranked AS (SELECT q_id, vec_id, cos_milli,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos_milli DESC, vec_id) AS rank FROM scored)""".stripMargin
  }

  /** One-time trained-artifact builds (see [[SimQueries.prepares]]):
    * the per-subspace PQ codebook training is a corpus-refresh cost,
    * not a query cost — without this the alphabetically-first PQ gate
    * pays all 8 k-means runs inside its timed window. */
  /** Content-keyed IVF-PQ index store — the at-rest layout of a
    * billion-scale ANN index (Faiss IVFPQ): every vector's coarse cell
    * (nearest of the 8 data-seeded centroids, exact cosine, ties to
    * the smaller id — the q_ann_ivf convention) holding only its
    * (id, codes) — the 8 small ints of [[Quantization.pqEncodeCodes]]
    * under the trained subspace codebooks — written PARTITIONED BY
    * cluster so a probe reads just its probed cells' files. Built once
    * per corpus content, untimed (corpus-refresh cost). */
  private def ivfPqCodesTable(s: SparkSession, d: String): String = {
    val tbl = "ann_ivfpq_codes_" +
      Sinks.contentKey(d, "embeddings.parquet", "ivfpq8x16i2|v1")
    graft.ops.StoreGuard.table(s, tbl) {
      val base = embeddings(s, d).select(col("vec_id"), col("embedding"))
        .withColumn("qv", Clustering.quantizeMilli(col("embedding")))
      val codebooks = trainedCodebooks(d, base)
      val cents = base.filter(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("embedding").as("cv"))
      val wAssign = Window.partitionBy("vec_id")
        .orderBy(col("c_cos").desc, col("c_id").asc)
      base.crossJoin(broadcast(cents))
        .withColumn("c_cos",
          GraftFunctions.cosineMilli(col("embedding"), col("cv")))
        .withColumn("rn", row_number().over(wAssign))
        .filter(col("rn") === 1)
        .select(col("vec_id").as("id"), col("c_id").as("cluster"),
          Quantization.pqEncodeCodes(col("qv"), codebooks, subDim = 8)
            .as("codes"))
        .repartition(col("cluster"))
        .write.partitionBy("cluster")
        .format("parquet").mode("overwrite").saveAsTable(tbl)
    }
    tbl
  }

  /** The persisted IVF store q_semdedup_ann assigns from: the sem
    * corpus laid out by nearest data-seeded centroid (k from the SAME
    * [[semDedupK]] formula as the exact gate, so members-per-cluster
    * stays ~1000-bounded at every SF), base half built + perturbed
    * half appended (assignment is per-row deterministic against the
    * stored codebook, so build ∪ append ≡ rebuild — the
    * q_ann_ivf_persisted contract). Corpus-refresh cost, untimed. */
  private def semAnnIvfTable(s: SparkSession, d: String): String = {
    val k = semDedupK(2L * embeddings(s, d).count())
    val tbl = "semdedup_ivf_" +
      Sinks.contentKey(d, "embeddings.parquet", s"semivf$k|v1")
    graft.ops.StoreGuard.tables(s, s"${tbl}_ok",
      writes = Seq(tbl, graft.ops.AnnIndex.codebookTable(tbl))) {
      val corp = semCorpus(s, d)
      val cents = embeddings(s, d).filter(col("vec_id") < k)
        .select(col("vec_id").as("c_id"), col("embedding").as("cv"))
      graft.ops.AnnIndex.buildIvf(
        corp.filter(col("vec_id") < 1000000L),
        "vec_id", "embedding", cents, tbl, overwrite = true)
      graft.ops.AnnIndex.appendIvf(
        corp.filter(col("vec_id") >= 1000000L),
        "vec_id", "embedding", tbl)
    }
    tbl
  }

  def prepares: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "pq_codebooks" -> ((s, d) => { pqTopK(s, d); () }),
    "ivfpq_codes_store" -> ((s, d) => { ivfPqCodesTable(s, d); () }),
    "semdedup_ivf_store" -> ((s, d) => { semAnnIvfTable(s, d); () }))

  /** The IVF-PQ probe both gates share: nprobe=2 coarse cells per
    * query (exact cosine vs the 8 centroids), candidates = the probed
    * cells' STORED (id, codes) rows via one cluster equi-join
    * (partition-pruned), ADC over the decoded codes shortlists 40,
    * exact cosine re-ranks 10. Nothing corpus-sized shuffles at probe
    * time: the index was laid out at build. */
  private def ivfPqTopK(s: SparkSession, d: String): DataFrame = {
    val tbl = ivfPqCodesTable(s, d)
    val base = embeddings(s, d).select(col("vec_id"), col("embedding"))
      .withColumn("qv", Clustering.quantizeMilli(col("embedding")))
    val codebooks = trainedCodebooks(d, base)
    val cents = base.filter(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("embedding").as("cv"))
    val q = base.filter(col("vec_id") >= 20 && col("vec_id") < 25)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("qv").as("q_qv"))
    val wProbe = Window.partitionBy("q_id")
      .orderBy(col("c_cos").desc, col("c_id").asc)
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("c_cos",
        GraftFunctions.cosineMilli(col("q_emb"), col("cv")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= 2)
      .select(col("q_id"), col("q_emb"), col("q_qv"),
        col("c_id").as("cluster"))
    val wAdc = Window.partitionBy("q_id")
      .orderBy(col("adc").asc, col("id").asc)
    val short = s.table(tbl).join(broadcast(probes), Seq("cluster"))
      .filter(col("id") =!= col("q_id"))
      .withColumn("adc", Clustering.l2sqLong(
        Quantization.pqDecodeCodes(col("codes"), codebooks, subDim = 8),
        col("q_qv")))
      .withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= 40)
      .select("q_id", "q_emb", "id")
    val wCos = Window.partitionBy("q_id")
      .orderBy(col("cos_milli").desc, col("id").asc)
    short
      .join(base.select(col("vec_id").as("id"), col("embedding")), "id")
      .withColumn("cos_milli",
        GraftFunctions.cosineMilli(col("q_emb"), col("embedding")))
      .withColumn("rank", row_number().over(wCos))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("rank"), col("id").as("vec_id"),
        col("cos_milli"))
  }

  /** Oracle CTEs for the IVF-PQ probe, appended after [[pqCtes]]
    * (reuses its `v`/`cb`/`enc`/`rec`/`qq`): coarse assignment and
    * probing by exact cosine, candidate generation by cell, ADC over
    * the decoded codes (`rec` IS decode-of-stored-codes), exact
    * re-rank — the store build and probe replayed from first
    * principles, so store freshness is pinned too. */
  private def ivfPqCtes: String = {
    val cos = OracleSql.cosMilli _
    s"""ipq_cent AS (SELECT vec_id AS c_id, embedding AS cv
       |  FROM embeddings WHERE vec_id < 8),
       |ipq_asg AS (SELECT id, cluster FROM (
       |    SELECT e.vec_id AS id, c.c_id AS cluster, row_number() OVER (
       |      PARTITION BY e.vec_id
       |      ORDER BY ${cos("e.embedding", "c.cv")} DESC, c.c_id) AS rn
       |    FROM embeddings e, ipq_cent c) WHERE rn = 1),
       |ipq_probe AS (SELECT q_id, cluster FROM (
       |    SELECT q.q_id, c.c_id AS cluster, row_number() OVER (
       |      PARTITION BY q.q_id
       |      ORDER BY ${cos("q.q_emb", "c.cv")} DESC, c.c_id) AS rn
       |    FROM qq q, ipq_cent c) WHERE rn <= 2),
       |ipq_adc AS (SELECT p.q_id, a.id AS vec_id,
       |    ${OracleSql.l2sqList("r.recon", "q.q_qv", 64)} AS adc
       |  FROM ipq_probe p JOIN ipq_asg a ON a.cluster = p.cluster
       |  JOIN rec r ON r.id = a.id JOIN qq q ON q.q_id = p.q_id
       |  WHERE a.id <> p.q_id),
       |ipq_short AS (SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
       |      ORDER BY adc, vec_id) AS rn FROM ipq_adc) WHERE rn <= 40),
       |ipq_ranked AS (SELECT q_id, vec_id, cos_milli, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cos_milli DESC, vec_id) AS rank
       |  FROM (SELECT c.q_id, c.vec_id,
       |      ${cos("q.q_emb", "e.embedding")} AS cos_milli
       |    FROM ipq_short c JOIN qq q USING (q_id)
       |    JOIN embeddings e ON e.vec_id = c.vec_id))""".stripMargin
  }

  def all: Seq[Q] = Seq(

    // ---- integer-exact k-means (k=8, 3 Lloyd iterations) -------------
    // Assignment is a codegen'd projection against a KB-sized literal
    // codebook (no join, no shuffle); each update is ONE
    // partial-aggregable (cluster, dim) sum — see Clustering's scaladoc
    // for the 100 TB contract. The oracle replays all three iterations
    // unrolled, bit-exact.
    Q("q_kmeans_clusters",
      (s, d) => {
        val qv = embeddings(s, d)
          .select(col("vec_id").as("id"),
            Clustering.quantizeMilli(col("embedding")).as("qv"))
        Clustering.kmeansAssign(qv, "id", "qv", k = 8, iters = 3)
          .orderBy("id")
      },
      Some(Clustering.oracleSql(
        s"SELECT vec_id AS id, ${OracleSql.quantMilli("embedding", 64)} " +
          "AS qv FROM embeddings",
        k = 8, iters = 3, dim = 64))),

    // ---- greedy k-center diversity sample (farthest-point-first) -----
    // Maxmin selection of 8 spread-out representatives (Gonzalez
    // 2-approx) + the induced assignment — the diversity-sampling step
    // a curation pipeline uses for coreset seeds / eval probes /
    // labeling batches, where uniform sampling oversamples dense modes.
    // Each greedy round is one codegen'd projection against the
    // KB-sized literal center set feeding a global top-1
    // (TakeOrderedAndProject) — k−1 streamed passes, one collected row
    // each, nothing n×k materialized. The oracle replays every round
    // unrolled on the same integer-milli grid.
    Q("q_diversity_kcenter",
      (s, d) => {
        val qv = embeddings(s, d)
          .select(col("vec_id").as("id"),
            Clustering.quantizeMilli(col("embedding")).as("qv"))
        Clustering.kCenterAssign(qv, "id", "qv", k = 8)
          .orderBy("id")
      },
      Some("WITH " + Clustering.kCenterOracleCtes(
        s"SELECT vec_id AS id, ${OracleSql.quantMilli("embedding", 64)} " +
          "AS qv FROM embeddings",
        k = 8, dim = 64) +
        "\nSELECT id, center, dist_sq FROM kasg ORDER BY id")),

    // ---- SemDeDup: within-cluster cosine dedup ------------------------
    // Cluster the corpus (k-means on quantized vectors), then flag every
    // vector that has a within-cluster partner with smaller id and
    // cos_milli >= 950. Pairs are generated ONLY inside clusters — the
    // SemDeDup move: k GROWS WITH n (k = max(8, n/1000), so
    // members-per-cluster stays ~1000-bounded) and the per-cluster pair
    // expansion is local work, not an n² join (the cluster-id equi-join
    // below is the bucketed shape; a giant cluster is the same skew as
    // any hot key — salt or split it). The r15 sf10 sweep is the
    // measured reason the growth is real code, not a comment: with k
    // pinned at 8, clusters held ~50k members at 400k vectors and the
    // pair expansion blew a 900 s watchdog (~1e10 candidate pairs);
    // n/1000 keeps the pair side linear in n. At every SF the oracle
    // and the bands pin (corpus ≤ 8000 vectors), the formula collapses
    // to the k = SemDedupOracleK the unrolled DuckDB replay uses — the
    // SAME constant on both sides (semDedupK / the oracleCtes call),
    // so the floor cannot drift; semDedupK fails loudly (cause named)
    // if a grown verify fixture ever breaks the collapse or lloyd's
    // dense-seed precondition, instead of surfacing as a bare hash
    // mismatch downstream. Planted near-identical copies land in their
    // source's cluster and are flagged; the oracle replays clustering
    // + pairing end-to-end.
    Q("q_semdedup",
      (s, d) => {
        val (_, asg, withV) = semKmeans(s, d)
        val dupIds = semDupsWithin(withV).withColumn("dup", lit(true))
        asg.join(dupIds, Seq("id"), "left")
          .select(col("id"), col("cluster"),
            coalesce(col("dup"), lit(false)).as("is_dup"))
          .orderBy("id")
      },
      Some(s"""WITH $semKmeansCtes,
        |${semDupsSql("dups", "wv")}
        |SELECT w.id, w.cluster, d.id IS NOT NULL AS is_dup
        |FROM wv w LEFT JOIN dups d ON w.id = d.id
        |ORDER BY w.id
        |""".stripMargin.trim)),

    // ---- SemDeDup with ANN-ASSIGNED clusters (the deployment swap) ----
    // q_semdedup's documented 100 TB answer, demonstrated instead of
    // asserted (r15 verdict item 4): the exact gate's nearest-centroid
    // assignment grows n·k = 100×/decade with k ∝ n, so at deployment
    // scale the assignment step swaps to the persisted IVF route —
    // clusters come from the STORED index (assigned once at build
    // against the data-seeded codebook, partition-laid-out, appended
    // incrementally), and query time only reads them. This gate runs
    // the SAME keep-rule (within-cluster pair, cos_milli >= 950,
    // smaller id kept) over the stored assignment and pins the
    // AGREEMENT with the exact k-means path as one hash-compared
    // summary row: dup-set sizes of both variants, their overlap, and
    // the per-id flag agreement in milli. The oracle replays BOTH
    // pipelines end-to-end (kmeans CTE chain + cosine-argmax
    // assignment), so the agreement number is pinned, not asserted;
    // SemDeDupAnnSpec holds the bound (agree_milli >= 990). Scale
    // shape: both pair expansions are within-~1000-member clusters
    // (shared semDedupK), the agreement join is one id-keyed merge.
    Q("q_semdedup_ann",
      (s, d) => {
        // exact path: q_semdedup's k-means on quantized vectors
        val (corp, _, withV) = semKmeans(s, d)
        val exactDup = semDupsWithin(withV).withColumn("e", lit(1))
        // ANN path: clusters READ from the persisted IVF store
        val annDup = semDupsWithin(
            s.table(semAnnIvfTable(s, d))
              .select(col("id"), col("cluster"), col("vec").as("ev")))
          .withColumn("a", lit(1))
        val flags = corp.select(col("vec_id").as("id"))
          .join(exactDup, Seq("id"), "left")
          .join(annDup, Seq("id"), "left")
          .select(coalesce(col("e"), lit(0)).as("e"),
            coalesce(col("a"), lit(0)).as("a"))
        flags.agg(
          count(lit(1)).as("n_vectors"),
          sum(col("e")).cast("long").as("exact_dups"),
          sum(col("a")).cast("long").as("ann_dups"),
          sum(when(col("e") === 1 && col("a") === 1, 1).otherwise(0))
            .cast("long").as("both_dups"),
          floor(lit(1000.0)
              * sum(when(col("e") === col("a"), 1).otherwise(0))
              / count(lit(1)) + lit(0.5))
            .cast("long").as("agree_milli"))
      },
      Some(s"""WITH $semKmeansCtes,
        |${semDupsSql("edups", "wv")},
        |cents AS (SELECT vec_id AS c_id, embedding AS cv
        |  FROM embeddings WHERE vec_id < $SemDedupOracleK),
        |aasg AS (SELECT id, cluster, ev FROM (
        |    SELECT c.vec_id AS id, ct.c_id AS cluster,
        |      c.embedding AS ev,
        |      row_number() OVER (PARTITION BY c.vec_id
        |        ORDER BY ${OracleSql.cosMilli("c.embedding", "ct.cv")}
        |          DESC, ct.c_id ASC) AS rn
        |    FROM corp c, cents ct) WHERE rn = 1),
        |${semDupsSql("adups", "aasg")},
        |fl AS (SELECT c.vec_id AS id,
        |    CASE WHEN e.id IS NULL THEN 0 ELSE 1 END AS e,
        |    CASE WHEN a.id IS NULL THEN 0 ELSE 1 END AS a
        |  FROM corp c LEFT JOIN edups e ON e.id = c.vec_id
        |    LEFT JOIN adups a ON a.id = c.vec_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(sum(e) AS BIGINT) AS exact_dups,
        |  CAST(sum(a) AS BIGINT) AS ann_dups,
        |  CAST(sum(CASE WHEN e = 1 AND a = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS both_dups,
        |  CAST(floor(1000.0
        |      * sum(CASE WHEN e = a THEN 1 ELSE 0 END)
        |      / count(*) + 0.5) AS BIGINT) AS agree_milli
        |FROM fl
        |""".stripMargin.trim)),

    // ---- product-quantization ANN top-k (TRAINED codebook) ------------
    // The COMPRESSION ANN family beside brute/IVF/LSH: encode every
    // vector as 8 subspace codes from a 16-entry codebook, scan the
    // asymmetric distance (raw query vs reconstructed candidate) to
    // shortlist 40, exact-cosine re-rank to 10. The codebook is
    // TRAINED — the 16 final centroids of 2 integer-exact Lloyd rounds
    // over the whole corpus (Clustering.kmeansCentroids), sliced into
    // 8×8 sub-codebooks — instead of the first 16 raw vectors, so the
    // quantizer reflects the data distribution (recall companion:
    // q_ann_pq_recall). Training, encode, scan, and re-rank are all
    // integer/milli-exact, so the oracle replays the ENTIRE pipeline —
    // Lloyd rounds included (oracleCtes' c2 = the trained codebook) —
    // bit-for-bit.
    Q("q_ann_pq_topk",
      (s, d) => pqTopK(s, d)
        .select("q_id", "rank", "vec_id", "cos_milli")
        .orderBy("q_id", "rank"),
      Some(s"""
        |WITH $pqCtes
        |SELECT q_id, rank, vec_id, cos_milli FROM ranked
        |WHERE rank <= 10 ORDER BY q_id, rank
        |""".stripMargin.trim)),

    // ---- PQ recall vs exact brute-force -------------------------------
    // The companion gate that MEASURES the trained quantizer: per
    // query, how many of the exact-cosine top-10 the PQ
    // shortlist+rerank pipeline recovered (hits10 ∈ [0, 10]). The
    // oracle replays BOTH pipelines — training included — so the
    // recall number itself is hash-pinned, not asserted.
    Q("q_ann_pq_recall",
      (s, d) => recallAt10(s, d, pqTopK(s, d)),
      Some(s"""
        |WITH $pqCtes,
        |${exactTop10Sql("ex")},
        |hits AS (SELECT r.q_id, CAST(count(*) AS BIGINT) AS hits10
        |  FROM (SELECT q_id, vec_id FROM ranked WHERE rank <= 10) r
        |  JOIN ex ON ex.q_id = r.q_id AND ex.vec_id = r.vec_id
        |  GROUP BY r.q_id)
        |SELECT q.q_id, CAST(coalesce(h.hits10, 0) AS BIGINT) AS hits10
        |FROM qq q LEFT JOIN hits h ON h.q_id = q.q_id
        |ORDER BY q.q_id
        |""".stripMargin.trim)),

    // ---- cluster-balanced diversity sample ----------------------------
    // Curation subsample that preserves SEMANTIC coverage: k-means
    // cluster the embeddings, then take 25 per cluster by the engine's
    // deterministic md5-rank (seedless, stable under corpus growth) —
    // uniform sampling oversamples dense regions; per-cluster quotas
    // keep every region represented. Clustering + rank replayed
    // end-to-end by the oracle.
    Q("q_cluster_sample",
      (s, d) => {
        val qv = embeddings(s, d)
          .select(col("vec_id").as("id"),
            Clustering.quantizeMilli(col("embedding")).as("qv"))
        val asg = Clustering.kmeansAssign(qv, "id", "qv", k = 8, iters = 2)
          .select("id", "cluster")
        graft.ops.Corpus.stratifiedHashSample(
            asg, strata = Seq("cluster"), idCol = "id", k = 25)
          .orderBy("cluster", "sample_rank")
      },
      Some {
        val kmeans = Clustering.oracleCtes(
          s"SELECT vec_id AS id, ${OracleSql.quantMilli("embedding", 64)} " +
            "AS qv FROM embeddings",
          k = 8, iters = 2, dim = 64)
        s"""WITH $kmeans
           |SELECT id, cluster, sample_rank FROM (
           |  SELECT id, cluster, row_number() OVER (PARTITION BY cluster
           |      ORDER BY md5(CAST(id AS VARCHAR)) ASC, id ASC)
           |    AS sample_rank
           |  FROM asg)
           |WHERE sample_rank <= 25 ORDER BY cluster, sample_rank
           |""".stripMargin.trim
      }),

    // ---- IVF-PQ: coarse cells + stored codes + ADC + exact re-rank ---
    // The billion-scale ANN recipe END-TO-END: candidates come from
    // the probed cells of the STORED (cluster, id, codes) index (one
    // partition-pruned equi-join — never a corpus scan), ranking runs
    // on the compressed representation (ADC over decoded codes), and
    // only the shortlist pays exact cosine. Composes the structures
    // q_ann_ivf_* (cells) and q_ann_pq_* (codes) exercise separately.
    Q("q_ann_ivfpq_topk",
      (s, d) => ivfPqTopK(s, d)
        .select("q_id", "rank", "vec_id", "cos_milli")
        .orderBy("q_id", "rank"),
      Some(s"""
        |WITH $pqCtes,
        |$ivfPqCtes
        |SELECT q_id, rank, vec_id, cos_milli FROM ipq_ranked
        |WHERE rank <= 10 ORDER BY q_id, rank
        |""".stripMargin.trim)),

    // ---- IVF-PQ recall vs the exact answer ---------------------------
    // hits@10 against brute-force exact cosine per query — the recall
    // cost of BOTH approximations (cell truncation + code compression)
    // measured together, the number an index rollout is judged by.
    Q("q_ann_ivfpq_recall",
      (s, d) => recallAt10(s, d, ivfPqTopK(s, d)),
      Some(s"""
        |WITH $pqCtes,
        |$ivfPqCtes,
        |${exactTop10Sql("ipq_ex")}
        |SELECT q.q_id, CAST(coalesce(h.hits10, 0) AS BIGINT) AS hits10
        |FROM qq q LEFT JOIN (
        |  SELECT a.q_id, count(*) AS hits10
        |  FROM (SELECT q_id, vec_id FROM ipq_ranked WHERE rank <= 10) a
        |  JOIN ipq_ex x ON x.q_id = a.q_id AND x.vec_id = a.vec_id
        |  GROUP BY a.q_id) h ON h.q_id = q.q_id
        |ORDER BY q.q_id
        |""".stripMargin.trim)),

    // ---- streaming classifier scoring (train offline, score online) --
    // The deployment shape of the centroid classifier: the model is
    // fit IN BATCH (same floor-div centroids), collapsed to a literal
    // |labels|-row expression, and arriving vectors are scored AS A
    // STREAM — a stateless projection, so batch semantics carry over
    // verbatim (Append mode, AvailableNow to completion). The oracle
    // is q_classify_centroid's classifierOracle: stream ≡ batch is
    // hash-pinned.
    Q("q_stream_classify",
      (s, d) => {
        val emb = labeledQv(s, d)
        val model = graft.ops.Classify.centroidModel(
          emb.filter(pmod(col("vec_id"), lit(5)) =!= 0), "label", "qv")
        val s2 = graft.streaming.StreamingOps.session(s)
        val stream = graft.streaming.StreamingOps.fixtureStream(
            s2.readStream
              .schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT"),
            d, "embeddings")
          .filter(pmod(col("vec_id"), lit(5)) === 0)
        val best = graft.ops.Classify.centroidAssignCol(model,
          Clustering.quantizeMilli(col("embedding")))
        val scored = stream.select(col("vec_id").as("id"),
          col("label").cast("long").as("label_true"), best.as("b"))
          .select(col("id"), col("label_true"),
            col("b").getField("lab").as("pred"),
            col("b").getField("d").as("dist_sq"),
            when(col("b").getField("lab") === col("label_true"), 1L)
              .otherwise(0L).as("hit"))
        graft.streaming.StreamingOps.runToTable(scored,
            org.apache.spark.sql.streaming.OutputMode.Append())
          .orderBy("id")
      },
      Some(classifierOracle)),

    // ---- trained centroid (Rocchio) classifier -----------------------
    // Fit one integer centroid per label on the %5!=0 training split,
    // label the %5==0 holdout by nearest centroid — the trained-model
    // filtering stage (fastText-style quality/domain classifiers over
    // embeddings reduce to this). Training is ONE |labels|·dim-cell
    // partial-agg shuffle at any corpus size; the KB-sized model
    // broadcasts into a per-row min-struct fold. The oracle replays
    // fit AND scoring (floor-div means, exact squared-L2, tie to the
    // smaller label).
    Q("q_classify_centroid",
      (s, d) => {
        val emb = labeledQv(s, d)
        val cents = graft.ops.Classify.centroidTrain(
          emb.filter(pmod(col("vec_id"), lit(5)) =!= 0), "label", "qv")
        graft.ops.Classify.centroidClassify(
          emb.filter(pmod(col("vec_id"), lit(5)) === 0), cents,
          "vec_id", "label", "qv")
          .orderBy("id")
      },
      Some(classifierOracle)),

    // ---- active learning: smallest-margin labeling batch -------------
    // The label-efficiency move: rank the holdout by the gap between
    // best and second-best centroid distance (ascending — most
    // ambiguous first) and take the 25-row annotation batch. The
    // margin is a per-row literal-model fold (top-2 via sorting the
    // |labels|-sized candidate array inside the projection); the
    // global pick is orderBy+limit (TakeOrdered), never a full-corpus
    // window. Exact integers; ties to the smaller id.
    Q("q_classify_active_sample",
      (s, d) => {
        val emb = labeledQv(s, d)
        val model = graft.ops.Classify.centroidModel(
          emb.filter(pmod(col("vec_id"), lit(5)) =!= 0), "label", "qv")
        val m = graft.ops.Classify.uncertaintyMargin(
          emb.filter(pmod(col("vec_id"), lit(5)) === 0), model,
          "vec_id", "qv")
        val batch = m.orderBy(col("margin").asc, col("id").asc)
          .limit(25)
        batch.withColumn("rank", row_number().over(
            Window.orderBy(col("margin").asc, col("id").asc)))
          .select("rank", "id", "pred", "margin")
          .orderBy("rank")
      },
      Some(classifierOracleCtes +
        """
        |, act_m AS (SELECT id,
        |    max(CASE WHEN rn = 1 THEN pred END) AS pred,
        |    max(CASE WHEN rn = 2 THEN dist_sq END)
        |      - max(CASE WHEN rn = 1 THEN dist_sq END) AS margin
        |  FROM cls_best WHERE rn <= 2 GROUP BY id)
        |SELECT rank, id, pred, margin FROM (
        |  SELECT id, pred, margin, row_number() OVER (
        |    ORDER BY margin, id) AS rank FROM act_m)
        |WHERE rank <= 25 ORDER BY rank
        |""".stripMargin.trim)),

    // ---- classifier evaluation: confusion matrix ---------------------
    // The (label_true, pred) count grid plus per-cell share of the
    // true-label row (milli) — the eval artifact a model gate reads.
    // Bounded output: |labels|² rows at any corpus size.
    Q("q_classify_confusion",
      (s, d) => {
        val emb = labeledQv(s, d)
        val cents = graft.ops.Classify.centroidTrain(
          emb.filter(pmod(col("vec_id"), lit(5)) =!= 0), "label", "qv")
        val scored = graft.ops.Classify.centroidClassify(
          emb.filter(pmod(col("vec_id"), lit(5)) === 0), cents,
          "vec_id", "label", "qv")
        scored.groupBy("label_true", "pred")
          .agg(count(lit(1)).as("n"))
          .withColumn("row_milli", expr(
            "(1000 * n) div sum(n) OVER (PARTITION BY label_true)"))
          .orderBy("label_true", "pred")
      },
      Some(classifierOracleCtes +
        """
        |, cls_conf AS (SELECT label_true, pred,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM cls_best WHERE rn = 1 GROUP BY 1, 2)
        |SELECT label_true, pred, n,
        |  (1000 * n) // CAST(sum(n) OVER (PARTITION BY label_true)
        |    AS BIGINT) AS row_milli
        |FROM cls_conf ORDER BY label_true, pred
        |""".stripMargin.trim))
  )

  /** (vec_id, label, qv): the labeled embeddings, milli-quantized —
    * the input every centroid-classifier gate splits on vec_id % 5. */
  private def labeledQv(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(col("vec_id"), col("label"),
      Clustering.quantizeMilli(col("embedding")).as("qv"))

  /** The holdout's nearest-centroid labels — q_classify_centroid's
    * answer, which q_stream_classify's stream must reproduce. */
  private def classifierOracle: String = classifierOracleCtes +
    """
    |SELECT id, label_true, pred, dist_sq, hit
    |FROM cls_best WHERE rn = 1 ORDER BY id
    |""".stripMargin.trim

  /** The CTE chain all classifier oracles share: quantize, split,
    * per-label floor-div centroid fit, exact-L2 scoring of the
    * holdout, rank-1 = nearest centroid (ties to smaller label). */
  private def classifierOracleCtes: String = {
    val qv = OracleSql.quantMilli("embedding", 64)
    s"""WITH cls_e AS (SELECT vec_id, label, $qv AS qv FROM embeddings),
       |cls_tr AS (SELECT * FROM cls_e WHERE vec_id % 5 <> 0),
       |cls_te AS (SELECT * FROM cls_e WHERE vec_id % 5 = 0),
       |cls_sum AS (SELECT CAST(label AS BIGINT) AS lab, i AS pos,
       |    CAST(sum(qv[i]) AS BIGINT) AS s,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM cls_tr
       |  CROSS JOIN LATERAL unnest(generate_series(1, len(qv))) u(i)
       |  GROUP BY 1, 2),
       |cls_cent AS (SELECT lab,
       |    list((s - ((s % n + n) % n)) // n ORDER BY pos) AS cv
       |  FROM cls_sum GROUP BY lab),
       |cls_sc AS (SELECT t.vec_id AS id,
       |    CAST(t.label AS BIGINT) AS label_true, c.lab,
       |    ${OracleSql.l2sqList("t.qv", "c.cv", 64)} AS d
       |  FROM cls_te t, cls_cent c),
       |cls_best AS (SELECT id, label_true, lab AS pred, d AS dist_sq,
       |    CAST(CASE WHEN lab = label_true THEN 1 ELSE 0 END AS BIGINT)
       |      AS hit,
       |    row_number() OVER (PARTITION BY id ORDER BY d, lab) AS rn
       |  FROM cls_sc)""".stripMargin
  }
}
