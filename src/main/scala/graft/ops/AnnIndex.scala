package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED sign-LSH ANN index — the difference between "ANN queries"
  * (rebuild the banding inside every query: [[Similarity.signLshBuckets]]
  * over the whole corpus per probe) and an "ANN-capable corpus store"
  * (build the banding ONCE, store it partitioned by its probe key,
  * answer every later query with a partition-pruned scan, and maintain
  * it incrementally as batches land).
  *
  * Layout: one row per (band, vector) carrying the vector id AND the
  * vector itself, written `partitionBy(band, bucket)` — the inverted-
  * list layout of IVF-family systems (the vector lives in the list, so
  * a probe re-ranks straight off the pruned partitions; no second
  * corpus-sized join to fetch payloads). Storage cost is `bands`×
  * vector replication, the standard trade for probe locality.
  *
  * Scale shape (100 TB corpus, KB probes):
  *  - BUILD: one pass over the corpus (crossJoin against the broadcast
  *    KB hyperplane set + one partial-aggregable groupBy), one
  *    partitioned write. Paid once.
  *  - PROBE: the query batch's buckets are a KB-sized frame; joining
  *    index ⋈ broadcast(queryBuckets) on the PARTITION COLUMNS lets
  *    dynamic partition pruning drop every non-probed (band, bucket)
  *    directory at runtime — the scan reads |probed buckets| ·
  *    (corpus/2^rowsPerBand)/bands rows, not the corpus
  *    (AnnIndexSpec pins the `dynamicpruning` filter in the plan).
  *  - MAINTAIN: a new batch is banded ALONE (batch-sized work, the
  *    [[Similarity.nearDupPairsAgainstBuckets]] discipline) and
  *    appended; partitioned appends only touch the partitions the
  *    batch lands in. No rebuild.
  *
  * Determinism: banding is a per-row projection of (vector,
  * hyperplanes), so build ∪ append ≡ one-shot build over the union —
  * the incremental path is bit-identical to the rebuild, which is what
  * lets q_ann_lsh_persisted share q_ann_lsh_topk's oracle. */
object AnnIndex {

  /** Band the corpus and write it as a managed parquet table
    * partitioned by (band, bucket). `overwrite = false` keeps an
    * existing table (idempotent re-entry in a warm session). */
  def buildSignIndex(corpus: DataFrame, idCol: String, vecCol: String,
                     hyper: DataFrame, rowsPerBand: Int, table: String,
                     overwrite: Boolean = false): Unit = {
    val s = corpus.sparkSession
    if (overwrite || !s.catalog.tableExists(table)) {
      // drop table AND orphan location (in-memory-catalog hazard) —
      // one shared helper, see Compaction.dropManagedTable
      Compaction.dropManagedTable(s, table)
      bucketRows(corpus, idCol, vecCol, hyper, rowsPerBand)
        .write.partitionBy("band", "bucket")
        .format("parquet").mode("overwrite").saveAsTable(table)
    }
  }

  /** Band ONLY the new batch and append it — incremental maintenance;
    * touches just the partitions the batch hashes into. */
  def appendBatch(batch: DataFrame, idCol: String, vecCol: String,
                  hyper: DataFrame, rowsPerBand: Int,
                  table: String): Unit =
    bucketRows(batch, idCol, vecCol, hyper, rowsPerBand)
      .write.partitionBy("band", "bucket")
      .format("parquet").mode("append").saveAsTable(table)

  /** (id, vec, band, bucket) banding rows: [[Similarity.signLshBuckets]]
    * buckets re-joined with the vector payload so the stored list is
    * self-contained. The rejoin is id-keyed and batch-sized. Rows are
    * clustered to their partition key before the write — one file per
    * (band, bucket) per write instead of tasks×partitions slivers
    * (the write-compacted discipline; [[Compaction]] exists for the
    * appends that accumulate anyway). */
  private def bucketRows(df: DataFrame, idCol: String, vecCol: String,
                         hyper: DataFrame, rowsPerBand: Int): DataFrame =
    Similarity.signLshBuckets(df, idCol, vecCol, hyper, rowsPerBand)
      .join(df.select(col(idCol), col(vecCol).as("vec")), idCol)
      .select(col(idCol).as("id"), col("vec"), col("band"), col("bucket"))
      .repartition(col("band"), col("bucket"))

  // ---------------------------------------------------------------
  // IVF family — same store discipline, codebook-partitioned
  // ---------------------------------------------------------------

  /** The persisted codebook beside an IVF table: assignment at APPEND
    * time must use the exact centroids the corpus was built with, so
    * they are stored, not re-derived. */
  def codebookTable(table: String): String = s"${table}_cb"

  /** Nearest-centroid id for each row, against the (c_id, cv)
    * codebook — exact-cosine argmax, ties to the smaller c_id.
    *
    * The codebook is KB-sized by contract, so it folds into the row
    * expression as LITERALS (the [[Clustering.kmeansAssign]] argmin
    * discipline): one codegen'd projection per row — no crossJoin
    * n×k expansion, no Window, no shuffle beyond the write clustering
    * (AnnIndexSpec pins the plan shape). Ties break to the smaller
    * c_id via the negated id inside the max-struct order. */
  private[ops] def assignCluster(df: DataFrame, idCol: String,
                                 vecCol: String,
                                 codebook: DataFrame): DataFrame = {
    val cents = codebook
      .select(col("c_id").cast("long"), col("cv"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
      .sortBy(_._1)
    val cands = array(cents.map { case (cid, cv) =>
      struct(
        graft.functions.GraftFunctions
          .cosineMilli(col(vecCol), array(cv.map(lit(_)): _*))
          .as("cos"),
        lit(-cid).as("ncid"))
    }: _*)
    df.select(col(idCol).as("id"), col(vecCol).as("vec"),
        (-array_max(cands).getField("ncid")).as("cluster"))
      // one file per cluster per write (write-compacted discipline)
      .repartition(col("cluster"))
  }

  /** Build the IVF store: persist the codebook, assign every vector to
    * its nearest centroid, write partitioned by cluster — the
    * inverted-file layout (Faiss IVF): a probe reads only its probed
    * clusters' partitions. */
  def buildIvf(corpus: DataFrame, idCol: String, vecCol: String,
               codebook: DataFrame, table: String,
               overwrite: Boolean = false): Unit = {
    val s = corpus.sparkSession
    // BOTH tables must exist to skip: a run that died between the
    // codebook and list writes must rebuild (same contract as
    // InvertedIndexStore.build)
    if (overwrite || !s.catalog.tableExists(table) ||
        !s.catalog.tableExists(codebookTable(table))) {
      Seq(table, codebookTable(table))
        .foreach(Compaction.dropManagedTable(s, _))
      codebook.write.format("parquet").mode("overwrite")
        .saveAsTable(codebookTable(table))
      assignCluster(corpus, idCol, vecCol, codebook)
        .write.partitionBy("cluster")
        .format("parquet").mode("overwrite").saveAsTable(table)
    }
  }

  /** Assign ONLY the new batch under the STORED codebook and append —
    * batch-sized maintenance touching just the clusters the batch
    * lands in; assignment is per-row deterministic against fixed
    * centroids, so build ∪ append ≡ one-shot rebuild. */
  def appendIvf(batch: DataFrame, idCol: String, vecCol: String,
                table: String): Unit = {
    val s = batch.sparkSession
    assignCluster(batch, idCol, vecCol, s.table(codebookTable(table)))
      .write.partitionBy("cluster")
      .format("parquet").mode("append").saveAsTable(table)
  }

  /** Top-k exact-cosine neighbors from the stored IVF lists: queries
    * pick their `nprobe` closest centroids from the stored codebook
    * (KB work), the list scan joins on the cluster partition column
    * (broadcast → dynamic partition pruning), exact cosine re-ranks.
    * Output (q_id, rank, id, cos_milli). */
  def probeIvfTopK(s: SparkSession, table: String, queries: DataFrame,
                   idCol: String, vecCol: String, nprobe: Int,
                   k: Int): DataFrame = {
    val cb = s.table(codebookTable(table))
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id")
      .orderBy(col("__c_cos").desc, col("c_id").asc)
    val probes = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("qv"))
      .crossJoin(broadcast(cb))
      .withColumn("__c_cos", graft.functions.GraftFunctions
        .cosineMilli(col("qv"), col("cv")))
      .withColumn("__rn", row_number().over(wProbe))
      .filter(col("__rn") <= nprobe)
      .select(col("q_id"), col("qv"), col("c_id").as("cluster"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id")
      .orderBy(col("cos_milli").desc, col("id").asc)
    s.table(table).join(broadcast(probes), Seq("cluster"))
      .filter(col("id") =!= col("q_id"))
      .withColumn("cos_milli", graft.functions.GraftFunctions
        .cosineMilli(col("qv"), col("vec")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "id", "cos_milli")
  }

  /** Top-k exact-cosine neighbors for each query vector, answered FROM
    * THE STORED INDEX: the queries are banded (KB-side work), the index
    * scan is joined on the partition columns (broadcast → dynamic
    * partition pruning), candidates dedup across bands, and exact
    * cosine ranks the union. Output (q_id, rank, id, cos_milli),
    * rank ties to the smaller id. */
  /** Record a takedown against a sign-LSH index (see
    * [[Tombstones.record]]); probe with `retracted = true` to apply
    * it, [[compactSignIndex]] to fold it into the bucket files. A
    * removed vector's rows live in every band's buckets, so the
    * tombstone path is what makes deletion O(|removal|) here too. */
  def takedown(removeIds: DataFrame, table: String): Unit =
    Tombstones.record(removeIds, table)

  /** Fold tombstones into the (band, bucket) files — answers must not
    * move (TakedownSpec pins it for the index family). */
  def compactSignIndex(s: SparkSession, table: String): Unit =
    Tombstones.compact(s, table, Seq((table, Seq("band", "bucket"))))

  def probeTopK(s: SparkSession, table: String, queries: DataFrame,
                idCol: String, vecCol: String, hyper: DataFrame,
                rowsPerBand: Int, k: Int, multiprobe: Int = 0,
                retracted: Boolean = false): DataFrame = {
    require(multiprobe >= 0 && multiprobe <= rowsPerBand,
      "multiprobe flips at most rowsPerBand sign bits")
    val qb0 = Similarity.signLshBuckets(
        queries, idCol, vecCol, hyper, rowsPerBand)
      .select(col(idCol).as("q_id"), col("band"), col("bucket"))
    // MULTIPROBE (Lv et al. 2007, adapted to sign-LSH): a near
    // neighbor that misses the query's bucket in a band most often
    // differs by ONE hyperplane sign — its bucket is a single-bit
    // flip away. Probing the first `multiprobe` bit-flip neighbors of
    // each band bucket multiplies recall without more bands (no
    // index growth, no rebuild): probe keys go from bands to
    // bands·(1+multiprobe), still KB-sized, still partition-pruned.
    val qb =
      if (multiprobe == 0) qb0
      else qb0.withColumn("bucket", explode(array(
        (col("bucket") +: (0 until multiprobe).map(i =>
          col("bucket").bitwiseXOR(lit(1L << i)))): _*)))
    val qv = queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"))
    val idx =
      if (retracted) Tombstones.minus(s, table, s.table(table))
      else s.table(table)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(col("cos_milli").desc, col("id").asc)
    idx.join(broadcast(qb), Seq("band", "bucket"))
      .filter(col("id") =!= col("q_id"))
      // a (q_id, id) pair can collide in several bands; the vector
      // payload is identical on every copy, so any survivor is the row
      .dropDuplicates("q_id", "id")
      .join(broadcast(qv), "q_id")
      .withColumn("cos_milli",
        graft.functions.GraftFunctions.cosineMilli(col("qv"), col("vec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "id", "cos_milli")
  }
}
