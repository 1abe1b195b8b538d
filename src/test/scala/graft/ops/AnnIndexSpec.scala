package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the persisted-ANN-index contracts:
  *  1. build ∪ incremental append ≡ one-shot rebuild (bit-identical
  *     probe results — the property that lets q_ann_lsh_persisted
  *     share q_ann_lsh_topk's oracle);
  *  2. the probe plan prunes index partitions dynamically instead of
  *     scanning the whole stored corpus (the reason the index exists). */
class AnnIndexSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")
    .select("vec_id", "embedding")

  private def hyper = emb.filter(col("vec_id") < 16)
    .select(col("vec_id").as("h_id"), col("embedding").as("hv"))

  private def queries = emb.filter(col("vec_id") >= 13 && col("vec_id") < 18)

  // lazy fixtures so every test can run in isolation (no ordering
  // dependency between tests in this suite)
  private lazy val incrIndex: String = {
    // incremental: base without the holdout, then the holdout appended
    AnnIndex.buildSignIndex(emb.filter(pmod(col("vec_id"), lit(5)) =!= 2),
      "vec_id", "embedding", hyper, 4, "t_ann_incr", overwrite = true)
    AnnIndex.appendBatch(emb.filter(pmod(col("vec_id"), lit(5)) === 2),
      "vec_id", "embedding", hyper, 4, "t_ann_incr")
    "t_ann_incr"
  }
  private lazy val fullIndex: String = {
    // rebuild: the full corpus banded in one shot
    AnnIndex.buildSignIndex(emb, "vec_id", "embedding", hyper, 4,
      "t_ann_full", overwrite = true)
    "t_ann_full"
  }

  test("incremental append equals one-shot rebuild, probe prunes " +
      "partitions dynamically") {
    val pIncr = AnnIndex.probeTopK(spark, incrIndex, queries,
      "vec_id", "embedding", hyper, 4, 10)
    val pFull = AnnIndex.probeTopK(spark, fullIndex, queries,
      "vec_id", "embedding", hyper, 4, 10)
    val a = pIncr.orderBy("q_id", "rank").collect().toSeq
    val b = pFull.orderBy("q_id", "rank").collect().toSeq
    assert(a.nonEmpty, "probe must return candidates")
    assert(a == b, "append path must be bit-identical to rebuild")

    // plan pin: the index scan must carry a dynamic-pruning partition
    // filter from the broadcast probe side — without it every probe is
    // a full-index scan and the layout bought nothing
    val plan = pIncr.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"probe must dynamically prune index partitions:\n$plan")
  }

  test("multiprobe widens the candidate set monotonically: per-query " +
      "best cosine never drops") {
    def best(multiprobe: Int): Map[Long, Long] =
      AnnIndex.probeTopK(spark, fullIndex, queries, "vec_id",
          "embedding", hyper, 4, 10, multiprobe)
        .filter(col("rank") === 1)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val plain = best(0)
    val multi = best(2)
    assert(plain.keySet.subsetOf(multi.keySet),
      "multiprobe must answer every query the plain probe answers")
    plain.foreach { case (q, cos) =>
      assert(multi(q) >= cos,
        s"query $q: multiprobe best ${multi(q)} < plain best $cos")
    }
  }

  test("IVF: incremental append under the stored codebook equals " +
      "rebuild; probe prunes cluster partitions") {
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("embedding").as("cv"))
    AnnIndex.buildIvf(emb.filter(pmod(col("vec_id"), lit(5)) =!= 2),
      "vec_id", "embedding", cents, "t_ivf_incr", overwrite = true)
    AnnIndex.appendIvf(emb.filter(pmod(col("vec_id"), lit(5)) === 2),
      "vec_id", "embedding", "t_ivf_incr")
    AnnIndex.buildIvf(emb, "vec_id", "embedding", cents, "t_ivf_full",
      overwrite = true)
    val pIncr = AnnIndex.probeIvfTopK(spark, "t_ivf_incr", queries,
      "vec_id", "embedding", nprobe = 2, k = 5)
    val pFull = AnnIndex.probeIvfTopK(spark, "t_ivf_full", queries,
      "vec_id", "embedding", nprobe = 2, k = 5)
    val a = pIncr.orderBy("q_id", "rank").collect().toSeq
    assert(a.nonEmpty &&
      a == pFull.orderBy("q_id", "rank").collect().toSeq)
    val plan = pIncr.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"IVF probe must dynamically prune cluster partitions:\n$plan")
  }

  test("IVF assignment is one codegen'd projection: no Window, no " +
      "join expansion, only the write-clustering exchange") {
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("embedding").as("cv"))
    val asg = AnnIndex.assignCluster(emb, "vec_id", "embedding", cents)
    val plan = asg.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"assignment must not rank via a window:\n$plan")
    assert(!plan.toLowerCase.contains("join"),
      s"assignment must not expand rows via a join:\n$plan")
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"only the write-clustering repartition may shuffle " +
        s"(found $exchanges):\n$plan")
    // and the literal-codebook argmax must agree with the windowed
    // formulation it replaced (same cosine kernel, ties to smaller id)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id")
      .orderBy(col("__c_cos").desc, col("c_id").asc)
    val ref = emb.crossJoin(broadcast(cents))
      .withColumn("__c_cos", graft.functions.GraftFunctions
        .cosineMilli(col("embedding"), col("cv")))
      .withColumn("__rn",
        org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("vec_id").as("id"), col("c_id").as("cluster"))
    val got = asg.select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = ref.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, "argmax assignment must equal windowed argmax")
  }

  test("compaction after build+append: probe results unchanged, one " +
      "file per touched (band, bucket) partition") {
    val before = AnnIndex.probeTopK(spark, incrIndex, queries,
      "vec_id", "embedding", hyper, 4, 10)
      .orderBy("q_id", "rank").collect().toSeq
    Compaction.compactPartitionedTable(spark, incrIndex)
    val after = AnnIndex.probeTopK(spark, incrIndex, queries,
      "vec_id", "embedding", hyper, 4, 10)
      .orderBy("q_id", "rank").collect().toSeq
    assert(before == after,
      "compaction must be probe-invisible on the ANN store")
    val files = graft.SparkSpec.filesPerPartition(spark, incrIndex)
    assert(files.nonEmpty && files.values.forall(_ == 1),
      s"expected one file per partition after compaction, got " +
        files.filter(_._2 > 1).take(5).toString)
  }

  test("index table is partitioned by (band, bucket) and stores the " +
      "vector payload") {
    val idx = spark.table(fullIndex)
    assert(idx.columns.toSeq == Seq("id", "vec", "band", "bucket"))
    val cat = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst
        .TableIdentifier(fullIndex))
    assert(cat.partitionColumnNames == Seq("band", "bucket"),
      s"expected (band, bucket) partitioning, got " +
        s"${cat.partitionColumnNames}")
  }
}
