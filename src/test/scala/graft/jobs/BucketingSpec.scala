package graft.jobs

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join without exchanges (Pipeline sink)") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val a = (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
    val b = (1 to 1000).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
    graft.ops.Bucketing.writeBucketed(a, "bkt_a", "k", 8, overwrite = true)
    graft.ops.Bucketing.writeBucketed(b, "bkt_b", "k", 8, overwrite = true)
    val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"expected exchange-free bucketed join:\n$plan")
    assert(joined.count() == 1000)
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.sql("DROP TABLE IF EXISTS bkt_a")
    spark.sql("DROP TABLE IF EXISTS bkt_b")
  }

  test("ops.Bucketing.bucketedJoin is exchange-free and row-identical " +
      "to the plain join") {
    val a = (1 to 2000).map(i => (i.toLong % 97, s"a$i")).toDF("ka", "va")
    val b = (1 to 500).map(i => (i.toLong % 97, s"b$i")).toDF("kb", "vb")
    graft.ops.Bucketing.writeBucketed(a, "bkt_ja", "ka", 8)
    graft.ops.Bucketing.writeBucketed(b, "bkt_jb", "kb", 8)
    val joined = graft.ops.Bucketing.bucketedJoin(
      spark, "bkt_ja", "bkt_jb", "ka", "kb")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"expected exchange-free bucketed join:\n$plan")
    // (a per-bucket Sort remains: since Spark 3.0 bucketed scans don't
    // report sorted output ordering unless the legacy conf
    // spark.sql.legacy.bucketedTableScan.outputOrdering is set — the
    // exchange elimination is the property that matters at scale)
    val expected = a.join(b, col("ka") === col("kb"))
      .select("ka", "va", "kb", "vb").sort("ka", "va", "vb")
      .collect().toSeq
    val got = joined.select("ka", "va", "kb", "vb")
      .sort("ka", "va", "vb").collect().toSeq
    assert(got == expected)
    spark.sql("DROP TABLE IF EXISTS bkt_ja")
    spark.sql("DROP TABLE IF EXISTS bkt_jb")
  }

  test("writeBucketed reuses the table unless overwrite") {
    val a = (1 to 10).map(i => (i.toLong, s"a$i")).toDF("k", "v")
    graft.ops.Bucketing.writeBucketed(a, "bkt_reuse", "k", 4)
    val a2 = (1 to 20).map(i => (i.toLong, s"x$i")).toDF("k", "v")
    assert(graft.ops.Bucketing.writeBucketed(a2, "bkt_reuse", "k", 4)
      .count() == 10)
    assert(graft.ops.Bucketing.writeBucketed(a2, "bkt_reuse", "k", 4,
      overwrite = true).count() == 20)
    spark.sql("DROP TABLE IF EXISTS bkt_reuse")
  }
}
