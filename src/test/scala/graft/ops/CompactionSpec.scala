package graft.ops

import graft.SparkSpec
import org.apache.hadoop.fs.Path

class CompactionSpec extends SparkSpec {

  test("compact rewrites a fragmented directory into few sized files " +
      "with identical rows") {
    val dir = graft.SparkSpec.tempDir("compact").toString
    val df = spark.range(200000).selectExpr("id", "id * 3 AS v")
    df.repartition(64).write.parquet(s"$dir/frag")
    val conf = spark.sparkContext.hadoopConfiguration
    def nFiles(p: String) = new Path(p).getFileSystem(conf)
      .listStatus(new Path(p))
      .count(_.getPath.getName.endsWith(".parquet"))
    assert(nFiles(s"$dir/frag") == 64)
    val bytes = Compaction.dataBytes(spark, s"$dir/frag")
    val out = Compaction.compact(spark, s"$dir/frag", s"$dir/out",
      targetBytes = bytes / 4)
    assert(nFiles(s"$dir/out") <= 6, "expected ~4-5 compacted files")
    assert(out.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
    // re-running over existing output rewrites the same layout
    Compaction.compact(spark, s"$dir/frag", s"$dir/out", bytes / 4)
    assert(nFiles(s"$dir/out") <= 6)
  }

  test("compactPartitionedTable: append-fragmented partitions collapse " +
      "to one file each, content untouched, layout preserved") {
    import org.apache.spark.sql.functions._
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(col("id"), (col("id") % 4).as("p"))
    Compaction.dropManagedTable(spark, "t_compact_parts")
    mk(0, 400).write.partitionBy("p").format("parquet")
      .mode("overwrite").saveAsTable("t_compact_parts")
    mk(400, 800).write.partitionBy("p").format("parquet")
      .mode("append").saveAsTable("t_compact_parts")
    val before = graft.SparkSpec.filesPerPartition(spark, "t_compact_parts")
    assert(before.nonEmpty && before.values.forall(_ >= 2),
      s"append should fragment every partition: $before")
    val rows = spark.table("t_compact_parts").orderBy("id")
      .collect().toSeq
    Compaction.compactPartitionedTable(spark, "t_compact_parts")
    val after = graft.SparkSpec.filesPerPartition(spark, "t_compact_parts")
    assert(after.values.forall(_ == 1),
      s"every partition should compact to one file: $after")
    assert(spark.table("t_compact_parts").orderBy("id")
      .collect().toSeq == rows)
    // partition layout survives the swap (pruning still applies)
    val cat = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("t_compact_parts"))
    assert(cat.partitionColumnNames == Seq("p"))
  }
}
