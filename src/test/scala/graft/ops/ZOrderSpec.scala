package graft.ops

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Verifies the claim z-ordering exists for: parquet row-group
  * min/max stats become selective on BOTH dimensions (checked from
  * the actual file footers), while the row set is untouched. */
class ZOrderSpec extends SparkSpec {

  /** Fraction of row groups whose [min, max] for `colName` covers v
    * — the fraction a point filter on that column must READ. */
  private def coverage(dir: String, colName: String, v: Long): Double = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    val files = fs.listStatus(new Path(dir))
      .filter(_.getPath.getName.endsWith(".parquet"))
    val spans = files.flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
      try {
        import scala.jdk.CollectionConverters._
        r.getFooter.getBlocks.asScala.map { b =>
          val c = b.getColumns.asScala
            .find(_.getPath.toDotString == colName).get
          val st = c.getStatistics
          (st.genericGetMin.asInstanceOf[java.lang.Long].longValue,
            st.genericGetMax.asInstanceOf[java.lang.Long].longValue)
        }.toSeq
      } finally r.close()
    }
    assert(spans.length >= 4, s"want several row groups, got ${spans.length}")
    spans.count { case (lo, hi) => lo <= v && v <= hi }.toDouble / spans.length
  }

  test("z-ordered layout prunes row groups on BOTH dimensions and " +
      "keeps rows identical") {
    // two independent uniform dimensions
    val df = spark.range(100000)
      .selectExpr("id % 317 AS a", "(id * 7919) % 311 AS b", "id AS v")
    val dir = graft.SparkSpec.tempDir("zorder").toString
    val zo = ZOrder.writeZOrdered(df, s"$dir/t", "a", "b",
      bits = 9, files = 32)
    // baseline: single-column sort prunes its own column perfectly and
    // the OTHER column not at all — that asymmetry is what z-order
    // removes
    df.repartitionByRange(32, org.apache.spark.sql.functions.col("a"))
      .sortWithinPartitions("a")
      .write.mode("overwrite").parquet(s"$dir/bya")
    val za = coverage(s"$dir/t", "a", 158L)
    val zb = coverage(s"$dir/t", "b", 155L)
    val sa = coverage(s"$dir/bya", "a", 158L)
    val sb = coverage(s"$dir/bya", "b", 155L)
    info(f"zorder a=$za%.2f b=$zb%.2f | sort-by-a a=$sa%.2f b=$sb%.2f")
    assert(sa <= 0.2, "sorted-by-a must prune a nearly perfectly")
    assert(sb >= 0.8, "sorted-by-a must NOT prune b")
    // z-order: BOTH dims bounded — strictly better than the sorted
    // layout's unpruned dimension, on both dimensions at once
    assert(za <= 0.6 && zb <= 0.6,
      f"z-order should bound both extents: a=$za%.2f b=$zb%.2f")
    assert(math.max(za, zb) < sb,
      "worst z-order dimension must beat the sorted layout's blind one")
    // layout is row-invisible
    assert(zo.orderBy("v").collect().toSeq ==
      df.orderBy("v").collect().toSeq)
    // idempotent: second call reuses the written files
    ZOrder.writeZOrdered(df.limit(5), s"$dir/t", "a", "b", 9, 32)
    assert(spark.read.parquet(s"$dir/t").count() == 100000)
  }

  test("interleaveBits places a-bits at even, b-bits at odd positions") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val out = Seq((1L, 0L), (0L, 1L), (3L, 3L), (5L, 2L))
      .toDF("a", "b")
      .select(ZOrder.interleaveBits(col("a"), col("b"), 4).as("z"))
      .collect().map(_.getLong(0))
    // (5,2): a=101 → positions 0,4 = 17; b=010 → position 3 = 8 → 25
    assert(out.toSeq == Seq(1L, 2L, 15L, 25L))
  }
}
