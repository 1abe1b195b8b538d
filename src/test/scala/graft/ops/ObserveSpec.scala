package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[Observe.metrics]]: the counters ride a REAL sink write (the
  * production shape), come back in declaration order, and equal a
  * dedicated aggregate over the same frame. */
class ObserveSpec extends SparkSpec {
  import spark.implicits._

  test("metrics ride a parquet write and equal the direct aggregate; " +
      "declaration order preserved") {
    val df = Seq((1L, 10.0), (2L, 2.5), (3L, Double.NaN), (4L, 7.5))
      .toDF("id", "v")
      .withColumn("v", when(col("id") === 3L, lit(null)).otherwise(col("v")))
    val out = graft.SparkSpec.tempDir("observe_sink").toString
    val row = Observe.metrics(df, Seq(
        count(lit(1)).as("n"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("nulls"),
        max(col("id")).as("max_id")),
      action = _.write.mode("overwrite").parquet(out))
    assert(row.getAs[Long](0) === 4L) // n first: declaration order
    assert(row.getAs[Long](1) === 1L)
    assert(row.getAs[Long](2) === 4L)
    // the action genuinely ran — the sink holds the frame
    assert(spark.read.parquet(out).count() === 4L)
  }
}
