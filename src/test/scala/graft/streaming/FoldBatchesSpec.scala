package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.types.LongType
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** [[StreamingOps.foldBatches]] past its first batch. Every fixture is
  * a single file, so each registered fold gate runs exactly one
  * micro-batch and never merges into a previous accumulator; here the
  * events table is a 4-part directory streamed one file per trigger,
  * so the merge branch of the folds runs, and the folded result must
  * still equal the batch twin of its gate. */
class FoldBatchesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def cents = floor(col("value") * 100 + 0.5).cast(LongType)

  /** sf0.001 events (ts already canonical micros) as a 4-part table
    * directory under a fresh sf dir. */
  private lazy val dirSf: String = {
    val dir = graft.SparkSpec.tempDir("graft_fold_batches_").toString
    Tables.events(spark, sf).repartition(4)
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  /** Runs `fold` over the 4-part events stream, one file per trigger,
    * on a fresh stream session; returns its result and the number of
    * micro-batches that read at least one row. */
  private def foldOverParts(fold: DataFrame => DataFrame): (DataFrame, Int) = {
    val s = StreamingOps.session(spark)
    val nonEmpty = new AtomicInteger(0)
    val done = new AtomicInteger(0)
    s.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) nonEmpty.incrementAndGet()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        done.incrementAndGet()
    })
    val events = StreamingOps.fixtureStream(
      s.readStream.schema(Tables.events(spark, sf).schema)
        .option("maxFilesPerTrigger", 1), dirSf, "events")
    val out = fold(events)
    // listener events arrive asynchronously; termination is posted last
    eventually(timeout(30.seconds)) { assert(done.get() == 1) }
    (out, nonEmpty.get())
  }

  private def canon(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toSeq.mkString("|"))
      .sorted.toSeq

  private def assertEqualsBatch(folded: DataFrame, batch: DataFrame): Unit = {
    val cols = folded.columns.toSeq
    val a = canon(folded, cols)
    assert(a.nonEmpty)
    assert(a === canon(batch, cols))
  }

  test("streamingLatestSnapshot folds several micro-batches into the " +
      "batch latest-per-key") {
    val (snap, batches) = foldOverParts(StreamingOps.streamingLatestSnapshot)
    assert(batches >= 2, s"$batches non-empty micro-batches")
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    assertEqualsBatch(snap, Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts").as("ts_us"),
        col("event_id"), cents.as("value_c"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn"))
  }

  test("streamingAggMaintain folds several micro-batches into the " +
      "batch full recompute") {
    val (agg, batches) = foldOverParts(StreamingOps.streamingAggMaintain)
    assert(batches >= 2, s"$batches non-empty micro-batches")
    assertEqualsBatch(agg, Tables.events(spark, sf)
      .filter(col("value").isNotNull)
      .select(col("user_id"), cents.as("v_c"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("cnt"), sum(col("v_c")).as("sum_value_c"))
      .withColumn("avg_value_c_milli",
        expr("(sum_value_c * 1000) div cnt")))
  }

  test("a stream with no input fails the fold instead of returning " +
      "an empty accumulator") {
    val empty = graft.SparkSpec.tempDir("graft_fold_empty_").toString
    val stream = StreamingOps.session(spark).readStream
      .schema("x LONG").parquet(empty)
    val e = intercept[IllegalStateException] {
      StreamingOps.foldBatches(stream)((acc, batch) => batch)
    }
    assert(e.getMessage === "stream produced no batches")
  }
}
