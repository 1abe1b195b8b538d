package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The stream boundary must read BOTH fixture layouts: the driver's
  * single `events.parquet` FILE beside the other tables, and a real
  * table DIRECTORY of part files (any distributed writer's output —
  * the sf1 tiled fixtures land this way, and so does every production
  * events table). The original glob-only source matched no leaf file
  * under a directory layout and the stream silently produced ZERO
  * batches — three sf1 gates failed on it (found by the round-11
  * full-registry scale probe). */
class DirLayoutStreamSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("eventsStream over a directory-layout events table equals the " +
      "single-file layout, batch for batch") {
    // materialize the fixture as a table DIRECTORY (4 part files) —
    // the RAW bytes re-laid-out, ts type untouched (this is fixture
    // manufacturing, the one legitimate reason to read events.parquet
    // outside the two read boundaries)
    val dir = graft.SparkSpec.tempDir("graft_dirlayout_sf_").toString
    spark.read.parquet(s"$sf/events.parquet").repartition(4)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val fromFile = StreamingOps.runToTable(
      StreamingOps.windowedCounts(StreamingOps.eventsStream(spark, sf)),
      org.apache.spark.sql.streaming.OutputMode.Append())
    val fromDir = StreamingOps.runToTable(
      StreamingOps.windowedCounts(StreamingOps.eventsStream(spark, dir)),
      org.apache.spark.sql.streaming.OutputMode.Append())

    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val a = canon(fromFile)
    val b = canon(fromDir)
    assert(a.nonEmpty, "single-file stream produced no rows")
    assert(b.nonEmpty,
      "directory-layout stream produced no rows — the source is " +
        "matching the leaf files' names against the table's name again")
    assert(a === b)
  }

  test("q_stream_neardup's documents stream reads a directory-layout " +
      "fixture (same gate code, both layouts, identical rows)") {
    // re-lay the whole sf dir: documents as a 3-part DIRECTORY, the
    // rest copied through so the gate's store builds resolve
    val dir = graft.SparkSpec.tempDir("graft_dirlayout_docs_").toString
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "embeddings"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/$t.parquet"),
        java.nio.file.Paths.get(s"$dir/$t.parquet"))
    spark.read.parquet(s"$sf/documents.parquet").repartition(3)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val gate = graft.queries.Registry.queries("q_stream_neardup")
    def canon(d: String): Seq[String] =
      gate(spark, d).collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val a = canon(sf)
    val b = canon(dir)
    assert(a.nonEmpty, "single-file docs stream produced no rows")
    assert(b.nonEmpty,
      "directory-layout docs stream produced no rows — the glob-only " +
        "source shape is back")
    assert(a === b)
  }

  test("q_stream_classify's embeddings stream reads a directory-layout " +
      "fixture (same gate code, both layouts, identical rows)") {
    // embeddings as a 3-part DIRECTORY: the gate's batch model fit and
    // its scored stream both read the one table
    val dir = graft.SparkSpec.tempDir("graft_dirlayout_emb_").toString
    spark.read.parquet(s"$sf/embeddings.parquet").repartition(3)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val gate = graft.queries.Registry.queries("q_stream_classify")
    def canon(d: String): Seq[String] =
      gate(spark, d).collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val a = canon(sf)
    val b = canon(dir)
    assert(a.nonEmpty, "single-file embeddings stream produced no rows")
    assert(b.nonEmpty,
      "directory-layout embeddings stream produced no rows — the " +
        "glob-only source shape is back")
    assert(a === b)
  }
}
