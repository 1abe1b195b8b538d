package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.SparkSpec

class WarcSpec extends SparkSpec {
  import spark.implicits._

  private def writeFixture(): String = {
    val dir = graft.SparkSpec.tempDir("warc_spec_").toString
    val rows = Seq(
      (1L, "plain payload"),
      (2L, ""), // empty body
      // payload containing CRLFs and a line that LOOKS like a record
      // header — must survive because bodies are length-framed
      (3L, "line one\r\nWARC/1.0\r\nnot a header\nend"))
    WarcSink.write(
      rows.toDF("id", "text").repartition(2, col("id"))
        .select(concat(lit("http://t/"), col("id")).as("uri"),
          lit("2026-01-01T00:00:00Z").as("warc_date"),
          concat(lit("urn:graft:"), col("id")).as("rid"),
          encode(col("text"), "UTF-8").as("payload")),
      dir)
    dir
  }

  test("round-trip: every record's headers and exact payload come " +
      "back, including empty bodies and bodies containing WARC-like " +
      "lines") {
    val dir = writeFixture()
    val got = spark.read.format("graft.sources.WarcSource").load(dir)
      .collect()
      .map(r => r.getAs[String]("rid") ->
        (r.getAs[String]("uri"), r.getAs[Int]("n_bytes"),
          r.getAs[String]("content")))
      .toMap
    assert(got.keySet ==
      Set("urn:graft:1", "urn:graft:2", "urn:graft:3"))
    assert(got("urn:graft:1") ==
      ("http://t/1", 13, "plain payload"))
    assert(got("urn:graft:2") == ("http://t/2", 0, ""))
    val (_, n3, c3) = got("urn:graft:3")
    assert(c3 == "line one\r\nWARC/1.0\r\nnot a header\nend")
    assert(n3 == c3.getBytes("UTF-8").length)
  }

  test("column pruning reaches the scan: a header-only projection's " +
      "scan schema excludes content, and skipped payloads still " +
      "yield exact header values") {
    val dir = writeFixture()
    val df = spark.read.format("graft.sources.WarcSource").load(dir)
      .select("rid", "n_bytes")
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty, "expected a BatchScanExec")
    val readSchema = scans.head.scan.readSchema()
    assert(!readSchema.fieldNames.contains("content"),
      s"content not pruned: $readSchema")
    val got = df.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == Map("urn:graft:1" -> 13, "urn:graft:2" -> 0,
      "urn:graft:3" -> "line one\r\nWARC/1.0\r\nnot a header\nend"
        .getBytes("UTF-8").length))
  }

  test("writer is idempotent per member: a re-run with existing part " +
      "files leaves them untouched") {
    val dir = writeFixture()
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".warc")).sortBy(_.getName)
    val before = files.map(f => f.getName ->
      java.nio.file.Files.getLastModifiedTime(f.toPath)).toMap
    // second write: every part exists, so tasks drain and skip
    WarcSink.write(
      Seq((1L, "x")).toDF("id", "text").repartition(2, col("id"))
        .select(concat(lit("http://t/"), col("id")).as("uri"),
          lit("d").as("warc_date"),
          concat(lit("urn:graft:"), col("id")).as("rid"),
          encode(col("text"), "UTF-8").as("payload")),
      dir)
    val after = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".warc")).sortBy(_.getName)
      .map(f => f.getName ->
        java.nio.file.Files.getLastModifiedTime(f.toPath)).toMap
    assert(after == before)
  }

  test("scan builder prunes to the requested subset in source order") {
    val b = new WarcScanBuilder("/nonexistent")
    b.pruneColumns(StructType(WarcFormat.schema.filter(f =>
      Set("uri", "n_bytes").contains(f.name))))
    assert(b.build().readSchema().fieldNames.toSeq ==
      Seq("uri", "n_bytes"))
  }
}
