package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.types._

/** Pins the PERMISSIVE-audit contract: planted corrupt rows land in
  * the quarantine ledger with their raw payload, clean rows parse
  * fully, and the two channels PARTITION the input (nothing dropped,
  * nothing double-counted) — the property a silent-drift read lacks. */
class AuditedSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def writeLines(name: String, lines: Seq[String]): String = {
    val dir = graft.SparkSpec.tempDir("graft-audit").toFile
    val f = new java.io.File(dir, name)
    val w = new java.io.PrintWriter(f, "UTF-8")
    try lines.foreach(w.println) finally w.close()
    f.getAbsolutePath
  }

  test("JSON: syntax errors and type mismatches quarantine; channels " +
      "partition the input") {
    val path = writeLines("a.json", Seq(
      """{"id": 1, "v": "alpha"}""",
      """{"id": 2 "v": "beta"}""",      // syntax error: missing comma
      """{"id": "x3", "v": "gamma"}""", // type drift: string into long
      """{"id": 4, "v": "delta"}"""))
    val audited = Audited.readJsonAudited(spark, schema, path)
    val clean = Audited.clean(audited).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(clean == Set((1L, "alpha"), (4L, "delta")))
    val quar = Audited.quarantine(audited)
      .select(Audited.CorruptCol).collect().map(_.getString(0)).toSet
    assert(quar == Set("""{"id": 2 "v": "beta"}""",
      """{"id": "x3", "v": "gamma"}"""))
    assert(Audited.clean(audited).count() +
      Audited.quarantine(audited).count() == audited.count())
    // partial results: the type-drift row still recovers the v column
    val partial = Audited.quarantine(audited)
      .filter(org.apache.spark.sql.functions.col("v") === "gamma").count()
    assert(partial == 1L, "PERMISSIVE must keep recoverable columns")
  }

  test("fuzz: arbitrary byte soup always PARTITIONS into clean + " +
      "quarantine, and quarantine keeps the line verbatim") {
    // seeded random lines: valid JSON, truncated JSON, type drift,
    // raw garbage, empty-ish whitespace — the audit contract must hold
    // for all of them: every line lands in exactly one channel, and a
    // quarantined line's payload is byte-identical to the input
    val rnd = new scala.util.Random(42)
    val soup = "{}[]\":, abcxyz0189\\"
    val lines = (1 to 120).map { i =>
      rnd.nextInt(5) match {
        case 0 => s"""{"id": $i, "v": "ok$i"}"""
        case 1 => s"""{"id": $i, "v": "ok$i""""       // truncated
        case 2 => s"""{"id": "x$i", "v": "drift$i"}""" // type drift
        case 3 => Seq.fill(1 + rnd.nextInt(20))(
          soup(rnd.nextInt(soup.length))).mkString
        case 4 => " " * rnd.nextInt(3) + i.toString
      }
    }.filter(_.trim.nonEmpty)
    val path = writeLines("fuzz.json", lines)
    val audited = Audited.readJsonAudited(spark, schema, path)
    val n = audited.count()
    val nClean = Audited.clean(audited).count()
    val quar = Audited.quarantine(audited)
      .select(Audited.CorruptCol).collect().map(_.getString(0))
    assert(n == lines.size, "no line may be dropped")
    assert(nClean + quar.length == n, "channels must partition")
    assert(quar.toSet.subsetOf(lines.toSet),
      "quarantine must keep lines verbatim")
  }

  test("CSV: type mismatches quarantine with the raw line") {
    val path = writeLines("a.csv", Seq(
      "id,v", "10,kilo", "x11,lima", "12,mike"))
    val audited = Audited.readCsvAudited(spark, schema, path)
    val clean = Audited.clean(audited).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(clean == Set((10L, "kilo"), (12L, "mike")))
    val quar = Audited.quarantine(audited)
      .select(Audited.CorruptCol).collect().map(_.getString(0)).toSeq
    assert(quar == Seq("x11,lima"))
  }
}
