package graft.sources

import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.util.Random

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Fuzz of the WARC record framing (r10 verdict item 5: the last
  * parser trusted on fixtures alone). 300 seeded archives with random
  * member counts and payload lengths — including payloads that CONTAIN
  * the framing text itself, which only Content-Length discipline can
  * survive — plus 300 truncated-tail variants. The invariants:
  *
  *  1. a full read returns exactly the framed records, bytes intact;
  *  2. a header-only read (content pruned, payload skipped) returns
  *     exactly the same record SET — projection must never change
  *     membership;
  *  3. a file truncated anywhere inside its final record (header or
  *     payload) yields exactly the preceding records, again under
  *     BOTH projections. The pre-fuzz reader violated 2∧3 together:
  *     a torn tail crashed the full read (readFully → EOFException)
  *     while the skip path silently emitted the truncated record.
  *
  * All 300 cases of a family share one directory (one read plans one
  * input partition per member file), so the suite costs 4 scans, not
  * 1200. */
@org.scalatest.tags.Slow
class WarcFramingFuzzSpec extends SparkSpec {

  private final case class Rec(uri: String, date: String, rid: String,
                               payload: Array[Byte])

  /** Adversarial payload: random bytes of random length, with framing
    * text spliced into a third of them — "\r\n\r\nWARC/1.0\r\n..." in
    * the middle of a payload must stay payload. */
  private def mkPayload(rnd: Random): Array[Byte] = {
    val base = rnd.nextInt(4) match {
      case 0 => Array.empty[Byte]
      case 1 => // printable + multibyte unicode through UTF-8
        val s = (0 until rnd.nextInt(80))
          .map(_ => "aZ9 .é日ü\t\n".charAt(rnd.nextInt(10)))
          .mkString
        s.getBytes("UTF-8")
      case 2 => // CRLF runs (the record trailer bytes, mid-payload)
        ("x" * rnd.nextInt(10) + "\r\n\r\n" + "y" * rnd.nextInt(10))
          .getBytes("US-ASCII")
      case _ => // a fake nested record header — full framing text
        ("pre\r\n\r\nWARC/1.0\r\nWARC-Target-URI: http://fake\r\n" +
          "Content-Length: 7\r\n\r\npost").getBytes("US-ASCII")
    }
    if (rnd.nextBoolean()) base ++ Array.fill(rnd.nextInt(600))(
      (rnd.nextInt(94) + 33).toByte)
    else base
  }

  private def mkCase(seed: Int, minRecords: Int): Seq[Rec] = {
    val rnd = new Random(seed * 2654435761L)
    val n = minRecords + rnd.nextInt(8 - minRecords + 1)
    (0 until n).map { i =>
      Rec(s"http://fuzz.local/$seed/$i",
        f"2026-0${1 + rnd.nextInt(9)}%s-01T00:00:0${rnd.nextInt(10)}%sZ",
        s"urn:fuzz:$seed:$i", mkPayload(rnd))
    }
  }

  private def writeArchive(dir: java.nio.file.Path, name: String,
                           recs: Seq[Rec], cutAt: Long = -1L): Unit = {
    val bytes = recs.flatMap(r =>
      WarcFormat.frame(r.uri, r.date, r.rid, r.payload)).toArray
    val out = if (cutAt >= 0) bytes.take(cutAt.toInt) else bytes
    Files.write(dir.resolve(name), out,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  private def frameLen(r: Rec): Long =
    WarcFormat.frame(r.uri, r.date, r.rid, r.payload).length.toLong

  /** (uri, n_bytes, contentOrNull) rows actually scanned. */
  private def scan(dir: String, full: Boolean): Set[(String, Int, String)] = {
    val df = spark.read.format("graft.sources.WarcSource").load(dir)
    val proj = if (full) df.select("uri", "n_bytes", "content")
      else df.select("uri", "n_bytes")
    proj.collect().map { r =>
      (r.getString(0), r.getInt(1), if (full) r.getString(2) else null)
    }.toSet
  }

  private def expected(cases: Seq[(Int, Seq[Rec])], full: Boolean)
      : Set[(String, Int, String)] =
    cases.flatMap(_._2).map(r => (r.uri, r.payload.length,
      if (full) new String(r.payload, "UTF-8") else null)).toSet

  test("300 random archives: full read == framed records; " +
      "header-only read has identical membership") {
    val dir = graft.SparkSpec.tempDir("warc_fuzz_intact_")
    val cases = (0 until 300).map(seed => seed -> mkCase(seed, 0))
    cases.foreach { case (seed, recs) =>
      writeArchive(dir, f"case$seed%04d.warc", recs) }
    assert(scan(dir.toString, full = true) === expected(cases, full = true))
    assert(scan(dir.toString, full = false) === expected(cases, full = false))
  }

  test("300 archives truncated inside the final record: both " +
      "projections yield exactly the preceding records") {
    val dir = graft.SparkSpec.tempDir("warc_fuzz_torn_")
    val cases = (0 until 300).map { seed =>
      val recs = mkCase(seed, 1)
      val rnd = new Random(seed * 40503L + 7)
      val start = recs.init.map(frameLen).sum
      val last = recs.last
      // any offset from "zero bytes of the final record" up to (but
      // not including) its payload end — past that the record is
      // complete (only its CRLF trailer is torn) and must be KEPT.
      // Empty-payload finals exclude one more byte: with the payload
      // ending exactly at the header's blank line, "…\r\n\r<EOF>" is
      // byte-indistinguishable from a complete empty record, so the
      // reader keeps it (content is empty either way) — not a fuzzable
      // boundary.
      val headerLen = frameLen(last) - last.payload.length - 4
      val span = headerLen + last.payload.length -
        (if (last.payload.isEmpty) 1 else 0)
      val cut = start + (rnd.nextLong() & Long.MaxValue) % span
      writeArchive(dir, f"case$seed%04d.warc", recs, cutAt = cut)
      seed -> recs.init
    }
    assert(scan(dir.toString, full = true) === expected(cases, full = true))
    assert(scan(dir.toString, full = false) === expected(cases, full = false))
  }

  test("a final record with a torn TRAILER (payload complete) is kept") {
    val dir = graft.SparkSpec.tempDir("warc_fuzz_trailer_")
    val recs = mkCase(9999, 2)
    val cut = recs.map(frameLen).sum - 3 // inside the closing \r\n\r\n
    writeArchive(dir, "case.warc", recs, cutAt = cut)
    val exp = recs.map(r => (r.uri, r.payload.length,
      new String(r.payload, "UTF-8"))).toSet
    assert(scan(dir.toString, full = true) === exp)
  }
}
