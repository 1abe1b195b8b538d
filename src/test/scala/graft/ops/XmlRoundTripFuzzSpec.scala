package graft.ops

import scala.util.Random

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fuzz of the native-XML write→read boundary the q_xml_roundtrip
  * store depends on (r10 verdict item 5: the last format edge trusted
  * on fixtures alone). 300 seeded rows of escapable content — the XML
  * metacharacters & < > " ', the CDATA terminator "]]>", embedded
  * newlines/tabs, multibyte unicode — plus long extremes and nulls,
  * written with format("xml") and read back with the gate's
  * explicit-schema recipe. Round-trip must be value-exact per id.
  *
  * Deliberately OUTSIDE the alphabet (XML 1.0 semantics, not bugs):
  * \r (parsers normalize CR/CRLF to LF), control chars < 0x20 other
  * than tab/LF (not representable), and leading/trailing whitespace
  * (the reader's surrounding-space handling is a read option, not a
  * framing property). */
@org.scalatest.tags.Slow
class XmlRoundTripFuzzSpec extends SparkSpec {
  import spark.implicits._

  private val alphabet: IndexedSeq[String] =
    ("abcXYZ019 ".map(_.toString) ++
      Seq("&", "<", ">", "\"", "'", "]]>", "&amp;", "<order>", "\n",
        "\t", "é", "日本", "π", "🙂", "--", "<!--", "-->", "<?xml"))

  private def mkString(rnd: Random): String = {
    val body = (0 until (1 + rnd.nextInt(40)))
      .map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString
    // pin the ends to letters: surrounding-whitespace handling is a
    // reader OPTION (ignoreSurroundingSpaces), not what this fuzzes
    "x" + body + "z"
  }

  test("300 escapable strings + long extremes survive " +
      "write(xml) -> explicit-schema read, value-exact per id") {
    val rows: Seq[(Long, String, java.lang.Long)] =
      (0 until 300).map { i =>
        val rnd = new Random(i * 1000003L + 17)
        val s = if (i % 29 == 0) null else mkString(rnd)
        // Long.MinValue is deliberately EXCLUDED: Spark 4's native XML
        // reader parses "-9223372036854775808" to null (probed — the
        // magnitude overflows before its sign applies; MinValue + 1
        // round-trips fine). An upstream boundary, not a graft recipe
        // property; any gate summing an XML-sourced long column would
        // hit it only on that exact sentinel value.
        val n: java.lang.Long = i % 31 match {
          case 0 => Long.MaxValue
          case 1 => Long.MinValue + 1
          case 2 => null
          case _ => rnd.nextLong() match {
            case Long.MinValue => Long.MinValue + 1
            case v => v
          }
        }
        (i.toLong, s, n)
      }
    val dir = graft.SparkSpec.tempDir("xml_fuzz_").toString
    rows.toDF("id", "s", "n").repartition(4)
      .write.format("xml")
      .option("rootTag", "rows").option("rowTag", "row")
      .mode("overwrite").save(dir)
    val back = spark.read.format("xml").option("rowTag", "row")
      .schema(StructType(Seq(
        StructField("id", LongType),
        StructField("s", StringType),
        StructField("n", LongType))))
      .load(dir)
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2))))
      .sortBy(_._1).toSeq
    assert(back.size === rows.size)
    def esc(s: String): String =
      if (s == null) "<null>"
      else s.flatMap(c => if (c < ' ') f"\\u${c.toInt}%04x" else c.toString)
    rows.sortBy(_._1).zip(back).foreach { case (want, got) =>
      val diffAt = (Option(want._2), Option(got._2)) match {
        case (Some(a), Some(b)) =>
          val i = a.zip(b).indexWhere { case (x, y) => x != y }
          val j = if (i >= 0) i else math.min(a.length, b.length)
          s" first-diff@$j want[${esc(a.slice(j - 5, j + 15))}] " +
            s"got[${esc(b.slice(j - 5, j + 15))}]"
        case _ => ""
      }
      assert(got === want, s"row ${want._1} drifted through the XML " +
        s"boundary: wrote ${esc(want._2)}/${want._3}, read " +
        s"${esc(got._2)}/${got._3}$diffAt")
    }
  }
}
