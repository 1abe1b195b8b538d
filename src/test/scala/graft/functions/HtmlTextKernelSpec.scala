package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins [[TextKernels.seleniumText]] byte-identical to the regex-chain
  * reference formulation ([[graft.ops.HtmlListing.textRef]]) — targeted
  * adversarial strings plus a seeded compositional fuzz. */
class HtmlTextKernelSpec extends SparkSpec {
  import spark.implicits._

  private def parity(inputs: Seq[String]): Unit = {
    val rows = inputs.toDF("s")
      .select(col("s"), GraftFunctions.seleniumText(col("s")).as("k"),
        graft.ops.HtmlListing.textRef(col("s")).as("r"))
      .collect()
    rows.foreach { row =>
      assert(row.getString(1) === row.getString(2),
        s"kernel/regex divergence on input: ${row.getString(0)}")
    }
  }

  test("targeted edges: br variants, unclosed tags, entity order, " +
    "lookalikes, trim") {
    parity(Seq(
      "", "   ", "plain", "  padded  ", "\tnot-space-trimmed\t",
      "<br>", "<br/>", "<br />", "<BR\t/>", "<br\n>", "<bro>", "<b r>",
      "<br class='x'/>", "a<br>b", "a<b>c</b>d",
      "<unclosed", "a<unclosed", "a<b&gt;c", "a<b&gt;>c",
      "<p attr='>'>x</p>", "x<>y", "<<>>", "a<b<c>d",
      "&lt;", "&gt;", "&quot;", "&#39;", "&amp;",
      "&amp;lt;", "&amp;quot;", "&&lt;", "&#&lt;", "&unknown;", "&",
      "&am", "&lt", "emoji 🏠 &amp; text",
      // r9-advice adversarial shape: a stripped tag joins '&' with
      // entity text — the chain (tags first) decodes these; a fused
      // strip+decode pass would not
      "&<b>lt;", "&<b>amp;", "&<i>quot;x", "&l<b>t;", "&am<br>p;",
      "&<b>#39;", "a&<span class='x'>gt;b", "&<unclosed lt;",
      " \n inner newline kept, outer spaces trimmed \n ",
      "<div class=\"x\">deep <span>nested</span></div>",
      "tag<hr>entity&lt;mix&amp;<br/>end "))
  }

  test("seeded compositional fuzz: 300 random splices of the edge " +
    "vocabulary") {
    val vocab = Array("<br>", "<br />", "<b>", "</b>", "<", ">", "&",
      "&lt;", "&amp;", "&quot;", "&#39;", " ", "\n", "\t", "x", "é", "🏠",
      "<p>", "</p>", "tag", "&amp;lt;", "'", "\"", "<unclosed",
      // bare entity TAILS: with '&' and tags also in the vocabulary,
      // splices can form tag-joined entities ("&<b>lt;") — the shape
      // the r9 fuzz alphabet could not generate
      "lt;", "gt;", "amp;", "quot;", "#39;")
    val rnd = new scala.util.Random(42)
    val inputs = (1 to 300).map { _ =>
      (0 until rnd.nextInt(20)).map(_ => vocab(rnd.nextInt(vocab.length)))
        .mkString
    }
    parity(inputs)
  }
}
