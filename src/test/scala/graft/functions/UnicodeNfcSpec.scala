package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Contract of the NFC kernel: UAX #15 canonical composition, ASCII
  * identity fast-path (same object, no copy), idempotence, and
  * eval/codegen agreement through a real projection. */
class UnicodeNfcSpec extends SparkSpec {

  private val composed = "café"     // é U+00E9
  private val decomposed = "café"  // e + combining acute U+0301

  test("NFD input composes to NFC; NFC input is unchanged") {
    assert(UnicodeKernels.nfc(UTF8String.fromString(decomposed)).toString
      == composed)
    assert(UnicodeKernels.nfc(UTF8String.fromString(composed)).toString
      == composed)
  }

  test("pure-ASCII input returns the SAME object (fast path, no copy)") {
    val in = UTF8String.fromString("plain ascii text 123")
    assert(UnicodeKernels.nfc(in) eq in)
  }

  test("idempotent, and null propagates") {
    val once = UnicodeKernels.nfc(UTF8String.fromString(decomposed))
    assert(UnicodeKernels.nfc(once).toString == once.toString)
    assert(UnicodeNfc(Literal.create(null,
      org.apache.spark.sql.types.StringType)).eval(null) == null)
  }

  test("codegen path through a projection matches interpreted eval, " +
      "and canonicalUnicode collapses NFC/NFD/case variants") {
    import spark.implicits._
    val df = Seq(composed, decomposed, "CAFÉ", "plain").toDF("t")
    val out = df.select(GraftFunctions.unicodeNfc(col("t")).as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq(composed, composed, "CAFÉ", "plain"))
    val canon = df
      .select(graft.ops.Cleaning.canonicalUnicode(col("t")).as("c"))
      .collect().map(_.getString(0)).toSet
    assert(canon == Set(composed, "plain"))
  }
}
