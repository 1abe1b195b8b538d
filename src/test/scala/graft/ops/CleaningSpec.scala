package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class CleaningSpec extends SparkSpec {
  import spark.implicits._

  test("normalizeNulls maps sentinel strings to NULL on string cols only") {
    val df = Seq(("None", 1), ("", 2), ("ok", 3)).toDF("s", "i")
    val out = Cleaning.normalizeNulls(df).orderBy("i").collect()
    assert(out(0).isNullAt(0) && out(1).isNullAt(0))
    assert(out(2).getString(0) == "ok")
    assert((0 to 2).forall(i => !out(i).isNullAt(1))) // int col untouched
  }

  test("normalizeNulls reads each input column once: every output " +
      "column references its input attribute exactly once") {
    val df = Seq(("None", "x", 1)).toDF("a", "b", "i")
    val plan = Cleaning.normalizeNulls(df).queryExecution.analyzed
    val input = plan.children.head.output
    assert(plan.expressions.size == input.size)
    plan.expressions.zip(input).foreach { case (out, in) =>
      val refs = out.collect {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
          if a.exprId == in.exprId => a
      }
      assert(refs.size == 1, s"${in.name}: $out")
    }
  }

  test("nullIfPrefix nulls garbage-prefixed values") {
    val df = Seq("(D19) x", "keep me").toDF("v")
    val out = df.select(Cleaning.nullIfPrefix(col("v"), "(D").as("v"))
      .collect()
    assert(out(0).isNullAt(0))
    assert(out(1).getString(0) == "keep me")
  }

  test("parseMoney strips $ and commas") {
    val out = Seq("$550,000").toDF("v")
      .select(Cleaning.parseMoney(col("v"))).collect().head.getInt(0)
    assert(out == 550000)
  }

  test("castColumns applies the dtype map in one projection") {
    val df = Seq(("1", "2.5")).toDF("a", "b")
    val out = Cleaning.castColumns(df,
      Map("a" -> IntegerType, "b" -> DoubleType))
    assert(out.schema("a").dataType == IntegerType)
    assert(out.schema("b").dataType == DoubleType)
    val r = out.collect().head
    assert(r.getInt(0) == 1 && r.getDouble(1) == 2.5)
  }

  test("monthToDate assembles first-of-month date") {
    val out = Seq("2017-03").toDF("v")
      .select(Cleaning.monthToDate(col("v"))).collect().head.getDate(0)
    assert(out.toString == "2017-03-01")
  }

  test("remainingLease = 99 - (saleYear - top)") {
    val out = Seq((2024, 1990)).toDF("y", "t")
      .select(Cleaning.remainingLease(col("y"), col("t")))
      .collect().head.getInt(0)
    assert(out == 65)
  }

  test("sqmToSqft uses the reference 3.28084^2 factor") {
    val out = Seq(100).toDF("v")
      .select(Cleaning.sqmToSqft(col("v"))).collect().head.getInt(0)
    assert(out == 1076)
  }

  test("normalizeFurnishing: exact branches, unknown passes through") {
    val c = Cleaning.normalizeFurnishing(col("v"))
    val vals = Seq("Partially Furnished", "Fully Furnished", "Unfurnished",
      "whatever").toDF("v").select(c).collect()
      .map(r => if (r.isNullAt(0)) null else r.getString(0))
    assert(vals.toSeq == Seq("partial", "full", "unfurnished", "whatever"))
    val srx = Cleaning.normalizeFurnishing(col("v"), "not furnished")
    val v2 = Seq("Not Furnished").toDF("v").select(srx).collect()
      .head.getString(0)
    assert(v2 == "unfurnished")
  }

  test("fixFlatTypeLabels") {
    val vals = Seq("3 Room", "Multi G").toDF("v")
      .select(Cleaning.fixFlatTypeLabels(col("v"))).collect()
      .map(_.getString(0))
    assert(vals.toSeq == Seq("3 Rooms", "Multi-g"))
  }

  test("stripEmoji removes supplementary-plane chars, folds newlines") {
    val out = Seq("nice 😀 flat\nview").toDF("v")
      .select(Cleaning.stripEmoji(col("v"))).collect().head.getString(0)
    assert(out == "nice  flat view")
  }

  test("stripNonAscii drops non-ASCII runs") {
    val out = Seq("café latte").toDF("v")
      .select(Cleaning.stripNonAscii(col("v"))).collect().head.getString(0)
    assert(out == "caf latte")
  }
}
