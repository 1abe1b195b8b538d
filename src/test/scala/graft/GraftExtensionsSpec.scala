package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The extensions class must make every native function SQL-callable
  * and auto-apply the dedup rewrite rule in a session built with
  * `withExtensions` — the spark.sql.extensions deployment path. */
class GraftExtensionsSpec extends AnyFunSuite {

  // getOrCreate REUSES a live default session and silently drops
  // withExtensions, so detach the shared test session first and build
  // a genuinely new one (same SparkContext) with extensions applied;
  // afterAll restores the shared default for the other suites.
  private lazy val spark: SparkSession = {
    val prior = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    prior.foreach { p =>
      SparkSession.setDefaultSession(p)
      SparkSession.setActiveSession(p)
    }
    s
  }

  test("native functions resolve from SQL in an extended session") {
    val r = spark.sql(
      """SELECT
        |  cosine_milli(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |               array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c,
        |  simhash_pack(array(CAST(5 AS BIGINT))) AS sh,
        |  rolling_hash(char_codes('abc')) AS rh,
        |  size(minhash_sig(array(CAST(7 AS BIGINT)), 4)) AS k,
        |  dot_double(array(CAST(2.0 AS FLOAT)),
        |             array(CAST(3.0 AS FLOAT))) AS d,
        |  size(cdc_bounds(char_codes('abcdefghij'), 64)) AS nb,
        |  jaccard_milli(array('a', 'b', 'c'), array('b', 'c', 'd')) AS j
        |""".stripMargin).collect().head
    assert(r.getLong(0) == 1000L)       // cos(v, v) = 1.000
    // single hash: its set bits (0 and 2) win the vote and pack
    // MSB-first into positions 63 and 61
    assert(r.getLong(1) == ((1L << 63) | (1L << 61)))
    assert(r.getLong(2) ==
      ((('a'.toInt * 257L + 'b') % 1000000007L) * 257 + 'c') % 1000000007L)
    assert(r.getInt(3) == 4)
    assert(r.getDouble(4) == 6.0)
    assert(r.getInt(5) >= 2)            // at least [0, n]
    assert(r.getLong(6) == 500L)        // |{b,c}| / |{a,b,c,d}|
  }

  test("kernel misuse fails at analysis, not mid-job") {
    import org.apache.spark.sql.AnalysisException
    // wrong element type
    val e1 = intercept[AnalysisException] {
      spark.sql("SELECT minhash_sig(array('a','b'), 4)").collect()
    }
    assert(e1.getMessage.contains("minhash_sig"))
    // non-foldable k
    val e2 = intercept[AnalysisException] {
      spark.range(1).selectExpr(
        "cdc_bounds(char_codes('abcdefgh'), CAST(id AS INT))").collect()
    }
    assert(e2.getMessage.contains("cdc_bounds"))
    // non-string char_codes input
    val e3 = intercept[AnalysisException] {
      spark.sql("SELECT char_codes(array(1))").collect()
    }
    assert(e3.getMessage.contains("char_codes"))
    // zero mask: would divide by zero PER ROW mid-job if it passed
    val e4 = intercept[AnalysisException] {
      spark.sql(
        "SELECT cdc_bounds(char_codes('abcdefgh'), 0)").collect()
    }
    assert(e4.getMessage.contains("cdc_bounds"))
    // null k: would silently yield an empty signature if it passed
    val e5 = intercept[AnalysisException] {
      spark.sql(
        "SELECT minhash_sig(array(CAST(7 AS BIGINT)), CAST(NULL AS INT))"
      ).collect()
    }
    assert(e5.getMessage.contains("minhash_sig"))
    // negative k
    val e6 = intercept[AnalysisException] {
      spark.sql(
        "SELECT minhash_sig(array(CAST(7 AS BIGINT)), -3)").collect()
    }
    assert(e6.getMessage.contains("minhash_sig"))
  }

  test("subword_stats vocab must be foldable (no Column spelling: the " +
      "builder takes a Seq[String])") {
    val df = spark.range(1).selectExpr("id", "'x' AS text")
    intercept[org.apache.spark.sql.AnalysisException] {
      // non-foldable vocab: built from a column
      df.select(
        org.apache.spark.sql.functions.expr("subword_stats(text, array(text))")
      ).collect()
    }
  }

  test("dedup window idiom is auto-rewritten to min_by aggregate") {
    import spark.implicits._
    val df = Seq((1L, 2, "a"), (1L, 1, "b"), (2L, 5, "c"))
      .toDF("k", "o", "v")
    df.createOrReplaceTempView("ext_dedup_t")
    val q = spark.sql(
      """SELECT k, o, v FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY k ORDER BY o ASC NULLS FIRST) AS rn
        |  FROM ext_dedup_t) WHERE rn = 1
        |""".stripMargin)
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("min_by"), s"rule did not fire:\n$plan")
    assert(q.orderBy("k").collect().map(r => (r.getLong(0), r.getInt(1)))
      .toSeq == Seq((1L, 1), (2L, 5)))
  }
}
