package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ParsersSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, input: String): Any = {
    val r = Seq(Option(input)).toDF("v").select(c.as("out")).collect().head
    if (r.isNullAt(0)) null else r.get(0)
  }

  test("bedroomCount: reference UDF semantics (srx_transformation.py:68-79)") {
    val c = Parsers.bedroomCount(col("v"))
    assert(one(c, "Studio") == 1)
    assert(one(c, "studio") == 1)
    assert(one(c, "3+1") == 4)
    assert(one(c, "10+2") == 12)
    assert(one(c, "4") == 4)
    assert(one(c, " 4 ") == 4)
    assert(one(c, "junk") == null)
    assert(one(c, null) == null)
    assert(one(c, "3+") == null)
  }

  test("bedroomCountUdf (documented alternative) agrees with built-ins") {
    val inputs = Seq("Studio", "3+1", "4", " 4 ", "junk", "3+", null)
    val df = inputs.map(Option(_)).toDF("v")
    val both = df.select(
      Parsers.bedroomCount(col("v")).as("a"),
      Parsers.bedroomCountUdf(col("v")).as("b")).collect()
    both.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getInt(0) == r.getInt(1))
    }
  }

  test("pricePsf extracts $/psf with commas") {
    val c = Parsers.pricePsf(col("v"))
    assert(one(c, "$1,523 psf") == 1523)
    assert(one(c, "523 psf") == 523)
    assert(one(c, "n/a") == null)
  }

  test("postal sector and postcode") {
    assert(one(Parsers.postalSector(col("v")), "543210") == "54")
    assert(one(Parsers.postcodeFromAddress(col("v")),
      "123A Example Ave 1 (543210)") == "543210")
  }

  test("agent/agency registration numbers") {
    assert(one(Parsers.agencyRegNo(col("v")), "Licence L1234567A held") ==
      "L1234567A")
    assert(one(Parsers.agentRegNo(col("v")), "CEA R123456A") == "R123456A")
    assert(one(Parsers.agentIdAfterHash(col("v")), "agent#R123456A") ==
      "R123456A")
  }

  test("facilities count: null stays null (reference semantics)") {
    val c = Parsers.facilitiesCount(col("v"))
    assert(one(c, "pool,gym,bbq") == 3)
    assert(one(c, "pool") == 1)
    assert(one(c, null) == null)
  }

  test("rebuildLocation strips Blk prefix, uppercases numeric head") {
    val c = Parsers.rebuildLocation(col("v"))
    assert(one(c, "123a upper serangoon rd") == "123A Upper Serangoon Rd")
    assert(one(c, "blk 123a upper serangoon rd") == "123A Upper Serangoon Rd")
    assert(one(c, "upper serangoon rd") == "Upper Serangoon Rd")
  }
}
