package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class JoinsSpec extends SparkSpec {
  import spark.implicits._

  private def fact = Seq((1, "ang mo kio"), (2, "BEDOK"), (3, "nowhere"))
    .toDF("id", "town")
  private def dim = Seq(("Ang Mo Kio", 20), ("Bedok", 16))
    .toDF("town", "district")

  test("broadcastEnrich is a left join keeping unmatched fact rows") {
    val out = Joins.broadcastEnrich(
      fact.withColumn("town", lower(col("town"))),
      dim.withColumn("town", lower(col("town"))), Seq("town"))
    assert(out.count() == 3)
    assert(out.filter(col("district").isNull).count() == 1)
  }

  test("broadcastEnrich plan is a broadcast hash join") {
    val out = Joins.broadcastEnrich(
      fact.withColumn("town", lower(col("town"))),
      dim.withColumn("town", lower(col("town"))), Seq("town"))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("normalizedEnrich joins case-insensitively and restores case") {
    val out = Joins.normalizedEnrich(fact, dim, "town", initcap)
      .orderBy("id").collect()
    assert(out(0).getAs[String]("town") == "Ang Mo Kio")
    assert(out(0).getAs[Int]("district") == 20)
    assert(out(1).getAs[Int]("district") == 16)
    assert(out(2).isNullAt(out(2).fieldIndex("district")))
  }

  test("distinctDimEnrich dedups dim before join (no fanout)") {
    val dupDim = dim.union(dim) // duplicated dim rows would fan out
    val out = Joins.distinctDimEnrich(
      fact.withColumn("town", lower(col("town"))),
      dupDim.withColumn("town", lower(col("town"))),
      Seq("town", "district"), "town")
    assert(out.count() == 3)
  }

  test("bloomPrunedJoin / inPrunedJoin reject non-superset-safe join " +
      "types") {
    val f = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    val d = spark.range(10).selectExpr("id AS k", "id AS w")
    for (how <- Seq("left", "left_outer", "full", "full_outer",
        "left_anti", "anti")) {
      intercept[IllegalArgumentException] {
        Joins.bloomPrunedJoin(f, d, "k", how = how)
      }
      intercept[IllegalArgumentException] {
        Joins.inPrunedJoin(f, d, Seq("k"), how = how)
      }
    }
    // superset-safe types construct fine
    assert(Joins.bloomPrunedJoin(f, d, "k", how = "left_semi").count() == 10)
    assert(Joins.inPrunedJoin(f, d, Seq("k"), how = "right").count() == 10)
  }

  test("pruned joins reject fact/dim key dataType mismatches " +
      "(hash/set membership would silently never match)") {
    val f = spark.range(100).selectExpr("CAST(id AS INT) AS k", "id AS v")
    val d = spark.range(10).selectExpr("id AS k", "id AS w") // LONG key
    intercept[IllegalArgumentException] {
      Joins.bloomPrunedJoin(f, d, "k")
    }
    intercept[IllegalArgumentException] {
      Joins.inPrunedJoin(f, d, Seq("k"))
    }
    // cast one side and both work again
    val f2 = f.withColumn("k", col("k").cast("long"))
    assert(Joins.bloomPrunedJoin(f2, d, "k").count() == 10)
    assert(Joins.inPrunedJoin(f2, d, Seq("k")).count() == 10)
  }

  test("bloomPrunedJoin on a composite key matches the plain join") {
    val f = spark.range(500).selectExpr("id % 20 AS k1", "id % 7 AS k2",
      "id AS v")
    val d = spark.range(6).selectExpr("id AS k1", "id % 7 AS k2",
      "id * 10 AS w")
    val got = Joins.bloomPrunedJoin(f, d, Seq("k1", "k2"), "inner",
        1 << 16, 7)
      .sort("k1", "k2", "v").collect().toSeq
    val expected = f.join(d, Seq("k1", "k2"))
      .sort("k1", "k2", "v").collect().toSeq
    assert(got == expected && got.nonEmpty)
  }

  test("inPrunedJoin pushes the key set into the fact scan and bounds " +
      "the collect") {
    val dir = graft.SparkSpec.tempDir("inpruned").toString
    spark.range(1000).selectExpr("id AS k", "id * 2 AS v")
      .write.mode("overwrite").parquet(s"$dir/fact")
    val fact = spark.read.parquet(s"$dir/fact")
    val d = spark.range(5).selectExpr("id * 100 AS k", "id AS w")
    val joined = Joins.inPrunedJoin(fact, d, Seq("k"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(k"),
      s"expected In filter pushed to the parquet scan:\n$plan")
    assert(joined.count() == 5)
    intercept[IllegalArgumentException] {
      Joins.inPrunedJoin(fact, spark.range(50).selectExpr("id AS k"),
        Seq("k"), maxKeys = 10)
    }
  }

  test("enrichOverwrite overwrites colliding fact columns from dim") {
    val f = fact.withColumn("district", lit(-1))
    val d = dim.withColumn("town", lower(col("town")))
    val out = Joins.enrichOverwrite(
      f.withColumn("town", lower(col("town"))), d, "town", Seq("district"))
      .orderBy("id").collect()
    assert(out(0).getAs[Int]("district") == 20)
    assert(out(1).getAs[Int]("district") == 16)
    assert(out(2).isNullAt(out(2).fieldIndex("district"))) // unmatched → null
  }
}
