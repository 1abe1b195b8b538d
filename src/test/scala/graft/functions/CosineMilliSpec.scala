package graft.functions

import graft.SparkSpec
import graft.ops.Similarity
import org.apache.spark.sql.functions._

class CosineMilliSpec extends SparkSpec {
  import spark.implicits._

  test("native expression is bit-identical to the HOF formulation") {
    // pseudo-random float vectors, deterministic
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }
    val df = rows.toDF("id", "v")
    val a = df.select(col("id"), col("v").as("x"))
    val b = df.select((col("id") + 1).as("id"), col("v").as("y"))
    val both = a.join(b, "id")
      .select(
        Similarity.cosineMilli(col("x"), col("y")).as("hof"),
        GraftFunctions.cosineMilli(col("x"), col("y")).as("native"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("identity and orthogonality") {
    val df = Seq(
      (Seq(1f, 0f, 0f), Seq(1f, 0f, 0f)),
      (Seq(1f, 0f, 0f), Seq(0f, 1f, 0f))
    ).toDF("x", "y")
    val v = df.select(GraftFunctions.cosineMilli(col("x"), col("y")))
      .collect().map(_.getLong(0)).toSeq
    assert(v == Seq(1000L, 0L))
  }

  test("null vector yields null") {
    val df = Seq((Some(Seq(1f, 2f)), Option.empty[Seq[Float]]))
      .toDF("x", "y")
    val r = df.select(GraftFunctions.cosineMilli(col("x"), col("y")))
      .collect().head
    assert(r.isNullAt(0))
  }
}
