package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the round-17 max-anchor fuse ([[Checkpoints.checkpointWithMax]],
  * r16 verdict item 5): the observed-metric max must equal the separate
  * aggregate it replaced, the checkpointed rows must be unchanged, the
  * empty frame must yield None (not a crash), and the consumers that
  * switched to it (BradleyTerry / RankCentrality fits) must produce
  * bit-identical scores to the two-job crossJoin(broadcast(max)) shape,
  * which is re-derived inline here as the reference. */
class CheckpointWithMaxSpec extends SparkSpec {
  import spark.implicits._

  test("max metric equals the separate aggregate; rows unchanged") {
    val df = spark.range(1000)
      .select(col("id"), ((col("id") * 37) % 101 + 1).as("sr"))
    val (ck, mx) = Checkpoints.checkpointWithMax(df.toDF(), "sr")
    try {
      assert(mx === Some(df.agg(max(col("sr"))).head().getLong(0)))
      assert(ck.orderBy("id").collect().toSeq ===
        df.orderBy("id").collect().toSeq)
    } finally Checkpoints.free(ck)
  }

  test("empty frame yields None and an empty checkpoint") {
    val df = spark.range(10).where(col("id") < 0)
      .select(col("id"), col("id").as("sr"))
    val (ck, mx) = Checkpoints.checkpointWithMax(df.toDF(), "sr")
    try {
      assert(mx === None)
      assert(ck.count() === 0L)
    } finally Checkpoints.free(ck)
  }

  test("a non-long metric column is rejected with a clear message") {
    val df = spark.range(10).select(col("id"), col("id").cast("int").as("sr"))
    val e = intercept[IllegalArgumentException] {
      Checkpoints.checkpointWithMax(df, "sr")
    }
    assert(e.getMessage.contains("'sr' is IntegerType, not LongType"))
  }

  test("BradleyTerry fit identical to the unfused reference shape") {
    val duels = (0L until 600L)
      .map(i => (i % 23, (i * 7 + 1) % 19 + 23, i % 3 != 0))
      .toDF("i", "j", "awin")
    val got = BradleyTerry.fit(duels, iters = 4)
      .orderBy("id").collect().toSeq
    // reference: the pre-r17 two-job anchor, reproduced literally
    val pairs = BradleyTerry.pairStats(duels).localCheckpoint()
    val sym = pairs.select(col("i"), col("j"), col("n"))
      .unionByName(pairs.select(col("j").as("i"), col("i").as("j"),
        col("n")))
    val nodes = sym.select(col("i").as("id")).distinct()
    val wins = pairs.select(col("i").as("id"), col("wi").as("w"))
      .unionByName(pairs.select(col("j").as("id"),
        (col("n") - col("wi")).as("w")))
      .groupBy("id").agg(sum(col("w")).as("w"))
    val wt = nodes.join(wins, Seq("id"), "left")
      .select(col("id"), coalesce(col("w"), lit(0L)).as("w"))
      .localCheckpoint()
    var sv = wt.select(col("id"), lit(1000000L).as("s"))
    for (_ <- 1 to 4) {
      val den = sym
        .join(sv.select(col("id").as("i"), col("s").as("si")), Seq("i"))
        .join(sv.select(col("id").as("j"), col("s").as("sj")), Seq("j"))
        .select(col("i").as("id"),
          expr("n * 1000000000L div (si + sj)").as("term"))
        .groupBy("id").agg(sum(col("term")).as("den"))
      val raw = wt.join(den, Seq("id"))
        .select(col("id"), expr("w * 1000000000L div den").as("sr"))
        .localCheckpoint()
      val mx = raw.agg(max(col("sr")).as("mx"))
      sv = raw.crossJoin(broadcast(mx))
        .select(col("id"),
          greatest(lit(1L), expr("sr * 1000000L div mx")).as("s"))
        .localCheckpoint()
    }
    val want = sv.select(col("id"), col("s").as("bt"))
      .orderBy("id").collect().toSeq
    assert(got === want)
  }
}
