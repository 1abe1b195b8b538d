package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

class HarnessSpec extends SparkSpec {

  private def tree(p: Path): Seq[Path] = {
    val s = Files.walk(p)
    try s.iterator().asScala.toVector finally s.close()
  }

  private def deleteTree(p: Path): Unit =
    tree(p).reverse.foreach(Files.delete)

  test("fixture warm-up reports exactly the fixture table that fails " +
      "to read") {
    val src = Paths.get("/root/testdata/sf0.001")
    val dir = SparkSpec.tempDir("graft-warm")
    try {
      tree(src).foreach { p =>
        val to = dir.resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(to)
        else Files.copy(p, to)
      }
      assert(Harness.warmFixtures(spark, dir.toString) === Nil)
      deleteTree(dir.resolve("orders.parquet"))
      val failures = Harness.warmFixtures(spark, dir.toString)
      assert(failures.map(_.name) === Seq("orders"))
      assert(failures.head.message.nonEmpty)
    } finally deleteTree(dir)
  }

  test("oracle_sql.json round-trips SQL holding control characters, " +
      "quotes and backslashes") {
    val sql = Map(
      "q_tab_cr" -> "SELECT 'a\tb' AS x\r\nFROM t",
      "q_quote_backslash" -> "SELECT \"c\" FROM t WHERE s = '\\\\'",
      "q_ctrl" -> "SELECT 1 -- \u0001 end")
    val dir = SparkSpec.tempDir("graft-oracle")
    try {
      Verify.writeOracleSql(dir.toString, sql)
      val back = new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(dir.resolve("oracle_sql.json").toFile,
          classOf[java.util.Map[String, String]])
      assert(back.asScala.toMap === sql)
    } finally deleteTree(dir)
  }

  test("Bench reports a truncated bands file and an unparseable " +
      "progress line instead of dropping them") {
    val dir = SparkSpec.tempDir("graft-bench-io")
    try {
      val bands = dir.resolve("bands.json")
      Files.write(bands,
        """{"bands": {"q_a": {"min": 1.0, "max"""".getBytes("UTF-8"))
      val (node, bandsError) = Bench.readJson(bands.toString)
      assert(node.isEmpty)
      assert(bandsError.map(_.name) === Some(bands.toString))
      assert(bandsError.exists(_.message.nonEmpty))
      // an absent file is no comparison, not a failure
      assert(Bench.readJson(dir.resolve("absent.json").toString) ===
        (None, None))
      val progress = dir.resolve("progress.jsonl")
      Files.write(progress, Seq(
        """{"gate":"q_a","sec":1.5,"gc_ms":3,"heap_mb":10.0,"load1":0.5}""",
        """{"gate":"q_b","sec":""",
        """{"gate":"q_c","sec":2.0,"gc_ms":4,"heap_mb":11.0}""").asJava)
      val (gates, progressErrors) = Bench.readProgress(progress.toString)
      assert(gates.toSeq === Seq("q_a" -> ((1.5, 3L, 10.0, 0.5)),
        "q_c" -> ((2.0, 4L, 11.0, -1.0))))
      assert(progressErrors.map(_.name) === Seq(s"$progress:2"))
      assert(progressErrors.head.message.nonEmpty)
    } finally deleteTree(dir)
  }

  test("Verify's manifest records each gate's rows, seconds and the " +
      "error of a gate over a missing fixture table") {
    val empty = SparkSpec.tempDir("graft-verify-sf")
    val out = SparkSpec.tempDir("graft-verify-out")
    try {
      Verify.dump(spark, empty.toString, out.toString, Seq(
        "q_ok" -> ((s, _) => s.range(3).toDF()),
        "q_no_orders" -> ((s, d) => Tables.orders(s, d))), poolN = 2)
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(out.resolve("verify_manifest.json").toFile)
      assert(m.fieldNames().asScala.toSeq === Seq("q_no_orders", "q_ok"))
      assert(m.get("q_ok").get("rows").asLong === 3L)
      assert(m.get("q_ok").get("error").isNull)
      assert(m.get("q_ok").get("seconds").asDouble >= 0.0)
      assert(m.get("q_no_orders").get("rows").isNull)
      assert(m.get("q_no_orders").get("error").asText
        .contains("orders.parquet"))
      assert(Files.isDirectory(out.resolve("q_ok")))
      assert(!Files.exists(out.resolve("q_no_orders")))
    } finally { deleteTree(empty); deleteTree(out) }
  }

  test("runGate returns a failing gate's error naming the missing file, " +
      "and frees the blocks a gate checkpoints") {
    val empty = SparkSpec.tempDir("graft-gate-sf")
    try {
      val baseline = Harness.gateBaseline(spark)
      val failed = Harness.runGate(spark, empty.toString, "q_no_orders",
        (s, d) => Tables.orders(s, d), baseline = Some(baseline))
      assert(failed.error.exists(_.contains("orders.parquet")))
      var pinned = Set.empty[Int]
      val ok = Harness.runGate(spark, empty.toString, "q_checkpoint",
        { (s, _) =>
          val df = s.range(100).toDF().localCheckpoint()
          pinned = s.sparkContext.getPersistentRDDs.keySet.toSet -- baseline
          df
        }, baseline = Some(baseline))
      assert(ok.error.isEmpty && ok.sec >= 0.0 && ok.gcMs >= 0L)
      assert(pinned.nonEmpty)
      assert(spark.sparkContext.getPersistentRDDs.keySet.toSet
        .subsetOf(baseline))
    } finally deleteTree(empty)
  }

  test("the gate watchdog fails a gate stuck past its timeout well " +
      "before the gate would finish, and the session runs the next gate") {
    val sleepy = org.apache.spark.sql.functions.udf { (x: Long) =>
      Thread.sleep(30000); x }
    val t0 = System.nanoTime()
    val stuck = Harness.runGate(spark, "", "q_sleep",
      (s, _) => s.range(0, 1, 1, 1)
        .select(sleepy(org.apache.spark.sql.functions.col("id"))),
      timeoutSec = Some(1))
    val wall = (System.nanoTime() - t0) / 1e9
    assert(stuck.error.exists(_.contains("watchdog")), stuck.error)
    assert(wall < 15.0, s"watchdog took $wall s")
    val next = Harness.runGate(spark, "", "q_next",
      (s, _) => s.range(10).toDF(), timeoutSec = Some(30))
    assert(next.error === None)
  }
}
