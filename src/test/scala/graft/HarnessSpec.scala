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
    val dir = Files.createTempDirectory("graft-warm")
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
    val dir = Files.createTempDirectory("graft-oracle")
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
    val dir = Files.createTempDirectory("graft-bench-io")
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
}
