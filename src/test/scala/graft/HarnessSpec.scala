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
}
