package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Source-level regression gates over src/main/scala/graft (comment
  * lines ignored): every harness main gets its session from
  * [[Harness.session]], so the bench conf cannot drift between copies,
  * no code path forks on a `graft.*` JVM system property, native
  * kernels are built as Columns, never looked up by name in a
  * session's function registry, every stream session comes from
  * [[graft.streaming.StreamingOps.session]], and every streaming fold,
  * AvailableNow run and fixture-layout dispatch goes through
  * [[graft.streaming.StreamingOps]], every gate's job group is set by
  * [[Harness.runGate]]'s watchdog, and the set of `SPARK_GRAFT_*`
  * environment knobs is pinned. */
class SourceSweepSpec extends org.scalatest.funsuite.AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft")

  /** Each main source's lines outside comments, keyed by its path
    * relative to the source root. */
  private lazy val codeLines: Map[String, Vector[String]] = {
    val s = Files.walk(root)
    val files = try s.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toVector
      finally s.close()
    files.map { p =>
      root.relativize(p).toString ->
        new String(Files.readAllBytes(p), "UTF-8").linesIterator.filter { l =>
          val t = l.trim
          !(t.startsWith("*") || t.startsWith("//") || t.startsWith("/*"))
        }.toVector
    }.toMap
  }

  /** Main sources containing `needle` outside comment lines. */
  private def filesContaining(needle: String): Set[String] =
    codeLines.collect { case (f, ls) if ls.exists(_.contains(needle)) => f }
      .toSet

  test("SparkSession.builder() appears only in Harness and the " +
      "product CLI (jobs/Pipeline)") {
    assert(filesContaining("SparkSession.builder()") ===
      Set("Harness.scala", "jobs/Pipeline.scala"))
  }

  test("no System.getProperty(\"graft.*\") forks remain") {
    assert(filesContaining("System.getProperty(\"graft.") === Set.empty)
  }

  test("no GraftFunctions.ensureRegistered call remains") {
    assert(filesContaining("ensureRegistered") === Set.empty)
  }

  test("no call_function(\"...\") names a native kernel") {
    val byName = graft.functions.GraftFunctions.natives.map(_._1)
      .flatMap(n => filesContaining(s"call_function(\"$n\"").map(n -> _))
    assert(byName === Seq.empty)
  }

  test("the stream-session confs are set only in " +
      "StreamingOps.session") {
    assert(filesContaining("\"spark.sql.shuffle.partitions\", \"4\"") ===
      Set("streaming/StreamingOps.scala"))
    assert(filesContaining("checkpointFileManagerClass") ===
      Set("streaming/StreamingOps.scala"))
  }

  test("foreachBatch, the AvailableNow trigger and the file-or-" +
      "directory table dispatch appear only in StreamingOps") {
    for (needle <- Seq("foreachBatch(", "Trigger.AvailableNow()",
        "getFileStatus("))
      assert(filesContaining(needle) === Set("streaming/StreamingOps.scala"),
        needle)
  }

  test("the SPARK_GRAFT_* knobs are exactly the eleven kept, and only " +
      "Harness sets a job group") {
    val knobs = codeLines.values.flatten
      .flatMap("SPARK_GRAFT_[A-Z0-9_]+".r.findAllIn(_)).toSet
    assert(knobs === Set("SPARK_GRAFT_AB_CONF", "SPARK_GRAFT_AB_SAMPLE",
      "SPARK_GRAFT_BENCH_BANDS", "SPARK_GRAFT_BENCH_BASELINE",
      "SPARK_GRAFT_BENCH_OUT", "SPARK_GRAFT_BENCH_PROGRESS",
      "SPARK_GRAFT_CPUS", "SPARK_GRAFT_GATE_TIMEOUT_SEC", "SPARK_GRAFT_ONLY",
      "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_SKIP_SETUP"))
    assert(filesContaining("setJobGroup(") === Set("Harness.scala"))
  }
}
