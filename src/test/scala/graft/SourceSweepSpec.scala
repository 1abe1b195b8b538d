package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Source-level regression gates over src/main/scala/graft (comment
  * lines ignored): every harness main gets its session from
  * [[Harness.session]], so the bench conf cannot drift between copies,
  * no code path forks on a `graft.*` JVM system property, native
  * kernels are built as Columns, never looked up by name in a
  * session's function registry, and every stream session comes from
  * [[graft.streaming.StreamingOps.session]]. */
class SourceSweepSpec extends org.scalatest.funsuite.AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft")

  /** Main sources containing `needle` outside comment lines, as paths
    * relative to the source root. */
  private def filesContaining(needle: String): Set[String] = {
    val s = Files.walk(root)
    val files = try s.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toVector
      finally s.close()
    files.filter { p =>
      new String(Files.readAllBytes(p), "UTF-8").linesIterator.exists { l =>
        val t = l.trim
        !(t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")) &&
          l.contains(needle)
      }
    }.map(root.relativize(_).toString).toSet
  }

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
}
