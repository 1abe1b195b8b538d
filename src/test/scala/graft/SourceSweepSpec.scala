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
  * [[Harness.runGate]]'s watchdog, every store is built through
  * [[graft.ops.StoreGuard]], every native kernel's generated code is
  * one call into its Scala body, every iterative operator's rounds run
  * through [[graft.ops.Checkpoints.iterate]], no gate body or oracle
  * chain under queries/ is spelled twice, the product's sentinel
  * nulls and fork-free local writes each have one spelling, every
  * `minByObj(` / `maxByObj(` call outside their definitions in
  * functions/ is in [[graft.ops.Dedup]] (its `firstPerKey` is the one
  * keep-one-row-per-key builder), the content fingerprint
  * `sha2(to_json(struct(` is spelled once, and the set of
  * `SPARK_GRAFT_*` environment knobs is pinned. */
class SourceSweepSpec extends org.scalatest.funsuite.AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft")

  /** Each main source's lines outside comments, with their 1-based
    * line numbers, keyed by its path relative to the source root. */
  private lazy val codeLines: Map[String, Vector[(String, Int)]] = {
    val s = Files.walk(root)
    val files = try s.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toVector
      finally s.close()
    files.map { p =>
      root.relativize(p).toString ->
        new String(Files.readAllBytes(p), "UTF-8").linesIterator
          .zip(Iterator.from(1)).filter { case (l, _) =>
            val t = l.trim
            !(t.startsWith("*") || t.startsWith("//") || t.startsWith("/*"))
          }.toVector
    }.toMap
  }

  /** Main sources containing `needle` outside comment lines. */
  private def filesContaining(needle: String): Set[String] =
    codeLines.collect {
      case (f, ls) if ls.exists(_._1.contains(needle)) => f
    }.toSet

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
      .flatMap(l => "SPARK_GRAFT_[A-Z0-9_]+".r.findAllIn(l._1)).toSet
    assert(knobs === Set("SPARK_GRAFT_AB_CONF", "SPARK_GRAFT_AB_SAMPLE",
      "SPARK_GRAFT_BENCH_BANDS", "SPARK_GRAFT_BENCH_BASELINE",
      "SPARK_GRAFT_BENCH_OUT", "SPARK_GRAFT_BENCH_PROGRESS",
      "SPARK_GRAFT_CPUS", "SPARK_GRAFT_GATE_TIMEOUT_SEC", "SPARK_GRAFT_ONLY",
      "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_SKIP_SETUP"))
    assert(filesContaining("setJobGroup(") === Set("Harness.scala"))
  }

  test("no native kernel writes Java source with fresh variables: " +
      "generated code only calls the Scala kernel") {
    assert(filesContaining("ctx.freshName(") === Set.empty)
  }

  test("store completion markers and ledger writes appear only in " +
      "StoreGuard") {
    for (needle <- Seq("_GRAFT_COMPLETE", "StoreLedger.lockFor(",
        "StoreLedger.record("))
      assert(filesContaining(needle) === Set("ops/StoreGuard.scala"), needle)
  }

  test("the six iterative operators loop only through " +
      "Checkpoints.iterate, which alone reads an observed convergence " +
      "metric") {
    for (op <- Seq("PageRank", "Communities", "KCore", "BradleyTerry",
        "RankCentrality", "Components");
        needle <- Seq("for (", "while ("))
      assert(!codeLines(s"ops/$op.scala").exists(_._1.contains(needle)),
        s"$op: $needle")
    assert(filesContaining("checkpointObserving(") ===
      Set("ops/Checkpoints.scala"))
  }

  test("no 8 consecutive code lines appear twice under queries/: a " +
      "shared gate body or oracle chain is one def") {
    val width = 8
    val windows = for {
      (f, ls) <- codeLines.toSeq if f.startsWith("queries/")
      code = ls.map { case (l, n) => (l.trim, n) }.filter(_._1.nonEmpty)
      w <- code.sliding(width) if w.size == width
    } yield w.map(_._1) -> (f, w.head._2)
    val repeated = windows.groupBy(_._1).values.filter(_.size > 1)
      .map(_.map(_._2).sorted).toSeq.sortBy(_.head)
      .map(_.map { case (f, n) => s"$f:$n" }.mkString(" = "))
    if (repeated.nonEmpty)
      fail(s"${repeated.size} repeated $width-line windows:\n" +
        repeated.mkString("\n"))
  }

  test("the fs.file.impl write option is spelled only where its " +
      "FileSystem is defined") {
    assert(filesContaining("fs.file.impl") ===
      Set("jobs/NioLocalFileSystem.scala"))
  }

  test("min_by_obj / max_by_obj are called only in Dedup, and the " +
      "content fingerprint is spelled once") {
    for (needle <- Seq("minByObj(", "maxByObj("))
      assert(filesContaining(needle).filterNot(_.startsWith("functions/"))
        === Set("ops/Dedup.scala"), needle)
    val fp = "sha2(to_json(struct("
    assert(codeLines.values.flatten.map(_._1.sliding(fp.length)
      .count(_ == fp)).sum === 1)
  }

  test("no isin(...) + lit(null) sentinel CASE is left in the product " +
      "jobs or Cleaning: sentinels go through the native kernel") {
    val sentinelCase = codeLines.collect {
      case (f, ls) if (f.startsWith("jobs/") || f == "ops/Cleaning.scala") &&
          ls.exists(_._1.contains("isin(")) &&
          ls.exists(_._1.contains("lit(null)")) => f
    }
    assert(sentinelCase.isEmpty)
  }
}
