package graft.queries

import graft.{Harness, SparkSpec}
import scala.jdk.CollectionConverters._

/** Checks that the gates' `Q.stores` declarations suffice for a scoped
  * setup (Bench's `SPARK_GRAFT_ONLY`, GateAB): starting from no stores,
  * a gate that ran only its declared prepares must build no store that
  * a registered prepare builds — otherwise a scoped run times that
  * build inside the gate. Every gate runs at sf0.001 with its stores
  * rebuilt from nothing, so the suite is @Slow. */
@org.scalatest.tags.Slow
class StoreDeclarationsSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val ledger = graft.ops.StoreLedger.buildLog

  /** Drops every table the ledger names, deletes every directory store
    * it names, and clears it. */
  private def noStores(): Unit = {
    ledger.asScala.foreach { case (key, rec) =>
      rec.tables.foreach(graft.ops.Compaction.dropManagedTable(spark, _))
      val dir = new java.io.File(key)
      if (dir.isAbsolute) org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
    ledger.clear()
  }

  test("from no stores, a gate that ran only its declared prepares " +
      "builds no store that a registered prepare builds") {
    // directory stores live under java.io.tmpdir, read per build: a
    // fresh one hides stores an earlier JVM left complete
    val fresh = SparkSpec.tempDir("graft-store-decl")
    val tmp = fresh.toString + java.io.File.separator
    val prevTmp = System.getProperty("java.io.tmpdir")
    System.setProperty("java.io.tmpdir", fresh.toString)
    try {
      /** Build-block runs per store key, directory keys relative to the
        * tmpdir. */
      def runs(): Map[String, Int] = ledger.asScala.map { case (k, r) =>
        k.stripPrefix(tmp) -> r.runs }.toMap
      // store key -> the prepares that build it from no stores
      val owners = Registry.prepares.flatMap { case (name, build) =>
        noStores()
        build(spark, sf)
        runs().collect { case (k, n) if n > 0 => k -> name }
      }.groupMap(_._1)(_._2)
      val baseline = Harness.gateBaseline(spark)
      val problems = Registry.all.flatMap { q =>
        noStores()
        q.stores.foreach(_.build(spark, sf))
        val before = runs()
        val run = Harness.runGate(spark, sf, q.name, q.run,
          baseline = Some(baseline))
        val undeclared = runs().collect {
          case (k, n) if n > before.getOrElse(k, 0) && owners.contains(k) =>
            s"${q.name} builds $k (${owners(k).mkString(" / ")})"
        }
        run.error.map(e => s"${q.name} failed: $e") ++ undeclared.toSeq.sorted
      }
      assert(problems.isEmpty, problems.mkString("\n"))
    } finally {
      noStores()
      System.setProperty("java.io.tmpdir", prevTmp)
    }
  }

  test("pq_codebooks, a JVM memo the ledger cannot see, is declared by " +
      "both gates that read the codebooks it trains") {
    assert(Registry.all.filter(_.stores.exists(_.name == "pq_codebooks"))
      .map(_.name).sorted === Seq("q_ann_pq_recall", "q_ann_pq_topk"))
  }
}
