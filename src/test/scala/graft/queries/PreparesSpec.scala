package graft.queries

import graft.SparkSpec
import scala.jdk.CollectionConverters._

/** Pins the bench setup-pass contract ([[Registry.prepares]]): every
  * registered one-time store build runs cleanly, is idempotent on
  * re-entry (second pass must not rebuild — its guard finds the store
  * complete, so no [[graft.ops.StoreLedger]] key's build count grows),
  * and names are unique. A prepare that throws silently degrades the
  * bench back to in-gate builds, so this is the regression net for the
  * setup pass itself. The prepares `perfbench/workloads.json` names
  * must stay registered: `perfbench`'s runner fails on an unknown one. */
class PreparesSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** Build-block runs per store key, as the ledger holds them now. */
  private def runs: Map[String, Int] =
    graft.ops.StoreLedger.buildLog.asScala.map { case (k, r) => k -> r.runs }
      .toMap

  test("each prepare name belongs to one store value, and a gate " +
      "selection prepares exactly its gates' stores") {
    val declared = Registry.all.flatMap(_.stores).distinct
    assert(!declared.contains(null))
    val byName = declared.groupBy(_.name).filter(_._2.size > 1).keys
    assert(byName.isEmpty, s"one name, two stores: $byName")
    assert(Registry.prepares.map(_._1) === declared.map(_.name))
    val two = Registry.all.filter(q =>
      Set("q_dedup_flagship", "q_stream_neardup")(q.name))
    assert(Registry.storesOf(two).map(_._1) ===
      Seq("shingle_corpus", "lsh_corpus_store"))
  }

  test("every prepare perfbench/workloads.json lists is registered") {
    val wl = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("perfbench/workloads.json"))
      .get("workloads")
    val listed = wl.properties().asScala.toSeq.flatMap(e =>
      e.getValue.path("prepares").elements().asScala.map(_.asText()))
    assert(listed.nonEmpty)
    val unknown = listed.filterNot(Registry.prepares.map(_._1).toSet)
    assert(unknown.isEmpty, s"workloads.json names unregistered " +
      s"prepares: ${unknown.mkString(", ")}")
  }

  test("every prepare runs, is idempotent, and names are unique") {
    val names = Registry.prepares.map(_._1)
    assert(names.distinct == names, s"duplicate prepare names: $names")
    assert(names.nonEmpty)
    Registry.prepares.foreach { case (name, fn) =>
      fn(spark, sf) // first build — must not throw
      val before = runs
      fn(spark, sf) // re-entry — must hit the guard, not rebuild
      val rebuilt = runs.filter { case (k, n) => n > before.getOrElse(k, 0) }
      assert(rebuilt.isEmpty,
        s"prepare '$name' re-ran its build on re-entry: " +
          rebuilt.keys.toSeq.sorted.mkString(", "))
    }
  }
}
