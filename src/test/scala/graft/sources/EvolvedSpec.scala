package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins [[Evolved.readMerged]]'s rename reconciliation across era
  * mixes: both eras present (coalesce), single-era subsets (alias /
  * passthrough — must NOT throw), and absent columns (ignored). */
class EvolvedSpec extends SparkSpec {

  private def writeSnap(root: String, snap: Int, renamed: Boolean): Unit = {
    import spark.implicits._
    val df =
      if (renamed)
        Seq((snap * 10L, "new-era")).toDF("k", "order_priority")
      else
        Seq((snap * 10L, "old-era")).toDF("k", "priority")
    df.write.mode("overwrite").parquet(s"$root/snap=$snap")
  }

  test("two-era read coalesces the rename; single-era subsets alias " +
      "or pass through instead of throwing") {
    val root = graft.SparkSpec.tempDir("graft_evolved_spec").toString
    writeSnap(root, 1, renamed = false)
    writeSnap(root, 2, renamed = true)
    val renames = Map("priority" -> "order_priority")

    val both = Evolved.readMerged(spark, root, renames)
      .orderBy("k").select("k", "order_priority").collect()
    assert(both.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((10L, "old-era"), (20L, "new-era")))

    // only the PRE-rename era on the path: old name aliases to new
    val oldOnly = Evolved.readMerged(spark, s"$root/snap=1", renames)
    assert(oldOnly.columns.contains("order_priority") &&
      !oldOnly.columns.contains("priority"))
    assert(oldOnly.select("order_priority").head().getString(0) ==
      "old-era")

    // only the POST-rename era: passthrough
    val newOnly = Evolved.readMerged(spark, s"$root/snap=2", renames)
    assert(newOnly.select("order_priority").head().getString(0) ==
      "new-era")

    // a rename with NEITHER side present is ignored
    val ignored = Evolved.readMerged(spark, root,
      Map("ghost" -> "phantom"))
    assert(ignored.count() == 2)
  }
}
