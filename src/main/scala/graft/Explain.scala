package graft

import org.apache.spark.sql.SparkSession

/** Plan-audit utility: print the formatted physical plan (and
  * optionally run + time) any registered query by name —
  * `runMain graft.Explain <sfDir> <name>[,<name>...] [run]`.
  * The .explain-then-iterate loop the scale posture demands, as a
  * first-class tool instead of ad-hoc scratch code. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args(1).split(",").toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val run = args.length > 2 && args(2) == "run"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // ObjectHashAggregate (min_by_obj dedup) falls back to
      // sort-based at 128 map entries by default — sized for
      // percentile-class buffers, far too small for one-row-per-key
      // dedup state (~200 B/entry; 256k entries ~= 50 MB/task)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "262144")
      // (canChangeCachedPlanOutputPartitioning removed round 17 along
      // with the pinPartitioned helper it served — see Checkpoints.scala;
      // keep this session conf-identical to Bench)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"\n========== $name ==========")
      df.explain("formatted")
      if (run) {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        println(f"[$name] ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
