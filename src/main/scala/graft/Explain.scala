package graft

/** Plan-audit utility: print the formatted physical plan of any
  * registered query by name —
  * `runMain graft.Explain <sfDir> <name>[,<name>...]`. It runs no
  * setup: a store gate builds its missing store while its DataFrame
  * is built. To time a gate with its declared stores (`Q.stores`)
  * already built, use `graft.tools.GateAB <sfDir> <gate> 1`.
  * The .explain-then-iterate loop the scale posture demands, as a
  * first-class tool instead of ad-hoc scratch code. Runs in the bench
  * session ([[Harness.session]]: SPARK_GRAFT_CPUS cores, default 32). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args(1).split(",").toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = Harness.session(logLevel = "ERROR")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
