package graft

/** Plan-audit utility: print the formatted physical plan (and
  * optionally run + time) any registered query by name —
  * `runMain graft.Explain <sfDir> <name>[,<name>...] [run]`.
  * The .explain-then-iterate loop the scale posture demands, as a
  * first-class tool instead of ad-hoc scratch code. Runs in the bench
  * session ([[Harness.session]]: SPARK_GRAFT_CPUS cores, default 32). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args(1).split(",").toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val run = args.length > 2 && args(2) == "run"
    val spark = Harness.session(logLevel = "ERROR")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"\n========== $name ==========")
      df.explain("formatted")
      if (run) {
        val t0 = System.nanoTime()
        Harness.noop(df)
        println(f"[$name] ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
