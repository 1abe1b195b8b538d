package graft.tools

/** The single-JVM A/B and profiling tool: in the bench session
  * ([[graft.Harness]]) it pays the untimed store-prepare pass ONCE,
  * building only the stores the named gates declare, then times each
  * named gate `reps` times through the bench's own gate runner
  * ([[graft.Harness.runGate]]: noop sink, gate-local blocks freed
  * after each rep) and prints per-rep seconds plus the median,
  * and jobs / tasks / task-seconds / GC / shuffle bytes for the last
  * rep. A failing rep prints `[ab] <gate> FAILED: <message>` and is left
  * out of the median; the other gates still run.
  * This is the verify skill's A/B protocol ("3x per variant, compare
  * medians") without re-paying a JVM + setup per rep, and without the
  * full-bench context noise.
  *
  *   runMain graft.tools.GateAB <sfDir> <g1,g2,...> [reps]
  *
  * Env: SPARK_GRAFT_CPUS (default 32); SPARK_GRAFT_AB_SAMPLE=1
  * prints the top executor stack frames of the timed reps;
  * SPARK_GRAFT_AB_CONF=<sqlconf>=<vA>|<vB> interleaves reps of two
  * values of a runtime SQL conf. Formatted plans come from
  * [[graft.Explain]]. */
object GateAB {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val gates = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(Seq("q_dedup_flagship"))
    val reps = args.lift(2).flatMap(_.toIntOption).getOrElse(3)
    val spark = graft.Harness.session(logLevel = "ERROR")
    // same untimed warm-up + store-prepare + store warm pass as Bench,
    // scoped to the named gates' stores
    val setupErrors = graft.Harness.warmFixtures(spark, sfDir) ++
      graft.Harness.prepareStores(spark, sfDir, gates)._2 ++
      graft.Harness.warmStores(spark)
    setupErrors.foreach(f =>
      println(s"[ab-setup] ${f.name} FAILED: ${f.message}"))
    val baselineRdds = graft.Harness.gateBaseline(spark)
    // wall-time attribution listener: jobs + tasks + summed task time
    // vs shuffle bytes tells driver overhead apart from executor work
    val nJobs = new java.util.concurrent.atomic.AtomicLong
    val nTasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    val shufR = new java.util.concurrent.atomic.AtomicLong
    val shufW = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          nJobs.incrementAndGet()
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          nTasks.incrementAndGet()
          val m = t.taskMetrics
          if (m != null) {
            taskMs.addAndGet(m.executorRunTime)
            gcMs.addAndGet(m.jvmGCTime)
            shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
            shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          }
        }
      })
    // SPARK_GRAFT_AB_SAMPLE=1: sample executor-task stacks during the
    // timed reps (the store-prepare pass is paid, so store-consuming
    // gates profile their own work, not the build)
    val sampleCounts =
      new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val sampling = new java.util.concurrent.atomic.AtomicBoolean(false)
    if (sys.env.contains("SPARK_GRAFT_AB_SAMPLE")) {
      val t = new Thread(() => {
        while (true) {
          Thread.sleep(20)
          if (sampling.get) Thread.getAllStackTraces.forEach { (th, st) =>
            if (th.getName.startsWith("Executor task launch")) {
              st.take(48).find { f =>
                val c = f.getClassName
                c.startsWith("org.apache.spark.sql.catalyst.expressions") ||
                c.contains("codegen") || c.contains("unsafe") ||
                c.startsWith("graft.") || c.contains("collection") ||
                c.contains("aggregate") || c.contains("joins") ||
                c.contains("parquet") || c.contains("UTF8String")
              }.foreach { f =>
                sampleCounts.merge(
                  s"${f.getClassName}.${f.getMethodName}", 1, _ + _)
              }
            }
          }
        }
      })
      t.setDaemon(true); t.start()
    }
    gates.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => println(s"[ab] $name: NO SUCH GATE")
        case Some(fn) =>
          def timedRep(attr: Boolean): Option[Double] = {
            System.gc()
            Seq(nJobs, nTasks, taskMs, gcMs, shufR, shufW).foreach(_.set(0L))
            val run = graft.Harness.runGate(spark, sfDir, name, fn,
              baseline = Some(baselineRdds))
            run.error.foreach(msg => println(s"[ab] $name FAILED: $msg"))
            if (attr)  // warm rep: attribute where the time went
              println(f"[ab-attr] $name%-32s jobs=${nJobs.get}%3d " +
                f"tasks=${nTasks.get}%5d taskSec=${taskMs.get / 1e3}%8.2f " +
                f"gcSec=${gcMs.get / 1e3}%6.2f " +
                f"shufR=${shufR.get / 1048576.0}%8.1f MB " +
                f"shufW=${shufW.get / 1048576.0}%8.1f MB")
            run.error.fold(Option(run.sec))(_ => None)
          }
          def med(xs: Seq[Double]): Double =
            if (xs.isEmpty) Double.NaN else xs.sorted.apply(xs.size / 2)
          // SPARK_GRAFT_AB_CONF=<sqlconf>=<vA>|<vB>: interleave variant
          // A and variant B reps of a runtime SQLConf in ONE JVM — the
          // only timing comparison this host's cross-session drift
          // allows.
          val abConf = sys.env.get("SPARK_GRAFT_AB_CONF").map { s =>
            val Array(k, vs) = s.split("=", 2)
            val Array(va, vb) = vs.split("\\|", 2)
            (k, va, vb)
          }
          abConf match {
            case Some((k, va, vb)) =>
              val (as, bs) = (1 to reps).map { _ =>
                spark.conf.set(k, va)
                val a = timedRep(attr = false)
                spark.conf.set(k, vb)
                val b = timedRep(attr = false)
                spark.conf.set(k, va)
                (a, b)
              }.unzip match { case (a, b) => (a.flatten, b.flatten) }
              println(f"[ab-cmp] $name%-32s A($k=$va) ${med(as)}%7.3f s " +
                f"B($k=$vb) ${med(bs)}%7.3f s   A " +
                as.map(s => f"$s%.3f").mkString(" ") + "   B " +
                bs.map(s => f"$s%.3f").mkString(" "))
            case None =>
              sampleCounts.clear(); sampling.set(true)
              val secs =
                (1 to reps).flatMap(rep => timedRep(attr = rep == reps))
              sampling.set(false)
              println(f"[ab] $name%-32s median ${med(secs)}%7.3f s   " +
                secs.map(s => f"$s%.3f").mkString(" "))
              if (sys.env.contains("SPARK_GRAFT_AB_SAMPLE")) {
                import scala.jdk.CollectionConverters._
                sampleCounts.asScala.toSeq.sortBy(-_._2).take(12)
                  .foreach { case (k, v) =>
                    println(f"[ab-prof] $v%6d  $k") }
              }
          }
      }
    }
    spark.stop()
  }
}
