package graft.tools

import org.apache.spark.sql.SparkSession

/** Single-JVM A/B measurement harness (dev tool, round-16 optimization):
  * pays the untimed store-prepare pass ONCE, then times each named gate
  * `reps` times through the bench's own noop-sink semantics and prints
  * per-rep seconds plus the median. This is the verify skill's A/B
  * protocol ("3x per variant, compare medians") without re-paying a JVM
  * + setup per rep, and without the full-bench context noise.
  *
  *   runMain graft.tools.GateAB <sfDir> <g1,g2,...> [reps]
  *
  * Env: SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_AB_EXPLAIN=<dir>
  * dumps each gate's explain("formatted") to <dir>/<gate>.txt before
  * timing (the plans/r16 evidence files). */
object GateAB {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val gates = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(Seq("q_dedup_flagship"))
    val reps = args.lift(2).flatMap(_.toIntOption).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "262144")
      // (canChangeCachedPlanOutputPartitioning removed round 17 along
      // with the pinPartitioned helper it served — see Checkpoints.scala;
      // keep this session conf-identical to Bench)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // same untimed warm-up + store-prepare pass as Bench.main
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
    }
    val prepares = graft.queries.Registry.prepares
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    prepares.map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          graft.ops.StoreLedger.currentOwner.set(name)
          try fn(spark, sfDir)
          catch { case e: Throwable =>
            System.err.println(s"[ab-setup] $name FAILED: ${e.getMessage}") }
          finally graft.ops.StoreLedger.currentOwner.remove()
        }
      })
    }.foreach(_.get())
    pool.shutdown()
    spark.catalog.listTables().collect().foreach { tb =>
      try spark.table(tb.name)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    val explainDir = sys.env.get("SPARK_GRAFT_AB_EXPLAIN")
    val baselineRdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
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
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }
    // SPARK_GRAFT_AB_SAMPLE=1: sample executor-task stacks during the
    // timed reps (Prof's sampler, but with the store-prepare pass paid
    // so store-consuming gates profile their own work, not the build)
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
          explainDir.foreach { dir =>
            try {
              val df = fn(spark, sfDir)
              val txt = df.queryExecution.explainString(
                org.apache.spark.sql.execution.FormattedMode)
              val p = java.nio.file.Paths.get(dir, s"$name.txt")
              java.nio.file.Files.createDirectories(p.getParent)
              java.nio.file.Files.write(p,
                txt.getBytes("UTF-8"))
            } catch { case e: Throwable =>
              System.err.println(s"[ab] explain $name failed: $e") }
          }
          def timedRep(attr: Boolean): Double = {
            System.gc()
            Seq(nJobs, nTasks, taskMs, gcMs, shufR, shufW).foreach(_.set(0L))
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            val s = (System.nanoTime() - t0) / 1e9
            spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
              if (!baselineRdds.contains(id))
                try rdd.unpersist(blocking = true)
                catch { case _: Throwable => () }
            }
            if (attr)  // warm rep: attribute where the time went
              println(f"[ab-attr] $name%-32s jobs=${nJobs.get}%3d " +
                f"tasks=${nTasks.get}%5d taskSec=${taskMs.get / 1e3}%8.2f " +
                f"gcSec=${gcMs.get / 1e3}%6.2f " +
                f"shufR=${shufR.get / 1048576.0}%8.1f MB " +
                f"shufW=${shufW.get / 1048576.0}%8.1f MB")
            s
          }
          def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
          // SPARK_GRAFT_AB_PROP=<sysprop>: interleave variant A (prop
          // unset) and variant B (prop=1) reps in ONE JVM — the only
          // timing comparison this host's cross-session drift allows.
          // SPARK_GRAFT_AB_CONF=<sqlconf>=<vA>|<vB>: same, toggling a
          // runtime SQLConf between the variants instead.
          val abConf = sys.env.get("SPARK_GRAFT_AB_CONF").map { s =>
            val Array(k, vs) = s.split("=", 2)
            val Array(va, vb) = vs.split("\\|", 2)
            (k, va, vb)
          }
          sys.env.get("SPARK_GRAFT_AB_PROP") match {
            case _ if abConf.isDefined =>
              val (k, va, vb) = abConf.get
              val (as, bs) = (1 to reps).map { _ =>
                spark.conf.set(k, va)
                val a = timedRep(attr = false)
                spark.conf.set(k, vb)
                val b = timedRep(attr = false)
                spark.conf.set(k, va)
                (a, b)
              }.unzip
              println(f"[ab-cmp] $name%-32s A($k=$va) ${med(as)}%7.3f s " +
                f"B($k=$vb) ${med(bs)}%7.3f s   A " +
                as.map(s => f"$s%.3f").mkString(" ") + "   B " +
                bs.map(s => f"$s%.3f").mkString(" "))
            case Some(prop) =>
              val (as, bs) = (1 to reps).map { rep =>
                System.clearProperty(prop)
                val a = timedRep(attr = false)
                System.setProperty(prop, "1")
                val b = timedRep(attr = false)
                System.clearProperty(prop)
                (a, b)
              }.unzip
              println(f"[ab-cmp] $name%-32s A(base) ${med(as)}%7.3f s " +
                f"B($prop=1) ${med(bs)}%7.3f s   A " +
                as.map(s => f"$s%.3f").mkString(" ") + "   B " +
                bs.map(s => f"$s%.3f").mkString(" "))
            case None =>
              sampleCounts.clear(); sampling.set(true)
              val secs = (1 to reps).map(rep => timedRep(attr = rep == reps))
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
