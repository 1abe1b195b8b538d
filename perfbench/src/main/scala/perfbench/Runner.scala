package perfbench

import java.io.File
import java.time.LocalDate
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.jobs.Pipeline
import graft.ops.StoreLedger
import graft.queries.Registry

/** One cold-JVM benchmark run of one workload.
  *
  * `Runner <config.json>`: the config names the workload's ops, its
  * prepares, its inputs and the run's work directory (see run.py, which
  * writes it). The run sets up `setups` times (a fresh session and
  * warehouse each time; the last one is kept), then one warm-up pass
  * over the op list and timed passes, one op after another, until
  * `seconds` have passed;
  * each gate execution also yields its output hash. With `trace` set,
  * traced passes with the [[Trace]] collector attached alternate with
  * untraced ones after the warm-up. Every op failure is recorded, never
  * swallowed. The result JSON goes to `out`; run.py turns it into
  * metrics and checks the outputs. */
object Runner {
  private val mapper = new ObjectMapper()

  /** One unit of timed work: a registered gate, or one run-date of the
    * product pipeline. `run` returns named step times and, for a gate,
    * the content hash of its output. */
  private final case class Op(name: String,
                              run: () => (Map[String, Double], Option[String]))

  def session(cores: Int, warehouse: String, localDir: String,
              traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "262144")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.local.dir", localDir)
    if (traced) Trace.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Order-independent content hash: row count plus the exact sum of
    * per-row xxhash64 over the columns in name order. Doubles are
    * hashed at 9 significant digits, so a change in summation order
    * does not change the hash; maps are hashed through their JSON. */
  private def hashColumns(df: DataFrame): Seq[Column] = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => format_string("%.9g", c)
        case _: MapType => to_json(c)
        case _ => c
      }
    }.toIndexedSeq
    Seq(count(lit(1)).as("rows"),
      sum(xxhash64(cols: _*).cast(DecimalType(20, 0))).as("hash"))
  }

  /** Writes `df` to the noop sink and returns its content hash, computed
    * by an observation on the same execution: no second job, and the
    * plan under the sink (sorts included) stays as it is. */
  def noopWithHash(df: DataFrame): String = {
    val obs = Observation("perfbench_check")
    val cols = hashColumns(df)
    df.observe(obs, cols.head, cols.tail: _*)
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    s"${m("rows")}:${Option(m("hash")).getOrElse(0)}"
  }

  private def usedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Host-wide (steal, busy) CPU ticks from /proc/stat, busy counting
    * the steal itself; (0, 0) where the file does not exist. */
  private def stealTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").tail.map(_.toLong)
              finally src.close()
      // user nice system idle iowait irq softirq steal
      (f(7), f(0) + f(1) + f(2) + f(5) + f(6) + f(7))
    } catch { case _: java.io.IOException => (0L, 0L) }

  /** Share of the busy CPU time the host took away (steal) since `t0`. */
  private def stealShare(t0: (Long, Long)): Double = {
    val (s1, b1) = stealTicks()
    if (b1 > t0._2) (s1 - t0._1).toDouble / (b1 - t0._2) else 0.0
  }

  /** CPU seconds used by all threads of this JVM so far. */
  private def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  private def err(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
      .take(500)

  private def strings(n: JsonNode): Seq[String] =
    n.elements().asScala.map(_.asText()).toSeq

  /** Session start, warm-up reads, the workload's prepares on a pool of
    * at most `cores` threads, and a warm read of every table they left
    * in the catalog. Returns the session and this setup's record. */
  private def setUp(cfg: JsonNode, rep: Int)
      : (SparkSession, java.util.Map[String, Any]) = {
    val cores = cfg.get("cores").asInt
    val work = cfg.get("work_dir").asText
    val dataDir = cfg.get("data_dir").asText
    val tmp = new File(s"$work/tmp$rep")
    tmp.mkdirs()
    System.setProperty("java.io.tmpdir", tmp.getAbsolutePath)
    StoreLedger.buildLog.clear()
    val rec = new java.util.LinkedHashMap[String, Any]()
    val errors = new java.util.LinkedHashMap[String, String]()
    val t0 = System.nanoTime()
    val steal0 = stealTicks()
    val spark = session(cores, s"$work/warehouse$rep", s"$work/local",
      cfg.get("trace").asBoolean)
    spark.range(1000000).selectExpr("sum(id)").collect()
    strings(cfg.get("warm_inputs")).foreach { p =>
      spark.read.parquet(s"$dataDir/$p").write.format("noop")
        .mode("overwrite").save()
    }
    val prepares = strings(cfg.get("prepares")).map { n =>
      n -> Registry.prepares.toMap.getOrElse(n,
        sys.error(s"unknown prepare $n"))
    }
    val prepSecs = new java.util.LinkedHashMap[String, Double]()
    if (prepares.nonEmpty) {
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(cores, prepares.size))
      try {
        prepares.map { case (name, fn) =>
          name -> pool.submit(new java.util.concurrent.Callable[Double] {
            def call(): Double = {
              StoreLedger.currentOwner.set(name)
              val t = System.nanoTime()
              try fn(spark, dataDir)
              catch { case e: Throwable => errors.put(name, err(e)) }
              finally StoreLedger.currentOwner.remove()
              seconds(t)
            }
          })
        }.foreach { case (name, f) => prepSecs.put(name, f.get()) }
      } finally pool.shutdown()
    }
    spark.catalog.listTables().collect().foreach { tb =>
      spark.table(tb.name).write.format("noop").mode("overwrite").save()
    }
    rec.put("seconds", seconds(t0))
    rec.put("steal_share", stealShare(steal0))
    rec.put("prepares", prepSecs)
    rec.put("errors", errors)
    val built = StoreLedger.buildLog.asScala.filter(_._2.runs > 0)
    rec.put("stores_built", built.size)
    val wh = new File(s"$work/warehouse$rep")
    rec.put("store_bytes", built.values.flatMap(_.tables).toSeq.distinct
      .map(t => dirBytes(new File(wh, t.toLowerCase(java.util.Locale.ROOT))))
      .sum)
    rec.put("double_builds", StoreLedger.doubleBuilds().size)
    (spark, rec)
  }

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  private def gateOps(spark: SparkSession, cfg: JsonNode): Seq[Op] = {
    val dataDir = cfg.get("data_dir").asText
    strings(cfg.get("ops")).map { name =>
      val q = Registry.queries.getOrElse(name, sys.error(s"unknown gate $name"))
      Op(name, () => (Map.empty, Some(noopWithHash(q(spark, dataDir)))))
    }
  }

  /** The product pipeline: one op per run-date, all run-dates of a pass
    * into one output directory (a fresh one per pass; run.py reads the
    * outputs back to check them). The op's step times come from the
    * pipeline's after-write hook. */
  private def hdbOps(spark: SparkSession, cfg: JsonNode,
                     pass: () => Int): Seq[Op] = {
    val h = cfg.get("hdb")
    val work = cfg.get("work_dir").asText
    val dims = Pipeline.readDims(spark, h.get("dims").asText)
    val days = h.get("days").elements().asScala.toSeq
    days.zipWithIndex.map { case (d, i) =>
      Op(s"day${i + 1}", () => {
        val out = new File(s"$work/out/pass${pass()}")
        // the completion markers are per pipeline run: a new run-date
        // into the same output directory starts without them
        Option(out.listFiles).getOrElse(Array.empty[File])
          .filter(_.getName.startsWith("_graft_done_")).foreach(_.delete())
        var last = System.nanoTime()
        val steps = scala.collection.mutable.LinkedHashMap[String, Double]()
        Pipeline.runResumable(spark, d.get("propnex").asText,
          d.get("srx").asText, h.get("historical").asText, dims,
          LocalDate.parse(d.get("date").asText), out.getPath,
          step => {
            val now = System.nanoTime()
            steps(s"${step}_write_s") = (now - last) / 1e9
            last = now
          })
        (steps.toMap, None)
      })
    }
  }

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(new File(args(0)))
    val setups = cfg.get("setups").asInt
    val runSeconds = cfg.get("seconds").asDouble
    val traced = cfg.get("trace").asBoolean
    val result = new java.util.LinkedHashMap[String, Any]()
    val setupRecs = new java.util.ArrayList[Any]()
    var spark: SparkSession = null
    (1 to setups).foreach { rep =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val (s, rec) = setUp(cfg, rep)
      spark = s
      setupRecs.add(rec)
    }
    result.put("setup", setupRecs)
    var passNo = 0
    val ops =
      if (cfg.has("hdb")) hdbOps(spark, cfg, () => passNo)
      else gateOps(spark, cfg)
    val baselineRdds = spark.sparkContext.getPersistentRDDs.keySet
    val trace = new Trace(spark)
    val passes = new java.util.ArrayList[Any]()
    // Gate-local persisted blocks are freed between ops, followed by two
    // full collections 200 ms apart. The first one only finds the op's
    // broadcasts unreachable; Spark's ContextCleaner then frees their
    // blocks (hash-join pages of many MB) on its own thread, so the heap
    // read after the second one is without them. The pause also lets the
    // op's other background work (stream shutdown, cleanup) end before
    // the next op is timed: without it the stream gates' times spread
    // about three times as much from run to run.
    def release(): Double = {
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!baselineRdds.contains(id)) rdd.unpersist(blocking = true)
      }
      System.gc()
      Thread.sleep(200)
      System.gc()
      usedHeapMb()
    }
    def runPass(tr: Boolean, warmUp: Boolean = false): Unit = {
      passNo += 1
      val p = new java.util.LinkedHashMap[String, Any]()
      val opRecs = new java.util.ArrayList[Any]()
      var peakHeap = 0.0
      ops.foreach { op =>
        val r = new java.util.LinkedHashMap[String, Any]()
        r.put("name", op.name)
        val startMs = System.currentTimeMillis()
        val cpu0 = cpuSeconds()
        val steal0 = stealTicks()
        val t0 = System.nanoTime()
        try {
          val (steps, hash) = op.run()
          steps.foreach { case (k, v) => r.put(k, v) }
          hash.foreach(r.put("hash", _))
        } catch { case e: Throwable => r.put("error", err(e)) }
        r.put("seconds", seconds(t0))
        r.put("cpu_seconds", cpuSeconds() - cpu0)
        r.put("steal_share", stealShare(steal0))
        if (tr) trace.spans.add(Span(s"op-$passNo-${op.name}", "workload",
          "op", op.name, startMs, System.currentTimeMillis()))
        peakHeap = math.max(peakHeap, release())
        opRecs.add(r)
      }
      p.put("traced", tr)
      p.put("warmup", warmUp)
      p.put("ops", opRecs)
      p.put("peak_heap_mb", peakHeap)
      passes.add(p)
    }
    // Every run starts with one untraced warm-up pass: it pays the
    // cold-JVM costs (class loading, JIT, first codegen), which vary far
    // more from run to run than the work itself. Then untraced passes
    // fill `seconds`. A traced run instead repeats untraced, traced,
    // traced, untraced passes, so the two kinds compare warm against
    // warm and the JIT's further warming does not favour either kind.
    val t0 = System.currentTimeMillis()
    runPass(tr = false, warmUp = true)
    val runStart = System.nanoTime()
    if (!traced) do runPass(tr = false) while (seconds(runStart) < runSeconds)
    else {
      do {
        runPass(tr = false)
        trace.attach()
        runPass(tr = true)
        runPass(tr = true)
        trace.detach()
        runPass(tr = false)
      } while (seconds(runStart) < runSeconds)
      trace.spans.add(Span("workload", null, "workload",
        cfg.get("workload").asText, t0, System.currentTimeMillis()))
      val t = new java.util.LinkedHashMap[String, Any]()
      t.put("totals", trace.totals.asJava)
      t.put("spans", trace.spans.asScala.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
          "name" -> s.name, "start_ms" -> s.startMs,
          "end_ms" -> s.endMs).asJava
      }.toSeq.asJava)
      result.put("trace", t)
    }
    result.put("passes", passes)
    // record.py: each gate's output and oracle SQL, for the DuckDB check
    Option(cfg.get("dump_dir")).map(_.asText).foreach { dump =>
      val names = strings(cfg.get("ops"))
      names.foreach { n =>
        Registry.queries(n)(spark, cfg.get("data_dir").asText)
          .write.mode("overwrite").parquet(s"$dump/$n")
      }
      mapper.writeValue(new File(s"$dump/oracle_sql.json"),
        Registry.oracleSql.filter { case (n, _) => names.contains(n) }.asJava)
    }
    spark.stop()
    mapper.writerWithDefaultPrettyPrinter()
      .writeValue(new File(cfg.get("out").asText), result)
  }
}
