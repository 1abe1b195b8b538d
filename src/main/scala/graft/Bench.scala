package graft
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal
object Bench {

  /** Every JSON this main reads or writes. The Scala module serializes
    * `ListMap`s in insertion order, so each artifact's key order is
    * the order its map is built in. */
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  private def usedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  /** 1-minute system load average — the contention witness. Round 14's
    * "confirmed" dedup regression was host contention (a 4.2 h builder
    * sweep covered the driver's whole bench window, so even second-run
    * adjudication ran loaded and the context/regressed split failed);
    * a quiet-box A/B reproduced every gate in-band. Recording load per
    * gate makes the next such episode self-attributing. -1 when the
    * platform bean cannot report it. */
  private def loadAvg1(): Double =
    try java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // a witness only: -1 marks it missing, the gate still runs
    catch { case NonFatal(_) => -1.0 }

  /** Shared flag thresholds (r12 advice): the flagging rules below and
    * the second-run `inBand` adjudication must always apply the SAME
    * margins, so they are hoisted here instead of re-hardcoded at each
    * site. Single-baseline is looser (1.5×) than band-exit (1.25×)
    * because a band already absorbs the host's run-to-run spread. */
  private[graft] val BaselineRatio = 1.5
  private[graft] val BandRatio = 1.25
  private[graft] val AbsSecFloor = 1.0

  /** Most flagged gates re-run by the second-run adjudication. */
  private val SecondRunCap = 12

  /** The close-out regression rule, IDENTICAL to
    * scripts/bench_compare.py's exit gate: a gate regressed when
    * new/old > `ratio` AND new - old > `absSec` (two-sided — ratio
    * alone flags ms-noise on trivial gates, absolute alone flags host
    * drift on heavyweights). Returns (name, old, new) sorted by name;
    * gates absent from the baseline (or non-positive there) never
    * regress. Pinned against hand-worked cases in BenchCompareSpec. */
  private[graft] def regressions(baseline: Map[String, Double],
                                 results: Map[String, Double],
                                 ratio: Double = BaselineRatio,
                                 absSec: Double = AbsSecFloor)
      : Seq[(String, Double, Double)] =
    results.toSeq.sortBy(_._1).flatMap { case (name, b) =>
      baseline.get(name) match {
        case Some(a) if a > 0 && b / a > ratio && b - a > absSec =>
          Some((name, a, b))
        case _ => None
      }
    }

  /** Band-exit regression rule (r11 verdict item 2): the single-
    * baseline rule above compares against ONE old reading, so bimodal
    * gates (q_binaryfile_ingest 1.1–2.6 s) generated recurring noise
    * adjudications. Against a band of the last N committed artifacts
    * (scripts/bench_bands.py → bench_bands.json), a gate is flagged
    * only when it EXITS the observed envelope: new > bandMax by BOTH
    * the ratio margin and the absolute floor. The margin is tighter
    * than the single-baseline 1.5× because the band already absorbs
    * the host's measured run-to-run spread — exceeding its worst
    * committed reading by 25% and a full second is signal, not noise.
    * Pinned in BenchCompareSpec. */
  private[graft] def bandRegressions(bands: Map[String, (Double, Double)],
                                     results: Map[String, Double],
                                     ratio: Double = BandRatio,
                                     absSec: Double = AbsSecFloor)
      : Seq[(String, Double, Double)] =
    results.toSeq.sortBy(_._1).flatMap { case (name, b) =>
      bands.get(name) match {
        case Some((_, hi)) if hi > 0 && b / hi > ratio && b - hi > absSec =>
          Some((name, hi, b))
        case _ => None
      }
    }

  /** The flags of one reading: banded gates by the band-exit rule,
    * unbanded gates by the single-baseline rule. Returns (name, ref,
    * new, rule) sorted by name. The first reading and the second-run
    * adjudication both go through here, so they cannot apply different
    * margins or a different band/baseline split. */
  private[graft] def flagged(bands: Map[String, (Double, Double)],
                             baseQs: Map[String, Double],
                             results: Map[String, Double])
      : Seq[(String, Double, Double, String)] =
    (bandRegressions(bands, results)
       .map { case (n, hi, b) => (n, hi, b, "band") } ++
     regressions(baseQs, results.filter { case (k, _) => !bands.contains(k) })
       .map { case (n, a, b) => (n, a, b, "baseline") })
      .sortBy(_._1)

  /** Gates recorded in a `SPARK_GRAFT_BENCH_PROGRESS` file, in file
    * order: sec, gc ms, heap MB, load1 (-1 when absent). A line that
    * does not parse is skipped and returned as a Failure named
    * `<path>:<line number>`. */
  private[graft] def readProgress(path: String)
      : (mutable.LinkedHashMap[String, (Double, Long, Double, Double)],
         Seq[Harness.Failure]) = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    val lines = try src.getLines().toVector finally src.close()
    val gates = mutable.LinkedHashMap[String, (Double, Long, Double, Double)]()
    val errors = lines.zipWithIndex.filter(_._1.trim.nonEmpty).flatMap {
      case (line, i) => Harness.attempt(s"$path:${i + 1}") {
        val n = json.readTree(line)
        gates(n.path("gate").asText()) = (
          n.path("sec").asDouble(),
          n.path("gc_ms").asLong(),
          n.path("heap_mb").asDouble(),
          if (n.has("load1")) n.path("load1").asDouble() else -1.0)
      }
    }
    (gates, errors)
  }

  /** The JSON object in `path` (anything before its first `{` is
    * skipped); None when the file does not exist, and None plus a
    * Failure named `path` when it cannot be read or parsed. */
  private[graft] def readJson(path: String)
      : (Option[com.fasterxml.jackson.databind.JsonNode],
         Option[Harness.Failure]) = {
    var node: Option[com.fasterxml.jackson.databind.JsonNode] = None
    val error = Harness.attempt(path) {
      val f = new java.io.File(path)
      if (f.isFile) {
        val raw = new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        node = Some(json.readTree(raw.substring(raw.indexOf('{'))))
      }
    }
    (node, error)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // environment contract: local[32], shuffle.partitions = cores
    val spark = Harness.session()
    // setup and bookkeeping failures by step (Harness.Failure), file
    // artifact only
    val harnessErrors = mutable.LinkedHashMap[String, Seq[Harness.Failure]](
      "warm_fixtures" -> Harness.warmFixtures(spark, sfDir),
      "prepare" -> Nil, "store_bytes" -> Nil, "warm_stores" -> Nil,
      "progress" -> Nil, "compare" -> Nil, "second_run" -> Nil,
      "latest_link" -> Nil)
    // UNTIMED setup: one-time content-addressed store/index builds
    // (graph edge layouts, ANN/inverted indexes, maintained MVs).
    // With a metastore these are paid once per corpus refresh; the
    // in-memory catalog would otherwise re-charge each build to the
    // alphabetically-first consumer gate in every fresh session
    // (measured: the whole r5→r6 graph-family regression). Build cost
    // is still reported — as setup_sec, separated from query cost.
    val setupT0 = System.nanoTime()
    // per-store attribution (r10 verdict item 2): the 47 -> 72 s driver
    // swing in setup_sec had no breakdown — record each prepare's name,
    // seconds, and warehouse-bytes delta the way gates carry gc/heap
    val setupSecs = mutable.LinkedHashMap[String, Double]()
    val setupBytes = mutable.LinkedHashMap[String, Long]()
    var setupDoubleBuilds: Seq[String] = Seq.empty
    val warehouse = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val whFs = warehouse.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Bytes a single table left in the warehouse (its managed dir).
    // Attribution switched from whole-warehouse getContentSummary
    // deltas (2 full tree walks per prepare, both UNATTRIBUTED —
    // ~18 s of r12's 87 - 69 s setup gap) to per-table walks over the
    // tables each prepare's build registered in StoreLedger.
    // A walk that fails counts 0 bytes and is named under
    // harness_errors.store_bytes.
    val bytesErrors = mutable.ListBuffer[Harness.Failure]()
    def tableBytes(tbl: String): Long = {
      var bytes = 0L
      bytesErrors ++= Harness.attempt(tbl) {
        val p = new org.apache.hadoop.fs.Path(warehouse,
          tbl.toLowerCase(java.util.Locale.ROOT))
        if (whFs.exists(p)) bytes = whFs.getContentSummary(p).getLength
      }
      bytes
    }
    if (!sys.env.contains("SPARK_GRAFT_SKIP_SETUP")) {
      // pool of 4 (r12 verdict item 2): per-prepare secs are wall-clock
      // UNDER CONCURRENCY (they overlap; their sum exceeds setup_sec)
      val (secs, prepareErrors) = Harness.prepareStores(spark, sfDir)
      setupSecs ++= secs
      harnessErrors("prepare") = prepareErrors
      // bytes per prepare = the managed dirs of the tables its builds
      // registered (deduped across markers of one prepare)
      val owned = mutable.LinkedHashMap[String, mutable.Set[String]]()
      graft.ops.StoreLedger.buildLog.forEach { (_, rec) =>
        if (rec.owner != null)
          owned.getOrElseUpdate(rec.owner, mutable.Set[String]()) ++= rec.tables
      }
      setupSecs.keys.foreach { name =>
        setupBytes(name) =
          owned.get(name).map(_.toSeq.map(tableBytes).sum).getOrElse(0L)
      }
      harnessErrors("store_bytes") = bytesErrors.toSeq
      // "no store built twice per session" (r12 verdict item 2): any
      // ledger key whose build block ran more than once is a wasted
      // rebuild — surfaced in the artifact, asserted by the sweep spec
      setupDoubleBuilds = graft.ops.StoreLedger.doubleBuilds()
      if (setupDoubleBuilds.nonEmpty)
        System.err.println(
          s"[setup] DOUBLE BUILDS: ${setupDoubleBuilds.mkString(", ")}")
      val t = System.nanoTime()
      harnessErrors("warm_stores") = Harness.warmStores(spark)
      val sec = (System.nanoTime() - t) / 1e9
      setupSecs("_warm_tables") = sec
      System.err.println(f"[setup] _warm_tables $sec%.2f s")
    }
    val setupSec = (System.nanoTime() - setupT0) / 1e9
    val baselineRdds = Harness.gateBaseline(spark)
    val failed = mutable.ListBuffer[String]()
    val failMsgs = mutable.LinkedHashMap[String, String]()
    // per-gate attribution columns (r9 verdict: the driver-session
    // spikes on store-heavy gates were unattributable without them)
    val gcMs = mutable.LinkedHashMap[String, Long]()
    val heapMb = mutable.LinkedHashMap[String, Double]()
    var peakHeapMb = 0.0
    // local-iteration filter (comma-separated names); the driver never
    // sets it, so the per-round contract is unchanged
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // per-gate contention witness (see loadAvg1)
    val load1 = mutable.LinkedHashMap[String, Double]()
    val loadStart = loadAvg1()
    // RESUMABLE PROGRESS (r14: two sf10 full-registry sweeps were
    // preempted by round end with ZERO artifact to show for 4+ h of
    // green gates). When SPARK_GRAFT_BENCH_PROGRESS names a file, each
    // completed gate appends one JSON line {gate, sec, gc_ms, heap_mb,
    // load1} immediately; on startup, gates already present are SKIPPED
    // and their recorded numbers merged into the final artifact (the
    // content-addressed stores persist in the warehouse, so a resumed
    // session rebuilds nothing). A preempted sweep thus always leaves a
    // line-per-gate record that the next session finishes or a script
    // assembles. Failed gates are never recorded — a resume retries
    // them. The artifact carries n_resumed for honesty.
    val progressPath = sys.env.get("SPARK_GRAFT_BENCH_PROGRESS")
    val resumed = progressPath.filter(new java.io.File(_).isFile)
      .map { p =>
        val (gates, errors) = readProgress(p)
        harnessErrors("progress") = errors
        if (gates.nonEmpty) System.err.println(
          s"[bench] resuming past ${gates.size} recorded gate(s) from $p")
        gates
      }.getOrElse(mutable.LinkedHashMap.empty)
    // the per-gate watchdog (Harness.runGate); unset, gates run
    // unguarded
    val gateTimeoutSec =
      sys.env.get("SPARK_GRAFT_GATE_TIMEOUT_SEC").flatMap(_.toIntOption)
    def appendProgress(name: String, sec: Double, gc: Long,
                       heap: Double, ld: Double): Unit =
      progressPath.foreach { p =>
        harnessErrors("progress") ++= Harness.attempt(name) {
          val w = new java.io.FileWriter(p, true)
          try w.write(json.writeValueAsString(ListMap("gate" -> name,
            "sec" -> sec, "gc_ms" -> gc, "heap_mb" -> heap,
            "load1" -> ld)) + "\n")
          finally w.close()
        }
      }
    System.gc()
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .flatMap {
      case (name, _) if resumed.contains(name) =>
        val (sec, gc, heap, ld) = resumed(name)
        gcMs(name) = gc; heapMb(name) = heap
        if (ld >= 0) load1(name) = ld
        Some(name -> sec)
      case (name, fn) =>
        val run = Harness.runGate(spark, sfDir, name, fn,
          timeoutSec = gateTimeoutSec, baseline = Some(baselineRdds))
        val r = run.error match {
          case None =>
            // one stderr line per gate: long sweeps (hours at sf10) are
            // otherwise unobservable until the final JSON
            System.err.println(f"[bench] $name ${run.sec}%.2f s")
            Some(name -> run.sec)
          case Some(msg) =>
            // a throwing query must not masquerade as a speedup: it is
            // EXCLUDED from the timing map entirely (its time-to-fail
            // would still read as "faster" in bench_compare.py) and
            // surfaced in failed[] / n_failed instead
            failed += name
            failMsgs(name) = msg
            System.err.println(s"[bench] $name FAILED: $msg")
            None
        }
        gcMs(name) = run.gcMs
        // post-gate post-gc resident heap: monotonic growth across
        // gates = something survives cleanup (the leak signal); flat =
        // the spike was in-gate pressure, not accumulation. This gc
        // also serves as the pre-gate gc for the NEXT gate, so the
        // per-gate gc count is unchanged from r9.
        System.gc()
        val h = usedHeapMb()
        heapMb(name) = math.round(h * 10) / 10.0
        if (h > peakHeapMb) peakHeapMb = h
        val ld = loadAvg1()
        if (ld >= 0) load1(name) = math.round(ld * 100) / 100.0
        r.foreach { case (_, sec) =>
          appendProgress(name, math.round(sec * 1000) / 1000.0,
            gcMs(name), heapMb(name), load1.getOrElse(name, -1.0))
        }
        r
    }.toMap
    // The driver captures only the TAIL of this process's output
    // (~2 KB): a queries map with all 80+ entries at full double
    // precision overflows that window and the line arrives truncated
    // mid-JSON (BENCH_r02 recorded parsed:null). Keep the line well
    // under the window — 3-decimal seconds, only the 25 slowest
    // queries inline — and dump the complete per-query map to
    // bench_full.json beside the repo for baseline bookkeeping.
    def r3(v: Double): Double = math.round(v * 1000).toDouble / 1000
    def r2(v: Double): Double = math.round(v * 100) / 100.0
    val total = if (results.nonEmpty) r3(results.values.sum) else 0.0
    val fullQs = results.toSeq.sortBy(-_._2).map { case (k, v) => k -> r3(v) }
    val failedSorted = failed.sorted.toSeq
    // self-describing regression block (r9 verdict item 3): diff this
    // run against the committed close-out artifact with the same
    // two-sided rule as scripts/bench_compare.py, so a driver run that
    // regresses carries its own comparison instead of waiting for a
    // builder session to notice
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE",
      "bench_closeout.json")
    val bandsPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_BANDS",
      "bench_bands.json")
    val (baseNode, baseError) = readJson(baselinePath)
    val (bandsNode, bandsError) = readJson(bandsPath)
    harnessErrors("compare") = (baseError ++ bandsError).toSeq
    val baseQs: Map[String, Double] = baseNode.map { node =>
      import scala.jdk.CollectionConverters._
      node.path("queries").properties().asScala
        .filter(_.getValue.isNumber)
        .map(e => e.getKey -> e.getValue.asDouble()).toMap
    }.getOrElse(Map.empty)
    // per-gate honest bands (r11 verdict item 2): min/max over the
    // last N committed artifacts, built by scripts/bench_bands.py —
    // banded gates flag only on band-EXIT; gates new since the bands
    // file fall back to the single-baseline rule
    val bands: Map[String, (Double, Double)] = bandsNode
      .map { node =>
        import scala.jdk.CollectionConverters._
        node.path("bands").properties().asScala.map { e =>
          e.getKey -> (e.getValue.path("min").asDouble(),
            e.getValue.path("max").asDouble())
        }.toMap
      }.getOrElse(Map.empty)
    val flags = flagged(bands, baseQs, results)
    // SECOND-RUN attribution pass (r11 verdict item 1 — the third
    // consecutive driver run flagged q_incr_curation_pipeline despite
    // the warm pass holding 4/4 on the builder host): every flagged
    // gate re-runs ONCE, timed, at the end of the session. The primary
    // queries map keeps the honest FIRST-run reading; the pair is what
    // separates a plan regression (second run still band-exits →
    // "regressed") from driver-context cold-read/JIT effects (second
    // run in-band → "context"). A recurrence now self-attributes in
    // the driver's own artifact instead of costing a builder round.
    // CAP on re-runs (r14: 36 flags under host contention cost ~4.5 min
    // of re-runs inside the driver window — the re-runs themselves were
    // half the wall regression). Re-run the WORST offenders by ratio;
    // flags beyond the cap (SecondRunCap) stay flagged with verdict
    // "unadjudicated" (never laundered into context, never claimed
    // regressed without a second reading). A quiet session rarely flags
    // more than a handful, so the cap only binds exactly when re-runs
    // are least informative.
    val rerunSet: Set[String] = flags
      .sortBy { case (_, ref, b, _) => -(b / math.max(ref, 1e-9)) }
      .take(SecondRunCap).map(_._1).toSet
    val secondRun: Map[String, Double] = flags
      .filter(f => rerunSet.contains(f._1))
      .flatMap { case (name, _, _, _) =>
        SparkEntry.queries.get(name).flatMap { fn =>
          System.gc()
          val run = Harness.runGate(spark, sfDir, name, fn,
            timeoutSec = gateTimeoutSec, baseline = Some(baselineRdds))
          run.error.foreach(msg =>
            harnessErrors("second_run") :+= Harness.Failure(name, msg))
          run.error.fold(Option(name -> run.sec))(_ => None)
        }
      }.toMap
    def inBand(name: String, v: Double): Boolean =
      flagged(bands, baseQs, Map(name -> v)).isEmpty
    val verdicts = flags.map { case (name, ref, b, rule) =>
      val s2 = secondRun.get(name)
      // no second reading: a gate the cap excluded is "unadjudicated"
      // (flag stands, no verdict without evidence); a gate whose
      // re-run failed keeps the honest "regressed" rather than
      // laundering into "context" (its error is in
      // harness_errors.second_run)
      val verdict =
        if (s2.exists(inBand(name, _))) "context"
        else if (!rerunSet.contains(name)) "unadjudicated"
        else "regressed"
      (name, ref, b, rule, s2, verdict)
    }
    val nConfirmed = verdicts.count(_._6 == "regressed")
    val nContext = verdicts.count(_._6 == "context")
    val nUnadjudicated = verdicts.count(_._6 == "unadjudicated")
    // -1 on the stdout line = "no comparison happened" (baseline AND
    // bands both absent/unreadable) — distinguishable from a genuinely
    // clean compare's 0 inside the ~2 KB driver tail (r10 advice)
    val nRegressed =
      if (baseQs.isEmpty && bands.isEmpty) -1 else nConfirmed
    val compare = ListMap[String, Any](
      "baseline" -> baselinePath, "bands" -> bandsPath,
      "n_bands" -> bands.size) ++
      baseNode.map(n => "baseline_total" -> r3(n.path("value").asDouble())) ++
      ListMap("n_regressed" -> nConfirmed, "n_context" -> nContext,
        "n_unadjudicated" -> nUnadjudicated,
        "regressed" -> ListMap(verdicts.map {
          case (name, ref, b, rule, s2, v) =>
            name -> (ListMap[String, Any]("rule" -> rule, "ref" -> r3(ref),
              "new" -> r3(b)) ++ s2.map(s => "second" -> r3(s)) +
              ("verdict" -> v))
        }: _*))
    val totalGcMs = gcMs.values.sum
    val endHeap = heapMb.toSeq.lastOption.map(_._2).getOrElse(0.0)
    // per-prepare breakdown (insertion order = submit order; prepares
    // run on a 4-thread pool so secs OVERLAP — their sum exceeds
    // setup_sec by design; bytes is the size of the managed tables the
    // prepare's builds registered in StoreLedger) — file artifact
    // only, the stdout tail window can't fit it
    val setup = ListMap(setupSecs.toSeq.map { case (k, v) =>
      k -> (ListMap[String, Any]("sec" -> r3(v)) ++
        setupBytes.get(k).map("bytes" -> _))
    }: _*)
    val loadEnd = loadAvg1()
    def sortedMap[V](m: collection.Map[String, V]): ListMap[String, V] =
      ListMap(m.toSeq.sortBy(_._1): _*)
    // never clobber an earlier run's artifact: honor an explicit
    // override, else write a (millis, pid)-keyed file (a repro once
    // overwrote bench_full.json and lost ~136 gates' timings; pid
    // guards the parallel-runs-same-instant case)
    val outName = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"bench_full_${System.currentTimeMillis()}_" +
        s"${ProcessHandle.current().pid()}.json")
    // keep a predictable handle on the latest run for external
    // collectors and the close-out regression diff
    // (scripts/bench_compare.py) without ever clobbering a prior
    // run's artifact: bench_latest.json is a symlink refreshed to
    // whatever file this run writes — custom SPARK_GRAFT_BENCH_OUT
    // runs included (a symlink refresh clobbers no artifact, and the
    // verify skill promises the link always tracks the newest run).
    // Refreshed before the write so a failure lands in the artifact.
    harnessErrors("latest_link") = Harness.attempt("bench_latest.json") {
      val link = java.nio.file.Paths.get("bench_latest.json")
      val target = java.nio.file.Paths.get(outName).toAbsolutePath
      // SPARK_GRAFT_BENCH_OUT=bench_latest.json would otherwise delete
      // the artifact and leave a self-referential symlink
      if (link.toAbsolutePath.normalize != target.normalize) {
        java.nio.file.Files.deleteIfExists(link)
        java.nio.file.Files.createSymbolicLink(link, target)
      }
    }.toSeq
    // error strings travel in the JSON itself — a bare failed[] list
    // forced a round of repro detective work once
    val full = ListMap[String, Any](
      "metric" -> "total", "value" -> total, "unit" -> "sec",
      "n_queries" -> results.size, "n_failed" -> failed.size,
      "n_resumed" -> resumed.size, "failed" -> failedSorted,
      "errors" -> sortedMap(failMsgs.map { case (k, v) => k -> v.take(300) }),
      "setup_sec" -> r3(setupSec), "setup_mode" -> "pool4",
      "setup_double_builds" -> setupDoubleBuilds, "setup" -> setup,
      "harness_errors" -> ListMap(harnessErrors.toSeq.map { case (step, fs) =>
        step -> ListMap(fs.map(f => f.name -> f.message): _*) }: _*),
      "gc_ms_total" -> totalGcMs, "peak_heap_mb" -> r3(peakHeapMb),
      "end_heap_mb" -> endHeap, "load_start" -> r2(loadStart),
      "load_end" -> r2(loadEnd), "compare" -> compare,
      "queries" -> ListMap(fullQs: _*), "gc_ms" -> sortedMap(gcMs),
      "heap_mb" -> sortedMap(heapMb), "load1" -> sortedMap(load1),
      "sf" -> sfDir)
    try {
      val w = new java.io.PrintWriter(outName)
      try w.println(json.writeValueAsString(full)) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] artifact $outName not written: " +
        e.getMessage)
    }
    println(json.writeValueAsString(ListMap[String, Any](
      "metric" -> "total", "value" -> total, "unit" -> "sec",
      "n_queries" -> results.size, "n_failed" -> failed.size,
      "failed" -> failedSorted, "setup_sec" -> r3(setupSec),
      "gc_ms_total" -> totalGcMs, "peak_heap_mb" -> r3(peakHeapMb),
      "load_start" -> r2(loadStart), "load_end" -> r2(loadEnd),
      "n_regressed" -> nRegressed, "n_context" -> nContext,
      "n_unadjudicated" -> nUnadjudicated,
      "regressed_gates" -> verdicts.filter(_._6 == "regressed")
        .map(_._1).take(5),
      "queries" -> ListMap(fullQs.take(25): _*), "sf" -> sfDir)))
    spark.stop()
  }
}
