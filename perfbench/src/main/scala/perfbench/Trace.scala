package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. `parent` is null for spans
  * whose parent is resolved later by time (a job belongs to the op
  * that was running when it started). */
final case class Span(id: String, parent: String, kind: String,
                      name: String, startMs: Long, endMs: Long)

/** Per-layer collector of the traced passes: a SparkListener (jobs,
  * stages, tasks, blocks) plus the Catalyst phase times and micro-batch
  * durations forwarded by [[PlanListener]] and [[StreamListener]]. It
  * counts only the work of jobs that started while it was attached, so
  * events still queued from untraced ops are ignored. */
final class Trace(spark: SparkSession) extends SparkListener {
  private val sums = new ConcurrentHashMap[String, java.lang.Double]()
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val blocks = new ConcurrentHashMap[String, Long]()
  private val stored = new AtomicLong()
  private val peakStored = new AtomicLong()
  private val stateRows = new ConcurrentHashMap[String, Long]()

  private def add(k: String, v: Double): Unit = { sums.merge(k, v, _ + _); () }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    e.stageIds.foreach(stageJob.put(_, e.jobId))
    jobStart.put(e.jobId, e.time)
    add("sched.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { t0 =>
      spans.add(Span(s"job-${e.jobId}", null, "job", s"job ${e.jobId}",
        t0, e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    Option(stageJob.get(si.stageId)).foreach { job =>
      add("sched.stages", 1)
      spans.add(Span(s"stage-${si.stageId}.${si.attemptNumber()}",
        s"job-$job", "stage", si.name,
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageJob.containsKey(e.stageId)) {
      add("sched.tasks", 1)
      if (e.reason != Success) add("exec.task_failures", 1)
      Option(e.taskMetrics).foreach { m =>
        add("exec.task_s", m.executorRunTime / 1e3)
        add("exec.cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("spill.disk_bytes", m.diskBytesSpilled.toDouble)
        add("spill.memory_bytes", m.memoryBytesSpilled.toDouble)
        add("io.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("io.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    val size = info.memSize + info.diskSize
    val prev = Option(
      if (size > 0) blocks.put(info.blockId.name, size)
      else blocks.remove(info.blockId.name)).getOrElse(0L)
    val now = stored.addAndGet(size - prev)
    peakStored.accumulateAndGet(now, math.max)
  }

  private[perfbench] def planned(qe: QueryExecution): Unit = {
    add("plan.executions", 1)
    qe.tracker.phases.foreach { case (phase, s) =>
      Trace.phaseKeys.get(phase).foreach(add(_, s.durationMs / 1e3))
    }
  }

  private[perfbench] def streamStarted(): Unit = add("stream.queries", 1)

  private[perfbench] def progressed(p: StreamingQueryProgress): Unit = {
    def ms(k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    add("stream.batches", 1)
    add("stream.trigger_s", ms("triggerExecution") / 1e3)
    add("stream.add_batch_s", ms("addBatch") / 1e3)
    add("stream.overhead_s", (ms("triggerExecution") - ms("addBatch")) / 1e3)
    stateRows.put(p.runId.toString, p.stateOperators.map(_.numRowsTotal).sum)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    Trace.active = this
  }

  /** Detaches after every queued event has been delivered. */
  def detach(): Unit = {
    org.apache.spark.perfbench.ListenerBusAccess.drain(spark.sparkContext)
    Trace.active = null
    spark.sparkContext.removeSparkListener(this)
  }

  /** Counter totals over the traced passes. */
  def totals: Map[String, Double] =
    sums.asScala.map { case (k, v) => k -> v.doubleValue }.toMap ++ Map(
      "block.peak_stored_bytes" -> peakStored.get.toDouble,
      "stream.state_rows" -> stateRows.values.asScala.map(_.toDouble).sum)
}

object Trace {
  /** The collector of the traced pass now running, if any. */
  @volatile private[perfbench] var active: Trace = null

  private val phaseKeys = Map("analysis" -> "plan.analysis_s",
    "optimization" -> "plan.optimizer_s", "planning" -> "plan.physical_s")

  /** Session confs that install the two listeners below in every
    * session of the context, including the fresh sessions gates make. */
  val sessionConfs: Map[String, String] = Map(
    "spark.sql.queryExecutionListeners" -> classOf[PlanListener].getName,
    "spark.sql.streaming.streamingQueryListeners" ->
      classOf[StreamListener].getName)
}

/** Catalyst phase times of every query execution, to the active trace. */
final class PlanListener extends QueryExecutionListener {
  def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    Option(Trace.active).foreach(_.planned(qe))
  def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit =
    Option(Trace.active).foreach(_.planned(qe))
}

/** Streaming query starts and micro-batch progress, to the active trace. */
final class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  def onQueryStarted(e: QueryStartedEvent): Unit =
    Option(Trace.active).foreach(_.streamStarted())
  def onQueryProgress(e: QueryProgressEvent): Unit =
    Option(Trace.active).foreach(_.progressed(e.progress))
  def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
