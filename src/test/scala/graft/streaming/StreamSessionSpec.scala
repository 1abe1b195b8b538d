package graft.streaming

import java.nio.file.{Files, Path => NioPath, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.OffsetSeqLog
import org.apache.spark.sql.streaming.OutputMode

/** [[StreamingOps.session]] and the checkpoint file manager it
  * installs, end to end on real stream queries. */
class StreamSessionSpec extends SparkSpec {

  private val fixtures = "perfbench/fixtures/sf0.01"

  private def tree(p: NioPath): Vector[NioPath] = {
    val s = Files.walk(p)
    try s.iterator().asScala.toVector finally s.close()
  }

  test("stream queries on StreamingOps.session fork no Hadoop Shell " +
      "process") {
    // Shell's static initializer probes `setsid` once per JVM
    Class.forName("org.apache.hadoop.util.Shell")
    val jfr = Files.createTempFile("graft-forks", ".jfr")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      // a fork outside Hadoop: the recording does see process starts
      new ProcessBuilder("true").start().waitFor()
      // stateful: offset, commit and metadata logs plus state-store files
      val windows = StreamingOps.runToTable(StreamingOps.windowedCounts(
          StreamingOps.eventsStream(StreamingOps.session(spark), fixtures)),
        OutputMode.Complete())
      // foreachBatch: the logs without a state store
      val latest = StreamingOps.streamingLatestSnapshot(
        StreamingOps.eventsStream(StreamingOps.session(spark), fixtures))
      assert(windows.count() > 0 && latest.count() > 0)
    } finally rec.stop()
    try {
      rec.dump(jfr)
      val starts = RecordingFile.readAllEvents(jfr).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
      val viaShell = starts.filter(e => Option(e.getStackTrace).exists(
        _.getFrames.asScala.exists(_.getMethod.getType.getName
          .startsWith("org.apache.hadoop.util.Shell"))))
      assert(starts.nonEmpty)
      assert(viaShell.isEmpty,
        s"${viaShell.size} Shell forks: ${viaShell.map(_.getString("command"))
          .distinct.take(5).mkString("; ")}")
    } finally { rec.close(); Files.delete(jfr) }
  }

  test("a checkpoint written by Spark's default manager restarts on " +
      "StreamingOps.session without a new batch; a second log writer " +
      "fails the same way under both managers") {
    val dir = Files.createTempDirectory("graft-compat")
    try {
      val out = dir.resolve("sink").toString
      val default = spark.newSession()
      default.conf.set("spark.sql.shuffle.partitions", "4")
      StreamingOps.streamToPartitionedParquet(
        StreamingOps.eventsStream(default, fixtures), out)
      val cp = Paths.get(out, "_checkpoint")
      val logs = Seq("offsets", "commits").map(cp.resolve)
      def logFiles = logs.flatMap(tree(_).map(_.toString)).toSet
      val written = logFiles
      assert(written.exists(_.endsWith(".crc")))
      val rows = spark.read.parquet(out).count()
      assert(rows > 0)

      StreamingOps.streamToPartitionedParquet(StreamingOps.eventsStream(
        StreamingOps.session(spark), fixtures), out)
      assert(logFiles === written)
      assert(spark.read.parquet(out).count() === rows)

      val batch0 = logs.head.resolve("0")
      val bytes0 = Files.readAllBytes(batch0)
      def secondWriter(s: SparkSession) = {
        val log = new SecondWriter(s, logs.head.toString)
        val added = log.add(0L, log.get(0L).get)
        val e = intercept[Exception](log.rewrite(0L))
        (added, e.getClass.getName,
          e.asInstanceOf[org.apache.spark.SparkThrowable].getCondition)
      }
      val underDefault = secondWriter(default)
      // Spark's manager leaves the loser's temp file (and its .crc)
      val afterDefault = tree(logs.head).toSet
      assert(underDefault._1 === false)
      assert(underDefault._2 ===
        "org.apache.spark.SparkConcurrentModificationException")
      assert(secondWriter(StreamingOps.session(spark)) === underDefault)
      assert(Files.readAllBytes(batch0) sameElements bytes0)
      assert(tree(logs.head).toSet === afterDefault)
    } finally tree(dir).reverse.foreach(Files.delete)
  }
}

/** A log that writes a batch id whatever the directory holds: the
  * publish step of a concurrent writer that lost the race. */
private class SecondWriter(s: SparkSession, dir: String)
    extends OffsetSeqLog(s, dir) {
  def rewrite(batchId: Long): Unit = {
    val existing = get(batchId).get
    write(batchIdToPath(batchId), o => serialize(existing, o))
  }
}
