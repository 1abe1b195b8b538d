package graft.jobs

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.schemas.Schemas
import java.time.LocalDate
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

/** End-to-end pipeline orchestration — the Spark-native stand-in for
  * the reference's 17-task Airflow DAG (dags/pipeline.py:282-288). The
  * DAG's two independent load chains are two concurrent branches here:
  * `scraped` (Propnex + SRX → merge-dedup) and `historical` are built
  * and written at the same time, and their completion markers are
  * committed in step order, so the markers on disk are always a prefix
  * of the step order (see [[runResumable]]). Spark's scheduler supplies
  * the intra-job parallelism. Ingestion (Selenium/REST) is
  * out-of-engine — the contract starts at "files exist"
  * (SURVEY.md §1.4). */
object Pipeline {

  /** The four ≤81-row dimension tables, plus the lookups the jobs join
    * against. Each lookup pre-joins its dims once per `Dims` (on first
    * use) and is kept as a local relation, so a fact does ONE broadcast
    * join per key, with no dim scan or broadcast-build job of its own.
    * Pre-joining is exact: a left join whose inner key comes only from
    * the first dim associates — fact ⟕ (A ⟕ B) = (fact ⟕ A) ⟕ B —
    * including unmatched keys (null payload) and duplicated dim keys
    * (fan-out). The lookups snapshot the dims' contents at first use. */
  final case class Dims(districtCode: DataFrame, districtRegion: DataFrame,
                        townDistrict: DataFrame, agencyId: DataFrame) {

    /** postal_sector → district, zone, region
      * (district_code ⟕ district_region). */
    lazy val sectorLookup: DataFrame = local(
      districtCode.join(districtRegion, Seq("district"), "left")
        .select("postal_sector", "district", "zone", "region"))

    /** general_location → district, zone, region (town_district ⟕
      * distinct(district, zone) ⟕ district_region; HIST:59-63,103-104). */
    lazy val townLookup: DataFrame = local(
      townDistrict
        .join(districtCode.select("district", "zone").distinct(),
          Seq("district"), "left")
        .join(districtRegion, Seq("district"), "left"))

    /** agency_id → agency. */
    lazy val agency: DataFrame = local(agencyId)

    private def local(df: DataFrame): DataFrame =
      df.sparkSession.createDataFrame(df.collect().toSeq.asJava, df.schema)
  }

  def readDims(spark: SparkSession, dir: String): Dims = Dims(
    spark.read.schema(Schemas.districtCode).parquet(s"$dir/district_code"),
    spark.read.schema(Schemas.districtRegion)
      .parquet(s"$dir/district_region"),
    spark.read.schema(Schemas.townDistrict).parquet(s"$dir/town_district"),
    spark.read.schema(Schemas.agencyId).parquet(s"$dir/agency_id"))

  /** The `scraped` branch: the two listing transforms + merge-dedup —
    * the conformed 28-column merged listings. */
  def scraped(spark: SparkSession, propnexJson: String, srxJson: String,
              dims: Dims, runDate: LocalDate): DataFrame =
    MergeDedupJob.transform(
      PropnexJob.transform(PropnexJob.readRaw(spark, propnexJson), dims,
        runDate),
      SrxJob.transform(SrxJob.readRaw(spark, srxJson), dims, runDate),
      runDate)

  /** The `historical` branch: the 17-column historical table. */
  def historical(spark: SparkSession, historicalCsvDir: String,
                 dims: Dims): DataFrame =
    HistoricalJob.transform(HistoricalJob.readRaw(spark, historicalCsvDir),
      dims)

  /** REPLAY-IDEMPOTENT day-partitioned sink — closes the replay
    * hazard the reference ships: its loads are WRITE_APPEND under
    * Airflow retries (dags/pipeline.py:246,258,271 + per-task
    * `retries`), so a load that dies after commit and is retried
    * double-appends the day's rows. Dynamic partition overwrite
    * replaces exactly the partitions PRESENT IN THIS BATCH: a retried
    * same-day load lands byte-identical (gate q_partition_replay
    * hash-pins re-run ≡ single run), other days' partitions are
    * untouched, and downstream readers keep the same pruned layout.
    * At 100 TB this is the difference between "retries are safe" and
    * "every retry needs a manual dedup pass". The session's own
    * partitionOverwriteMode is left untouched. Local paths are written
    * through [[NioLocalFileSystem]], which forks no `chmod`. */
  def writePartitionedIdempotent(df: DataFrame, path: String,
                                 partitionCol: String): Unit =
    // write options, not the session conf: concurrent writers (the
    // pipeline's branches) must not see each other's mode
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .options(NioLocalFileSystem.writeOptions)
      .partitionBy(partitionCol).parquet(path)

  /** RESUMABLE chain execution — the retry/skip/resume story the
    * reference delegates to Airflow (jobs trap everything to
    * sys.exit(1) and the DAG retries the task:
    * merge_dedup.py:67-68, dags/pipeline.py task `retries`): each
    * sink write is guarded by a per-step completion marker beside the
    * output (the StoreGuard.tables pattern at file level), so a
    * re-run after a death SKIPS finished sinks and resumes at the
    * first incomplete one.
    *
    * The pending steps are built and written CONCURRENTLY, one thread
    * each on a pool created per call. Invariant: the markers on disk
    * are a prefix of the step order — a step's marker lands only after
    * every earlier step's marker, and `onStepWritten` runs on the
    * caller's thread, in step order, after the step's write and BEFORE
    * its marker. If any write or hook fails, the call waits for the
    * sibling writes to finish (no write is left running, no staging
    * dir left behind) and rethrows the first failure in step order.
    * Death windows:
    *  - during a write → no marker; the retry re-runs the step, and
    *    the idempotent partition overwrite makes the second landing
    *    byte-identical (no double-append);
    *  - between write and marker, or a later step written before an
    *    earlier one committed → same as above: re-run is a no-op on
    *    the data, then the marker lands.
    * Returns the step names actually executed this invocation.
    * `onStepWritten` is a test seam — throwing there simulates the
    * second death window (PipelineSpec kill-and-rerun). */
  def runResumable(spark: SparkSession, propnexJson: String,
                   srxJson: String, historicalCsvDir: String, dims: Dims,
                   runDate: LocalDate, outDir: String,
                   onStepWritten: String => Unit = _ => ()): Seq[String] = {
    val steps: Seq[(String, () => Unit)] = Seq(
      "scraped" -> (() => writePartitionedIdempotent(
        scraped(spark, propnexJson, srxJson, dims, runDate),
        s"$outDir/scraped", "transformed_date")),
      "historical" -> (() => writePartitionedIdempotent(
        historical(spark, historicalCsvDir, dims),
        s"$outDir/historical", "date_of_sale")))
    def marker(name: String) = new java.io.File(outDir, s"_graft_done_$name")
    val pending = steps.filterNot { case (name, _) => marker(name).exists() }
    // threads start on submit, from this thread: they inherit its
    // local properties
    val pool = Executors.newFixedThreadPool(math.max(1, pending.size))
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try {
      val writes = pending.map { case (name, write) =>
        name -> Future(write())
      }
      try writes.map { case (name, written) =>
        Await.result(written, Duration.Inf)
        onStepWritten(name)
        marker(name).getParentFile.mkdirs()
        marker(name).createNewFile()
        name
      } finally writes.foreach { case (_, w) => Await.ready(w, Duration.Inf) }
    } finally pool.shutdown()
  }

  /** CLI: <propnexJson> <srxJson> <historicalCsvDir> <dimsDir> <outDir>
    * [runDate]. Resumable: re-invoking after a failure completes the
    * remaining steps (see [[runResumable]]). */
  def main(args: Array[String]): Unit = {
    val Array(pn, srx, hist, dimsDir, outDir) = args.take(5)
    val runDate = args.lift(5).map(LocalDate.parse)
      .getOrElse(LocalDate.now())
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .getOrCreate()
    runResumable(spark, pn, srx, hist, readDims(spark, dimsDir),
      runDate, outDir)
    spark.stop()
  }
}
