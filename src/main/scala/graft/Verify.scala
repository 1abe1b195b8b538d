package graft
import java.nio.file.Paths
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names (fast single-query
    // re-verification while iterating; driver passes only two args)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, q) => (s, o, Some(q.split(",").toSet))
    }
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // same inter-gate hygiene as Bench (Harness.freeGateBlocks)
    val baselineRdds = Harness.gateBaseline(spark)
    // CONCURRENT dump (r14 verdict item 1/6: the driver's correctness
    // record was empty because the round's gate window ran out of
    // wall; each gate is an independent small Spark job that underuses
    // 32 cores, so a pool of 4 cuts the sweep toward its critical path
    // — same rationale as Bench's prepare pool, and same-store builds
    // stay serialized by StoreLedger's per-key locks). Gate-local
    // checkpoint blocks are freed at WAVE boundaries on this thread,
    // never per-gate from pool threads: a getPersistentRDDs id-delta
    // from one thread would unpersist a CONCURRENT gate's live
    // checkpoints (the round-13 CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
    // incident, documented in ops/Checkpoints.scala). Sequential
    // escape hatch: SPARK_GRAFT_VERIFY_POOL=1.
    val poolN = math.max(1,
      sys.env.get("SPARK_GRAFT_VERIFY_POOL").flatMap(_.toIntOption)
        .getOrElse(4))
    val gates = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    gates.grouped(4 * poolN).foreach { wave =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(poolN)
      wave.foreach { case (name, fn) =>
        pool.execute { () =>
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        }
      }
      pool.shutdown()
      pool.awaitTermination(2, java.util.concurrent.TimeUnit.HOURS)
      Harness.freeGateBlocks(spark, baselineRdds, blocking = false)
    }
    writeOracleSql(outDir, SparkEntry.oracleSql)
    spark.stop()
  }

  /** `<outDir>/oracle_sql.json`: gate name -> DuckDB SQL, one JSON
    * object. Written by Jackson — a tab or CR in builder-authored SQL
    * once risked making the driver's json.load fail and silently
    * zeroing the round's correctness record. */
  private[graft] def writeOracleSql(outDir: String,
                                    sql: Map[String, String]): Unit = {
    import scala.jdk.CollectionConverters._
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(
      Paths.get(outDir, "oracle_sql.json").toFile, sql.asJava)
  }
}
