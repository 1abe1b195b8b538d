package graft

import java.nio.file.Paths
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the DuckDB oracle compare and
  * verify_manifest.json (per-gate rows, seconds, error). */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names (fast single-query
    // re-verification while iterating; driver passes only two args)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, q) => (s, o, Some(q))
    }
    val queries = SparkEntry.queries
    val gates = Harness.selectGates(only).map(n => n -> queries(n))
    val spark = Harness.session()
    // CONCURRENT dump (r14 verdict item 1/6: the driver's correctness
    // record was empty because the round's gate window ran out of
    // wall; each gate is an independent small Spark job that underuses
    // 32 cores, so a pool of 4 cuts the sweep toward its critical path
    // — same rationale as Bench's prepare pool, and same-store builds
    // stay serialized by StoreLedger's per-key locks).
    dump(spark, sfDir, outDir, gates, poolN = 4)
    writeOracleSql(outDir, SparkEntry.oracleSql)
    spark.stop()
  }

  /** Runs `gates` on a pool of `poolN` threads, writes each result to
    * `<outDir>/<gate>` as one parquet file and every gate's record to
    * `<outDir>/verify_manifest.json`: gate -> `rows` (null when the
    * gate failed), `seconds`, `error` (null when it did not). The row
    * count is an observation on the write itself, not a second job.
    * Gate-local checkpoint blocks are freed at WAVE boundaries on this
    * thread, never per-gate from pool threads: a getPersistentRDDs
    * id-delta from one thread would unpersist a CONCURRENT gate's live
    * checkpoints (the round-13 CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
    * incident, documented in ops/Checkpoints.scala). */
  private[graft] def dump(spark: SparkSession, sfDir: String,
      outDir: String, gates: Seq[(String, (SparkSession, String) => DataFrame)],
      poolN: Int): Unit = {
    new java.io.File(outDir).mkdirs()
    // same inter-gate hygiene as Bench (Harness.freeGateBlocks)
    val baselineRdds = Harness.gateBaseline(spark)
    val manifest = new java.util.concurrent.ConcurrentSkipListMap[String,
      java.util.Map[String, Any]]()
    gates.grouped(4 * poolN).foreach { wave =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(poolN)
      wave.foreach { case (name, fn) =>
        pool.execute { () =>
          var rows: Any = null
          val run = Harness.runGate(spark, sfDir, name, fn, sink = { df =>
            val obs = Observation()
            df.observe(obs, count(lit(1)).as("rows"))
              .coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            rows = obs.get("rows")
          })
          run.error.foreach(msg =>
            System.err.println(s"[verify] $name failed: $msg"))
          manifest.put(name, ListMap("rows" -> rows,
            "seconds" -> math.round(run.sec * 1e3) / 1e3,
            "error" -> run.error.orNull).asJava)
        }
      }
      pool.shutdown()
      pool.awaitTermination(2, java.util.concurrent.TimeUnit.HOURS)
      Harness.freeGateBlocks(spark, baselineRdds, blocking = false)
    }
    new ObjectMapper().writerWithDefaultPrettyPrinter().writeValue(
      Paths.get(outDir, "verify_manifest.json").toFile, manifest)
  }

  /** `<outDir>/oracle_sql.json`: gate name -> DuckDB SQL, one JSON
    * object. Written by Jackson — a tab or CR in builder-authored SQL
    * once risked making the driver's json.load fail and silently
    * zeroing the round's correctness record. */
  private[graft] def writeOracleSql(outDir: String,
                                    sql: Map[String, String]): Unit = {
    new ObjectMapper().writeValue(
      Paths.get(outDir, "oracle_sql.json").toFile, sql.asJava)
  }
}
