package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One-time content-addressed store build that gates read: a name
  * (Bench's `setup` key, `perfbench`'s workload lookup) and the build.
  * Each value is defined once, beside its builder; builds are
  * idempotent and guarded ([[graft.ops.StoreGuard]]), so a consumer
  * gate still self-heals if its store is missing. */
final case class Prepare(name: String, build: (SparkSession, String) => Unit)

/** One registered engine query: the Spark implementation plus (where
  * ANSI-SQL-expressible) the DuckDB oracle twin the driver hash-compares
  * against, and the prepared stores it reads. Queries without an
  * oracle get the weaker rows-only check. */
final case class Q(name: String,
                   run: (SparkSession, String) => DataFrame,
                   oracle: Option[String],
                   stores: Seq[Prepare] = Nil)

object Registry {
  def all: Seq[Q] =
    RefQueries.all ++ AggQueries.all ++ TextQueries.all ++
      SimQueries.all ++ JobQueries.all ++ StreamQueries.all ++
      MultimodalQueries.all ++ CorpusQueries.all ++ MergeQueries.all ++
      AnalyticsQueries.all ++ ScaleQueries.all ++ ClusterQueries.all ++
      CodeQueries.all

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Every store some gate reads ([[storesOf]] over all gates). The
    * bench harness runs these UNTIMED before the query loop, because
    * in a metastore-backed deployment they are paid once per corpus
    * refresh, not once per session: the session catalog here is
    * in-memory, so without this pass every fresh bench session
    * re-charges each build to whichever consumer runs first
    * (alphabetical accident, not steady-state cost) — the PQ codebook
    * training alone would bill all 8 k-means runs to the first PQ
    * gate. This pass only moves WHERE the cost lands. */
  def prepares: Seq[(String, (SparkSession, String) => Unit)] = storesOf(all)

  /** The stores `gates` declare, each once, in first-declared order. */
  def storesOf(gates: Seq[Q]): Seq[(String, (SparkSession, String) => Unit)] =
    gates.flatMap(_.stores).distinct.map(p => p.name -> p.build)
}
