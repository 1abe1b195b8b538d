package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Dedup
import graft.schemas.Schemas

/** Cross-source merge + entity dedup — the flagship pipeline
  * (jobs/spark/merge_dedup.py:46-72): union the two conformed scrape
  * outputs, drop rows missing the (agent_id, location, price) business
  * identity, and keep the most-complete row per (location, price)
  * entity.
  *
  * Differences from the reference, both deliberate:
  *  - `runDate` injected instead of `datetime.today()` (MD:32);
  *  - `url` added as a deterministic tiebreaker to the window order
  *    (MD:25-26 leaves equal-null_count ties arbitrary).
  * Plan: the union/filter/null-count are projection-only; the dedup is
  * ONE hash-partition shuffle on (location, price).
  * [[graft.ops.Dedup.keepMostCompleteAgg]] computes the same result with
  * map-side combine and no sort (PipelineSpec pins the two equal on the
  * product rows). */
object MergeDedupJob {

  def transform(propnex: DataFrame, srx: DataFrame,
                runDate: java.time.LocalDate): DataFrame = {
    val unioned = propnex.unionByName(srx)
      .filter(col("agent_id").isNotNull && col("location").isNotNull &&
        col("price").isNotNull)
    Dedup.keepMostComplete(unioned, Seq("location", "price"),
        tiebreak = Seq("url"))
      .withColumn("transformed_date",
        lit(java.sql.Date.valueOf(runDate)))
      .select(Schemas.scrapedCols.map(col): _*)
  }
}
