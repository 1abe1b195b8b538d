package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{Cleaning, Joins}
import graft.schemas.Schemas

/** Historical resale-transaction standardization — same observable
  * semantics as the reference job
  * (jobs/spark/historical_data_transformation.py:82-126). The
  * reference's driver-side GCS blob loop + per-file `unionByName`
  * (HIST:13-27) is replaced by Spark's native multi-file directory scan:
  * one `FileScan csv` with as many partitions as the cluster wants —
  * at 100 TB the scan parallelizes across executors instead of
  * serializing through a driver loop. Pure projections + one
  * broadcast join; zero shuffles. */
object HistoricalJob {

  def readRaw(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(Schemas.historicalRaw)
      .option("header", "true").csv(dir)
      .select(Schemas.historicalRaw.fieldNames.map(col).toIndexedSeq: _*)

  /** Staged wide projections, as in [[PropnexJob.transform]].
    * Output: [[Schemas.historicalCols]]. */
  def transform(raw: DataFrame, dims: Pipeline.Dims): DataFrame = {
    val cleaned = raw
      // renames (HIST:34-37)
      .withColumnsRenamed(Map("flat_model" -> "model",
        "resale_price" -> "price", "lease_commence_date" -> "top"))
      .withColumns(Map(
        // title-casing (HIST:29-32) + flat-type label fixes (HIST:39-42)
        "general_location" -> initcap(col("town")),
        "street_name" -> initcap(col("street_name")),
        "property_type" ->
          Cleaning.fixFlatTypeLabels(initcap(col("flat_type"))),
        // sqm → sqft (HIST:44-46)
        "total_floor_area" ->
          Cleaning.sqmToSqft(col("floor_area_sqm").try_cast(DoubleType)),
        // date assembly (HIST:48-49)
        "date_of_sale" -> Cleaning.monthToDate(col("month"))))
      .withColumns(Map(
        // date parts (HIST:50-51) + remaining lease (HIST:53-54)
        "year" -> year(col("date_of_sale")),
        "month" -> month(col("date_of_sale")),
        "remaining_lease" -> Cleaning.remainingLease(
          year(col("date_of_sale")), col("top").try_cast(IntegerType))))

    // case-insensitive town → district/zone/region enrich with initcap
    // restore + the '/w'→'/W' fix-up (HIST:59-63, 103-104)
    val enriched = Joins.normalizedEnrich(cleaned, dims.townLookup,
      "general_location",
      c => regexp_replace(initcap(c), "/w", "/W"))

    Cleaning.castColumnsLenient(
      enriched.select(Schemas.historicalCols.map(col): _*),
      Map("district" -> IntegerType, "floor_area_sqm" -> IntegerType,
        "top" -> IntegerType, "price" -> IntegerType))
  }
}
