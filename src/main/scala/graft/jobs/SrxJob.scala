package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{Cleaning, Joins, Parsers}
import graft.schemas.Schemas

/** SRX listing standardization — same observable semantics as the
  * reference job (jobs/spark/srx_transformation.py:116-167). The
  * reference's one Python UDF (bedrooms, SRX:68-83) is replaced by the
  * codegen'd built-in expression [[Parsers.bedroomCount]], deleting the
  * per-batch JVM↔Python `BatchEvalPython` boundary — this job is a
  * single unbroken codegen stage plus two broadcast joins; zero
  * shuffles at any input size. */
object SrxJob {

  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.srxRaw)
      .option("multiLine", "true").json(path)

  /** Staged wide projections, as in [[PropnexJob.transform]].
    * Output: [[Schemas.listingCols]]. */
  def transform(raw: DataFrame, dims: Pipeline.Dims,
                runDate: java.time.LocalDate): DataFrame = {
    val cleaned = Cleaning.normalizeNulls(raw)
      // renames (SRX:62-66)
      .withColumnsRenamed(Map("built_year" -> "top",
        "property_name" -> "street_name", "hdb_town" -> "general_location"))
      .withColumns(Map(
        // CEA registration numbers embedded in agent_id free text
        // (SRX:13-17); both read the raw agent_id
        "agency_id" -> Parsers.agencyRegNo(col("agent_id")),
        "agent_id" -> Parsers.agentRegNo(col("agent_id")),
        "agent_phone_num" ->
          split(col("agent_phone_num"), ":").getItem(1).try_cast(IntegerType),
        "agent_name" -> trim(Cleaning.stripNonAscii(col("agent_name"))),
        // postcode + location out of the address, location rebuilt
        // (SRX:19-31)
        "post_code" -> Parsers.postcodeFromAddress(col("address")),
        "location" -> Parsers.rebuildLocation(
          split(col("address"), " \\(").getItem(0)),
        // description scrub (SRX:33-35)
        "description" -> trim(Cleaning.stripEmoji(col("description"))),
        // facilities count (SRX:37-39)
        "facilities_num" -> Parsers.facilitiesCount(col("facilities")),
        // furnishing (SRX:41-45; srx spells it "not furnished")
        "furnish" ->
          Cleaning.normalizeFurnishing(col("furnish"), "not furnished"),
        // price + psf (SRX:47-49)
        "price" -> Cleaning.parseMoney(col("price")),
        "price_psf" -> Parsers.pricePsf(col("psf")),
        // floor area sqm (SRX:51-52)
        "floor_area_sqm" ->
          trim(split(col("size"), "sqm").getItem(0)).try_cast(IntegerType),
        // property type / floor level (SRX:56-60)
        "property_type" ->
          trim(split(col("property_type"), "HDB").getItem(1)),
        "floor" -> Cleaning.normalizeFloorLevel(col("floor_level")),
        "street_name" -> initcap(col("street_name")),
        // bedrooms parser — the UDF replacement (SRX:68-83)
        "bedrooms" -> Parsers.bedroomCount(col("bedrooms")),
        // remaining lease from injected run date (SRX:85-86)
        "remaining_lease" -> Cleaning.remainingLease(
          lit(runDate.getYear), col("top").try_cast(IntegerType))))
      .withColumns(Map(
        // sqft from the parsed sqm (SRX:53-54)
        "total_floor_area" -> Cleaning.sqmToSqft(col("floor_area_sqm")),
        // postal sector (SRX:88-89)
        "postal_sector" -> Parsers.postalSector(col("post_code")),
        // leftover free text packed as JSON (SRX:94-106)
        "additional_information" -> to_json(struct(
          coalesce(col("facilities"), lit("N/A")).as("facilities"),
          coalesce(col("schools"), lit("N/A")).as("schools"),
          coalesce(col("shopping_mall/markets"), lit("N/A"))
            .as("shopping_malls/markets"),
          coalesce(col("train_stations"), lit("N/A")).as("train_stations"),
          coalesce(col("description"), lit("N/A")).as("description")))))

    // district/zone/region via postal sector, agency via its id
    // (SRX:146-148)
    val enriched = Joins.broadcastEnrich(
      Joins.broadcastEnrich(cleaned, dims.sectorLookup, Seq("postal_sector")),
      dims.agency, Seq("agency_id"))

    Cleaning.castColumnsLenient(
      Cleaning.normalizeNulls(
        enriched.select(Schemas.listingCols.map(col): _*)),
      Map("bathrooms" -> IntegerType, "top" -> IntegerType))
  }
}
