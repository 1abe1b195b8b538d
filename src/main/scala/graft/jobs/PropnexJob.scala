package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{Cleaning, Joins, Parsers}
import graft.schemas.Schemas

/** Propnex listing standardization — same observable semantics as the
  * reference job (jobs/spark/propnex_transformation.py:104-157),
  * re-expressed as one declarative Scala pipeline:
  *  - no Python↔JVM boundary, single whole-stage-codegen span up to the
  *    broadcast join;
  *  - `runDate` injected instead of driver-side `datetime.today()`
  *    (PN:72) so runs are reproducible;
  *  - lenient casts reproduce pre-ANSI null-on-malformed behavior.
  * At scale: pure projections over the scan + one broadcast join —
  * zero shuffles at any input size. */
object PropnexJob {

  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.propnexRaw)
      .option("multiLine", "true").json(path)

  /** Staged wide projections (one `withColumns` per dependency level,
    * the rule [[Cleaning.castColumns]] states) instead of a
    * `withColumn` chain: each stage reads only the previous stage's
    * columns. Output: [[Schemas.listingCols]]. */
  def transform(raw: DataFrame, dims: Pipeline.Dims,
                runDate: java.time.LocalDate): DataFrame = {
    val cleaned = Cleaning.normalizeNulls(raw)
      .withColumns(Map(
        // agent fields (PN:13-16)
        "agent_email" -> lower(col("agent_email")),
        "agent_id" -> Parsers.agentIdAfterHash(col("agent_id")),
        "agent_phone_num" -> substring_index(col("agent_phone_num"), " ", -1)
          .try_cast(IntegerType),
        // description scrub (PN:18-20)
        "description" -> trim(Cleaning.stripEmoji(col("description"))),
        // floor area sqm out of the sqft blurb (PN:22-23) — stays string
        // until the final cast pass, like the reference
        "floor_area_sqm" ->
          regexp_extract(col("floor_area_sqft"), "\\((\\d+)\\s*sqm\\)", 1),
        // price (PN:25-26)
        "price" -> Cleaning.parseMoney(col("price")),
        // furnishing (PN:29-33)
        "furnish" -> Cleaning.normalizeFurnishing(col("furnishing")),
        // general_location from the multi-line street/town/district
        // blob (PN:35-36): line 2, up to " ("
        "general_location" ->
          split(split(col("street_town_district"), "\\n").getItem(1), " \\(")
            .getItem(0),
        // facilities count (PN:40-42)
        "facilities_num" -> Parsers.facilitiesCount(col("facilities")),
        // location rebuild (PN:44-53)
        "location" -> Parsers.rebuildLocation(col("location")),
        // floor (PN:58)
        "floor" -> lower(split(col("floor"), " ").getItem(0)),
        // remaining lease from injected run date (PN:71-72)
        "remaining_lease" ->
          (lit(99) - (lit(runDate.getYear) - col("top").try_cast(IntegerType))),
        // postal sector for the district join (PN:74-75)
        "postal_sector" -> Parsers.postalSector(col("post_code"))))
      .withColumns(Map(
        // psf from the parsed price (PN:27)
        "price_psf" ->
          round(col("price") / col("total_floor_area").try_cast(DoubleType))
            .try_cast(IntegerType),
        // garbage "(D..." nulled (PN:37-38)
        "general_location" ->
          Cleaning.nullIfPrefix(col("general_location"), "(D"),
        // numeric-only location falls back to the street (PN:53)
        "location" ->
          when(trim(col("location")).rlike("^\\d+$"),
            initcap(col("street_name"))).otherwise(col("location")),
        "street_name" -> initcap(col("street_name")),
        // agency + its id from the agent's email domain (PN:65-69)
        "agency" -> when(col("agent_email").contains("propnex.com"),
          lit("PROPNEX REALTY PTE. LTD.")),
        "agency_id" -> when(col("agent_email").contains("propnex.com"),
          lit("L3008022J")),
        // leftover free text packed as JSON (PN:80-90)
        "additional_information" -> to_json(struct(
          coalesce(col("agent_email"), lit("N/A")).as("agent_email"),
          coalesce(col("facilities"), lit("N/A")).as("facilities"),
          coalesce(col("description"), lit("N/A")).as("description"))),
        // (PN:61-63)
        "property_type" -> lit(null).cast(StringType),
        "model" -> lit(null).cast(StringType)))
      .withColumnsRenamed(Map(
        "num_bedroom" -> "bedrooms", "num_bathroom" -> "bathrooms"))

    // district/zone/region via postal sector (PN:130-132): the sector's
    // district supersedes the listing's own "D19" (PN:57), which the
    // reference overwrites without reading
    val enriched = Joins.broadcastEnrich(cleaned.drop("district"),
      dims.sectorLookup, Seq("postal_sector"))

    Cleaning.castColumnsLenient(
      Cleaning.normalizeNulls(
        enriched.select(Schemas.listingCols.map(col): _*)),
      Map("bathrooms" -> IntegerType, "bedrooms" -> IntegerType,
        "top" -> IntegerType, "total_floor_area" -> IntegerType,
        "floor_area_sqm" -> IntegerType))
  }
}
