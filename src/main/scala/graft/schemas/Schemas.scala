package graft.schemas

import org.apache.spark.sql.types._

/** Explicit StructTypes for every source/sink the engine touches —
  * schema inference is nondeterministic and slow, so every read is
  * schema'd (SURVEY.md §1.2/§1.4). Field lists derive from the
  * reference's observed shapes:
  *  - propnex raw: the scraper dict, jobs/propnex_selenium.py:139-165
  *  - srx raw: jobs/srx_selenium.py:120-152
  *  - historical raw: the 10-column projection,
  *    jobs/spark/historical_data_transformation.py:22
  *  - dims: parquet footers under the reference's data directory
  *  - conformed outputs: dags/schemas.py:1-30 (scraped, 28 cols) and
  *    :32-50 (historical, 17 cols); column order from
  *    jobs/spark/merge_dedup.py:35-39 and
  *    jobs/spark/historical_data_transformation.py:72-75. */
object Schemas {

  private def allString(names: Seq[String]): StructType =
    StructType(names.map(StructField(_, StringType, nullable = true)))

  /** Raw propnex listing JSON (multiline array, all strings). */
  val propnexRaw: StructType = allString(Seq(
    "url", "location", "price", "price_psf", "street_town_district",
    "num_bedroom", "num_bathroom", "floor_area_sqft", "agent_name",
    "agent_id", "agent_email", "agent_phone_num", "listing_type",
    "property_group", "property_type", "district", "total_floor_area",
    "top", "furnishing", "tenure", "floor", "post_code", "street_name",
    "description", "facilities"))

  /** Raw SRX listing JSON (multiline array, all strings; note the
    * literal '/' in the last field name). */
  val srxRaw: StructType = allString(Seq(
    "url", "location", "floor_size_psf", "price", "num_bedroom",
    "num_bathroom", "description", "agent_name", "agent_id",
    "agent_phone_num", "address", "property_name", "property_type",
    "model", "bedrooms", "bathrooms", "furnish", "floor_level", "tenure",
    "developer", "built_year", "hdb_town", "asking", "size", "psf",
    "tenancy_status", "date_listed", "facilities", "train_stations",
    "schools", "shopping_mall/markets"))

  /** Raw historical resale CSV (header row; all columns land string). */
  val historicalRaw: StructType = allString(Seq(
    "month", "town", "flat_type", "block", "street_name", "storey_range",
    "floor_area_sqm", "flat_model", "lease_commence_date", "resale_price"))

  /** Dimension tables (broadcast join sides). */
  val districtCode: StructType = StructType(Seq(
    StructField("district", IntegerType),
    StructField("postal_sector", StringType, nullable = false),
    StructField("zone", StringType)))
  val districtRegion: StructType = StructType(Seq(
    StructField("district", IntegerType),
    StructField("region", StringType)))
  val townDistrict: StructType = StructType(Seq(
    StructField("general_location", StringType),
    StructField("district", LongType)))
  val agencyId: StructType = StructType(Seq(
    StructField("agency", StringType),
    StructField("agency_id", StringType)))

  /** Conformed listing from either scrape source: 27 columns, merge
    * order. */
  val listingCols: Seq[String] = Seq(
    "location", "price", "price_psf", "top", "remaining_lease",
    "bathrooms", "bedrooms", "total_floor_area", "property_type", "model",
    "floor", "general_location", "district", "zone", "region",
    "street_name", "post_code", "furnish", "floor_area_sqm",
    "facilities_num", "agent_id", "agent_name", "agent_phone_num",
    "agency", "agency_id", "url", "additional_information")

  /** Conformed scraped-listing output: 28 columns, merge order. */
  val scrapedCols: Seq[String] = listingCols :+ "transformed_date"

  /** Conformed historical output: 17 columns. */
  val historicalCols: Seq[String] = Seq(
    "date_of_sale", "year", "month", "general_location", "block",
    "street_name", "price", "top", "remaining_lease", "storey_range",
    "total_floor_area", "floor_area_sqm", "model", "property_type",
    "district", "zone", "region")
}
