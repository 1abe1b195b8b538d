package graft.jobs

import graft.SparkSpec
import graft.schemas.Schemas
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import java.nio.file.Files
import java.time.LocalDate

/** Golden pipeline test: reference-shaped fixture inputs (FIXTURES.md
  * A1-A4) through all four jobs, with injected runDate for byte-stable
  * output. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val runDate = LocalDate.of(2024, 11, 1)

  // -- dims (A4 shapes) -----------------------------------------------
  private def districtCode = Seq(
    (19, "53", "Hougang"), (19, "54", "Hougang"), (20, "56", "Bishan")
  ).toDF("district", "postal_sector", "zone")
  private def districtRegion = Seq(
    (19, "North-East Region"), (20, "Central Region")
  ).toDF("district", "region")
  private def townDistrict = Seq(
    ("Hougang", 19L), ("Bishan", 20L), ("Kallang/Whampoa", 12L)
  ).toDF("general_location", "district")
  private def agencyId = Seq(
    ("ERA REALTY NETWORK PTE LTD", "L1234567A")
  ).toDF("agency", "agency_id")
  private def dims = Pipeline.Dims(districtCode, districtRegion,
    townDistrict, agencyId)

  // -- raw fixtures ----------------------------------------------------
  private def propnexRawJson: String =
    """[{
      |"url": "https://example.com/listing/1",
      |"location": "Blk 123A upper serangoon rd",
      |"price": "$550,000",
      |"price_psf": "None",
      |"street_town_district": "Upper Serangoon Rd\nHougang (D19)",
      |"num_bedroom": "3", "num_bathroom": "2",
      |"floor_area_sqft": "1,184 sqft (110 sqm)",
      |"agent_name": "Jane Tan",
      |"agent_id": "agent#R123456A",
      |"agent_email": "Jane.Tan@PropNex.com",
      |"agent_phone_num": "+65 91234567",
      |"listing_type": "sale", "property_group": "hdb",
      |"property_type": "None", "district": "D19",
      |"total_floor_area": "1184", "top": "1995",
      |"furnishing": "Partially Furnished", "tenure": "99-year",
      |"floor": "high floor", "post_code": "534011",
      |"street_name": "upper serangoon rd",
      |"description": "nice 😀 flat\nwith view",
      |"facilities": "pool,gym,bbq"
      |},{
      |"url": "https://example.com/listing/2",
      |"location": "456 bishan st 22",
      |"price": "$720,000",
      |"price_psf": "",
      |"street_town_district": "Bishan St 22\n(D20)",
      |"num_bedroom": "4", "num_bathroom": "2",
      |"floor_area_sqft": "1,300 sqft (121 sqm)",
      |"agent_name": "Bob Lee",
      |"agent_id": "agent#R654321B",
      |"agent_email": "bob@other.com",
      |"agent_phone_num": "+65 98765432",
      |"listing_type": "sale", "property_group": "hdb",
      |"property_type": "None", "district": "D20",
      |"total_floor_area": "1300", "top": "2001",
      |"furnishing": "Unfurnished", "tenure": "99-year",
      |"floor": "mid floor", "post_code": "560456",
      |"street_name": "bishan st 22",
      |"description": "None",
      |"facilities": "None"
      |}]""".stripMargin

  private def srxRawJson: String =
    """[{
      |"url": "https://example.com/srx/9",
      |"location": "None",
      |"floor_size_psf": "x", "price": "$560,000",
      |"num_bedroom": "3", "num_bathroom": "2",
      |"description": "great view 🏠",
      |"agent_name": "Alice Ng ☆",
      |"agent_id": "CEA: R111222C / L1234567A",
      |"agent_phone_num": "tel:91112222",
      |"address": "123A Upper Serangoon Rd (534011)",
      |"property_name": "upper serangoon rd",
      |"property_type": "HDB 4 Rooms", "model": "Model A",
      |"bedrooms": "3+1", "bathrooms": "2",
      |"furnish": "Not Furnished", "floor_level": "Mid",
      |"tenure": "99 yrs", "developer": "HDB",
      |"built_year": "1995", "hdb_town": "Hougang",
      |"asking": "x", "size": "110 sqm", "psf": "$473 psf",
      |"tenancy_status": "x", "date_listed": "x",
      |"facilities": "pool,gym",
      |"train_stations": "Serangoon MRT",
      |"schools": "Xinmin Primary",
      |"shopping_mall/markets": "NEX"
      |}]""".stripMargin

  private val histCsv =
    """month,town,flat_type,block,street_name,storey_range,floor_area_sqm,flat_model,lease_commence_date,resale_price
      |2017-03,HOUGANG,4 ROOM,123A,UPPER SERANGOON RD,10 TO 12,110,Model A,1995,550000
      |2017-04,KALLANG/WHAMPOA,MULTI GENERATION,9,WHAMPOA DR,04 TO 06,150,Maisonette,1985,880000
      |""".stripMargin

  private def writeTemp(name: String, content: String): String = {
    val dir = Files.createTempDirectory("graft-fixture").toFile
    val f = new java.io.File(dir, name)
    Files.writeString(f.toPath, content)
    if (name.endsWith(".csv")) dir.getAbsolutePath else f.getAbsolutePath
  }

  private lazy val pnOut: DataFrame = PropnexJob.transform(
    PropnexJob.readRaw(spark, writeTemp("pn.json", propnexRawJson)),
    dims, runDate)
  private lazy val srxOut: DataFrame = SrxJob.transform(
    SrxJob.readRaw(spark, writeTemp("srx.json", srxRawJson)),
    dims, runDate)

  test("propnex: golden row 1") {
    val r = pnOut.filter($"url" === "https://example.com/listing/1")
      .collect().head
    def g[T](c: String): T = r.getAs[T](c)
    assert(g[String]("location") == "123A Upper Serangoon Rd")
    assert(g[Int]("price") == 550000)
    assert(g[Int]("price_psf") == 465) // round(550000/1184)
    assert(g[String]("furnish") == "partial")
    assert(g[String]("general_location") == "Hougang")
    assert(g[Int]("district") == 19)
    assert(g[String]("zone") == "Hougang")
    assert(g[String]("region") == "North-East Region")
    assert(g[String]("floor") == "high")
    assert(g[String]("agent_id") == "R123456A")
    assert(g[Int]("agent_phone_num") == 91234567)
    assert(g[String]("agency") == "PROPNEX REALTY PTE. LTD.")
    assert(g[String]("agency_id") == "L3008022J")
    assert(g[Int]("remaining_lease") == 99 - (2024 - 1995))
    assert(g[Int]("floor_area_sqm") == 110)
    assert(g[Int]("facilities_num") == 3)
    assert(g[String]("street_name") == "Upper Serangoon Rd")
    val info = g[String]("additional_information")
    assert(info.contains("\"agent_email\":\"jane.tan@propnex.com\""))
    assert(info.contains("\"description\":\"nice  flat with view\""))
    assert(r.isNullAt(r.fieldIndex("property_type")))
    assert(r.isNullAt(r.fieldIndex("model")))
  }

  test("propnex: sentinel None/'' become real nulls; garbage (D nulled") {
    val r2 = pnOut.filter($"url" === "https://example.com/listing/2")
      .collect().head
    assert(r2.isNullAt(r2.fieldIndex("general_location"))) // "(D20)" line
    assert(r2.getAs[String]("furnish") == "unfurnished")
    assert(r2.isNullAt(r2.fieldIndex("facilities_num"))) // null facilities
  }

  test("srx: golden row") {
    val r = srxOut.collect().head
    def g[T](c: String): T = r.getAs[T](c)
    assert(g[String]("agency_id") == "L1234567A")
    assert(g[String]("agent_id") == "R111222C")
    assert(g[Int]("agent_phone_num") == 91112222)
    assert(g[String]("agent_name") == "Alice Ng")
    assert(g[String]("post_code") == "534011")
    assert(g[String]("location") == "123A Upper Serangoon Rd")
    assert(g[Int]("price") == 560000)
    assert(g[Int]("price_psf") == 473)
    assert(g[Int]("floor_area_sqm") == 110)
    assert(g[Int]("total_floor_area") == 1184)
    assert(g[String]("property_type") == "4 Rooms")
    assert(g[String]("floor") == "middle")
    assert(g[Int]("bedrooms") == 4) // "3+1"
    assert(g[String]("furnish") == "unfurnished")
    assert(g[Int]("district") == 19) // via postal sector 53
    assert(g[String]("region") == "North-East Region")
    assert(g[String]("agency") == "ERA REALTY NETWORK PTE LTD")
    assert(g[Int]("remaining_lease") == 99 - (2024 - 1995))
    val info = g[String]("additional_information")
    assert(info.contains("\"schools\":\"Xinmin Primary\""))
    assert(info.contains("\"shopping_malls/markets\":\"NEX\""))
  }

  test("merge_dedup: conformed 28-col schema, most-complete row wins") {
    val merged = MergeDedupJob.transform(pnOut, srxOut, runDate)
    assert(merged.columns.toSeq == Schemas.scrapedCols)
    // propnex listing 1 and srx listing differ in price → both kept
    assert(merged.count() == 3)
    assert(merged.schema("transformed_date").dataType == DateType)
    assert(merged.select("transformed_date").distinct().collect()
      .head.getDate(0).toString == "2024-11-01")
    // window path ≡ aggregation path on the same filtered union
    val unioned = pnOut.unionByName(srxOut)
      .filter($"agent_id".isNotNull && $"location".isNotNull &&
        $"price".isNotNull)
    val agg = graft.ops.Dedup.keepMostCompleteAgg(unioned,
      Seq("location", "price"), tiebreak = Seq("url"))
    assert(merged.drop("transformed_date").orderBy("url").collect().toSeq ==
      agg.select(Schemas.listingCols.head, Schemas.listingCols.tail: _*)
        .orderBy("url").collect().toSeq)
  }

  test("merge_dedup keeps the most-complete duplicate") {
    import org.apache.spark.sql.functions._
    // same (location, price): srx row vs a propnex row with more nulls
    val dupPn = pnOut.withColumn("location", lit("123A Upper Serangoon Rd"))
      .withColumn("price", lit(560000))
      .withColumn("zone", lit(null).cast(StringType))
      .withColumn("region", lit(null).cast(StringType))
      .filter($"url" === "https://example.com/listing/1")
    val merged = MergeDedupJob.transform(dupPn, srxOut, runDate)
    assert(merged.count() == 1)
    assert(merged.collect().head.getAs[String]("url")
      == "https://example.com/srx/9") // fewer nulls → srx wins
  }

  test("kill-and-rerun: a death after the first sink's write resumes " +
      "at the second, and no sink double-appends") {
    val outDir = Files.createTempDirectory("graft-resume").toString
    val dims = Pipeline.Dims(districtCode, districtRegion, townDistrict,
      agencyId)
    val pnPath = writeTemp("pn.json", propnexRawJson)
    val srxPath = writeTemp("srx.json", srxRawJson)
    val histDir = writeTemp("hist.csv", histCsv)

    // first attempt dies between the scraped write and its marker —
    // the worst window: data landed, completion not recorded
    val boom = intercept[RuntimeException] {
      Pipeline.runResumable(spark, pnPath, srxPath, histDir, dims,
        runDate, outDir,
        onStepWritten = n => if (n == "scraped")
          throw new RuntimeException("simulated death"))
    }
    assert(boom.getMessage == "simulated death")
    assert(!new java.io.File(outDir, "_graft_done_scraped").exists())
    assert(new java.io.File(outDir, "scraped").exists(),
      "the write itself completed before the death")

    // retry: re-runs scraped (idempotent overwrite — no duplication),
    // then completes historical
    val ran = Pipeline.runResumable(spark, pnPath, srxPath, histDir,
      dims, runDate, outDir)
    assert(ran == Seq("scraped", "historical"))
    val scraped = spark.read.parquet(s"$outDir/scraped")
    val hist = spark.read.parquet(s"$outDir/historical")
    assert(scraped.count() == 3, "replayed day must hold ONE copy")
    assert(hist.count() == 2)

    // a third, fully-completed re-run is a pure no-op
    val ran2 = Pipeline.runResumable(spark, pnPath, srxPath, histDir,
      dims, runDate, outDir)
    assert(ran2.isEmpty)
    assert(spark.read.parquet(s"$outDir/scraped").count() == 3)
  }

  private def marker(outDir: String, step: String) =
    new java.io.File(outDir, s"_graft_done_$step")

  test("ordered markers: a death in historical's hook keeps the scraped " +
      "marker, and the rerun runs only historical") {
    val outDir = Files.createTempDirectory("graft-order").toString
    val pnPath = writeTemp("pn.json", propnexRawJson)
    val srxPath = writeTemp("srx.json", srxRawJson)
    val histDir = writeTemp("hist.csv", histCsv)
    val hooks = scala.collection.mutable.Buffer[(String, Thread)]()
    val boom = intercept[RuntimeException] {
      Pipeline.runResumable(spark, pnPath, srxPath, histDir, dims,
        runDate, outDir, onStepWritten = n => {
          hooks += n -> Thread.currentThread()
          if (n == "historical") throw new RuntimeException("simulated death")
        })
    }
    assert(boom.getMessage == "simulated death")
    // hooks run in step order, on the caller's thread
    assert(hooks.map(_._1) == Seq("scraped", "historical"))
    assert(hooks.forall(_._2 eq Thread.currentThread()))
    assert(marker(outDir, "scraped").exists())
    assert(!marker(outDir, "historical").exists())

    val ran = Pipeline.runResumable(spark, pnPath, srxPath, histDir, dims,
      runDate, outDir)
    assert(ran == Seq("historical"))
    assert(marker(outDir, "historical").exists())
    assert(spark.read.parquet(s"$outDir/scraped").count() == 3)
    assert(spark.read.parquet(s"$outDir/historical").count() == 2)
  }

  test("ordered markers: when scraped dies, the concurrent historical " +
      "write has finished by the time the call throws, unmarked") {
    val outDir = Files.createTempDirectory("graft-order").toString
    val boom = intercept[RuntimeException] {
      Pipeline.runResumable(spark, writeTemp("pn.json", propnexRawJson),
        writeTemp("srx.json", srxRawJson), writeTemp("hist.csv", histCsv),
        dims, runDate, outDir, onStepWritten = n =>
          if (n == "scraped") throw new RuntimeException("simulated death"))
    }
    assert(boom.getMessage == "simulated death")
    val hist = new java.io.File(outDir, "historical")
    assert(hist.list().sorted.toSeq ==
      Seq("date_of_sale=2017-03-01", "date_of_sale=2017-04-01"),
      "both partitions landed and no staging dir is left")
    assert(spark.read.parquet(hist.getPath).count() == 2)
    assert(!marker(outDir, "scraped").exists())
    assert(!marker(outDir, "historical").exists())
  }

  test("dim lookups keep left-join semantics: an unmatched region is " +
      "null and a duplicated dim key fans out") {
    // sector 53 maps to two districts (fan-out); district 22 (sector
    // 56) and district 12 have no region; district 12 has two zones
    val fanDims = Pipeline.Dims(
      Seq((19, "53", "Hougang"), (21, "53", "Serangoon"),
        (22, "56", "Bishan"), (12, "33", "Kallang"), (12, "34", "Whampoa"))
        .toDF("district", "postal_sector", "zone"),
      Seq((19, "North-East Region"), (21, "North Region"))
        .toDF("district", "region"),
      townDistrict, agencyId)
    def rows(df: DataFrame, cols: String*): Seq[Seq[Any]] =
      df.select(cols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    val pn = PropnexJob.transform(
      PropnexJob.readRaw(spark, writeTemp("pn.json", propnexRawJson)),
      fanDims, runDate)
    assert(rows(pn, "url", "district", "zone", "region") == Seq(
      Seq("https://example.com/listing/1", 19, "Hougang",
        "North-East Region"),
      Seq("https://example.com/listing/1", 21, "Serangoon",
        "North Region"),
      Seq("https://example.com/listing/2", 22, "Bishan", null)))
    val srx = SrxJob.transform(
      SrxJob.readRaw(spark, writeTemp("srx.json", srxRawJson)),
      fanDims, runDate)
    assert(rows(srx, "url", "district", "zone", "region", "agency") == Seq(
      Seq("https://example.com/srx/9", 19, "Hougang", "North-East Region",
        "ERA REALTY NETWORK PTE LTD"),
      Seq("https://example.com/srx/9", 21, "Serangoon", "North Region",
        "ERA REALTY NETWORK PTE LTD")))
    val hist = HistoricalJob.transform(
      HistoricalJob.readRaw(spark, writeTemp("hist.csv", histCsv)),
      fanDims)
    assert(rows(hist, "block", "general_location", "district", "zone",
        "region") == Seq(
      Seq("123A", "Hougang", 19, "Hougang", "North-East Region"),
      Seq("9", "Kallang/Whampoa", 12, "Kallang", null),
      Seq("9", "Kallang/Whampoa", 12, "Whampoa", null)))
  }

  test("writePartitionedIdempotent: concurrent writers under a STATIC " +
      "session mode keep other days' partitions and leave the conf as is") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "static")
    try {
      val paths = Seq.fill(2)(
        Files.createTempDirectory("graft-concurrent").toString)
      paths.foreach(p => Pipeline.writePartitionedIdempotent(
        Seq((1L, "2024-11-01")).toDF("k", "day"), p, "day"))
      // each round lands a new day in both sinks at the same time
      for (d <- 2 to 4) {
        val writes = paths.map(p => Future(
          Pipeline.writePartitionedIdempotent(
            Seq((d.toLong, f"2024-11-$d%02d")).toDF("k", "day"), p, "day")))
        writes.foreach(Await.result(_, Duration.Inf))
      }
      paths.foreach { p =>
        assert(spark.read.parquet(p).select("k").as[Long].collect().sorted
          .toSeq == Seq(1L, 2L, 3L, 4L), p)
      }
      assert(spark.conf.get(key) == "static")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("writePartitionedIdempotent: a replayed day's load is a no-op; " +
      "other days' partitions survive") {
    import org.apache.spark.sql.functions._
    val path = Files.createTempDirectory("graft-replay").toString
    val day1 = Seq((1L, "a", "2024-11-01"), (2L, "b", "2024-11-01"))
      .toDF("k", "v", "day")
    val day2 = Seq((3L, "c", "2024-11-02")).toDF("k", "v", "day")
    Pipeline.writePartitionedIdempotent(day1, path, "day")
    Pipeline.writePartitionedIdempotent(day2, path, "day")
    // the retry: day1 lands again — must replace, not append
    Pipeline.writePartitionedIdempotent(day1, path, "day")
    val got = spark.read.parquet(path)
      .select(col("k"), col("v"), col("day").cast("string"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(got == Seq((1L, "a", "2024-11-01"), (2L, "b", "2024-11-01"),
      (3L, "c", "2024-11-02")))
  }

  test("writePartitionedIdempotent property: any replay schedule of " +
      "day batches converges to the last batch per day") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val path = Files.createTempDirectory(s"graft-replay-p$trial").toString
      val days = (1 to 4).map(d => f"2024-11-$d%02d")
      // per day, 1-2 batch VERSIONS; the schedule interleaves them and
      // replays arbitrary earlier versions; dynamic overwrite must
      // leave exactly the LAST-written version per day
      val versions = days.map { day =>
        day -> (1 to 1 + rnd.nextInt(2)).map { v =>
          (1 to 1 + rnd.nextInt(3)).map(i =>
            (day.hashCode.toLong * 100 + v * 10 + i, s"$day-v$v-$i", day))
        }
      }.toMap
      val schedule = rnd.shuffle(
        versions.toSeq.flatMap { case (d, vs) =>
          vs.zipWithIndex.map { case (rows, i) => (d, i, rows) }
        } ++ versions.toSeq.map { case (d, vs) => (d, 0, vs.head) })
      val lastPerDay = scala.collection.mutable.Map[String, Seq[(Long, String, String)]]()
      schedule.foreach { case (d, _, rows) =>
        Pipeline.writePartitionedIdempotent(
          rows.toDF("k", "v", "day"), path, "day")
        lastPerDay(d) = rows
      }
      val got = spark.read.parquet(path)
        .select(col("k"), col("v"), col("day").cast("string"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .toSet
      val want = lastPerDay.values.flatten.toSet
      assert(got == want, s"trial $trial: $got != $want")
    }
  }

  test("historical: golden rows + 17-col schema") {
    val out = HistoricalJob.transform(
      spark.read.schema(Schemas.historicalRaw).option("header", "true")
        .csv(writeTemp("hist.csv", histCsv)),
      dims)
    assert(out.columns.toSeq == Schemas.historicalCols)
    val r = out.filter($"block" === "123A").collect().head
    def g[T](c: String): T = r.getAs[T](c)
    assert(g[java.sql.Date]("date_of_sale").toString == "2017-03-01")
    assert(g[Int]("year") == 2017 && g[Int]("month") == 3)
    assert(g[String]("general_location") == "Hougang")
    assert(g[String]("property_type") == "4 Rooms")
    assert(g[Int]("total_floor_area") == 1184)
    assert(g[Int]("price") == 550000)
    assert(g[Int]("remaining_lease") == 99 - (2017 - 1995))
    assert(g[Int]("district") == 19)
    assert(g[String]("region") == "North-East Region")
    // the /w → /W fix-up
    val r2 = out.filter($"block" === "9").collect().head
    assert(r2.getAs[String]("general_location") == "Kallang/Whampoa")
    assert(r2.getAs[String]("property_type") == "Multi-generation")
  }
}
