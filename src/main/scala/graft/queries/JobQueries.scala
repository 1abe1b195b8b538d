package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.jobs.{MergeDedupJob, Pipeline, PropnexJob, SrxJob}
import graft.schemas.Schemas
import graft.sources.Audited
import java.time.LocalDate

/** End-to-end job pipeline smoke query: inline reference-shaped fixture
  * rows through propnex + srx transforms and the merge-dedup flagship.
  * Exercises the full composed pipeline (schemas → cleaning → joins →
  * dedup → conformed 28-col output) under the driver's rows-only check;
  * exact golden values are locked by PipelineSpec. */
object JobQueries {

  private val runDate = LocalDate.of(2024, 11, 1)

  private def rawFromStrings(s: SparkSession,
                             schema: org.apache.spark.sql.types.StructType,
                             rows: Seq[Map[String, String]]): DataFrame = {
    val data = rows.map(m =>
      Row.fromSeq(schema.fieldNames.toSeq.map(f => m.get(f).orNull)))
    s.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(data).asJava), schema)
  }

  private def pnFixture(s: SparkSession): DataFrame = rawFromStrings(s,
    Schemas.propnexRaw, Seq(
      Map("url" -> "u1", "location" -> "Blk 123A upper serangoon rd",
        "price" -> "$550,000",
        "street_town_district" -> "Upper Serangoon Rd\nHougang (D19)",
        "num_bedroom" -> "3", "num_bathroom" -> "2",
        "floor_area_sqft" -> "1,184 sqft (110 sqm)",
        "agent_name" -> "Jane Tan", "agent_id" -> "agent#R123456A",
        "agent_email" -> "jane@propnex.com",
        "agent_phone_num" -> "+65 91234567", "district" -> "D19",
        "total_floor_area" -> "1184", "top" -> "1995",
        "furnishing" -> "Partially Furnished", "floor" -> "high floor",
        "post_code" -> "534011", "street_name" -> "upper serangoon rd",
        "description" -> "nice flat", "facilities" -> "pool,gym")))

  private def srxFixture(s: SparkSession): DataFrame = rawFromStrings(s,
    Schemas.srxRaw, Seq(
      Map("url" -> "u9", "price" -> "$560,000",
        "agent_id" -> "CEA: R111222C / L1234567A",
        "agent_phone_num" -> "tel:91112222",
        "address" -> "123A Upper Serangoon Rd (534011)",
        "property_name" -> "upper serangoon rd",
        "property_type" -> "HDB 4 Rooms", "model" -> "Model A",
        "bedrooms" -> "3+1", "bathrooms" -> "2",
        "furnish" -> "Not Furnished", "floor_level" -> "Mid",
        "built_year" -> "1995", "hdb_town" -> "Hougang",
        "size" -> "110 sqm", "psf" -> "$473 psf",
        "facilities" -> "pool,gym", "description" -> "great view")))

  private def dims(s: SparkSession) = {
    import s.implicits._
    Pipeline.Dims(
      Seq((19, "53", "Hougang"), (20, "56", "Bishan"))
        .toDF("district", "postal_sector", "zone"),
      Seq((19, "North-East Region"), (20, "Central Region"))
        .toDF("district", "region"),
      Seq.empty[(String, Long)].toDF("general_location", "district"),
      Seq(("ERA REALTY NETWORK PTE LTD", "L1234567A"))
        .toDF("agency", "agency_id"))
  }

  /** Deterministic planted feed for the quarantine gate: 2 of 4 JSON
    * lines and 1 of 3 CSV rows are malformed (syntax error; string
    * where the schema says long). Written once to a constant temp
    * location. Content is fixed, so the files are written only when
    * absent, via temp-name + atomic rename — a plain truncating
    * rewrite would let a concurrent consumer (q_source_quarantine and
    * q_stream_quarantine share the dir) read a half-written file. */
  private[queries] def quarantineFixtureDir(): String = {
    val dir = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_quarantine_fix_v1")
    dir.mkdirs()
    def put(name: String, content: String): Unit = {
      val dst = new java.io.File(dir, name).toPath
      if (!java.nio.file.Files.exists(dst)) {
        val tmp = java.nio.file.Files.createTempFile(
          dir.toPath, s".$name.", ".tmp")
        java.nio.file.Files.writeString(tmp, content)
        try java.nio.file.Files.move(tmp, dst,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch {
          // a concurrent writer won the rename: its content is
          // identical by construction — drop ours
          case _: java.nio.file.FileAlreadyExistsException =>
            java.nio.file.Files.deleteIfExists(tmp)
        }
      }
    }
    put("feed.json",
      """{"id": 1, "v": "alpha"}
        |{"id": 2 "v": "beta"}
        |{"id": "x3", "v": "gamma"}
        |{"id": 4, "v": "delta"}
        |""".stripMargin)
    put("feed.csv",
      """id,v
        |10,kilo
        |x11,lima
        |12,mike
        |""".stripMargin)
    dir.getAbsolutePath
  }

  def all: Seq[Q] = Seq(
    // ---- PERMISSIVE read + corrupt-record quarantine ledger ----------
    // The production answer to the reference's silent schema-inferred
    // reads (srx_transformation.py:122, HIST:21): planted corrupt rows
    // must land in the ledger WITH their raw payload and recovered
    // partial columns, clean rows must parse fully, and the two
    // channels must partition the input. Golden VALUES oracle — every
    // payload byte is hash-checked.
    Q("q_source_quarantine",
      (s, _) => {
        val dir = quarantineFixtureDir()
        val schema = StructType(Seq(
          StructField("id", LongType), StructField("v", StringType)))
        def view(df: DataFrame, src: String): DataFrame =
          df.select(lit(src).as("src"), col("id"), col("v"),
            col(Audited.CorruptCol).as("quarantined_payload"))
        view(Audited.readJsonAudited(s, schema, s"$dir/feed.json"), "json")
          .unionByName(
            view(Audited.readCsvAudited(s, schema, s"$dir/feed.csv"),
              "csv"))
          .orderBy("src", "id", "quarantined_payload")
      },
      Some("""
        |SELECT * FROM (VALUES
        |  ('json', CAST(1 AS BIGINT), 'alpha', CAST(NULL AS VARCHAR)),
        |  ('json', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
        |   '{"id": 2 "v": "beta"}'),
        |  ('json', CAST(NULL AS BIGINT), 'gamma',
        |   '{"id": "x3", "v": "gamma"}'),
        |  ('json', CAST(4 AS BIGINT), 'delta', CAST(NULL AS VARCHAR)),
        |  ('csv', CAST(10 AS BIGINT), 'kilo', CAST(NULL AS VARCHAR)),
        |  ('csv', CAST(NULL AS BIGINT), 'lima', 'x11,lima'),
        |  ('csv', CAST(12 AS BIGINT), 'mike', CAST(NULL AS VARCHAR))
        |) AS t(src, id, v, quarantined_payload)
        |ORDER BY src, id, quarantined_payload
        |""".stripMargin.trim)),

    Q("q_job_pipeline_merged",
      (s, _) => {
        val d = dims(s)
        val pn = PropnexJob.transform(pnFixture(s), d, runDate)
        val srx = SrxJob.transform(srxFixture(s), d, runDate)
        MergeDedupJob.transform(pn, srx, runDate).orderBy("url")
      },
      // Golden VALUES oracle: the fixtures and the injected runDate make
      // the 28-col output fully deterministic, so the whole composed
      // pipeline (schemas → cleaning → joins → dedup → conformed output)
      // is hash-checked — not just rows-counted. Values locked by
      // PipelineSpec-style golden assertions.
      Some("""
        |SELECT * FROM (VALUES
        |  ('123A Upper Serangoon Rd', CAST(550000 AS INTEGER),
        |   CAST(465 AS INTEGER), CAST(1995 AS INTEGER),
        |   CAST(70 AS INTEGER), CAST(2 AS INTEGER), CAST(3 AS INTEGER),
        |   CAST(1184 AS INTEGER), CAST(NULL AS VARCHAR),
        |   CAST(NULL AS VARCHAR), 'high', 'Hougang',
        |   CAST(19 AS INTEGER), 'Hougang', 'North-East Region',
        |   'Upper Serangoon Rd', '534011', 'partial',
        |   CAST(110 AS INTEGER), CAST(2 AS INTEGER), 'R123456A',
        |   'Jane Tan', CAST(91234567 AS INTEGER),
        |   'PROPNEX REALTY PTE. LTD.', 'L3008022J', 'u1',
        |   '{"agent_email":"jane@propnex.com","facilities":"pool,gym","description":"nice flat"}',
        |   DATE '2024-11-01'),
        |  ('123A Upper Serangoon Rd', CAST(560000 AS INTEGER),
        |   CAST(473 AS INTEGER), CAST(1995 AS INTEGER),
        |   CAST(70 AS INTEGER), CAST(2 AS INTEGER), CAST(4 AS INTEGER),
        |   CAST(1184 AS INTEGER), '4 Rooms', 'Model A', 'middle',
        |   'Hougang', CAST(19 AS INTEGER), 'Hougang',
        |   'North-East Region', 'Upper Serangoon Rd', '534011',
        |   'unfurnished', CAST(110 AS INTEGER), CAST(2 AS INTEGER),
        |   'R111222C', CAST(NULL AS VARCHAR), CAST(91112222 AS INTEGER),
        |   'ERA REALTY NETWORK PTE LTD', 'L1234567A', 'u9',
        |   '{"facilities":"pool,gym","schools":"N/A","shopping_malls/markets":"N/A","train_stations":"N/A","description":"great view"}',
        |   DATE '2024-11-01')
        |) AS t(location, price, price_psf, "top", remaining_lease,
        |  bathrooms, bedrooms, total_floor_area, property_type, model,
        |  "floor", general_location, district, "zone", region,
        |  street_name, post_code, furnish, floor_area_sqm,
        |  facilities_num, agent_id, agent_name, agent_phone_num,
        |  agency, agency_id, url, additional_information,
        |  transformed_date)
        |ORDER BY url
        |""".stripMargin.trim)),

    // ---- S6: REST catalog→CSV ingestion, end to end ------------------
    // The reference's download step (download_historical_data.py:5-33)
    // driven IN-ENGINE over loopback HTTP: a catalog fixture (CSV
    // renderings of the nation dim, split across two datasets) is
    // served by a JDK HttpServer replaying the three-hop API shape —
    // collection metadata → per-dataset poll-download → signed file
    // URL — and graft.sources.RestIngest walks it, lands the CSVs on
    // disk, and the S1 multi-file CSV scan reads them back. The oracle
    // recomputes straight from the nation table, so the whole
    // render→serve→resolve→download→scan loop is hash-checked.
    // Control-plane only: 3 HTTP round trips + 2 dim-sized files; the
    // data plane is the CSV scan, which grows with the corpus, not
    // with this driver.
    Q("q_rest_catalog_ingest",
      (s, d) => {
        val out = restIngestDir(s, d)
        s.read.schema("n_nationkey LONG, n_name STRING, n_regionkey LONG")
          .option("header", "true").csv(out)
          .orderBy("n_nationkey")
      },
      Some("""
        |SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation ORDER BY n_nationkey
        |""".stripMargin.trim)),

    // ---- S7 extraction in-engine: stored listing pages → fields ------
    // The scraper's DOM extraction (propnex_selenium.py:20-165) as a
    // Spark scan over stored HTML (ops/HtmlListing): listing pages are
    // RENDERED from customer rows by composition (every extraction
    // path planted — br-multiline street/town, icon dispatch, agent
    // p-tag routing, name/value ul zip, entities in the description),
    // parsed back field-by-field, and the oracle recomputes each field
    // straight from the table — the render→parse round trip pins the
    // class-anchored extraction exactly. Browser DRIVING stays
    // out-of-engine (SURVEY §1.4); this is the half a 100 TB crawl
    // pipeline runs in Spark, and it is per-row codegen'd regex work:
    // no shuffle, no UDF, nothing driver-side.
    Q("q_scrape_extract",
      (s, d) => {
        // the fixture table is ONE parquet row group, so without a
        // spread the whole per-row parse lands on a single task; a
        // real page store arrives in thousands of splits and needs no
        // help (parse cost is embarrassingly parallel scan work)
        val pages = propnexPages(s, d)
          .repartition(s.sparkContext.defaultParallelism)
        propnexFields(pages).orderBy("url")
      },
      Some(scrapeExtractOracle)),

    // ---- the same parse as a STREAM: pages arriving as files --------
    // The crawl lake's arrival path: stored pages land in splits and
    // are parsed AS A STREAM (readStream over the rendered page
    // layout; the staged parser is stateless projections, so batch
    // semantics carry over verbatim — Append mode, AvailableNow to
    // completion). Same oracle as the batch gate: stream ≡ batch is
    // hash-pinned field by field.
    Q("q_stream_scrape_extract",
      (s, d) => {
        val dir = propnexPagesDir(s, d)
        val s2 = graft.streaming.StreamingOps.session(s)
        val stream = s2.readStream
          .schema("url STRING, html STRING").parquet(dir)
        graft.streaming.StreamingOps.runToTable(
            propnexFields(stream.toDF()),
            org.apache.spark.sql.streaming.OutputMode.Append())
          .orderBy("url")
      },
      Some(scrapeExtractOracle)),

    // ---- the crawl-ARCHIVE path: WARC members → parse → fields ------
    // How a 100 TB crawl actually arrives: pages framed as WARC/1.0
    // members on shared storage. The stored archive (built untimed,
    // content-keyed) is read back through the custom DataSourceV2 —
    // uri + payload projected, record framing parsed per member — and
    // the SAME parser runs over the archived bytes. Third consumer of
    // scrapeExtractOracle: parquet-batch, stream, and WARC-archive
    // paths must all hash-match the same field-by-field truth.
    Q("q_warc_scrape_pipeline",
      (s, d) => {
        val dir = propnexWarcDir(s, d)
        val pages = s.read.format("graft.sources.WarcSource").load(dir)
          .select(col("uri").as("url"), col("content").as("html"))
        propnexFields(pages).orderBy("url")
      },
      Some(scrapeExtractOracle)),

    // ---- S7, srx spider: stored pages → the 31-field dict ------------
    // Same render→parse→recompute round trip as q_scrape_extract, over
    // the srx page shape (srx_selenium.py:20-152): id anchors,
    // descendant selectors (nested price div, bed/bath number spans),
    // the @href attribute read, per-block key/value property details
    // (one key planted absent → 'None'), and the sibling-delimited
    // amenity regions with an incomplete train row planted for the
    // 'None'-filter path. Pages render from part rows; per-row
    // codegen'd regex scan, no shuffle.
    Q("q_scrape_extract_srx",
      (s, d) => {
        val k = col("p_partkey").cast("long")
        def str(c: org.apache.spark.sql.Column) = c.cast("string")
        val html = concat(
          lit("<html><body><div id=\"listing-detail\">" +
            "<h1 class=\"listing-name\">Blk "), str(k % 999),
          lit(" "), col("p_brand"),
          lit("</h1><div id=\"listing-Xvalue-size\">"), str(k % 2000 + 400),
          lit(" sqft / $"), str(k % 900 + 300),
          lit(" psf</div><div class=\"listing-price\"><div>$"),
          str(k % 900000 + 100000),
          lit("</div><div>(Negotiable)</div></div>" +
            "<div class=\"bed-box\"><span class=\"bed-icon\"></span>" +
            "<span class=\"bed-numbers\">"), str(k % 5 + 1),
          lit("</span></div><div class=\"bath-box\">" +
            "<span class=\"bath-numbers\">"), str(k % 3 + 1),
          lit("</span></div><div class=\"listing-description\">"),
          col("p_name"),
          lit("</div><div class=\"listing-agent-box\">" +
            "<div class=\"agent-name\"><span>Agent "), col("p_brand"),
          lit("</span></div><div class=\"agent-image-cea\">" +
            "<div class=\"agent-cea-reg\">CEA: R"), str(k),
          lit("A / L"), str(k % 9999),
          lit("B</div></div><div><a href=\"tel:9"), str(k % 1000000),
          lit("\" class=\"btn featuredAgentCall\">Call</a></div></div>" +
            "<div class=\"about-this-property\">" +
            "<div class=\"listing-about\">" +
            "<div class=\"listing-about-main-key\">Address</div>" +
            "<div class=\"listing-about-main-value\">"), col("p_brand"),
          lit(" Ave ("), str(k % 900000 + 100000),
          lit(")</div></div><div class=\"listing-about\">" +
            "<div class=\"listing-about-main-key\">Property Type</div>" +
            "<div class=\"listing-about-main-value\">"), col("p_type"),
          lit("</div></div><div class=\"listing-about\">" +
            "<div class=\"listing-about-main-key\">Size</div>" +
            "<div class=\"listing-about-main-value\">"), str(k % 200 + 30),
          lit(" sqm</div></div><div class=\"listing-about\">" +
            "<div class=\"listing-about-main-key\">Built Year</div>" +
            "<div class=\"listing-about-main-value\">"), str(k % 50 + 1970),
          lit("</div></div></div><div class=\"facilities-div\">" +
            "<div class=\"facilities-row\">" +
            "<span class=\"listing-about-facility-span\">Pool</span></div>" +
            "<div class=\"facilities-row\">" +
            "<span class=\"listing-about-facility-span\">Gym</span></div>" +
            "</div><div class=\"nearby-amenities\">" +
            "<div class=\"Trains\"><div class=\"listing-amenity\">" +
            "<div class=\"listing-amenity-name\">Hougang</div>" +
            "<div class=\"listing-amenity-station\"><span>NE"),
          str(k % 20 + 1),
          lit("</span></div></div><div class=\"listing-amenity\">" +
            "<div class=\"listing-amenity-name\">Incomplete Row</div>" +
            "</div></div><div class=\"Schools\">" +
            "<div class=\"listing-amenity\">" +
            "<div class=\"listing-amenity-name\">School "), str(k % 7),
          lit("</div></div></div><div class=\"Shopping-Malls\">" +
            "<div class=\"listing-amenity\">" +
            "<div class=\"listing-amenity-name\">Mall A</div></div></div>" +
            "<div class=\"Markets\"><div class=\"listing-amenity\">" +
            "<div class=\"listing-amenity-name\">Market B</div></div>" +
            "</div></div></div></body></html>"))
        // single-row-group fixture: spread the parse like q_scrape_extract
        val pages = graft.Tables.part(s, d)
          .select(concat(lit("http://srx/listing/"), str(k)).as("url"),
            html.as("html"))
          .repartition(s.sparkContext.defaultParallelism)
        graft.ops.HtmlListing.parseSrx(pages, "url", "html")
          .select(col("url"), col("location"), col("floor_size_psf"),
            col("price"), col("num_bedroom"), col("num_bathroom"),
            col("description"), col("agent_name"), col("agent_id"),
            col("agent_phone_num"), col("address"), col("property_type"),
            col("size"), col("built_year"), col("model"),
            col("facilities"), col("train_stations"), col("schools"),
            col("`shopping_mall/markets`").as("malls_markets"))
          .orderBy("url")
      },
      Some("""
        |SELECT 'http://srx/listing/' || p_partkey AS url,
        |  'Blk ' || (p_partkey % 999) || ' ' || p_brand AS location,
        |  (p_partkey % 2000 + 400) || ' sqft / $' ||
        |    (p_partkey % 900 + 300) || ' psf' AS floor_size_psf,
        |  '$' || (p_partkey % 900000 + 100000) AS price,
        |  CAST(p_partkey % 5 + 1 AS VARCHAR) AS num_bedroom,
        |  CAST(p_partkey % 3 + 1 AS VARCHAR) AS num_bathroom,
        |  p_name AS description,
        |  'Agent ' || p_brand AS agent_name,
        |  'CEA: R' || p_partkey || 'A / L' || (p_partkey % 9999) || 'B'
        |    AS agent_id,
        |  'tel:9' || (p_partkey % 1000000) AS agent_phone_num,
        |  p_brand || ' Ave (' || (p_partkey % 900000 + 100000) || ')'
        |    AS address,
        |  p_type AS property_type,
        |  (p_partkey % 200 + 30) || ' sqm' AS size,
        |  CAST(p_partkey % 50 + 1970 AS VARCHAR) AS built_year,
        |  'None' AS model,
        |  'Pool, Gym' AS facilities,
        |  'Hougang NE' || (p_partkey % 20 + 1) AS train_stations,
        |  'School ' || (p_partkey % 7) AS schools,
        |  'Mall A, Market B' AS malls_markets
        |FROM part ORDER BY url
        |""".stripMargin.trim))
  )

  /** The rendered propnex listing page per customer row — every
    * extraction path planted (br-multiline street/town, icon dispatch,
    * agent p-tag routing, name/value ul zip, entities). Shared by the
    * batch gate, the streaming gate, and the page-store writer. */
  private def propnexPages(s: SparkSession, d: String): DataFrame = {
    val k = col("c_custkey").cast("long")
    def str(c: org.apache.spark.sql.Column) = c.cast("string")
    val html = concat(
      lit("<html><body><div class=\"col-lg-4\"><h1>"), col("c_name"),
      lit("</h1><strong class=\"mr-1\">$"), str(k % 9000 + 1000),
      lit("</strong><p class=\"mt-2\">$"), str(k % 900 + 300),
      lit(" psf</p><div class=\"lbb-21\"><ul>" +
        "<li><img src=\"/i/ic_location.png\"/><p>Blk "), str(k),
      lit(" Street<br>Town (D"), str(k % 28 + 1),
      lit(")</p></li><li><img src=\"/i/ic_beds.png\"/><p>"),
      str(k % 5 + 1),
      lit(" Beds</p></li><li><img src=\"/i/ic_baths.png\"/><p>"),
      str(k % 3 + 1),
      lit(" Baths</p></li><li><img src=\"/i/ic_sqft.png\"/><p>"),
      str(k % 2000 + 400),
      lit(" sqft</p></li></ul></div><div class=\"agent-dt-box\"><h5>" +
        "Agent "), str(col("c_nationkey").cast("long")),
      lit("</h5><p>#R"), str(k),
      lit("</p><p>+65 9"), str(k % 1000000),
      lit("</p><p>a"), str(k),
      lit("@x.com</p></div></div><div class=\"property-list-box\">" +
        "<ul><li>Listing Type</li><li>District</li><li>Tenure</li>" +
        "</ul><ul><li>HDB For Sale</li><li>D"), str(k % 28 + 1),
      lit("</li><li>"), col("c_mktsegment"),
      lit("</li></ul></div><div class=\"desc-box\"><p>Nice &amp; " +
        "bright &#39;corner&#39; unit</p></div>" +
        "<li class=\"facilities-icons\"><p>Pool</p></li>" +
        "<li class=\"facilities-icons\"><p>Gym</p></li>" +
        "</body></html>"))
    graft.Tables.customer(s, d)
      .select(concat(lit("http://listing/"), str(k)).as("url"),
        html.as("html"))
  }

  /** Content-keyed parquet layout of the rendered pages (split across
    * default-parallelism files) — the streaming gate's source. */
  private def propnexPagesDir(s: SparkSession, d: String): String =
    graft.ops.StoreGuard.directory("graft_pages_" +
        Sinks.contentKey(d, "customer.parquet", "pages|v1")) { dir =>
      propnexPages(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(dir)
    }

  /** The 16 PropNex listing fields parsed from (url, html) `pages` —
    * the one parse the parquet, stream and WARC scrape gates share. */
  private def propnexFields(pages: DataFrame): DataFrame =
    graft.ops.HtmlListing.parsePropnex(pages, "url", "html")
      .select("url", "location", "price", "street_town_district",
        "num_bedroom", "floor_area_sqft", "agent_name", "agent_id",
        "agent_email", "agent_phone_num", "listing_type", "district",
        "tenure", "property_group", "description", "facilities")

  /** One oracle for the parquet, stream and WARC scrape gates — all
    * must hash-match it, which pins stream ≡ batch through the parser. */
  private val scrapeExtractOracle = """
    |SELECT 'http://listing/' || c_custkey AS url,
    |  c_name AS location,
    |  '$' || (c_custkey % 9000 + 1000) AS price,
    |  'Blk ' || c_custkey || ' Street' || chr(10) || 'Town (D' ||
    |    (c_custkey % 28 + 1) || ')' AS street_town_district,
    |  (c_custkey % 5 + 1) || ' Beds' AS num_bedroom,
    |  (c_custkey % 2000 + 400) || ' sqft' AS floor_area_sqft,
    |  'Agent ' || c_nationkey AS agent_name,
    |  '#R' || c_custkey AS agent_id,
    |  'a' || c_custkey || '@x.com' AS agent_email,
    |  '+65 9' || (c_custkey % 1000000) AS agent_phone_num,
    |  'HDB For Sale' AS listing_type,
    |  'D' || (c_custkey % 28 + 1) AS district,
    |  c_mktsegment AS tenure,
    |  'None' AS property_group,
    |  'Nice & bright ''corner'' unit' AS description,
    |  'Pool, Gym' AS facilities
    |FROM customer ORDER BY url
    |""".stripMargin.trim

  /** Content-keyed WARC archive of the rendered pages — the crawl
    * archive the pipeline gate re-reads through the DataSourceV2. */
  private def propnexWarcDir(s: SparkSession, d: String): String =
    graft.ops.StoreGuard.directory("graft_pages_warc_" +
        Sinks.contentKey(d, "customer.parquet", "pages_warc|v1")) { dir =>
      graft.sources.WarcSink.write(
        propnexPages(s, d)
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("url").as("uri"),
            lit("2024-11-01T00:00:00Z").as("warc_date"),
            concat(lit("urn:graft:"),
              regexp_extract(col("url"), "([0-9]+)$", 1)).as("rid"),
            encode(col("html"), "UTF-8").as("payload")),
        dir)
    }

  /** One-time content-keyed builds, run untimed by the bench like the
    * other stores: the rendered page layout feeding the streaming
    * scrape gate, and its WARC-archived twin. */
  def prepares: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "propnex_pages" -> ((s, d) => { propnexPagesDir(s, d); () }),
    "propnex_pages_warc" -> ((s, d) => { propnexWarcDir(s, d); () }))

  /** Serve the catalog fixture over loopback and ingest it through
    * [[graft.sources.RestIngest]]; content-addressed on the nation
    * parquet so a session re-run re-exercises nothing stale. The HTTP
    * walk itself re-runs per fresh key — it IS the behavior under
    * test. */
  private def restIngestDir(s: SparkSession, d: String): String =
    graft.ops.StoreGuard.directory("graft_rest_out_" +
      Sinks.contentKey(d, "nation.parquet", "rest_ingest|v1"))(
      restIngest(s, d, _))

  /** Downloads the nation rows, served as two datasets (even and odd
    * keys) by a loopback catalog, into `out`. */
  private def restIngest(s: SparkSession, d: String, out: String): Unit = {
    import java.nio.charset.StandardCharsets.UTF_8
    val rows = graft.Tables.nation(s, d)
      .selectExpr("CAST(n_nationkey AS LONG) AS k", "n_name",
        "CAST(n_regionkey AS LONG) AS r")
      .orderBy("k").collect() // dim-sized: 25 rows at every SF
    def csv(p: Long => Boolean): Array[Byte] =
      ("n_nationkey,n_name,n_regionkey\n" + rows.toSeq
        .filter(r => p(r.getLong(0)))
        .map(r => s"${r.getLong(0)},${r.getString(1)},${r.getLong(2)}")
        .mkString("", "\n", "\n")).getBytes(UTF_8)
    val even = csv(_ % 2 == 0)
    val odd = csv(_ % 2 == 1)
    val meta = ("""{"data":{"datasetMetadata":[""" +
      """{"datasetId":"d_even"},{"datasetId":"d_odd"}]}}""").getBytes(UTF_8)
    def pollJson(path: String, name: String): Array[Byte] =
      (s"""{"data":{"url":"$path?filename%3D%22$name%22"}}""").getBytes(UTF_8)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def route(path: String, body: () => Array[Byte]): Unit =
      server.createContext(path, { x =>
        val b = body()
        x.sendResponseHeaders(200, b.length)
        val os = x.getResponseBody
        try os.write(b) finally os.close()
      })
    route("/v2/public/api/collections/hdb-resale/metadata", () => meta)
    route("/v1/public/api/datasets/d_even/poll-download",
      () => pollJson("/files/even", "nation_even.csv"))
    route("/v1/public/api/datasets/d_odd/poll-download",
      () => pollJson("/files/odd", "nation_odd.csv"))
    route("/files/even", () => even)
    route("/files/odd", () => odd)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val report = graft.sources.RestIngest.downloadAll(
        base, "hdb-resale", out, retries = 2, backoffMs = 50)
      val failed = report.filter(_.file.isEmpty)
      require(failed.isEmpty, "rest ingest failed for: " +
        failed.map(f => s"${f.datasetId}: ${f.error.getOrElse("?")}")
          .mkString("; "))
    } finally server.stop(0)
  }
}
