package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

/** Drives [[RestIngest]] against a loopback `com.sun.net.httpserver`
  * fixture replaying the reference API's three-hop shape
  * (`jobs/download_historical_data.py:5-33`): collection metadata →
  * per-dataset poll-download → CSV bytes. Covers the catalog order,
  * the `filename%3D%22...%22` parse and its fallback, transient-5xx
  * retry, and the per-dataset failure report. */
class RestIngestSpec extends AnyFunSuite {

  private def respond(x: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    x.sendResponseHeaders(code, body.length)
    val os = x.getResponseBody
    try os.write(body) finally os.close()
  }

  private def withServer(routes: (String, HttpExchange => Unit)*)
                        (f: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    routes.foreach { case (path, h) =>
      server.createContext(path, (x: HttpExchange) => h(x))
    }
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  private val metadataJson =
    """{"data":{"datasetMetadata":[
      |  {"datasetId":"d_even","name":"skipped-extra-field"},
      |  {"datasetId":"d_odd"},
      |  {"noDatasetId":"ignored"}
      |]}}""".stripMargin.getBytes(UTF_8)

  test("datasetIds preserves catalog order and skips id-less entries") {
    withServer(
      "/v2/public/api/collections/c1/metadata" ->
        (x => respond(x, 200, metadataJson))
    ) { base =>
      assert(RestIngest.datasetIds(base, "c1", retries = 0) ===
        Seq("d_even", "d_odd"))
    }
  }

  test("filenameFromUrl: reference parse plus null-safe fallback") {
    assert(RestIngest.filenameFromUrl(
      "/f/x?disp=attachment%3B%20filename%3D%22resale_2017.csv%22") ===
      Some("resale_2017.csv"))
    assert(RestIngest.filenameFromUrl("/f/x?no-disposition") === None)
    assert(RestIngest.filenameFromUrl("/f/x?filename%3Dunquoted") === None)
  }

  test("downloadAll: three-hop flow, atomic files, fallback name, " +
    "failure report entry") {
    val evenCsv = "k,v\n0,a\n2,b\n".getBytes(UTF_8)
    val oddCsv = "k,v\n1,c\n3,d\n".getBytes(UTF_8)
    val meta =
      """{"data":{"datasetMetadata":[{"datasetId":"d_even"},
        |{"datasetId":"d_odd"},{"datasetId":"d_gone"}]}}""".stripMargin
    val out = graft.SparkSpec.tempDir("rest_ingest").toString
    withServer(
      "/v2/public/api/collections/c1/metadata" ->
        (x => respond(x, 200, meta.getBytes(UTF_8))),
      "/v1/public/api/datasets/d_even/poll-download" ->
        (x => respond(x, 200,
          """{"data":{"url":"/files/even?filename%3D%22even_rows.csv%22"}}"""
            .getBytes(UTF_8))),
      "/v1/public/api/datasets/d_odd/poll-download" ->
        (x => respond(x, 200,
          """{"data":{"url":"/files/odd"}}""".getBytes(UTF_8))),
      "/v1/public/api/datasets/d_gone/poll-download" ->
        (x => respond(x, 200, """{"data":{}}""".getBytes(UTF_8))),
      "/files/even" -> (x => respond(x, 200, evenCsv)),
      "/files/odd" -> (x => respond(x, 200, oddCsv))
    ) { base =>
      val report = RestIngest.downloadAll(base, "c1", out, retries = 0)
      assert(report.map(_.datasetId) === Seq("d_even", "d_odd", "d_gone"))
      val Seq(even, odd, gone) = report
      assert(even.file.get.getFileName.toString === "even_rows.csv")
      assert(!even.namedByFallback)
      assert(Files.readAllBytes(even.file.get) === evenCsv)
      assert(odd.file.get.getFileName.toString === "d_odd.csv")
      assert(odd.namedByFallback)
      assert(Files.readAllBytes(odd.file.get) === oddCsv)
      assert(gone.file.isEmpty &&
        gone.error.exists(_.contains("no data.url")))
      // atomic publish left no .part temp residue beside the files
      val names = {
        val s = Files.list(java.nio.file.Paths.get(out))
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString).toSet
        } finally s.close()
      }
      assert(names === Set("even_rows.csv", "d_odd.csv"))
    }
  }

  test("downloaded CSVs feed HistoricalJob end-to-end — the reference's " +
    "S6 consumer runs on the ingested directory") {
    val spark = graft.SparkSpec.session
    import spark.implicits._
    // the A3 fixture shape PipelineSpec locks goldens for, split across
    // two catalog datasets like the real collection's per-year files
    val header = "month,town,flat_type,block,street_name,storey_range," +
      "floor_area_sqm,flat_model,lease_commence_date,resale_price\n"
    val csv2017 = header + "2017-03,HOUGANG,4 ROOM,123A," +
      "UPPER SERANGOON RD,10 TO 12,110,Model A,1995,550000\n"
    val csv2018 = header + "2018-04,KALLANG/WHAMPOA,MULTI GENERATION,9," +
      "WHAMPOA DR,04 TO 06,150,Maisonette,1985,880000\n"
    val meta =
      """{"data":{"datasetMetadata":[{"datasetId":"y2017"},
        |{"datasetId":"y2018"}]}}""".stripMargin
    val out = graft.SparkSpec.tempDir("rest_hist").toString
    withServer(
      "/v2/public/api/collections/resale/metadata" ->
        (x => respond(x, 200, meta.getBytes(UTF_8))),
      "/v1/public/api/datasets/y2017/poll-download" ->
        (x => respond(x, 200,
          """{"data":{"url":"/files/a?filename%3D%22resale_2017.csv%22"}}"""
            .getBytes(UTF_8))),
      "/v1/public/api/datasets/y2018/poll-download" ->
        (x => respond(x, 200,
          """{"data":{"url":"/files/b?filename%3D%22resale_2018.csv%22"}}"""
            .getBytes(UTF_8))),
      "/files/a" -> (x => respond(x, 200, csv2017.getBytes(UTF_8))),
      "/files/b" -> (x => respond(x, 200, csv2018.getBytes(UTF_8)))
    ) { base =>
      val report = RestIngest.downloadAll(base, "resale", out, retries = 0)
      assert(report.forall(_.file.isDefined))
      val dc = Seq((19, "53", "Hougang"), (12, "33", "Kallang"))
        .toDF("district", "postal_sector", "zone")
      val dr = Seq((19, "North-East Region"), (12, "Central Region"))
        .toDF("district", "region")
      val td = Seq(("Hougang", 19L), ("Kallang/Whampoa", 12L))
        .toDF("general_location", "district")
      // S1 multi-file scan straight over the ingested directory
      val dims = graft.jobs.Pipeline.Dims(dc, dr, td,
        Seq.empty[(String, String)].toDF("agency", "agency_id"))
      val res = graft.jobs.HistoricalJob.transform(
        graft.jobs.HistoricalJob.readRaw(spark, out), dims)
      assert(res.count() === 2)
      val r = res.filter($"block" === "123A").collect().head
      assert(r.getAs[Int]("price") === 550000)
      assert(r.getAs[Int]("year") === 2017)
      assert(r.getAs[Int]("district") === 19)
      assert(r.getAs[String]("region") === "North-East Region")
      val r2 = res.filter($"block" === "9").collect().head
      assert(r2.getAs[String]("general_location") === "Kallang/Whampoa")
      assert(r2.getAs[Int]("year") === 2018)
    }
  }

  test("server-controlled names cannot escape or shadow: traversal, " +
    "separators, dot/underscore prefixes all fall back to the id") {
    val meta =
      """{"data":{"datasetMetadata":[{"datasetId":"d1"},
        |{"datasetId":"d2"},{"datasetId":"../evil id"}]}}""".stripMargin
    val out = graft.SparkSpec.tempDir("rest_sanitize").toString
    withServer(
      "/v2/public/api/collections/c3/metadata" ->
        (x => respond(x, 200, meta.getBytes(UTF_8))),
      "/v1/public/api/datasets/d1/poll-download" ->
        (x => respond(x, 200,
          """{"data":{"url":"/f/a?filename%3D%22..%2Fescape.csv%22"}}"""
            .replace("%2F", "/").getBytes(UTF_8))),
      "/v1/public/api/datasets/d2/poll-download" ->
        (x => respond(x, 200,
          """{"data":{"url":"/f/b?filename%3D%22_GRAFT_COMPLETE%22"}}"""
            .getBytes(UTF_8))),
      "/f/a" -> (x => respond(x, 200, "k\n1\n".getBytes(UTF_8))),
      "/f/b" -> (x => respond(x, 200, "k\n2\n".getBytes(UTF_8)))
    ) { base =>
      val report = RestIngest.downloadAll(base, "c3", out, retries = 0)
      val ok = report.filter(_.file.isDefined)
      // every landed file is INSIDE outDir with a safe name
      ok.foreach { f =>
        assert(f.file.get.toAbsolutePath.normalize
          .startsWith(java.nio.file.Paths.get(out).toAbsolutePath.normalize))
        assert(f.namedByFallback)
      }
      val names = ok.map(_.file.get.getFileName.toString)
      assert(names.contains("d1.csv") && names.contains("d2.csv"))
      // no escape artifact beside the ingest dir
      assert(!Files.exists(
        java.nio.file.Paths.get(out).getParent.resolve("escape.csv")))
      // a catalog id that cannot even form a URI (space, dot-segment)
      // costs ONE dataset as a reported failure, never the batch
      val evil = report.find(_.datasetId == "../evil id").get
      assert(evil.file.isEmpty && evil.error.isDefined)
    }
  }

  test("transient 5xx is retried to success; exhausted retries surface " +
    "in the report, cost one dataset only") {
    val flaky = new AtomicInteger(0)
    val meta =
      """{"data":{"datasetMetadata":[{"datasetId":"d_flaky"},
        |{"datasetId":"d_dead"},{"datasetId":"d_ok"}]}}""".stripMargin
    val out = graft.SparkSpec.tempDir("rest_retry").toString
    withServer(
      "/v2/public/api/collections/c2/metadata" ->
        (x => respond(x, 200, meta.getBytes(UTF_8))),
      "/v1/public/api/datasets/d_flaky/poll-download" ->
        (x => respond(x, 200,
          """{"data":{"url":"/files/flaky"}}""".getBytes(UTF_8))),
      "/v1/public/api/datasets/d_dead/poll-download" ->
        (x => respond(x, 503, "busy".getBytes(UTF_8))),
      "/v1/public/api/datasets/d_ok/poll-download" ->
        (x => respond(x, 200,
          """{"data":{"url":"/files/ok"}}""".getBytes(UTF_8))),
      "/files/flaky" -> { x =>
        if (flaky.getAndIncrement() == 0) respond(x, 503, Array.emptyByteArray)
        else respond(x, 200, "k\n1\n".getBytes(UTF_8))
      },
      "/files/ok" -> (x => respond(x, 200, "k\n2\n".getBytes(UTF_8)))
    ) { base =>
      val report =
        RestIngest.downloadAll(base, "c2", out, retries = 2, backoffMs = 0)
      val byId = report.map(r => r.datasetId -> r).toMap
      assert(byId("d_flaky").file.isDefined)   // 503 then 200: retried
      assert(flaky.get() === 2)
      assert(byId("d_dead").file.isEmpty &&
        byId("d_dead").error.exists(_.contains("HTTP 503")))
      assert(byId("d_ok").file.isDefined)      // failure cost one file
    }
  }
}
