package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins [[HtmlListing.parsePropnex]] to the scraper's observable
  * extraction (`propnex_selenium.py:20-165`) on a reference-shaped
  * listing page: section anchoring, icon dispatch with last-match-wins,
  * agent p-tag routing, the name/value ul zip (truncation + duplicate
  * keys), Selenium-text details (`<br>`→newline, entities), and every
  * absent-element default. */
class HtmlListingSpec extends SparkSpec {
  import spark.implicits._

  private val fullPage =
    """<html><body><div class="row">
      |<div class="col-lg-4 sidebar">
      |  <h1>123A Upper Serangoon Rd</h1>
      |  <p>ignored preamble</p>
      |  <strong class="mr-1">$550,000</strong>
      |  <p class="mt-2">$465 psf</p>
      |  <div class="lbb-21">
      |    <ul>
      |      <li><img src="/img/ic_location.png"/><p>Upper Serangoon Rd<br>Hougang (D19)</p></li>
      |      <li><img src="/img/ic_beds.png"/><p>4 Beds</p></li>
      |      <li><img src="/img/ic_beds.png"/><p>3 Beds</p></li>
      |      <li><img src="/img/ic_baths.png"/><p>2 Baths</p></li>
      |      <li><img src="/img/ic_other.png"/><p>skipped row</p></li>
      |      <li><img src="/img/ic_sqft.png"/><p>1,184 sqft (110 sqm)</p></li>
      |    </ul>
      |  </div>
      |  <div class="agent-dt-box">
      |    <h5>Jane Tan &amp; Co</h5>
      |    <p>PropNex Realty</p>
      |    <p>#R123456A</p>
      |    <p>+65 91234567</p>
      |    <p>JANE@Propnex.COM</p>
      |  </div>
      |</div>
      |<div class="property-list-box">
      |  <ul><li>Listing Type</li><li>Property Type</li><li>District</li></ul>
      |  <ul><li>HDB For Sale</li><li>HDB Flat</li><li>D19</li></ul>
      |  <ul><li>Tenure</li><li>District</li><li>Dangling Name</li></ul>
      |  <ul><li>99-year Leasehold</li><li>D20</li></ul>
      |</div>
      |<div class="desc-box"><p>Spacious &quot;corner&quot; unit 🏠</p></div>
      |<ul class="fac">
      |  <li class="facilities-icons on"><img/><p>Swimming Pool</p></li>
      |  <li class="facilities-icons"><img/><p>Gym</p></li>
      |</ul>
      |</body></html>""".stripMargin

  private def parse(html: String): Map[String, String] = {
    val row = HtmlListing.parsePropnex(
      Seq(("http://x/listing/1", html)).toDF("url", "html"),
      "url", "html").collect().head
    row.schema.fieldNames.zip(row.toSeq.map(_.asInstanceOf[String])).toMap
  }

  test("reference-shaped page extracts every field like the scraper") {
    val f = parse(fullPage)
    assert(f("url") === "http://x/listing/1")
    assert(f("location") === "123A Upper Serangoon Rd")
    assert(f("price") === "$550,000")
    assert(f("price_psf") === "$465 psf")
    // br → newline, like Selenium .text (FIXTURES.md A1 quirk)
    assert(f("street_town_district") === "Upper Serangoon Rd\nHougang (D19)")
    // two ic_beds rows: the scraper's loop assigns on each, last wins
    assert(f("num_bedroom") === "3 Beds")
    assert(f("num_bathroom") === "2 Baths")
    assert(f("floor_area_sqft") === "1,184 sqft (110 sqm)")
    assert(f("agent_name") === "Jane Tan & Co")
    assert(f("agent_id") === "#R123456A")
    assert(f("agent_phone_num") === "+65 91234567")
    assert(f("agent_email") === "JANE@Propnex.COM") // '.com' match is case-folded
    assert(f("listing_type") === "HDB For Sale")
    assert(f("property_type") === "HDB Flat")
    // duplicate key: dict(zip) keeps the LAST pair
    assert(f("district") === "D20")
    assert(f("tenure") === "99-year Leasehold")
    // 'Dangling Name' has no value: python zip truncates the pair away
    assert(f("property_group") === "None")
    assert(f("top") === "None")
    assert(f("description") === "Spacious \"corner\" unit 🏠")
    assert(f("facilities") === "Swimming Pool, Gym")
  }

  private val srxPage =
    """<html><body><div id="listing-detail">
      |<h1 class="listing-name">123A Example Ave 1</h1>
      |<div id="listing-Xvalue-size">1,184 sqft / $465 psf</div>
      |<div class="listing-price"><div>$550,000</div><div>(Negotiable)</div></div>
      |<div class="bed-box"><span class="bed-icon"></span><span class="bed-numbers">3+1</span></div>
      |<div class="bath-box"><span class="bath-numbers">2</span></div>
      |<div class="listing-description">great view 顶层</div>
      |<div class="listing-agent-box">
      |  <div class="agent-name"><span>José Lim</span></div>
      |  <div class="agent-image-cea"><div class="agent-cea-reg">CEA: R123456A / L1234567B</div></div>
      |  <div><a href="tel:91234567" class="btn featuredAgentCall">Call</a></div>
      |</div>
      |<div class="about-this-property">
      |  <div class="listing-about"><div class="listing-about-main-key">Address</div><div class="listing-about-main-value">123A Example Ave 1 (543210)</div></div>
      |  <div class="listing-about"><div class="listing-about-main-key">Property Type</div><div class="listing-about-main-value">HDB 4 Rooms</div></div>
      |  <div class="listing-about"><div class="listing-about-main-key">Floor Level</div><div class="listing-about-main-value">Mid</div></div>
      |  <div class="listing-about"><div class="listing-about-main-key">Size</div><div class="listing-about-main-value">110 sqm</div></div>
      |  <div class="listing-about"><div class="listing-about-main-key">Size</div><div class="listing-about-main-value">111 sqm</div></div>
      |</div>
      |<div class="facilities-div">
      |  <div class="facilities-row"><span class="listing-about-facility-span">Playground</span></div>
      |  <div class="facilities-row"><span class="listing-about-facility-span">Car Park</span></div>
      |</div>
      |<div class="nearby-amenities">
      |  <div class="Trains">
      |    <div class="listing-amenity"><div class="listing-amenity-name">Hougang</div><div class="listing-amenity-station"><span>NE14</span></div></div>
      |    <div class="listing-amenity"><div class="listing-amenity-name">Incomplete Row</div></div>
      |    <div class="listing-amenity"><div class="listing-amenity-name">Buangkok</div><div class="listing-amenity-station"><span>NE15</span></div></div>
      |  </div>
      |  <div class="Schools">
      |    <div class="listing-amenity"><div class="listing-amenity-name">Xinmin Primary</div></div>
      |    <div class="listing-amenity"><div class="listing-amenity-name">Holy Innocents High</div></div>
      |  </div>
      |  <div class="Shopping-Malls">
      |    <div class="listing-amenity"><div class="listing-amenity-name">Hougang Mall</div></div>
      |  </div>
      |  <div class="Markets">
      |    <div class="listing-amenity"><div class="listing-amenity-name">Kovan Market</div></div>
      |  </div>
      |</div>
      |</div></body></html>""".stripMargin

  private def parseSrx(html: String): Map[String, String] = {
    val row = HtmlListing.parseSrx(
      Seq(("http://srx/listing/9", html)).toDF("url", "html"),
      "url", "html").collect().head
    row.schema.fieldNames.zip(row.toSeq.map(_.asInstanceOf[String])).toMap
  }

  test("srx reference-shaped page extracts every field like the spider") {
    val f = parseSrx(srxPage)
    assert(f("url") === "http://srx/listing/9")
    assert(f("location") === "123A Example Ave 1")
    assert(f("floor_size_psf") === "1,184 sqft / $465 psf")
    // div.listing-price div: the FIRST descendant div only
    assert(f("price") === "$550,000")
    assert(f("num_bedroom") === "3+1")
    assert(f("num_bathroom") === "2")
    assert(f("description") === "great view 顶层") // non-ASCII intact
    assert(f("agent_name") === "José Lim")
    assert(f("agent_id") === "CEA: R123456A / L1234567B")
    // attribute read: @href of a.featuredAgentCall, class after href
    assert(f("agent_phone_num") === "tel:91234567")
    assert(f("address") === "123A Example Ave 1 (543210)")
    assert(f("property_type") === "HDB 4 Rooms")
    assert(f("floor_level") === "Mid")
    // duplicate 'Size' key: dict(zip) keeps the last pair
    assert(f("size") === "111 sqm")
    assert(f("model") === "None") // absent key defaults
    assert(f("tenancy_status") === "None")
    assert(f("facilities") === "Playground, Car Park")
    // incomplete train row (no station) is filtered, like SRX:90
    assert(f("train_stations") === "Hougang NE14, Buangkok NE15")
    assert(f("schools") === "Xinmin Primary, Holy Innocents High")
    // malls then markets, concatenated (SRX:151)
    assert(f("shopping_mall/markets") === "Hougang Mall, Kovan Market")
  }

  test("single-quoted attributes and extra classes extract identically " +
    "— author markup quote style must not matter") {
    val page =
      """<html><body>
        |<h1 class='page-title'>ignored - not the listing h1</h1>
        |<div id='listing-detail'>
        |<h1 class='listing-name hero'>88 Sample St</h1>
        |<div id='listing-Xvalue-size'>900 sqft</div>
        |<div class='listing-price big'><div>$321,000</div></div>
        |<div class='x bed-box'><span class='bed-numbers'>2</span></div>
        |<div class='listing-agent-box'>
        |<div class='agent-name'><span>Lee</span></div>
        |<div><a class='featuredAgentCall' href='tel:98765432'>Call</a></div>
        |</div>
        |</div></body></html>""".stripMargin
    val f = parseSrx(page)
    assert(f("location") === "88 Sample St")
    assert(f("floor_size_psf") === "900 sqft")
    assert(f("price") === "$321,000")
    assert(f("num_bedroom") === "2")
    assert(f("agent_name") === "Lee")
    assert(f("agent_phone_num") === "tel:98765432")
  }

  test("srx absent sections fall back to the spider's defaults") {
    val f = parseSrx("<html><body><p>not a listing</p></body></html>")
    assert(f("location") === "None")
    assert(f("price") === "None")
    assert(f("num_bedroom") === "None")
    assert(f("agent_name") === "None")
    assert(f("agent_phone_num") === "None")
    assert(f("address") === "None")
    assert(f("description") === "")
    assert(f("facilities") === "")
    assert(f("train_stations") === "")
    assert(f("schools") === "")
    assert(f("shopping_mall/markets") === "")
  }

  test("parsePropnex output feeds PropnexJob.transform end-to-end — " +
    "the full scrape→clean path runs in-engine") {
    val page =
      """<html><body><div class="col-lg-4">
        |<h1>Blk 123A upper serangoon rd</h1>
        |<strong class="mr-1">$550,000</strong>
        |<p class="mt-2">$465 psf</p>
        |<div class="lbb-21"><ul>
        |<li><img src="/i/ic_location.png"/><p>Upper Serangoon Rd<br>Hougang (D19)</p></li>
        |<li><img src="/i/ic_beds.png"/><p>3</p></li>
        |<li><img src="/i/ic_baths.png"/><p>2</p></li>
        |<li><img src="/i/ic_sqft.png"/><p>1,184 sqft (110 sqm)</p></li>
        |</ul></div>
        |<div class="agent-dt-box"><h5>Jane Tan</h5>
        |<p>#R123456A</p><p>+65 91234567</p><p>jane.tan@propnex.com</p></div>
        |</div>
        |<div class="property-list-box">
        |<ul><li>District</li><li>Floor Area</li><li>TOP</li><li>Furnishing</li><li>Floor</li><li>Post Code</li><li>Street Name</li></ul>
        |<ul><li>D19</li><li>1184</li><li>1995</li><li>Partially Furnished</li><li>high floor</li><li>534011</li><li>upper serangoon rd</li></ul>
        |</div>
        |<div class="desc-box"><p>nice flat</p></div>
        |<li class="facilities-icons"><p>pool</p></li>
        |<li class="facilities-icons"><p>gym</p></li>
        |<li class="facilities-icons"><p>bbq</p></li>
        |</body></html>""".stripMargin
    val raw = HtmlListing.parsePropnex(
      Seq(("https://example.com/listing/1", page)).toDF("url", "html"),
      "url", "html")
    assert(raw.columns.toSeq ===
      graft.schemas.Schemas.propnexRaw.fieldNames.toSeq)
    val dc = Seq((19, "53", "Hougang"), (20, "56", "Bishan"))
      .toDF("district", "postal_sector", "zone")
    val dr = Seq((19, "North-East Region"), (20, "Central Region"))
      .toDF("district", "region")
    val dims = graft.jobs.Pipeline.Dims(dc, dr,
      Seq.empty[(String, Long)].toDF("general_location", "district"),
      Seq.empty[(String, String)].toDF("agency", "agency_id"))
    val out = graft.jobs.PropnexJob.transform(raw, dims,
      java.time.LocalDate.of(2024, 11, 1)).collect().head
    def g[T](c: String): T = out.getAs[T](c)
    assert(g[String]("location") === "123A Upper Serangoon Rd")
    assert(g[Int]("price") === 550000)
    assert(g[Int]("price_psf") === 465)
    assert(g[String]("furnish") === "partial")
    assert(g[String]("general_location") === "Hougang")
    assert(g[Int]("district") === 19)
    assert(g[String]("zone") === "Hougang")
    assert(g[String]("region") === "North-East Region")
    assert(g[String]("floor") === "high")
    assert(g[String]("agent_id") === "R123456A")
    assert(g[Int]("agent_phone_num") === 91234567)
    assert(g[String]("agency") === "PROPNEX REALTY PTE. LTD.")
    assert(g[Int]("remaining_lease") === 99 - (2024 - 1995))
    assert(g[Int]("floor_area_sqm") === 110)
    assert(g[Int]("facilities_num") === 3)
    assert(g[String]("street_name") === "Upper Serangoon Rd")
  }

  test("absent sections fall back to the scraper's defaults") {
    val f = parse("<html><body><p>not a listing</p></body></html>")
    assert(f("location") === "None")
    assert(f("price") === "None")
    assert(f("street_town_district") === "None")
    assert(f("num_bedroom") === "None")
    assert(f("agent_id") === "None")
    assert(f("agent_email") === "None")
    assert(f("listing_type") === "None")
    assert(f("description") === "") // PN:129 defaults description to ''
    assert(f("facilities") === "")  // PN:137: empty list joins to ''
  }
}
