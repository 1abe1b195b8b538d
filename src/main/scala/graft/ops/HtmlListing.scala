package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The S7 scrapers' EXTRACTION semantics, in-engine: the reference
  * drives a browser to a listing page and pulls fields out of the DOM
  * (`jobs/propnex_selenium.py:20-165`, `jobs/srx_selenium.py:20-152`);
  * the browser-driving half (clicks, scrolls, waits) is out-of-engine
  * by design (SURVEY §1.4), but the field extraction itself is pure
  * text→fields work — exactly what a 100 TB crawl pipeline runs IN
  * Spark over stored pages (fetch separately, parse at scale). Both
  * parsers are codegen'd built-ins only (regexp_extract/_all, filter,
  * transform — no UDF, no driver loop): per-row scan work, no shuffle,
  * no state.
  *
  * SHAPE: both parsers are staged DataFrame transforms, not single
  * mega-Columns. A one-Column formulation inlines the section/array
  * extraction chains into every one of the 25/31 output fields
  * (Catalyst re-evaluates an expression per reference; there is no CSE
  * across output columns, and none inside HOF lambdas — the repo-wide
  * materialization-barrier doctrine), which measured 49 s / 196 s for
  * the two gates at sf0.1. Staged selects materialize each full-page
  * scan ONCE (CollapseProject keeps the stages apart because the
  * staged producers are non-cheap and multiply referenced), so the
  * page is scanned a bounded ~10-16 times and every per-field
  * extraction runs over a small captured fragment.
  *
  * Parity map (selector → rule), from the spiders:
  *  - propnex: first `<h1>` → location; `strong.mr-1` → price;
  *    `p.mt-2` → price_psf (PN:27-30). `div.lbb-21` list rows dispatch
  *    on the row icon's src (PN:40-53): `ic_location.png`→ the row's
  *    `<p>` text, `ic_beds/baths/sqft.png`→ the row's full text; the
  *    scraper's loop ASSIGNS on every match, so the LAST matching row
  *    wins. `div.agent-dt-box`: `h5`→ agent_name; `<p>` tags dispatch
  *    by content — leading `#R`→ agent_id, containing `+65`→ phone,
  *    lower containing `.com`→ email; last match wins (PN:64-82).
  *    `div.property-list-box` `<ul>`s alternate name-list/value-list;
  *    li texts zip into a dict, later duplicate keys overwriting
  *    (Python `dict(zip(...))`), truncated to the shorter side; lookups
  *    default 'None' (PN:85-100,139-160). description: first
  *    `div.desc-box` `<p>`, default ''; facilities: every
  *    `li.facilities-icons` row's `<p>` text joined ", " (PN:126-137).
  *  - srx: descendant selectors (`div.listing-price div`, bed/bath
  *    number spans, agent name/cea) anchor parent and child in ONE
  *    pattern; agent_phone_num is an ATTRIBUTE read
  *    (`a.featuredAgentCall` @href, SRX:48); property details zip
  *    per-BLOCK key/value divs into a dict (last duplicate wins), 17
  *    lookups defaulting 'None'; amenity categories (`div.Trains` /
  *    `Schools` / `Shopping-Malls` / `Markets`) hold nested markup, so
  *    each category REGION is captured from its opener to the next
  *    sibling category opener (or end) — the sibling-delimited capture
  *    nested sections need under flat regex extraction. Trains join
  *    "name station" pairs and drop entries where either half is
  *    missing (SRX:90); malls and markets concatenate (SRX:151).
  *  - any absent element → the scraper's 'None' sentinel
  *    (`get_element_text` default, PN:200-205 / SRX:180-201).
  *
  * Text extraction mirrors Selenium's `.text` on listing markup:
  * `<br>` becomes a newline (the multi-line street/town/district
  * value, FIXTURES.md A1), remaining tags drop, the five standard
  * entities decode, and the result is trimmed. Class/id/href
  * attributes match either quote style, and class matching is
  * token-exact (CSS `.cls` semantics — `listing-about` must not match
  * inside `listing-about-main-key`). This is class-anchored FLAT
  * extraction — a section captures to its nearest `</div>`, so it does
  * not depend on (or handle) div nesting inside a section; on the
  * listing shapes the spiders target the two agree, and
  * HtmlListingSpec pins that agreement on reference-shaped pages. */
object HtmlListing {

  private val None_ = "None"

  /** Selenium-`.text`-alike: `<br>`→newline, tags out, entities
    * decoded, trimmed — the fused native kernel
    * ([[graft.functions.TextKernels.seleniumText]]). The HOF regex
    * chain it replaced survives as [[textRef]], the documented
    * reference formulation HtmlTextKernelSpec fuzzes parity against;
    * inlined at every output field the chain's ~8 regex nodes × ~45
    * sites dominated the scrape gates' planning + codegen. */
  private def text(c: Column): Column =
    graft.functions.GraftFunctions.seleniumText(c)

  /** Reference formulation of [[text]] (regex chain) — parity-pinned,
    * not used on the production path. */
  private[graft] def textRef(c: Column): Column = {
    val br = regexp_replace(c, "(?i)<br\\s*/?>", "\n")
    val noTags = regexp_replace(br, "<[^>]*>", "")
    val ent = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(noTags,
        lit("&lt;"), lit("<")), lit("&gt;"), lit(">")),
        lit("&quot;"), lit("\"")), lit("&#39;"), lit("'")),
        lit("&amp;"), lit("&"))
    trim(ent)
  }

  /** Class-attribute token match: CSS `.cls` means a whole
    * space-delimited token, so `listing-about` must NOT match inside
    * `listing-about-main-key` (a `\b` boundary would — hyphens are
    * word boundaries). Accepts either quote style — author markup
    * single-quotes attributes often enough that a scrape parser must
    * not care. */
  private def classTok(cls: String): String =
    s"""class=(?:"(?:[^"]*\\s)?$cls(?:\\s[^"]*)?"""" +
      s"""|'(?:[^']*\\s)?$cls(?:\\s[^']*)?')"""

  private def classPat(tag: String, cls: String): String =
    s"""(?s)<$tag[^>]*${classTok(cls)}[^>]*>(.*?)</$tag>"""

  /** Stage-1 capture: the WHOLE first match of `pat` (group 0), '' if
    * absent — one scan of the page, re-extracted cheaply in stage 2.
    * Group 0 is non-empty whenever the element exists, so absence
    * (→'None') stays distinguishable from an empty element (→''). */
  private def grab(html: Column, pat: String): Column =
    regexp_extract(html, pat, 0)

  /** Stage-2 read over a small stage-1 fragment: group 1 of `pat` as
    * Selenium text; empty fragment (absent element) → `dflt`. */
  private def readText(frag: Column, pat: String,
                       dflt: String = None_): Column =
    when(length(frag) > 0, text(regexp_extract(frag, pat, 1)))
      .otherwise(lit(dflt))

  private def section(html: Column, cls: String): Column =
    regexp_extract(html, classPat("div", cls), 1)

  private def pText(frag: Column): Column =
    text(regexp_extract(frag, "(?s)<p[^>]*>(.*?)</p>", 1))

  /** `dict(zip(names, vals))` as ONE materialized pair array —
    * truncated to the shorter side like Python `zip`. Built once per
    * parser stage; each key lookup is then a filter over a handful of
    * structs, not a re-zip (17 inlined copies of the zip measurably
    * taxed codegen). */
  private def zipPairs(names: Column, vals: Column): Column = {
    val n = least(size(names), size(vals))
    arrays_zip(slice(names, lit(1), n), slice(vals, lit(1), n))
      .cast("array<struct<name:string,value:string>>")
  }

  /** Python-`dict[key]` with 'None' default: the LAST pair whose name
    * equals `key` (duplicate keys overwrite, like `dict(zip(...))`). */
  private def zipLookup(pairs: Column, key: String): Column =
    coalesce(
      try_element_at(filter(pairs, p => p.getField("name") === key), lit(-1))
        .getField("value"),
      lit(None_))

  /** The propnex scraper's 25-field dict over `(urlCol, htmlCol)` —
    * same names, same order, same sentinels as
    * `propnex_selenium.py:139-165`, so the output feeds
    * `jobs/PropnexJob.transform` exactly like the fixture JSON does.
    * Input columns are replaced by the 25 extracted columns. */
  def parsePropnex(df: DataFrame, urlCol: String, htmlCol: String): DataFrame = {
    val html = col(htmlCol)
    // stage 1: every full-page scan exactly once
    val staged = df.select(col(urlCol).as("url"),
      grab(html, "(?s)<h1[^>]*>(.*?)</h1>").as("__h1"),
      grab(html, classPat("strong", "mr-1")).as("__price"),
      grab(html, classPat("p", "mt-2")).as("__psf"),
      section(html, "lbb-21").as("__lbb"),
      section(html, "agent-dt-box").as("__agent"),
      section(html, "property-list-box").as("__pl"),
      section(html, "desc-box").as("__desc"),
      regexp_extract_all(html,
        lit(classPat("li", "facilities-icons")), lit(0)).as("__facl"))
    // stage 2: arrays off the small fragments
    val uls = transform(
      regexp_extract_all(col("__pl"), lit("(?s)<ul[^>]*>.*?</ul>"), lit(0)),
      (u, i) => struct(u.as("u"), i.as("i")))
    def liTexts(ul: Column): Column =
      transform(regexp_extract_all(ul,
        lit("(?s)<li[^>]*>(.*?)</li>"), lit(1)), b => text(b))
    val arrs = staged.select(col("url"), col("__h1"), col("__price"),
      col("__psf"), col("__agent"), col("__desc"), col("__facl"),
      regexp_extract_all(col("__lbb"),
        lit("(?s)<li[^>]*>.*?</li>"), lit(0)).as("__lis"),
      transform(regexp_extract_all(col("__agent"),
          lit("(?s)<p[^>]*>(.*?)</p>"), lit(1)),
        p => text(p)).as("__agentPs"),
      zipPairs(
        flatten(transform(filter(uls, x => x.getField("i") % 2 === 0),
          x => liTexts(x.getField("u")))),
        flatten(transform(filter(uls, x => x.getField("i") % 2 === 1),
          x => liTexts(x.getField("u"))))).as("__pairs"))
    // stage 3: fields over materialized fragments/arrays
    def liText(needle: String, pOnly: Boolean): Column = {
      val hit = try_element_at(
        filter(col("__lis"), b => instr(b, needle) > 0), lit(-1))
      coalesce(when(hit.isNotNull,
        if (pOnly) pText(hit) else text(hit)), lit(None_))
    }
    def agentP(pred: Column => Column): Column =
      coalesce(
        try_element_at(filter(col("__agentPs"), pred), lit(-1)),
        lit(None_))
    def detail(key: String): Column = zipLookup(col("__pairs"), key)
    arrs.select(
      col("url"),
      readText(col("__h1"), "(?s)<h1[^>]*>(.*?)</h1>").as("location"),
      readText(col("__price"), classPat("strong", "mr-1")).as("price"),
      readText(col("__psf"), classPat("p", "mt-2")).as("price_psf"),
      liText("ic_location.png", pOnly = true).as("street_town_district"),
      liText("ic_beds.png", pOnly = false).as("num_bedroom"),
      liText("ic_baths.png", pOnly = false).as("num_bathroom"),
      liText("ic_sqft.png", pOnly = false).as("floor_area_sqft"),
      readText(col("__agent"), "(?s)<h5[^>]*>(.*?)</h5>").as("agent_name"),
      agentP(p => p.startsWith("#R")).as("agent_id"),
      agentP(p => lower(p).contains(".com")).as("agent_email"),
      agentP(p => p.contains("+65")).as("agent_phone_num"),
      detail("Listing Type").as("listing_type"),
      detail("Property Group").as("property_group"),
      detail("Property Type").as("property_type"),
      detail("District").as("district"),
      detail("Floor Area").as("total_floor_area"),
      detail("TOP").as("top"),
      detail("Furnishing").as("furnishing"),
      detail("Tenure").as("tenure"),
      detail("Floor").as("floor"),
      detail("Post Code").as("post_code"),
      detail("Street Name").as("street_name"),
      readText(col("__desc"), "(?s)<p[^>]*>(.*?)</p>", dflt = "")
        .as("description"),
      array_join(transform(col("__facl"), b => pText(b)), ", ")
        .as("facilities"))
  }

  /** The SRX spider's 31-field dict over `(urlCol, htmlCol)`
    * (`jobs/srx_selenium.py:20-152`) — same names (including the
    * literal `/` in `shopping_mall/markets`), same 'None' / '' / ", "
    * conventions, so the output feeds `jobs/SrxJob.transform` exactly
    * like the A2 fixture JSON (FIXTURES.md). */
  def parseSrx(df: DataFrame, urlCol: String, htmlCol: String): DataFrame = {
    val html = col(htmlCol)
    def desc(parentTag: String, parentCls: String, childPat: String): String =
      s"""(?s)<$parentTag[^>]*${classTok(parentCls)}[^>]*>.*?$childPat"""
    val aboutBlockPat =
      s"""(?s)<div[^>]*${classTok("listing-about")}[^>]*>\\s*""" +
        s"""<div[^>]*${classTok("listing-about-main-key")}[^>]*>(.*?)</div>\\s*""" +
        s"""<div[^>]*${classTok("listing-about-main-value")}[^>]*>(.*?)</div>"""
    val facilityPat =
      s"""(?s)<div[^>]*${classTok("facilities-row")}[^>]*>.*?""" +
        s"""<span[^>]*${classTok("listing-about-facility-span")}""" +
        """[^>]*>(.*?)</span>"""
    // sibling-delimited category regions: nested markup rules out
    // nearest-</div> capture, and a lazy-dot-with-lookahead capture
    // re-tests the next-opener alternation at EVERY position — an
    // O(page²) scan, measured as the dominant cost of this parser.
    // ONE regex split at category openers instead: each segment starts
    // with its category div and runs to the next opener (or page end),
    // so all four regions come out of a single O(page) pass; a region
    // is then the FIRST segment whose head matches the category
    // (find_element semantics).
    val catOpener = {
      val alt = Seq("Trains", "Schools", "Shopping-Malls", "Markets")
        .mkString("|")
      s"""<div[^>]*class=["'](?:[^"']*\\s)?(?:$alt)(?:\\s[^"']*)?["']"""
    }
    val segments = split(html, s"(?=$catOpener)")
    val namePat = "(?s)" + classPat("h1", "listing-name")
    val sizePat =
      """(?s)<div[^>]*id=["']listing-Xvalue-size["'][^>]*>(.*?)</div>"""
    val pricePat = desc("div", "listing-price", "<div[^>]*>(.*?)</div>")
    val bedPat = desc("div", "bed-box",
      s"""<span[^>]*${classTok("bed-numbers")}[^>]*>(.*?)</span>""")
    val bathPat = desc("div", "bath-box",
      s"""<span[^>]*${classTok("bath-numbers")}[^>]*>(.*?)</span>""")
    val descrPat = classPat("div", "listing-description")
    val agentNamePat = desc("div", "agent-name", "<span[^>]*>(.*?)</span>")
    val ceaPat = desc("div", "agent-image-cea",
      s"""<div[^>]*${classTok("agent-cea-reg")}[^>]*>(.*?)</div>""")
    // stage 1: one scan of the page per capture
    val staged = df.select(col(urlCol).as("url"),
      grab(html, namePat).as("__name"),
      grab(html, sizePat).as("__size"),
      grab(html, pricePat).as("__price"),
      grab(html, bedPat).as("__bed"),
      grab(html, bathPat).as("__bath"),
      grab(html, descrPat).as("__descr"),
      grab(html, agentNamePat).as("__aname"),
      grab(html, ceaPat).as("__cea"),
      grab(html,
        s"""(?s)<a[^>]*${classTok("featuredAgentCall")}[^>]*>""")
        .as("__atag"),
      regexp_extract_all(html, lit(aboutBlockPat), lit(0)).as("__about"),
      regexp_extract_all(html, lit(facilityPat), lit(1)).as("__facl"),
      segments.as("__segs"))
    // stage 2: small-fragment arrays
    // amenity names are text nodes: [^<]* keeps a station-less block
    // from backtrack-bleeding its capture into the NEXT block's name
    val amenityName = s"""<div[^>]*${classTok("listing-amenity-name")}""" +
      """[^>]*>([^<]*)</div>"""
    def amenityNames(reg: Column): Column =
      transform(regexp_extract_all(reg, lit(s"(?s)$amenityName"), lit(1)),
        n => text(n))
    // per-amenity "name station" pair: name div then the station span,
    // within one listing-amenity block; a block missing either half
    // yields no pair — the scraper's "'None' not in station" filter
    // drops exactly those (SRX:90)
    val trainPairPat = s"""(?s)$amenityName\\s*""" +
      s"""<div[^>]*${classTok("listing-amenity-station")}[^>]*>\\s*""" +
      """<span[^>]*>(.*?)</span>"""
    val keyPat = s"""(?s)<div[^>]*${classTok("listing-about-main-key")}""" +
      """[^>]*>(.*?)</div>"""
    val valPat = s"""(?s)<div[^>]*${classTok("listing-about-main-value")}""" +
      """[^>]*>(.*?)</div>"""
    // FIRST segment opening with the category = the region
    def region(cls: String): Column = {
      val head = s"""^<div[^>]*class=["'](?:[^"']*\\s)?$cls""" +
        """(?:\s[^"']*)?["']"""
      coalesce(
        try_element_at(filter(col("__segs"), s => s.rlike(head)), lit(1)),
        lit(""))
    }
    val arrs = staged.select(col("url"), col("__name"), col("__size"),
      col("__price"), col("__bed"), col("__bath"), col("__descr"),
      col("__aname"), col("__cea"), col("__atag"), col("__facl"),
      zipPairs(
        transform(col("__about"),
          b => text(regexp_extract(b, keyPat, 1))),
        transform(col("__about"),
          b => text(regexp_extract(b, valPat, 1)))).as("__pairs"),
      transform(regexp_extract_all(region("Trains"),
          lit(trainPairPat), lit(1)), n => text(n)).as("__trNames"),
      transform(regexp_extract_all(region("Trains"),
          lit(trainPairPat), lit(2)), st => text(st)).as("__trStations"),
      amenityNames(region("Schools")).as("__schoolNames"),
      amenityNames(region("Shopping-Malls")).as("__mallNames"),
      amenityNames(region("Markets")).as("__marketNames"))
    // stage 3: fields
    def detail(key: String): Column = zipLookup(col("__pairs"), key)
    val phoneHref = {
      val href = trim(regexp_extract(col("__atag"),
        """href=["']([^"']*)["']""", 1))
      when(length(col("__atag")) > 0 && length(href) > 0, href)
        .otherwise(lit(None_))
    }
    arrs.select(
      col("url"),
      readText(col("__name"), namePat).as("location"),
      readText(col("__size"), sizePat).as("floor_size_psf"),
      readText(col("__price"), pricePat).as("price"),
      readText(col("__bed"), bedPat).as("num_bedroom"),
      readText(col("__bath"), bathPat).as("num_bathroom"),
      readText(col("__descr"), descrPat, dflt = "").as("description"),
      readText(col("__aname"), agentNamePat).as("agent_name"),
      readText(col("__cea"), ceaPat).as("agent_id"),
      phoneHref.as("agent_phone_num"),
      detail("Address").as("address"),
      detail("Property Name").as("property_name"),
      detail("Property Type").as("property_type"),
      detail("Model").as("model"),
      detail("Bedrooms").as("bedrooms"),
      detail("Bathrooms").as("bathrooms"),
      detail("Furnish").as("furnish"),
      detail("Floor Level").as("floor_level"),
      detail("Tenure").as("tenure"),
      detail("Developer").as("developer"),
      detail("Built Year").as("built_year"),
      detail("HDB Town").as("hdb_town"),
      detail("Asking").as("asking"),
      detail("Size").as("size"),
      detail("PSF").as("psf"),
      detail("Tenancy Status").as("tenancy_status"),
      detail("Date Listed").as("date_listed"),
      array_join(transform(col("__facl"), f => text(f)), ", ")
        .as("facilities"),
      array_join(zip_with(col("__trNames"), col("__trStations"),
        (n, st) => concat(n, lit(" "), st)), ", ").as("train_stations"),
      array_join(col("__schoolNames"), ", ").as("schools"),
      array_join(concat(col("__mallNames"), col("__marketNames")), ", ")
        .as("shopping_mall/markets"))
  }
}
