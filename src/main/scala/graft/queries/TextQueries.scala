package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._
import graft.ops.{Corpus, TextOps}

/** Text-analysis queries over the `documents` table — the operations a
  * large-scale training-data pipeline needs (language ID, quality
  * scoring, token counting, fingerprinting). All pure built-in
  * expressions: per-row, shuffle-free, whole-stage-codegen'd — at
  * 100 TB these run at scan speed. */
object TextQueries {

  /** Fixed subword vocabulary for the greedy tokenizer gate — ONE
    * definition feeds both the Spark kernel and the oracle's VALUES
    * list. Multi-char merges plus lowercase letters and space;
    * anything else (uppercase, digits, punctuation) is an UNK. */
  private val SubwordVocab: Seq[String] =
    Seq("tion", "the", "and", "ing", "ent", "ion", "for",
      "er", "an", "re", "on", "at", "en", "nd", "ti", "es", "or",
      "te", "of", "ed", "is", "it", "al", "ar", "st", "to", "nt",
      " ") ++ ('a' to 'z').map(_.toString)

  /** Synthetic markup wrap for the HTML-strip gate — ONE definition
    * feeds the Spark wrap and the oracle's literal (both quote styles,
    * a comment, entities incl. double-encoded &amp;amp; and
    * post-decode angle brackets). */
  private val HtmlPrefix =
    "<html><body >\n<h1>Title</h1>\n<p class=\"d\" id='x'>"
  private val HtmlSuffix =
    "</p>\n<!-- footer -->\n<div>&amp;amp; &lt;raw&gt; " +
      "&quot;q&quot; &#39;s&#39;&nbsp;end</div>\n</body></html>"

  /** DuckDB single-quoted literal of `s` (quotes doubled, newlines as
    * chr(10) so the JSON-escaped oracle stays single-line-safe). */
  private def sqlLit(s: String): String =
    "'" + s.replace("'", "''").replace("\n", "' || chr(10) || '") + "'"

  /** Each document's `text` as a chat of up to four 80-char turns,
    * user/assistant alternating, empty turns dropped — the Spark twin
    * of [[OracleSql.chatTurns]], read by both SFT gates
    * (q_sft_loss_mask, q_sft_masked_pack). */
  private[queries] def chatTurns = expr("""
    filter(transform(sequence(0, 3), i -> struct(
      CASE WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
      substring(text, 1 + 80 * i, 80) AS content)),
    t -> t.content <> '')""")

  /** Content-keyed WARC archive of the documents corpus AS CRAWLED
    * HTML — every payload is the markup-wrapped text, and docs < 25
    * arrive twice (rid + 7000000), the recrawl duplicates a real
    * archive carries. The raw-material store for the end-to-end
    * curation gate. */
  private def warcHtmlDir(s: org.apache.spark.sql.SparkSession,
                          d: String): String =
    graft.ops.StoreGuard.directory("graft_warchtml_" +
        Sinks.contentKey(d, "documents.parquet", "warchtml|v1")) { dir =>
      val docs = documents(s, d).select("doc_id", "text")
      val crawled = docs.unionByName(docs.filter(col("doc_id") < 25)
        .select((col("doc_id") + 7000000L).as("doc_id"), col("text")))
      graft.sources.WarcSink.write(
        crawled.repartition(4, col("doc_id"))
          .select(
            concat(lit("http://corpus.local/page/"), col("doc_id"))
              .as("uri"),
            lit("2026-01-01T00:00:00Z").as("warc_date"),
            concat(lit("urn:graft:"), col("doc_id")).as("rid"),
            encode(concat(lit(HtmlPrefix), col("text"), lit(HtmlSuffix)),
              "UTF-8").as("payload")),
        dir)
    }

  /** Content-keyed gzip JSONL archive of the corpus — the standard
    * LLM-corpus interchange layout (one JSON doc per line, gzip
    * members): docs 7 and 13 are planted as BROKEN lines, the torn
    * writes / truncated uploads a real archive carries. */
  private def jsonlGzDir(s: org.apache.spark.sql.SparkSession,
                         d: String): String =
    graft.ops.StoreGuard.directory("graft_jsonlgz_" +
        Sinks.contentKey(d, "documents.parquet", "jsonlgz|v1")) { dir =>
      val line = when(col("doc_id").isin(7L, 13L),
          concat(lit("{corrupt "), col("doc_id")))
        .otherwise(to_json(struct(col("doc_id"), col("text"),
          col("lang"), col("source"))))
      documents(s, d).select(line.as("value"))
        .repartition(4)
        .write.mode("overwrite").option("compression", "gzip")
        .text(dir)
    }

  /** The 7-host robots fixture the governance gates share: three
    * classes planting specific-over-generic (rules AND crawl-delays),
    * longest-match allow-under-disallow, empty-Disallow, comments,
    * multi-UA groups, fractional delays, mixed-case keys. */
  private def crawlRobotsFixture(
      s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    (0 until 7).map { h =>
      val txt = h % 3 match {
        case 0 => "User-agent: graftbot\nDisallow: /private\n" +
          "Allow: /private/ok\nCrawl-delay: 2\n# audit note\n\n" +
          "User-agent: *\nDisallow: /\nCrawl-delay: 9"
        case 1 => "user-AGENT: *\nDisallow: /tmp\nDisallow:\n" +
          "Allow: /tmp/keep\nCrawl-delay: 0.5"
        case _ => "User-agent: otherbot\nUser-agent: graftbot\n" +
          "Disallow: /x\n\nUser-agent: *\nAllow: /"
      }
      (s"h$h.example.com", txt)
    }.toDF("host", "robots")
  }

  /** Rounds the BPE gates train/apply — ONE constant feeding the Spark
    * loop, the store key, and both oracles. */
  private val BpeRounds = 10

  // ---- synthetic web fixtures (Spark + SQL twins, like HtmlPrefix) ----
  // Messy-but-realistic URL per document: uppercase scheme/host,
  // default port, duplicate slashes, utm_* tracking params in leading
  // and trailing positions, fragments — every case the canonicalizer
  // handles, planted by composition over the fixture columns.
  private def messyUrl = concat(
    lit("HTTP://WWW.Example"), pmod(col("doc_id"), lit(7)),
    lit(".COM:80//docs//"), col("source"), lit("/"), col("doc_id"),
    when(col("doc_id") % 3 === 0,
      concat(lit("/?utm_source=feed&ref="), col("lang")))
      .otherwise(concat(lit("?id="), col("doc_id"),
        lit("&utm_campaign=x&utm_term=y"))),
    when(col("doc_id") % 5 === 0, lit("#frag")).otherwise(lit("")))

  private val messyUrlSql =
    "'HTTP://WWW.Example' || (doc_id % 7) || '.COM:80//docs//' ||" +
      " source || '/' || doc_id || CASE WHEN doc_id % 3 = 0 THEN" +
      " '/?utm_source=feed&ref=' || lang ELSE '?id=' || doc_id ||" +
      " '&utm_campaign=x&utm_term=y' END ||" +
      " CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END"

  /** Crawled-page HTML with three outbound anchors (deterministic
    * pseudo-random targets) plus an href-free img decoy. */
  private def linkAnchor(k: Int) = {
    val dst = col("doc_id") * 31 + lit(97 * k)
    concat(lit("<a href=\"HTTP://WWW.Example"), pmod(dst, lit(7)),
      lit(".COM:80//page//"), dst, lit("?utm_campaign=z&p=1\">l</a>"))
  }
  private def linkHtml = concat(
    lit("<html><body><p>see</p>"), linkAnchor(1), linkAnchor(2),
    linkAnchor(3),
    lit("<img src=\"http://cdn.example9.com/i.png\"/></body></html>"))

  private def linkAnchorSql(k: Int) =
    s"'<a href=\"HTTP://WWW.Example' || ((doc_id * 31 + ${97 * k}) % 7)" +
      s" || '.COM:80//page//' || (doc_id * 31 + ${97 * k}) ||" +
      " '?utm_campaign=z&p=1\">l</a>'"
  private val linkHtmlSql =
    s"'<html><body><p>see</p>' || ${linkAnchorSql(1)} || " +
      s"${linkAnchorSql(2)} || ${linkAnchorSql(3)} || " +
      "'<img src=\"http://cdn.example9.com/i.png\"/></body></html>'"

  /** Numeric host id planted in the synthetic hostnames. */
  private val HostIdRe = "example([0-9]+)"

  // Per-language signal phrases for the kappa gate (Spark lit + SQL
  // literal twins from ONE string each).
  private val KappaPhraseEnS = "the cat is in the box and it is that"
  private val KappaPhraseDeS = "der hund ist ein tier und die das mit"
  private val KappaPhraseFrS = "le chat est dans la maison et les du"
  private val KappaPhraseEsS = "el perro es un animal y los del"
  private val KappaPhraseZhS = "你好世界这是中文测试"
  private val KappaPhraseEn = lit(KappaPhraseEnS)
  private val KappaPhraseDe = lit(KappaPhraseDeS)
  private val KappaPhraseFr = lit(KappaPhraseFrS)
  private val KappaPhraseEs = lit(KappaPhraseEsS)
  private val KappaPhraseZh = lit(KappaPhraseZhS)

  /** Per-link (src_host, dst_host) pairs: BOTH ends derived the honest
    * way — through href extraction (dst) / the document's own URL
    * (src), canonicalization, host parsing — never shortcut from
    * doc_id arithmetic. */
  private def hostEdges(s: org.apache.spark.sql.SparkSession,
                        d: String): org.apache.spark.sql.DataFrame = {
    import graft.ops.UrlOps
    val srcHost = regexp_extract(
      UrlOps.hostOf(UrlOps.canonicalizeUrl(messyUrl)), HostIdRe, 1)
      .cast(LongType)
    val dstHost = regexp_extract(
      UrlOps.hostOf(UrlOps.canonicalizeUrl(col("href"))), HostIdRe, 1)
      .cast(LongType)
    documents(s, d)
      .select(srcHost.as("src_host"),
        explode(UrlOps.hrefs(linkHtml)).as("href"))
      .select(col("src_host"), dstHost.as("dst_host"))
  }

  /** The oracle CTE chain twinning [[hostEdges]]: ends with
    * `web_edge(src_host, dst_host)`, one row per extracted link. */
  private def hostEdgesSqlCtes: String = {
    import graft.ops.UrlOps
    UrlOps.canonicalizeUrlCtes(
      s"(SELECT doc_id, $messyUrlSql AS url FROM documents)",
      "doc_id", "url", "ws_") + ",\n" +
      s"""web_src AS (SELECT doc_id, CAST(regexp_extract(
         |    ${UrlOps.hostOfSql("u")}, '$HostIdRe', 1) AS BIGINT)
         |    AS src_host FROM ws_canon),
         |web_lk AS (SELECT doc_id,
         |  unnest(${UrlOps.hrefsSql(linkHtmlSql)}) AS href
         |  FROM documents),\n""".stripMargin +
      UrlOps.canonicalizeUrlCtes("web_lk", "doc_id, href", "href",
        "wl_") + ",\n" +
      s"""web_dst AS (SELECT doc_id, CAST(regexp_extract(
         |    ${UrlOps.hostOfSql("u")}, '$HostIdRe', 1) AS BIGINT)
         |    AS dst_host FROM wl_canon),
         |web_edge AS (SELECT s.src_host, t.dst_host
         |  FROM web_dst t JOIN web_src s USING (doc_id))""".stripMargin
  }

  /** Content-keyed trained-BPE vocabulary store (word, n, sym): the
    * artifact a tokenizer-training pipeline persists once per corpus
    * refresh; the apply gate reads it instead of retraining. */
  private def bpeVocabTable(s: org.apache.spark.sql.SparkSession,
                            d: String): String = {
    val tbl = "bpe_vocab_" +
      Sinks.contentKey(d, "documents.parquet", s"bpe|r$BpeRounds|v1")
    graft.ops.StoreGuard.table(s, tbl) {
      val res = TextOps.bpeTrain(documents(s, d), "text", BpeRounds)
      res.vocab.select("word", "n", "sym")
        .write.format("parquet").mode("overwrite").saveAsTable(tbl)
      res.release()
    }
    tbl
  }

  val WarcHtmlStore = Prepare("warc_html_store", warcHtmlDir(_, _))
  val BpeVocabStore = Prepare("bpe_vocab_store", bpeVocabTable(_, _))

  def all: Seq[Q] = Seq(

    // ---- HTML stripping (web-corpus extraction) -----------------------
    // Each document wrapped in synthetic markup (tags with both quote
    // styles, a comment, entities incl. a double-encoded &amp;amp; and
    // post-decode angle brackets), then stripped back to text: tag
    // removal, entity decode AFTER (so decoded <raw> is not
    // re-stripped), whitespace squeeze. The oracle replays the same
    // wrap + the same regexp chain, so every ordering decision is
    // pinned cross-engine.
    Q("q_text_strip_html",
      (s, d) => {
        val html = concat(lit(HtmlPrefix), col("text"), lit(HtmlSuffix))
        documents(s, d)
          .select(col("doc_id"), TextOps.stripHtml(html).as("text_clean"))
          .orderBy("doc_id")
      },
      Some(s"""
        |SELECT doc_id,
        |  ${TextOps.stripHtmlSql(
             s"${sqlLit(HtmlPrefix)} || text || ${sqlLit(HtmlSuffix)}")}
        |    AS text_clean
        |FROM documents ORDER BY doc_id
        |""".stripMargin.trim)),

    // ---- end-to-end web curation: WARC -> text -> filter -> dedup -----
    // The canonical ingestion chain, one pipeline: read the crawled
    // archive through the DataSourceV2, strip the markup, drop docs
    // under 10 tokens, collapse exact duplicates (recrawls planted for
    // docs < 25) keeping the first-seen id with its copy count. One
    // shuffle (the dedup group-by); everything upstream is scan-speed
    // projection. The oracle replays the whole chain from the source
    // table — wrap, strip, tokenize, dedup — so every stage is pinned
    // through the composition.
    Q("q_warc_curation_pipeline",
      (s, d) => {
        val dir = warcHtmlDir(s, d)
        val raw = s.read.format("graft.sources.WarcSource").load(dir)
          .select(
            expr("CAST(substring(rid, 11) AS BIGINT)").as("doc_id"),
            TextOps.stripHtml(col("content")).as("clean"))
        raw
          .withColumn("n_tokens", TextOps.tokenCount(col("clean")))
          .filter(col("n_tokens") >= 10)
          .groupBy(col("clean"))
          .agg(min(col("doc_id")).as("doc_id"),
            min(col("n_tokens")).as("n_tokens"),
            count(lit(1)).as("copies"))
          .select("doc_id", "n_tokens", "copies")
          .orderBy("doc_id")
      },
      Some(s"""
        |WITH crawled AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 7000000, text FROM documents
        |  WHERE doc_id < 25),
        |c AS (SELECT doc_id,
        |  ${TextOps.stripHtmlSql(
             s"${sqlLit(HtmlPrefix)} || text || ${sqlLit(HtmlSuffix)}")}
        |    AS clean FROM crawled),
        |t AS (SELECT doc_id, clean,
        |    len(string_split_regex(trim(clean), '[ \\t\\n\\r\\f]+'))
        |      AS n_tokens
        |  FROM c),
        |f AS (SELECT * FROM t WHERE n_tokens >= 10)
        |SELECT min(doc_id) AS doc_id, min(n_tokens) AS n_tokens,
        |  count(*) AS copies
        |FROM f GROUP BY clean ORDER BY doc_id
        |""".stripMargin.trim),
      stores = Seq(WarcHtmlStore)),

    // ---- greedy subword tokenization (WordPiece/BPE-apply shape) ------
    // Tokenizer-grade token counting: at each position take the longest
    // vocabulary entry (native codegen kernel, vocabulary shipped as a
    // plan-time reference object — the broadcast-merges shape); no
    // match emits one UNK char. Counted over the first 400 chars (the
    // per-doc sampling a tokenizer-cost estimator uses). The oracle
    // replays the greedy walk with a recursive CTE over the SAME
    // vocabulary literal, so every match-length decision is pinned.
    Q("q_text_subword_tokens",
      (s, d) => {
        val stats = graft.functions.GraftFunctions.subwordStats(
          substring(col("text"), 1, 400), SubwordVocab)
        documents(s, d)
          .select(col("doc_id"), stats.as("sw"))
          .select(col("doc_id"),
            col("sw").getItem(0).as("n_subwords"),
            col("sw").getItem(1).as("n_unk"))
          .orderBy("doc_id")
      },
      Some(s"""
        |WITH RECURSIVE v(t) AS (VALUES
        |  ${SubwordVocab.map(w => s"('${w.replace("'", "''")}')")
             .mkString(", ")}),
        |docs AS (SELECT doc_id, substr(text, 1, 400) AS text
        |  FROM documents),
        |tok(doc_id, pos, n_tok, n_unk) AS (
        |  SELECT doc_id, 1, 0, 0 FROM docs
        |  UNION ALL
        |  SELECT t.doc_id, t.pos + coalesce(m.l, 1), t.n_tok + 1,
        |    t.n_unk + CASE WHEN m.l IS NULL THEN 1 ELSE 0 END
        |  FROM tok t JOIN docs d ON d.doc_id = t.doc_id
        |  CROSS JOIN LATERAL (SELECT max(length(v.t)) AS l FROM v
        |    WHERE substr(d.text, t.pos, length(v.t)) = v.t) m
        |  WHERE t.pos <= length(d.text))
        |SELECT t.doc_id, t.n_tok AS n_subwords, t.n_unk
        |FROM tok t JOIN docs d ON d.doc_id = t.doc_id
        |WHERE t.pos = length(d.text) + 1
        |ORDER BY t.doc_id
        |""".stripMargin.trim)),

    // ---- token / char statistics --------------------------------------
    Q("q_text_token_stats",
      (s, d) => documents(s, d)
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens"),
          length(col("text")).as("n_chars_obs"),
          TextOps.bpeishTokenCount(col("text")).as("n_bpeish"),
          TextOps.avgTokenLenMilli(col("text")).as("avg_tok_len_milli"))
        .orderBy("doc_id"),
      Some("""
        |SELECT doc_id,
        |  len(string_split_regex(trim(text), '[ \t\n\r\f]+')) AS n_tokens,
        |  length(text) AS n_chars_obs,
        |  len(regexp_extract_all(text, '\w+|[^\w \t\n\r\f]')) AS n_bpeish,
        |  CAST(floor(1000.0 * length(regexp_replace(text, '[ \t\n\r\f]+', '', 'g'))
        |    / len(string_split_regex(trim(text), '[ \t\n\r\f]+')) + 0.5) AS BIGINT)
        |    AS avg_tok_len_milli
        |FROM documents ORDER BY doc_id
        |""".stripMargin.trim)),

    // ---- quality scoring ----------------------------------------------
    Q("q_text_quality",
      (s, d) => documents(s, d)
        .select(col("doc_id"),
          TextOps.stopwordCount(col("text")).as("n_stop"),
          TextOps.punctCount(col("text")).as("n_punct"),
          TextOps.digitCount(col("text")).as("n_digit"),
          TextOps.tokenCount(col("text")).as("n_tokens"))
        .withColumn("stop_ratio_milli",
          floor(lit(1000.0) * col("n_stop") / col("n_tokens") + 0.5)
            .cast(LongType))
        .withColumn("quality_ok",
          (col("n_tokens") >= 10 && col("stop_ratio_milli") >= 10 &&
            col("n_punct") * 3 <= col("n_tokens")).cast(IntegerType))
        .orderBy("doc_id"),
      Some(s"""
        |WITH t AS (SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '[ \\t\\n\\r\\f]+'),
        |      w -> w IN (${TextOps.stopwordsSql}))) AS n_stop,
        |    length(regexp_replace(text, '[^.,;:!?''"]', '', 'g')) AS n_punct,
        |    length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
        |    len(string_split_regex(trim(text), '[ \\t\\n\\r\\f]+')) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, n_stop, n_punct, n_digit, n_tokens,
        |  CAST(floor(1000.0 * n_stop / n_tokens + 0.5) AS BIGINT)
        |    AS stop_ratio_milli,
        |  CAST(n_tokens >= 10
        |    AND floor(1000.0 * n_stop / n_tokens + 0.5) >= 10
        |    AND n_punct * 3 <= n_tokens AS INTEGER) AS quality_ok
        |FROM t ORDER BY doc_id
        |""".stripMargin.trim)),

    // ---- language identification (stopword votes + CJK detection) -----
    Q("q_text_langid",
      (s, d) => documents(s, d)
        .select(col("doc_id"), col("lang"),
          TextOps.detectLanguage(col("text")).as("lang_pred"))
        .withColumn("correct",
          (col("lang") === col("lang_pred")).cast(IntegerType))
        .orderBy("doc_id"),
      Some(TextOps.langIdOracleSql)),

    // ---- per-sentence language mixture (code-switch detection) --------
    // Sentence-level language votes rolled up per doc: the
    // monolingual-corpus filter thresholds on majority_milli (planted:
    // every 6th doc gains a German and a French sentence, so mixtures
    // exist and the majority share drops measurably).
    Q("q_text_lang_mixture",
      (s, d) => {
        val planted = " der hund ist ein tier und gut." +
          " le chat est dans la maison et dort."
        val corpus = documents(s, d).select(col("doc_id"),
          when(col("doc_id") % 6 === 0, concat(col("text"), lit(planted)))
            .otherwise(col("text")).as("text"))
        TextOps.langMixture(corpus, "doc_id", "text").orderBy("doc_id")
      },
      Some(TextOps.langMixtureOracleSql(
        "(SELECT doc_id, CASE WHEN doc_id % 6 = 0 THEN text ||" +
          " ' der hund ist ein tier und gut." +
          " le chat est dans la maison et dort.'" +
          " ELSE text END AS text FROM documents)"))),

    // ---- annotator agreement: Cohen's kappa of the language ID -------
    // Chance-corrected agreement between the predictor and the gold
    // label — the eval metric accuracy alone overstates when the label
    // distribution is skewed. EXACT integer milli: kappa = (po−pe)/
    // (1−pe) computed as (n·agree − S) / (n² − S) with S = Σ_c
    // row_c·col_c, floor via the pmod identity (kappa can be
    // negative; truncating div would round toward zero). Marginals are
    // label-domain-bounded aggregates; the final combine is two 1-row
    // frames.
    // Planted signal: every EVEN doc gains a phrase in its labeled
    // language (the fixture text itself carries none — unplanted, the
    // vote predictor answers 'en' constantly, and kappa's verdict on
    // that degenerate predictor is exactly 0 while accuracy reads a
    // flattering 43%: the reason this metric exists). Odd docs stay
    // unplanted, so misclassifications and the chance correction both
    // stay exercised.
    Q("q_eval_kappa",
      (s, d) => {
        val planted = when(col("doc_id") % 2 === 0,
          concat(col("text"), lit(" "),
            when(col("lang") === "en", KappaPhraseEn)
              .when(col("lang") === "de", KappaPhraseDe)
              .when(col("lang") === "fr", KappaPhraseFr)
              .when(col("lang") === "es", KappaPhraseEs)
              .otherwise(KappaPhraseZh)))
          .otherwise(col("text"))
        // ONE corpus pass: the |labels|² confusion grid (≤ 25 rows),
        // materialized once — n, agree, both marginals, and S all
        // derive from it in bounded combines (the q_classify_confusion
        // shape; without the checkpoint each consumer would re-run the
        // detectLanguage scan)
        val grid = documents(s, d).select(col("lang"),
            TextOps.detectLanguage(planted).as("pred"))
          .groupBy("lang", "pred").agg(count(lit(1)).as("m"))
          .localCheckpoint()
        val tot = grid.agg(sum("m").as("n"),
          sum(when(col("lang") === col("pred"), col("m"))
            .otherwise(0L)).as("agree"))
        val rows = grid.groupBy(col("lang").as("lab"))
          .agg(sum("m").as("r"))
        val cols = grid.groupBy(col("pred").as("lab"))
          .agg(sum("m").as("c"))
        val sSum = rows.join(cols, Seq("lab"), "full")
          .agg(sum(coalesce(col("r"), lit(0L)) *
            coalesce(col("c"), lit(0L))).as("s"))
        tot.crossJoin(sSum).select(col("n"), col("agree"),
          expr("(1000 * (n * agree - s)" +
            " - pmod(1000 * (n * agree - s), n * n - s))" +
            " div (n * n - s)").as("kappa_milli"))
      },
      Some(s"""
        |WITH ek_d AS (SELECT lang, CASE WHEN doc_id % 2 = 0
        |    THEN text || ' ' || (CASE lang
        |      WHEN 'en' THEN '${KappaPhraseEnS}'
        |      WHEN 'de' THEN '${KappaPhraseDeS}'
        |      WHEN 'fr' THEN '${KappaPhraseFrS}'
        |      WHEN 'es' THEN '${KappaPhraseEsS}'
        |      ELSE '${KappaPhraseZhS}' END)
        |    ELSE text END AS text FROM documents),
        |ek_v AS (SELECT lang,
        |    ${TextOps.langVoteScoresSql("text")}
        |  FROM ek_d),
        |ek_p AS (SELECT lang,
        |    ${TextOps.langVoteCaseSql} AS pred
        |  FROM ek_v),
        |ek_t AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN lang = pred THEN 1 ELSE 0 END)
        |      AS BIGINT) AS agree FROM ek_p),
        |ek_r AS (SELECT lang AS lab, count(*) AS r FROM ek_p
        |  GROUP BY 1),
        |ek_c AS (SELECT pred AS lab, count(*) AS c FROM ek_p
        |  GROUP BY 1),
        |ek_m AS (SELECT CAST(sum(coalesce(r, 0) * coalesce(c, 0))
        |    AS BIGINT) AS s
        |  FROM ek_r FULL JOIN ek_c USING (lab))
        |SELECT n, agree,
        |  CAST((1000 * (n * agree - s)
        |    - (((1000 * (n * agree - s)) % (n * n - s) + (n * n - s))
        |       % (n * n - s))) // (n * n - s) AS BIGINT) AS kappa_milli
        |FROM ek_t, ek_m
        |""".stripMargin.trim)),

    // ---- document fingerprinting (md5 exact + normalized) -------------
    // ---- cross-lingual / cross-script dedup ---------------------------
    // The dup class exact and shingle dedup are BLIND to: the same
    // content re-encoded in another script's homoglyphs (Cyrillic
    // look-alikes — the spoofing set a multilingual crawl actually
    // contains) or with diacritics/case changed. Corpus = documents ∪
    // planted Cyrillic-homoglyph twins (+1e6, the mutated-copy
    // sentinel) ∪ accented twins (+2e6); dedup keys on the
    // script-folded fingerprint (TextOps.scriptFold — ONE curated
    // confusables table shared verbatim with the oracle, not an ICU
    // call that cannot replay in DuckDB). Output pins, per surviving
    // group: the kept id, the copy count, and n_variants — the count
    // of DISTINCT raw byte forms, which proves the members were NOT
    // exact duplicates (the fold, not md5, found them). Scale shape:
    // planting is a projection; detection is ONE fingerprint groupBy
    // (the exact-dedup shuffle) — no pairwise work, no second pass.
    Q("q_crosslingual_dedup",
      (s, d) => {
        val docs = documents(s, d).select("doc_id", "text")
        val cyr = docs.filter(col("doc_id") < 40)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            translate(col("text"), "aeocpxykmt", "аеосрхукмт")
              .as("text"))
        val acc = docs.filter(col("doc_id") >= 40 && col("doc_id") < 80)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            translate(col("text"), "aeiou", "àéîöú").as("text"))
        docs.unionByName(cyr).unionByName(acc)
          .select(col("doc_id"),
            TextOps.crossScriptFingerprint(col("text")).as("fp"),
            md5(col("text")).as("fp_exact"))
          .groupBy("fp")
          .agg(min(col("doc_id")).as("keep_id"),
            count(lit(1)).as("copies"),
            countDistinct(col("fp_exact")).as("n_variants"))
          .filter(col("copies") >= 2)
          .select("keep_id", "copies", "n_variants")
          .orderBy("keep_id")
      },
      Some(s"""
        |WITH base AS (SELECT doc_id, text FROM documents),
        |cyr AS (SELECT doc_id + 1000000 AS doc_id,
        |    translate(text, 'aeocpxykmt', 'аеосрхукмт') AS text
        |  FROM base WHERE doc_id < 40),
        |acc AS (SELECT doc_id + 2000000 AS doc_id,
        |    translate(text, 'aeiou', 'àéîöú') AS text
        |  FROM base WHERE doc_id >= 40 AND doc_id < 80),
        |corp AS (SELECT * FROM base UNION ALL SELECT * FROM cyr
        |  UNION ALL SELECT * FROM acc),
        |fp AS (SELECT doc_id,
        |    md5(regexp_replace(translate(lower(text),
        |      ${sqlLit(TextOps.ScriptFoldFrom)},
        |      ${sqlLit(TextOps.ScriptFoldTo)}), '[^a-z0-9]', '', 'g'))
        |      AS fp,
        |    md5(text) AS fp_exact
        |  FROM corp)
        |SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT)
        |    AS copies,
        |  CAST(count(DISTINCT fp_exact) AS BIGINT) AS n_variants
        |FROM fp GROUP BY fp HAVING count(*) >= 2
        |ORDER BY keep_id
        |""".stripMargin.trim)),

    Q("q_text_fingerprint",
      (s, d) => {
        documents(s, d)
          .select(col("doc_id"),
            md5(col("text")).as("fp_exact"),
            TextOps.normalizedFingerprint(col("text")).as("fp_norm"),
            substring(md5(col("text")), 1, 4).as("fp_bucket"),
            // native fused kernel (functions.RollingHash over
            // char_codes) — same mod-1e9+7 fold as TextOps.rollingHash
            graft.functions.GraftFunctions.rollingHash(
              graft.functions.GraftFunctions.charCodes(col("text")))
              .as("fp_roll"))
          .orderBy("doc_id")
      },
      Some("""
        |SELECT doc_id, md5(text) AS fp_exact,
        |  md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp_norm,
        |  substr(md5(text), 1, 4) AS fp_bucket,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(text) + 1),
        |        i -> CAST(ord(substr(text, i, 1)) AS BIGINT))),
        |    (h, c) -> (h * 257 + c) % 1000000007) AS fp_roll
        |FROM documents ORDER BY doc_id
        |""".stripMargin.trim)),

    // ---- content-defined chunking (windowed Rabin hash boundaries) ----
    Q("q_text_cdc_chunks",
      (s, d) => {
        val nPart = s.sessionState.conf.numShufflePartitions
        // native kernels (functions.CharCodes/CdcBounds) — single fused
        // loops per row; barriers still materialize each array once so
        // downstream references are stored-column reads
        val coded = documents(s, d)
          .select(col("doc_id"), col("text"),
            graft.functions.GraftFunctions.charCodes(col("text"))
              .as("codes"))
          .repartition(nPart, col("doc_id"))
        val withBounds = coded
          .select(col("doc_id"), col("text"),
            graft.functions.GraftFunctions.cdcBounds(col("codes"))
              .as("bounds"))
          .repartition(nPart, col("doc_id"))
        withBounds
          .select(col("doc_id"), col("text"),
            posexplode(TextOps.cdcSpans(col("bounds"))))
          .select(col("doc_id"), col("pos").as("chunk_idx"),
            (col("col.end") - col("col.start")).as("chunk_len"),
            md5(expr("substring(text, col.start + 1, col.end - col.start)"))
              .as("fp"))
          .orderBy("doc_id", "chunk_idx")
      },
      Some(TextOps.cdcOracleSql("documents") + "\nORDER BY doc_id, chunk_idx")),

    // ---- cross-document duplicated-span excision -----------------------
    // Lee et al. 2022-style span-level dedup: every duplicated CDC
    // chunk (≥ 20 chars) is excised except its global first
    // occurrence, and the documents are REWRITTEN — the byte-exact
    // text_clean is hash-compared, not just the counts. Scale shape:
    // fingerprint-keyed min/count aggregate + ≤1-row-per-key join +
    // bounded per-doc regroup; no per-fingerprint doc lists.
    Q("q_text_span_excise",
      (s, d) => TextOps.exciseDupSpans(documents(s, d), "doc_id", "text")
        .orderBy("doc_id"),
      Some(TextOps.exciseOracleSql("documents") + "\nORDER BY doc_id")),

    // ---- distinct word-3-gram (shingle) count per doc -----------------
    Q("q_text_shingles",
      (s, d) => documents(s, d)
        .select(col("doc_id"),
          size(TextOps.wordShingles(col("text"), 3)).as("n_shingles"),
          TextOps.tokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id"),
      Some("""
        |WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(text), '[ \t\n\r\f]+') AS toks FROM documents)
        |SELECT doc_id,
        |  CASE WHEN len(toks) < 3 THEN 0 ELSE
        |    len(list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
        |  END AS n_shingles,
        |  len(toks) AS n_tokens
        |FROM t ORDER BY doc_id
        |""".stripMargin.trim)),

    // ---- per-source n-gram diversity (boilerplate score) --------------
    // distinct-3-gram fraction across each source's docs: a source
    // whose documents repeat each other (templated pages, mirrored
    // boilerplate) scores low even when q_text_repetition's WITHIN-doc
    // score is clean. Partial-aggregable two-phase distinct on
    // (source, shingle); at 100 TB swap count_distinct for
    // approx_count_distinct — the ranking, not the 4th digit, is the
    // signal.
    Q("q_source_diversity",
      (s, d) => {
        val sh = documents(s, d)
          .select(col("source"),
            explode(TextOps.wordShingles(col("text"), 3)).as("sh"))
        sh.groupBy("source")
          .agg(count(lit(1)).as("n_total"),
            count_distinct(col("sh")).as("n_distinct"))
          .withColumn("diversity_milli",
            expr("n_distinct * 1000 div n_total"))
          .orderBy("source")
      },
      Some("""
        |WITH t AS (SELECT source,
        |    string_split_regex(trim(text), '[ \t\n\r\f]+') AS toks
        |  FROM documents),
        |sh AS (SELECT source,
        |    unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
        |      AS sh
        |  FROM t WHERE len(toks) >= 3)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(count(DISTINCT sh) AS BIGINT) AS n_distinct,
        |  CAST(count(DISTINCT sh) * 1000 // count(*) AS BIGINT)
        |    AS diversity_milli
        |FROM sh GROUP BY source ORDER BY source
        |""".stripMargin.trim)),

    // ---- per-source adaptive quality cutoff ---------------------------
    // Drop each source's bottom quartile by stopword-ratio score — the
    // C4/Gopher-style ADAPTIVE threshold (a fixed global cutoff
    // over-prunes clean-but-informal sources and under-prunes
    // boilerplate farms). The quantile is EXACT but computed from the
    // (source, score) histogram: counts are partial-aggregable, the
    // quantile windows run over score BINS (≤1001/source at any corpus
    // size), and the strata-sized threshold table broadcasts back —
    // no per-source sort of the data anywhere.
    Q("q_quality_cutoff",
      (s, d) => {
        val scored = documents(s, d)
          .select(col("doc_id"), col("source"),
            TextOps.stopwordCount(col("text")).as("n_stop"),
            TextOps.tokenCount(col("text")).as("n_tokens"))
          .withColumn("score_milli",
            floor(lit(1000.0) * col("n_stop") / col("n_tokens") + 0.5)
              .cast(LongType))
          .select("doc_id", "source", "score_milli")
        Corpus.quantileCutoff(scored, "source", "score_milli",
            pctMilli = 250L)
          .orderBy("doc_id")
      },
      Some(s"""
        |WITH sc AS (SELECT doc_id, source,
        |    CAST(floor(1000.0 *
        |        len(list_filter(string_split_regex(lower(text),
        |          '[ \\t\\n\\r\\f]+'), w -> w IN (${TextOps.stopwordsSql})))
        |      / len(string_split_regex(trim(text), '[ \\t\\n\\r\\f]+'))
        |      + 0.5) AS BIGINT) AS score_milli
        |  FROM documents),
        |${Corpus.quantileCutoffSql("sc", "source", "score_milli", 250L)}
        |SELECT doc_id, source, score_milli, thr_milli
        |FROM sc JOIN qc_thr USING (source)
        |WHERE score_milli >= thr_milli
        |ORDER BY doc_id
        |""".stripMargin.trim)),

    // ---- structural PII redaction -------------------------------------
    // Deterministic PII is injected per doc (the synthetic corpus has
    // none), then scrubbed; both engines build and scrub the same
    // string, so the redaction must be byte-identical.
    Q("q_text_redact_pii",
      (s, d) => documents(s, d)
        .select(col("doc_id"),
          TextOps.redactPii(concat(col("text"),
            lit(" contact u"), col("doc_id").cast("string"),
            lit("@example.com call 555-867-5309 ssn 123-45-6789")))
            .as("redacted"))
        .orderBy("doc_id"),
      Some(s"""
        |SELECT doc_id,
        |  ${TextOps.redactPiiSql(
             "text || ' contact u' || CAST(doc_id AS VARCHAR) || " +
               "'@example.com call 555-867-5309 ssn 123-45-6789'")}
        |    AS redacted
        |FROM documents ORDER BY doc_id
        |""".stripMargin.trim)),

    // ---- per-source PII incidence rate --------------------------------
    // The audit BEFORE the redaction pass: which sources leak
    // structural PII, and how much — the per-domain scrub-priority /
    // compliance report of a training-data pipeline. Detection reuses
    // the exact RE2-compatible patterns the redaction gate already
    // pins cross-engine; PII is planted on deterministic doc_id
    // residue classes so every flag branch (email/ssn/phone, overlaps
    // included) is exercised on any fixture. Pure per-row flags into
    // one partial-aggregable source rollup — scan speed at 100 TB.
    Q("q_pii_rate",
      (s, d) => documents(s, d)
        .select(col("source"),
          concat(col("text"),
            when(col("doc_id") % 3 === 0,
              concat(lit(" reach me at user"),
                col("doc_id").cast(StringType), lit("@mail.test")))
              .otherwise(lit("")),
            when(col("doc_id") % 5 === 0, lit(" ssn 123-45-6789"))
              .otherwise(lit("")),
            when(col("doc_id") % 7 === 0, lit(" call 555.867.5309"))
              .otherwise(lit(""))).as("text"))
        .select(col("source"),
          col("text").rlike(TextOps.emailRe).cast(LongType).as("e"),
          col("text").rlike(TextOps.ssnRe).cast(LongType).as("n"),
          col("text").rlike(TextOps.phoneRe).cast(LongType).as("p"))
        .withColumn("a", greatest(col("e"), col("n"), col("p")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("e")).as("n_email"),
          sum(col("n")).as("n_ssn"), sum(col("p")).as("n_phone"),
          sum(col("a")).as("n_any"))
        .withColumn("pii_rate_milli", expr("(n_any * 1000) div n_docs"))
        .orderBy("source"),
      Some(s"""
        |WITH p AS (SELECT source, text
        |    || CASE WHEN doc_id % 3 = 0 THEN ' reach me at user'
        |         || CAST(doc_id AS VARCHAR) || '@mail.test' ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-6789'
        |         ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN ' call 555.867.5309'
        |         ELSE '' END AS text
        |  FROM documents),
        |f AS (SELECT source,
        |    CASE WHEN regexp_matches(text, '${TextOps.emailRe}')
        |      THEN 1 ELSE 0 END AS e,
        |    CASE WHEN regexp_matches(text, '${TextOps.ssnRe}')
        |      THEN 1 ELSE 0 END AS n,
        |    CASE WHEN regexp_matches(text, '${TextOps.phoneRe}')
        |      THEN 1 ELSE 0 END AS p
        |  FROM p)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(e) AS BIGINT) AS n_email,
        |  CAST(sum(n) AS BIGINT) AS n_ssn,
        |  CAST(sum(p) AS BIGINT) AS n_phone,
        |  CAST(sum(greatest(e, n, p)) AS BIGINT) AS n_any,
        |  CAST((sum(greatest(e, n, p)) * 1000) // count(*) AS BIGINT)
        |    AS pii_rate_milli
        |FROM f GROUP BY source ORDER BY source
        |""".stripMargin.trim)),

    // ---- per-source boilerplate-line excision -------------------------
    // The per-domain template residue of web extraction: headers,
    // footers, cookie banners shared across a source's documents.
    // Planted deterministically (the fixture is single-line): every
    // doc gets a per-source header and a global footer (both above the
    // 30% doc-frequency cutoff → stripped), docs on one residue class
    // get a RARE line (20% < cutoff → kept) — every branch exercised,
    // and stripped docs must round-trip their body byte-identically.
    Q("q_boilerplate_strip",
      (s, d) => TextOps.stripBoilerplate(
          documents(s, d).select(col("doc_id"), col("source"),
            concat(
              lit("HDR "), col("source"), lit("\n"),
              when(col("doc_id") % 5 === 0, lit("RARE line\n"))
                .otherwise(lit("")),
              col("text"),
              lit("\nFTR common tail")).as("text")),
          idCol = "doc_id", srcCol = "source", textCol = "text",
          minRatioMilli = 300)
        .select("doc_id", "source", "text")
        .orderBy("doc_id"),
      Some("""
        |WITH p AS (SELECT doc_id, source,
        |    'HDR ' || source || chr(10)
        |    || CASE WHEN doc_id % 5 = 0 THEN 'RARE line' || chr(10)
        |         ELSE '' END
        |    || text || chr(10) || 'FTR common tail' AS text
        |  FROM documents),
        |x AS (SELECT doc_id, source,
        |    string_split(text, chr(10)) AS ls FROM p),
        |lf AS (SELECT source, line, count(*) AS df
        |  FROM (SELECT DISTINCT doc_id, source, unnest(ls) AS line
        |        FROM x)
        |  WHERE length(line) > 0
        |  GROUP BY source, line),
        |nd AS (SELECT source, count(DISTINCT doc_id) AS n_docs
        |  FROM p GROUP BY source),
        |blt AS (SELECT lf.source, list(line) AS bl
        |  FROM lf JOIN nd ON lf.source = nd.source
        |  WHERE n_docs >= 3 AND df * 1000 >= n_docs * 300
        |  GROUP BY lf.source)
        |SELECT doc_id, x.source,
        |  array_to_string(list_filter(ls,
        |    ln -> NOT list_contains(coalesce(bl, []), ln)), chr(10))
        |    AS text
        |FROM x LEFT JOIN blt ON x.source = blt.source
        |ORDER BY doc_id
        |""".stripMargin.trim)),

    // ---- overlapping token-window chunking ----------------------------
    // 32-token windows every 24 tokens (8-token overlap) — the
    // context-window chunking of an embedding/pretraining pipeline.
    // explode is a per-row expansion; no shuffle until a consumer
    // aggregates.
    Q("q_text_chunks",
      (s, d) => {
        val withToks = documents(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        withToks
          .select(col("doc_id"), col("toks"),
            explode(TextOps.chunkStarts(col("toks"), 24)).as("start"))
          .select(col("doc_id"), col("start"),
            TextOps.chunkAt(col("toks"), col("start"), 32).as("chunk"))
          .orderBy("doc_id", "start")
      },
      Some("""
        |WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(text), '[ \t\n\r\f]+') AS toks
        |  FROM documents),
        |st AS (SELECT doc_id, toks,
        |    unnest(generate_series(1, greatest(len(toks), 1), 24))
        |      AS start
        |  FROM t)
        |SELECT doc_id, start,
        |  array_to_string(toks[start:start+31], ' ') AS chunk
        |FROM st ORDER BY doc_id, start
        |""".stripMargin.trim)),

    // ---- percentile length trim (outlier filter) ----------------------
    // The corpus-hygiene stage: drop docs outside the exact [p5, p95]
    // token-count band. Exact interpolated percentiles over longs are
    // bit-identical across engines (same recipe as q_agg_median); the
    // scalar bounds broadcast and the trim is a scan-side filter — at
    // 100 TB: one tiny global aggregate + one filtered pass.
    Q("q_text_length_trim",
      (s, d) => {
        val t = documents(s, d).select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast(LongType).as("n_tokens"))
        val bounds = t.agg(
          percentile(col("n_tokens"), lit(0.05)).as("lo"),
          percentile(col("n_tokens"), lit(0.95)).as("hi"))
        t.crossJoin(broadcast(bounds))
          .filter(col("n_tokens") >= col("lo") &&
            col("n_tokens") <= col("hi"))
          .select("doc_id", "n_tokens")
          .orderBy("doc_id")
      },
      Some("""
        |WITH t AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '[ \t\n\r\f]+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |b AS (SELECT quantile_cont(n_tokens, 0.05) AS lo,
        |    quantile_cont(n_tokens, 0.95) AS hi FROM t)
        |SELECT doc_id, n_tokens FROM t, b
        |WHERE n_tokens >= lo AND n_tokens <= hi ORDER BY doc_id
        |""".stripMargin.trim)),

    // ---- repetition scoring (Gopher-style quality signal) -------------
    // Per doc: the most frequent word BIGRAM's share of all bigrams,
    // in exact milli units. Degenerate repeated text scores near 1000;
    // normal prose near 1000/n_bigrams. NON-distinct n-grams, so this
    // deliberately does not reuse wordShingles (which dedups for LSH).
    Q("q_text_repetition",
      (s, d) => {
        val toks = TextOps.tokens(lower(col("text")))
        val bigrams = zip_with(
          slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (a, b) => concat(a, lit(" "), b))
        documents(s, d)
          .select(col("doc_id"), explode(bigrams).as("bg"))
          .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_count"))
          .select(col("doc_id"), col("n_bigrams"), col("top_count"),
            floor(lit(1000.0) * col("top_count") / col("n_bigrams") + 0.5)
              .cast(LongType).as("rep_milli"))
          .orderBy("doc_id")
      },
      Some("""
        |WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '[ \t\n\r\f]+') AS toks
        |  FROM documents),
        |bg AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i+1])) AS bg
        |  FROM t WHERE len(toks) >= 2),
        |c AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |    max(c) AS top_count
        |  FROM c GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, top_count,
        |  CAST(floor(1000.0 * top_count / n_bigrams + 0.5) AS BIGINT)
        |    AS rep_milli
        |FROM agg ORDER BY doc_id
        |""".stripMargin.trim)),

    // ---- full Gopher repetition battery (zero-shuffle form) -----------
    // Top-2/3-gram CHAR coverage + duplicate-5-gram position fraction
    // + the paper's pass flag, all per-row HOF run-length walks — in
    // contrast to q_text_repetition above, which pays two shuffles of
    // an exploded gram stream for its single metric. Every 5th doc is
    // planted DOUBLED (text || ' ' || text): a whole-document stutter
    // drives dup5 near 1000 and must trip the flag, while unplanted
    // random-vocab docs stay under every cutoff.
    Q("q_quality_repetition_signals",
      (s, d) => TextOps.repetitionSignals(
        documents(s, d).select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" "), col("text")))
            .otherwise(col("text")).as("text"))
          // per-row-heavy walk over a ONE-row-group fixture: spread
          // the scan or the whole battery runs single-task (the
          // q_scrape_extract_srx lesson; at deployment the input is
          // many splits and this exchange wouldn't exist)
          .repartition(s.sessionState.conf.numShufflePartitions,
            col("doc_id")),
        "doc_id", "text").orderBy("doc_id"),
      Some(TextOps.repetitionSignalsOracleSql(
        "(SELECT doc_id, CASE WHEN doc_id % 5 = 0" +
          " THEN text || ' ' || text ELSE text END AS text" +
          " FROM documents)"))),

    // ---- benchmark decontamination ------------------------------------
    // Planted contamination: every 50th doc is an "eval benchmark"
    // doc, and a copy of each (new id = doc_id + 2e6) is planted into
    // the corpus. A doc is contaminated when it shares ANY 8-token
    // shingle with the eval set — the planted copies must be flagged,
    // clean docs must not (8-gram collisions in unrelated text are
    // effectively impossible). The eval shingle set is dim-sized →
    // broadcast semi-join; the corpus side explodes and probes,
    // shuffle-free.
    Q("q_text_decontaminate",
      (s, d) => {
        val corpus = EvalArtifacts.plantedCorpus(s, d)
        // stored eval-shingle artifact (EvalArtifacts): the eval suite
        // is frozen once; per-batch decontamination reads it
        val evalShingles = s.table(EvalArtifacts.evalShingleTable(s, d))
        corpus
          .select(col("doc_id"),
            explode(TextOps.wordShingles(col("text"), 8)).as("s"))
          .join(broadcast(evalShingles), Seq("s"), "left_semi")
          .select("doc_id").distinct()
          .orderBy("doc_id")
      },
      Some(OracleSql.decontaminated),
      stores = Seq(EvalArtifacts.DecontaminationEval)),

    // ---- bigram LM coherence scoring ---------------------------------
    // The KenLM-style fluency filter kept exact: per-doc mean bigram
    // conditional probability in integer micro-units (floor divisions
    // only — no logs, no doubles). The model (two count tables) is fit
    // on the corpus itself and re-joined onto bigram occurrences.
    Q("q_bigram_coherence",
      (s, d) => graft.ops.Ngram.bigramCoherence(
          documents(s, d), "doc_id", "text")
        .orderBy("doc_id"),
      Some(graft.ops.Ngram.bigramCoherenceSql(
        "documents", "doc_id", "text") + "\nORDER BY doc_id")),

    // ---- reference-fit LM surprisal (CCNet-style quality filter) ------
    // Fit the bigram model on the CLEAN slice only (lang = 'en' — the
    // monolingual reference, CCNet's Wikipedia stand-in), score EVERY
    // document against it with Laplace smoothing: out-of-model text
    // (the planted non-en docs) surfaces with unseen bigrams and high
    // mean inverse probability. Pure integer floor divisions — the
    // transcendental-free surrogate for summed log-probs (rationale at
    // Ngram.refLmSurprisal).
    Q("q_lm_ref_surprisal",
      (s, d) => graft.ops.Ngram.refLmSurprisal(
          documents(s, d), col("lang") === "en", "doc_id", "text")
        .orderBy("doc_id"),
      Some(graft.ops.Ngram.refLmSurprisalSql(
        "documents", "doc_id", "text", "lang = 'en'")
        + "\nORDER BY doc_id")),

    // ---- CCNet head/middle/tail terciles over the surprisal scores ----
    // The percentile cut that decides which third of the crawl trains:
    // global rank along (surprisal_milli, doc_id) via the range-
    // repartitioned two-pass GlobalOrder scan (no single-partition
    // window), bucket = 1 + (3 * idx) div n. Oracle mirrors with
    // row_number() — DuckDB is single-node, the window is fine THERE.
    Q("q_lm_surprisal_buckets",
      (s, d) => graft.ops.Ngram.surprisalBuckets(
          graft.ops.Ngram.refLmSurprisal(
            documents(s, d), col("lang") === "en", "doc_id", "text"),
          "doc_id")
        .orderBy("doc_id"),
      Some(s"""
        |WITH scored AS (
        |${graft.ops.Ngram.refLmSurprisalSql(
            "documents", "doc_id", "text", "lang = 'en'")}),
        |n AS (SELECT count(*) AS n FROM scored),
        |r AS (SELECT scored.*, row_number() OVER (
        |    ORDER BY surprisal_milli, doc_id) - 1 AS idx
        |  FROM scored)
        |SELECT r.*, CAST(1 + (3 * idx) // n.n AS INTEGER) AS bucket
        |FROM r CROSS JOIN n ORDER BY doc_id
        |""".stripMargin.trim)),

    // ---- SFT chat-format validation -----------------------------------
    // The instruction-tuning ingest gate: conversations arrive as JSON
    // turn arrays; validate structure before they reach training.
    // Conversations are synthesized deterministically from document
    // text (80-char chunks as turn contents — real quotes/newlines/
    // unicode exercise JSON escaping) with four PLANTED violation
    // classes: doc_id%5 starts with a system turn followed by a non-
    // user turn, %7 breaks user/assistant alternation, %11 ships an
    // empty turn, %13 an unknown role. The Spark side round-trips
    // through to_json → from_json and derives every metric GENERICALLY
    // from the parsed array (size/filter/sequence HOFs — no planted
    // knowledge); the oracle re-derives the same integers from first
    // principles per chunk. Per-row projection: scan-speed at 100 TB.
    Q("q_chat_format_validate",
      (s, d) => {
        val turns = expr("""
          transform(
            filter(transform(sequence(0, 3), i -> struct(
              CASE WHEN i = 0 THEN
                     CASE WHEN doc_id % 5 = 0 THEN 'system' ELSE 'user' END
                   WHEN i = 1 THEN
                     CASE WHEN doc_id % 7 = 0 THEN 'user' ELSE 'assistant' END
                   WHEN i = 2 THEN
                     CASE WHEN doc_id % 13 = 0 THEN 'bot' ELSE 'user' END
                   ELSE 'assistant' END AS role,
              CASE WHEN i = 1 AND doc_id % 11 = 0 THEN ''
                   ELSE substring(text, 1 + 80 * i, 80) END AS content,
              substring(text, 1 + 80 * i, 80) AS orig)),
            t -> t.orig <> ''),
          t -> struct(t.role AS role, t.content AS content))""")
        val schema = "array<struct<role:string,content:string>>"
        documents(s, d)
          .select(col("doc_id"), to_json(turns).as("conv_json"))
          .select(col("doc_id"),
            from_json(col("conv_json"), schema,
              Map.empty[String, String]).as("p"))
          .select(col("doc_id"),
            expr("CAST(size(p) AS BIGINT)").as("n_turns"),
            expr("CAST(size(filter(p, t -> length(t.content) = 0)) " +
              "AS BIGINT)").as("n_empty"),
            expr("CAST(size(filter(p, t -> NOT t.role IN " +
              "('system','user','assistant'))) AS BIGINT)")
              .as("n_bad_role"),
            expr("CAST(CASE WHEN size(p) < 2 THEN 0 ELSE " +
              "size(filter(sequence(1, size(p) - 1), " +
              "i -> p[i - 1].role = p[i].role)) END AS BIGINT)")
              .as("n_alt_viol"),
            expr("size(p) >= 1 AND p[0].role IN ('system', 'user') " +
              "AND (p[0].role <> 'system' OR (size(p) >= 2 AND " +
              "p[1].role = 'user'))").as("first_ok"))
          .withColumn("valid",
            (col("first_ok") && col("n_turns") >= 2 &&
              col("n_empty") === 0 && col("n_bad_role") === 0 &&
              col("n_alt_viol") === 0).cast(IntegerType))
          .withColumn("first_ok", col("first_ok").cast(IntegerType))
          .orderBy("doc_id")
      },
      Some("""
        |WITH t AS (SELECT doc_id,
        |    least(4, (length(text) + 79) // 80) AS k,
        |    CASE WHEN doc_id % 5 = 0 THEN 'system' ELSE 'user' END AS r0,
        |    CASE WHEN doc_id % 7 = 0 THEN 'user' ELSE 'assistant' END AS r1,
        |    CASE WHEN doc_id % 13 = 0 THEN 'bot' ELSE 'user' END AS r2,
        |    'assistant' AS r3
        |  FROM documents),
        |m AS (SELECT doc_id, CAST(k AS BIGINT) AS n_turns,
        |    CAST(CASE WHEN doc_id % 11 = 0 AND k >= 2
        |      THEN 1 ELSE 0 END AS BIGINT) AS n_empty,
        |    CAST(CASE WHEN doc_id % 13 = 0 AND k >= 3
        |      THEN 1 ELSE 0 END AS BIGINT) AS n_bad_role,
        |    CAST((CASE WHEN k > 1 AND r0 = r1 THEN 1 ELSE 0 END)
        |       + (CASE WHEN k > 2 AND r1 = r2 THEN 1 ELSE 0 END)
        |       + (CASE WHEN k > 3 AND r2 = r3 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_alt_viol,
        |    CASE WHEN k >= 1 AND r0 IN ('system', 'user')
        |      AND (r0 <> 'system' OR (k >= 2 AND r1 = 'user'))
        |      THEN 1 ELSE 0 END AS first_ok
        |  FROM t)
        |SELECT doc_id, n_turns, n_empty, n_bad_role, n_alt_viol,
        |  first_ok,
        |  CAST(first_ok = 1 AND n_turns >= 2 AND n_empty = 0
        |    AND n_bad_role = 0 AND n_alt_viol = 0 AS INTEGER) AS valid
        |FROM m ORDER BY doc_id
        |""".stripMargin.trim)),

    // ---- SFT loss-mask spans ------------------------------------------
    // Clean alternating conversations synthesized from document text
    // (80-char chunks, user/assistant by chunk parity — chunks are
    // prefix-contiguous so filtered index == chunk index): for each
    // assistant turn, the whitespace-token span [a_tok, b_tok) it
    // occupies in the concatenated conversation — the ranges a trainer
    // unmasks when loss is computed only on model turns. Oracle
    // re-derives offsets with window prefix sums over unnested turns.
    Q("q_sft_loss_mask",
      (s, d) => {
        TextOps.lossMaskSpans(
            documents(s, d).select(col("doc_id"), chatTurns.as("turns")),
            "doc_id", "turns")
          .orderBy("doc_id", "turn_idx")
      },
      Some(s"""
        |WITH ${OracleSql.chatTurns},
        |o AS (SELECT doc_id, CAST(i AS BIGINT) AS turn_idx, role, cnt,
        |    CAST(COALESCE(sum(cnt) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS a_tok,
        |    CAST(sum(cnt) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS b_tok,
        |    CAST(sum(cnt) OVER (PARTITION BY doc_id) AS BIGINT)
        |      AS total_tokens
        |  FROM turns)
        |SELECT doc_id, total_tokens, turn_idx, a_tok, b_tok
        |FROM o WHERE role = 'assistant'
        |ORDER BY doc_id, turn_idx
        |""".stripMargin.trim)),

    // ---- duplicated-span fraction (Lee et al. 2022-style signal) ------
    // Per-doc fraction of distinct 8-token spans that appear in >= 2
    // docs — the "how much of this document is boilerplate" filter
    // signal of training-data dedup. Planted: every 10th doc carries
    // the same footer, so its footer spans read duplicated. Scale
    // shape: shingle explode is per-row; the >= 2-doc span set is one
    // (span) two-phase distinct aggregate; the per-doc dup count is a
    // semi-join on the span key (both sides shuffle on span — at
    // 100 TB hash the spans to longs first and accept the negligible
    // collision rate; the gate keeps raw strings for oracle parity).
    // Exact integer milli fraction — floor division, no doubles.
    Q("q_text_dupspan_fraction",
      (s, d) => {
        val footer = " all rights reserved subscribe to the newsletter" +
          " for weekly updates today"
        val corpus = documents(s, d).select(col("doc_id"),
          when(col("doc_id") % 10 === 0, concat(col("text"), lit(footer)))
            .otherwise(col("text")).as("text"))
        TextOps.dupSpanFraction(corpus, "doc_id", "text", n = 8)
          .orderBy("doc_id")
      },
      Some("""
        |WITH corpus AS (SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN text ||
        |      ' all rights reserved subscribe to the newsletter' ||
        |      ' for weekly updates today'
        |    ELSE text END AS text
        |  FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(toks) - 6),
        |      i -> array_to_string(toks[i:i+7], ' ')))) AS s
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(text), '[ \t\n\r\f]+') AS toks
        |        FROM corpus) WHERE len(toks) >= 8),
        |dupspans AS (SELECT s FROM (
        |    SELECT s, count(DISTINCT doc_id) AS nd FROM sh GROUP BY s)
        |  WHERE nd >= 2),
        |tot AS (SELECT doc_id, count(*) AS n_spans FROM sh GROUP BY 1),
        |dup AS (SELECT doc_id, count(*) AS n_dup FROM sh
        |  WHERE s IN (SELECT s FROM dupspans) GROUP BY 1)
        |SELECT t.doc_id, t.n_spans,
        |  CAST(coalesce(d.n_dup, 0) AS BIGINT) AS n_dup,
        |  (1000 * coalesce(d.n_dup, 0)) // t.n_spans AS dup_milli
        |FROM tot t LEFT JOIN dup d ON t.doc_id = d.doc_id
        |ORDER BY t.doc_id
        |""".stripMargin.trim)),

    // ---- BPE merge training ------------------------------------------
    // Learn the subword merge table FROM the corpus — the training half
    // of the tokenizer story (q_text_subword_tokens is the apply
    // kernel over a fixed vocab). Scale shape: ONE corpus-sized shuffle
    // (the word count); every round after runs on the Zipf-collapsed
    // distinct-word table — vocabulary-sized at any corpus size — as a
    // partial-agg pair count feeding a 1-row argmax, with the merge
    // applied as a codegen'd replace. The oracle replays all rounds
    // unrolled (pair counts, tie-break, greedy leftmost merge) from
    // one shared CTE builder.
    Q("q_text_bpe_train",
      (s, d) => {
        val res = TextOps.bpeTrain(documents(s, d), "text", BpeRounds)
        res.release()
        s.createDataFrame(res.merges).orderBy("rank")
      },
      Some("WITH " +
        TextOps.bpeOracleCtes("SELECT text FROM documents", BpeRounds) +
        "\n" + TextOps.bpeMergesSelectSql(BpeRounds))),

    // ---- BPE apply from the stored vocabulary ------------------------
    // Per-document subword counts under the TRAINED merges, read from
    // the persisted vocabulary store (built once per corpus content,
    // untimed — the tokenize-the-corpus daily path). Words explode at
    // scan speed; the vocab join is broadcast-able (vocabulary ≪
    // corpus); one group-by shuffle on doc_id. The oracle re-derives
    // the vocabulary through the same training CTEs, so store
    // freshness AND the training chain are both pinned.
    Q("q_text_bpe_apply",
      (s, d) => {
        val vocab = s.table(bpeVocabTable(s, d)).select(col("word"),
          size(split(trim(col("sym")), " ")).cast(LongType).as("n_sub"))
        documents(s, d).select(col("doc_id"),
            explode(regexp_extract_all(lower(col("text")),
              lit("[a-z]+"), lit(0))).as("word"))
          .join(vocab, "word")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"), sum("n_sub").as("n_subwords"))
          .orderBy("doc_id")
      },
      Some("WITH " +
        TextOps.bpeOracleCtes("SELECT text FROM documents", BpeRounds) +
        s"""
        |, bpe_docw AS (SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |  FROM documents)
        |SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(len(str_split(trim(v.sym), ' '))) AS BIGINT)
        |    AS n_subwords
        |FROM bpe_docw w JOIN bpe_s$BpeRounds v USING (word)
        |GROUP BY w.doc_id ORDER BY w.doc_id
        |""".stripMargin.trim),
      stores = Seq(BpeVocabStore)),

    // ---- n-gram overlap eval metric (BLEU-style clipped precision) ----
    // The eval-harness scorer: modified unigram/bigram precision of a
    // candidate against a reference (per-gram counts clipped by the
    // reference count — BLEU's anti-gaming rule), exact integer milli.
    // Candidate = first 40 tokens; reference = the same with every 7th
    // token dropped (planted divergence, so clipping is actually
    // exercised). Scale shape: gram explode at scan speed, counts are
    // partial-aggregable, the clip join keys on (doc, gram) — per-doc
    // work at any corpus size.
    Q("q_eval_ngram_overlap",
      (s, d) => {
        val toks = slice(TextOps.tokens(lower(col("text"))), 1, 40)
        val rtoks = filter(toks, (_, i) => pmod(i, lit(7)) =!= 2)
        def bigrams(t: org.apache.spark.sql.Column) =
          zip_with(slice(t, lit(1), size(t) - 1),
            slice(t, lit(2), size(t) - 1),
            (a, b) => concat(a, lit(" "), b))
        // both orders fused into ONE tagged gram stream per side —
        // halves the explode/count shuffles and the clip joins.
        // Measured A/B vs the two-pipeline form: a WASH standalone at
        // sf0.1 (5.9 vs 6.0 s medians — cold-session warm-up dominates
        // both); kept for the structurally halved shuffle count, which
        // is what matters once data outgrows the fixed overhead.
        def tagged(t: org.apache.spark.sql.Column) = concat(
          transform(t, g => concat(lit("1:"), g)),
          transform(bigrams(t), g => concat(lit("2:"), g)))
        def counts(side: org.apache.spark.sql.Column, out: String) =
          documents(s, d)
            .select(col("doc_id"), explode(side).as("g"))
            .groupBy("doc_id", "g").agg(count(lit(1)).as(out))
        def p(n: Int, out: String) = expr(
          s"1000 * sum(CASE WHEN g LIKE '$n:%'" +
            " THEN least(cc, coalesce(rc, 0)) END)" +
            s" div sum(CASE WHEN g LIKE '$n:%' THEN cc END)").as(out)
        counts(tagged(toks), "cc")
          .join(counts(tagged(rtoks), "rc"), Seq("doc_id", "g"), "left")
          .groupBy("doc_id")
          .agg(p(1, "p1_milli"), p(2, "p2_milli"))
          .select(col("doc_id"), col("p1_milli"),
            coalesce(col("p2_milli"), lit(0L)).as("p2_milli"))
          .orderBy("doc_id")
      },
      Some("""
        |WITH ov_t AS (SELECT doc_id,
        |    (string_split_regex(trim(lower(text)),
        |      '[ \t\n\r\f]+'))[1:40] AS toks FROM documents),
        |ov_b AS (SELECT doc_id, toks,
        |    list_filter(toks, (x, i) -> i % 7 <> 3) AS rtoks FROM ov_t),
        |ov_c1 AS (SELECT doc_id, g, count(*) AS cc FROM (
        |    SELECT doc_id, unnest(toks) AS g FROM ov_b) GROUP BY 1, 2),
        |ov_r1 AS (SELECT doc_id, g, count(*) AS rc FROM (
        |    SELECT doc_id, unnest(rtoks) AS g FROM ov_b) GROUP BY 1, 2),
        |ov_p1 AS (SELECT c.doc_id,
        |    CAST(1000 * sum(least(cc, coalesce(rc, 0))) // sum(cc)
        |      AS BIGINT) AS p1_milli
        |  FROM ov_c1 c LEFT JOIN ov_r1 r
        |    ON r.doc_id = c.doc_id AND r.g = c.g GROUP BY 1),
        |ov_c2 AS (SELECT doc_id, g, count(*) AS cc FROM (
        |    SELECT b.doc_id, b.toks[i] || ' ' || b.toks[i + 1] AS g
        |    FROM ov_b b CROSS JOIN LATERAL
        |      unnest(generate_series(1, len(b.toks) - 1)) u(i))
        |  GROUP BY 1, 2),
        |ov_r2 AS (SELECT doc_id, g, count(*) AS rc FROM (
        |    SELECT b.doc_id, b.rtoks[i] || ' ' || b.rtoks[i + 1] AS g
        |    FROM ov_b b CROSS JOIN LATERAL
        |      unnest(generate_series(1, len(b.rtoks) - 1)) u(i))
        |  GROUP BY 1, 2),
        |ov_p2 AS (SELECT c.doc_id,
        |    CAST(1000 * sum(least(cc, coalesce(rc, 0))) // sum(cc)
        |      AS BIGINT) AS p2_milli
        |  FROM ov_c2 c LEFT JOIN ov_r2 r
        |    ON r.doc_id = c.doc_id AND r.g = c.g GROUP BY 1)
        |SELECT p1.doc_id, p1.p1_milli,
        |  CAST(coalesce(p2.p2_milli, 0) AS BIGINT) AS p2_milli
        |FROM ov_p1 p1 LEFT JOIN ov_p2 p2 ON p2.doc_id = p1.doc_id
        |ORDER BY p1.doc_id
        |""".stripMargin.trim)),

    // ---- tokenizer evaluation: compression per language --------------
    // The number a trained tokenizer is judged by: milli-chars per
    // subword, per language (higher = better compression; a language
    // the merges never saw compresses near 1000 = one char per
    // symbol-ish). Closes the tokenizer loop: train (q_text_bpe_train)
    // -> apply (q_text_bpe_apply) -> evaluate. Reads the stored
    // vocabulary; one broadcastable join + one bounded rollup.
    Q("q_text_bpe_compression",
      (s, d) => {
        val vocab = s.table(bpeVocabTable(s, d)).select(col("word"),
          length(col("word")).cast(LongType).as("n_chars"),
          size(split(trim(col("sym")), " ")).cast(LongType).as("n_sub"))
        documents(s, d).select(col("doc_id"), col("lang"),
            explode(regexp_extract_all(lower(col("text")),
              lit("[a-z]+"), lit(0))).as("word"))
          .join(vocab, "word")
          .groupBy("lang")
          .agg(sum("n_chars").as("sum_chars"),
            sum("n_sub").as("sum_subwords"),
            expr("1000 * sum(n_chars) div sum(n_sub)")
              .as("chars_per_sub_milli"))
          .orderBy("lang")
      },
      Some("WITH " +
        TextOps.bpeOracleCtes("SELECT text FROM documents", BpeRounds) +
        s"""
        |, bpc_w AS (SELECT doc_id, lang,
        |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |  FROM documents)
        |SELECT w.lang,
        |  CAST(sum(length(w.word)) AS BIGINT) AS sum_chars,
        |  CAST(sum(len(str_split(trim(v.sym), ' '))) AS BIGINT)
        |    AS sum_subwords,
        |  CAST(1000 * sum(length(w.word))
        |    // sum(len(str_split(trim(v.sym), ' '))) AS BIGINT)
        |    AS chars_per_sub_milli
        |FROM bpc_w w JOIN bpe_s$BpeRounds v USING (word)
        |GROUP BY w.lang ORDER BY w.lang
        |""".stripMargin.trim),
      stores = Seq(BpeVocabStore)),

    // ---- tokenize with the TRAINED vocabulary through the native
    // kernel — the capstone of the tokenizer loop: the stored BPE
    // vocabulary's symbol set (bounded: ≤ 26 letters + rounds merged
    // symbols + space) folds into the codegen'd greedy longest-match
    // Expression (SubwordMatcher), and the oracle re-DERIVES that
    // symbol set through the training CTEs before replaying the greedy
    // walk recursively — training, store freshness, and the native
    // kernel's match rule all pinned through one another.
    Q("q_text_bpe_tokenize",
      (s, d) => {
        val syms = s.table(bpeVocabTable(s, d))
          .select(explode(split(trim(col("sym")), " ")).as("t"))
          .distinct().collect().map(_.getString(0)).toSeq.sorted
        val stats = graft.functions.GraftFunctions.subwordStats(
          lower(substring(col("text"), 1, 200)), syms :+ " ")
        documents(s, d)
          .select(col("doc_id"), stats.as("sw"))
          .select(col("doc_id"),
            col("sw").getItem(0).as("n_subwords"),
            col("sw").getItem(1).as("n_unk"))
          .orderBy("doc_id")
      },
      Some("WITH RECURSIVE " +
        TextOps.bpeOracleCtes("SELECT text FROM documents", BpeRounds) +
        s"""
        |, swv(t) AS (SELECT DISTINCT unnest(str_split(trim(sym), ' '))
        |    FROM bpe_s$BpeRounds
        |  UNION SELECT ' '),
        |swdocs AS (SELECT doc_id, lower(substr(text, 1, 200)) AS text
        |  FROM documents),
        |swtok(doc_id, pos, n_tok, n_unk) AS (
        |  SELECT doc_id, 1, 0, 0 FROM swdocs
        |  UNION ALL
        |  SELECT t.doc_id, t.pos + coalesce(m.l, 1), t.n_tok + 1,
        |    t.n_unk + CASE WHEN m.l IS NULL THEN 1 ELSE 0 END
        |  FROM swtok t JOIN swdocs d ON d.doc_id = t.doc_id
        |  CROSS JOIN LATERAL (SELECT max(length(v.t)) AS l FROM swv v
        |    WHERE substr(d.text, t.pos, length(v.t)) = v.t) m
        |  WHERE t.pos <= length(d.text))
        |SELECT t.doc_id, t.n_tok AS n_subwords, t.n_unk
        |FROM swtok t JOIN swdocs d ON d.doc_id = t.doc_id
        |WHERE t.pos = length(d.text) + 1
        |ORDER BY t.doc_id
        |""".stripMargin.trim),
      stores = Seq(BpeVocabStore)),

    // ---- URL canonicalization ----------------------------------------
    // The crawl-frontier normalizer: case-fold scheme/authority, drop
    // fragments + default ports + utm_* tracking params, collapse
    // duplicate slashes, strip trailing separators. Pure per-row
    // regexp chain at scan speed; the oracle replays the identical
    // staged chain (shared pattern constants — see UrlOps).
    Q("q_url_canonicalize",
      (s, d) => {
        import graft.ops.UrlOps
        val canon = UrlOps.canonicalizeUrl(messyUrl)
        documents(s, d).select(col("doc_id"), canon.as("url_canon"),
          UrlOps.hostOf(canon).as("host")).orderBy("doc_id")
      },
      Some {
        import graft.ops.UrlOps
        "WITH " + UrlOps.canonicalizeUrlCtes(
          s"(SELECT doc_id, $messyUrlSql AS url FROM documents)",
          "doc_id", "url", "qc_") +
          s"""
          |SELECT doc_id, u AS url_canon,
          |  ${UrlOps.hostOfSql("u")} AS host
          |FROM qc_canon ORDER BY doc_id
          |""".stripMargin.trim
      }),

    // ---- gzip JSONL ingest with corrupt-record accounting -------------
    // The LLM-corpus interchange format read end-to-end: one JSON doc
    // per line inside gzip members (store built untimed), parsed
    // PERMISSIVE with a corrupt-record column so torn lines (planted:
    // docs 7 and 13) are COUNTED, never dropped silently or fatal.
    // Schema is explicit — no sampling inference pass at 100 TB. The
    // oracle recomputes the per-language stats from the source table
    // minus the planted breaks, pinning the whole write→gzip→parse
    // round trip.
    Q("q_jsonl_gz_ingest",
      (s, d) => {
        val dir = jsonlGzDir(s, d)
        val schema = "doc_id LONG, text STRING, lang STRING, " +
          "source STRING, _corrupt STRING"
        s.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt")
          .json(dir)
          .select(when(col("_corrupt").isNotNull, lit("_corrupt"))
            .otherwise(col("lang")).as("lang"),
            coalesce(length(col("text")), lit(0)).cast("long").as("len"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("len").as("n_chars"))
          .orderBy("lang")
      },
      Some("""
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id NOT IN (7, 13) GROUP BY lang
        |UNION ALL
        |SELECT '_corrupt' AS lang, CAST(2 AS BIGINT) AS n_docs,
        |  CAST(0 AS BIGINT) AS n_chars
        |ORDER BY lang
        |""".stripMargin.trim)),

    // ---- crawl-frontier dedup by canonical URL -----------------------
    // The reason the canonicalizer exists: re-queued URLs that differ
    // only in tracking params / fragments (planted for every 4th doc)
    // ---- BOM charset sniff + decode over mixed-encoding payloads ----
    // Crawl reality: every 4th-class document arrives UTF-8+BOM /
    // UTF-16LE / UTF-16BE / bare UTF-8; bomSniffDecode must label each
    // from its leading bytes and hand back the EXACT source text
    // (UTF-16 surrogate pairs included — the fixtures carry emoji).
    // DuckDB cannot decode UTF-16, so the oracle pins by CONSTRUCTION:
    // the planted encodings are pure functions of (doc_id, text), and
    // the decoded column must hash-equal documents.text verbatim.
    // Per-row prefix sniff + codegen'd decode: no UDF, no shuffle.
    Q("q_charset_decode",
      (s, d) => {
        val payload = when(col("doc_id") % 4 === 0,
            concat(unhex(lit("EFBBBF")), encode(col("text"), "UTF-8")))
          .when(col("doc_id") % 4 === 1,
            concat(unhex(lit("FFFE")), encode(col("text"), "UTF-16LE")))
          .when(col("doc_id") % 4 === 2,
            concat(unhex(lit("FEFF")), encode(col("text"), "UTF-16BE")))
          .otherwise(encode(col("text"), "UTF-8"))
        documents(s, d)
          .select(col("doc_id"), payload.as("payload"))
          .select(col("doc_id"),
            graft.ops.TextOps.bomSniffDecode(col("payload")).as("r"))
          .select(col("doc_id"), col("r.charset").as("charset"),
            col("r.text").as("text"))
          .orderBy("doc_id")
      },
      Some("""
        |SELECT doc_id, CASE doc_id % 4
        |  WHEN 0 THEN 'UTF-8' WHEN 1 THEN 'UTF-16LE'
        |  WHEN 2 THEN 'UTF-16BE' ELSE 'UTF-8' END AS charset,
        |  text
        |FROM documents ORDER BY doc_id
        |""".stripMargin.trim)),

    // ---- robots.txt gate over the crawl frontier --------------------
    // RFC-9309 prefix-rule evaluation (ops/Robots): 7 hosts carry 3
    // robots classes planting every decision path — specific-group
    // override (the graftbot group must SHADOW the host's `Disallow: /`
    // catch-all), longest-match Allow-under-Disallow, empty-Disallow
    // no-op, comment lines, a multi-UA group, and mixed-case keys +
    // token. The oracle is an INDEPENDENT derivation: the RFC decision
    // table per class as prefix checks — so a parser bug that
    // mis-groups or mis-ranks rules hash-fails without the oracle
    // sharing any parsing code. One host equi-join + one integer max
    // per frontier row.
    Q("q_robots_gate",
      (s, d) => {
        val robots = crawlRobotsFixture(s)
        val frontier = documents(s, d).select(col("doc_id"),
          concat(lit("h"), (col("doc_id") % 7).cast("string"),
            lit(".example.com")).as("host"),
          when(col("doc_id") % 5 === 0,
            concat(lit("/private/ok/p"), col("doc_id").cast("string")))
            .when(col("doc_id") % 5 === 1,
              concat(lit("/private/p"), col("doc_id").cast("string")))
            .when(col("doc_id") % 5 === 2, lit("/tmp/a"))
            .when(col("doc_id") % 5 === 3, lit("/x/y"))
            .otherwise(lit("/")).as("path"))
        graft.ops.Robots.evaluate(frontier, robots, agent = "GraftBot")
          .orderBy("doc_id")
      },
      Some("""
        |WITH rbf AS (SELECT doc_id,
        |    'h' || (doc_id % 7) || '.example.com' AS host,
        |    CASE doc_id % 5
        |      WHEN 0 THEN '/private/ok/p' || doc_id
        |      WHEN 1 THEN '/private/p' || doc_id
        |      WHEN 2 THEN '/tmp/a' WHEN 3 THEN '/x/y' ELSE '/' END
        |      AS path
        |  FROM documents)
        |SELECT doc_id, host, path,
        |  CASE (doc_id % 7) % 3
        |    WHEN 0 THEN (substr(path, 1, 11) = '/private/ok')
        |      OR NOT (substr(path, 1, 8) = '/private')
        |    WHEN 1 THEN (substr(path, 1, 9) = '/tmp/keep')
        |      OR NOT (substr(path, 1, 4) = '/tmp')
        |    ELSE NOT (substr(path, 1, 2) = '/x')
        |  END AS allowed
        |FROM rbf ORDER BY doc_id
        |""".stripMargin.trim)),

    // ---- politeness schedule: per-host fetch slots -------------------
    // The fetch planner's output: Crawl-delay parsed from the SAME
    // applicable groups as the rules (class 0 plants 2 s on the
    // graftbot group AND 9 s on the * catch-all — specific must win
    // for delays too; class 1 a fractional 0.5 s on *; class 2 none →
    // the 1 s default), then within each host fetches slot by doc_id
    // order and depart at slot · delay_ms. One host-partitioned
    // window + a broadcast delay join; exact integer milli (the
    // fractional seconds parse as scaled decimal, never a double).
    Q("q_fetch_schedule",
      (s, d) => {
        val frontier = documents(s, d).select(col("doc_id"),
          concat(lit("h"), (col("doc_id") % 7).cast("string"),
            lit(".example.com")).as("host"))
        graft.ops.Robots.fetchSchedule(frontier,
            crawlRobotsFixture(s), agent = "GraftBot",
            orderCol = "doc_id")
          .select("doc_id", "host", "delay_ms", "slot", "start_ms")
          .orderBy("host", "slot")
      },
      Some("""
        |SELECT doc_id, host, delay_ms,
        |  CAST(row_number() OVER (PARTITION BY host ORDER BY doc_id)
        |    - 1 AS BIGINT) AS slot,
        |  CAST((row_number() OVER (PARTITION BY host ORDER BY doc_id)
        |    - 1) * delay_ms AS BIGINT) AS start_ms
        |FROM (SELECT doc_id,
        |    'h' || (doc_id % 7) || '.example.com' AS host,
        |    CAST(CASE (doc_id % 7) % 3 WHEN 0 THEN 2000
        |      WHEN 1 THEN 500 ELSE 1000 END AS BIGINT) AS delay_ms
        |  FROM documents)
        |ORDER BY host, slot
        |""".stripMargin.trim)),

    // ---- license mix per source: the datasheet's legal column -------
    // Licensing.detectLicense over pages with planted signals — the
    // rel=license link in both attribute orders/quote styles, a CC0
    // public-domain target, a non-CC license link (which must BEAT the
    // also-planted "All rights reserved" text — precedence pinned),
    // an SPDX identifier, the plain-text phrase, and unmarked pages
    // (→ 'none', never a default). Rolled up with licenseMix: per
    // (source, license) doc counts + exact integer milli share within
    // the source. Oracle recomputes from the plant rule alone.
    Q("q_license_mix",
      (s, d) => {
        val page = concat(col("text"),
          when(col("doc_id") % 6 === 0, lit(" <link rel=\"license\" " +
            "href=\"https://creativecommons.org/licenses/by-sa/4.0/\">"))
          .when(col("doc_id") % 6 === 1, lit(" <a href='https://" +
            "creativecommons.org/publicdomain/zero/1.0/' " +
            "rel='license'>CC0</a>"))
          .when(col("doc_id") % 6 === 2, lit(" <a rel=\"license\" " +
            "href=\"https://example.com/eula\">terms</a> " +
            "All rights reserved."))
          .when(col("doc_id") % 6 === 3,
            lit(" SPDX-License-Identifier: MIT"))
          .when(col("doc_id") % 6 === 4, lit(" All Rights Reserved."))
          .otherwise(lit("")))
        graft.ops.Licensing.licenseMix(
            documents(s, d).select(col("source"),
              graft.ops.Licensing.detectLicense(page).as("license")),
            "source", "license")
          .orderBy("source", "license")
      },
      Some("""
        |WITH lic AS (SELECT source, CASE doc_id % 6
        |    WHEN 0 THEN 'cc-by-sa-4.0' WHEN 1 THEN 'cc0-1.0'
        |    WHEN 2 THEN 'other-license-link' WHEN 3 THEN 'spdx:MIT'
        |    WHEN 4 THEN 'all-rights-reserved' ELSE 'none' END AS license
        |  FROM documents),
        |c AS (SELECT source, license, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM lic GROUP BY 1, 2)
        |SELECT source, license, n_docs,
        |  CAST((1000 * n_docs) // sum(n_docs)
        |    OVER (PARTITION BY source) AS BIGINT) AS share_milli
        |FROM c ORDER BY source, license
        |""".stripMargin.trim)),

    // ---- sitemap ingest → frontier seeding ---------------------------
    // The governance triplet's third leg (robots: may fetch; license:
    // may train; sitemap: wants fetched): per-host urlset XML is
    // ASSEMBLED from the fixture by composition — whitespace inside
    // <loc>, optional <lastmod>, a loc-less entry per host (skipped
    // like a validating crawler), utm-tracking variants planted in
    // every 5th loc — parsed back by Sitemaps.entries, and
    // seedFrontier anti-joins the already-crawled set on the CANONICAL
    // url (crawled urls carry fragments; sitemap locs carry tracking
    // params; neither variant may re-enqueue a crawled page). The
    // oracle recomputes the surviving entries from the plant rule.
    Q("q_sitemap_seed",
      (s, d) => {
        val base = concat(lit("https://h"),
          (col("doc_id") % 7).cast("string"),
          lit(".example.com/p"), col("doc_id").cast("string"))
        val urls = documents(s, d).select(col("doc_id"),
          concat(lit("h"), (col("doc_id") % 7).cast("string")).as("host"),
          concat(base, when(col("doc_id") % 5 === 0,
            lit("?utm_source=x")).otherwise(lit(""))).as("loc"),
          when(col("doc_id") % 2 === 0, lit("2024-01-15")).as("lastmod"))
        val entryXml = concat(lit("<url><loc> "), col("loc"),
          lit(" </loc>"),
          when(col("lastmod").isNotNull,
            concat(lit("<lastmod>"), col("lastmod"), lit("</lastmod>")))
            .otherwise(lit("")),
          lit("</url>"))
        val sitemaps = urls.select(col("host"), entryXml.as("e"))
          .groupBy("host")
          .agg(concat(
            lit("<urlset><url><priority>0.5</priority></url>"),
            concat_ws("", collect_list(col("e"))),
            lit("</urlset>")).as("xml"))
        val crawled = documents(s, d)
          .filter(col("doc_id") % 3 === 0)
          .select(concat(base, lit("#top")).as("url"))
        graft.ops.Sitemaps.seedFrontier(
            graft.ops.Sitemaps.entries(sitemaps, "xml"), crawled, "url")
          .select("canonical_url", "loc", "lastmod")
          .orderBy("canonical_url")
      },
      Some("""
        |SELECT 'https://h' || (doc_id % 7) || '.example.com/p' || doc_id
        |    AS canonical_url,
        |  'https://h' || (doc_id % 7) || '.example.com/p' || doc_id ||
        |    CASE WHEN doc_id % 5 = 0 THEN '?utm_source=x' ELSE '' END
        |    AS loc,
        |  CASE WHEN doc_id % 2 = 0 THEN '2024-01-15' END AS lastmod
        |FROM documents WHERE doc_id % 3 <> 0 ORDER BY canonical_url
        |""".stripMargin.trim)),

    // collapse to one frontier entry, keeping the first-seen id and
    // the alias count. One group-by shuffle on the canonical form.
    Q("q_url_dedup",
      (s, d) => {
        import graft.ops.UrlOps
        val base = documents(s, d).select(col("doc_id"),
          messyUrl.as("url"))
        val aliases = documents(s, d).filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 8000000L).as("doc_id"),
            concat(messyUrl, lit("&utm_zz=9")).as("url"))
        base.unionByName(aliases)
          .select(col("doc_id"),
            UrlOps.canonicalizeUrl(col("url")).as("u"))
          .groupBy("u")
          .agg(min("doc_id").as("first_doc"),
            count(lit(1)).as("n_aliases"))
          .select(col("u").as("url_canon"), col("first_doc"),
            col("n_aliases"))
          .orderBy("first_doc")
      },
      Some {
        import graft.ops.UrlOps
        s"""WITH ud_raw AS (SELECT doc_id, $messyUrlSql AS url
           |  FROM documents
           |  UNION ALL
           |  SELECT doc_id + 8000000, ($messyUrlSql) || '&utm_zz=9'
           |  FROM documents WHERE doc_id % 4 = 0),
           |""".stripMargin +
          UrlOps.canonicalizeUrlCtes("ud_raw", "doc_id", "url", "ud_") +
          """
          |SELECT u AS url_canon, min(doc_id) AS first_doc,
          |  CAST(count(*) AS BIGINT) AS n_aliases
          |FROM ud_canon GROUP BY u ORDER BY first_doc
          |""".stripMargin.trim
      }),

    // ---- host-level link graph from crawled HTML ---------------------
    // hrefs extracted from each page (img src decoy ignored),
    // canonicalized, reduced to host-level weighted edges — the
    // link-graph-construction pass of a web corpus. Scale shape: href
    // explode + canonicalize are per-row; ONE partial-agg shuffle on
    // the (src_host, dst_host) pair; at 100 TB the host domain is
    // millions of rows, never corpus-sized.
    Q("q_web_link_graph",
      (s, d) => hostEdges(s, d)
        .groupBy("src_host", "dst_host")
        .agg(count(lit(1)).as("n_links"))
        .orderBy("src_host", "dst_host"),
      Some("WITH " + hostEdgesSqlCtes +
        """
        |SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
        |FROM web_edge GROUP BY 1, 2 ORDER BY 1, 2
        |""".stripMargin.trim)),

    // ---- host authority: PageRank over the extracted link graph ------
    // The end of the chain: crawled HTML -> hrefs -> canonical URLs ->
    // host edges -> integer-milli PageRank (the crawl-prioritization /
    // quality-prior signal). The oracle replays extraction AND the 5
    // unrolled rank iterations — the whole composition is pinned.
    Q("q_web_host_rank",
      (s, d) => graft.ops.PageRank.pageRank(
        hostEdges(s, d)
          .select(col("src_host").as("src"), col("dst_host").as("dst"))
          .distinct(), iters = 5)
        .orderBy("id"),
      Some(graft.ops.PageRank.oracleSql(
        "WITH " + hostEdgesSqlCtes +
          "\nSELECT DISTINCT src_host AS src, dst_host AS dst" +
          " FROM web_edge",
        iters = 5)))
  )
}
