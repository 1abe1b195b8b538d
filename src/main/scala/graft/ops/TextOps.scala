package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for training-data pipelines: token counting,
  * quality signals, n-gram shingling, language ID, fingerprinting.
  * Pure built-in expressions — per-row, codegen'd, shuffle-free; ratios
  * are emitted as floor-rounded milli-units so results are exact
  * integers (engine-portable, hash-comparable). */
object TextOps {

  /** Whitespace tokens of trimmed text. */
  /** Whitespace tokenizer with the split class PINNED to the explicit
    * five chars `[ \t\n\r\f]` — Java's `\s` includes vertical tab
    * (\x0B) while RE2's (the oracle engine's) excludes it, so a bare
    * `\s+` split is a latent cross-engine divergence on VT-bearing
    * text (see the same pin in [[Ngram]] and [[Retrieval]]). */
  def tokens(c: Column): Column = split(trim(c), "[ \\t\\n\\r\\f]+")

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish pre-tokenizer count: word runs + single non-word-non-space
    * marks (the shape of a GPT-style regex pre-tokenizer, ASCII \w). */
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("\\w+|[^\\w \\t\\n\\r\\f]"), lit(0)))

  /** Mean token length in milli-chars (exact integer). */
  def avgTokenLenMilli(c: Column): Column =
    floor(lit(1000.0) * length(regexp_replace(c, "[ \\t\\n\\r\\f]+", ""))
      / tokenCount(c) + 0.5).cast(LongType)

  // English stopword list used by quality scoring and language ID.
  // Kept tiny + hardcoded so the DuckDB oracle can embed the same list.
  val stopwordsEn: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")
  val stopwordsDe: Seq[String] =
    Seq("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "mit")
  val stopwordsFr: Seq[String] =
    Seq("le", "la", "les", "et", "est", "un", "une", "de", "du", "dans")
  val stopwordsEs: Seq[String] =
    Seq("el", "los", "las", "y", "es", "un", "una", "de", "del", "en")

  def stopwordsSql: String = stopwordsEn.map(w => s"'$w'").mkString(", ")

  private def countIn(c: Column, words: Seq[String]): Column =
    size(filter(tokens(lower(c)), w => w.isin(words.map(x => x: Any): _*)))

  /** Stopword occurrences (English list). */
  def stopwordCount(c: Column): Column = countIn(c, stopwordsEn)

  /** Punctuation / digit character counts. */
  def punctCount(c: Column): Column =
    length(regexp_replace(c, "[^.,;:!?'\"]", ""))
  def digitCount(c: Column): Column =
    length(regexp_replace(c, "[^0-9]", ""))

  /** CJK character count (BMP unified ideographs). */
  def cjkCount(c: Column): Column =
    length(regexp_replace(c, "[^\\x{4E00}-\\x{9FFF}]", ""))

  /** N-gram stopword-vote language ID: CJK chars ⇒ zh, otherwise the
    * language whose stopword list scores highest (ties resolved in the
    * fixed order en > de > fr > es — deterministic, oracle-matchable). */
  def detectLanguage(c: Column): Column = {
    val en = countIn(c, stopwordsEn)
    val de = countIn(c, stopwordsDe)
    val fr = countIn(c, stopwordsFr)
    val es = countIn(c, stopwordsEs)
    when(cjkCount(c) >= 3, lit("zh"))
      .when(en >= de && en >= fr && en >= es, lit("en"))
      .when(de >= fr && de >= es, lit("de"))
      .when(fr >= es, lit("fr"))
      .otherwise(lit("es"))
  }

  /** Stopword-hit count of a text expression — the SQL twin of
    * [[countIn]], shared by the doc-level and sentence-level language
    * oracles. */
  private def swCntSql(e: String, words: Seq[String]): String =
    s"len(list_filter(string_split_regex(lower($e), '[ \\t\\n\\r\\f]+'), " +
      s"w -> w IN (${words.map(w => s"'$w'").mkString(", ")})))"

  /** The language-vote decision over score columns (n_cjk, s_en, s_de,
    * s_fr, s_es) — ONE definition for every oracle that replays
    * [[detectLanguage]] (doc-level, sentence-level, kappa). */
  val langVoteCaseSql: String =
    """CASE WHEN n_cjk >= 3 THEN 'zh'
      |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
      |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
      |       WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END""".stripMargin

  /** The five score columns over a text expression, for a SELECT list
    * feeding [[langVoteCaseSql]]. */
  def langVoteScoresSql(e: String): String =
    s"length(regexp_replace($e, '[^\\x{4E00}-\\x{9FFF}]', '', 'g'))" +
      s" AS n_cjk,\n    ${swCntSql(e, stopwordsEn)} AS s_en, " +
      s"${swCntSql(e, stopwordsDe)} AS s_de,\n    " +
      s"${swCntSql(e, stopwordsFr)} AS s_fr, " +
      s"${swCntSql(e, stopwordsEs)} AS s_es"

  /** DuckDB twin of [[detectLanguage]] + correctness flag, over
    * `documents`. */
  val langIdOracleSql: String =
    s"""
    |WITH v AS (SELECT doc_id, lang,
    |    ${langVoteScoresSql("text")}
    |  FROM documents)
    |SELECT doc_id, lang,
    |  $langVoteCaseSql AS lang_pred,
    |  CAST(lang = ($langVoteCaseSql) AS INTEGER)
    |    AS correct
    |FROM v ORDER BY doc_id
    |""".stripMargin.trim

  /** Per-document language-mixture report: sentences split on [.!?]+
    * runs, each voted through [[detectLanguage]], rolled up to
    * (n_sentences, n_langs, majority_milli) — the code-switching
    * signal a monolingual-corpus filter thresholds on (a doc whose
    * majority language holds <~700‰ of sentences is mixed). One
    * (doc, lang) partial-agg shuffle; the sentence explode is
    * scan-speed. */
  def langMixture(docs: DataFrame, idCol: String,
                  textCol: String): DataFrame =
    docs.select(col(idCol), explode(split(col(textCol), "[.!?]+"))
        .as("sent"))
      .withColumn("sent", trim(col("sent")))
      .filter(col("sent") =!= "")
      .select(col(idCol), detectLanguage(col("sent")).as("slang"))
      .groupBy(idCol, "slang").agg(count(lit(1)).as("n"))
      .groupBy(idCol).agg(
        sum("n").as("n_sentences"),
        count(lit(1)).as("n_langs"),
        expr("1000 * max(n) div sum(n)").as("majority_milli"))

  /** DuckDB twin of [[langMixture]] over a relation exposing
    * (id-col, text). */
  def langMixtureOracleSql(rel: String, idCol: String = "doc_id"): String =
    s"""
    |WITH mx_s AS (SELECT $idCol, trim(sent) AS sent FROM (
    |    SELECT $idCol, unnest(string_split_regex(text, '[.!?]+'))
    |      AS sent FROM $rel)
    |  WHERE trim(sent) <> ''),
    |mx_v AS (SELECT $idCol,
    |    ${langVoteScoresSql("sent")}
    |  FROM mx_s),
    |mx_l AS (SELECT $idCol,
    |    $langVoteCaseSql AS slang
    |  FROM mx_v),
    |mx_c AS (SELECT $idCol, slang, count(*) AS n
    |  FROM mx_l GROUP BY 1, 2)
    |SELECT $idCol, CAST(sum(n) AS BIGINT) AS n_sentences,
    |  CAST(count(*) AS BIGINT) AS n_langs,
    |  CAST(1000 * max(n) // sum(n) AS BIGINT) AS majority_milli
    |FROM mx_c GROUP BY $idCol ORDER BY $idCol
    |""".stripMargin.trim

  /** md5 over lowercased alphanumerics — whitespace/punct-insensitive
    * content fingerprint (rolling-hash stand-in that both engines can
    * compute identically). */
  def normalizedFingerprint(c: Column): Column =
    md5(regexp_replace(lower(c), "[^a-z0-9]", ""))

  /** Script-fold translation tables — ONE pair of constants shared by
    * the Spark fold ([[scriptFold]]) and the DuckDB oracle (via
    * string-literal interpolation), so the two cannot drift. Folds the
    * confusables a cross-lingual dup actually hides behind: Cyrillic
    * lowercase homoglyphs of Latin letters (the classic spoofing set —
    * Unicode TR39 confusables) and the common Latin-1 diacritic forms,
    * each to its ASCII skeleton. Deliberately a curated TABLE, not a
    * library call: ICU transliteration is neither deterministic across
    * engines nor available in DuckDB, and the fold must replay
    * bit-identically there. */
  val ScriptFoldFrom: String =
    "аеорсхукмтнвіѕј" +                  // Cyrillic homoglyphs
    "àáâãäåèéêëìíîïòóôõöùúûüçñýÿ"        // Latin-1 diacritics
  val ScriptFoldTo: String =
    "aeopcxykmthbisj" +
    "aaaaaaeeeeiiiiooooouuuucnyy"
  require(ScriptFoldFrom.length == ScriptFoldTo.length,
    "script-fold tables must align char-for-char")

  /** Case + script + diacritic fold to an ASCII skeleton — the
    * normalization under which a Cyrillic-homoglyph or accented twin
    * of a Latin document becomes byte-identical to it. */
  def scriptFold(c: Column): Column =
    translate(lower(c), ScriptFoldFrom, ScriptFoldTo)

  /** Content fingerprint over the script-folded skeleton — the
    * cross-lingual counterpart of [[normalizedFingerprint]]: equal for
    * documents that differ only in script/case/diacritics/punct. */
  def crossScriptFingerprint(c: Column): Column =
    md5(regexp_replace(scriptFold(c), "[^a-z0-9]", ""))

  /** Polynomial rolling hash (Rabin–Karp): fold h → (h·B + byte) mod M
    * over the ASCII codes, B=257, M=1e9+7. Engine-portable exact
    * integer arithmetic (h·257+255 < 2^63); the incremental fold is
    * the basis of shift-resistant chunking (content-defined chunk
    * boundaries at h mod 2^k == 0). */
  def rollingHash(c: Column): Column =
    aggregate(charCodes(c), lit(0L), (h, ch) =>
      pmod(h * 257 + ch.cast(LongType), lit(1000000007L)))

  /** Per-position character codes in ONE pass: split into a char array
    * (O(n) total) then code each element (O(1) per char). The previous
    * indexed form — `ascii(substring(c, i, 1))` over `sequence(1, n)` —
    * paid an O(i) UTF8String seek per position, i.e. O(n²) per row; it
    * alone accounted for ~35% of the round-1 bench (VERDICT r1 #2).
    * `ascii(single-char)` returns the same code point either way, so
    * hashes are unchanged. Materialize this column before the CDC steps
    * so the array is built once per row, not once per reference. */
  def charCodes(c: Column): Column =
    when(length(c) === 0, array().cast(ArrayType(IntegerType)))
      .otherwise(transform(split(c, ""), ch => ascii(ch)))

  /** Content-defined chunk boundaries over a pre-materialized code
    * array: a boundary falls after position i (1-based, i ≥ window)
    * when the windowed polynomial hash Σ_{j=0..7} code(i-j)·31^j of the
    * last 8 chars is ≡ 0 mod `mask`. A local edit only moves the
    * boundaries whose 8-char windows it touches — chunks elsewhere keep
    * their identity (the property chunk-level dedup needs). Returns the
    * sorted bounds array [0, cut..., n]. */
  def cdcBounds(codes: Column, mask: Int = 64): Column = {
    val w = 8
    val n = size(codes)
    val cuts = when(n < w, array().cast(ArrayType(IntegerType)))
      .otherwise(filter(sequence(lit(w), n), i => {
        val h = (0 until w).map { j =>
          element_at(codes, i - j).cast(LongType) *
            lit(math.pow(31, j).toLong)
        }.reduce(_ + _)
        pmod(h, lit(mask.toLong)) === 0
      }))
    concat(array(lit(0)), cuts, array(n))
  }

  /** (start, end) pairs from a bounds array — each bound referenced a
    * constant number of times (slice args evaluate once per row). */
  def cdcSpans(bounds: Column): Column =
    zip_with(
      slice(bounds, lit(1), size(bounds) - 1),
      slice(bounds, lit(2), size(bounds) - 1),
      (a, b) => struct(a.as("start"), b.as("end")))

  /** DuckDB twin of the CDC chunk pipeline over a relation exposing
    * (id-col, text). Yields rows (doc_id|id, chunk_idx, chunk_len, fp)
    * — append an ORDER BY / aggregation. */
  def cdcOracleSql(rel: String, idCol: String = "doc_id"): String = {
    val w = 8
    val winHash = (0 until w).map { j =>
      s"CAST(ord(substr(text, i - $j, 1)) AS BIGINT)" +
        s" * ${math.pow(31, j).toLong}"
    }.mkString(" + ")
    s"""
    |WITH cdc_t AS (SELECT $idCol, text, length(text) AS n FROM $rel),
    |cdc_c AS (SELECT $idCol, text, n,
    |    list_filter(range($w, n + 1), i -> ($winHash) % 64 = 0) AS cuts
    |  FROM cdc_t),
    |cdc_b AS (SELECT $idCol, text,
    |    list_concat(list_concat([0], cuts), [n]) AS bounds FROM cdc_c),
    |cdc_s AS (SELECT $idCol, text, bounds,
    |    unnest(range(0, len(bounds) - 1)) AS k FROM cdc_b)
    |SELECT $idCol, k AS chunk_idx,
    |  bounds[k + 2] - bounds[k + 1] AS chunk_len,
    |  md5(substr(text, bounds[k + 1] + 1, bounds[k + 2] - bounds[k + 1]))
    |    AS fp
    |FROM cdc_s""".stripMargin.trim
  }

  /** Distinct word n-gram shingles (order preserved, first occurrence).
    * Short docs (< n tokens) yield an empty array.
    *
    * Built from zip_with over n shifted slices rather than
    * element_at(toks, i+j) inside a transform lambda: expression trees
    * referenced inside HOF lambdas are re-evaluated PER ELEMENT (no CSE
    * inside lambdas), so the indexed form re-ran the regex tokenizer
    * n× per shingle — O(n·|tokens|) full-text splits per row. The
    * slice form evaluates `toks` a constant ~2n+2 times per row;
    * pass a pre-materialized token array column ([[tokens]] stored via
    * select+repartition) to make each of those a cheap array read. */
  def wordShinglesFromTokens(toks: Column, n: Int): Column = {
    val m = size(toks) - (n - 1) // shingle count when >= 0
    val shifted = (0 until n).map(j => slice(toks, lit(j + 1), m))
    val joined = shifted.reduceLeft((acc, s) =>
      zip_with(acc, s, (a, b) => concat(a, lit(" "), b)))
    when(size(toks) < n, array().cast(ArrayType(StringType)))
      .otherwise(array_distinct(joined))
  }

  def wordShingles(c: Column, n: Int): Column =
    wordShinglesFromTokens(tokens(c), n)

  // ---- per-source boilerplate-line excision --------------------------

  /** Strip per-source boilerplate LINES: a line appearing in at least
    * `minRatioMilli`/1000 of a source's documents (site headers,
    * footers, nav chrome, cookie banners — the per-domain template
    * residue of web extraction) is excised from every document of
    * that source; everything else passes through byte-identical, in
    * original line order.
    *
    * Scale shape: one partial-aggregable doc-frequency count over
    * DISTINCT (source, line, doc) rows, one tiny per-source count,
    * and a boilerplate-lines-per-source table that is #sources ×
    * few-lines — broadcast back for a per-row array filter at scan
    * speed. Line membership is exact string equality; near-boilerplate
    * (timestamps inside footers) belongs to the dup-span family
    * ([[dupSpanFraction]]/[[exciseDupSpans]]), not here.
    *
    * A source with fewer than `minDocs` documents is never stripped:
    * at tiny support every line clears a ratio cutoff (2 docs → any
    * unique line is at 500‰), which would shred exactly the sources
    * that carry no real template — the same minimum-support guard web
    * pipelines apply before per-domain boilerplate removal. The guard
    * is ON by default (minDocs = 3, the smallest support where a
    * non-shared line cannot clear a ≥500‰ cutoff); pass minDocs = 1
    * only when every source is known template-bearing.
    *
    * Output: input columns with `textCol` rewritten. */
  def stripBoilerplate(docs: DataFrame, idCol: String, srcCol: String,
                       textCol: String, minRatioMilli: Int,
                       minDocs: Int = 3): DataFrame = {
    val ls = split(col(textCol), "\n")
    // EMPTY lines are never boilerplate candidates: blank paragraph
    // separators are frequent in every multi-paragraph source, and
    // stripping them would collapse paragraph structure corpus-wide —
    // the opposite of the "non-template content passes through
    // byte-identical" contract
    val lines = docs
      .select(col(idCol), col(srcCol), explode(ls).as("__line"))
      .filter(length(col("__line")) > 0)
      .distinct()
    // countDistinct, matching the dedup on the doc-frequency side: a
    // caller with duplicated doc rows (upstream fan-out join) would
    // otherwise double the denominator and silently under-strip
    val nDocs = docs.groupBy(col(srcCol))
      .agg(countDistinct(col(idCol)).as("__n_docs"))
    val boiler = lines.groupBy(col(srcCol), col("__line"))
      .agg(count(lit(1)).as("__df"))
      .join(nDocs, srcCol)
      .filter(col("__n_docs") >= minDocs &&
        col("__df") * 1000 >= col("__n_docs") * minRatioMilli)
      .groupBy(col(srcCol))
      .agg(collect_list(col("__line")).as("__bl"))
    docs.join(broadcast(boiler), Seq(srcCol), "left")
      .withColumn(textCol,
        when(col("__bl").isNull, col(textCol))
          .otherwise(array_join(
            filter(ls, l => !array_contains(col("__bl"), l)), "\n")))
      // the using-column join hoists srcCol to the front; restore the
      // caller's column order (the contract: input columns, textCol
      // rewritten)
      .select(docs.columns.map(col).toIndexedSeq: _*)
  }

  // ---- PII redaction -------------------------------------------------
  // Patterns are deliberately RE2-compatible (no lookaround): they must
  // run identically under Java regex (Spark) and RE2 (DuckDB oracle,
  // and the re2 engines common in scale-out scrubbing). This is the
  // structural-PII pass of a training-data pipeline; entity-level PII
  // (names, addresses) needs an NER stage, out of scope here.
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ssnRe = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
  val phoneRe = "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"

  /** Replace structural PII with typed placeholder tokens. Fixed
    * order (email, SSN, phone) so overlapping digit runs resolve the
    * same way everywhere; pure per-row regexp_replace — codegen'd,
    * shuffle-free, scan-speed. */
  def redactPii(c: Column): Column = {
    val e = regexp_replace(c, emailRe, "<EMAIL>")
    val s = regexp_replace(e, ssnRe, "<SSN>")
    regexp_replace(s, phoneRe, "<PHONE>")
  }

  /** DuckDB twin of [[redactPii]] (same patterns, same order; 'g' —
    * DuckDB replaces only the first match by default, Spark all).
    * DuckDB string literals keep backslashes verbatim, so the Java
    * pattern strings embed unchanged. */
  def redactPiiSql(expr: String): String = {
    def rep(in: String, re: String, tok: String) =
      s"regexp_replace($in, '$re', '$tok', 'g')"
    rep(rep(rep(expr, emailRe, "<EMAIL>"), ssnRe, "<SSN>"),
      phoneRe, "<PHONE>")
  }

  // ---- HTML stripping ------------------------------------------------

  /** Entity decodes applied AFTER tag removal, `&amp;` last (standard
    * order — a decoded `&amp;lt;` must not re-decode, and decoded
    * `&lt;tag&gt;` text must not be re-stripped as markup). Shared by
    * the op and its SQL twin. */
  private val htmlEntities = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /** Strip HTML down to text — the first cleaning step of a web
    * corpus: drop tags/comments (`<[^>]*>` — the flat-markup rule;
    * script/style BODIES and `>`-embedding constructs survive, which
    * is the documented trade of regex-level stripping vs a full
    * parser), decode the common entities, squeeze whitespace runs to
    * one space, trim. Pure per-row regexp chain — codegen'd,
    * shuffle-free, scan-speed at 100 TB. */
  def stripHtml(c: Column): Column = {
    val noTags = regexp_replace(c, "<[^>]*>", " ")
    val decoded = htmlEntities.foldLeft(noTags) { case (acc, (e, v)) =>
      regexp_replace(acc, e, v)
    }
    trim(regexp_replace(decoded, "[ \\t\\n\\r\\f]+", " "))
  }

  /** DuckDB twin of [[stripHtml]]: same patterns, same order ('g' —
    * DuckDB replaces only the first match by default). */
  def stripHtmlSql(expr: String): String = {
    def rep(in: String, re: String, to: String) =
      s"regexp_replace($in, '$re', '$to', 'g')"
    val decoded = htmlEntities.foldLeft(
        rep(expr, "<[^>]*>", " ")) { case (acc, (e, v)) =>
      rep(acc, e, if (v == "'") "''" else v)
    }
    s"trim(${rep(decoded, "[ \\t\\n\\r\\f]+", " ")})"
  }

  // ---- overlapping token-window chunking -----------------------------

  /** Chunk start offsets (1-based), one every `stride` tokens — the
    * context-window chunking of an embedding/pretraining pipeline.
    * Every token is covered; with stride < window consecutive chunks
    * overlap by window - stride tokens; trailing chunks may be
    * shorter than `window`. */
  def chunkStarts(toks: Column, stride: Int): Column =
    sequence(lit(1), greatest(size(toks), lit(1)), lit(stride))

  /** The chunk text at a start offset: `window` tokens re-joined. */
  def chunkAt(toks: Column, start: Column, window: Int): Column =
    array_join(slice(toks, start, lit(window)), " ")

  // ---- duplicated-span fraction --------------------------------------

  /** Per-document fraction (milli) of n-gram spans also appearing in
    * at least one OTHER document — the Lee et al. 2022-style
    * boilerplate/duplication signal (gate q_text_dupspan_fraction).
    * Output: (idCol, n_spans, n_dup, dup_milli); documents with fewer
    * than `n` tokens produce no row.
    *
    * Scale shape: the (doc, span) table is materialized once
    * (checkpoint — three consumers, one a semi-join build side
    * exchange reuse cannot serve), then COUNT-ONLY partial aggregates
    * and a semi join. Deliberately no doc-list-per-span aggregation: a
    * viral boilerplate span — the exact thing this signal detects —
    * in 10% of a 100 TB corpus would put that whole doc list in one
    * aggregation buffer; counts and the semi join stay
    * heavy-hitter-safe (pinned under synthetic 50%-duplication in
    * TextOpsSpec). */
  def dupSpanFraction(docs: DataFrame, idCol: String, textCol: String,
                      n: Int): DataFrame = {
    val s = docs.sparkSession
    val spans = docs
      .select(col(idCol), explode(wordShingles(col(textCol), n)).as("s"))
      .repartition(s.sessionState.conf.numShufflePartitions, col(idCol))
      .transform(Checkpoints.spill)
    // (doc, span) rows are distinct (wordShingles array_distincts),
    // so count-per-span IS the distinct-doc count
    val dupSpans = spans.groupBy("s")
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select("s")
    val tot = spans.groupBy(idCol).agg(count(lit(1)).as("n_spans"))
    val dup = spans.join(dupSpans, Seq("s"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("n_dup"))
    tot.join(dup, Seq(idCol), "left")
      .select(col(idCol), col("n_spans"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        expr("1000 * coalesce(n_dup, 0) div n_spans").as("dup_milli"))
  }

  // ---- cross-document duplicated-span excision ------------------------

  /** Rewrite each document with every duplicated CDC chunk excised
    * except its single canonical occurrence — the span-level exact
    * deduplication of Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better"), re-expressed chunk-wise: CDC
    * boundaries ([[cdcBounds]]) are content-defined, so a paragraph
    * pasted into many pages yields byte-identical interior chunks at
    * any offset, and keeping the global first occurrence
    * (min (doc, idx)) removes the repeats while [[dupSpanFraction]]
    * merely measures them. Chunks shorter than `minLen` are always
    * kept (short spans collide by chance, and excising them shreds
    * text — the same length floor the paper applies).
    *
    * Output: (idCol, n_chunks, n_kept, text_clean) where text_clean is
    * the in-order concatenation of kept chunks; with no duplication it
    * is byte-identical to the input (chunks partition the text).
    *
    * Scale shape: one shuffle keyed on the 16-byte chunk fingerprint
    * (the canonical-occurrence aggregate is min/count — partial-
    * aggregable, heavy-hitter-safe; no per-fingerprint doc lists), a
    * ≤1-row-per-key join back, then one per-document regroup whose
    * group size is bounded by chunks-per-doc. The chunked frame is
    * localCheckpoint'd: the aggregate and the probe side would
    * otherwise each recompute the per-char chunking scan. */
  def exciseDupSpans(docs: DataFrame, idCol: String, textCol: String,
                     minLen: Int = 20): DataFrame = {
    val s = docs.sparkSession
    val nPart = s.sessionState.conf.numShufflePartitions
    import graft.functions.GraftFunctions
    val coded = docs
      .select(col(idCol).as("id"), col(textCol).as("text"),
        GraftFunctions.charCodes(col(textCol)).as("codes"))
      .repartition(nPart, col("id"))
    val withBounds = coded
      .select(col("id"), col("text"),
        GraftFunctions.cdcBounds(col("codes")).as("bounds"))
      .repartition(nPart, col("id"))
    val occ = withBounds
      .select(col("id"), col("text"),
        posexplode(cdcSpans(col("bounds"))))
      .select(col("id"), col("pos").as("idx"),
        expr("substring(text, col.start + 1, col.end - col.start)")
          .as("chunk"))
      .withColumn("fp", md5(col("chunk")))
      .transform(Checkpoints.spill)
    // canonical occurrence per duplicated long-enough fingerprint;
    // fp determines the chunk bytes, so the length filter keeps or
    // drops ALL occurrences of an fp together
    val canon = occ.filter(length(col("chunk")) >= minLen)
      .groupBy("fp")
      .agg(min(struct(col("id"), col("idx"))).as("first"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .select("fp", "first")
    val keep = col("first").isNull ||
      (col("first.id") === col("id") && col("first.idx") === col("idx"))
    occ.join(canon, Seq("fp"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
        // collect_list drops the nulls the `when` leaves for excised
        // chunks; sort on (idx, chunk) restores document order
        array_join(transform(
          array_sort(collect_list(when(keep,
            struct(col("idx"), col("chunk"))))),
          _.getField("chunk")), "").as("text_clean"))
      .select(col("id").as(idCol), col("n_chunks"), col("n_kept"),
        col("text_clean"))
  }

  /** DuckDB twin of [[exciseDupSpans]] over a relation exposing
    * (id-col, text) — generated beside the Spark form so the keep rule
    * (`len < minLen OR first occurrence`) can never drift. The window
    * `row_number() PARTITION BY fp ORDER BY doc, idx` is the oracle's
    * small-data stand-in for the min-struct aggregate. */
  def exciseOracleSql(rel: String, idCol: String = "doc_id",
                      minLen: Int = 20): String = {
    val w = 8
    val winHash = (0 until w).map { j =>
      s"CAST(ord(substr(text, i - $j, 1)) AS BIGINT)" +
        s" * ${math.pow(31, j).toLong}"
    }.mkString(" + ")
    s"""
    |WITH exc_t AS (SELECT $idCol, text, length(text) AS n FROM $rel),
    |exc_c AS (SELECT $idCol, text, n,
    |    list_filter(range($w, n + 1), i -> ($winHash) % 64 = 0) AS cuts
    |  FROM exc_t),
    |exc_b AS (SELECT $idCol, text,
    |    list_concat(list_concat([0], cuts), [n]) AS bounds FROM exc_c),
    |exc_s AS (SELECT $idCol, text, bounds,
    |    unnest(range(0, len(bounds) - 1)) AS k FROM exc_b),
    |exc_o AS (SELECT $idCol, k AS idx,
    |    substr(text, bounds[k + 1] + 1, bounds[k + 2] - bounds[k + 1])
    |      AS chunk
    |  FROM exc_s),
    |exc_r AS (SELECT $idCol, idx, chunk,
    |    row_number() OVER (PARTITION BY md5(chunk)
    |      ORDER BY $idCol, idx) AS rn
    |  FROM exc_o)
    |SELECT $idCol, count(*) AS n_chunks,
    |  CAST(sum(CASE WHEN length(chunk) < $minLen OR rn = 1
    |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
    |  coalesce(string_agg(CASE WHEN length(chunk) < $minLen OR rn = 1
    |    THEN chunk END, '' ORDER BY idx), '') AS text_clean
    |FROM exc_r GROUP BY $idCol""".stripMargin.trim
  }

  // ------------------------------------------------------------------
  // BPE merge training — learn a subword merge table FROM the corpus
  // (the training half of the tokenizer story; the greedy APPLY kernel
  // is functions/TextExprs.SubwordMatcher). Reference scope: the
  // reference has no tokenizer; this is part of the LLM-pipeline brief.
  // ------------------------------------------------------------------

  /** One learned merge: at `rank` the pair (`lhs`,`rhs`) had the
    * highest corpus pair count `cnt` (ties to the lexicographically
    * smaller pair) and was fused into symbol `merged`. */
  final case class BpeMerge(rank: Int, lhs: String, rhs: String,
                            merged: String, cnt: Long)

  /** [[bpeTrain]] output: the learned merge table, the final
    * (word, n, sym) vocabulary frame, and `release` dropping the
    * persisted word table backing `vocab` — call it after `vocab` has
    * been materialized (written / localCheckpointed) or discarded. */
  final case class BpeResult(merges: Seq[BpeMerge], vocab: DataFrame,
                             release: () => Unit)

  /** Word-frequency table of lowercase `[a-z]+` runs — the ONE
    * corpus-sized pass of BPE training. Everything after operates on
    * this Zipf-collapsed distinct-word table (vocabulary-sized, orders
    * of magnitude below the corpus at 100 TB), which is exactly how
    * production BPE trainers stay tractable: counting a pair once per
    * DISTINCT word weighted by its frequency is identical to counting
    * it per occurrence. */
  def bpeWords(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(regexp_extract_all(lower(col(textCol)),
        lit("[a-z]+"), lit(0))).as("word"))
      .groupBy("word").agg(count(lit(1)).cast(LongType).as("n"))

  /** The space-joined symbol representation both engines share: word
    * "the" → " t h e " (single-space-joined symbols, one padding space
    * each side). A merge of (a,b) is then `replace(sym, " a b ",
    * " ab ")` — and because both Spark's `StringReplace` and DuckDB's
    * `replace` scan leftmost-first non-overlapping, " a a a " →
    * " aa a ", greedy left-to-right BPE merge application. The padding
    * spaces double as word boundaries so a merge can never fuse across
    * words.
    *
    * Defined variant: the replace scan resumes AFTER each match's
    * trailing delimiter, so in a run of >= 4 identical symbols the
    * symbol right after a merge cannot START the next one (" a a a a "
    * → " aa a a ", where position-greedy would give [aa, aa]).
    * Deterministic, bit-identical on all three implementations
    * (Spark UTF8String, DuckDB, JVM String — FuzzPropertySpec), and
    * differs from position-greedy only on such runs; the house trade
    * (engine-portable exactness over textbook tie handling, cf.
    * domainRelevance's additive mean). */
  private def symInit: Column =
    concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 "))

  /** Train `rounds` BPE merges over `docs(textCol)`. Per round: ONE
    * vocabulary-sized partial-agg shuffle (adjacent symbol pairs of
    * each distinct word, weighted by word frequency) feeding a 1-row
    * argmax collect, then the merge applied as a codegen'd `replace`
    * on the persisted word table. Returns the learned merge table and
    * the final (word, n, sym) vocabulary frame — the caller decides
    * whether to store the vocabulary (see the gate's content-keyed
    * table) and MUST materialize it before this method's persisted
    * base would be dropped. Deterministic: exact long counts, ties on
    * the pair string (ASCII, same total order both engines).
    * DuckDB twin: [[bpeOracleCtes]]. */
  def bpeTrain(docs: DataFrame, textCol: String, rounds: Int)
      : BpeResult = {
    require(rounds >= 1, "bpeTrain needs rounds >= 1")
    val base = bpeWords(docs, textCol).withColumn("sym", symInit)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cur = base
    val out = Seq.newBuilder[BpeMerge]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val sy = split(trim(col("sym")), " ")
      val pairs = when(size(sy) >= 2,
        zip_with(slice(sy, lit(1), size(sy) - 1),
          slice(sy, lit(2), size(sy) - 1),
          (a, b) => concat(a, lit(" "), b)))
        .otherwise(array().cast("array<string>"))
      // the round's ONE job: vocab-sized pair count, 1-row argmax
      val top = cur.select(explode(pairs).as("pair"), col("n"))
        .groupBy("pair").agg(sum("n").as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true // every word fully merged
      else {
        val pair = top(0).getString(0)
        val Array(l, rt) = pair.split(" ", 2)
        out += BpeMerge(r, l, rt, l + rt, top(0).getLong(1))
        cur = cur.withColumn("sym",
          expr(s"replace(sym, ' $l $rt ', ' ${l + rt} ')"))
        r += 1
      }
    }
    BpeResult(out.result(), cur, () => { base.unpersist(); () })
  }

  /** The CTE chain replaying [[bpeTrain]] in DuckDB, UNROLLED like
    * Clustering.oracleCtes (each round aggregates over the previous
    * round's table). `docsSql` must produce a `text` column. Ends with
    * `bpe_s<rounds>(word, n, sym)` — the trained vocabulary — and
    * `bpe_m1..bpe_m<rounds>` (rank, pair, cnt), so both the merge-table
    * gate and the apply gate build on one chain. Generated beside the
    * Spark loop so the pair count, tie-break, and replace semantics
    * can never drift. Early exhaustion mirrors the Spark loop's: an
    * empty `bpe_m` round LEFT-joins as NULL and `coalesce` carries the
    * fully-merged vocabulary forward unchanged (a plain comma join
    * would empty every later round). */
  def bpeOracleCtes(docsSql: String, rounds: Int): String = {
    val base =
      s"""bpe_w AS (SELECT word, CAST(count(*) AS BIGINT) AS n FROM (
         |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
         |  FROM ($docsSql)) GROUP BY word),
         |bpe_s0 AS (SELECT word, n,
         |  ' ' || array_to_string(str_split(word, ''), ' ') || ' ' AS sym
         |  FROM bpe_w)""".stripMargin
    val steps = (1 to rounds).map { r =>
      val prev = s"bpe_s${r - 1}"
      s"""bpe_p$r AS (SELECT sy[i] || ' ' || sy[i + 1] AS pair,
         |    CAST(sum(n) AS BIGINT) AS cnt
         |  FROM (SELECT n, str_split(trim(sym), ' ') AS sy FROM $prev) t
         |  CROSS JOIN LATERAL unnest(generate_series(1, len(sy) - 1)) u(i)
         |  GROUP BY 1),
         |bpe_m$r AS (SELECT CAST($r AS INTEGER) AS rank, pair, cnt
         |  FROM bpe_p$r ORDER BY cnt DESC, pair LIMIT 1),
         |bpe_s$r AS (SELECT word, n,
         |  coalesce(replace(sym, ' ' || pair || ' ',
         |    ' ' || replace(pair, ' ', '') || ' '), sym) AS sym
         |  FROM $prev LEFT JOIN bpe_m$r ON TRUE)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  /** The oracle's final SELECT over [[bpeOracleCtes]] reproducing the
    * merge-table gate output (rank, lhs, rhs, merged, cnt). */
  def bpeMergesSelectSql(rounds: Int): String = {
    val union = (1 to rounds).map(r => s"SELECT * FROM bpe_m$r")
      .mkString(" UNION ALL ")
    s"""SELECT rank, split_part(pair, ' ', 1) AS lhs,
       |  split_part(pair, ' ', 2) AS rhs,
       |  replace(pair, ' ', '') AS merged, cnt
       |FROM ($union) ORDER BY rank""".stripMargin
  }

  /** Byte-order-mark charset sniff + decode — the text-side twin of
    * `Multimodal.sniffFormat`: crawled payloads arrive in whatever
    * encoding the origin server felt like, and the BOM (when present)
    * is the only self-describing signal. Dispatch on the leading
    * bytes — EF BB BF → UTF-8, FF FE → UTF-16LE, FE FF → UTF-16BE —
    * strip the mark, `decode` the remainder with the detected charset;
    * no BOM → decoded as the `dflt` charset with nothing stripped.
    * Returns `struct(charset, text)`.
    *
    * Scale shape: the sniff reads a ≤ 3-byte prefix (`substring` on
    * BinaryType; `hex` only ever sees the prefix) and `decode` is a
    * codegen'd built-in — per-row scan work, no UDF, no shuffle. The
    * UTF-16 round trip is lossless including supplementary-plane
    * characters (surrogate pairs are the encoding's own mechanism).
    * Spark-only: DuckDB has no non-UTF-8 decode, so oracles pin this
    * by CONSTRUCTION — plant `encode(text, cs)` payloads and compare
    * the decoded column against the source text. ANSI note: malformed
    * byte sequences under the detected charset make `decode` throw
    * (MALFORMED_CHARACTER_CODING); quarantine upstream of this call
    * (sources/Audited posture) if the feed is untrusted. */
  def bomSniffDecode(payload: Column, dflt: String = "UTF-8"): Column = {
    def prefix(len: Int): Column = hex(substring(payload, 1, len))
    def rest(from: Int): Column =
      substring(payload, lit(from), length(payload) - (from - 1))
    val cs = when(prefix(3) === "EFBBBF", "UTF-8")
      .when(prefix(2) === "FFFE", "UTF-16LE")
      .when(prefix(2) === "FEFF", "UTF-16BE")
    val text = when(prefix(3) === "EFBBBF", decode(rest(4), "UTF-8"))
      .when(prefix(2) === "FFFE",
        decode(rest(3), "UTF-16LE"))
      .when(prefix(2) === "FEFF",
        decode(rest(3), "UTF-16BE"))
      .otherwise(decode(payload, dflt))
    struct(coalesce(cs, lit(dflt)).as("charset"), text.as("text"))
  }

  // ---- within-document repetition signals (Gopher battery) -----------

  /** All word n-grams of `toks` joined by single spaces — the MULTISET
    * (unlike [[wordShinglesFromTokens]], which dedups for LSH):
    * repetition metrics need occurrence counts.
    *
    * Built as ONE transform over gram positions with a per-element
    * slice + array_join — each gram materializes exactly one string.
    * The zip_with-chain form (n−1 intermediate arrays, each
    * re-concatenating every prefix) profiled as the gate's hottest
    * path (ZipWith.eval + Concat ≈ 2× everything else combined).
    * `toks` MUST be a materialized column: the lambda body re-reads it
    * per element, which is a row-field read for an attribute but a
    * full re-tokenize for an expression. */
  def wordNgramMultiset(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast(ArrayType(StringType)))
      .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))

  /** Occurrence statistics of a lexicographically SORTED string array:
    * `struct(best_cnt, best_start, singles)` where `best_start` is the
    * 1-based index of the first element of the most frequent run
    * (ties → lexicographically smallest; 0 when the array is empty)
    * and `singles` counts elements occurring exactly once. No explode,
    * no shuffle, no per-row map building: the doc never leaves its
    * scan partition, which is the whole point at 100 TB (the
    * alternative is explode → groupBy(doc, gram) → groupBy(doc), two
    * shuffles of a ~50× row blow-up).
    *
    * Shape notes, measured the hard way: HOF lambdas are interpreted
    * (no codegen) and re-evaluate every non-attribute expression they
    * reference PER ELEMENT — a first cut whose lambdas indexed into
    * run-start/run-length ARRAYS re-derived those arrays per element
    * (O(T²) per doc, 82 s at sf0.1 vs ~2 s for this form). Callers
    * must hand `sorted` in as a materialized column (see
    * [[repetitionSignals]]'s staging), not as an expression. */
  def sortedRunStats(sorted: Column): Column = {
    val n = size(sorted)
    // One left-to-right run-length walk over the INDEX sequence: the
    // lambda touches `sorted` only through element_at on the bound
    // attribute (cheap row-field read per element) and accumulates
    // four ints — no strings, no maps, no nested array rebuilds.
    // best_start is the 1-based start of the FIRST maximal run
    // (strict >), i.e. the lexicographically smallest max-count gram.
    def closeRun(acc: Column, startOfClosed: Column): (Column, Column, Column) = {
      val better = acc.getField("run") > acc.getField("best")
      (when(better, acc.getField("run")).otherwise(acc.getField("best")),
        when(better, startOfClosed).otherwise(acc.getField("start")),
        acc.getField("singles") +
          when(acc.getField("run") === 1, 1).otherwise(0))
    }
    val walk = aggregate(
      when(n >= 2, sequence(lit(2), n))
        .otherwise(array().cast(ArrayType(IntegerType))),
      struct(lit(1).as("run"), lit(0).as("best"),
        lit(1).as("start"), lit(0).as("singles")),
      (acc, i) => {
        val same = element_at(sorted, i) === element_at(sorted, i - 1)
        val (best2, start2, singles2) = closeRun(acc, i - acc.getField("run"))
        when(same, struct((acc.getField("run") + 1).as("run"),
          acc.getField("best").as("best"),
          acc.getField("start").as("start"),
          acc.getField("singles").as("singles")))
          .otherwise(struct(lit(1).as("run"), best2.as("best"),
            start2.as("start"), singles2.as("singles")))
      },
      acc => {
        val (best2, start2, singles2) = closeRun(acc, n + 1 - acc.getField("run"))
        struct(best2.as("best_cnt"), start2.as("best_start"),
          singles2.as("singles"))
      })
    when(n === 0, struct(lit(0).as("best_cnt"),
      lit(0).as("best_start"), lit(0).as("singles"))).otherwise(walk)
  }

  /** Gopher-style within-document repetition battery (Rae et al. 2112.11446
    * table A1 shape), exact integers:
    *
    *  - `top2_char_frac_milli` / `top3_char_frac_milli`: word-chars
    *    covered by occurrences of the most frequent word 2-/3-gram,
    *    per mille of the doc's total word chars (whitespace excluded;
    *    a gram's chars = its token chars). Overlapping occurrences
    *    each count, so degenerate stutter ("a b a b a") can exceed
    *    1000 — same property as the paper's metric.
    *  - `dup5_pos_frac_milli`: fraction of 5-gram POSITIONS whose gram
    *    occurs ≥ 2× in the doc (position-fraction rather than the
    *    paper's char-fraction: overlap-free, bounded [0,1000], same
    *    threshold semantics).
    *  - `repetition_ok`: 1 when top2 ≤ 200‰, top3 ≤ 180‰, dup5 ≤ 150‰
    *    (the paper's 0.20/0.18/0.15 cutoffs).
    *
    * Ties for "most frequent" resolve to the lexicographically
    * smallest gram — deterministic, oracle-matchable. Docs shorter
    * than n tokens score 0 with a null gram. Per-row HOF pipeline:
    * zero shuffles, the scan partition is the unit of work. */
  def repetitionSignals(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    // Staging discipline (the [[wordShinglesFromTokens]] lesson): HOF
    // lambda bodies re-evaluate any non-attribute expression they
    // reference PER ELEMENT, and [[sortedRunStats]]'s lambdas index
    // into the sorted array — handed the array_sort(...) expression
    // directly, each element access would re-build and re-sort the
    // whole gram array (O(T² log T) per doc; measured as a hang at
    // sf0.1). The sorted arrays are therefore materialized as columns
    // in their own projection; each alias is referenced several times
    // inside the run-stats HOFs, which keeps CollapseProject from
    // inlining the sort back into the lambdas.
    val staged = docs.select(col(idCol),
      length(regexp_replace(col(textCol), "[ \\t\\n\\r\\f]+", ""))
        .cast(LongType).as("__wchars"),
      tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__wchars"),
        size(col("__toks")).cast(LongType).as("n_tokens"),
        array_sort(wordNgramMultiset(col("__toks"), 2)).as("__g2"),
        array_sort(wordNgramMultiset(col("__toks"), 3)).as("__g3"),
        array_sort(wordNgramMultiset(col("__toks"), 5)).as("__g5"))
      .select(col(idCol), col("__wchars"), col("n_tokens"),
        col("__g2"), col("__g3"),
        sortedRunStats(col("__g2")).as("__s2"),
        sortedRunStats(col("__g3")).as("__s3"),
        sortedRunStats(col("__g5")).as("__s5"))
      .select(col(idCol), col("__wchars"), col("n_tokens"),
        when(col("__s2").getField("best_cnt") > 0,
          element_at(col("__g2"), col("__s2").getField("best_start")))
          .as("top2_gram"),
        col("__s2").getField("best_cnt").as("__c2"),
        when(col("__s3").getField("best_cnt") > 0,
          element_at(col("__g3"), col("__s3").getField("best_start")))
          .as("__gram3"),
        col("__s3").getField("best_cnt").as("__c3"),
        col("__s5").getField("singles").as("__singles5"))
    staged.selectExpr(
      idCol,
      "n_tokens",
      "top2_gram",
      "coalesce((1000 * (CAST(__c2 AS BIGINT) * (length(top2_gram) - 1)" +
        ")) DIV __wchars, 0) AS top2_char_frac_milli",
      "coalesce((1000 * (CAST(__c3 AS BIGINT) * (length(__gram3) - 2)" +
        ")) DIV __wchars, 0) AS top3_char_frac_milli",
      "CASE WHEN n_tokens >= 5 THEN (1000 * (n_tokens - 4 -" +
        " CAST(__singles5 AS BIGINT))) DIV (n_tokens - 4)" +
        " ELSE CAST(0 AS BIGINT) END AS dup5_pos_frac_milli")
      .withColumn("repetition_ok",
        (col("top2_char_frac_milli") <= 200 &&
          col("top3_char_frac_milli") <= 180 &&
          col("dup5_pos_frac_milli") <= 150).cast(IntegerType))
  }

  // ---- SFT loss-mask spans --------------------------------------------

  /** Assistant-token span extraction for masked SFT training: given
    * conversations (`turnsCol`: array<struct<role, content>>), emit
    * one row per ASSISTANT turn with the token span [a_tok, b_tok)
    * it occupies in the whitespace-token stream of the concatenated
    * conversation, plus the conversation's total token count — the
    * exact ranges a trainer unmasks when loss is computed only on
    * model turns. Conversations without assistant turns emit nothing.
    *
    * Token offsets use [[tokens]] per turn content (count = 1 for an
    * empty-after-trim content, both engines agree). Per-row HOF
    * pipeline over arrays of ≤ tens of turns (the prefix sums are
    * O(turns²) per row via slice+aggregate, negligible at that size);
    * the turn-count array is staged as a column per the
    * [[sortedRunStats]] shape rule. Zero shuffles — scan-speed at
    * 100 TB, and composable with [[Corpus.concatSplitWindows]]
    * (intersect spans with window boundaries downstream). */
  def lossMaskSpans(convs: DataFrame, idCol: String,
                    turnsCol: String): DataFrame = {
    val staged = convs
      .select(col(idCol), col(turnsCol).as("__turns"))
      // NB the doubled escapes: a Spark SQL string literal folds the
      // unknown escape \f to the LETTER f (the class would then eat
      // every 'f' — caught by the oracle), so the regex backslashes
      // must survive the SQL-literal layer
      .select(col(idCol), col("__turns"),
        expr("transform(__turns, t -> CAST(size(split(trim(t.content)," +
          " '[ \\\\t\\\\n\\\\r\\\\f]+')) AS BIGINT))").as("__cnt"))
      .select(col(idCol),
        expr("aggregate(__cnt, 0L, (a, x) -> a + x)").as("total_tokens"),
        // sequence(0, -1) would infer a NEGATIVE step: guard empty
        expr("""
          CASE WHEN size(__turns) = 0 THEN
            CAST(array() AS array<struct<turn_idx:bigint,role:string,
              a_tok:bigint,b_tok:bigint>>)
          ELSE filter(transform(sequence(0, size(__turns) - 1),
            i -> struct(
              CAST(i AS BIGINT) AS turn_idx,
              __turns[i].role AS role,
              aggregate(slice(__cnt, 1, i), 0L, (a, x) -> a + x)
                AS a_tok,
              aggregate(slice(__cnt, 1, i + 1), 0L, (a, x) -> a + x)
                AS b_tok)),
            s -> s.role = 'assistant') END""").as("__spans"))
    staged
      .select(col(idCol), col("total_tokens"),
        explode(col("__spans")).as("__s"))
      .select(col(idCol), col("total_tokens"),
        col("__s.turn_idx").as("turn_idx"),
        col("__s.a_tok").as("a_tok"),
        col("__s.b_tok").as("b_tok"))
  }

  /** Conversation-tree PREFIX dedup — the SFT-corpus shape exact and
    * near dedup both miss: sampled-response datasets carry many
    * conversations with IDENTICAL leading turns (same system + user
    * context, different continuations; re-rolled generations), and
    * training on every copy over-weights the shared prefixes. For
    * each conversation this computes the longest prefix (in turns) it
    * shares with ANY other conversation, via cumulative prefix
    * fingerprints: position p's fingerprint is md5 of turns 1..p
    * joined by a 0x1F separator, so two conversations share a
    * p-prefix iff their p-fingerprints collide. The training-side
    * action is the returned `trainable_from_turn` = shared + 1: mask
    * the shared prefix, supervise only the unique suffix (the
    * prefix-masked SFT discipline) — a fully-duplicated conversation
    * masks entirely.
    *
    * Scale shape: turns explode linearly (one fingerprint row per
    * (conv, position)); ONE shuffle on (p, fingerprint) with a
    * partial-aggregable count; the rejoin is on the same key, so the
    * exchange is reused. Nothing is quadratic in conversations —
    * unlike pairwise prefix comparison, a million-way shared prefix
    * costs one hash group. Input: (idCol, turnsCol array<string>).
    * Output: (idCol, n_turns, shared_prefix_turns,
    * trainable_from_turn), all longs. */
  def sharedPrefixTurns(convs: DataFrame, idCol: String,
                        turnsCol: String): DataFrame = {
    val fps = prefixFps(convs, idCol, turnsCol)
    val counts = fps.filter(col("p") >= 1L)
      .groupBy("p", "fp").agg(count(lit(1)).as("__m"))
    // LEFT join: the p=0 placeholder a null/empty-turns conversation
    // emits (fp null — never equi-matches) must survive to the output
    // row the scaladoc promises, with shared_prefix_turns = 0
    fps.join(counts, Seq("p", "fp"), "left")
      .groupBy(col(idCol), col("n_turns"))
      .agg(coalesce(max(when(col("__m") >= 2L, col("p"))), lit(0L))
        .as("shared_prefix_turns"))
      .withColumn("trainable_from_turn",
        col("shared_prefix_turns") + 1L)
  }

  /** The per-(conversation, position) cumulative prefix fingerprints
    * behind [[sharedPrefixTurns]] / [[prefixIndex]]: one row per
    * prefix length p in 1..n_turns with `fp` = md5 of turns 1..p
    * joined by 0x1F.
    *
    * Conventions (r14 advice): a NULL turn element fingerprints as the
    * sentinel U+0000 (concat_ws SKIPS nulls, so ["a", null] and
    * [null, "a"] would otherwise collide at p = 2); a conversation
    * whose turns array is null or empty still emits exactly one row --
    * a (p = 0, fp = null) placeholder -- so every consumer stays
    * one-output-row-per-conversation (null fp never equi-joins, and
    * [[prefixIndex]] filters p >= 1, so placeholders can't match
    * anything or pollute the stored index). */
  private def prefixFps(convs: DataFrame, idCol: String,
                        turnsCol: String): DataFrame =
    convs
      .select(col(idCol),
        transform(col(turnsCol),
          t => coalesce(t, lit("\u0000"))).as("__turns"))
      .select(col(idCol),
        greatest(coalesce(size(col("__turns")).cast("long"), lit(0L)),
          lit(0L)).as("n_turns"),
        posexplode(when(
          coalesce(size(col("__turns")), lit(0)) <= 0,
          array(lit(null).cast("string"))) // empty/null conv placeholder
          .otherwise(transform(
            sequence(lit(1), greatest(size(col("__turns")), lit(1)),
              lit(1)),
            p => md5(concat_ws("\u001f",
              slice(col("__turns"), lit(1), p)))))))
      // real rows: pos in 0..n_turns-1 -> p = pos+1; the placeholder
      // row of an empty conv (pos = 0, n_turns = 0) maps to p = 0
      .filter(col("pos") < col("n_turns") || col("n_turns") === 0L)
      .select(col(idCol), col("n_turns"),
        when(col("n_turns") === 0L, lit(0L))
          .otherwise(col("pos") + 1).cast("long").as("p"),
        when(col("n_turns") === 0L, lit(null).cast("string"))
          .otherwise(col("col")).as("fp"))

  /** The PERSISTED face of conversation-prefix dedup: the additive
    * (p, fp, n) prefix-fingerprint index of a conversation corpus.
    * Counts are longs under a plain sum, so a new tranche folds in as
    * the union of the stored index and the batch index, re-aggregated
    * on (p, fp) - the same sufficient-statistic discipline as
    * [[graft.ops.BradleyTerry.pairStats]]: historical conversations
    * are never rescanned. */
  def prefixIndex(convs: DataFrame, idCol: String,
                  turnsCol: String): DataFrame =
    prefixFps(convs, idCol, turnsCol)
      .filter(col("p") >= 1L) // drop empty-conv placeholders
      .groupBy("p", "fp").agg(count(lit(1)).as("n"))

  /** Incremental [[sharedPrefixTurns]]: each BATCH conversation's
    * longest prefix shared with the stored corpus (via its
    * [[prefixIndex]] - any stored occurrence suffices) or with
    * another batch conversation (needs >= 2 within the batch). The
    * batch pays one fingerprint pass over itself plus an equi-join
    * into the index on (p, fp); the stored corpus never moves. */
  def sharedPrefixAgainstIndex(batch: DataFrame, idCol: String,
                               turnsCol: String,
                               index: DataFrame): DataFrame = {
    val fps = prefixFps(batch, idCol, turnsCol)
    val within = fps.filter(col("p") >= 1L)
      .groupBy("p", "fp").agg(count(lit(1)).as("__mb"))
    // LEFT joins keep the p=0 placeholder of a null/empty-turns batch
    // conversation (see prefixFps) in the per-conversation output
    fps.join(within, Seq("p", "fp"), "left")
      .join(index.select(col("p"), col("fp"), col("n").as("__ms")),
        Seq("p", "fp"), "left")
      .groupBy(col(idCol), col("n_turns"))
      .agg(coalesce(max(when(col("__mb") >= 2L || col("__ms") >= 1L,
        col("p"))), lit(0L)).as("shared_prefix_turns"))
      .withColumn("trainable_from_turn",
        col("shared_prefix_turns") + 1L)
  }

  /** DuckDB oracle twin of [[repetitionSignals]] over relation `rel`
    * (columns `doc_id`, `text`). */
  def repetitionSignalsOracleSql(rel: String): String = {
    def grams(n: Int, name: String): String =
      s"""$name AS (SELECT doc_id,
         |    unnest(list_transform(range(1, len(toks) - ${n - 2}),
         |      i -> array_to_string(list_slice(toks, i, i + ${n - 1}), ' ')))
         |      AS g
         |  FROM base WHERE len(toks) >= $n)""".stripMargin
    s"""
      |WITH base AS (SELECT doc_id,
      |    string_split_regex(trim(text), '[ \\t\\n\\r\\f]+') AS toks,
      |    CAST(length(regexp_replace(text, '[ \\t\\n\\r\\f]+', '', 'g'))
      |      AS BIGINT) AS wchars
      |  FROM $rel),
      |${grams(2, "g2")},
      |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
      |t2 AS (SELECT doc_id, g, c, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY c DESC, g ASC) AS rn FROM c2),
      |top2 AS (SELECT doc_id, g AS top2_gram,
      |    c * CAST(length(g) - 1 AS BIGINT) AS num2 FROM t2 WHERE rn = 1),
      |${grams(3, "g3")},
      |c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
      |t3 AS (SELECT doc_id, g, c, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY c DESC, g ASC) AS rn FROM c3),
      |top3 AS (SELECT doc_id,
      |    c * CAST(length(g) - 2 AS BIGINT) AS num3 FROM t3 WHERE rn = 1),
      |${grams(5, "g5")},
      |c5 AS (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY 1, 2),
      |d5 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_pos,
      |    CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
      |      AS dup_pos
      |  FROM c5 GROUP BY doc_id),
      |m AS (SELECT b.doc_id,
      |    CAST(len(b.toks) AS BIGINT) AS n_tokens,
      |    t.top2_gram,
      |    coalesce((1000 * t.num2) // b.wchars, 0)
      |      AS top2_char_frac_milli,
      |    coalesce((1000 * u.num3) // b.wchars, 0)
      |      AS top3_char_frac_milli,
      |    coalesce((1000 * d.dup_pos) // d.n_pos, 0)
      |      AS dup5_pos_frac_milli
      |  FROM base b
      |  LEFT JOIN top2 t USING (doc_id)
      |  LEFT JOIN top3 u USING (doc_id)
      |  LEFT JOIN d5 d USING (doc_id))
      |SELECT *, CAST(top2_char_frac_milli <= 200
      |    AND top3_char_frac_milli <= 180
      |    AND dup5_pos_frac_milli <= 150 AS INTEGER) AS repetition_ok
      |FROM m ORDER BY doc_id
      |""".stripMargin.trim
  }
}
