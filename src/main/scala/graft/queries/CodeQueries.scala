package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.ops.{CodeOps, Winnowing}

/** Code-corpus curation gates (r12 verdict item 6): detection and
  * code-appropriate quality signals over a planted repo snapshot —
  * every 11th document becomes a synthetic source file (shebang on
  * every 22nd, license header on every 33rd), every 11k+5th gets a
  * fenced code block appended (the mixed prose+code case), the rest
  * stay prose. Both the Spark plant and the DuckDB oracle derive the
  * same corpus from the documents fixture, so the signals are pinned
  * end-to-end. Operators in [[graft.ops.CodeOps]]. */
object CodeQueries {

  /** The planted repo snapshot: (doc_id, filename, text). */
  private def plantedRepo(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val ids = id.cast("string")
    val shebang = when(id % 22 === 0, lit("#!/usr/bin/env python\n"))
      .otherwise(lit(""))
    val license = when(id % 33 === 0,
        lit("# Copyright (c) 2024 Example Corp\n" +
          "# Licensed under the MIT License\n"))
      .otherwise(lit(""))
    val body = concat(lit("import os\nimport sys\n\ndef f_"), ids,
      lit("(x):\n    # add the offset\n    return x + "),
      (id % 97).cast("string"),
      lit("\n\nclass C_"), ids, lit(":\n    pass\n"))
    documents(s, d).select(id.as("doc_id"),
      when(id % 11 === 0, concat(lit("src_"), ids, lit(".py")))
        .when(id % 11 === 5, concat(lit("notes_"), ids, lit(".md")))
        .otherwise(concat(lit("doc_"), ids, lit(".txt")))
        .as("filename"),
      when(id % 11 === 0, concat(shebang, license, body))
        .when(id % 11 === 5, concat(col("text"),
          lit("\n```python\ndef g_"), ids,
          lit("(y):\n    return y * 2\n```\n")))
        .otherwise(col("text")).as("text"))
  }

  /** The same plant as a DuckDB CTE (named `cr`). NOTE: this fragment
    * is interpolated into oracle strings that apply stripMargin AGAIN,
    * so no line here may begin with whitespace + `|` — concatenation
    * operators sit at line ENDS. */
  private val plantedSql = """
    |cr AS (SELECT doc_id,
    |  CASE WHEN doc_id % 11 = 0
    |         THEN 'src_' || CAST(doc_id AS VARCHAR) || '.py'
    |       WHEN doc_id % 11 = 5
    |         THEN 'notes_' || CAST(doc_id AS VARCHAR) || '.md'
    |       ELSE 'doc_' || CAST(doc_id AS VARCHAR) || '.txt'
    |  END AS filename,
    |  CASE WHEN doc_id % 11 = 0 THEN
    |      (CASE WHEN doc_id % 22 = 0
    |            THEN '#!/usr/bin/env python' || chr(10) ELSE '' END) ||
    |      (CASE WHEN doc_id % 33 = 0
    |            THEN '# Copyright (c) 2024 Example Corp' || chr(10) ||
    |              '# Licensed under the MIT License' || chr(10)
    |            ELSE '' END) ||
    |      'import os' || chr(10) || 'import sys' || chr(10) ||
    |      chr(10) ||
    |      'def f_' || CAST(doc_id AS VARCHAR) || '(x):' || chr(10) ||
    |      '    # add the offset' || chr(10) ||
    |      '    return x + ' || CAST(doc_id % 97 AS VARCHAR) ||
    |      chr(10) || chr(10) ||
    |      'class C_' || CAST(doc_id AS VARCHAR) || ':' || chr(10) ||
    |      '    pass' || chr(10)
    |    WHEN doc_id % 11 = 5 THEN text || chr(10) ||
    |      '```python' || chr(10) ||
    |      'def g_' || CAST(doc_id AS VARCHAR) || '(y):' || chr(10) ||
    |      '    return y * 2' || chr(10) || '```' || chr(10)
    |    ELSE text
    |  END AS text
    |  FROM documents)""".stripMargin.trim

  /** The detection votes as a DuckDB CTE over `cr` (named `det`). */
  private val detectSql = """
    |det AS (SELECT doc_id, filename, text,
    |  regexp_matches(filename, '\.(py|scala|js|java|go|rs|c)$')
    |    AS ext_vote,
    |  starts_with(text, '#!') AS shebang_vote,
    |  ((len(text) - len(replace(text, 'def ', ''))) // 4
    |   + (len(text) - len(replace(text, 'import ', ''))) // 7
    |   + (len(text) - len(replace(text, 'class ', ''))) // 6
    |   + (len(text) - len(replace(text, 'return ', ''))) // 7) >= 3
    |    AS kw_vote
    |  FROM cr),
    |detc AS (SELECT *,
    |  (CAST(ext_vote AS INT) + CAST(shebang_vote AS INT)
    |    + CAST(kw_vote AS INT)) >= 2 AS is_code,
    |  CAST((len(text) - len(replace(text, '```', ''))) // 3 // 2
    |    AS BIGINT) AS fence_blocks
    |  FROM det)""".stripMargin.trim

  /** A rendered code corpus with planted RENAMED clones — the fixture
    * for the winnowing family: every 13th document becomes a source
    * file whose lines carry the doc's words as uppercase payload under
    * lowercase identifiers (`a0 = WINDOW`); every 26th additionally
    * gets a clone at +1,000,000 with every identifier renamed
    * (`qq0 = WINDOW...`) plus one appended unique line. Raw texts
    * differ on every line (exact dedup finds nothing); normalized
    * texts are identical except the appended line — the rename-robust
    * near-dup case winnowing exists for. Measured (salted render):
    * planted-pair containment ≥ 949 milli at sf0.01 / ≥ 904 at sf0.1,
    * accidental cross-pairs 0 at both. */
  private def renderedCode(s: SparkSession, d: String,
                           mod: Int): DataFrame = {
    val toks = graft.ops.TextOps.tokens(col("text"))
    // payload salt: fixture vocabulary is ~20 words, so unsalted
    // renders share 2-word char runs between most doc pairs — every
    // shared k-gram is a candidate edge, and the verify join
    // degenerates toward brute force (measured 12.4 s at sf0.1). Real
    // code payload (identifiers, literals) is high-entropy; the
    // per-doc salt models that, keeping the candidate graph sparse —
    // clones share their base's salt, so detection is untouched.
    def render(prefix: String): Column = array_join(
      transform(col("toks"), (t, i) =>
        concat(lit(prefix), i.cast("string"), lit(" = "), upper(t),
          lit("9"), (col("doc_id") % 9973).cast("string"))),
      "\n")
    val base = documents(s, d).filter(col("doc_id") % mod === 3)
      .select(col("doc_id"), toks.as("toks"))
    base.select(col("doc_id").as("id"), render("a").as("ftext"))
      .unionByName(base.filter(col("doc_id") % 26 === 3)
        .select((col("doc_id") + 1000000L).as("id"),
          concat(render("qq"), lit("\nqq_extra = XTRA"),
            col("doc_id").cast("string"), lit("X")).as("ftext")))
  }

  /** The same render as DuckDB CTEs (`rbase`/`rclone`/`norm`), with
    * the base-file sample modulus interpolated. Line-END operators —
    * see the stripMargin note on [[plantedSql]]. */
  private def renderedSql(mod: Int, clones: Boolean): String = {
    val cloneSql = if (!clones) "" else """
      |UNION ALL SELECT doc_id + 1000000 AS id,
      |  array_to_string(list_transform(range(1, len(toks)+1),
      |    i -> 'qq' || CAST(i-1 AS VARCHAR) || ' = ' || upper(toks[i]) ||
      |      '9' || CAST(doc_id % 9973 AS VARCHAR)),
      |    chr(10)) ||
      |  chr(10) || 'qq_extra = XTRA' || CAST(doc_id AS VARCHAR) || 'X'
      |  AS ftext FROM cw WHERE doc_id % 26 = 3""".stripMargin
    s"""
    |cw AS (SELECT doc_id,
    |    string_split_regex(trim(text), '[ \\t\\n\\r\\f]+') AS toks
    |  FROM documents WHERE doc_id % $mod = 3),
    |rendered AS (SELECT doc_id AS id,
    |  array_to_string(list_transform(range(1, len(toks)+1),
    |    i -> 'a' || CAST(i-1 AS VARCHAR) || ' = ' || upper(toks[i]) ||
    |      '9' || CAST(doc_id % 9973 AS VARCHAR)),
    |    chr(10)) AS ftext FROM cw$cloneSql),
    |norm AS (SELECT id, regexp_replace(regexp_replace(ftext,
    |    '[a-z_][a-z0-9_]*', 'v', 'g'), '[ \t]+', ' ', 'g') AS nt
    |  FROM rendered)""".stripMargin.trim
  }

  private val K = 24 // k-gram width (chars, ~2 rendered lines)
  private val W = 8  // winnowing window (guarantee: runs >= 31 chars)

  /** The persisted winnowing fingerprint store over the rendered code
    * corpus (bases mod 13 + renamed clones): (id, ks, fps), built once
    * per corpus content — the artifact every winnowing gate reads.
    * Persisting is REQUIRED, not a convenience: see the pushdown
    * hazard documented on [[Winnowing.fingerprintTable]]. */
  private def winnowStore(s: SparkSession, d: String): String = {
    val tbl = "winnow_fp_" +
      Sinks.contentKey(d, "documents.parquet", s"winnow-k$K-w$W|v2")
    graft.ops.StoreGuard.table(s, tbl) {
      Winnowing.fingerprintTable(renderedCode(s, d, mod = 13),
          "id", "ftext", K, W, md5)
        .write.format("parquet").mode("overwrite").saveAsTable(tbl)
    }
    tbl
  }

  val WinnowStore = Prepare("winnow_store", winnowStore(_, _))

  /** The winnowing detection pipeline over the stored fingerprint
    * table: fingerprint equi-join proposes (clone, base) candidates,
    * exact distinct-k-gram containment culls false positives — the
    * shared core of the file-level gate (q_code_winnow_neardup) and
    * the repo-level fork rollup (q_code_repo_forkdup). */
  private def winnowMatches(s: SparkSession, d: String): DataFrame = {
    val sides = s.table(winnowStore(s, d))
    val fpRows = sides.select(col("id"),
      explode(col("fps.fp")).as("fp"))
    val cand = fpRows.filter(col("id") >= 1000000L)
      .select(col("id").as("id_clone"), col("fp"))
      .join(fpRows.filter(col("id") < 1000000L)
        .select(col("id").as("id_base"), col("fp")), Seq("fp"))
      .select("id_clone", "id_base").distinct()
    cand
      .join(sides.select(col("id").as("id_clone"),
        col("ks").as("ks_c")), Seq("id_clone"))
      .join(sides.select(col("id").as("id_base"),
        col("ks").as("ks_b")), Seq("id_base"))
      .select(col("id_clone"), col("id_base"),
        Winnowing.containmentMilli(col("ks_c"), col("ks_b"))
          .as("containment_milli"))
      .filter(col("containment_milli") >= 700L)
  }

  def all: Seq[Q] = Seq(

    // ---- code detection (majority vote) -------------------------------
    // Extension + shebang + keyword-density votes, is_code on >= 2 of
    // 3, plus the fence-block count and the mixed flag (prose doc
    // carrying fenced code). Pure per-row built-ins — scan-speed, no
    // shuffle; at 100 TB this is a projection on the ingest scan.
    Q("q_code_detect",
      (s, d) => {
        plantedRepo(s, d).select(col("doc_id"), col("filename"),
            CodeOps.extVote(col("filename")).as("ext_vote"),
            CodeOps.shebangVote(col("text")).as("shebang_vote"),
            CodeOps.keywordVote(col("text")).as("kw_vote"),
            CodeOps.isCode(col("filename"), col("text")).as("is_code"),
            CodeOps.fenceBlocks(col("text")).as("fence_blocks"))
          .withColumn("is_mixed",
            !col("is_code") && col("fence_blocks") >= 1L)
          .orderBy("doc_id")
      },
      Some(s"""
        |WITH $plantedSql,
        |$detectSql
        |SELECT doc_id, filename, ext_vote, shebang_vote, kw_vote,
        |  is_code, fence_blocks,
        |  (NOT is_code) AND fence_blocks >= 1 AS is_mixed
        |FROM detc ORDER BY doc_id
        |""".stripMargin.trim)),

    // ---- code quality (comment density + license header) --------------
    // Over the DETECTED code files only: line counts, comment-line
    // density in milli (exact truncating division), the
    // license-header vote, and the admit verdict the quality-cutoff
    // machinery consumes (licensed AND <= 500 milli comments — a file
    // that is mostly comments is generated boilerplate, not training
    // signal). Same scan-speed shape as detection.
    Q("q_code_quality",
      (s, d) => {
        plantedRepo(s, d)
          .filter(CodeOps.isCode(col("filename"), col("text")))
          .select(col("doc_id"), col("filename"),
            CodeOps.lineCount(col("text")).as("n_lines"),
            CodeOps.commentLines(col("text")).as("comment_lines"),
            CodeOps.hasLicenseHeader(col("text")).as("has_license"))
          .withColumn("comment_ratio_milli",
            expr("comment_lines * 1000 DIV n_lines"))
          .withColumn("admitted",
            col("has_license") && col("comment_ratio_milli") <= 500L)
          .orderBy("doc_id")
      },
      Some(s"""
        |WITH $plantedSql,
        |$detectSql
        |SELECT doc_id, filename,
        |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
        |  CAST(len(list_filter(string_split(text, chr(10)),
        |    l -> (starts_with(ltrim(l), '#')
        |            AND NOT starts_with(ltrim(l), '#!'))
        |         OR starts_with(ltrim(l), '//'))) AS BIGINT)
        |    AS comment_lines,
        |  substr(text, 1, 160) LIKE '%Copyright%' AS has_license,
        |  CAST(len(list_filter(string_split(text, chr(10)),
        |    l -> (starts_with(ltrim(l), '#')
        |            AND NOT starts_with(ltrim(l), '#!'))
        |         OR starts_with(ltrim(l), '//'))) AS BIGINT) * 1000
        |    // CAST(len(string_split(text, chr(10))) AS BIGINT)
        |    AS comment_ratio_milli,
        |  substr(text, 1, 160) LIKE '%Copyright%'
        |    AND CAST(len(list_filter(string_split(text, chr(10)),
        |      l -> (starts_with(ltrim(l), '#')
        |              AND NOT starts_with(ltrim(l), '#!'))
        |           OR starts_with(ltrim(l), '//'))) AS BIGINT) * 1000
        |      // CAST(len(string_split(text, chr(10))) AS BIGINT)
        |      <= 500 AS admitted
        |FROM detc WHERE is_code ORDER BY doc_id
        |""".stripMargin.trim)),

    // ---- winnowing fingerprint extraction ------------------------------
    // The MOSS selection rule itself, pinned position-by-position: for
    // a sampled sub-corpus, every (pos, fp) the w-window rightmost-min
    // rule selects over the md5 k-gram hash sequence of the normalized
    // render. Per-row higher-order functions — a projection on the
    // scan, zero shuffles; measured density 0.2221 at sf0.01 vs the
    // paper's expected 2/(w+1) = 0.2222. The DuckDB twin re-derives
    // the selection with window functions (min over w-frame, rightmost
    // tie via a bounded self-join) — two independent formulations of
    // the algorithm must agree exactly.
    Q("q_code_winnow_fingerprints",
      (s, d) => {
        s.table(winnowStore(s, d))
          .filter(col("id") % 39 === 3 && col("id") < 1000000L)
          .select(col("id").as("doc_id"), explode(col("fps")).as("w"))
          .select(col("doc_id"), col("w.pos").as("pos"),
            col("w.fp").as("fp"))
          .orderBy("doc_id", "pos")
      },
      Some(s"""
        |WITH ${renderedSql(mod = 39, clones = false)},
        |gh AS (SELECT id, pos, md5(substr(nt, pos, $K)) AS h
        |  FROM (SELECT id, nt,
        |          unnest(range(1, length(nt) - ${K - 2})) AS pos
        |        FROM norm WHERE length(nt) >= ${K + W - 1})),
        |wm AS (SELECT id, pos, h,
        |    MIN(h) OVER (PARTITION BY id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND ${W - 1} FOLLOWING) AS m,
        |    MAX(pos) OVER (PARTITION BY id) AS maxpos
        |  FROM gh),
        |sel AS (SELECT w.id, MAX(g2.pos) AS fpos, w.m AS fp
        |  FROM wm w JOIN gh g2 ON g2.id = w.id
        |    AND g2.pos BETWEEN w.pos AND w.pos + ${W - 1}
        |    AND g2.h = w.m
        |  WHERE w.pos <= w.maxpos - ${W - 1}
        |  GROUP BY w.id, w.pos, w.m)
        |SELECT DISTINCT id AS doc_id, fpos AS pos, fp FROM sel
        |ORDER BY doc_id, pos
        |""".stripMargin.trim),
      stores = Seq(WinnowStore)),

    // ---- rename-robust near-dup via winnowing --------------------------
    // The operator the extraction gate exists for: renamed clones vs
    // the base corpus. Fingerprint equi-join proposes candidates
    // (shuffle on fp hash — the same banded 100 TB shape as the
    // MinHash join; ~2/(w+1) of k-gram positions ever leave the scan),
    // exact distinct-k-gram containment culls false positives, so the
    // output equals brute-force ground truth whenever true pairs share
    // a normalized run >= w+k-1 chars (planted clones share ~300; the
    // winnowing guarantee makes recall structural). The oracle IS that
    // brute force: all clone x base containments, no candidate step.
    // Measured margin (salted render): planted >= 904 milli, accidental
    // 0 at sf0.01 AND sf0.1 — threshold 700 has the whole floor below.
    Q("q_code_winnow_neardup",
      (s, d) => winnowMatches(s, d).orderBy("id_clone", "id_base"),
      Some(s"""
        |WITH ${renderedSql(mod = 13, clones = true)},
        |ks AS (SELECT id, list_distinct(list_transform(
        |    range(1, length(nt) - ${K - 2}),
        |    i -> md5(substr(nt, i, $K)))) AS ks
        |  FROM norm WHERE length(nt) >= ${K + W - 1})
        |SELECT * FROM (
        |  SELECT c.id AS id_clone, b.id AS id_base,
        |    CAST(floor(1000.0 * len(list_intersect(c.ks, b.ks)) /
        |      len(c.ks) + 0.5) AS BIGINT) AS containment_milli
        |  FROM ks c JOIN ks b
        |    ON c.id >= 1000000 AND b.id < 1000000)
        |WHERE containment_milli >= 700
        |ORDER BY id_clone, id_base
        |""".stripMargin.trim),
      stores = Seq(WinnowStore)),

    // ---- repo-level fork detection --------------------------------------
    // File matches say two FILES are clones; what a code-corpus dedup
    // actually drops is the FORKED REPO (forks/mirrors dominate public
    // code corpora). Files roll up to synthetic repos (130-id spans;
    // clones to fork repos at +10000), the file-level winnow matches
    // roll up per (fork, base) repo pair, and the matched-file
    // fraction against the BASE repo's file count flags forks at >=
    // 300 milli (fixture forks carry clones of half the base's files
    // -> ~500). Two bounded rollups on top of the shared detection
    // pipeline — the repo-pair table is orders smaller than the file
    // pairs, the right shape for the final curation decision.
    Q("q_code_repo_forkdup",
      (s, d) => {
        val m = winnowMatches(s, d)
          .select((expr("(id_clone - 1000000) DIV 130") + 10000L)
            .as("repo_a"), expr("id_base DIV 130").as("repo_b"))
          .groupBy("repo_a", "repo_b")
          .agg(count(lit(1)).as("n_matched_files"))
        val sizes = s.table(winnowStore(s, d))
          .filter(col("id") < 1000000L)
          .groupBy(expr("id DIV 130").as("repo_b"))
          .agg(count(lit(1)).as("n_files_b"))
        m.join(sizes, Seq("repo_b"))
          .withColumn("match_frac_milli",
            floor(lit(1000.0) * col("n_matched_files") /
              col("n_files_b") + lit(0.5)).cast("long"))
          .filter(col("match_frac_milli") >= 300L)
          .select("repo_a", "repo_b", "n_matched_files", "n_files_b",
            "match_frac_milli")
          .orderBy("repo_a", "repo_b")
      },
      Some(s"""
        |WITH ${renderedSql(mod = 13, clones = true)},
        |ks AS (SELECT id, list_distinct(list_transform(
        |    range(1, length(nt) - ${K - 2}),
        |    i -> md5(substr(nt, i, $K)))) AS ks
        |  FROM norm WHERE length(nt) >= ${K + W - 1}),
        |pm AS (SELECT (c.id - 1000000) // 130 + 10000 AS repo_a,
        |    b.id // 130 AS repo_b
        |  FROM ks c JOIN ks b
        |    ON c.id >= 1000000 AND b.id < 1000000
        |  WHERE CAST(floor(1000.0 * len(list_intersect(c.ks, b.ks)) /
        |      len(c.ks) + 0.5) AS BIGINT) >= 700),
        |m AS (SELECT repo_a, repo_b,
        |    CAST(count(*) AS BIGINT) AS n_matched_files
        |  FROM pm GROUP BY 1, 2),
        |sz AS (SELECT id // 130 AS repo_b,
        |    CAST(count(*) AS BIGINT) AS n_files_b
        |  FROM rendered WHERE id < 1000000 GROUP BY 1)
        |SELECT * FROM (
        |  SELECT m.repo_a, m.repo_b, m.n_matched_files, sz.n_files_b,
        |    CAST(floor(1000.0 * n_matched_files / n_files_b + 0.5)
        |      AS BIGINT) AS match_frac_milli
        |  FROM m JOIN sz ON m.repo_b = sz.repo_b)
        |WHERE match_frac_milli >= 300
        |ORDER BY repo_a, repo_b
        |""".stripMargin.trim),
      stores = Seq(WinnowStore)),

    // ---- routed quality cutoff: code vs prose (r13 verdict item 7) ----
    // The composed curation decision the two signal gates feed: docs
    // detected as CODE route through a code-appropriate score
    // (1000 − comment-ratio milli — generated comment-flooded
    // boilerplate scores low), prose through the stopword-ratio score,
    // and ONE shared exact-histogram quantile machine
    // ([[Corpus.quantileCutoff]], stratum = route) drops each route's
    // bottom quartile by ITS OWN distribution. The plant makes both
    // halves of the claim land in the hashed artifact: every 7th doc
    // is rendered clean code (salted uppercase payload — near-zero
    // stopword ratio, so the PROSE filter would have killed it; the
    // emitted `would_die_under_prose` flag says so per row), every
    // 21st is comment-flooded boilerplate (high comment ratio — the
    // code route drops it; clean code all survives). Scale shape:
    // per-row signal columns on the scan, one histogram groupBy over
    // ≤1001 bins per route, strata-sized threshold broadcast, one
    // 1-row prose-threshold scalar onto the code rows.
    Q("q_code_quality_cutoff",
      (s, d) => {
        val id = col("doc_id"); val ids = id.cast("string")
        val toks = graft.ops.TextOps.tokens(col("text"))
        val payload = array_join(transform(toks, (t, i) =>
          concat(lit("v"), i.cast("string"), lit(" = "), upper(t),
            lit("9"))), "\n")
        val flood = array_join(transform(toks, t =>
          concat(lit("# generated: "), upper(t), lit("9"))), "\n")
        val header = concat(lit("import os\nimport sys\ndef f_"), ids,
          lit("(x):\n    return x + "), (id % 97).cast("string"),
          lit("\n"))
        // the driver fixtures are one parquet row group: without the
        // id exchange the per-row render + signal HOFs run single-task
        // (the q_scrape_extract lesson; measured 9.5 vs 2.2 s at sf0.1)
        val planted = documents(s, d).select(col("doc_id"), col("text"))
          .repartition(s.sessionState.conf.numShufflePartitions,
            col("doc_id"))
          .select(id.as("doc_id"),
            when(id % 7 === 0, concat(lit("gen_"), ids, lit(".py")))
              .otherwise(concat(lit("doc_"), ids, lit(".txt")))
              .as("filename"),
            when(id % 21 === 0, concat(header, flood))
              .when(id % 7 === 0, concat(header, payload))
              .otherwise(col("text")).as("text"))
        val sig = planted.select(col("doc_id"), col("filename"),
          col("text"),
          CodeOps.lineCount(col("text")).as("n_lines"),
          CodeOps.commentLines(col("text")).as("comment_lines"),
          graft.ops.TextOps.stopwordCount(col("text")).as("n_stop"),
          graft.ops.TextOps.tokenCount(col("text")).as("n_tokens"))
        val scored = sig
          .select(col("doc_id"),
            when(CodeOps.isCode(col("filename"), col("text")),
              lit("code")).otherwise(lit("prose")).as("stratum"),
            (lit(1000L) - expr(
              "comment_lines * 1000 DIV n_lines")).as("code_score"),
            floor(lit(1000.0) * col("n_stop") / col("n_tokens") +
              lit(0.5)).cast("long").as("prose_score_milli"))
        val routed = scored.select(col("doc_id"), col("stratum"),
          when(col("stratum") === "code", col("code_score"))
            .otherwise(col("prose_score_milli")).as("score_milli"),
          col("prose_score_milli"))
        val admitted = graft.ops.Corpus.quantileCutoff(routed,
          "stratum", "score_milli", pctMilli = 250L)
        val proseThr = admitted.filter(col("stratum") === "prose")
          .agg(max(col("thr_milli")).as("prose_thr_milli"))
        admitted.crossJoin(broadcast(proseThr))
          .select(col("doc_id"), col("stratum"), col("score_milli"),
            col("thr_milli"), col("prose_score_milli"),
            (col("stratum") === "code" &&
              col("prose_score_milli") < col("prose_thr_milli"))
              .as("would_die_under_prose"))
          .orderBy("doc_id")
      },
      Some(s"""
        |WITH cq AS (SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0
        |         THEN 'gen_' || CAST(doc_id AS VARCHAR) || '.py'
        |       ELSE 'doc_' || CAST(doc_id AS VARCHAR) || '.txt'
        |  END AS filename,
        |  CASE WHEN doc_id % 21 = 0 THEN
        |      'import os' || chr(10) || 'import sys' || chr(10) ||
        |      'def f_' || CAST(doc_id AS VARCHAR) || '(x):' ||
        |      chr(10) ||
        |      '    return x + ' || CAST(doc_id % 97 AS VARCHAR) ||
        |      chr(10) ||
        |      array_to_string(list_transform(
        |        string_split_regex(trim(text), '[ \\t\\n\\r\\f]+'),
        |        t -> '# generated: ' || upper(t) || '9'), chr(10))
        |    WHEN doc_id % 7 = 0 THEN
        |      'import os' || chr(10) || 'import sys' || chr(10) ||
        |      'def f_' || CAST(doc_id AS VARCHAR) || '(x):' ||
        |      chr(10) ||
        |      '    return x + ' || CAST(doc_id % 97 AS VARCHAR) ||
        |      chr(10) ||
        |      array_to_string(list_transform(range(1,
        |        len(string_split_regex(trim(text),
        |          '[ \\t\\n\\r\\f]+'))+1),
        |        i -> 'v' || CAST(i-1 AS VARCHAR) || ' = ' ||
        |          upper(string_split_regex(trim(text),
        |            '[ \\t\\n\\r\\f]+')[i]) || '9'), chr(10))
        |    ELSE text
        |  END AS text
        |  FROM documents),
        |cqd AS (SELECT doc_id,
        |  CASE WHEN (CAST(regexp_matches(filename,
        |        '\\.(py|scala|js|java|go|rs|c)$$') AS INT)
        |      + CAST(starts_with(text, '#!') AS INT)
        |      + CAST(((len(text) - len(replace(text, 'def ', ''))) // 4
        |        + (len(text) - len(replace(text, 'import ', ''))) // 7
        |        + (len(text) - len(replace(text, 'class ', ''))) // 6
        |        + (len(text) - len(replace(text, 'return ', ''))) // 7)
        |          >= 3 AS INT)) >= 2
        |    THEN 'code' ELSE 'prose' END AS stratum,
        |  1000 - CAST(len(list_filter(string_split(text, chr(10)),
        |      l -> (starts_with(ltrim(l), '#')
        |              AND NOT starts_with(ltrim(l), '#!'))
        |           OR starts_with(ltrim(l), '//'))) AS BIGINT) * 1000
        |    // CAST(len(string_split(text, chr(10))) AS BIGINT)
        |    AS code_score,
        |  CAST(floor(1000.0 *
        |      len(list_filter(string_split_regex(lower(text),
        |        '[ \\t\\n\\r\\f]+'), w -> w IN (${
             graft.ops.TextOps.stopwordsSql})))
        |    / len(string_split_regex(trim(text), '[ \\t\\n\\r\\f]+'))
        |    + 0.5) AS BIGINT) AS prose_score_milli
        |  FROM cq),
        |scored AS (SELECT doc_id, stratum,
        |    CASE WHEN stratum = 'code' THEN code_score
        |         ELSE prose_score_milli END AS score_milli,
        |    prose_score_milli
        |  FROM cqd),
        |${graft.ops.Corpus.quantileCutoffSql(
             "scored", "stratum", "score_milli", 250L)},
        |adm AS (SELECT scored.*, qc_thr.thr_milli
        |  FROM scored JOIN qc_thr USING (stratum)
        |  WHERE score_milli >= thr_milli)
        |SELECT doc_id, stratum, score_milli, thr_milli,
        |  prose_score_milli,
        |  stratum = 'code' AND prose_score_milli <
        |    (SELECT max(thr_milli) FROM adm WHERE stratum = 'prose')
        |    AS would_die_under_prose
        |FROM adm ORDER BY doc_id
        |""".stripMargin.trim))
  )
}
