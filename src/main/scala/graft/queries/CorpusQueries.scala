package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables._
import graft.ops.{Corpus, TextOps}

/** Corpus-curation queries over the documents table: term weighting,
  * deterministic stratified sampling, and token-budget packing — the
  * selection/formatting stages of a training-data pipeline that sit
  * between dedup and the trainer. */
object CorpusQueries {

  /** The incremental persisted index the stored-retrieval gates share:
    * corpus minus the doc_id%5==0 holdout built, the holdout appended
    * (the structural posting merge), content-keyed. */
  private def incrIndexTable(s: org.apache.spark.sql.SparkSession,
                             d: String): String = {
    val tbl = "inv_idx_" +
      Sinks.contentKey(d, "documents.parquet", "terms-tf|v3")
    // marker-guarded: the sequence is FOUR writes (postings + doc
    // stats, then the appended halves)
    graft.ops.StoreGuard.tables(s, s"${tbl}_ok",
      writes = Seq(tbl, graft.ops.InvertedIndexStore.docsTable(tbl),
        graft.ops.InvertedIndexStore.summaryTable(tbl))) {
      val docs = documents(s, d)
      graft.ops.InvertedIndexStore.build(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        "doc_id", "text", tbl, overwrite = true)
      graft.ops.InvertedIndexStore.append(
        docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        "doc_id", "text", tbl)
    }
    tbl
  }

  /** Dedicated index copy for the takedown gate (its own store — the
    * tombstone/compaction lifecycle must not touch the shared index
    * other gates read), built over the FULL corpus with the
    * doc_id % 37 == 0 takedown set tombstoned, content-keyed. */
  private def takedownIndexTable(s: org.apache.spark.sql.SparkSession,
                                 d: String): String = {
    val tbl = "inv_idx_td_" +
      Sinks.contentKey(d, "documents.parquet", "takedown|v2")
    graft.ops.StoreGuard.tables(s, s"${tbl}_ok",
      writes = Seq(tbl, graft.ops.InvertedIndexStore.docsTable(tbl),
        graft.ops.InvertedIndexStore.summaryTable(tbl))) {
      val docs = documents(s, d)
      graft.ops.InvertedIndexStore.build(
        docs, "doc_id", "text", tbl, overwrite = true)
      graft.ops.InvertedIndexStore.takedown(
        docs.filter(pmod(col("doc_id"), lit(37)) === 0)
          .select(col("doc_id").cast("long")), tbl)
    }
    tbl
  }

  /** The three dedicated stores of the CROSS-store takedown sweep
    * (r11 verdict item 6): every store family a corpus feeds —
    * inverted index (postings + doc stats), sign-LSH ANN buckets, and
    * banded media-style fingerprints — built over the same fixtures,
    * then ONE removal id set (id % 41 == 0, over the union of the doc
    * and vector id domains) applied to ALL of them in one
    * [[graft.ops.Tombstones.recordAll]] pass. The fingerprint store
    * uses the rolling-hash text fingerprint (engine-portable, same
    * fold as q_text_fingerprint's fp_roll) so the family exercises
    * the banded-phash layout without re-decoding media. */
  private def crossTdStores(s: org.apache.spark.sql.SparkSession,
                            d: String): (String, String, String) = {
    val key = Sinks.contentKey(d, "documents.parquet", "crosstd|v2")
    val (invT, annT, phT) =
      (s"xtd_inv_$key", s"xtd_ann_$key", s"xtd_ph_$key")
    graft.ops.StoreGuard.tables(s, s"${invT}_ok", writes = Seq(
        invT, graft.ops.InvertedIndexStore.docsTable(invT),
        graft.ops.InvertedIndexStore.summaryTable(invT), annT, phT,
        graft.ops.Tombstones.table(invT),
        graft.ops.Tombstones.table(annT),
        graft.ops.Tombstones.table(phT))) {
      val docs = documents(s, d)
      graft.ops.InvertedIndexStore.build(
        docs, "doc_id", "text", invT, overwrite = true)
      val emb = embeddings(s, d).select("vec_id", "embedding")
      val hyper = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("h_id"), col("embedding").as("hv"))
      graft.ops.AnnIndex.buildSignIndex(emb, "vec_id", "embedding",
        hyper, rowsPerBand = 4, table = annT, overwrite = true)
      graft.ops.Multimodal.bandedPhash(
          docs.select(col("doc_id").cast("long").as("doc_id"),
            graft.functions.GraftFunctions.rollingHash(
              graft.functions.GraftFunctions.charCodes(col("text")))
              .as("phash")))
        .write.format("parquet").partitionBy("band").saveAsTable(phT)
      val removal = docs.select(col("doc_id").cast("long").as("id"))
        .unionByName(emb.select(col("vec_id").cast("long").as("id")))
        .filter(pmod(col("id"), lit(41)) === 0).distinct()
      graft.ops.Tombstones.recordAll(removal, Seq(invT, annT, phT))
    }
    (invT, annT, phT)
  }

  /** Shared oracle text for the length-bucket packing gates: both
    * derive from one assignment CTE chain so the stats oracle is the
    * assignment oracle's aggregation, never a drifted re-derivation. */
  private object PackOracle {
    private val base = """
      |WITH t AS (SELECT doc_id,
      |    CAST(len(string_split_regex(trim(text), '[ \t\n\r\f]+'))
      |      AS BIGINT) *
      |    (CASE WHEN doc_id % 7 = 0 THEN 3
      |          WHEN doc_id % 5 = 0 THEN 2 ELSE 1 END) AS n_tokens
      |  FROM documents),
      |a AS (SELECT doc_id, n_tokens,
      |    CAST(CASE WHEN n_tokens > 128 THEN 0
      |         WHEN n_tokens <= 16 THEN 16
      |         WHEN n_tokens <= 32 THEN 32
      |         WHEN n_tokens <= 64 THEN 64
      |         ELSE 128 END AS BIGINT) AS bucket
      |  FROM t WHERE n_tokens > 0),
      |b AS (SELECT *,
      |    CAST(CASE WHEN bucket = 0 THEN 1 ELSE 128 // bucket END
      |      AS BIGINT) AS k,
      |    CAST(row_number() OVER (PARTITION BY bucket ORDER BY doc_id)
      |      - 1 AS BIGINT) AS seq
      |  FROM a)""".stripMargin

    val assignSql: String = s"""$base
      |SELECT doc_id, n_tokens, bucket, k,
      |  seq // k AS bin, seq % k AS slot,
      |  CASE WHEN bucket = 0 THEN 0 ELSE bucket - n_tokens END
      |    AS pad_tokens,
      |  CASE WHEN bucket = 0 THEN n_tokens - 128 ELSE 0 END
      |    AS trunc_tokens
      |FROM b ORDER BY doc_id
      |""".stripMargin.trim

    val statsSql: String = s"""$base,
      |g AS (SELECT bucket, count(*) AS n_docs,
      |    CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
      |    CAST(max(seq // k) + 1 AS BIGINT) AS n_bins,
      |    CAST(sum(CASE WHEN bucket = 0 THEN n_tokens - 128 ELSE 0 END)
      |      AS BIGINT) AS trunc_tokens
      |  FROM b GROUP BY bucket)
      |SELECT bucket, n_docs, sum_tokens, n_bins, trunc_tokens,
      |  n_bins * 128 - (sum_tokens - trunc_tokens) AS padding_tokens,
      |  (1000 * (n_bins * 128 - (sum_tokens - trunc_tokens)))
      |    // (n_bins * 128) AS padding_frac_milli
      |FROM g ORDER BY bucket
      |""".stripMargin.trim
  }

  /** Turn i (1-based Column) of the planted conversation for doc id
    * `id`: the content comes from the id's 2^(4-i)-block leader, so
    * octet-mates share turn 1, quad-mates turns 1-2, pair-mates
    * turns 1-3 — a conversation TREE with every sharing depth, from
    * ids alone. Shared by the batch ([[plantedConvs]]) and
    * incremental prefix-dedup gates and the stored index. */
  private def convTurn(id: org.apache.spark.sql.Column,
                       i: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    concat(lit("turn"), i.cast("string"), lit(" of "),
      (id - pmod(id, when(i === 1, 8L).when(i === 2, 4L)
        .when(i === 3, 2L).otherwise(1L))).cast("string"))

  /** The planted conversation corpus: (doc_id, turns), 2-4 turns. */
  private def plantedConvs(s: org.apache.spark.sql.SparkSession,
                           d: String): org.apache.spark.sql.DataFrame = {
    val id = col("doc_id")
    documents(s, d).select(id,
      transform(
        sequence(lit(1), (lit(2) + pmod(id, lit(3))).cast("int"),
          lit(1)),
        i => convTurn(id, i)).as("turns"))
  }

  /** [[plantedConvs]] as a DuckDB CTE named `cpd`
    * (doc_id, n_turns, turns). */
  private val convPlantSql: String =
    """cpd AS (SELECT doc_id,
      |    CAST(2 + doc_id % 3 AS BIGINT) AS n_turns,
      |    list_transform(range(1, CAST(2 + doc_id % 3 AS INT) + 1),
      |      i -> 'turn' || CAST(i AS VARCHAR) || ' of ' ||
      |        CAST(doc_id - doc_id % (CASE WHEN i = 1 THEN 8
      |          WHEN i = 2 THEN 4 WHEN i = 3 THEN 2 ELSE 1 END)
      |          AS VARCHAR)) AS turns
      |  FROM documents)""".stripMargin

  /** Persisted (p, fp, n) prefix-fingerprint index over the planted
    * conversation corpus — the stored artifact the incremental gate
    * probes (additive: a tranche folds in by union + re-aggregate,
    * see [[graft.ops.TextOps.prefixIndex]]). */
  private def convPrefixIndexTable(
      s: org.apache.spark.sql.SparkSession, d: String): String = {
    val tbl = "conv_prefix_idx_" +
      Sinks.contentKey(d, "documents.parquet", "convpfx|v1")
    graft.ops.StoreGuard.table(s, tbl) {
      graft.ops.TextOps.prefixIndex(plantedConvs(s, d),
          "doc_id", "turns")
        .write.format("parquet").mode("overwrite").saveAsTable(tbl)
    }
    tbl
  }

  /** The stored artifacts q_curation_capstone's incremental flow reads
    * (built once per corpus content, untimed): the corpus fingerprint
    * table (exact-dedup face of the ingested base), the packed base
    * layout whose per-shard token totals the batch pack CONTINUES
    * from, and — shared, not duplicated — the frozen eval-shingle
    * table ([[EvalArtifacts.evalShingleTable]]). Base derivation runs
    * the same staged chain the batch will: quality floor, within-base
    * dedup (keep-min), decontaminate vs eval, token-budget pack. */
  private def capstoneStores(s: org.apache.spark.sql.SparkSession,
                             d: String): (String, String, String) = {
    val key = Sinks.contentKey(d, "documents.parquet", "capstone|v1")
    val (fpT, packT) = (s"cap_fp_$key", s"cap_pack_$key")
    val evalT = EvalArtifacts.evalShingleTable(s, d)
    graft.ops.StoreGuard.tables(s, s"${fpT}_ok",
      writes = Seq(fpT, packT), requires = Seq(evalT)) {
      val base = documents(s, d)
        .filter(pmod(col("doc_id"), lit(4)) =!= 0)
        .select(col("doc_id").as("id"), col("text"))
        .withColumn("n_tok", TextOps.tokenCount(col("text")))
        .filter(col("n_tok") >= 10)
      graft.ops.Dedup.contentFingerprints(base, Seq("text"))
        .write.format("parquet").mode("overwrite").saveAsTable(fpT)
      val dd = graft.ops.Dedup.exactDedup(base,
        contentCols = Seq("text"), tiebreak = Seq("id"))
      val contam = dd.select(col("id"),
          explode(TextOps.wordShingles(col("text"), 8)).as("s"))
        .join(broadcast(s.table(evalT)), Seq("s"), "left_semi")
        .select("id").distinct()
      Corpus.packByTokenBudget(
          dd.join(contam, Seq("id"), "left_anti")
            .select(col("id"), pmod(col("id"), lit(4L)).as("shard"),
              col("n_tok").cast("long").as("n_tokens")),
          shardCol = "shard", orderCol = "id",
          tokenCol = "n_tokens", budget = 1000L)
        .write.format("parquet").mode("overwrite").saveAsTable(packT)
    }
    (fpT, packT, evalT)
  }

  /** One-time content-addressed store builds, run untimed
    * ([[Registry.prepares]]). */
  val InvertedIndex = Prepare("inverted_index", incrIndexTable(_, _))
  val TakedownIndex = Prepare("takedown_index", takedownIndexTable(_, _))
  val CrossTakedownStores =
    Prepare("cross_takedown_stores", crossTdStores(_, _))
  val ConvPrefixIndex = Prepare("conv_prefix_index", convPrefixIndexTable(_, _))
  val CurationCapstoneStores =
    Prepare("curation_capstone_stores", capstoneStores(_, _))

  def all: Seq[Q] = Seq(

    // ---- top-3 terms per doc by exact-integer tf-rarity ---------------
    // (ln-free TF-IDF stand-in: floor(1000·tf/df + .5) — IEEE division
    // reproduces across engines, libm ln does not; see Corpus scaladoc)
    Q("q_tfidf_topterms",
      (s, d) => Corpus.topTermsPerDoc(
          documents(s, d), "doc_id", "text", k = 3)
        .orderBy("id", "rank"),
      Some("""
        |WITH terms AS (SELECT doc_id AS id,
        |    unnest(string_split_regex(trim(lower(text)), '[ \t\n\r\f]+')) AS term
        |  FROM documents),
        |t AS (SELECT * FROM terms WHERE term <> ''),
        |tf AS (SELECT id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(DISTINCT id) AS df FROM t GROUP BY 1),
        |scored AS (SELECT id, term, tf, df,
        |    CAST(floor(1000.0 * tf / df + 0.5) AS BIGINT) AS score_milli
        |  FROM tf JOIN dfreq USING (term)),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY id
        |    ORDER BY score_milli DESC, term ASC) AS rank FROM scored)
        |SELECT id, rank, term, tf, df, score_milli FROM ranked
        |WHERE rank <= 3 ORDER BY id, rank
        |""".stripMargin.trim)),

    // ---- deterministic stratified sample: 20 docs per language --------
    // (md5-rank sampling: seedless, engine-portable, stable under
    // corpus growth — previously sampled ids keep their rank)
    Q("q_sample_stratified",
      (s, d) => Corpus.stratifiedHashSample(
          documents(s, d).select("doc_id", "lang"),
          strata = Seq("lang"), idCol = "doc_id", k = 20)
        .orderBy("lang", "sample_rank"),
      Some("""
        |SELECT doc_id, lang, sample_rank FROM (
        |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
        |    AS sample_rank
        |  FROM documents)
        |WHERE sample_rank <= 20 ORDER BY lang, sample_rank
        |""".stripMargin.trim)),

    // ---- bounded-reservoir sample (aggregate form, seeded) ------------
    // The unknown-n single-pass sibling of q_sample_stratified: the
    // SAME md5-priority sample computed as partial-aggregable bounded
    // state (ReservoirAgg — k pairs per map task per stratum, no
    // per-group sort) instead of a rank window. The oracle is the
    // window formulation — pinning the aggregate and window forms
    // equal cross-engine. Seed ':7' varies the draw vs the seedless
    // stratified gate.
    Q("q_reservoir_sample",
      (s, d) => Corpus.reservoirSample(
          documents(s, d).select("doc_id", "lang"),
          strata = Seq("lang"), idCol = "doc_id", k = 15, seed = "7")
        .select("doc_id", "lang", "sample_rank")
        .orderBy("lang", "sample_rank"),
      Some("""
        |SELECT doc_id, lang, sample_rank FROM (
        |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':7') ASC,
        |        doc_id ASC)
        |    AS sample_rank
        |  FROM documents)
        |WHERE sample_rank <= 15 ORDER BY lang, sample_rank
        |""".stripMargin.trim)),

    // ---- per-source quota cap (crawl-balance curation) ----------------
    // Cap every source at 40 docs via the same deterministic md5-rank —
    // the standard guard against one domain dominating a training mix.
    Q("q_source_quota",
      (s, d) => Corpus.stratifiedHashSample(
          documents(s, d).select("doc_id", "source"),
          strata = Seq("source"), idCol = "doc_id", k = 40)
        .orderBy("source", "sample_rank"),
      Some("""
        |SELECT doc_id, source, sample_rank FROM (
        |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
        |    AS sample_rank
        |  FROM documents)
        |WHERE sample_rank <= 40 ORDER BY source, sample_rank
        |""".stripMargin.trim)),

    // ---- per-source TOKEN-budget cap (volume, not count) --------------
    // Admit each source's docs in md5-rank order until the source has
    // spent its 3000-char budget (one straddling doc allowed) — caps a
    // domain's VOLUME share of the mix where q_source_quota caps its
    // doc count. One stratum shuffle + streaming rows-frame window.
    Q("q_token_quota",
      (s, d) => Corpus.costBudgetCap(
          documents(s, d).select("doc_id", "source", "n_chars"),
          strataCol = "source", idCol = "doc_id", costCol = "n_chars",
          budget = 3000L)
        .orderBy("source", "cum_cost", "doc_id"),
      Some("""
        |WITH c AS (SELECT doc_id, source, n_chars,
        |    CAST(sum(n_chars) OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_cost
        |  FROM documents)
        |SELECT doc_id, source, n_chars, cum_cost FROM c
        |WHERE cum_cost - n_chars < 3000
        |ORDER BY source, cum_cost, doc_id
        |""".stripMargin.trim)),

    // ---- temperature-rebalanced multilingual mixture ------------------
    // 200 slots apportioned across languages ∝ √n (temperature-2
    // tail-upsampling, the mBERT/XLM-R rebalance), largest-remainder
    // integer apportionment (quotas sum to exactly 200), md5-rank fill.
    // isqrt + integer shares keep both engines on the same grid; the
    // apportionment windows run over the 5-row language aggregate.
    Q("q_lang_rebalance",
      (s, d) => Corpus.temperatureRebalance(
          documents(s, d).select("doc_id", "lang"),
          strataCol = "lang", idCol = "doc_id", totalK = 200)
        .orderBy("lang", "samp_rank"),
      Some(s"""
        |WITH cnt AS (SELECT lang, count(*) AS n FROM documents
        |  GROUP BY lang),
        |wt AS (SELECT lang, n, ${Corpus.isqrtSql("n")} AS wt FROM cnt),
        |tot AS (SELECT lang, n, wt,
        |    CAST(sum(wt) OVER () AS BIGINT) AS s FROM wt),
        |app AS (SELECT lang, wt * 200 // s AS base, (wt * 200) % s AS rem,
        |    200 - CAST(sum(wt * 200 // s) OVER () AS BIGINT) AS deficit,
        |    row_number() OVER (ORDER BY (wt * 200) % s DESC, lang ASC)
        |      AS rr
        |  FROM tot),
        |q AS (SELECT lang, CAST(base
        |    + CASE WHEN rr <= deficit THEN 1 ELSE 0 END AS BIGINT)
        |      AS quota FROM app),
        |r AS (SELECT d.doc_id, d.lang,
        |    row_number() OVER (PARTITION BY d.lang
        |      ORDER BY md5(CAST(d.doc_id AS VARCHAR)) ASC, d.doc_id ASC)
        |      AS samp_rank, q.quota
        |  FROM documents d JOIN q ON q.lang = d.lang)
        |SELECT doc_id, lang, samp_rank, quota FROM r
        |WHERE samp_rank <= quota ORDER BY lang, samp_rank
        |""".stripMargin.trim)),

    // ---- epoch-repeat expansion with repeat cap -----------------------
    // Fill each language toward 250 docs by REPEATING its corpus
    // across epochs, capped at 3 — the pretraining repeat-cap
    // discipline (rare languages repeat, but never more than the cap;
    // capped languages stay underfilled). At sf0.01: en (218) takes 1
    // full epoch + a 32-doc md5-prefix partial; zh/es/de/fr all hit
    // the 3-epoch cap. Stratum params broadcast; the expansion is an
    // output-sized explode(sequence).
    Q("q_epoch_repeat",
      (s, d) => Corpus.epochRepeat(
          documents(s, d).select("doc_id", "lang"),
          strataCol = "lang", idCol = "doc_id",
          targetPerStratum = 250L, maxEpochs = 3)
        .orderBy("lang", "doc_id", "epoch"),
      Some("""
        |WITH cnt AS (SELECT lang, count(*) AS n FROM documents
        |  GROUP BY lang),
        |par AS (SELECT lang, n, least(3, 250 // n) AS full_e,
        |    CASE WHEN least(3, 250 // n) < 3
        |      THEN 250 - least(3, 250 // n) * n ELSE 0 END AS rem
        |  FROM cnt),
        |r AS (SELECT d.doc_id, d.lang,
        |    row_number() OVER (PARTITION BY d.lang
        |      ORDER BY md5(CAST(d.doc_id AS VARCHAR)) ASC, d.doc_id ASC)
        |      AS rk,
        |    p.full_e, p.rem
        |  FROM documents d JOIN par p ON p.lang = d.lang),
        |e AS (SELECT doc_id, lang,
        |    full_e + CASE WHEN rk <= rem THEN 1 ELSE 0 END AS n_epochs
        |  FROM r)
        |SELECT doc_id, lang, CAST(epoch AS INTEGER) AS epoch
        |FROM (SELECT doc_id, lang,
        |    unnest(range(1, n_epochs + 1)) AS epoch
        |  FROM e WHERE n_epochs >= 1)
        |ORDER BY lang, doc_id, epoch
        |""".stripMargin.trim)),

    // ---- targeted domain-relevance scoring (DSIR-flavored) ------------
    // Treat src0's docs as the target domain; score EVERY doc by the
    // mean hashed-token-bucket relevance ratio (target share / corpus
    // share, integer milli) — the "select corpus docs most like my
    // target domain" curation step. Two streamed passes (learn the
    // 64-row bucket table, then score against its broadcast); the
    // additive-mean form keeps DSIR's estimation/scoring split in
    // exact integer arithmetic.
    Q("q_domain_relevance",
      (s, d) => Corpus.domainRelevance(
          documents(s, d).select("doc_id", "source", "text"),
          idCol = "doc_id", textCol = "text",
          isTarget = col("source") === "src0", buckets = 64)
        .orderBy("doc_id"),
      Some(s"""
        |WITH ${Corpus.domainRelevanceSql("documents", "doc_id",
             "text", "source = 'src0'", 64)}
        |SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |  CAST(sum(rel_milli) // count(*) AS BIGINT) AS score_milli
        |FROM dr_tok JOIN dr_rel USING (b)
        |GROUP BY id ORDER BY doc_id
        |""".stripMargin.trim)),

    // ---- DSIR loop closed: importance-resample by domain relevance ----
    // The full Xie et al. shape composed from owned operators:
    // domainRelevance learns per-doc importance, prioritySample
    // (Duffield-Lund-Thorup) draws k docs weight-proportionally
    // without replacement. +1 smoothing keeps zero-score docs
    // sampleable (DSIR's regularized weights); every step stays on
    // the engine-exact integer/dyadic grid.
    Q("q_dsir_sample",
      (s, d) => {
        val scored = Corpus.domainRelevance(
            documents(s, d).select("doc_id", "source", "text"),
            idCol = "doc_id", textCol = "text",
            isTarget = col("source") === "src0", buckets = 64)
          .withColumn("w", col("score_milli") + 1L)
        Corpus.prioritySample(scored, idCol = "doc_id",
            weightCol = "w", k = 100)
          .orderBy(col("prio_milli").desc, col("doc_id").asc)
      },
      Some(s"""
        |WITH ${Corpus.domainRelevanceSql("documents", "doc_id",
             "text", "source = 'src0'", 64)},
        |sc AS (SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |    CAST(sum(rel_milli) // count(*) AS BIGINT) AS score_milli
        |  FROM dr_tok JOIN dr_rel USING (b) GROUP BY id),
        |h AS (SELECT doc_id, n_toks, score_milli,
        |    score_milli + 1 AS w,
        |    ${Corpus.priorityHashSql("CAST(doc_id AS VARCHAR)")} AS v
        |  FROM sc)
        |SELECT doc_id, n_toks, score_milli, CAST(w AS BIGINT) AS w,
        |  CAST(floor(w * 131072.0 / (2 * v + 1) * 1000.0 + 0.5)
        |    AS BIGINT) AS prio_milli
        |FROM h ORDER BY prio_milli DESC, doc_id ASC LIMIT 100
        |""".stripMargin.trim)),

    // ---- cross-source overlap matrix (KMV sketch Jaccard) -------------
    // For every source pair, the KMV-estimated Jaccard of their
    // distinct 3-gram sets — the mixture-design diagnostic for "domain
    // A largely mirrors domain B" — from 64 hashes per source instead
    // of a cross-source distinct join. Pair work is #sources²·k rows:
    // sketch-sized, never corpus-sized.
    Q("q_source_overlap",
      (s, d) => Corpus.kmvOverlap(
          documents(s, d).select(col("source"),
            explode(TextOps.wordShingles(col("text"), 3)).as("sh")),
          strataCol = "source", itemCol = "sh", k = 64)
        .orderBy("sa", "sb"),
      Some("""
        |WITH t AS (SELECT source,
        |    string_split_regex(trim(text), '[ \t\n\r\f]+') AS toks
        |  FROM documents),
        |sh AS (SELECT DISTINCT source, md5(sh) AS h FROM (
        |    SELECT source,
        |      unnest(list_transform(range(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |        AS sh
        |    FROM t WHERE len(toks) >= 3)),
        |sk AS (SELECT source, h FROM (SELECT source, h,
        |    row_number() OVER (PARTITION BY source ORDER BY h ASC) AS r
        |  FROM sh) WHERE r <= 64),
        |srcs AS (SELECT DISTINCT source FROM sk),
        |pairs AS (SELECT a.source AS sa, b.source AS sb
        |  FROM srcs a, srcs b WHERE a.source < b.source),
        |u AS (SELECT sa, sb, h, max(ina) AS ina, max(inb) AS inb FROM (
        |    SELECT p.sa, p.sb, s.h, 1 AS ina, 0 AS inb
        |    FROM pairs p JOIN sk s ON s.source = p.sa
        |    UNION ALL
        |    SELECT p.sa, p.sb, s.h, 0 AS ina, 1 AS inb
        |    FROM pairs p JOIN sk s ON s.source = p.sb)
        |  GROUP BY sa, sb, h),
        |ru AS (SELECT sa, sb, ina, inb,
        |    row_number() OVER (PARTITION BY sa, sb ORDER BY h ASC) AS r
        |  FROM u)
        |SELECT sa, sb,
        |  CAST(sum(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS m,
        |  CAST(sum(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END)
        |    * 1000 // 64 AS BIGINT) AS jaccard_milli
        |FROM ru WHERE r <= 64 GROUP BY sa, sb ORDER BY sa, sb
        |""".stripMargin.trim)),

    // ---- weight-proportional doc sampling (priority sampling) ---------
    // Duffield–Lund–Thorup priority sampling, weighted by document
    // length: q = w/u with u a dyadic md5-derived uniform, keep the
    // 100 largest — length-proportional selection without replacement,
    // the token-budget-biased cousin of the uniform md5-rank gates.
    // Ranking is by the 1/1000-quantized priority (+ id tie-break) so
    // both engines rank on the same integer grid; the priority itself
    // is one IEEE multiply+divide — no libm anywhere.
    Q("q_weighted_sample",
      (s, d) => Corpus.prioritySample(
          documents(s, d).select("doc_id", "source", "n_chars")
            .filter(col("n_chars") > 0),
          idCol = "doc_id", weightCol = "n_chars", k = 100)
        .orderBy(col("prio_milli").desc, col("doc_id").asc),
      Some(s"""
        |WITH h AS (SELECT doc_id, source, n_chars,
        |    ${Corpus.priorityHashSql("CAST(doc_id AS VARCHAR)")} AS v
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, source, n_chars,
        |  CAST(floor(n_chars * 131072.0 / (2 * v + 1) * 1000.0 + 0.5)
        |    AS BIGINT) AS prio_milli
        |FROM h ORDER BY prio_milli DESC, doc_id ASC LIMIT 100
        |""".stripMargin.trim)),

    // ---- token-budget packing into 1000-token bins, 8 shards ----------
    // (greedy sequential fill per shard; bin = tokens-before div budget
    // — exact integer math, shards give the parallelism)
    Q("q_token_packing",
      (s, d) => Corpus.packByTokenBudget(
          shardTokens(s, d),
          shardCol = "shard", orderCol = "doc_id",
          tokenCol = "n_tokens", budget = 1000L)
        .orderBy("shard", "doc_id"),
      Some(s"""
        |WITH $shardTokensSql,
        |c AS (SELECT doc_id, shard, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_tokens
        |  FROM t)
        |SELECT doc_id, shard, n_tokens, cum_tokens,
        |  (cum_tokens - n_tokens) // 1000 AS bin
        |FROM c ORDER BY shard, doc_id
        |""".stripMargin.trim)),

    // ---- GPT-style concat-and-split into 512-token context windows ----
    // (docs concatenated per shard, token stream cut at fixed windows
    // crossing doc boundaries; one row per doc×window overlap with the
    // doc-relative span — the attention-reset metadata. A >512-token
    // doc spans multiple rows. Exact integers; explode bounded by
    // ceil(tokens/window).)
    Q("q_pack_concat_split",
      (s, d) => Corpus.concatSplitWindows(
          shardTokens(s, d),
          shardCol = "shard", orderCol = "doc_id",
          tokenCol = "n_tokens", window = 512L)
        .orderBy("doc_id", "win"),
      Some(s"""
        |WITH $shardTokensSql,
        |c AS (SELECT doc_id, shard, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum FROM t WHERE n_tokens > 0),
        |e AS (SELECT doc_id, shard, n_tokens, cum - n_tokens AS off,
        |    unnest(generate_series((cum - n_tokens) // 512,
        |      (cum - 1) // 512)) AS win
        |  FROM c)
        |SELECT doc_id, shard, n_tokens, off, win,
        |  greatest(0, win * 512 - off) AS a_tok,
        |  least(n_tokens, (win + 1) * 512 - off) AS b_tok
        |FROM e ORDER BY doc_id, win
        |""".stripMargin.trim)),

    // ---- length-bucketed packing (no-split SFT batching) --------------
    // (The other standard packing strategy next to concat-split:
    // power-of-two length buckets, k = capacity/bucket docs per bin,
    // overflow docs truncated one-per-bin. Token counts planted ×3
    // for doc_id%7 and ×2 for doc_id%5 so all four buckets AND the
    // overflow class populate at capacity 128.)
    Q("q_pack_length_buckets",
      (s, d) => Corpus.lengthBucketPacking(
          documents(s, d).select(col("doc_id"),
            (graft.ops.TextOps.tokenCount(col("text")).cast("long") *
              when(col("doc_id") % 7 === 0, 3L)
                .when(col("doc_id") % 5 === 0, 2L).otherwise(1L))
              .as("n_tokens")),
          idCol = "doc_id", nTokCol = "n_tokens",
          capacity = 128, minBucket = 16)
        .orderBy("doc_id"),
      Some(PackOracle.assignSql)),

    // ---- packing-plan datasheet: per-bucket padding economics ---------
    Q("q_pack_bucket_stats",
      (s, d) => Corpus.lengthBucketStats(
          Corpus.lengthBucketPacking(
            documents(s, d).select(col("doc_id"),
              (graft.ops.TextOps.tokenCount(col("text")).cast("long") *
                when(col("doc_id") % 7 === 0, 3L)
                  .when(col("doc_id") % 5 === 0, 2L).otherwise(1L))
                .as("n_tokens")),
            idCol = "doc_id", nTokCol = "n_tokens",
            capacity = 128, minBucket = 16),
          capacity = 128)
        .orderBy("bucket"),
      Some(PackOracle.statsSql)),

    // ---- conversation-tree prefix dedup (SFT over-weighting) ----------
    // Sampled-response SFT corpora carry many conversations with
    // IDENTICAL leading turns (shared system+user context, different
    // continuations); exact and near dedup both miss it because the
    // FULL conversations differ. Cumulative prefix fingerprints find,
    // per conversation, the longest prefix shared with any other —
    // one (position, fingerprint) shuffle, never pairwise — and emit
    // the training action: supervise only from trainable_from_turn on
    // (prefix-masked SFT; a fully-duplicated conversation masks
    // entirely). The plant derives a conversation TREE from doc ids
    // (turn i's content comes from the id's 2^(4-i)-block leader, so
    // octet-mates share turn 1, quad-mates turns 1-2, pair-mates
    // turns 1-3) with 2-4 turns per conv — every sharing depth and
    // the truncated-sibling case (a pair-mate too short to extend the
    // match) are exercised on any fixture.
    Q("q_conv_prefix_dedup",
      (s, d) => {
        graft.ops.TextOps.sharedPrefixTurns(
            plantedConvs(s, d), "doc_id", "turns")
          .withColumnRenamed("doc_id", "conv_id")
          .orderBy("conv_id")
      },
      Some(s"""
        |WITH $convPlantSql,
        |cpf AS (SELECT doc_id, n_turns, CAST(u.p AS BIGINT) AS p,
        |    md5(array_to_string(turns[1:u.p], chr(31))) AS fp
        |  FROM cpd, unnest(generate_series(1, 4)) AS u(p)
        |  WHERE u.p <= n_turns),
        |cpc AS (SELECT p, fp, count(*) AS m FROM cpf GROUP BY 1, 2)
        |SELECT doc_id AS conv_id, n_turns,
        |  CAST(coalesce(max(CASE WHEN m >= 2 THEN p END), 0) AS BIGINT)
        |    AS shared_prefix_turns,
        |  CAST(coalesce(max(CASE WHEN m >= 2 THEN p END), 0) + 1
        |    AS BIGINT) AS trainable_from_turn
        |FROM cpf JOIN cpc USING (p, fp)
        |GROUP BY 1, 2 ORDER BY conv_id
        |""".stripMargin.trim)),

    // ---- incremental conversation-prefix dedup ------------------------
    // The ingest-time face: an arriving batch of conversations is
    // checked against the STORED prefix-fingerprint index (one
    // (p, fp) equi-join — historical conversations never rescan) plus
    // itself. The batch plants all three fates: every 5k-th base doc
    // contributes a truncated REPLAY of its stored conversation (full
    // prefix stored, depth varies with the pair-block's turn counts),
    // every 5k+1-th shares two stored turns then diverges fresh, the
    // rest are wholly new (within-batch distinct, cross-store
    // unseen). The stored index is the additive (p, fp, n) sufficient
    // statistic, so this batch's own index folds in afterwards by
    // union + re-aggregate — never a corpus replay.
    Q("q_incr_conv_prefix",
      (s, d) => {
        val idxT = convPrefixIndexTable(s, d)
        val id = col("doc_id")
        val bid = (id + 5000000L).as("conv_id")
        val replay = documents(s, d).filter(id % 5 === 0)
          .select(bid, transform(
            sequence(lit(1), (lit(2) + pmod(id, lit(2))).cast("int"),
              lit(1)),
            i => convTurn(id, i)).as("turns"))
        val diverge = documents(s, d).filter(id % 5 === 1)
          .select(bid, array(convTurn(id, lit(1)), convTurn(id, lit(2)),
            concat(lit("fresh "), id.cast("string"))).as("turns"))
        val fresh = documents(s, d).filter(id % 5 >= 2)
          .select(bid, array(
            concat(lit("new "), id.cast("string"), lit(" a")),
            concat(lit("new "), id.cast("string"), lit(" b")))
            .as("turns"))
        graft.ops.TextOps.sharedPrefixAgainstIndex(
            replay.unionByName(diverge).unionByName(fresh),
            "conv_id", "turns", s.table(idxT))
          .orderBy("conv_id")
      },
      Some(s"""
        |WITH $convPlantSql,
        |spf AS (SELECT doc_id, n_turns, CAST(u.p AS BIGINT) AS p,
        |    md5(array_to_string(turns[1:u.p], chr(31))) AS fp
        |  FROM cpd, unnest(generate_series(1, 4)) AS u(p)
        |  WHERE u.p <= n_turns),
        |spi AS (SELECT p, fp, count(*) AS ms FROM spf GROUP BY 1, 2),
        |bat AS (
        |  SELECT doc_id + 5000000 AS conv_id,
        |    CAST(2 + doc_id % 2 AS BIGINT) AS n_turns,
        |    list_transform(range(1, CAST(2 + doc_id % 2 AS INT) + 1),
        |      i -> 'turn' || CAST(i AS VARCHAR) || ' of ' ||
        |        CAST(doc_id - doc_id % (CASE WHEN i = 1 THEN 8
        |          WHEN i = 2 THEN 4 WHEN i = 3 THEN 2 ELSE 1 END)
        |          AS VARCHAR)) AS turns
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 5000000, CAST(3 AS BIGINT),
        |    ['turn1 of ' || CAST(doc_id - doc_id % 8 AS VARCHAR),
        |     'turn2 of ' || CAST(doc_id - doc_id % 4 AS VARCHAR),
        |     'fresh ' || CAST(doc_id AS VARCHAR)]
        |  FROM documents WHERE doc_id % 5 = 1
        |  UNION ALL
        |  SELECT doc_id + 5000000, CAST(2 AS BIGINT),
        |    ['new ' || CAST(doc_id AS VARCHAR) || ' a',
        |     'new ' || CAST(doc_id AS VARCHAR) || ' b']
        |  FROM documents WHERE doc_id % 5 >= 2),
        |bfp AS (SELECT conv_id, n_turns, CAST(u.p AS BIGINT) AS p,
        |    md5(array_to_string(turns[1:u.p], chr(31))) AS fp
        |  FROM bat, unnest(generate_series(1, 4)) AS u(p)
        |  WHERE u.p <= n_turns),
        |bwc AS (SELECT p, fp, count(*) AS mb FROM bfp GROUP BY 1, 2)
        |SELECT conv_id, n_turns,
        |  CAST(coalesce(max(CASE WHEN mb >= 2 OR ms >= 1 THEN p END), 0)
        |    AS BIGINT) AS shared_prefix_turns,
        |  CAST(coalesce(max(CASE WHEN mb >= 2 OR ms >= 1 THEN p END), 0)
        |    + 1 AS BIGINT) AS trainable_from_turn
        |FROM bfp JOIN bwc USING (p, fp)
        |LEFT JOIN spi USING (p, fp)
        |GROUP BY 1, 2 ORDER BY conv_id
        |""".stripMargin.trim),
      stores = Seq(ConvPrefixIndex)),

    // ---- streaming conversation-prefix ingest --------------------------
    // The online face of the conversation dedup triad: conversations
    // arrive in micro-batches (derived per batch from the streamed
    // documents source), each batch's prefix fingerprints fold into
    // the running additive index, and the folded index must be
    // bit-identical to the batch build — stream ≡ incremental ≡
    // batch ≡ oracle, the same parity the pair-matrix and near-dup
    // paths carry. Output is the full (p, fp, n) index, ordered.
    Q("q_stream_conv_prefix",
      (s, d) => {
        val s2 = graft.streaming.StreamingOps.session(s)
        val docStream = graft.streaming.StreamingOps.fixtureStream(
          s2.readStream.schema("doc_id LONG").option("maxFilesPerTrigger", 1),
          d, "documents")
        val id = col("doc_id")
        val convStream = docStream.select(id,
          transform(
            sequence(lit(1), (lit(2) + pmod(id, lit(3))).cast("int"),
              lit(1)),
            i => convTurn(id, i)).as("turns"))
        graft.streaming.StreamingOps
          .streamingPrefixIndex(convStream, "doc_id", "turns")
          .orderBy("p", "fp")
      },
      Some(s"""
        |WITH $convPlantSql,
        |scf AS (SELECT doc_id, CAST(u.p AS BIGINT) AS p,
        |    md5(array_to_string(turns[1:u.p], chr(31))) AS fp
        |  FROM cpd, unnest(generate_series(1, 4)) AS u(p)
        |  WHERE u.p <= n_turns)
        |SELECT p, fp, CAST(count(*) AS BIGINT) AS n
        |FROM scf GROUP BY 1, 2 ORDER BY p, fp
        |""".stripMargin.trim)),

    // ---- supervised-token accounting per packed window ----------------
    // The composition the two SFT operators exist for: conversations
    // (80-char-chunk turns, user/assistant alternating) are packed
    // GPT-style across doc boundaries into 128-token windows, and each
    // (doc, window) overlap row gets the count of ASSISTANT tokens
    // inside it — span-intersection of the loss masks with the window
    // boundaries, all doc-relative integer arithmetic. The per-window
    // supervised fraction is what a trainer reads to drop all-masked
    // windows. Spans and windows are both ≤ a handful per doc; the
    // join is on the doc key (co-partitioned, delta-free).
    Q("q_sft_masked_pack",
      (s, d) => {
        val convs = documents(s, d)
          .select(col("doc_id"), TextQueries.chatTurns.as("turns"))
        val totals = convs.select(col("doc_id"),
          pmod(col("doc_id"), lit(8L)).as("shard"),
          expr("aggregate(transform(turns, t -> CAST(size(split(" +
            "trim(t.content), '[ \\\\t\\\\n\\\\r\\\\f]+')) AS BIGINT))," +
            " 0L, (a, x) -> a + x)").as("n_tokens"))
        val windows = Corpus.concatSplitWindows(totals,
          shardCol = "shard", orderCol = "doc_id",
          tokenCol = "n_tokens", window = 128L)
          .select(col("doc_id"), col("win"), col("a_tok"), col("b_tok"))
        val spans = graft.ops.TextOps
          .lossMaskSpans(convs, "doc_id", "turns")
          .select(col("doc_id"), col("a_tok").as("sa"),
            col("b_tok").as("sb"))
        // greatest/least SKIP nulls (both engines), so the
        // no-assistant left-join row must short-circuit explicitly
        windows.join(spans, Seq("doc_id"), "left")
          .groupBy("doc_id", "win", "a_tok", "b_tok")
          .agg(sum(when(col("sa").isNull, lit(0L))
            .otherwise(greatest(lit(0L),
              least(col("sb"), col("b_tok")) -
                greatest(col("sa"), col("a_tok")))))
            .as("supervised_tokens"))
          .withColumn("window_tokens", col("b_tok") - col("a_tok"))
          .withColumn("supervised_frac_milli",
            expr("supervised_tokens * 1000L DIV window_tokens"))
          .orderBy("doc_id", "win")
      },
      Some(s"""
        |WITH ${OracleSql.chatTurns},
        |tot AS (SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(sum(cnt) AS BIGINT) AS n_tokens
        |  FROM turns GROUP BY doc_id),
        |c AS (SELECT doc_id, shard, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum FROM tot WHERE n_tokens > 0),
        |w AS (SELECT doc_id, cum - n_tokens AS off, n_tokens,
        |    unnest(generate_series((cum - n_tokens) // 128,
        |      (cum - 1) // 128)) AS win
        |  FROM c),
        |wb AS (SELECT doc_id, win,
        |    greatest(0, win * 128 - off) AS a_tok,
        |    least(n_tokens, (win + 1) * 128 - off) AS b_tok
        |  FROM w),
        |sp AS (SELECT doc_id,
        |    CAST(COALESCE(sum(cnt) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS sa,
        |    CAST(sum(cnt) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS sb,
        |    role
        |  FROM turns),
        |j AS (SELECT wb.doc_id, wb.win, wb.a_tok, wb.b_tok,
        |    CAST(COALESCE(sum(CASE WHEN sp.sa IS NULL THEN 0
        |      ELSE greatest(0,
        |        least(sp.sb, wb.b_tok) - greatest(sp.sa, wb.a_tok))
        |      END), 0) AS BIGINT) AS supervised_tokens
        |  FROM wb LEFT JOIN (SELECT * FROM sp WHERE role = 'assistant')
        |    sp ON sp.doc_id = wb.doc_id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, win, a_tok, b_tok, supervised_tokens,
        |  b_tok - a_tok AS window_tokens,
        |  (supervised_tokens * 1000) // (b_tok - a_tok)
        |    AS supervised_frac_milli
        |FROM j ORDER BY doc_id, win
        |""".stripMargin.trim)),

    // ---- deterministic 80/10/10 train/val/test split ------------------
    // (md5-prefix range assignment: seedless, engine-portable, stable
    // under corpus growth — a doc's split never changes when other
    // docs arrive. Pure projection: scan-speed at 100 TB.)
    Q("q_corpus_split",
      (s, d) => Corpus.deterministicSplit(
          documents(s, d).select("doc_id", "lang"),
          keyCols = Seq("doc_id"),
          splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy("doc_id"),
      Some(s"""
        |SELECT doc_id, lang,
        |  ${Corpus.deterministicSplitSql("CAST(doc_id AS VARCHAR)",
               Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))} AS split
        |FROM documents ORDER BY doc_id
        |""".stripMargin.trim)),

    // ---- inverted index: term -> df + sorted postings ------------------
    // The retrieval-side artifact of the corpus: one partial-aggregable
    // (term) shuffle. The array postings form is the bounded-vocabulary
    // verification shape; Retrieval's scaladoc documents the (term, id)
    // row form for 100 TB posting lists.
    Q("q_inverted_index",
      (s, d) => graft.ops.Retrieval.invertedIndex(
          documents(s, d), "doc_id", "text")
        .orderBy("term"),
      Some(invertedIndexOracle)),

    // ---- deterministic training-mixture sample -------------------------
    // The domain-reweighting knob: unequal per-source quotas (src0=30
    // — clamped to the 25 available, src1=10, src2=5; everything else
    // excluded) filled by md5 rank, reproducible and growth-stable.
    // The oracle replays the rank window with the same quota CASE.
    Q("q_mixture_sample",
      (s, d) => Corpus.mixtureSample(
          documents(s, d).select("doc_id", "source"),
          sourceCol = "source", idCol = "doc_id",
          quotas = Map("src0" -> 30, "src1" -> 10, "src2" -> 5))
        .orderBy("source", "sample_rank"),
      Some("""
        |SELECT doc_id, source, sample_rank FROM (
        |  SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 30 WHEN 'src1' THEN 10
        |      WHEN 'src2' THEN 5 ELSE -1 END AS q,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
        |      AS sample_rank
        |  FROM documents)
        |WHERE q > 0 AND sample_rank <= q
        |ORDER BY source, sample_rank
        |""".stripMargin.trim)),

    // ---- deterministic training-order shuffle --------------------------
    // The "shuffle before training" step as a FULL permutation:
    // position = dense global index along md5(id ‖ seed) order —
    // reproducible on any cluster, seed varies the epoch order, and
    // the index comes from the two-pass prefix-scan (GlobalOrder), not
    // the single-partition row_number() cliff. Oracle replays the
    // permutation with a rank window.
    Q("q_corpus_shuffle",
      (s, d) => graft.ops.GlobalOrder.withGlobalIndex(
          documents(s, d).select("doc_id", "lang"),
          Seq(md5(concat(col("doc_id").cast("string"), lit(":ep1"))).asc,
            col("doc_id").asc),
          out = "shuffle_pos")
        .select("shuffle_pos", "doc_id", "lang")
        .orderBy("shuffle_pos"),
      Some("""
        |SELECT row_number() OVER (
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':ep1') ASC,
        |      doc_id ASC) - 1 AS shuffle_pos,
        |  doc_id, lang
        |FROM documents ORDER BY shuffle_pos
        |""".stripMargin.trim)),

    // ---- vocabulary spectrum (count-of-counts, Zipf diagnostics) ------
    // Corpus-health analytics: how many distinct terms occur exactly c
    // times. Two partial-aggregable shuffles (term counts, then
    // count-of-counts); the spectrum is vocabulary-sized then
    // distinct-count-sized — KB output from any corpus size.
    Q("q_vocab_spectrum",
      (s, d) => documents(s, d)
        .select(explode(filter(
          split(trim(lower(col("text"))), "[ \\t\\n\\r\\f]+"),
          t => t =!= "")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("c"))
        .groupBy("c").agg(count(lit(1)).as("n_terms"))
        .orderBy("c"),
      Some("""
        |WITH t AS (SELECT unnest(string_split_regex(trim(lower(text)),
        |    '[ \t\n\r\f]+')) AS term FROM documents),
        |tc AS (SELECT term, count(*) AS c FROM t WHERE term <> ''
        |  GROUP BY term)
        |SELECT c, CAST(count(*) AS BIGINT) AS n_terms
        |FROM tc GROUP BY c ORDER BY c
        |""".stripMargin.trim)),

    // ---- persisted index: build → incremental append → assemble ------
    // The stored (term, id) row-form index round-trip: corpus minus a
    // holdout indexed and written partitioned by term prefix, the
    // holdout's postings APPENDED (the posting merge is structural —
    // new pairs land beside old ones, no read-modify-write, no
    // rebuild), and the merged store assembled back to the
    // (term, df, postings) shape. Its oracle is invertedIndexOracle:
    // the incremental path must be bit-identical to a full rebuild over
    // the whole corpus.
    Q("q_incr_index_maintain",
      (s, d) => graft.ops.InvertedIndexStore
        .assemble(s, incrIndexTable(s, d)).orderBy("term"),
      Some(invertedIndexOracle),
      stores = Seq(InvertedIndex)),

    // ---- index compaction: assembly invariant, files bounded ----------
    // The maintenance pass of the append-maintained store: after the
    // build+append lifecycle each touched prefix partition holds 2
    // files; compaction clusters rows back to their partition key and
    // swaps the table (one file per partition). The gate assembles the
    // COMPACTED store against invertedIndexOracle — content
    // must be untouched; the file-count drop is pinned in
    // CompactionSpec.
    Q("q_index_compaction",
      (s, d) => {
        val tbl = incrIndexTable(s, d)
        graft.ops.Compaction.compactPartitionedTable(s, tbl)
        graft.ops.InvertedIndexStore.assemble(s, tbl).orderBy("term")
      },
      Some(invertedIndexOracle),
      stores = Seq(InvertedIndex)),

    // ---- BM25 answered from the persisted store only ------------------
    // The sufficient-statistics contract of the stored index: tf rides
    // in the pruned posting lookup, df derives from the looked-up
    // lists, dl/N/total-token-mass come from the doc-stats side table
    // — NO text is touched at query time, and the store is the same
    // incremental build+append as q_incr_index_maintain. Its oracle is
    // q_bm25_topk's bm25TopkOracle: score expression and ranking are
    // the same shared objects, so stored scoring must be bit-identical
    // to payload scoring over the full corpus.
    Q("q_bm25_from_store",
      (s, d) => graft.ops.InvertedIndexStore.bm25FromStore(
          s, incrIndexTable(s, d),
          queryTerms = Seq("batch", "join", "filter"), k = 20)
        .orderBy("rank"),
      Some(bm25TopkOracle),
      stores = Seq(InvertedIndex)),

    // ---- takedown sweep: the store must FORGET, cheaply --------------
    // The deletion path (takedown / consent revocation): the removal
    // set (doc_id % 37 == 0) is TOMBSTONED beside the dedicated index
    // at build time — O(|removal|) appended rows, zero store rewrite —
    // and the retracted BM25 derives every sufficient statistic
    // (postings, df, dl, corpus scalars) from the store MINUS the
    // tombstones. Oracle: the full BM25 replay over the corpus with
    // the removed docs never present — as-if-never-ingested, not
    // output filtering. TakedownSpec pins the other half of the LSM
    // contract: compaction folds tombstones into the files and the
    // answer does not move.
    Q("q_takedown_sweep",
      (s, d) => graft.ops.InvertedIndexStore.bm25FromStoreRetracted(
          s, takedownIndexTable(s, d),
          queryTerms = Seq("batch", "join", "filter"), k = 20)
        .orderBy("rank"),
      Some(bm25Top20(s"""
        |rd AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id % 37 <> 0),
        |${bm25Ctes("rd")}""".stripMargin.trim)),
      stores = Seq(TakedownIndex)),

    // ---- CROSS-store takedown propagation audit ----------------------
    // The sweep a real DMCA request triggers (r11 verdict item 6): ONE
    // removal id set (id % 41 == 0 over the union of doc and vector id
    // domains) applied to ALL three store families in one
    // Tombstones.recordAll pass, then audited per (family, surface):
    // raw_removed_rows proves the raw files still carry the removed
    // ids in exactly the expected multiplicity (the honest LSM
    // statement — tombstoned, not yet compacted), retr_removed_rows
    // is the propagation proof (the retracted read face EVERY probe
    // path consumes serves ZERO removed ids — if recordAll had missed
    // a store, its face would still serve them and the hash would
    // diverge from the oracle's pinned 0), and retr_total_rows /
    // retr_id_sum pin the face to the exact survivor id multiset. The
    // oracle derives every count from first principles: postings =
    // distinct (term, doc), ANN = 4 band rows per vector, fingerprint
    // index = 4 band rows per doc — never from the stores. Scale
    // shape: tagged union of the faces into ONE partial-aggregable
    // groupBy over 4 keys; the retracted faces are broadcast
    // anti-joins (takedown-sized tombstones).
    Q("q_takedown_cross_store",
      (s, d) => {
        val (invT, annT, phT) = crossTdStores(s, d)
        def face(family: String, surface: String,
                 raw: org.apache.spark.sql.DataFrame,
                 store: String): org.apache.spark.sql.DataFrame = {
          val r = raw.select(col("id").cast("long").as("id"))
          r.select(lit(family).as("family"), lit(surface).as("surface"),
              col("id"), lit(0).as("face"))
            .unionByName(graft.ops.Tombstones.minus(s, store, r)
              .select(lit(family).as("family"),
                lit(surface).as("surface"), col("id"),
                lit(1).as("face")))
        }
        val invDocs = graft.ops.InvertedIndexStore.docsTable(invT)
        val removed = pmod(col("id"), lit(41)) === 0
        face("ann_sign_lsh", "index", s.table(annT), annT)
          .unionByName(face("inverted_index", "docs",
            s.table(invDocs), invT))
          .unionByName(face("inverted_index", "postings",
            s.table(invT), invT))
          .unionByName(face("phash_banded", "index",
            s.table(phT).withColumnRenamed("doc_id", "id"), phT))
          .groupBy("family", "surface")
          .agg(
            count(when(col("face") === 0 && removed, lit(1)))
              .as("raw_removed_rows"),
            count(when(col("face") === 1 && removed, lit(1)))
              .as("retr_removed_rows"),
            count(when(col("face") === 1, lit(1)))
              .as("retr_total_rows"),
            coalesce(sum(when(col("face") === 1, col("id"))), lit(0L))
              .as("retr_id_sum"))
          .orderBy("family", "surface")
      },
      Some("""
        |WITH tok AS (SELECT doc_id AS id,
        |    unnest(string_split_regex(trim(lower(text)), '[ \t\n\r\f]+')) AS term
        |  FROM documents),
        |tt AS (SELECT DISTINCT id, term FROM tok WHERE term <> ''),
        |surf AS (
        |  SELECT 'ann_sign_lsh' AS family, 'index' AS surface,
        |    CAST(4 * count(CASE WHEN vec_id % 41 = 0 THEN 1 END)
        |      AS BIGINT) AS raw_removed_rows,
        |    CAST(0 AS BIGINT) AS retr_removed_rows,
        |    CAST(4 * count(CASE WHEN vec_id % 41 <> 0 THEN 1 END)
        |      AS BIGINT) AS retr_total_rows,
        |    CAST(4 * coalesce(sum(CASE WHEN vec_id % 41 <> 0
        |      THEN vec_id END), 0) AS BIGINT) AS retr_id_sum
        |  FROM embeddings
        |  UNION ALL
        |  SELECT 'inverted_index', 'docs',
        |    CAST(count(CASE WHEN doc_id % 41 = 0 THEN 1 END) AS BIGINT),
        |    CAST(0 AS BIGINT),
        |    CAST(count(CASE WHEN doc_id % 41 <> 0 THEN 1 END) AS BIGINT),
        |    CAST(coalesce(sum(CASE WHEN doc_id % 41 <> 0
        |      THEN doc_id END), 0) AS BIGINT)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'inverted_index', 'postings',
        |    CAST(count(CASE WHEN id % 41 = 0 THEN 1 END) AS BIGINT),
        |    CAST(0 AS BIGINT),
        |    CAST(count(CASE WHEN id % 41 <> 0 THEN 1 END) AS BIGINT),
        |    CAST(coalesce(sum(CASE WHEN id % 41 <> 0 THEN id END), 0)
        |      AS BIGINT)
        |  FROM tt
        |  UNION ALL
        |  SELECT 'phash_banded', 'index',
        |    CAST(4 * count(CASE WHEN doc_id % 41 = 0 THEN 1 END)
        |      AS BIGINT),
        |    CAST(0 AS BIGINT),
        |    CAST(4 * count(CASE WHEN doc_id % 41 <> 0 THEN 1 END)
        |      AS BIGINT),
        |    CAST(4 * coalesce(sum(CASE WHEN doc_id % 41 <> 0
        |      THEN doc_id END), 0) AS BIGINT)
        |  FROM documents)
        |SELECT * FROM surf ORDER BY family, surface
        |""".stripMargin.trim),
      stores = Seq(CrossTakedownStores)),

    // ---- BM25 top-20 for a fixed term query ---------------------------
    // Rational (ln-free) BM25, k1=1.2 b=0.75 — every double op is
    // IEEE-exact in a pinned order and per-term milli scores are
    // integer-summed, so the full ranking hash-matches the replay
    // (see Retrieval scaladoc; scoreSql generates the oracle's
    // expression from the same object as the Spark formula).
    Q("q_bm25_topk",
      (s, d) => graft.ops.Retrieval.bm25TopK(
          documents(s, d), "doc_id", "text",
          queryTerms = Seq("batch", "join", "filter"), k = 20)
        .orderBy("rank"),
      Some(bm25TopkOracle)),

    // ---- hybrid retrieval: reciprocal-rank fusion ---------------------
    // RRF (c=60) of two heterogeneous lexical rankings over the same
    // query — BM25 and summed tf-rarity — the standard hybrid-search
    // combiner, integer-exact because each contribution is
    // 1000000 div (60 + rank): ranks only, no score normalization,
    // no floats. Each input list is rank-30-truncated (part of RRF's
    // definition); fused top-20.
    Q("q_rrf_fusion",
      (s, d) => {
        val terms = Seq("batch", "join", "filter")
        val docs = documents(s, d)
        graft.ops.Retrieval.rrfFuse(Seq(
            graft.ops.Retrieval.bm25TopK(docs, "doc_id", "text",
              terms, 30),
            graft.ops.Retrieval.tfRarityTopK(docs, "doc_id", "text",
              terms, 30)), k = 20)
          .orderBy("rank")
      },
      Some(s"""
        |WITH ${bm25Ctes("documents")},
        |r1 AS (SELECT id, row_number() OVER (
        |    ORDER BY score_milli DESC, id ASC) AS rank FROM agg),
        |w2 AS (SELECT tf.id,
        |    CAST(floor(1000.0 * tf.tf / dfq.df + 0.5) AS BIGINT) AS w
        |  FROM tf JOIN dfq USING (term)),
        |t2 AS (SELECT id, CAST(sum(w) AS BIGINT) AS s2
        |  FROM w2 GROUP BY id),
        |r2 AS (SELECT id, row_number() OVER (
        |    ORDER BY s2 DESC, id ASC) AS rank FROM t2),
        |u AS (SELECT id, 1000000 // (60 + rank) AS part
        |    FROM r1 WHERE rank <= 30
        |  UNION ALL SELECT id, 1000000 // (60 + rank) AS part
        |    FROM r2 WHERE rank <= 30),
        |f AS (SELECT id, CAST(sum(part) AS BIGINT) AS rrf_milli,
        |    CAST(count(*) AS BIGINT) AS n_lists FROM u GROUP BY id)
        |SELECT rank, id, rrf_milli, n_lists FROM (
        |  SELECT *, row_number() OVER (
        |    ORDER BY rrf_milli DESC, id ASC) AS rank FROM f)
        |WHERE rank <= 20 ORDER BY rank
        |""".stripMargin.trim)),

    // ---- the dataset datasheet: per-source composition card ----------
    // The one-table artifact a corpus release ships (datasheets for
    // datasets): per source — docs, chars, mean tokens, language
    // spread, exact-dup rate, and PII incidence (emails planted in
    // every 11th doc so the detector has something to find). ONE
    // group-by over scan-speed per-row signals; the two count-distinct
    // columns expand within source groups only.
    Q("q_dataset_datasheet",
      (s, d) => {
        val text = when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" contact admin@example.com now")))
          .otherwise(col("text"))
        val base = documents(s, d).select(col("source"), col("lang"),
          text.as("text"), col("n_chars"),
          TextOps.tokenCount(text).cast("long").as("n_tok"),
          (TextOps.redactPii(text) =!= text).cast("long").as("pii"))
        base.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum("n_chars").as("n_chars"),
          expr("1000 * sum(n_tok) div count(1)").as("tok_mean_milli"),
          countDistinct("lang").as("n_langs"),
          expr("1000 * (count(1) - count(DISTINCT text)) div count(1)")
            .as("dup_milli"),
          expr("1000 * sum(pii) div count(1)").as("pii_milli"))
          .orderBy("source")
      },
      Some(s"""
        |WITH ds_d AS (SELECT source, lang, n_chars,
        |    CASE WHEN doc_id % 11 = 0
        |      THEN text || ' contact admin@example.com now'
        |      ELSE text END AS text
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  CAST(1000 * sum(len(string_split_regex(trim(text),
        |    '[ \t\n\r\f]+'))) // count(*) AS BIGINT) AS tok_mean_milli,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(1000 * (count(*) - count(DISTINCT text)) // count(*)
        |    AS BIGINT) AS dup_milli,
        |  CAST(1000 * sum(CASE WHEN ${TextOps.redactPiiSql("text")}
        |    <> text THEN 1 ELSE 0 END) // count(*) AS BIGINT)
        |    AS pii_milli
        |FROM ds_d GROUP BY source ORDER BY source
        |""".stripMargin.trim)),

    // ---- k-anonymous stats release ------------------------------------
    // Publish per-(lang, source) corpus stats ONLY where the group
    // holds >= k members; smaller groups collapse into one OTHER row so
    // no released cell identifies fewer than k documents — the
    // k-anonymity rule a pipeline applies before sharing corpus
    // composition externally. One partial-agg shuffle over the bounded
    // group domain; the suppression split is driver-free.
    Q("q_kanon_release",
      (s, d) => {
        val grp = documents(s, d)
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("n_chars"))
        val big = grp.filter(col("n_docs") >= 5)
        val other = grp.filter(col("n_docs") < 5)
          .agg(sum(col("n_docs")).as("n_docs"),
            sum(col("n_chars")).as("n_chars"))
          .select(lit("other").as("lang"), lit("other").as("source"),
            col("n_docs"), col("n_chars"))
          .filter(col("n_docs").isNotNull)
        big.unionByName(other).orderBy("lang", "source")
      },
      Some("""
        |WITH ka_g AS (SELECT lang, source,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS n_chars
        |  FROM documents GROUP BY 1, 2),
        |ka_b AS (SELECT * FROM ka_g WHERE n_docs >= 5),
        |ka_o AS (SELECT 'other' AS lang, 'other' AS source,
        |    CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS n_chars
        |  FROM ka_g WHERE n_docs < 5 HAVING count(*) > 0)
        |SELECT * FROM ka_b UNION ALL SELECT * FROM ka_o
        |ORDER BY lang, source
        |""".stripMargin.trim)),

    // ---- end-to-end curation mix: dedup -> quality -> quota -> mix ----
    // The pretraining-mix builder as ONE composed pipeline over the
    // engine's own operators: planted recrawl copies collapse under
    // exact dedup (keep-min), short docs fall to the >= 10-token
    // quality floor, each language is capped at 40 docs by the
    // deterministic md5-rank quota (stratifiedHashSample), and the
    // final mix report rolls up docs/tokens per (lang, source).
    // Scale shape: one fingerprint shuffle (dedup), one stratum
    // window (quota), one bounded rollup — the filter is scan-speed.
    // The oracle replays the whole chain through the composition, so
    // every stage boundary is pinned.
    Q("q_curation_mix_pipeline",
      (s, d) => {
        val base = documents(s, d)
          .select(col("doc_id"), col("text"), col("lang"), col("source"))
        val raw = base.unionByName(base.filter(col("doc_id") % 9 === 0)
          .withColumn("doc_id", col("doc_id") + 9000000L))
        val deduped = graft.ops.Dedup.exactDedup(
          raw, contentCols = Seq("text"), tiebreak = Seq("doc_id"))
        val quality = deduped
          .withColumn("n_tok", TextOps.tokenCount(col("text")))
          .filter(col("n_tok") >= 10)
        val quota = Corpus.stratifiedHashSample(
          quality.select("doc_id", "lang", "source", "n_tok"),
          strata = Seq("lang"), idCol = "doc_id", k = 40)
        quota.groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok").cast("long")).as("n_tokens"))
          .orderBy("lang", "source")
      },
      Some("""
        |WITH cm_raw AS (
        |  SELECT doc_id, text, lang, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 9000000, text, lang, source FROM documents
        |  WHERE doc_id % 9 = 0),
        |cm_d AS (SELECT min(doc_id) AS doc_id, text,
        |    arg_min(lang, doc_id) AS lang,
        |    arg_min(source, doc_id) AS source
        |  FROM cm_raw GROUP BY text),
        |cm_q AS (SELECT doc_id, lang, source,
        |    len(string_split_regex(trim(text), '[ \t\n\r\f]+')) AS n_tok
        |  FROM cm_d
        |  WHERE len(string_split_regex(trim(text), '[ \t\n\r\f]+')) >= 10),
        |cm_s AS (SELECT doc_id, lang, source, n_tok FROM (
        |    SELECT *, row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
        |      AS rn
        |    FROM cm_q) WHERE rn <= 40)
        |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM cm_s GROUP BY 1, 2 ORDER BY 1, 2
        |""".stripMargin.trim)),

    // ---- the CURATION CAPSTONE: incremental quality -> dedup ->
    // ---- decontaminate -> pack, through the STORED artifacts ----------
    // Every stage of the curation chain exists as an incremental
    // primitive and a stored artifact; this gate composes them
    // end-to-end for an arriving batch (r15 verdict item 5): quality
    // floor (per-row), exact dedup vs the STORED corpus fingerprint
    // table (anti-join, never a corpus payload scan), decontamination
    // vs the STORED frozen eval-shingle table (broadcast semi-join),
    // and token-budget packing that APPENDS to the stored packed
    // layout — per-shard bin numbering continues from the stored
    // token totals, the append-only discipline under which
    // base-then-batch packing IS the one-shot repack of the combined
    // survivor stream. The batch plants every fate: recrawls of base
    // docs (dup_exact — including a recrawled eval doc that is ALSO
    // contaminated, pinning the stage ORDER), eval-only copies
    // (contaminated), fresh reversed-token docs (packed), truncated
    // stubs (short). Output = the per-doc verdict audit + the bin
    // each admitted doc landed in. The oracle replays the WHOLE
    // composition from first principles — base artifact derivation
    // included — so the hash pins that the incremental stored-artifact
    // flow equals a full recompute, which is the capstone claim.
    // Scale shape: batch-sized work end to end — one within-batch
    // min_by shuffle, one broadcast anti-join per store probe, one
    // shard-partitioned window; the stores are read partition/
    // broadcast-selectively, never rebuilt.
    Q("q_curation_capstone",
      (s, d) => {
        val (fpT, packT, evalT) = capstoneStores(s, d)
        val docsAll = documents(s, d).select(col("doc_id"), col("text"))
        val toks = TextOps.tokens(col("text"))
        val b1 = docsAll
          .filter(pmod(col("doc_id"), lit(4)) =!= 0 && col("doc_id") < 53)
          .select((col("doc_id") + 3000000L).as("id"), col("text"))
        val b2 = docsAll
          .filter(col("doc_id") % 50 === 0 && col("doc_id") % 4 === 0)
          .select((col("doc_id") + 3050000L).as("id"), col("text"))
        val b3 = docsAll
          .filter(col("doc_id") % 4 === 0 &&
            col("doc_id") >= 100 && col("doc_id") < 200)
          .select((col("doc_id") + 3100000L).as("id"),
            array_join(reverse(toks), " ").as("text"))
        val b4 = docsAll
          .filter(col("doc_id") % 4 === 0 && col("doc_id") < 40)
          .select((col("doc_id") + 3150000L).as("id"),
            array_join(slice(toks, 1, 5), " ").as("text"))
        val batch = b1.unionByName(b2).unionByName(b3).unionByName(b4)
          .withColumn("n_tok", TextOps.tokenCount(col("text")))
          .transform(graft.ops.Checkpoints.spill)
        // stage 1: quality floor; stage 2: exact dedup vs the stored
        // fingerprints (within-batch + anti-join, batch-sized)
        val d1 = graft.ops.Dedup.incrementalExactDedupByFp(
          s.table(fpT), batch.filter(col("n_tok") >= 10),
          contentCols = Seq("text"), tiebreak = Seq("id"))
        // stage 3: decontaminate vs the stored frozen eval shingles
        val contam = d1.select(col("id"),
            explode(TextOps.wordShingles(col("text"), 8)).as("s"))
          .join(broadcast(s.table(evalT)), Seq("s"), "left_semi")
          .select("id").distinct()
        // stage 4: pack, continuing the STORED per-shard token totals
        val offs = s.table(packT).groupBy("shard")
          .agg(sum(col("n_tokens")).as("off0"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("id")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        val packed = d1.join(contam, Seq("id"), "left_anti")
          .select(col("id"), pmod(col("id"), lit(4L)).as("shard"),
            col("n_tok").cast("long").as("n_tokens"))
          .join(broadcast(offs), Seq("shard"), "left")
          .withColumn("cum",
            sum(col("n_tokens")).over(w) + coalesce(col("off0"), lit(0L)))
          .withColumn("bin", expr("(cum - n_tokens) div 1000L"))
          .select(col("id"), col("bin"))
        batch.select(col("id"), col("n_tok"))
          .join(d1.select(col("id"), lit(1).as("_d")), Seq("id"), "left")
          .join(contam.select(col("id"), lit(1).as("_c")),
            Seq("id"), "left")
          .join(packed, Seq("id"), "left")
          .select(col("id").as("doc_id"),
            when(col("n_tok") < 10, lit("short"))
              .when(col("_d").isNull, lit("dup_exact"))
              .when(col("_c").isNotNull, lit("contaminated"))
              .otherwise(lit("packed")).as("verdict"),
            col("bin"))
          .orderBy("doc_id")
      },
      Some("""
        |WITH cap_evs AS (SELECT DISTINCT unnest(list_distinct(
        |    list_transform(range(1, len(toks) - 6),
        |      i -> array_to_string(toks[i:i+7], ' ')))) AS s
        |  FROM (SELECT string_split_regex(trim(text), '[ \t\n\r\f]+')
        |      AS toks FROM documents WHERE doc_id % 50 = 0)
        |  WHERE len(toks) >= 8),
        |cap_base AS (SELECT doc_id AS id, text,
        |    len(string_split_regex(trim(text), '[ \t\n\r\f]+')) AS n_tok
        |  FROM documents WHERE doc_id % 4 <> 0),
        |cap_bq AS (SELECT * FROM cap_base WHERE n_tok >= 10),
        |cap_bd AS (SELECT id, text, n_tok FROM (
        |    SELECT *, row_number() OVER (PARTITION BY text ORDER BY id)
        |      AS rn FROM cap_bq) WHERE rn = 1),
        |cap_bsh AS (SELECT id, unnest(list_distinct(
        |    list_transform(range(1, len(toks) - 6),
        |      i -> array_to_string(toks[i:i+7], ' ')))) AS s
        |  FROM (SELECT id, string_split_regex(trim(text),
        |      '[ \t\n\r\f]+') AS toks FROM cap_bd)
        |  WHERE len(toks) >= 8),
        |cap_bcon AS (SELECT DISTINCT id FROM cap_bsh
        |  WHERE s IN (SELECT s FROM cap_evs)),
        |cap_badm AS (SELECT id, id % 4 AS shard,
        |    CAST(n_tok AS BIGINT) AS n_tokens
        |  FROM cap_bd WHERE id NOT IN (SELECT id FROM cap_bcon)),
        |cap_off AS (SELECT shard, sum(n_tokens) AS off0
        |  FROM cap_badm GROUP BY shard),
        |cap_b1 AS (SELECT id + 3000000 AS id, text FROM cap_base
        |  WHERE id < 53),
        |cap_b2 AS (SELECT doc_id + 3050000 AS id, text FROM documents
        |  WHERE doc_id % 50 = 0 AND doc_id % 4 = 0),
        |cap_b3 AS (SELECT doc_id + 3100000 AS id, array_to_string(
        |    list_reverse(string_split_regex(trim(text),
        |      '[ \t\n\r\f]+')), ' ') AS text
        |  FROM documents WHERE doc_id % 4 = 0
        |    AND doc_id >= 100 AND doc_id < 200),
        |cap_b4 AS (SELECT doc_id + 3150000 AS id, array_to_string(
        |    string_split_regex(trim(text), '[ \t\n\r\f]+')[1:5], ' ')
        |    AS text
        |  FROM documents WHERE doc_id % 4 = 0 AND doc_id < 40),
        |cap_bt AS (SELECT id, text,
        |    len(string_split_regex(trim(text), '[ \t\n\r\f]+')) AS n_tok
        |  FROM (SELECT * FROM cap_b1 UNION ALL SELECT * FROM cap_b2
        |    UNION ALL SELECT * FROM cap_b3
        |    UNION ALL SELECT * FROM cap_b4)),
        |cap_s1 AS (SELECT id, text, n_tok FROM (
        |    SELECT *, row_number() OVER (PARTITION BY text ORDER BY id)
        |      AS rn FROM cap_bt WHERE n_tok >= 10) b
        |  WHERE rn = 1 AND NOT EXISTS (SELECT 1 FROM cap_bq c
        |    WHERE c.text IS NOT DISTINCT FROM b.text)),
        |cap_ssh AS (SELECT id, unnest(list_distinct(
        |    list_transform(range(1, len(toks) - 6),
        |      i -> array_to_string(toks[i:i+7], ' ')))) AS s
        |  FROM (SELECT id, string_split_regex(trim(text),
        |      '[ \t\n\r\f]+') AS toks FROM cap_s1)
        |  WHERE len(toks) >= 8),
        |cap_scon AS (SELECT DISTINCT id FROM cap_ssh
        |  WHERE s IN (SELECT s FROM cap_evs)),
        |cap_sadm AS (SELECT id, id % 4 AS shard,
        |    CAST(n_tok AS BIGINT) AS n_tokens
        |  FROM cap_s1 WHERE id NOT IN (SELECT id FROM cap_scon)),
        |cap_spk AS (SELECT id, shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM cap_sadm),
        |cap_sbin AS (SELECT p.id,
        |    (p.cum - p.n_tokens + coalesce(o.off0, 0)) // 1000 AS bin
        |  FROM cap_spk p LEFT JOIN cap_off o ON o.shard = p.shard)
        |SELECT b.id AS doc_id,
        |  CASE WHEN b.n_tok < 10 THEN 'short'
        |       WHEN s1.id IS NULL THEN 'dup_exact'
        |       WHEN sc.id IS NOT NULL THEN 'contaminated'
        |       ELSE 'packed' END AS verdict,
        |  sb.bin AS bin
        |FROM cap_bt b
        |LEFT JOIN cap_s1 s1 ON s1.id = b.id
        |LEFT JOIN cap_scon sc ON sc.id = b.id
        |LEFT JOIN cap_sbin sb ON sb.id = b.id
        |ORDER BY doc_id
        |""".stripMargin.trim),
      stores = Seq(CurationCapstoneStores, EvalArtifacts.DecontaminationEval)),

    // ---- release-to-release diff audit ---------------------------------
    // The other half of the provenance story (q_provenance_conservation
    // audits WITHIN a release; this audits BETWEEN releases): v2 is
    // derived from v1 by [[releaseV2]] (drops, minor edits, rewrites,
    // additions) — ops/Corpus.releaseDiff classifies every id into
    // exactly one fate by content hash. One full-outer sort-merge join
    // on id; hashes computed scan-side so the exchange carries
    // (id, hash), never document bodies. Per-doc fates hashed, so the
    // partition property (each id exactly one fate) is inside the
    // gated artifact.
    Q("q_corpus_release_diff",
      (s, d) => {
        val v1 = documents(s, d).select(col("doc_id"), col("text"))
        Corpus.releaseDiff(v1, releaseV2(s, d), "doc_id", "text")
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      Some(s"""
        |WITH $releaseV2Sql,
        |v1 AS (SELECT doc_id AS id,
        |    md5(coalesce(text, '')) AS h1 FROM documents),
        |v2h AS (SELECT id, md5(coalesce(text, '')) AS h2 FROM v2)
        |SELECT COALESCE(v1.id, v2h.id) AS doc_id,
        |  CASE WHEN h2 IS NULL THEN 'removed'
        |       WHEN h1 IS NULL THEN 'added'
        |       WHEN h1 <> h2 THEN 'changed'
        |       ELSE 'unchanged' END AS fate
        |FROM v1 FULL OUTER JOIN v2h ON v1.id = v2h.id
        |ORDER BY doc_id
        |""".stripMargin.trim)),

    // ---- churn classification of the changed slice ---------------------
    // The diff says WHICH docs changed; a release datasheet also says
    // HOW MUCH. For every id in both releases with changed content,
    // 3-word-shingle Jaccard of old vs new classifies the edit:
    // minor (>= 800 milli — the appended-suffix edits), moderate
    // (300..799), rewrite (< 300 — the token-reversed docs). SAME-id
    // pairing only: one sort-merge join on id, per-row shingle+Jaccard
    // on the paired texts — no candidate generation, no pair blow-up,
    // linear at any corpus size. Shares [[releaseV2]]/[[releaseV2Sql]]
    // with the diff gate so the two audits cannot pin different
    // release derivations.
    Q("q_release_churn",
      (s, d) => {
        val sh = (c: org.apache.spark.sql.Column) =>
          graft.ops.TextOps.wordShingles(c, 3)
        val v1 = documents(s, d)
          .select(col("doc_id"), sh(col("text")).as("sh1"),
            md5(coalesce(col("text"), lit(""))).as("h1"))
        val v2 = releaseV2(s, d)
          .select(col("doc_id"), sh(col("text")).as("sh2"),
            md5(coalesce(col("text"), lit(""))).as("h2"))
        val inter = size(array_intersect(col("sh1"), col("sh2")))
          .cast("long")
        val uni = size(col("sh1")).cast("long") +
          size(col("sh2")).cast("long") - inter
        // a changed doc with <3 tokens on BOTH sides has two empty
        // shingle sets: uni = 0, and 0/0 is NaN→0 in Spark but NULL
        // in DuckDB — greatest(uni, 1) pins both engines to
        // jaccard 0 (= rewrite) for that degenerate pair
        v1.join(v2, Seq("doc_id"))
          .filter(col("h1") =!= col("h2"))
          .select(col("doc_id"),
            floor(lit(1000.0) * inter / greatest(uni, lit(1L)) +
              lit(0.5)).cast("long")
              .as("jaccard_milli"))
          .withColumn("churn_class",
            when(col("jaccard_milli") >= 800L, lit("minor"))
              .when(col("jaccard_milli") >= 300L, lit("moderate"))
              .otherwise(lit("rewrite")))
          .orderBy("doc_id")
      },
      Some(s"""
        |WITH $releaseV2Sql,
        |s1 AS (SELECT doc_id AS id, md5(coalesce(text, '')) AS h,
        |    list_distinct(list_transform(range(1, len(toks)-1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |      AS sh
        |  FROM (SELECT doc_id, text, string_split_regex(trim(text),
        |          '[ \\t\\n\\r\\f]+') AS toks FROM documents)),
        |s2 AS (SELECT id, md5(coalesce(text, '')) AS h,
        |    list_distinct(list_transform(range(1, len(toks)-1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |      AS sh
        |  FROM (SELECT id, text, string_split_regex(trim(text),
        |          '[ \\t\\n\\r\\f]+') AS toks FROM v2)),
        |j AS (SELECT s1.id AS doc_id,
        |    CAST(floor(1000.0 * len(list_intersect(s1.sh, s2.sh)) /
        |      greatest(len(s1.sh) + len(s2.sh) - len(list_intersect(
        |         s1.sh, s2.sh)), 1) + 0.5) AS BIGINT) AS jaccard_milli
        |  FROM s1 JOIN s2 ON s1.id = s2.id AND s1.h <> s2.h)
        |SELECT doc_id, jaccard_milli,
        |  CASE WHEN jaccard_milli >= 800 THEN 'minor'
        |       WHEN jaccard_milli >= 300 THEN 'moderate'
        |       ELSE 'rewrite' END AS churn_class
        |FROM j ORDER BY doc_id
        |""".stripMargin.trim))
  )

  /** Release v2 derived deterministically from v1 (= documents):
    * every 17th id dropped; of the survivors, every 31st token-
    * REVERSED (the rewrite case), else every 23rd suffix-edited (the
    * minor-edit case); fresh docs added at +3000000 from every 29th.
    * Shared by the diff and churn gates — one derivation, two audits.
    * Reversal rebuilds text from whitespace tokens joined by single
    * spaces, identically in both engines. */
  private def releaseV2(s: org.apache.spark.sql.SparkSession,
                        d: String) = {
    val toks = graft.ops.TextOps.tokens(col("text"))
    documents(s, d)
      .filter(col("doc_id") % 17 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 31 === 0,
          array_join(reverse(toks), " "))
          .when(col("doc_id") % 23 === 0,
            concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionByName(documents(s, d)
        .filter(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" fresh")).as("text")))
  }

  /** [[releaseV2]] as a DuckDB CTE named `v2` (id, text). */
  private val releaseV2Sql = """
    |v2 AS (SELECT doc_id AS id,
    |  CASE WHEN doc_id % 31 = 0 THEN
    |      array_to_string(list_reverse(string_split_regex(trim(text),
    |        '[ \t\n\r\f]+')), ' ')
    |    WHEN doc_id % 23 = 0 THEN text || ' v2'
    |    ELSE text END AS text
    |  FROM documents WHERE doc_id % 17 <> 0
    |  UNION ALL
    |  SELECT doc_id + 3000000, text || ' fresh'
    |  FROM documents WHERE doc_id % 29 = 0)""".stripMargin.trim

  /** Per-document whitespace-token counts on 8 doc_id shards — the
    * packing input of q_token_packing and q_pack_concat_split. */
  private def shardTokens(s: org.apache.spark.sql.SparkSession,
                          d: String) =
    documents(s, d).select(col("doc_id"),
      pmod(col("doc_id"), lit(8L)).as("shard"),
      graft.ops.TextOps.tokenCount(col("text")).cast("long")
        .as("n_tokens"))

  /** [[shardTokens]] as a DuckDB CTE named `t`. */
  private val shardTokensSql = """
    |t AS (SELECT doc_id, doc_id % 8 AS shard,
    |    CAST(len(string_split_regex(trim(text), '[ \t\n\r\f]+')) AS BIGINT)
    |      AS n_tokens
    |  FROM documents)""".stripMargin.trim

  /** Full-corpus (term, df, postings) — q_inverted_index's answer, which
    * the appended and the compacted stored index must both reproduce. */
  private val invertedIndexOracle = """
    |WITH t AS (SELECT doc_id AS id,
    |    unnest(string_split_regex(trim(lower(text)), '[ \t\n\r\f]+')) AS term
    |  FROM documents),
    |p AS (SELECT DISTINCT term, id FROM t WHERE term <> '')
    |SELECT term, CAST(count(*) AS BIGINT) AS df,
    |  array_to_string(list(id ORDER BY id), ',') AS postings
    |FROM p GROUP BY term ORDER BY term
    |""".stripMargin.trim

  /** The ONE BM25 CTE chain for the query ('batch', 'join', 'filter')
    * over the relation `docs` (doc_id, text): tokens, doc lengths,
    * corpus scalars, tf/df and the shared [[graft.ops.Retrieval.scoreSql]]
    * term score, ending at `agg(id, score_milli)`. */
  private def bm25Ctes(docs: String): String = s"""
    |tok AS (SELECT doc_id AS id,
    |    unnest(string_split_regex(trim(lower(text)), '[ \\t\\n\\r\\f]+')) AS term
    |  FROM $docs),
    |t AS (SELECT * FROM tok WHERE term <> ''),
    |dl AS (SELECT id, count(*) AS dl FROM t GROUP BY id),
    |sc AS (SELECT (SELECT count(*) FROM $docs) AS n_docs,
    |    (SELECT count(*) FROM t) AS total_tokens),
    |qt AS (SELECT * FROM t
    |  WHERE term IN ('batch', 'join', 'filter')),
    |tf AS (SELECT id, term, count(*) AS tf FROM qt GROUP BY 1, 2),
    |dfq AS (SELECT term, count(DISTINCT id) AS df FROM qt GROUP BY 1),
    |ts AS (SELECT tf.id,
    |    ${graft.ops.Retrieval.scoreSql("tf.tf", "dfq.df", "dl.dl",
                 "sc.n_docs", "sc.total_tokens")} AS term_score
    |  FROM tf JOIN dfq USING (term) JOIN dl ON dl.id = tf.id, sc),
    |agg AS (SELECT id, CAST(sum(term_score) AS BIGINT)
    |    AS score_milli FROM ts GROUP BY id)""".stripMargin.trim

  /** Top-20 by score_milli, ties to the smaller id, after the CTEs
    * `ctes`, which end at [[bm25Ctes]]. */
  private def bm25Top20(ctes: String): String = s"""
    |WITH $ctes
    |SELECT rank, id, score_milli FROM (
    |  SELECT *, row_number() OVER (
    |    ORDER BY score_milli DESC, id ASC) AS rank FROM agg)
    |WHERE rank <= 20 ORDER BY rank
    |""".stripMargin.trim

  /** q_bm25_topk's answer over the full corpus, which
    * q_bm25_from_store's stored scoring must reproduce bit-for-bit. */
  private lazy val bm25TopkOracle = bm25Top20(bm25Ctes("documents"))
}
