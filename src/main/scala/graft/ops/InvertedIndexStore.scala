package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED inverted index — the stored counterpart of
  * [[Retrieval.invertedIndex]], in the (term, id) ROW form its
  * scaladoc prescribes for 100 TB posting lists (a hot term is a big
  * key group, not a giant value in one row), written partitioned by
  * the term's first character so a term lookup is a partition-pruned
  * scan (pinned in InvertedIndexStoreSpec).
  *
  * Incremental maintenance is STRUCTURAL here: the stored unit is the
  * (term, id) pair and batch doc ids are new by contract, so appending
  * the batch's posting rows IS the posting merge — no read-modify-
  * write of existing lists, no rebuild, and the append touches only
  * the prefix partitions the batch's terms hash into. The merged
  * index assembles to the exact same (term, df, postings) rows as a
  * full rebuild (gate q_incr_index_maintain shares
  * q_inverted_index's oracle). */
object InvertedIndexStore {

  /** (p, term, id, tf) posting rows of a document batch — one row per
    * present (term, doc) carrying the term frequency (the posting
    * payload real IR systems store); p = first char of the term (the
    * partition key). */
  def postingRows(docs: DataFrame, idCol: String,
                  textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(Retrieval.toks(col(textCol))).as("term"))
      .groupBy("term", "id")
      .agg(count(lit(1)).as("tf"))
      .select(substring(col("term"), 1, 1).as("p"), col("term"),
        col("id"), col("tf"))
      // one file per prefix partition per write, not tasks×partitions
      // slivers (write-compacted discipline; Compaction handles the
      // accumulation across appends)
      .repartition(col("p"))

  /** Hash-shard count of the doc-stats layout. 64 shards keeps the
    * sf-test stores from exploding into thousands of directories while
    * giving the partition-pruned dl lookup a 64× scan reduction; a
    * 100 TB deployment raises it with corpus size (it is a build-time
    * constant of a store, not a query-time parameter). */
  private[ops] val DocStatsShards = 64

  /** The shard a doc id's stats row lives in — derivable from the id
    * alone, so a reader can compute the shards its id set touches and
    * prune the rest (dynamic partition pruning does exactly this in
    * [[dlFor]]'s join). */
  private[ops] def statsShard(id: Column): Column =
    pmod(xxhash64(id), lit(DocStatsShards.toLong)).cast("int")

  /** (h, id, dl) per-document token counts, hash-sharded by id — the
    * OTHER sufficient statistic BM25 needs; tokenless docs keep dl = 0
    * so corpus scalars (N, total token mass) derive exactly. Sharding
    * by `h` makes the query-time dl lookup id-SELECTIVE: BM25 touches
    * only the docs holding a query term, so its stats read must not
    * scan the whole corpus's stats (at 100 TB that scan was the
    * dominant per-query cost — r15 sf10 probe, 22.4× vs 12.5× byte
    * growth). */
  def docStats(docs: DataFrame, idCol: String,
               textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
        size(Retrieval.toks(col(textCol))).cast("long").as("dl"))
      .select(statsShard(col("id")).as("h"), col("id"), col("dl"))
      // one file per shard per write, same write-compacted discipline
      // as the postings
      .repartition(col("h"))

  /** The doc-stats side table name beside a postings table. */
  def docsTable(table: String): String = s"${table}_docs"

  /** The corpus-scalars summary table beside a postings table: one
    * (n_docs, total_tokens) row PER INGESTED BATCH, append-merged like
    * the postings themselves — reading the scalars is a sum over
    * #batches rows instead of a full pass over the per-doc stats
    * table. This is the maintained-summary half of the r15 store-shape
    * fix: BM25's N and total-token-mass are O(appends) at query time,
    * never O(corpus). */
  def summaryTable(table: String): String = s"${table}_summary"

  /** The one summary row of a document batch, derived from the same
    * [[docStats]] computation the stats write runs (n_docs counts every
    * doc, tokenless included; token mass is the dl sum). */
  private def batchSummary(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame =
    docStats(docs, idCol, textCol)
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("total_tokens"))

  /** The corpus scalars (n_docs, total_tokens) as ONE row, summed over
    * the append-merged summary rows. */
  def corpusScalars(s: SparkSession, table: String): DataFrame =
    s.table(summaryTable(table))
      .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
        coalesce(sum(col("total_tokens")), lit(0L)).as("total_tokens"))

  /** (id, dl) rows for exactly the ids in `ids` — the id-SELECTIVE dl
    * lookup: the needed shard set is computed from the ids and joined
    * on (h, id) with the id side broadcast, so the sharded stats scan
    * is partition-pruned (dynamic partition pruning) instead of a full
    * stats pass. Ids absent from the store contribute nothing (inner
    * join), which is exactly the semantics every caller needs. */
  private[ops] def dlFor(s: SparkSession, table: String,
                         ids: DataFrame): DataFrame = {
    val need = ids.select(col("id")).distinct()
      .select(statsShard(col("id")).as("h"), col("id"))
    s.table(docsTable(table))
      .join(broadcast(need), Seq("h", "id"))
      .select("id", "dl")
  }

  private def dropManaged(s: SparkSession, table: String): Unit =
    Compaction.dropManagedTable(s, table)

  /** Write the corpus index: the prefix-partitioned postings table
    * plus the (id, dl) doc-stats side table (same catalog hygiene as
    * [[graft.ops.AnnIndex.buildSignIndex]]). */
  def build(docs: DataFrame, idCol: String, textCol: String,
            table: String, overwrite: Boolean = false): Unit = {
    val s = docs.sparkSession
    // ALL THREE tables must exist to skip: a run that died between the
    // writes must rebuild, or bm25FromStore reads a half-built store
    if (overwrite || !s.catalog.tableExists(table) ||
        !s.catalog.tableExists(docsTable(table)) ||
        !s.catalog.tableExists(summaryTable(table))) {
      dropManaged(s, table)
      dropManaged(s, docsTable(table))
      dropManaged(s, summaryTable(table))
      postingRows(docs, idCol, textCol)
        .write.partitionBy("p")
        .format("parquet").mode("overwrite").saveAsTable(table)
      docStats(docs, idCol, textCol)
        .write.partitionBy("h").format("parquet").mode("overwrite")
        .saveAsTable(docsTable(table))
      batchSummary(docs, idCol, textCol)
        .write.format("parquet").mode("overwrite")
        .saveAsTable(summaryTable(table))
    }
  }

  /** Append a NEW batch's postings and doc stats (batch doc ids must
    * be new — the standard ingest contract; dedup-vs-corpus is the
    * exact-dedup stage's job, upstream of indexing). */
  def append(batch: DataFrame, idCol: String, textCol: String,
             table: String): Unit = {
    postingRows(batch, idCol, textCol)
      .write.partitionBy("p")
      .format("parquet").mode("append").saveAsTable(table)
    docStats(batch, idCol, textCol)
      .write.partitionBy("h").format("parquet").mode("append")
      .saveAsTable(docsTable(table))
    // the batch's one summary row append-merges the corpus scalars —
    // the same structural-increment contract as the posting rows
    batchSummary(batch, idCol, textCol)
      .write.format("parquet").mode("append")
      .saveAsTable(summaryTable(table))
  }

  /** Assemble the stored rows to [[Retrieval.invertedIndex]]'s
    * (term, df, postings) verification shape. */
  def assemble(s: SparkSession, table: String): DataFrame =
    s.table(table)
      .groupBy("term")
      .agg(sort_array(collect_set(col("id"))).as("ids"))
      .select(col("term"), size(col("ids")).cast("long").as("df"),
        array_join(col("ids"), ",").as("postings"))

  /** Posting rows for a term set, read partition-pruned: the prefix
    * filter is derivable from the terms, so only |distinct first
    * chars| partitions are scanned. */
  def lookup(s: SparkSession, table: String,
             terms: Seq[String]): DataFrame = {
    val prefixes = terms.map(_.take(1)).distinct
    s.table(table)
      .filter(col("p").isin(prefixes: _*) &&
        col("term").isin(terms: _*))
      .select("term", "id", "tf")
  }

  /** Rational-BM25 top-k answered FROM THE STORE ONLY — no text is
    * touched, and (the r15 store-shape fix) NOTHING corpus-sized is
    * either: tf rides in the pruned posting lookup, df derives from
    * the looked-up postings (each list is complete for its term), dl
    * comes from the shard-pruned id-selective [[dlFor]] lookup (only
    * docs holding a query term), and the corpus scalars are the
    * maintained [[summaryTable]] sum — O(appends) rows, not a full
    * stats pass per query. The score expression and the final ranking
    * are [[Retrieval.termScoreMilli]]/[[Retrieval.rankTopK]] — the
    * SAME objects the payload path uses, so the stored path is
    * bit-identical by construction (q_bm25_from_store's oracle is
    * q_bm25_topk's). */
  def bm25FromStore(s: SparkSession, table: String,
                    queryTerms: Seq[String], k: Int): DataFrame =
    rankPostings(s, table, lookup(s, table, queryTerms),
      corpusScalars(s, table), k)

  /** The scoring tail both store reads share: df from the looked-up
    * postings `post` (term, id, tf), dl via [[dlFor]] for `post`'s ids,
    * the corpus scalars `scalars` broadcast, then the shared term score
    * and ranking. */
  private def rankPostings(s: SparkSession, table: String,
                           post: DataFrame, scalars: DataFrame,
                           k: Int): DataFrame = {
    val df = post.groupBy("term").agg(count(lit(1)).as("df"))
    Retrieval.rankTopK(
      post.join(broadcast(df), "term")
        .join(dlFor(s, table, post), "id")
        .crossJoin(broadcast(scalars))
        .withColumn("term_score", Retrieval.termScoreMilli),
      k)
  }

  // ---- takedown: tombstones + compaction ------------------------------
  // The deletion path a 100 TB corpus cannot live without (takedown /
  // consent-revocation sweeps): a document's postings are spread across
  // every term-prefix partition it has a term in, so a physical delete
  // would rewrite most of the store for ONE id. LSM discipline instead:
  // a takedown appends the ids to a side TOMBSTONE table — O(|removal|)
  // rows, no store rewrite — and readers anti-join it; a later
  // compaction folds the tombstones into the data files and truncates
  // the side table. Query answers are identical in both states
  // (TakedownSpec pins tombstoned == compacted == rebuilt-without).

  /** The tombstone side table beside a postings table. */
  def tombstoneTable(table: String): String = Tombstones.table(table)

  /** Record `removeIds` (a 1-column id frame) as taken down — see
    * [[Tombstones.record]]. */
  def takedown(removeIds: DataFrame, table: String): Unit =
    Tombstones.record(removeIds, table)

  /** The corpus scalars with the tombstoned docs' contribution
    * subtracted — summary sum MINUS the tombstone set's (count, dl
    * mass), the latter via the same id-selective [[dlFor]] lookup
    * (tombstone sets are takedown-sized, so the correction is an
    * O(|removal|) shard-pruned probe, never a stats pass; duplicate
    * tombstone deliveries are collapsed by the distinct, ids never
    * ingested fall out of the inner join). */
  private def retractedScalars(s: SparkSession,
                               table: String): DataFrame = {
    if (!s.catalog.tableExists(tombstoneTable(table)))
      return corpusScalars(s, table)
    val tomb = s.table(tombstoneTable(table)).select("id").distinct()
    val rm = dlFor(s, table, tomb)
      .agg(count(lit(1)).as("rm_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("rm_tokens"))
    corpusScalars(s, table).crossJoin(broadcast(rm))
      .select((col("n_docs") - col("rm_docs")).as("n_docs"),
        (col("total_tokens") - col("rm_tokens")).as("total_tokens"))
  }

  /** [[bm25FromStore]] with tombstones applied to BOTH sufficient
    * statistics — postings AND doc stats — so df, dl, and the corpus
    * scalars all derive from the retracted corpus: the answer is
    * as-if-never-ingested, not just filtered output rows. The dl side
    * needs no extra anti-join: it is looked up for the ALREADY
    * retracted posting ids, so tombstoned docs never enter it. */
  def bm25FromStoreRetracted(s: SparkSession, table: String,
                             queryTerms: Seq[String], k: Int): DataFrame =
    rankPostings(s, table,
      Tombstones.minus(s, table, lookup(s, table, queryTerms)),
      retractedScalars(s, table), k)

  /** Fold tombstones into the data files — postings (term-prefix
    * partitioned), doc stats (hash-sharded), AND the corpus-scalars
    * summary — then drop the side table; see [[Tombstones.compact]].
    * The summary rides compact's `derived` path: its post-compaction
    * content is ONE row re-aggregated from the doc-stats SURVIVOR
    * STAGING table (a unit listed before it, so already durably
    * written when the thunk runs). Deriving from staging — never the
    * live stats table — is what keeps every crash window consistent:
    * a re-run after stats were already swapped but the summary was not
    * re-stages the same survivor set and re-derives the same one row,
    * whereas a live-table derivation would see rm = 0 and stage the
    * unreduced summary. A full stats pass is fine HERE: compaction
    * already rewrites the stats wholesale; it is the per-QUERY stats
    * pass the summary exists to eliminate. */
  def compactTombstones(s: SparkSession, table: String): Unit =
    Tombstones.compact(s, table,
      Seq((table, Seq("p")), (docsTable(table), Seq("h"))),
      derived = Seq((summaryTable(table), () =>
        s.table(Tombstones.stagingTable(docsTable(table)))
          .agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("dl")), lit(0L)).as("total_tokens")))))
}
