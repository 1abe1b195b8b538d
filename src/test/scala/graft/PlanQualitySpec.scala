package graft

import graft.functions.MinByObj
import graft.queries.Registry
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec,
  ObjectHashAggregateExec}

/** Regression-pins the plan properties the engine is designed around:
  * filter pushdown, column pruning, broadcast joins, partial
  * aggregation. Uses sf0.001 so plans build fast. */
class PlanQualitySpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    Registry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("q_agg_pricing: pruned scan + two-phase hash aggregation") {
    val p = plan("q_agg_pricing")
    // only the 5 needed columns reach the scan
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_orderkey"), "scan must prune unused columns")
    assert(p.split("HashAggregate").length >= 3,
      "expected partial + final HashAggregate")
  }

  test("q_dedup_agg: not-null filters pushed to the parquet scan") {
    val p = plan("q_dedup_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_orderkey)") ||
      p.contains("IsNotNull(l_orderkey)"), s"pushdown missing:\n$p")
  }

  test("q_join_chain: dims joined via broadcast, no shuffle join") {
    val p = plan("q_join_chain")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_agg_salted: two aggregation stages (salt then combine)") {
    val p = plan("q_agg_salted")
    assert(p.split("HashAggregate").length >= 3)
  }

  test("q_embed_neardup: banded sign-LSH joins on (band, bucket) with " +
      "broadcast hyperplanes and partial-aggregable buckets") {
    val p = plan("q_embed_neardup")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"hyperplane side must broadcast:\n$p")
    assert(p.split("HashAggregate").length >= 3,
      "bucket aggregation must have partial + final stages")
    // candidate join is an equi-join on the band/bucket pair, not a
    // cartesian filter
    assert(!p.contains("CartesianProduct"),
      "banded candidate join must not degrade to a cartesian product")
  }

  test("q_setsim_prefix_join: shingle/prefix pipelines materialized " +
      "once — no tokenize work above the checkpoints, fused verify") {
    val p = plan("q_setsim_prefix_join")
    // every split/shingle/freq computation happens below the two
    // localCheckpoints; the query plan itself reads stored blocks.
    // Without the materialization the scan→shingle→freq→pack subtree
    // appeared 2-4× (broadcast build sides defeat exchange reuse).
    assert(!p.contains("split("),
      s"tokenize work leaked above the checkpoint:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      "join sides must read the checkpointed prefix/shingle tables")
    assert(p.contains("jaccard_milli"),
      "verify must use the fused native kernel")
  }

  test("q_incr_neardup: corpus side reads STORED artifacts — only the " +
      "batch pays banding") {
    val p = plan("q_incr_neardup")
    // the stored banding + shingle tables are parquet relations; the
    // minhash signature kernel must appear exactly once (batch side)
    assert("minhash_sig".r.findAllIn(p).size == 1,
      s"corpus side must not re-band (expected 1 minhash_sig):\n$p")
    assert(p.contains("jaccard_milli"))
  }

  test("native kernels are planned inside the scan-side projection") {
    // (WholeStageCodegen spans only appear once AQE finalizes the plan;
    // NativeHashSpec executes the kernels through the codegen path)
    val p = plan("q_text_fingerprint")
    assert(p.contains("rolling_hash") && p.contains("char_codes"),
      s"native kernels missing from plan:\n$p")
  }

  test("q_neardup_minhash_lsh: native signature + exchange reuse " +
      "across self-join sides") {
    val p = plan("q_neardup_minhash_lsh")
    assert(p.contains("minhash_sig"), s"native minhash missing:\n$p")
    assert(p.contains("ReusedExchange") || p.contains("Exchange"),
      "signature barrier exchange expected")
  }

  test("firstPerKey gates: ObjectHashAggregate, min_by_obj reads " +
      "attributes") {
    for (q <- Seq("q_dedup_agg", "q_dedup_weighted", "q_docs_exact_dedup",
        "q_incr_exact_dedup", "q_cdc_merge_apply")) {
      val qe = Registry.queries(q)(spark, sf).queryExecution
      val p = qe.executedPlan.toString
      val picking = collect(qe.executedPlan) { case a: BaseAggregateExec => a }
        .filter(_.aggregateExpressions.exists(
          _.aggregateFunction.isInstanceOf[MinByObj]))
      assert(picking.nonEmpty &&
        picking.forall(_.isInstanceOf[ObjectHashAggregateExec]),
        s"$q: min_by_obj should plan as ObjectHashAggregate:\n$p")
      // q_cdc_merge_apply's snapshot fixture is a declarative min(struct)
      if (q != "q_cdc_merge_apply")
        assert(!p.contains("SortAggregate"),
          s"$q: the typed-imperative form exists to avoid SortAggregate")
      // the structs come from the Project below the aggregate: update()
      // would evaluate a CreateStruct argument interpreted per row
      val args = qe.optimizedPlan.flatMap(_.expressions.flatMap(
        _.collect { case m: MinByObj => m.children }))
      assert(args.nonEmpty, s"$q: no min_by_obj / max_by_obj")
      args.foreach(a => assert(
        a.forall(_.isInstanceOf[AttributeReference]),
        s"$q: min_by_obj arguments are not attributes: ${a.mkString(", ")}"))
    }
  }

  test("q_corpus_split is a pure projection: only the output sort " +
      "shuffles") {
    val p = plan("q_corpus_split")
    assert(!p.contains("HashAggregate") && !p.contains("Join"),
      s"split assignment must not aggregate or join:\n$p")
    // exactly one exchange — the final ORDER BY's range partitioning
    assert(p.sliding("Exchange".length).count(_ == "Exchange") == 1,
      s"expected only the output-sort exchange:\n$p")
  }

  test("q_join_salted joins on (key, salt) without nested loops") {
    val p = plan("q_join_salted")
    assert(p.contains("__salt"), s"salt must reach the join keys:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "salted join must stay an equi-join")
  }

  test("q_ann_lsh_topk: probe side broadcast, candidate join stays " +
      "an equi-join on (band, bucket)") {
    val p = plan("q_ann_lsh_topk")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"query buckets/vectors must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      "bucket probe must not degrade to a cartesian product")
  }

  test("q_dq_referential: anti-joins carry keys only to the shuffle") {
    val p = plan("q_dq_referential")
    assert(p.contains("LeftAnti"), s"orphan checks must be anti-joins:\n$p")
    // fact payloads are projected away before the join: no lineitem
    // value column may appear in the plan's shuffle output
    assert(!p.contains("l_quantity") && !p.contains("l_extendedprice"),
      s"anti-join must not carry fact payload columns:\n$p")
  }

  test("q_ann_pq_topk: literal-codebook encode, broadcast queries, " +
      "no cartesian") {
    val p = plan("q_ann_pq_topk")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"query side must broadcast into the ADC scan:\n$p")
    assert(!p.contains("CartesianProduct"),
      "ADC scan must be broadcast-side, not a shuffled cartesian")
    assert(!p.contains("SortMergeJoin"),
      "PQ encode must not introduce a shuffle join — the codebook is " +
        s"a literal:\n$p")
  }

  test("q_bm25_topk: df side broadcast; tf aggregation two-phase") {
    val p = plan("q_bm25_topk")
    assert(p.contains("BroadcastHashJoin"),
      s"df (3 terms) must broadcast into the score join:\n$p")
    assert(p.split("HashAggregate").length >= 3,
      "tf must partial-aggregate before the shuffle")
  }

  test("q_incr_curation_pipeline: verdict assembly joins are " +
      "AQE-sized equi-joins (the r14 policy), never nested-loop") {
    // r14 dropped the hard broadcast hints on the two assembly
    // LeftOuters (near-ids into s1, s1 verdicts into the batch id
    // list): the frames are BATCH-scaled, so a pinned broadcast would
    // not survive 100× — AQE broadcasts them exactly while the
    // runtime size clears the threshold. The static pin is therefore:
    // equi-join shapes only (every join AQE can freely size), no
    // cartesian/nested-loop anywhere. The observed final shape at
    // sf0.001 is a CO-PARTITIONED sort-merge join with no new
    // exchange: the verdict side rides the spill checkpoint's
    // id-hash partitioning, so the join moves nothing — as good a
    // 100 TB shape as the broadcast the old hint forced, without
    // pinning batch-sized frames into every executor. We pin the
    // invariants (equi-join, no nested-loop) and leave the
    // broadcast-vs-merge choice to AQE, which is the point of r14's
    // hint removal.
    val df = Registry.queries("q_incr_curation_pipeline")(spark, sf)
    // force THIS QueryExecution's adaptive plan to finalize (a write
    // would execute a separate QueryExecution and leave this one at
    // isFinalPlan=false)
    df.queryExecution.executedPlan.execute().count()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("isFinalPlan=true"))
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoopJoin"),
      s"assembly joins must stay AQE-sizable equi-joins:\n$finalPlan")
  }

  test("q_triangle_count: no cartesian, no nested-loop join anywhere") {
    val p = plan("q_triangle_count")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"triangle close must stay equi-join + local intersect:\n$p")
  }

  test("q_bm25_topk: top-k plans as TakeOrderedAndProject, not a " +
      "corpus-wide single-partition window sort") {
    val p = plan("q_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy+limit must plan the bounded heap:\n$p")
  }

  test("q_reservoir_sample: bounded-state aggregate with partial + " +
      "final stages, no window sort") {
    val p = plan("q_reservoir_sample")
    assert(!p.contains("Window"),
      s"the aggregate form must not plan a window:\n$p")
    assert(p.split("ObjectHashAggregate").length >= 3 ||
      p.split("SortAggregate").length >= 3,
      s"reservoir must partial-aggregate map-side:\n$p")
  }

  test("q_weighted_sample: priority top-k plans as " +
      "TakeOrderedAndProject — no global sort, no window") {
    val p = plan("q_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"priority sampling must use the bounded heap:\n$p")
    assert(!p.contains("Window"),
      s"no rank window in the sampling path:\n$p")
  }

  test("q_drift_tv: scalar baseline rides hash joins — no cartesian, " +
      "no nested-loop join") {
    val p = plan("q_drift_tv")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"constant-key totals join must stay a hash join:\n$p")
  }

  test("q_inverted_index: single partial-aggregable shuffle, no Expand") {
    val p = plan("q_inverted_index")
    assert(!p.contains("Expand"),
      s"df must derive from the collected set, not a distinct agg:\n$p")
    assert(p.split("ObjectHashAggregate").length >= 3 ||
      p.split("SortAggregate").length >= 3,
      s"collect_set must partial-aggregate:\n$p")
  }

  test("q_agg_local_supplier: date predicate pushed to the orders " +
      "scan; no cartesian anywhere in the 6-table join") {
    val p = plan("q_agg_local_supplier")
    assert(p.contains("GreaterThanOrEqual(o_orderdate") &&
      p.contains("LessThan(o_orderdate"),
      s"order-date range must reach the parquet scan:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_ann_ivfpq_topk: probed cells prune the codes-store scan " +
      "(dynamic partition pruning), candidates via hash join") {
    val p = plan("q_ann_ivfpq_topk")
    assert(p.contains("dynamicpruning"),
      s"cluster partition pruning must reach the store scan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"candidate generation must be an equi-join:\n$p")
  }

  test("q_text_bpe_apply: vocabulary joins broadcast; subword counts " +
      "partial-aggregate") {
    val p = plan("q_text_bpe_apply")
    assert(p.contains("BroadcastHashJoin"),
      s"vocab join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"))
    assert(p.split("HashAggregate").length >= 3)
  }

  test("q_url_canonicalize / q_rendezvous_shard: pure per-row " +
      "projection — no join, no window over the corpus") {
    val pu = plan("q_url_canonicalize")
    assert(!pu.contains("Join") && !pu.contains("Window"),
      s"canonicalization must stay scan-speed:\n$pu")
    val pr = plan("q_rendezvous_shard")
    assert(!pr.contains("Join") || pr.contains("BroadcastHashJoin"),
      s"HRW assignment must not shuffle-join the corpus:\n$pr")
    assert(!pr.contains("CartesianProduct") &&
      !pr.contains("BroadcastNestedLoopJoin"),
      s"HRW weights fold as literals, never a shard cross-join:\n$pr")
  }

  test("q_scrape_extract / q_scrape_extract_srx: extraction is pure " +
      "per-row regex scan work — no join, no window, no aggregate") {
    for (q <- Seq("q_scrape_extract", "q_scrape_extract_srx")) {
      val p = plan(q)
      assert(!p.contains("Join") && !p.contains("Window") &&
        !p.contains("HashAggregate"),
        s"$q must stay scan-speed (only the ordering sort may " +
          s"exchange):\n$p")
    }
  }
}
