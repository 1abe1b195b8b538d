package graft

import graft.queries.Registry

/** Whole-registry structural audit: the two physical join shapes that
  * silently become O(n²·shuffle) at 100 TB — CartesianProduct (both
  * sides shuffled, all pairs) and BroadcastNestedLoopJoin (per-row
  * scan of the broadcast side) — may not appear in ANY gate's plan
  * except where a side is BOUNDED BY CONSTRUCTION and the pairing is
  * the algorithm. Those exceptions are enumerated below with their
  * bound; a new gate that trips this sweep either gets an equi-join
  * shape or earns an allowlist entry with a written justification.
  *
  * Streaming gates are excluded: invoking them executes a real
  * micro-batch stream (their plans are pinned in their own specs). */
@org.scalatest.tags.Slow
class PlanSweepSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** Gates whose BroadcastNestedLoopJoin is a deliberate
    * bounded-broadcast pairing (the broadcast side is KB-sized by
    * contract — codebooks, hyperplanes, query batches, 1-row bounds —
    * never corpus-sized): the brute/probe sides of the ANN family,
    * retrieval query-term fan-out, PassJoin segment combos, and
    * scalar-bounds attachment. */
  private val bnljByDesign: Set[String] = Set(
    "q_ann_cosine_topk",   // brute-force baseline: corpus × broadcast query batch
    "q_ann_ivf_persisted", // probe: broadcast codebook (k centroids)
    "q_ann_ivf_recall",    // exact side is the brute baseline above
    "q_ann_ivf_topk",
    "q_ann_lsh_multiprobe", // broadcast hyperplanes (k×d floats)
    "q_ann_lsh_persisted",
    "q_ann_takedown",       // same probe shape, retracted index side
    "q_ann_lsh_topk",
    "q_ann_pq_recall",      // brute exact side + broadcast codebooks
    "q_ann_pq_topk",
    "q_ann_ivfpq_topk",     // broadcast 8-row coarse codebook probe
    "q_ann_ivfpq_recall",   // + the brute exact side
    "q_bm25_from_store",    // broadcast query-term set (handful of terms)
    "q_takedown_sweep",     // same stored-BM25 shape, retracted
    "q_bm25_topk",
    "q_rrf_fusion",         // composes bm25TopK: same 1-row scalar broadcast
    "q_editdist_join",      // broadcast segment-combo index (PassJoin, ~L·τ rows)
    "q_embed_neardup",      // broadcast hyperplanes
    "q_hard_negatives",     // corpus × broadcast armed anchor set
    "q_semantic_decontaminate", // corpus × broadcast bounded eval set
    "q_knn_classify",       // corpus × broadcast labeled queries
    "q_classify_centroid",  // holdout × broadcast |labels|-row centroid model
    "q_classify_confusion", // same scoring pass, rolled up
    "q_source_overlap",     // #strata × #strata pair grid (bounded domain)
    "q_text_length_trim",   // broadcast 1-row percentile bounds
    "q_eval_kappa",         // two 1-row aggregates combined (n/agree × S)
    "q_code_quality_cutoff", // broadcast 1-row prose-threshold scalar
    "q_lm_ref_surprisal",   // broadcast 1-row vocab-size scalar (V)
    "q_lm_surprisal_buckets", // composes refLmSurprisal: same V scalar
    "q_pref_bradley_terry", // broadcast 1-row max anchor per iteration
    "q_pref_transitivity"   // broadcast 1-row edge-count scalar
  )

  test("no gate plans a CartesianProduct; BroadcastNestedLoopJoin " +
      "only where the broadcast side is bounded by construction") {
    val gates = Registry.all.map(_.name)
      .filterNot(_.startsWith("q_stream_")).sorted
    val offenders = gates.flatMap { name =>
      val p = Registry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      val cart = p.contains("CartesianProduct")
      val bnlj = p.contains("BroadcastNestedLoopJoin") &&
        !bnljByDesign.contains(name)
      if (cart) Some(s"$name: CartesianProduct")
      else if (bnlj) Some(s"$name: unallowlisted BroadcastNestedLoopJoin")
      else None
    }
    assert(offenders.isEmpty,
      s"scale-hostile join shapes:\n${offenders.mkString("\n")}")
  }

  /** Gates whose unpartitioned Window runs over an input BOUNDED BY
    * CONSTRUCTION — a limit(k) output or an aggregate of bounded
    * cardinality — where the single-partition exchange moves k or
    * group-count rows, never the corpus. */
  private val globalWindowByDesign: Set[String] = Set(
    "q_agg_monthly_lag",  // lag over the MONTHLY aggregate (≤ months rows)
    "q_bm25_topk",        // rank over the limit(k) output (Retrieval.rankTopK)
    "q_bm25_from_store",  // same shared rankTopK
    "q_takedown_sweep",   // same shared rankTopK, retracted inputs
    "q_drift_tv",         // grand total over the BIN aggregate (≤ bins rows)
    "q_domain_relevance", // totals over the BUCKET aggregate (64 rows)
    "q_dsir_sample",      // composes domainRelevance (same 64-row window)
    "q_lang_rebalance",   // apportionment over the LANG aggregate (≤ langs rows)
    "q_rrf_fusion",       // ranks over limit(k) outputs (rankTopK + fusion)
    "q_classify_active_sample", // rank over the limit(25) TakeOrdered batch
    "q_neardup_threshold_curve" // cumulative over the ≤5-row bin aggregate
  )

  test("no unpartitioned window over unbounded input — the " +
      "single-partition sort cliff") {
    val gates = Registry.all.map(_.name)
      .filterNot(_.startsWith("q_stream_")).sorted
    val offenders = gates.flatMap { name =>
      val lp = Registry.queries(name)(spark, sf)
        .queryExecution.optimizedPlan
      val bad = lp.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
      if (bad.nonEmpty && !globalWindowByDesign.contains(name))
        Some(s"$name: ${bad.size} unpartitioned Window node(s)")
      else None
    }
    assert(offenders.isEmpty,
      s"unpartitioned windows:\n${offenders.mkString("\n")}")
  }

  test("the allowlists carry no stale entries (every listed gate " +
      "still exists)") {
    val names = Registry.all.map(_.name).toSet
    val stale = (bnljByDesign ++ globalWindowByDesign).diff(names)
    assert(stale.isEmpty, s"allowlisted gates no longer registered: $stale")
  }

  /** Every driver-side `.collect()` in the MAIN sources, with its
    * bound — the audit VERDICT r8 ran by hand, now a regression gate.
    * A collect is admissible only when its row count is bounded by
    * CONSTRUCTION (k centroids, partition counts, warm-up scalars),
    * never corpus-sized. Adding a `.collect()` anywhere under
    * src/main/scala/graft fails this sweep until the site is entered
    * here with its written bound. */
  private val boundedCollects: Map[String, Int] = Map(
    "ops/Clustering.scala" -> 2, // k-row codebook seed; k·dim centroid sums
    "ops/GlobalOrder.scala" -> 2, // per-partition offset maps (≤ #partitions)
    "ops/AnnIndex.scala" -> 1,    // k-row trained codebook
    "ops/TextOps.scala" -> 1,     // 1-row per-round BPE argmax merge
    "ops/Classify.scala" -> 1,    // |labels|-row trained centroid model
    "queries/TextQueries.scala" -> 1, // ≤ 26+rounds BPE symbol set
    "queries/JobQueries.scala" -> 1,  // nation dim render: 25 rows at every SF
    "Harness.scala" -> 2          // warm-up scalar (sum over range);
                                  // catalog table LIST for the untimed
                                  // store warm pass (store-count-sized,
                                  // ~30 names)
  )

  test("every main-source collect() is allowlisted with a documented " +
      "bound; no driver-unbounded materialization APIs appear") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(root),
      s"main source root not found from ${System.getProperty("user.dir")}")
    import scala.jdk.CollectionConverters._
    val scalaFiles = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala
        .filter(_.toString.endsWith(".scala")).toVector
      finally s.close()
    }
    val collectRe = """\.collect\(\)""".r
    val found = scalaFiles.flatMap { p =>
      val n = collectRe.findAllIn(
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).size
      if (n > 0) Some(root.relativize(p).toString -> n) else None
    }.toMap
    val unlisted = found.filterNot { case (f, n) =>
      boundedCollects.get(f).contains(n)
    }
    assert(unlisted.isEmpty,
      "collect() sites not matching the bounded allowlist (file -> " +
        s"count): $unlisted — document the bound in boundedCollects " +
        "or remove the driver-side materialization")
    val stale = boundedCollects.keySet.diff(found.keySet)
    assert(stale.isEmpty, s"allowlisted files no longer collect: $stale")
    // APIs that pull an UNBOUNDED result to the driver with no
    // k-argument anywhere in the call: banned outright in main sources
    val banned = Seq("collectAsList", "toLocalIterator")
    val bannedHits = scalaFiles.flatMap { p =>
      val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      banned.filter(src.contains).map(b => s"${root.relativize(p)}: $b")
    }
    assert(bannedHits.isEmpty,
      s"driver-unbounded materialization APIs: $bannedHits")
  }

  /** Every explicit `broadcast(...)` hint in the MAIN sources, with
    * its documented bound (r13 verdict item 4). A hard broadcast hint
    * pins the hinted frame into EVERY executor regardless of its
    * runtime size — admissible only when the frame is bounded by
    * CONTRACT (a dim table, k centroids, a query batch, a 1-row
    * scalar, an entity-score vector), never when it scales with the
    * corpus or the arriving batch. Corpus/batch-scaled joins carry no
    * hint: AQE broadcasts them exactly while the runtime size clears
    * `autoBroadcastJoinThreshold` and shuffles them when it doesn't
    * (the r14 fix to q_incr_curation_pipeline /
    * q_provenance_conservation / q_agg_shipping_priority). Adding a
    * `broadcast(` anywhere under src/main/scala/graft fails this
    * sweep until the site is entered here with its written bound. */
  private val boundedBroadcasts: Map[String, Int] = Map(
    "plans/AsOfJoin.scala" -> 1,  // sc.broadcast of the built dim-side
                                  // sorted index (build side ≤ dim)
    "ops/Joins.scala" -> 4,       // dim-enrich helpers: callers pass
                                  // dim tables by contract (scaladoc)
    "ops/Similarity.scala" -> 3,  // k×d hyperplanes; PassJoin segment
                                  // index / combos (≤ L·τ rows)
    "ops/Clustering.scala" -> 2,  // sc.broadcast of k centroids
    "ops/Analytics.scala" -> 3,   // bin grid, group list, per-group
                                  // thresholds (bounded domains)
    "ops/TextOps.scala" -> 1,     // per-source template-line dictionary
                                  // (lines with df ≥ minRatio of a
                                  // source's docs — template-sized)
    "ops/InvertedIndexStore.scala" -> 6, // query-term sets, 1-row
                                  // corpus scalars / tombstone
                                  // corrections, and the dl-lookup id
                                  // set (bounded by the query terms'
                                  // posting rows — the set BM25 must
                                  // rank anyway; a stop-word-scale
                                  // term is a query-hygiene problem,
                                  // not a plan-shape one)
    "ops/Ngram.scala" -> 1,       // 1-row vocab-size scalar
    "ops/Robots.scala" -> 1,      // per-host crawl-delay dim
    "ops/Classify.scala" -> 1,    // |labels|-row centroid model
    "ops/Retrieval.scala" -> 3,   // query-term sets + 1-row scalars
    "ops/BradleyTerry.scala" -> 6, // entity score vectors (id, bt —
                                  // two longs per entity) into pair
                                  // lists; the per-iteration max
                                  // anchor broadcast was fused into
                                  // the checkpoint job (r17)
    "ops/AnnIndex.scala" -> 4,    // codebooks (k rows), probe buckets,
                                  // query vectors (batch by contract)
    "ops/Tombstones.scala" -> 1,  // takedown id store (request-sized)
    "ops/PreferenceAudit.scala" -> 1, // 1-row duel-count scalar
    // (RankCentrality's dmax / max-anchor broadcasts were fused into
    // checkpoint-job observed metrics in r17 — no hints remain)
    "ops/Corpus.scala" -> 5,      // bucket offsets, 64-bucket relevance,
                                  // strata counts/thresholds/quotas
                                  // (bounded key domains)
    "queries/ScaleQueries.scala" -> 1, // eval-set shingles (fixed
                                  // decontamination set by contract)
    "queries/CorpusQueries.scala" -> 3, // capstone stores: eval-set
                                  // shingles ×2 (frozen set by
                                  // contract) + 4-row per-shard pack
                                  // offsets
    "queries/AggQueries.scala" -> 5,  // nation/region dims, ≤3-row
                                  // medians, constructed micro-dim
    "queries/SimQueries.scala" -> 10, // query batches, k centroids,
                                  // anchor/eval sets, LSH query buckets
    "queries/TextQueries.scala" -> 2, // 1-row percentile bounds;
                                  // eval-set shingles
    "queries/ClusterQueries.scala" -> 6, // query batches, k centroids,
                                  // probe buckets
    "queries/CodeQueries.scala" -> 1 // 1-row prose-threshold scalar
  )

  test("every main-source broadcast() hint is allowlisted with a " +
      "documented bound") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    import scala.jdk.CollectionConverters._
    val scalaFiles = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala
        .filter(_.toString.endsWith(".scala")).toVector
      finally s.close()
    }
    val hintRe = """broadcast\(""".r
    val found = scalaFiles.flatMap { p =>
      val code = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .linesIterator
        .filterNot { l =>
          val t = l.trim
          t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
        }
        .mkString("\n")
      val n = hintRe.findAllIn(code).size
      if (n > 0) Some(root.relativize(p).toString -> n) else None
    }.toMap
    val unlisted = found.filterNot { case (f, n) =>
      boundedBroadcasts.get(f).contains(n)
    }
    assert(unlisted.isEmpty,
      "broadcast() hints not matching the bounded allowlist (file -> " +
        s"count): $unlisted — document the bound in boundedBroadcasts " +
        "or drop the hint and let AQE size the join")
    val stale = boundedBroadcasts.keySet.diff(found.keySet)
    assert(stale.isEmpty,
      s"allowlisted files no longer hint broadcasts: $stale")
  }

  /** Storage-level policy for localCheckpoints (r13 verdict item 2;
    * policy text on [[graft.ops.Checkpoints.spill]]): bare
    * `.localCheckpoint()` — deserialized MEMORY_AND_DISK — is
    * reserved for NARROW bounded-or-linear frames (fixed-width
    * numeric entity/pair/edge vectors, bounded aggregates). Frames
    * carrying corpus payload (text / array columns) or super-linear
    * row counts must go through `Checkpoints.spill` (serialized
    * MEMORY_AND_DISK_SER), which caps the storage-pool claim at the
    * compact binary size — round 13's sf10 sweep OOMed on exactly
    * this distinction. Every bare site is enumerated here with its
    * narrowness argument; a new bare `.localCheckpoint()` fails this
    * sweep until it is entered (or routed through spill). */
  private val narrowCheckpoints: Map[String, Int] = Map(
    "ops/KCore.scala" -> 4,        // symmetrized edge list (2 longs) +
                                   // degree/node vectors (longs)
    "ops/Blocking.scala" -> 1,     // (__idx, id) — two longs per row
    "ops/Clustering.scala" -> 2,   // (id, cluster, dist_sq) fixed-width
    "ops/Components.scala" -> 2,   // edge list + label vectors (2
                                   // longs); the per-round labels
                                   // route through checkpointObserving
                                   // (r17 convergence-count fuse)
    "ops/PageRank.scala" -> 4,     // edge list (2 longs), node ids,
                                   // rank vectors
    "ops/Triangles.scala" -> 1,    // oriented edge list (2 longs)
    "ops/BradleyTerry.scala" -> 3, // pair matrix (4 longs), wins/score
                                   // vectors (2 longs per entity); the
                                   // raw vector routes through
                                   // checkpointWithMax (r17)
    "ops/Communities.scala" -> 3,  // edges + label vectors
    "ops/Tombstones.scala" -> 1,   // takedown id list (request-sized)
    "ops/PreferenceAudit.scala" -> 1, // pair matrix (4 longs)
    "ops/RankCentrality.scala" -> 4,  // pair matrix + entity vectors;
                                   // the raw vector routes through
                                   // checkpointWithMax (r17)
    "streaming/StreamingOps.scala" -> 5, // fold states: key-domain-
                                   // bounded snapshots + narrow pair
                                   // matrices + the (p, fp-md5, n)
                                   // prefix index (audited r14)
    "queries/StreamQueries.scala" -> 1,   // ≤bins histogram snapshot
    "queries/AnalyticsQueries.scala" -> 4, // pair matrices (4 longs)
    "queries/TextQueries.scala" -> 1, // lang×pred confusion grid
    "ops/Checkpoints.scala" -> 1   // checkpointWithMax's own eager
                                   // checkpoint (narrow frames by the
                                   // callers' contract, same as a
                                   // bare-site caller)
  )

  test("bare localCheckpoint() only on narrow bounded-or-linear " +
      "frames; corpus-payload checkpoints route through " +
      "Checkpoints.spill") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    import scala.jdk.CollectionConverters._
    val scalaFiles = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala
        .filter(_.toString.endsWith(".scala")).toVector
      finally s.close()
    }
    def code(p: java.nio.file.Path): String =
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .linesIterator
        .filterNot { l =>
          val t = l.trim
          t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
        }
        .mkString("\n")
    val bareRe = """\.localCheckpoint\(\)""".r
    val found = scalaFiles.flatMap { p =>
      val n = bareRe.findAllIn(code(p)).size
      if (n > 0) Some(root.relativize(p).toString -> n) else None
    }.toMap
    val unlisted = found.filterNot { case (f, n) =>
      narrowCheckpoints.get(f).contains(n)
    }
    assert(unlisted.isEmpty,
      "bare localCheckpoint() sites not matching the narrow allowlist " +
        s"(file -> count): $unlisted — document the narrow bound in " +
        "narrowCheckpoints or route the site through Checkpoints.spill")
    val stale = narrowCheckpoints.keySet.diff(found.keySet)
    assert(stale.isEmpty,
      s"allowlisted files no longer take bare checkpoints: $stale")
    // leveled localCheckpoint(eager, level) calls live ONLY in the
    // policy helper — everything else must route through spill so the
    // level choice stays centralized and documented
    val leveledRe = """\.localCheckpoint\([^)]""".r
    val leveled = scalaFiles.flatMap { p =>
      val n = leveledRe.findAllIn(code(p)).size
      if (n > 0) Some(root.relativize(p).toString -> n) else None
    }.toMap
    assert(leveled == Map("ops/Checkpoints.scala" -> 1),
      s"leveled localCheckpoint calls outside Checkpoints.spill: $leveled")
  }
}
