package graft.ops

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Near-duplicate detection and vector similarity for training-data
  * pipelines: MinHash+LSH, SimHash, n-gram Jaccard, cosine.
  *
  * Scale design (100 TB):
  *  - Shingling/minhashing are per-row projections (codegen, no shuffle).
  *  - LSH banding turns the O(n²) all-pairs problem into an equi-join on
  *    (band, bucket): one hash-partition shuffle on bucket keys; only
  *    rows sharing a bucket ever meet. Skewed buckets (giant clusters)
  *    are handled by AQE skew-join splitting.
  *  - Verification (exact Jaccard) runs only on candidate pairs.
  *  - Cosine: query side broadcast; scan side streams — no shuffle. */
object Similarity {

  /** LSH bucket ids: the signature split into `bands` bands of
    * `rowsPerBand` values, each band hashed to one bucket key. */
  def lshBuckets(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      xxhash64(b, slice(sig, b * rowsPerBand + lit(1), lit(rowsPerBand))))

  /** Candidate pairs (idA < idB) of rows sharing ≥1 LSH bucket.
    * `df` must carry `id` (long) and `shingles` (array<string>).
    *
    * The `repartition(id)` below is a deliberate MATERIALIZATION
    * BARRIER, not a partitioning choice: Catalyst's CollapseProject
    * inlines column expressions into every reference site, and
    * common-subexpression elimination does not reach inside
    * higher-order-function lambdas — without the barrier the shingle
    * array (regex splits) and the k-hash signature are recomputed for
    * every band slice and every join side (~50× per row; measured
    * 558 s → ~20 s at sf0.1). An Exchange materializes the projection
    * below it, so everything downstream reads stored arrays. At scale
    * this is the standard "write the signature table once" step of an
    * LSH pipeline; the exchange also gets reused by both self-join
    * sides. */
  /** Explicit partition count for materialization barriers: an
    * explicit `repartition(n, col)` is never AQE-coalesced — tiny
    * inputs (one parquet split) would otherwise collapse to a single
    * partition and serialize all per-row hash work onto one core. */
  private def barrierPartitions(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  /** Smallest integer overlap o passing the HALF-UP-rounded milli
    * filter `floor(1000·o/den + 0.5) >= t`: that inequality is
    * `2000·o >= (2t−1)·den`, so o_min = ceil(den·(2t−1)/2000). The
    * naive un-rounded lemma bound ceil(den·t/1000) is one too HIGH
    * for den >= 2000 at the boundary — a prefix sized from it is one
    * token short and silently drops pairs the verify (and the
    * all-pairs oracle) admit. All prefix-length and length/positional
    * filter arithmetic in this file must derive from THIS bound.
    * (Double division is safe here: integer-valued quotients are
    * exactly representable, and non-integer true quotients sit >=
    * 1/2000 from any integer — far beyond one ulp.) */
  private def minOverlap(den: Column, thresholdMilli: Int): Column =
    ceil(den * (2L * thresholdMilli - 1) / lit(2000.0))

  /** Rare-first prefix rows (id, n, t) from (id, t, f) token rows:
    * per-doc ascending (f, t) sort inside one hash aggregate, keeping
    * the first n − o_min + 1 tokens (o_min = [[minOverlap]]) — the
    * contained-side candidate surface shared by BOTH containment
    * paths, so the prefix-length arithmetic lives in exactly one
    * audited place. */
  private def rareFirstPrefixes(withF: DataFrame,
                                thresholdMilli: Int): DataFrame =
    withF.groupBy("id")
      .agg(sort_array(collect_list(struct(col("f"), col("t")))).as("st"))
      .withColumn("n", size(col("st")))
      .withColumn("plen",
        greatest(lit(1),
          (col("n") - minOverlap(col("n"), thresholdMilli) + 1)
            .cast("int")))
      .select(col("id"), col("n"),
        explode(slice(col("st"), lit(1), col("plen"))).as("s"))
      .select(col("id"), col("n"), col("s.t").as("t"))

  /** (id, __bucket) banding table of a shingled corpus — the SHARED
    * bucketize pipeline behind both the self-join
    * ([[lshCandidatePairs]]) and the incremental
    * ([[nearDupPairsAgainstBuckets]]) paths: hash shingle strings to longs
    * ONCE behind a materialization barrier, one fused native
    * minhash-signature pass, explode to band buckets. At 100 TB this
    * output is the artifact to STORE for the corpus side (refresh via
    * [[graft.ops.Merge.upsert]] as batches land). */
  def bucketize(df: DataFrame, k: Int, bands: Int): DataFrame = {
    val r = k / bands
    val n = barrierPartitions(df)
    val hashed = df
      .select(col("id"),
        transform(col("shingles"), s => xxhash64(s)).as("__sh"))
      .repartition(n, col("id"))
    // native fused kernel (functions.MinHashSig): one pass over the
    // hash array with a k-wide running min, vs k interpreted
    // array_min(transform(...)) traversals — bit-identical signature
    // (NativeHashSpec holds the HOF reference)
    hashed
      .select(col("id"),
        GraftFunctions.minHashSig(col("__sh"), k)
          .as("__sig"))
      .select(col("id"),
        explode(lshBuckets(col("__sig"), bands, r)).as("__bucket"))
  }

  def lshCandidatePairs(df: DataFrame, k: Int, bands: Int): DataFrame = {
    val withBuckets = bucketize(df, k, bands)
    val a = withBuckets.as("a")
    val b = withBuckets.as("b")
    a.join(b, col("a.__bucket") === col("b.__bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Exact Jaccard similarity of two distinct-element arrays, in
    * floor-rounded milli-units (engine-exact integer). Built-in form —
    * [[GraftFunctions.jaccardMilli]] is the arithmetic-identical native
    * kernel the hot verify paths use (equivalence pinned in
    * SimilaritySpec). */
  def jaccardMilli(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val union = size(a) + size(b) - inter
    floor(lit(1000.0) * inter / union + 0.5).cast(LongType)
  }

  /** MinHash-LSH near-duplicate pairs with exact-Jaccard verification:
    * candidates from [[lshCandidatePairs]], kept iff the true shingle
    * Jaccard ≥ threshold (milli). False positives are eliminated by the
    * verify join; false-negative probability is (1-J^r)^bands — pick
    * bands/r so it is negligible at the target J. */
  def nearDupPairs(docs: DataFrame, k: Int = 32, bands: Int = 16,
                   thresholdMilli: Int = 800): DataFrame = {
    // LAZY shingle reuse, deliberately: the three consumers (banding
    // pipeline + both verify payload sides) recompute the shingle
    // projection, which measures CHEAPER than materializing it — an
    // id-keyed exchange + localCheckpoint of the shingle-array payload
    // (A/B at sf0.1, 3 runs each, standalone protocol: lazy 6.0-6.9 s,
    // repartition+checkpoint 6.2-7.2 s, repartition-only 6.7-7.2 s).
    // At 100 TB the shingle table IS a stored table (the LSH store
    // path); in-query eager materialization only pays when a fourth
    // consumer appears.
    val mat = docs.select(col("id"), col("shingles"))
    val cands = lshCandidatePairs(mat, k, bands)
    val sa = mat.select(col("id").as("id_a"), col("shingles").as("sh_a"))
    val sb = mat.select(col("id").as("id_b"), col("shingles").as("sh_b"))
    cands.join(sa, "id_a").join(sb, "id_b")
      .withColumn("jaccard_milli",
        GraftFunctions.jaccardMilli(col("sh_a"), col("sh_b")))
      .filter(col("jaccard_milli") >= thresholdMilli)
      .select("id_a", "id_b", "jaccard_milli")
  }

  /** EXACT set-similarity self-join via prefix filtering (the PPJoin
    * family, Chaudhuri/Ganti/Kaushik SSJoin + Xiao et al. — public
    * literature): the deterministic complement to the probabilistic
    * [[nearDupPairs]]. Tokens get a global rare-first total order
    * (ascending document frequency); each set keeps only its first
    * `n − o_min + 1` tokens as its PREFIX (o_min = [[minOverlap]],
    * the bound for the HALF-UP-rounded milli filter), and the prefix
    * lemma guarantees any pair the rounded Jaccard filter admits
    * shares a prefix token — so the prefix equi-join is a provably
    * COMPLETE candidate set (no LSH false-negative probability), and
    * the exact-Jaccard verify makes the result exact.
    *
    * Scale shape: one vocab-sized frequency aggregate, one shuffle to
    * attach frequencies, one per-doc sort (array-local, not a global
    * sort), then an equi-join on prefix tokens — rare-first ordering
    * keeps prefix-token collision lists short, which is what bounds
    * the candidate blowup, and the PPJoin length filter kills
    * size-mismatched collisions before verification. Trade vs
    * MinHash (same corpus, J >= 0.8, sf0.1): exact ~2.3-2.6x the LSH
    * twin across runs (final BASELINE table: 5.99 vs 2.61 s; an
    * earlier same-day run: 8.7 vs 3.3 s — the repo's documented
    * +-30% host drift); use MinHash when the ~1e-7 banding miss
    * probability is acceptable, prefix filtering when completeness
    * must be provable. (Prefix extraction A/B, same run: per-doc
    * array sort inside one hash aggregate beat the two-window
    * row_number/count formulation 9.6 vs 15.4 s.)
    *
    * Sizes/prefixes/Jaccard are SET semantics: the input shingle
    * arrays are defensively `array_distinct`ed (duplicate elements
    * would inflate the length filter and silently drop true pairs). */
  def setSimilarityPairsExact(docs: DataFrame,
                              thresholdMilli: Int): DataFrame = {
    val n0 = barrierPartitions(docs)
    // EAGER materialization (localCheckpoint), not just an exchange
    // barrier: this plan fans out — the prefix table feeds BOTH
    // self-join sides and the shingle table BOTH payload sides, and
    // exchange reuse does not cover a broadcast side (the build side
    // wraps in a BroadcastExchange, a different node than the probe
    // side's shuffle, so the planner re-derives the whole subtree:
    // measured as the full scan→shingle→freq→pack pipeline appearing
    // 2× and the corpus shingling 4× in the physical plan). Storing
    // the signature/prefix tables once and re-reading blocks is the
    // same "write the signature table once" shape the LSH path
    // documents — at scale these ARE stored tables.
    val mat = docs.select(col("id"),
        array_distinct(col("shingles")).as("shingles"))
      .repartition(n0, col("id"))
      .transform(Checkpoints.spill)
    // FILTER phase on the xxhash64-COARSENED token alphabet (round 16;
    // same move bucketize documents — "hash shingle strings to longs
    // once"): every freq/sort/prefix/candidate step below then hashes,
    // sorts, and ships 8-byte longs instead of ~30-byte UTF8 shingles
    // (Murmur3 over string bytes was the gate's top executor frame).
    // Correctness is the COARSENING LEMMA, not a no-collision
    // assumption: hashing can only MERGE tokens, merging only raises
    // set overlap and shrinks set sizes, so coarse Jaccard >= true
    // Jaccard and every pair passing the true-J >= t verify also
    // passes the coarse filters — the candidate set stays provably
    // complete (sizes n and positions below all come from the
    // coarsened arrays, keeping the filter arithmetic internally
    // consistent). False extras die in the exact string-array verify
    // as before.
    val toks = mat.select(col("id"),
      explode(array_distinct(
        transform(col("shingles"), s => xxhash64(s)))).as("t"))
    val freq = toks.groupBy("t").agg(count(lit(1)).as("f"))
    // prefix extraction via per-doc array sort (hash aggregate +
    // local array sort) — measured FASTER than the two-window
    // row_number/count formulation (9.6 vs 15.4 s at sf0.1): the
    // windows pay a full per-partition sort of every token row plus
    // two window passes, while the arrays sort ~100 elements locally
    // inside one hash aggregate
    val packed = toks.join(freq, "t")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("f"), col("t"))))
        .as("st"))
      .withColumn("n", size(col("st")))
      // J >= t (rounded) forces overlap >= minOverlap(n): o/(n_a+n_b−o)
      // >= t−½ and n_b >= o give 2000·o >= (2t−1)·n_a — so the prefix
      // must reach past the n − o_min rarest tokens
      .withColumn("plen",
        greatest(lit(1),
          (col("n") - minOverlap(col("n"), thresholdMilli) + 1)
            .cast("int")))
    val prefixes = packed
      .select(col("id"), col("n"),
        posexplode(slice(col("st"), lit(1), col("plen"))))
      .select(col("id"), col("n"), col("col.t").as("t"),
        // 1-based position in the rare-first token order (slice starts
        // at element 1, so posexplode's 0-based pos + 1 is global)
        (col("pos") + 1).as("i"))
      // narrow (id, n, t, i) rows, stored once, read by both join
      // sides — see the materialization note on `mat`
      .transform(Checkpoints.spill)
    // length filter (PPJoin): max overlap is min(|A|,|B|), and the
    // ROUNDED J >= t filter needs 2000·o >= (2t−1)(|A|+|B|−o), i.e.
    // o(1999+2t) >= (2t−1)(|A|+|B|) — size-mismatched collisions die
    // before the distinct and the verify joins. Positional filter
    // (Xiao et al. PPJoin): a collision at positions (i, j) can
    // contribute at most ubound = 1 + min(|A|-i, |B|-j) overlapping
    // tokens (everything before the shared token in each prefix is
    // disjoint by the total order); collisions with
    // ubound·(1999+2t) < (2t−1)(|A|+|B|) are pruned BEFORE the
    // distinct. All integer arithmetic derived from the SAME rounded
    // bound as minOverlap — exact, and the candidate set stays
    // provably complete for the milli verify. LONG arithmetic: n is
    // IntegerType from size(), and the ~3799× multipliers would hit
    // ANSI ARITHMETIC_OVERFLOW at n ≈ 565k where the old ×1000 form
    // survived to ~2.1M — same headroom discipline as simhash64's
    // shift-or packing.
    val lenSum = col("a.n").cast(LongType) + col("b.n")
    val cands = prefixes.as("a")
      .join(prefixes.as("b"),
        col("a.t") === col("b.t") && col("a.id") < col("b.id") &&
          least(col("a.n"), col("b.n")).cast(LongType) *
            (1999 + 2 * thresholdMilli) >=
            lenSum * (2 * thresholdMilli - 1) &&
          (lit(1L) + least(col("a.n") - col("a.i"),
            col("b.n") - col("b.i")).cast(LongType)) *
            (1999 + 2 * thresholdMilli) >=
            lenSum * (2 * thresholdMilli - 1))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cands
      .join(mat.select(col("id").as("id_a"), col("shingles").as("sh_a")),
        "id_a")
      .join(mat.select(col("id").as("id_b"), col("shingles").as("sh_b")),
        "id_b")
      .withColumn("jaccard_milli",
        GraftFunctions.jaccardMilli(col("sh_a"), col("sh_b")))
      .filter(col("jaccard_milli") >= thresholdMilli)
      .select("id_a", "id_b", "jaccard_milli")
  }

  /** EXACT containment join (asymmetric near-dup): pairs (a, b) where
    * the smaller shingle set a is (near-)contained in b —
    * C(a,b) = |a∩b| / |a| ≥ t. Catches prefix/suffix-truncated and
    * quoted-subset duplicates whose SYMMETRIC Jaccard falls under any
    * usable threshold once sizes diverge (|a|=50 ⊂ |b|=500 has
    * J ≈ 0.1 but C = 1.0) — the same reason symmetric MinHash banding
    * under-recalls exactly these size-skewed pairs.
    *
    * Same rare-first total order as [[setSimilarityPairsExact]], with
    * the ASYMMETRIC prefix lemma: the rounded C(a,b) ≥ t filter
    * needs overlap ≥ ceil((2t−1)·|a|/2000) ([[minOverlap]]), so a
    * must share one of its first |a| − o_min + 1 rare-first tokens
    * with b's FULL token set —
    * the contained-side prefix joins the container-side full token
    * list and the candidate set is provably COMPLETE. Scale shape:
    * the join is bounded by rare-prefix collision lists on the a-side
    * (≈(1−t)·|a|+1 tokens/doc) times container token lists; id-pair
    * candidates then one candidate-sized verify — no all-pairs
    * anywhere. Equal-size pairs keep id_a < id_b so each emits once.
    * Sets are `array_distinct`ed defensively (duplicate elements
    * would inflate |a| and silently drop true containments). */
  def containmentPairs(docs: DataFrame, thresholdMilli: Int): DataFrame = {
    // EAGER materialization here, unlike [[nearDupPairs]] (measured
    // lazy-wins there): this plan reads the distinct-shingle table
    // FIVE ways — freq/packed/prefixes chain, the container-side
    // explode, and both verify payload sides — and the upstream
    // corpus→tokenize→shingle→distinct chain is the expensive part
    // (gate 15.0 → ~8 s at sf0.1 with the checkpoint)
    // filter phase on the xxhash64-coarsened alphabet — see the
    // coarsening-lemma note in setSimilarityPairsExact; for the
    // asymmetric C(a,b) = |a∩b|/|a| the same argument holds (merging
    // raises overlap and shrinks |a|, so coarse C >= true C) as long
    // as BOTH the prefix-side n and the container-side n come from
    // the coarsened arrays, which they do below. The hashed array is
    // computed ONCE into the checkpoint (hashing per consumer measured
    // away the narrow-key win — 3.45 vs 3.13 s A/B).
    val mat = docs.select(col("id"),
        array_distinct(col("shingles")).as("shingles"))
      .withColumn("h",
        array_distinct(transform(col("shingles"), s => xxhash64(s))))
      .transform(Checkpoints.spill)
    val toks = mat.select(col("id"), explode(col("h")).as("t"))
    val freq = toks.groupBy("t").agg(count(lit(1)).as("f"))
    // C >= t (rounded) forces overlap >= minOverlap(n) — prefix
    // sizing lives in the shared rareFirstPrefixes helper
    val prefixes = rareFirstPrefixes(toks.join(freq, "t"), thresholdMilli)
    // container side needs NO rare-first packing — only (id, |set|,
    // token), straight off the shingle explode: the freq join +
    // per-doc sort pipeline is paid once, on the (much smaller)
    // prefix side only (measured 15.7 → ~7 s at sf0.1)
    val fullToks = mat
      .select(col("id"), size(col("h")).as("n"),
        explode(col("h")).as("t"))
    val cands = prefixes.as("a")
      .join(fullToks.as("b"),
        col("a.t") === col("b.t") &&
          (col("a.n") < col("b.n") ||
            (col("a.n") === col("b.n") && col("a.id") < col("b.id"))))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cands
      .join(mat.select(col("id").as("id_a"), col("shingles").as("sh_a")),
        "id_a")
      .join(mat.select(col("id").as("id_b"), col("shingles").as("sh_b")),
        "id_b")
      .withColumn("containment_milli",
        GraftFunctions.containmentMilli(
          col("sh_a"), col("sh_b")))
      .filter(col("containment_milli") >= thresholdMilli)
      .select("id_a", "id_b", "containment_milli")
  }

  /** Incremental containment against PRECOMPUTED corpus artifacts —
    * the daily path of [[containmentPairs]] with direction fixed:
    * which NEW docs are (near-)contained in an existing corpus doc
    * (incoming quotes/truncations of content already held).
    * `corpusTokens` is the stored (id, t) exploded-shingle index and
    * `corpusFreq` the stored (t, f) frequency table — the increment
    * pays shingling over the BATCH only, one batch-tokens ⋈ freq
    * join, the prefix ⋈ token-index equi-join, and a candidate-sized
    * verify; nothing corpus-sized is recomputed. At 100 TB both
    * stored tables are bucketed by `t` so the probes co-locate.
    *
    * Completeness needs NO particular prefix order here: the rounded
    * C(a,B) ≥ t filter forces fewer than |a| − o_min + 1 tokens of a
    * to miss B (o_min = [[minOverlap]]), so ANY subset of that size
    * must intersect B. Corpus-frequency
    * rare-first ordering is purely a SELECTIVITY lever — and a batch
    * token the corpus has never seen (left-join f → 0) sorts first
    * AND collides with nothing, the cheapest possible prefix. */
  def containmentAgainstTokens(batch: DataFrame, corpusTokens: DataFrame,
                               corpusShingles: DataFrame,
                               corpusFreq: DataFrame,
                               thresholdMilli: Int): DataFrame = {
    // the batch shingle table feeds the prefix chain AND the verify
    // payload side; the upstream tokenize→shingle projection costs
    // more than materializing the batch-sized (by definition small)
    // result once — the checkpoint-wins side of the A/B rule
    // alphabet dispatch: a LONG-typed stored token index means the
    // store was built on the xxhash64-coarsened alphabet — hash the
    // batch side to match (coarsening lemma, see
    // setSimilarityPairsExact; verify below stays on true strings).
    // NOTE the shipped store keeps STRING tokens: the round-16 A/B
    // measured the hashed index ~4x larger on disk and ~30% slower to
    // probe — parquet dictionary-encodes repeated shingles far better
    // than incompressible hashes. The dispatch stays so either
    // alphabet works (both fuzz-pinned).
    val hashedStore = corpusTokens.schema("t").dataType ==
      org.apache.spark.sql.types.LongType
    val mat = batch.select(col("id"),
        array_distinct(col("shingles")).as("shingles"))
      .withColumn("h",
        if (hashedStore)
          array_distinct(transform(col("shingles"), s => xxhash64(s)))
        else col("shingles"))
      .transform(Checkpoints.spill)
    val toks = mat.select(col("id"), explode(col("h")).as("t"))
    val withF = toks.join(corpusFreq, Seq("t"), "left")
      .select(col("id"), col("t"), coalesce(col("f"), lit(0L)).as("f"))
    val prefixes = rareFirstPrefixes(withF, thresholdMilli)
      .select(col("id").as("id_new"), col("t"))
    val cands = prefixes
      .join(corpusTokens.select(col("id").as("id_corpus"), col("t")), "t")
      .select("id_new", "id_corpus").distinct()
    cands
      .join(mat.select(col("id").as("id_new"), col("shingles").as("sh_a")),
        "id_new")
      .join(corpusShingles.select(col("id").as("id_corpus"),
        col("shingles").as("sh_b")), "id_corpus")
      .withColumn("containment_milli",
        GraftFunctions.containmentMilli(
          col("sh_a"), col("sh_b")))
      .filter(col("containment_milli") >= thresholdMilli)
      .select("id_new", "id_corpus", "containment_milli")
  }

  /** Incremental near-dup against PRECOMPUTED corpus artifacts — the
    * daily path: `corpusBuckets` is the stored [[bucketize]] output
    * and `corpusShingles` the stored (id, shingles) table, so each
    * increment pays banding over the BATCH only plus one bucket
    * equi-join and the per-candidate verify. Corpus self-pairs were
    * resolved when the corpus was built. Output:
    * (id_new, id_corpus, jaccard_milli). */
  def nearDupPairsAgainstBuckets(batch: DataFrame,
                                 corpusBuckets: DataFrame,
                                 corpusShingles: DataFrame,
                                 k: Int, bands: Int,
                                 thresholdMilli: Int): DataFrame = {
    val bm = batch.select(col("id"), col("shingles"))
      .repartition(barrierPartitions(batch), col("id"))
    val cands = bucketize(bm, k, bands).as("a")
      .join(corpusBuckets.as("b"),
        col("a.__bucket") === col("b.__bucket"))
      .select(col("a.id").as("id_new"), col("b.id").as("id_corpus"))
      .distinct()
    cands
      .join(bm.select(col("id").as("id_new"), col("shingles").as("sh_a")),
        "id_new")
      .join(corpusShingles.select(col("id").as("id_corpus"),
        col("shingles").as("sh_b")), "id_corpus")
      .withColumn("jaccard_milli",
        GraftFunctions.jaccardMilli(col("sh_a"), col("sh_b")))
      .filter(col("jaccard_milli") >= thresholdMilli)
      .select("id_new", "id_corpus", "jaccard_milli")
  }

  /** 64-bit SimHash over whitespace tokens: per-bit majority vote of
    * token xxhash64 bits, packed MSB-first into one long.
    *
    * Structured as ONE aggregate pass accumulating a 64-counter array
    * (each token hashed once), not 64 passes over the token hashes —
    * expression trees referenced inside HOF lambdas are re-evaluated
    * per element (no CSE inside lambdas), so the per-bit formulation
    * re-hashed every token 64×. Lambda-bound variables (`h` below) are
    * cheap reads. */
  def simhash64(text: Column): Column = {
    val hashes = transform(TextOps.tokens(text), t => xxhash64(t))
    val counts = aggregate(hashes,
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(63)), (a, i) =>
        a + call_function("shiftright", h, i).bitwiseAND(lit(1L))))
    // zip_with against a repeated-n array, NOT `when(c*2 > n)` inside a
    // transform lambda — n is a full tokenize and lambda-referenced
    // expressions re-evaluate per element (64 tokenizes per row)
    val n = size(TextOps.tokens(text))
    val bits = zip_with(counts, array_repeat(n, lit(64)), (c, nn) =>
      when(c * 2 > nn, lit(1L)).otherwise(lit(0L)))
    // shiftleft|or, not acc*2+b: the MSB step would overflow-throw
    // under ANSI; bitwise ops wrap
    aggregate(bits, lit(0L), (acc, b) => shiftleft(acc, 1).bitwiseOR(b))
  }

  /** [[simhash64]] via the native fused kernel: tokens hashed once
    * (one xxhash64 per token), then `simhash_pack`
    * (functions.SimHashPack) does the 64-counter vote and MSB-first
    * packing in a single codegen loop — bit-identical signatures,
    * without 64 interpreted array traversals per row. */
  def simhash64Fast(text: Column): Column =
    GraftFunctions.simhashPack(
      transform(TextOps.tokens(text), t => xxhash64(t)))

  /** Hamming distance between two packed 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Banded random-hyperplane sign-LSH: one row per (id, band) carrying
    * the band's packed sign bucket. `hyper` holds (h_id, hv) with h_id
    * in [0, bands·rowsPerBand); hyperplane h votes bit h_id %
    * rowsPerBand of band h_id / rowsPerBand. Near-identical vectors
    * agree on (almost) every sign, so they share every band's bucket;
    * unrelated vectors collide in a band with probability
    * ~2^-rowsPerBand.
    *
    * Scale rationale (the round-1 `q_embed_neardup` caveat): a single
    * global bucket over few hyperplanes (2^8 keys) collapses giant
    * near-dup clusters into one skewed join key; banding keeps each
    * band's bucket space 2^rowsPerBand wide — fine candidate keys —
    * while `bands` independent chances preserve recall, mirroring
    * [[lshCandidatePairs]]' structure. Cost: one crossJoin against the
    * broadcast hyperplane set + one partial-aggregable groupBy. */
  def signLshBuckets(df: DataFrame, idCol: String, vecCol: String,
                     hyper: DataFrame, rowsPerBand: Int): DataFrame = {
    df.crossJoin(broadcast(hyper))
      .select(col(idCol),
        expr(s"h_id div $rowsPerBand").as("band"),
        // native dot kernel: same sequential IEEE sum as [[dotDouble]]
        // without the per-pair product-array allocation
        when(GraftFunctions.dotDouble(col(vecCol), col("hv")) > 0,
          call_function("shiftleft", lit(1L),
            pmod(col("h_id"), lit(rowsPerBand)).cast(IntegerType)))
          .otherwise(lit(0L)).as("bit"))
      .groupBy(col(idCol), col("band"))
      .agg(sum(col("bit")).cast(LongType).as("bucket"))
  }


  /** Deterministic double cosine similarity between two float vectors,
    * in floor-rounded milli-units. Elements are cast to double BEFORE
    * multiply/accumulate and summed sequentially (aggregate), so any
    * engine computing the same formula gets bit-identical IEEE results. */
  /** Sequential-order double dot product of two float vectors (cast to
    * double BEFORE multiply/accumulate — engine-portable IEEE result). */
  def dotDouble(x: Column, y: Column): Column = aggregate(
    zip_with(x, y, (p, q) => p.cast(DoubleType) * q.cast(DoubleType)),
    lit(0.0), (acc, v) => acc + v)

  def cosineMilli(a: Column, b: Column): Column = {
    val cos = dotDouble(a, b) / (sqrt(dotDouble(a, a)) * sqrt(dotDouble(b, b)))
    floor(lit(1000.0) * cos + 0.5).cast(LongType)
  }

  /** Edit-distance self-join via segment pigeonhole (the PassJoin
    * scheme, Li/Deng/Wang/Feng 2011 — public literature): all pairs
    * with `levenshtein(a, b) <= maxDist`, without the all-pairs scan.
    * The fuzzy join Spark has no built-in for.
    *
    * Candidate filter: split every string into `maxDist + 1` disjoint
    * segments (even split, remainder on the first segments). An edit
    * script of <= maxDist edits touches at most maxDist segments, so
    * at least ONE segment of A survives INTACT inside B, shifted by at
    * most maxDist positions (and A's length differs from B's by at
    * most maxDist). Indexing each string's segments under key
    * (srcLen, segIdx, segText) and each string's candidate WINDOWS —
    * every substring that could be a surviving segment of a string of
    * length srcLen ∈ [len − maxDist, len + maxDist] at shift
    * |Δpos| <= maxDist — under the same key makes the candidate set a
    * provably COMPLETE equi-join. Segment keys are ~|s|/(maxDist+1)
    * chars long — selective even on low-entropy corpora where q-gram
    * prefixes collide en masse (an Ed-Join prefix variant measured
    * 5.6M candidates on the driver corpus at sf0.1; this form emits
    * ~the true pairs).
    *
    * Scale shape: segments are (maxDist+1) rows/string, windows a
    * constant (2·maxDist+1)²·(maxDist+1) rows/string (75 at d = 2) —
    * both linear scans carrying ONLY (id, key) through the shuffles;
    * the equi-join and the candidate distinct are id-sized, and the
    * text payloads rejoin by id once for the exact `levenshtein`
    * verify on survivors (the same payload discipline as
    * [[setSimilarityPairsExact]]).
    *
    * DOMAIN: strings shorter than maxDist + 1 chars are excluded from
    * BOTH sides (a segment per edit needs at least one char), so a
    * pair with one short member is absent even if its edit distance
    * qualifies — callers with naturally short strings must handle
    * them separately (their all-pairs cost is trivial). Output
    * (id_a, id_b, dist). */
  def editDistanceJoin(docs: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 1, "need maxDist >= 1")
    val d = maxDist
    val nSeg = d + 1
    val mat = docs.select(col("id"), col("text"))
      .filter(length(col("text")) >= nSeg)
    val spark = docs.sparkSession
    import spark.implicits._

    // even-split boundary arithmetic for a source string of length
    // `srcL`: segment i covers [start, start + slen). ONE definition
    // serves both sides — candidate completeness depends on the
    // segment and window keys using identical arithmetic
    def splitCols(df: DataFrame, srcL: Column): DataFrame = df
      .withColumn("base", (srcL / nSeg).cast("int"))
      .withColumn("rem", (srcL % nSeg).cast("int"))
      .withColumn("slen", col("base") + when(col("i") < col("rem"), 1)
        .otherwise(0))
      .withColumn("start",
        col("i") * col("base") + least(col("i"), col("rem")) + 1)

    // segment side: key = (own length, segment index, segment text);
    // only (id, key) flows on — never the text payload
    val segIdx = (0 until nSeg).toDF("i")
    val segs = splitCols(
        mat.crossJoin(broadcast(segIdx))
          .withColumn("src_l", length(col("text"))),
        col("src_l"))
      .select(col("id"), col("src_l"), col("i"),
        substring(col("text"), col("start"), col("slen")).as("seg"))

    // window side: for every plausible source length and shift, the
    // substring a surviving segment would occupy here
    val combos = (for (o <- -d to d; i <- 0 until nSeg; sh <- -d to d)
      yield (o, i, sh)).toDF("o", "i", "sh")
    val wins = splitCols(
        mat.crossJoin(broadcast(combos))
          .withColumn("lb", length(col("text")))
          .withColumn("src_l", col("lb") + col("o"))
          .filter(col("src_l") >= nSeg),
        col("src_l"))
      .withColumn("wstart", col("start") + col("sh"))
      .filter(col("wstart") >= 1 &&
        col("wstart") + col("slen") - 1 <= col("lb"))
      .select(col("id"), col("src_l"), col("i"),
        substring(col("text"), col("wstart"), col("slen")).as("seg"))
    // NO dropDuplicates here: distinct (id, src_l, i, seg) windows
    // can only collide when a string repeats the same segment content
    // at two shifts, and the candidate `.distinct()` below collapses
    // whatever pair duplication that causes — while the standalone
    // dedup is a FULL shuffle of the (2d+1)²·(d+1)-expanded window
    // rows on a key the join can't reuse (measured: it removed 0 of
    // 549k rows on the sf0.1 gate and cost ~1 s of its 2.4 s).
    // Pathologically repetitive corpora trade some join fanout for
    // that saved shuffle; the verify step bounds the damage.

    // id-only candidate pairs; texts rejoin by id for the verify
    val cands = segs.as("a")
      .join(wins.as("b"),
        col("a.src_l") === col("b.src_l") && col("a.i") === col("b.i") &&
          col("a.seg") === col("b.seg") && col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    cands
      .join(mat.select(col("id").as("id_a"), col("text").as("t_a")), "id_a")
      .join(mat.select(col("id").as("id_b"), col("text").as("t_b")), "id_b")
      .withColumn("dist", levenshtein(col("t_a"), col("t_b")).cast(LongType))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }
}
