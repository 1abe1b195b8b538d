package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
  * "Winnowing: Local Algorithms for Document Fingerprinting",
  * SIGMOD 2003 — the MOSS algorithm) for the code-corpus slice of the
  * dedup family: near-dup detection that survives identifier renames
  * and reformatting, which token/shingle dedup (`ops/Similarity`) and
  * exact dedup (`ops/Dedup`) both miss on code.
  *
  * Pipeline shape (all per-row higher-order-function `Column`s — a
  * projection on the scan, zero shuffles until the fingerprint JOIN):
  *
  *  1. [[normalizeCode]] — canonicalize: identifier tokens collapse to
  *     one symbol, horizontal whitespace runs to one space. Two files
  *     that differ only by renaming normalize identically.
  *  2. [[kgramHashes]] — hash every overlapping char k-gram of the
  *     normalized text (position i → hash of chars [i, i+k)).
  *  3. [[winnow]] — slide a w-window over the k-gram hash sequence and
  *     keep each window's MINIMUM, breaking ties by the RIGHTMOST
  *     occurrence (a deterministic simplification of the paper's
  *     robust winnowing, which prefers re-selecting the previous
  *     window's pick on ties; unconditional rightmost-min keeps the
  *     pick a pure function of window content, which is what a SQL
  *     twin can replay); de-duplicate
  *     the (position, hash) picks. Guarantee (paper §3): any shared
  *     substring of length ≥ w + k − 1 yields at least one shared
  *     fingerprint, so recall on real clones is structural, not
  *     probabilistic; expected density is 2/(w+1).
  *
  * [[fingerprintTable]] stages those three as a materialized per-doc
  * table; its fingerprints then drive an equi-join (shuffle on
  * fingerprint hash, same 100 TB shape as the MinHash band join in
  * [[Similarity.nearDupPairs]]) to propose candidates, and an exact
  * distinct-k-gram containment verify culls false positives — so the
  * output is exact ground truth whenever every true pair shares a run
  * of ≥ w + k − 1 normalized chars.
  *
  * Hashing is pluggable — the empty-sequence branches take their type
  * from the hasher's result, so both string hashers (`md5`) and long
  * hashers (`xxhash64`, codegen — the production choice) analyze. The
  * oracle-checked gates instantiate with `md5` because the DuckDB twin
  * must compute bit-identical fingerprints and both engines ship md5 —
  * the selection rule is hash-agnostic (any total order works; hex
  * strings order identically in both engines).
  */
object Winnowing {

  /** Canonical form for fingerprinting code: every lowercase
    * identifier token (`[a-z_][a-z0-9_]*`) collapses to `v`, runs of
    * spaces/tabs collapse to one space. Deliberately conservative —
    * uppercase/digit payload is untouched, so string-literal content
    * rendered in uppercase survives as discriminating signal while
    * `fooBar`-free lowercase identifiers (the rename surface) vanish.
    * Mirrors the gate oracles' DuckDB `regexp_replace(..., 'g')`. */
  def normalizeCode(text: Column): Column =
    regexp_replace(
      regexp_replace(text, "[a-z_][a-z0-9_]*", "v"), "[ \t]+", " ")

  /** Hashes of every overlapping char k-gram of `text`: element i
    * (1-based) = `hasher(substr(text, i, k))`; empty array when the
    * text is NULL or shorter than k. The empty branch is
    * `slice(arr, 1, 0)` of the (clamped, ≥1-element) transform — not
    * a hardcoded `array<string>` cast — so the element type follows
    * the hasher and long hashers (`xxhash64`) analyze too (Spark's
    * `sequence` rejects empty ranges, hence the clamp + slice).
    * O(len·k) per row, whole-stage codegen. */
  def kgramHashes(text: Column, k: Int,
                  hasher: Column => Column): Column = {
    val n = length(text) - (k - 1)
    val arr = transform(sequence(lit(1), greatest(n, lit(1)), lit(1)),
      i => hasher(text.substr(i, lit(k))))
    when(n >= 1, arr).otherwise(slice(arr, 1, 0))
  }

  /** Winnowing selection over a k-gram hash sequence: for each window
    * of w consecutive hashes keep the minimum, ties broken by the
    * RIGHTMOST position (a deterministic simplification of the
    * paper's robust winnowing — the paper prefers re-selecting the
    * previous window's pick on ties; rightmost-min makes the pick a
    * pure function of window content, so equal content selects equal
    * fingerprints on both sides of a comparison and a SQL oracle can
    * replay it). Returns the de-duplicated `array<struct<pos, fp>>`;
    * empty when the input is null or has fewer than w hashes (the
    * same clamp + `slice(…, 1, 0)` shape as [[kgramHashes]], so the
    * fp type follows the hash element type). */
  def winnow(hashes: Column, w: Int): Column = {
    val n = size(hashes)
    val picks = transform(
      sequence(lit(1), greatest(n - (w - 1), lit(1)), lit(1)), p => {
        val win = slice(hashes, p, lit(w))
        val m = array_min(win)
        // rightmost index of m in win: first index in reverse(win).
        val pos = p + lit(w) - array_position(reverse(win), m)
        struct(pos.cast("long").as("pos"), m.as("fp"))
      })
    when(n - (w - 1) >= 1, array_distinct(picks))
      .otherwise(slice(picks, 1, 0))
  }

  /** The staged per-document fingerprint table: (id, ks, fps) where
    * `ks` is the distinct k-gram hash set (the exact-verify side:
    * containment(a in b) = |K_a ∩ K_b| / |K_a|) and `fps` the winnowed
    * `array<struct<pos, fp>>`. Documents with fewer than w k-grams
    * (normalized length < w+k−1, below the winnowing guarantee) are
    * KEPT with an empty `fps` — they can never be near-dup candidates,
    * but they stay in the table so per-repo denominators (e.g. the
    * fork-detection matched-file fraction) count every file.
    *
    * Staging discipline (the [[Similarity.bucketize]] /
    * [[TextOps.repetitionSignals]] lesson): HOF lambdas re-evaluate
    * every captured non-attribute expression PER ELEMENT, so handing
    * [[winnow]] the composed normalize→hash expression re-runs the
    * regex normalizer and the full md5 sweep for every window — O(n²)
    * per row, measured as a hang at sf0.01. The normalized text is
    * therefore materialized behind a `repartition(id)` exchange (so
    * the k-gram lambda reads a bound attribute) and the hash array is
    * kept in its own projection (referenced twice, non-cheap —
    * CollapseProject leaves it alone).
    *
    * CALLERS MUST PERSIST THIS before filtering, exploding, or
    * joining it (`StoreGuard.table` store, or `.cache()` for tests):
    * predicate pushdown substitutes aliases with NO cost model, so a
    * filter above — including the `size(e) > 0` filter
    * InferFiltersFromGenerate derives from a downstream explode —
    * lands at the scan with the ENTIRE normalize→hash→winnow tree
    * inlined, where interpreted HOF evaluation re-runs the render and
    * regex per window position (O(n²) per row; measured as a hang at
    * sf0.01 on 39 docs). Persisting is also the honest 100 TB shape:
    * the fingerprint table is written once per corpus refresh and
    * every consumer reads the store, exactly like the LSH signature
    * table ([[Similarity.bucketize]]'s scaladoc). Docs with fewer
    * than w k-grams keep an empty `fps` (below the guarantee length;
    * they can never be candidates). */
  def fingerprintTable(df: DataFrame, idCol: String, textCol: String,
                       k: Int, w: Int,
                       hasher: Column => Column): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    df.select(col(idCol).as("id"),
        normalizeCode(col(textCol)).as("__nt"))
      .repartition(n, col("id"))
      .select(col("id"), kgramHashes(col("__nt"), k, hasher).as("__hs"))
      .select(col("id"), array_distinct(col("__hs")).as("ks"),
        winnow(col("__hs"), w).as("fps"))
  }

  /** Half-up milli containment of k-gram set `a` in `b` (matches the
    * repo-wide exact-verify rounding convention). */
  def containmentMilli(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("long")
    floor((lit(1000.0) * inter) / size(a).cast("long") + lit(0.5))
      .cast("long")
  }
}
