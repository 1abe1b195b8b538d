package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for embedding search — the COMPRESSION
  * path beside the IVF and LSH pruning paths (Jégou et al. 2011,
  * "Product Quantization for Nearest Neighbor Search"): split each
  * vector into S subspaces, quantize each subvector to one of K codes,
  * and scan the S-byte codes instead of the full vector. At 100 TB
  * this is what makes exhaustive candidate scans feasible: a 64-dim
  * float vector (256 B) compresses to S=8 code bytes, and the
  * asymmetric distance (raw query vs reconstructed candidate) needs no
  * decompression beyond a codebook lookup.
  *
  * Codebooks here are DATA-SEEDED (the first K vectors' subvectors,
  * milli-quantized), not Lloyd-trained — the [[Clustering]] k-means
  * exists for training, but seeding keeps the whole encode→scan→rerank
  * pipeline integer-exact and oracle-replayable in one query, and
  * recall comes from the exact re-rank stage anyway.
  *
  * Scale shape: the codebook is S·K·subDim longs (KB-sized literal,
  * same contract as the k-means codebook); ENCODE is one codegen'd
  * projection per row (S independent argmins over K candidates); the
  * ADC scan is a broadcast-queries × streamed-candidates crossJoin —
  * the ANN-baseline pattern — followed by a per-query top-N window on
  * the compressed distance and an exact re-rank of only those N. */
object Quantization {

  /** Reconstruction column: for each subspace, the codebook subvector
    * nearest (integer L2, ties to the smaller code id) to the row's
    * subvector in `qv`; concatenated back to full dimension. This IS
    * the PQ code materialized — at rest you'd store the S code ids,
    * here the decoded form feeds the ADC scan directly.
    *
    * `codebooks(s)` lists (codeId, subvector) for subspace `s`;
    * every subvector must have length `subDim`. */
  def pqReconstruct(qv: Column, codebooks: Seq[Seq[(Int, Seq[Long])]],
                    subDim: Int): Column = {
    val parts = codebooks.zipWithIndex.map { case (codes, s) =>
      val sub = slice(qv, s * subDim + 1, subDim)
      val cands = array(codes.map { case (j, cv) =>
        require(cv.length == subDim,
          s"codebook subvector length ${cv.length} != subDim $subDim")
        val cvCol = array(cv.map(lit): _*)
        struct(Clustering.l2sqLong(cvCol, sub).as("d"),
          lit(j).as("j"), cvCol.as("cv"))
      }: _*)
      array_min(cands).getField("cv")
    }
    concat(parts: _*)
  }

  /** The PQ CODES themselves — per subspace, the id of the nearest
    * codebook subvector (same argmin and tie-break as
    * [[pqReconstruct]]): the S small ints an IVF-PQ index stores per
    * vector AT REST. DuckDB twin: [[reconCtes]]'s `enc`. */
  def pqEncodeCodes(qv: Column, codebooks: Seq[Seq[(Int, Seq[Long])]],
                    subDim: Int): Column = {
    val parts = codebooks.zipWithIndex.map { case (codes, s) =>
      val sub = slice(qv, s * subDim + 1, subDim)
      val cands = array(codes.map { case (j, cv) =>
        require(cv.length == subDim,
          s"codebook subvector length ${cv.length} != subDim $subDim")
        struct(Clustering.l2sqLong(array(cv.map(lit): _*), sub).as("d"),
          lit(j).as("j"))
      }: _*)
      array_min(cands).getField("j")
    }
    array(parts: _*)
  }

  /** Decode stored codes back to the reconstructed vector: per
    * subspace, a LITERAL lookup table indexed by the code id —
    * `decode(encode(qv)) ≡ pqReconstruct(qv)` (QuantizationSpec pins
    * it). Codebook ids must be dense 0..k-1 (the Lloyd seeds are). */
  def pqDecodeCodes(codes: Column, codebooks: Seq[Seq[(Int, Seq[Long])]],
                    subDim: Int): Column = {
    val parts = codebooks.zipWithIndex.map { case (cbs, s) =>
      val sorted = cbs.sortBy(_._1)
      require(sorted.map(_._1) == (0 until sorted.size),
        s"pqDecodeCodes needs dense code ids 0..${sorted.size - 1}")
      require(sorted.forall(_._2.length == subDim),
        s"codebook subvector length != subDim $subDim")
      val lut = array(sorted.map { case (_, cv) =>
        array(cv.map(lit): _*)
      }: _*)
      element_at(lut, element_at(codes, s + 1).cast("int") + 1)
    }
    concat(parts: _*)
  }

  /** DuckDB replay of [[pqReconstruct]]: CTEs `rec(id, recon)` over
    * `v(id, qv)` and `cb(j, qv)` (both BIGINT[dim]). Inlined distance
    * expressions mirror the Spark argmin exactly (ties to smaller j). */
  def reconCtes(subspaces: Int, subDim: Int): String = {
    val d =
      s"list_sum(list_transform(range(1, ${subDim + 1}), i -> " +
        s"(v.qv[t.s * $subDim + i] - c.qv[t.s * $subDim + i]) * " +
        s"(v.qv[t.s * $subDim + i] - c.qv[t.s * $subDim + i])))"
    s"""enc AS (SELECT id, s, j FROM (
       |  SELECT v.id, t.s, c.j,
       |    row_number() OVER (PARTITION BY v.id, t.s
       |      ORDER BY $d, c.j) AS rn
       |  FROM v, unnest(range(0, $subspaces)) AS t(s), cb c)
       |  WHERE rn = 1),
       |rec AS (SELECT e.id, flatten(list(
       |    list_transform(range(1, ${subDim + 1}),
       |      i -> c.qv[e.s * $subDim + i]) ORDER BY e.s)) AS recon
       |  FROM enc e JOIN cb c ON c.j = e.j
       |  GROUP BY e.id)""".stripMargin
  }
}
