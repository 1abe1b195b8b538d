package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** PQ reconstruction: per-subspace argmin against a hand-checkable
  * codebook, including the tie rule and subspace independence. */
class QuantizationSpec extends SparkSpec {
  import spark.implicits._

  /** Slice driver-side codebook rows (id, fullVec) into per-subspace
    * codebooks for [[Quantization.pqReconstruct]]. */
  private def sliceCodebooks(rows: Seq[(Int, Seq[Long])], subspaces: Int,
                             subDim: Int): Seq[Seq[(Int, Seq[Long])]] =
    (0 until subspaces).map { s =>
      rows.map { case (j, v) => j -> v.slice(s * subDim, (s + 1) * subDim) }
    }

  // 2 subspaces × 2 dims; codebook = 2 codes
  //   code 0: full vec (0, 0 | 10, 10)
  //   code 1: full vec (4, 4 |  0,  0)
  private val codebooks = sliceCodebooks(
    Seq(0 -> Seq(0L, 0L, 10L, 10L), 1 -> Seq(4L, 4L, 0L, 0L)),
    subspaces = 2, subDim = 2)

  private def recon(v: Seq[Long]): Seq[Long] =
    Seq(Tuple1(v)).toDF("qv")
      .select(Quantization.pqReconstruct(col("qv"), codebooks, 2).as("r"))
      .collect()(0).getSeq[Long](0)

  test("each subspace picks its own nearest code") {
    // sub0 (1,1): d(code0)=2 < d(code1)=18 → (0,0)
    // sub1 (1,1): d(code0)=162 > d(code1)=2 → (0,0)
    assert(recon(Seq(1L, 1L, 1L, 1L)) == Seq(0L, 0L, 0L, 0L))
    // sub0 (3,3): code1 wins → (4,4); sub1 (9,9): code0 wins → (10,10)
    assert(recon(Seq(3L, 3L, 9L, 9L)) == Seq(4L, 4L, 10L, 10L))
  }

  test("equidistant subvector ties to the smaller code id") {
    // sub0 (2,2): d=8 to both codes → code 0 → (0,0)
    assert(recon(Seq(2L, 2L, 0L, 0L)).take(2) == Seq(0L, 0L))
  }

  test("sliceCodebooks splits full vectors positionally") {
    assert(codebooks(0) == Seq(0 -> Seq(0L, 0L), 1 -> Seq(4L, 4L)))
    assert(codebooks(1) == Seq(0 -> Seq(10L, 10L), 1 -> Seq(0L, 0L)))
  }

  test("pqEncodeCodes emits the argmin code ids; decode of the stored " +
      "codes equals pqReconstruct — the at-rest round trip") {
    val vs = Seq(Seq(1L, 1L, 1L, 1L), Seq(3L, 3L, 9L, 9L),
      Seq(2L, 2L, 0L, 0L))
    val df = vs.map(Tuple1(_)).toDF("qv")
    val out = df.select(
      Quantization.pqEncodeCodes(col("qv"), codebooks, 2).as("codes"),
      Quantization.pqReconstruct(col("qv"), codebooks, 2).as("direct"))
      .select(col("codes"),
        Quantization.pqDecodeCodes(col("codes"), codebooks, 2)
          .as("decoded"),
        col("direct"))
      .collect()
    assert(out.map(_.getSeq[Int](0)).toSeq ==
      Seq(Seq(0, 1), Seq(1, 0), Seq(0, 1)))
    out.foreach(r => assert(r.getSeq[Long](1) == r.getSeq[Long](2)))
  }

  test("decode-of-encode == pqReconstruct on seeded random vectors and " +
      "codebooks (the at-rest store round trip, fuzzed)") {
    val rnd = new scala.util.Random(91L)
    def v(n: Int) = Seq.fill(n)(rnd.nextLong().abs % 200L - 100L)
    val cbs = sliceCodebooks(
      (0 until 8).map(j => j -> v(8)), subspaces = 2, subDim = 4)
    val df = (0 until 200).map(_ => Tuple1(v(8))).toDF("qv")
    val out = df.select(
      Quantization.pqDecodeCodes(
        Quantization.pqEncodeCodes(col("qv"), cbs, 4), cbs, 4)
        .as("roundtrip"),
      Quantization.pqReconstruct(col("qv"), cbs, 4).as("direct"))
      .collect()
    out.foreach(r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("pqDecodeCodes rejects non-dense code ids") {
    val sparse = Seq(Seq(0 -> Seq(0L, 0L), 2 -> Seq(4L, 4L)))
    assertThrows[IllegalArgumentException] {
      Quantization.pqDecodeCodes(col("qv"), sparse, 2)
    }
  }
}
