package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.ExprCode
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** The one body of each array kernel: [[JaccardMilli]],
  * [[ContainmentMilli]], [[CosineMilli]], [[DotDouble]], [[MinHashSig]],
  * [[SimHashPack]], [[SortedIntersectLongs]] and [[NearestCentroidMilli]],
  * whose scaladocs state the contracts (bit-identical to the built-in
  * or HOF twins in `ops/`). A primitive-returning kernel assumes its
  * null rule (`anyNull`, an `…IsNull` rule or
  * [[TextKernels.hasNullElement]]) was tested first; an
  * object-returning kernel returns null itself. */
object ArrayKernels {

  /** Either array holds a null element (see [[KernelCheck]]). */
  def anyNull(a: ArrayData, b: ArrayData): Boolean =
    TextKernels.hasNullElement(a) || TextKernels.hasNullElement(b)

  /** |distinct(a) ∩ distinct(b)|, `size(array_intersect(a, b))`
    * without building the intersection: `counted` dedups `b`. */
  def distinctOverlap(a: ArrayData, b: ArrayData): Int = {
    val an = a.numElements(); val bn = b.numElements()
    val setA = new java.util.HashSet[UTF8String](an * 2)
    var i = 0
    while (i < an) { setA.add(a.getUTF8String(i)); i += 1 }
    val counted = new java.util.HashSet[UTF8String](bn * 2)
    var inter = 0; i = 0
    while (i < bn) {
      val e = b.getUTF8String(i)
      if (setA.contains(e) && counted.add(e)) inter += 1
      i += 1
    }
    inter
  }

  /** Jaccard is undefined on two empty sets (the union is 0). */
  def jaccardIsNull(a: ArrayData, b: ArrayData): Boolean =
    anyNull(a, b) || a.numElements() + b.numElements() == 0

  def jaccardMilli(a: ArrayData, b: ArrayData): Long = {
    val inter = distinctOverlap(a, b)
    val union = a.numElements() + b.numElements() - inter
    math.floor(1000.0 * inter / union + 0.5).toLong
  }

  /** Containment of an empty left set is undefined (0 denominator). */
  def containmentIsNull(a: ArrayData, b: ArrayData): Boolean =
    anyNull(a, b) || a.numElements() == 0

  def containmentMilli(a: ArrayData, b: ArrayData): Long =
    math.floor(1000.0 * distinctOverlap(a, b) / a.numElements() + 0.5)
      .toLong

  def cosineMilli(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val p = a.getFloat(i).toDouble
      val q = b.getFloat(i).toDouble
      dot += p * q; na += p * p; nb += q * q; i += 1
    }
    math.floor(1000.0 * (dot / (math.sqrt(na) * math.sqrt(nb))) + 0.5)
      .toLong
  }

  def dotDouble(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var i = 0
    while (i < n) {
      dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    dot
  }

  def minHashSig(hashes: ArrayData, k: Int): ArrayData = {
    val n = hashes.numElements()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      if (hashes.isNullAt(i)) return null
      // xxhash64(h, j) folds as hashInt(j, hashLong(h, 42)): Spark's
      // seed chain
      val h1 = XXH64.hashLong(hashes.getLong(i), 42L)
      var j = 0
      while (j < k) {
        val v = XXH64.hashInt(j, h1)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  def simhashPack(hashes: ArrayData): Long = {
    val n = hashes.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val v = hashes.getLong(i)
      var b = 0
      while (b < 64) {
        counts(b) += ((v >>> b) & 1L).toInt
        b += 1
      }
      i += 1
    }
    var acc = 0L
    var b = 0
    while (b < 64) {
      acc = (acc << 1) | (if (counts(b) * 2 > n) 1L else 0L)
      b += 1
    }
    acc
  }

  def sortedIntersectLongs(a: ArrayData, b: ArrayData): ArrayData = {
    val an = a.numElements(); val bn = b.numElements()
    val buf = new Array[Long](math.min(an, bn))
    var i = 0; var j = 0; var k = 0
    while (i < an && j < bn) {
      val av = a.getLong(i); val bv = b.getLong(j)
      if (av < bv) i += 1
      else if (av > bv) j += 1
      else { buf(k) = av; k += 1; i += 1; j += 1 }
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(buf, k))
  }

  def nearestCentroidMilli(q: ArrayData, flat: Array[Long],
                           cids: Array[Long], dim: Int): InternalRow = {
    if (q.numElements() != dim || TextKernels.hasNullElement(q)) return null
    var bestD = Long.MaxValue
    var bestC = -1L
    var c = 0
    while (c < cids.length) {
      var s = 0L
      val base = c * dim
      var j = 0
      while (j < dim) {
        val diff = flat(base + j) - q.getLong(j)
        s += diff * diff
        j += 1
      }
      // strict <: ascending-cid order keeps the smaller cid on ties
      if (s < bestD) { bestD = s; bestC = cids(c) }
      c += 1
    }
    new GenericInternalRow(Array[Any](bestD, bestC))
  }
}

/** The generated code of a native kernel: one call into its Scala
  * kernel object, which [[GraftFunctions]] documents. */
private[functions] object KernelCode {

  /** A primitive-returning kernel `call` behind its null rule. */
  def guarded(ev: ExprCode, isNull: String, call: String): String =
    s"${ev.isNull} = $isNull;\nif (!${ev.isNull}) ${ev.value} = $call;"

  /** An object-returning kernel `call` that returns null itself. */
  def nullable(ev: ExprCode, call: String): String =
    s"${ev.value} = $call;\n${ev.isNull} = ${ev.value} == null;"
}
