package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the text/CDC pipeline. The HOF forms in
  * [[graft.ops.TextOps]] stay as the documented reference
  * formulations; these expressions compute the same values in single
  * fused loops (no per-character UTF8String allocation, no
  * interpreted lambda dispatch per element). */
object TextKernels {

  /** Null-element scan shared by the array kernels' null-poison
    * contract (see [[KernelCheck]]): `transform(...)` outputs always
    * type as containsNull=true, so the check must happen at runtime. */
  def hasNullElement(a: ArrayData): Boolean = {
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return true
      i += 1
    }
    false
  }

  /** Per-position Unicode code points of a UTF-8 string — exactly
    * `transform(split(c, ""), ch => ascii(ch))`: Java-regex empty-split
    * yields code-point units (surrogate pairs stay joined), and
    * `ascii` of a single-char string is its code point. */
  def charCodes(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val out = new Array[Int](s.numChars())
    val n = bytes.length
    var i = 0; var k = 0
    while (i < n) {
      val b0 = bytes(i) & 0xFF
      var cp = 0; var len = 1
      if (b0 < 0x80) { cp = b0 }
      else if ((b0 & 0xE0) == 0xC0) { cp = b0 & 0x1F; len = 2 }
      else if ((b0 & 0xF0) == 0xE0) { cp = b0 & 0x0F; len = 3 }
      else { cp = b0 & 0x07; len = 4 }
      var j = 1
      while (j < len && i + j < n) {
        cp = (cp << 6) | (bytes(i + j) & 0x3F); j += 1
      }
      out(k) = cp; k += 1; i += len
    }
    new GenericArrayData(out)
  }

  /** Rabin–Karp polynomial rolling hash over a code array:
    * fold h → (h·257 + code) mod 1e9+7 in index order — exactly
    * [[graft.ops.TextOps.rollingHash]]'s aggregate (all values
    * non-negative, so pmod ≡ %). */
  def rollingHash(codes: ArrayData): Long = {
    val n = codes.numElements()
    var h = 0L; var i = 0
    while (i < n) {
      h = (h * 257L + codes.getInt(i)) % 1000000007L
      i += 1
    }
    h
  }

  /** Content-defined chunk bounds [0, cuts..., n] over a code array —
    * exactly [[graft.ops.TextOps.cdcBounds]]: a cut falls after
    * 1-based position i ≥ 8 when Σ_{j=0..7} code(i-j)·31^j ≡ 0
    * (mod mask). Incremental window evaluation: each step multiplies
    * the window sum by 31, adds the entering code, and drops the
    * leaving code's 31^8 term — O(n) instead of O(8n) element reads,
    * same exact integer arithmetic. */
  def cdcBounds(codes: ArrayData, mask: Int): ArrayData = {
    val n = codes.numElements()
    if (n < 8) return new GenericArrayData(Array(0, n))
    val m = mask.toLong
    val p8 = 31L * 31 * 31 * 31 * 31 * 31 * 31 * 31 // 31^8
    // window sum for i: sum_{j=0..7} code(i-j) * 31^j  (i 1-based);
    // step i→i+1: w' = w*31 + code(i+1) - code(i-7)*31^8
    var w = 0L
    var j = 0
    while (j < 8) { // initialize for i = 8: codes idx 0..7
      w = w * 31 + codes.getInt(j)
      j += 1
    }
    val cuts = new scala.collection.mutable.ArrayBuffer[Int]()
    cuts += 0
    var i = 8
    while (i <= n) {
      if (w % m == 0) cuts += i
      if (i < n) w = w * 31 + codes.getInt(i) - codes.getInt(i - 8) * p8
      i += 1
    }
    // the HOF form appends n UNCONDITIONALLY (concat(..., array(n))),
    // so a cut at exactly n yields a duplicate terminal bound and a
    // zero-length final span — preserved for bit-identical output
    cuts += n
    new GenericArrayData(cuts.toArray)
  }

  /** `s`, or null when `s` equals one of `sentinels` byte for byte:
    * `CASE WHEN s IN (...) THEN NULL ELSE s END` (F3,
    * [[graft.ops.Cleaning.normalizeNulls]]) with ONE read of `s`. The
    * comparison is `UTF8String.equals`, which is what `IN` uses under
    * the default UTF8_BINARY collation; a null sentinel matches
    * nothing, as a NULL in an `IN` list does. */
  def nullIfSentinel(s: UTF8String, sentinels: ArrayData): UTF8String = {
    val n = sentinels.numElements()
    var i = 0
    while (i < n) {
      if (s.equals(sentinels.getUTF8String(i))) return null
      i += 1
    }
    s
  }

  /** Selenium-`.text`-alike HTML text extraction in ONE fused pass —
    * the kernel behind `ops.HtmlListing`'s per-field cleanup, replacing
    * a chain of eight regex passes (`<br>`→newline, complete-tag strip,
    * five entity decodes, space trim) that, inlined ~45× across the
    * two parsers' output columns, dominated the gates' PLANNING and
    * codegen as much as their row work. Byte-exact parity with the
    * regex chain (pinned by HtmlTextKernelSpec's fuzz):
    *  - `(?i)<br\\s* /?>` (no space) emits a newline;
    *  - `<[^>]*>` drops only COMPLETE tags — an unclosed '<' stays
    *    literal, and the scan for '>' never crosses one;
    *  - the five entities decode exactly once, never re-interpreting
    *    decoded output (the sequential chain's amp-last property falls
    *    out of single-pass append-as-literal);
    *  - trailing trim removes ASCII spaces only (Spark `trim`). */
  def seleniumText(s: UTF8String): UTF8String = {
    val str = s.toString
    val n = str.length
    // pass 1: br→newline BEFORE tag stripping — the chain's order, and
    // it is observable: in "<unclosed\t<br />" the br becomes a newline
    // first, leaving "<unclosed\t\n" with no '>' for the tag pass to
    // strip; a fused single pass would swallow the whole run
    val p1 = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = str.charAt(i)
      if (c == '<') {
        val after = brTagEnd(str, i + 1)
        if (after > 0) { p1.append('\n'); i = after }
        else { p1.append(c); i += 1 }
      } else { p1.append(c); i += 1 }
    }
    // pass 2: complete-tag strip ONLY — the chain strips tags BEFORE
    // the entity passes, and the order is observable: in "&<b>lt;"
    // the stripped tag joins '&' with "lt;", so the chain decodes it
    // to "<"; a fused strip+decode pass would check "&lt;" against
    // the UNstripped text, miss, and leave "&lt;" (the r9-advice
    // divergence — now a pinned targeted edge in HtmlTextKernelSpec)
    val m = p1.length
    val p2 = new java.lang.StringBuilder(m)
    i = 0
    while (i < m) {
      val c = p1.charAt(i)
      if (c == '<') {
        val j = p1.indexOf(">", i)
        if (j < 0) { p2.append(c); i += 1 }
        else i = j + 1
      } else { p2.append(c); i += 1 }
    }
    // pass 3: entity decode over the tag-stripped text. Single-pass
    // append-as-literal replays the chain's five sequential literal
    // replaces exactly: no decode output is ever re-interpreted
    // (amp-last falls out — "&amp;lt;" → "&lt;"), and a later pass of
    // the chain can only CREATE an earlier pass's entity via &amp;,
    // whose single-pass handling emits '&' + the tail as literal
    val m2 = p2.length
    val sb = new java.lang.StringBuilder(m2)
    i = 0
    while (i < m2) {
      val c = p2.charAt(i)
      if (c == '&') {
        if (startsWithAt(p2, "&lt;", i)) { sb.append('<'); i += 4 }
        else if (startsWithAt(p2, "&gt;", i)) { sb.append('>'); i += 4 }
        else if (startsWithAt(p2, "&quot;", i)) { sb.append('"'); i += 6 }
        else if (startsWithAt(p2, "&#39;", i)) { sb.append('\''); i += 5 }
        else if (startsWithAt(p2, "&amp;", i)) { sb.append('&'); i += 5 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    var a = 0
    var b = sb.length
    while (a < b && sb.charAt(a) == ' ') a += 1
    while (b > a && sb.charAt(b - 1) == ' ') b -= 1
    UTF8String.fromString(sb.substring(a, b))
  }

  private def startsWithAt(sb: java.lang.StringBuilder, pat: String,
                           at: Int): Boolean = {
    if (at + pat.length > sb.length) return false
    var k = 0
    while (k < pat.length) {
      if (sb.charAt(at + k) != pat.charAt(k)) return false
      k += 1
    }
    true
  }

  /** If `str` from `from` reads `(?i)br`, a whitespace run, an
    * optional slash, then '>', returns the index just past the '>';
    * else -1. Whitespace = Java regex \\s: space, tab, LF, VT, FF, CR. */
  private def brTagEnd(str: String, from: Int): Int = {
    val n = str.length
    if (from + 2 > n) return -1
    val c0 = str.charAt(from); val c1 = str.charAt(from + 1)
    if (!(c0 == 'b' || c0 == 'B') || !(c1 == 'r' || c1 == 'R')) return -1
    var k = from + 2
    while (k < n && (str.charAt(k) == ' ' || str.charAt(k) == '\t' ||
      str.charAt(k) == '\n' || str.charAt(k) == '\u000B' ||
      str.charAt(k) == '\f' || str.charAt(k) == '\r')) k += 1
    if (k < n && str.charAt(k) == '/') k += 1
    if (k < n && str.charAt(k) == '>') k + 1 else -1
  }
}

/** `selenium_text(html)` — see [[TextKernels.seleniumText]]. */
case class SeleniumText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "selenium_text"
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    KernelCheck.isString(child, "selenium_text input")
  override def nullSafeEval(s: Any): Any =
    TextKernels.seleniumText(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.TextKernels.seleniumText($s);")
  override protected def withNewChildInternal(
      newChild: Expression): SeleniumText = copy(child = newChild)
}

/** `char_codes(str)` — see [[TextKernels.charCodes]]. */
case class CharCodes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "char_codes"
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    KernelCheck.isString(child, "char_codes input")
  override def nullSafeEval(s: Any): Any =
    TextKernels.charCodes(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.TextKernels.charCodes($s);")
  override protected def withNewChildInternal(
      newChild: Expression): CharCodes = copy(child = newChild)
}

/** `rolling_hash(codes)` — see [[TextKernels.rollingHash]]; a null
  * element null-poisons the result (the HOF `aggregate` twin's lambda
  * propagates null the same way). */
case class RollingHash(child: Expression) extends UnaryExpression {
  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    KernelCheck.arrayOf(IntegerType, child, "rolling_hash codes")
  override def nullSafeEval(codes: Any): Any = {
    val arr = codes.asInstanceOf[ArrayData]
    if (TextKernels.hasNullElement(arr)) null
    else TextKernels.rollingHash(arr)
  }
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => KernelCode.guarded(ev,
      s"graft.functions.TextKernels.hasNullElement($c)",
      s"graft.functions.TextKernels.rollingHash($c)"))
  override protected def withNewChildInternal(
      newChild: Expression): RollingHash = copy(child = newChild)
}

/** `null_if_sentinel(str, sentinels)` — see
  * [[TextKernels.nullIfSentinel]]; `sentinels` is an array<string>. */
case class NullIfSentinel(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def nullable: Boolean = true
  override def dataType: DataType = StringType
  override def prettyName: String = "null_if_sentinel"
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val l = KernelCheck.isString(left, "null_if_sentinel input")
    if (l != org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess) l
    else KernelCheck.arrayOf(StringType, right, "null_if_sentinel sentinels")
  }
  override def nullSafeEval(s: Any, sentinels: Any): Any =
    TextKernels.nullIfSentinel(s.asInstanceOf[UTF8String],
      sentinels.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, sentinels) => KernelCode.nullable(ev,
      s"graft.functions.TextKernels.nullIfSentinel($s, $sentinels)"))
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NullIfSentinel =
    copy(left = newLeft, right = newRight)
}

/** `cdc_bounds(codes, mask)` — see [[TextKernels.cdcBounds]]; `mask`
  * must be a foldable positive int literal. A null element
  * null-poisons the result (HOF-twin semantics). */
case class CdcBounds(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def nullable: Boolean = true
  private lazy val mask: Int = right.eval(null) match {
    case i: java.lang.Integer => i.intValue
    case l: java.lang.Long    => l.intValue
    case other => throw new IllegalArgumentException(
      s"cdc_bounds mask must be a foldable int literal, got $other")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "cdc_bounds"
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val l = KernelCheck.arrayOf(IntegerType, left, "cdc_bounds codes")
    if (l != org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess) l
    else KernelCheck.foldablePosInt(right, "cdc_bounds mask")
  }
  override def nullSafeEval(codes: Any, m: Any): Any = {
    val arr = codes.asInstanceOf[ArrayData]
    if (TextKernels.hasNullElement(arr)) null
    else TextKernels.cdcBounds(arr, mask)
  }
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, _) => KernelCode.guarded(ev,
      s"graft.functions.TextKernels.hasNullElement($c)",
      s"graft.functions.TextKernels.cdcBounds($c, $mask)"))
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CdcBounds =
    copy(left = newLeft, right = newRight)
}

/** Greedy longest-match subword matcher over a fixed vocabulary — the
  * WordPiece/BPE-apply access pattern: at each position take the
  * longest vocabulary entry matching there; if none matches, emit one
  * UNK character and advance. Built once per expression instance
  * (length-indexed hash sets) and shipped to executors as a codegen
  * reference object, so the per-row cost is a handful of hash probes
  * per position. Positions are UTF-16 code units (= characters for
  * the ASCII corpora the oracle replays). */
final class SubwordMatcher(vocab: Seq[String]) extends Serializable {
  require(vocab.nonEmpty && vocab.forall(_.nonEmpty),
    "subword vocabulary must be non-empty strings")
  private val maxLen = vocab.map(_.length).max
  private val byLen: Array[java.util.HashSet[String]] = {
    val a = Array.fill(maxLen + 1)(new java.util.HashSet[String]())
    vocab.foreach(v => a(v.length).add(v))
    a
  }
  /** `[n_subwords, n_unk]`. Every emitted token — vocabulary hit or
    * UNK — counts toward n_subwords. */
  def stats(s: UTF8String): ArrayData = {
    val str = s.toString
    val n = str.length
    var pos = 0; var nTok = 0; var nUnk = 0
    while (pos < n) {
      var l = math.min(maxLen, n - pos)
      var matched = 0
      while (l >= 1 && matched == 0) {
        if (!byLen(l).isEmpty &&
            byLen(l).contains(str.substring(pos, pos + l))) matched = l
        l -= 1
      }
      if (matched == 0) { nUnk += 1; pos += 1 } else pos += matched
      nTok += 1
    }
    new GenericArrayData(Array(nTok, nUnk))
  }
}

/** `subword_stats(text, vocab)` → `[n_subwords, n_unk]` under greedy
  * longest-match tokenization ([[SubwordMatcher]]). `vocab` must be a
  * foldable array of non-null string literals (the broadcast-merges
  * shape: the vocabulary is plan-time data, so the matcher builds once
  * and rides codegen as a reference object). */
case class SubwordStats(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  @transient private lazy val matcher: SubwordMatcher = {
    val arr = right.eval().asInstanceOf[ArrayData]
    new SubwordMatcher((0 until arr.numElements())
      .map(i => arr.getUTF8String(i).toString))
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "subword_stats"
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    val l = KernelCheck.isString(left, "subword_stats input")
    if (l != TypeCheckResult.TypeCheckSuccess) l
    else if (!right.foldable ||
        !(right.dataType match {
          case ArrayType(StringType, _) => true
          case _ => false
        }))
      TypeCheckResult.TypeCheckFailure(
        "subword_stats vocab must be a foldable array of strings")
    else {
      val arr = right.eval()
      if (arr == null) TypeCheckResult.TypeCheckFailure(
        "subword_stats vocab must not be null")
      else {
        val a = arr.asInstanceOf[ArrayData]
        val hasEmptyEntry = !TextKernels.hasNullElement(a) &&
          (0 until a.numElements())
            .exists(i => a.getUTF8String(i).numChars() == 0)
        if (a.numElements() == 0 || TextKernels.hasNullElement(a) ||
            hasEmptyEntry)
          TypeCheckResult.TypeCheckFailure(
            "subword_stats vocab must be non-empty strings with no " +
              "null or empty entries")
        else TypeCheckResult.TypeCheckSuccess
      }
    }
  }
  override def nullSafeEval(s: Any, v: Any): Any =
    matcher.stats(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("subwordMatcher", matcher,
      classOf[SubwordMatcher].getName)
    nullSafeCodeGen(ctx, ev, (s, _) => s"${ev.value} = $m.stats($s);")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SubwordStats =
    copy(left = newLeft, right = newRight)
}
