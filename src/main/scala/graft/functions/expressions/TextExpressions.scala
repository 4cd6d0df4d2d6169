package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnShim.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native shingling for the dedup hot path.
  *
  * The Column composition of distinct word n-gram shingles (kept as
  * the reference in TextExprSpec) uses four higher-order /
  * collection expressions (split → sequence → transform(slice+array_join)
  * → array_distinct) that are interpreted per row and allocate one slice
  * array per shingle; at corpus scale the shingle explode dominates the
  * whole MinHash pipeline (BENCH: ~4 s of q35's 9.6 s at sf0.1 was this
  * composition). This expression produces the identical distinct-shingle
  * array in ONE pass over the text.
  *
  * Value-identical to the composition it replaces (and therefore to the
  * DuckDB oracle CTE) for NON-NULL text: whitespace regex split with
  * Java `-1` limit semantics, space-joined n-gram windows,
  * first-occurrence-order distinct, whole-doc fallback shingle for
  * documents with < n tokens. NULL text differs deliberately: this
  * expression null-propagates (standard Spark unary semantics — the row
  * contributes no shingles downstream), where the old composition
  * produced the single-element array `[null]`, grouping all null-text
  * docs under one null shingle in dedup pipelines.
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "shingle size must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(s: Any): Any =
    TextExprHelpers.wordShingles(s.asInstanceOf[UTF8String], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.TextExprHelpers" +
        s".wordShingles($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Unicode NFC normalization (canonical composition) — the first
  * step of corpus text cleaning: decomposed sequences (e + U+0301)
  * compose to their canonical form (é), so downstream hashing,
  * dedup, and tokenization see ONE spelling per grapheme. Engine
  * parity is by spec: the JVM (`java.text.Normalizer`) and DuckDB
  * (`nfc_normalize`) both implement Unicode NFC, which is a pure
  * function of the code-point sequence. */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(s: Any): Any =
    TextExprHelpers.nfc(s.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.TextExprHelpers" +
        s".nfc($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowed char-gram stream for substring-level dedup
  * ([[graft.ext.Dedup.duplicateSpans]]): every char `gramLen`-gram of
  * the text is hashed, and the minimum (hash, pos) of every trailing
  * `w`-gram window is selected (Schleimer et al. winnowing — w = 1
  * keeps every gram). Returns array<struct<pos int, gh bigint>> with
  * 1-based char positions, selected-position order.
  *
  * The POINT of doing this inside one expression: selection is per
  * document, and a document's grams are born in one row — computing the
  * same selection with a `Window.partitionBy(doc)` first SHUFFLES the
  * entire unthinned gram stream to group what was never apart (measured:
  * winnowing behind a window saved no shuffle bytes at all). Here the
  * stream thins ~w/2× before anything leaves the scan task.
  *
  * Positions count Java chars (identical to SQL `substr` for all of
  * BMP; supplementary-plane text may differ by code-unit counting —
  * extents stay self-consistent either way). */
case class WinnowedGrams(child: Expression, gramLen: Int, w: Int)
    extends UnaryExpression {

  require(gramLen >= 2, "gramLen must be >= 2")
  require(w >= 1, "winnow window must be >= 1")

  import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("pos", IntegerType, nullable = false),
      StructField("gh", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "winnowed_grams"

  override def nullSafeEval(s: Any): Any =
    TextExprHelpers.winnowedGrams(s.asInstanceOf[UTF8String], gramLen, w)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.TextExprHelpers" +
        s".winnowedGrams($c, $gramLen, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native CDC boundary scan (the production path of
  * [[graft.ext.Dedup.cdcChunks]]): one O(n) polynomial-rolling-hash
  * pass per document, emitting the content-defined boundary positions
  * as array<int>. Replaces the md5-per-position formulation, which
  * probe-measured ~73 µs/position interpreted (≈4 MB/s/core — a
  * non-starter at 100 TB); the rolling pass is one multiply-add per
  * char. The hash constants (base 257 mod 2^31−1) are embedded as
  * integer literals in the DuckDB oracle, so boundary decisions replay
  * exactly — no libm, no md5. Positions and hashed values are Unicode
  * CODE POINTS (one `ord()`-equivalent int per character), matching
  * Spark `substr` and DuckDB slicing on ANY text — supplementary-plane
  * characters (emoji, CJK extension B) chunk correctly, not just BMP. */
case class CdcBoundaries(child: Expression, w: Int, modulus: Int)
    extends UnaryExpression {

  require(w >= 1, "window must be >= 1")
  require(modulus >= 1, "modulus must be >= 1")

  import org.apache.spark.sql.types.IntegerType
  override def dataType: DataType = ArrayType(IntegerType,
    containsNull = false)
  override def prettyName: String = "cdc_boundaries"

  override def nullSafeEval(s: Any): Any =
    TextExprHelpers.cdcBoundaries(s.asInstanceOf[UTF8String], w, modulus)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.TextExprHelpers" +
        s".cdcBoundaries($c, $w, $modulus);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-document squared tf norm for vector-space cosine retrieval
  * ([[graft.ext.Search.vsmCosine]]): Σ tf(t)² over the distinct
  * whitespace tokens of `text`, as one hash-count pass — O(|d|).
  *
  * The composition it replaces,
  * `aggregate(array_distinct(split(text)), acc + size(filter(toks, _ ==
  * t))²)`, is O(|d|·|vocab(d)|) AND interpreted (higher-order array
  * expressions are CodegenFallback); probe-measured it made the norm
  * ~3× the cost of the entire rest of the query at 100k docs.
  * Value-identical for non-null text (exact integer, order-free); null
  * text null-propagates. */
case class TfNormSq(child: Expression) extends UnaryExpression {

  import org.apache.spark.sql.types.LongType
  override def dataType: DataType = LongType
  override def prettyName: String = "tf_norm_sq"

  override def nullSafeEval(s: Any): Any =
    TextExprHelpers.tfNormSq(s.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.TextExprHelpers" +
        s".tfNormSq($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Code-UNIT (UTF-16) string length — the unit system [[WinnowedGrams]]
  * positions count. `length()`/`substring()` count codepoints on
  * UTF8String, so applying gram extents with them mis-slices any text
  * containing supplementary-plane chars; these expressions keep the
  * whole substring-dedup family (find AND rewrite) in one unit system.
  * For BMP-only text the two systems coincide (the oracle-parity
  * regime, as documented on WinnowedGrams). */
case class CharUnitLength(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.IntegerType
  override def dataType: DataType = IntegerType
  override def prettyName: String = "char_unit_length"
  override def nullSafeEval(s: Any): Any =
    TextExprHelpers.charUnitLength(s.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.TextExprHelpers" +
        s".charUnitLength($c);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Code-unit substring, 1-based INCLUSIVE [start, end] — the companion
  * of [[CharUnitLength]] for applying [[WinnowedGrams]] extents.
  * Out-of-range bounds clamp; an empty range yields "". */
case class CharUnitSubstr(str: Expression, startPos: Expression,
    endPos: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def first: Expression = str
  override def second: Expression = startPos
  override def third: Expression = endPos
  override def dataType: DataType = StringType
  override def prettyName: String = "char_unit_substr"
  override def nullSafeEval(s: Any, a: Any, b: Any): Any =
    TextExprHelpers.charUnitSubstr(s.asInstanceOf[UTF8String],
      a.asInstanceOf[Int], b.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, a, b) =>
      s"${ev.value} = graft.functions.expressions.TextExprHelpers" +
        s".charUnitSubstr($s, $a, $b);")
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(str = newFirst, startPos = newSecond, endPos = newThird)
}

/** Static helpers callable from generated code. */
object TextExprHelpers {

  /** Unicode NFC of `s` — callable from generated code. Fast path:
    * `Normalizer.isNormalized` avoids the copy for the (dominant)
    * already-composed case. */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str,
        java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(str,
      java.text.Normalizer.Form.NFC))
  }

  /** Polynomial-rolling-hash base/modulus for [[cdcBoundaries]] — the
    * SAME constants the DuckDB oracle embeds as literals, so boundary
    * decisions replay exactly in integer SQL (no md5, no float). */
  final val CdcBase: Long = 257L
  final val CdcMod: Long = 2147483647L // 2^31 - 1

  /** CDC boundary positions of `text` (1-based CODE-POINT positions):
    * position p (w ≤ p < n) is a boundary when the degree-(w-1)
    * polynomial hash of the w code points ending at p, mod [[CdcMod]],
    * is divisible by `modulus`. ONE O(n) rolling pass — per code
    * point: one multiply-add and one subtract-out, all exact long
    * arithmetic. The last position is never a boundary (the tail chunk
    * ends there regardless).
    *
    * Unit system: code POINTS, both for positions and hashed values —
    * exactly Spark `substr` (UTF8String counts codepoints) and DuckDB
    * `t[p:p]` / `ord()` semantics, so boundary decisions AND the
    * downstream slicing replay identically on supplementary-plane
    * text (emoji, CJK-B). The earlier code-UNIT form held only for
    * BMP input and guarded with a throw; this is the lift that guard
    * asked for. Code points reach 0x10FFFF, so h·257 + cp < 2^40 —
    * no overflow anywhere in the long arithmetic. */
  def cdcBoundaries(text: UTF8String, w: Int, modulus: Int): ArrayData = {
    val s = text.toString
    // one decode pass: the code-point array the rolling window indexes
    val cps = new Array[Int](s.codePointCount(0, s.length))
    var ui = 0
    var ci = 0
    while (ui < s.length) {
      val cp = s.codePointAt(ui)
      cps(ci) = cp
      ci += 1
      ui += Character.charCount(cp)
    }
    val n = cps.length
    if (n <= w) return new GenericArrayData(Array.empty[Int])
    // bw = B^w mod M, for rolling the leading code point out
    var bw = 1L
    var k = 0
    while (k < w) { bw = bw * CdcBase % CdcMod; k += 1 }
    val out = new scala.collection.mutable.ArrayBuffer[Int]()
    var h = 0L
    var i = 0
    while (i < n) {
      h = (h * CdcBase + cps(i).toLong) % CdcMod
      if (i >= w) {
        h = (h - cps(i - w).toLong * bw % CdcMod + CdcMod) % CdcMod
      }
      val p = i + 1 // 1-based position of the window's LAST code point
      if (p >= w && p < n && h % modulus == 0L) out += p
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  def charUnitLength(text: UTF8String): Int = text.toString.length

  def charUnitSubstr(text: UTF8String, start: Int, end: Int): UTF8String = {
    val s = text.toString
    val from = math.min(math.max(start - 1, 0), s.length)
    val to = math.min(math.max(end, 0), s.length)
    if (to <= from) UTF8String.EMPTY_UTF8
    else UTF8String.fromString(s.substring(from, to))
  }

  /** One pass: hash every gram, then a monotonic-deque sliding minimum
    * over (hash, pos) — O(n) total, equal hashes keep the earlier
    * position (the struct-min tie rule). Consecutive duplicate
    * selections collapse (a window min's occurrences are consecutive). */
  def winnowedGrams(text: UTF8String, gramLen: Int, w: Int)
      : ArrayData = {
    val s = text.toString
    val n = s.length - gramLen + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    val gh = new Array[Long](n)
    var i = 0
    while (i < n) {
      gh(i) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUTF8String(UTF8String.fromString(s.substring(i, i + gramLen)), 42L)
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any](
      math.min(n, n / math.max(1, w / 2) + 2))
    def row(p: Int): Any =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](p + 1, gh(p))) // 1-based char position
    if (w <= 1) {
      var p = 0
      while (p < n) { out += row(p); p += 1 }
    } else {
      // deque of indices with strictly increasing (gh, pos); popping on
      // '>' (not '>=') keeps the earliest position among equal hashes
      val dq = new java.util.ArrayDeque[Integer](w + 1)
      var last = -1
      var p = 0
      while (p < n) {
        while (!dq.isEmpty && gh(dq.peekLast) > gh(p)) dq.pollLast()
        dq.addLast(p)
        if (dq.peekFirst < p - w + 1) dq.pollFirst()
        val m = dq.peekFirst
        if (m != last) { out += row(m); last = m }
        p += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  private val Ws = java.util.regex.Pattern.compile("\\s+")

  /** Σ count(t)² over the distinct tokens of `text` — one split, one
    * hash-count pass, exact integer. Same `-1`-limit split semantics as
    * [[wordShingles]] (leading empty token kept), so it matches
    * `aggregate(array_distinct(split(text,'\\s+')), ...)` and the
    * DuckDB `list_distinct`/`list_filter` fold exactly. */
  def tfNormSq(text: UTF8String): Long = {
    val toks = Ws.split(text.toString, -1)
    val counts = new java.util.HashMap[String, Long](
      math.max(8, toks.length * 2))
    var i = 0
    while (i < toks.length) {
      counts.merge(toks(i), 1L, (a, b) => a + b)
      i += 1
    }
    var sum = 0L
    val it = counts.values().iterator()
    while (it.hasNext) { val c = it.next(); sum += c * c }
    sum
  }

  /** Distinct space-joined word n-grams of `text`; < n tokens collapse to
    * one whole-doc shingle. Identical to
    * `array_distinct(transform(...))` over `split(text, "\\s+")`. */
  def wordShingles(text: UTF8String, n: Int): ArrayData = {
    // Pattern.split(input, -1) == String.split("\\s+", -1) == the split()
    // builtin's UTF8String.split semantics (leading empty token kept)
    val toks = Ws.split(text.toString, -1)
    val m = toks.length
    if (m < n) {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < m) {
        if (i > 0) sb.append(' ')
        sb.append(toks(i)); i += 1
      }
      new GenericArrayData(Array[Any](UTF8String.fromString(sb.toString)))
    } else {
      val seen = new java.util.LinkedHashSet[String](math.max(8, m * 2))
      var i = 0
      while (i <= m - n) {
        val sb = new java.lang.StringBuilder
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j)); j += 1
        }
        seen.add(sb.toString)
        i += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
      new GenericArrayData(out)
    }
  }
}

/** Column forms of the expressions above. Each builds its expression
  * directly, so a call needs no session and leaves the function
  * registry alone; SQL callers reach the same expressions through
  * [[graft.functions.GraftFunctions]]. */
object TextExpressions {

  def wordShingles(text: Column, n: Int): Column =
    column(WordShingles(expression(text), n))

  def nfcNormalize(text: Column): Column =
    column(NfcNormalize(expression(text)))

  def winnowedGrams(text: Column, gramLen: Int, w: Int): Column =
    column(WinnowedGrams(expression(text), gramLen, w))

  def cdcBoundaries(text: Column, w: Int, modulus: Int): Column =
    column(CdcBoundaries(expression(text), w, modulus))

  def tfNormSq(text: Column): Column =
    column(TfNormSq(expression(text)))

  def charUnitLength(text: Column): Column =
    column(CharUnitLength(expression(text)))

  def charUnitSubstr(text: Column, start: Column, end: Column): Column =
    column(CharUnitSubstr(expression(text), expression(start),
      expression(end)))
}
