package graft.expressions

import org.apache.spark.sql.{Column, GraftExpressionBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native EN ticker extraction (SURVEY.md O16,
  * reference `src/lurkers/reddit.py:72-90`) in one pass over the
  * string's UTF-8 bytes. Returns exactly what the declarative
  *
  * {{{
  * array_distinct(concat(
  *   transform(regexp_extract_all(s, '\$([a-zA-Z]+)', 1), t -> upper(t)),
  *   regexp_extract_all(s, '\b[A-Z][A-Z]+\b', 0)))
  * }}}
  *
  * returns (`TextOps.extractTickersEnRegex`, pinned against this kernel
  * in TextOpsSpec): cashtags first, then capwords, distinct, in
  * first-occurrence order; null in → null out.
  *
  *  - A cashtag is the ASCII letters after a `$`, upper-cased. The
  *    pattern admits only `[a-zA-Z]`, so ASCII upper-casing is exact:
  *    no `upper` (ICU case mapping on Spark 4.1) and no lambda.
  *  - A capword is a maximal run of ≥ 2 `A–Z` bytes with a Java-regex
  *    `\b` on both sides: the neighbour is not a word character, where
  *    word characters are `Character.isLetterOrDigit`, `_`, and a
  *    non-spacing mark that has a base character
  *    (`java.util.regex.Pattern.Bound`). The base-character walk steps
  *    back one UTF-16 unit at a time, so a supplementary code point
  *    before the marks never counts as a base — replicated here.
  *
  * Only a run's two neighbours are ever decoded; the rest of the scan
  * reads bytes. Malformed UTF-8 decodes to U+FFFD, as `toString` does
  * for the regex form. Output elements are fresh `UTF8String`s in a
  * `GenericArrayData` (no boxed primitives). The element type keeps the
  * declarative form's `containsNull = true`, so schemas built on it do
  * not change. */
case class TickersEn(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "tickers_en"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    TickersEn.extract(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TickersEn.extract($c)")

  override protected def withNewChildInternal(newChild: Expression): TickersEn =
    copy(child = newChild)
}

object TickersEn {

  /** Per-thread distinct-in-order accumulator: a doc's tickers are few,
    * so membership is a linear scan. */
  private final class Acc {
    private var buf = new Array[UTF8String](16)
    private var k = 0
    def add(t: UTF8String): Unit = {
      var j = 0
      while (j < k && !buf(j).equals(t)) j += 1
      if (j == k) {
        if (k == buf.length) buf = java.util.Arrays.copyOf(buf, k * 2)
        buf(k) = t; k += 1
      }
    }
    def result(): ArrayData = {
      val res = new Array[Any](k)
      System.arraycopy(buf, 0, res, 0, k)
      java.util.Arrays.fill(buf.asInstanceOf[Array[AnyRef]], 0, k, null)
      k = 0
      new GenericArrayData(res)
    }
  }

  private val acc = new ThreadLocal[Acc] {
    override def initialValue(): Acc = new Acc
  }

  def extract(u: UTF8String): ArrayData = {
    val base = u.getBaseObject
    val off = u.getBaseOffset
    val n = u.numBytes
    val out = acc.get()
    // cashtags: `$` then the maximal ASCII-letter run, upper-cased
    var i = 0
    while (i < n) {
      if (Platform.getByte(base, off + i) == '$') {
        var e = i + 1
        while (e < n && isAsciiLetter(Platform.getByte(base, off + e))) e += 1
        if (e > i + 1) {
          val t = new Array[Byte](e - i - 1)
          var j = 0
          while (j < t.length) {
            val b = Platform.getByte(base, off + i + 1 + j)
            t(j) = if (b >= 'a') (b - 32).toByte else b
            j += 1
          }
          out.add(UTF8String.fromBytes(t))
        }
        i = e
      } else i += 1
    }
    // capwords: maximal A–Z runs of length ≥ 2 with a `\b` on both sides
    i = 0
    while (i < n) {
      if (isUpper(Platform.getByte(base, off + i))) {
        var e = i + 1
        while (e < n && isUpper(Platform.getByte(base, off + e))) e += 1
        if (e - i >= 2 && !wordBefore(base, off, i) && !wordAt(base, off, n, e)) {
          val t = new Array[Byte](e - i)
          Platform.copyMemory(base, off + i, t, Platform.BYTE_ARRAY_OFFSET, e - i)
          out.add(UTF8String.fromBytes(t))
        }
        i = e
      } else i += 1
    }
    out.result()
  }

  private def isUpper(b: Byte): Boolean = b >= 'A' && b <= 'Z'
  private def isAsciiLetter(b: Byte): Boolean = isUpper(b) || (b >= 'a' && b <= 'z')

  private def isWordCp(cp: Int): Boolean = cp == '_' || Character.isLetterOrDigit(cp)
  private def isMark(cp: Int): Boolean = Character.getType(cp) == Character.NON_SPACING_MARK

  /** Is the code point ending just before byte `i` a word character,
    * counting a non-spacing mark with a base character as one? */
  private def wordBefore(base: AnyRef, off: Long, i: Int): Boolean = {
    if (i == 0) return false
    val cp = cpBefore(base, off, i)
    if (isWordCp(cp)) true
    else if (!isMark(cp)) false
    else {
      // Pattern.hasBaseCharacter: walk back over marks to a letter/digit
      var p = i
      var c = cp
      while (c < 0x10000 && isMark(c) && p > 0) { // >= 0x10000: a low surrogate in UTF-16
        p = cpStart(base, off, p)
        c = if (p > 0) cpBefore(base, off, p) else -1
      }
      c >= 0 && c < 0x10000 && Character.isLetterOrDigit(c)
    }
  }

  /** Is the code point starting at byte `i` a word character? A
    * non-spacing mark here follows an `A–Z` run, so it has a base. */
  private def wordAt(base: AnyRef, off: Long, n: Int, i: Int): Boolean = {
    if (i >= n) return false
    val b0 = Platform.getByte(base, off + i) & 0xff
    if (b0 < 0x80) return isWordCp(b0)
    val len = if (b0 >= 0xf0) 4 else if (b0 >= 0xe0) 3 else 2
    val cp = decode(base, off, n, i, len)
    isWordCp(cp) || isMark(cp)
  }

  /** Byte offset where the code point ending just before `i` starts:
    * back over at most three continuation bytes to a lead byte. */
  private def cpStart(base: AnyRef, off: Long, i: Int): Int = {
    var s = i - 1
    while (s > 0 && i - s < 4 && (Platform.getByte(base, off + s) & 0xc0) == 0x80) s -= 1
    s
  }

  private def cpBefore(base: AnyRef, off: Long, i: Int): Int = {
    val b = Platform.getByte(base, off + i - 1) & 0xff
    if (b < 0x80) return b
    val s = cpStart(base, off, i)
    val lead = Platform.getByte(base, off + s) & 0xff
    val len = if (lead >= 0xf0) 4 else if (lead >= 0xe0) 3 else if (lead >= 0xc0) 2 else 1
    if (s + len != i) 0xfffd else decode(base, off, i, s, len)
  }

  /** The `len`-byte sequence at `s` as a code point; U+FFFD when it is
    * malformed (a bad lead or continuation byte, overlong, a surrogate,
    * past U+10FFFF or past `end`). */
  private def decode(base: AnyRef, off: Long, end: Int, s: Int, len: Int): Int = {
    val lead = Platform.getByte(base, off + s) & 0xff
    if (lead < 0xc2 || lead > 0xf4 || s + len > end) return 0xfffd
    var cp = lead & (0x7f >> len)
    var j = 1
    while (j < len) {
      val b = Platform.getByte(base, off + s + j) & 0xff
      if ((b & 0xc0) != 0x80) return 0xfffd
      cp = (cp << 6) | (b & 0x3f)
      j += 1
    }
    val min = if (len == 2) 0x80 else if (len == 3) 0x800 else 0x10000
    if (cp < min || cp > 0x10ffff || (cp >= 0xd800 && cp <= 0xdfff)) 0xfffd else cp
  }

  /** Column API: `tickers_en($"text")`. */
  def tickers_en(c: Column): Column =
    GraftExpressionBridge.toColumn(TickersEn(GraftExpressionBridge.toExpression(c)))
}
