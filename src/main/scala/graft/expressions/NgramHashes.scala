package graft.expressions

import org.apache.spark.sql.{Column, GraftExpressionBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Distinct 64-bit hashes of a string's k-shingles, computed in one tight
  * codegen'd pass — the scan-side front of MinHash-LSH near-dup detection
  * (north-star corpus dedup; reference similarity analog
  * `/root/reference/src/utils/tencent_api.py:111-123`).
  *
  * Materializing shingles as STRING ARRAYS (`transform(sequence(...))` /
  * zip_with chains) costs: an interpreted HOF stage per consumer, one
  * UTF8String allocation per shingle, and — when signatures are computed
  * by explode + hash — a per-row hash of each materialized string. At
  * ~2k char-8-grams per 2 KB document that dominates the whole near-dup
  * pipeline. Hashing the shingles inline collapses all of it to one
  * char loop per document; downstream (MinHash signatures, banding,
  * exact-Jaccard verify) operates on `array<bigint>` — identical Jaccard
  * modulo 64-bit collisions (~n²/2⁶⁴ per pair, negligible), and the
  * verify join moves 8-byte hashes instead of shingle text.
  *
  * Hash: FNV-1a over UTF-16 code units (deterministic, allocation-free).
  * Semantics match the string pipeline: k-CHAR (not byte) windows;
  * shorter-than-k input hashes as a single whole-string shingle.
  */
abstract class NgramHashesBase extends UnaryExpression {
  def k: Int
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")
}

/** Distinct hashes of all k-char substrings (char-shingle variant;
  * `TextOps.charShingles` is the string-materializing equivalent). */
case class CharNgramHashes(child: Expression, k: Int) extends NgramHashesBase {
  override def prettyName: String = "char_ngram_hashes"

  override def nullSafeEval(input: Any): Any =
    NgramHashes.charGrams(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.NgramHashes.charGrams($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): CharNgramHashes =
    copy(child = newChild)
}

/** Distinct hashes of all k-word shingles (whitespace tokenization,
  * single space as joiner — `TextOps.wordShingles` equivalent; fewer
  * than k tokens hashes the space-joined whole). */
case class WordNgramHashes(child: Expression, k: Int) extends NgramHashesBase {
  override def prettyName: String = "word_ngram_hashes"

  override def nullSafeEval(input: Any): Any =
    NgramHashes.wordGrams(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.NgramHashes.wordGrams($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): WordNgramHashes =
    copy(child = newChild)
}

object NgramHashes {
  private final val FnvOffset = 0xcbf29ce484222325L
  private final val FnvPrime = 0x100000001b3L

  /** FNV-1a of a whole string — the hash the kernels assign to a single
    * shingle; exposed so literal lookup sets (e.g. language-profile
    * trigrams) can be matched against kernel output. */
  def fnv1aOf(s: String): Long = fnv1a(s, 0, s.length)

  private def fnv1a(s: String, from: Int, until: Int): Long = {
    var h = FnvOffset
    var i = from
    while (i < until) {
      h = (h ^ s.charAt(i)) * FnvPrime
      i += 1
    }
    h
  }

  /** Static kernel: distinct FNV-1a hashes of k-char windows, in
    * first-occurrence order. */
  def charGrams(u: UTF8String, k: Int): ArrayData = {
    val s = u.toString
    if (s.length < k) return single(fnv1a(s, 0, s.length))
    val last = s.length - k
    val seen = new OrderedLongSet(last + 1)
    var i = 0
    while (i <= last) {
      seen.add(fnv1a(s, i, i + k))
      i += 1
    }
    seen.toArrayData
  }

  /** Static kernel: distinct FNV-1a hashes of k-word windows, in
    * first-occurrence order. Tokens are maximal non-whitespace runs;
    * windows hash as "w1 w2 ... wk" (the single-space joiner hashes as
    * ' ' between token spans). */
  def wordGrams(u: UTF8String, k: Int): ArrayData = {
    val s = u.toString
    // token t spans [spans(2t), spans(2t + 1))
    var spans = new Array[Int](64)
    var n = 0
    var i = 0
    while (i < s.length) {
      if (!Character.isWhitespace(s.charAt(i))) {
        if (2 * n + 2 > spans.length) spans = java.util.Arrays.copyOf(spans, 2 * spans.length)
        spans(2 * n) = i
        while (i < s.length && !Character.isWhitespace(s.charAt(i))) i += 1
        spans(2 * n + 1) = i
        n += 1
      } else i += 1
    }
    if (n < k) return single(gramHash(s, spans, 0, n))
    val lastW = n - k
    val seen = new OrderedLongSet(lastW + 1)
    var w0 = 0
    while (w0 <= lastW) {
      seen.add(gramHash(s, spans, w0, k))
      w0 += 1
    }
    seen.toArrayData
  }

  /** FNV-1a of the words `w0 until w0 + nWords`, joined by one space. */
  private def gramHash(s: String, spans: Array[Int], w0: Int, nWords: Int): Long = {
    var h = FnvOffset
    var w = w0
    val stop = w0 + nWords
    while (w < stop) {
      var j = spans(2 * w)
      val e = spans(2 * w + 1)
      while (j < e) { h = (h ^ s.charAt(j)) * FnvPrime; j += 1 }
      if (w < stop - 1) h = (h ^ ' ') * FnvPrime
      w += 1
    }
    h
  }

  private def single(h: Long): ArrayData = UnsafeArrayData.fromPrimitiveArray(Array(h))

  /** Open-addressing set of longs that keeps first-occurrence order:
    * the distinct values sit in `values(0 until size)`, and each used
    * slot holds its value's index + 1 (0 is empty). Sized for
    * `maxItems` at a load factor of at most 1/2, so it never grows. */
  private final class OrderedLongSet(maxItems: Int) {
    private val values = new Array[Long](maxItems)
    private var size = 0
    private val slots = new Array[Int](Integer.highestOneBit(math.max(2 * maxItems - 1, 1)) << 1)
    private val mask = slots.length - 1
    private val shift = 64 - Integer.numberOfTrailingZeros(slots.length)

    def add(v: Long): Unit = {
      // Fibonacci hashing: the top bits of v * 2^64/phi pick the slot
      var i = ((v * 0x9e3779b97f4a7c15L) >>> shift).toInt
      while (true) {
        val at = slots(i)
        if (at == 0) {
          values(size) = v
          size += 1
          slots(i) = size
          return
        }
        if (values(at - 1) == v) return
        i = (i + 1) & mask
      }
    }

    def toArrayData: ArrayData =
      UnsafeArrayData.fromPrimitiveArray(values, Platform.LONG_ARRAY_OFFSET, size, 8)
  }

  def char_ngram_hashes(c: Column, k: Int): Column =
    GraftExpressionBridge.toColumn(CharNgramHashes(GraftExpressionBridge.toExpression(c), k))

  def word_ngram_hashes(c: Column, k: Int): Column =
    GraftExpressionBridge.toColumn(WordNgramHashes(GraftExpressionBridge.toExpression(c), k))
}
