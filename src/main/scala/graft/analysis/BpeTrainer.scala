package graft.analysis

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Checkpoints

/** Corpus-level BPE tokenizer training — the full iterative loop whose
  * single inner step is q71's pair-count aggregation. (Sennrich et al.
  * 2016's algorithm, re-expressed for a distributed corpus; the
  * reference pipeline counts tokens for budgeting — training the
  * tokenizer ON the corpus is the capability an LLM data pipeline
  * actually wants from that statistic.)
  *
  * Scale shape — the standard two-tier trick:
  *  - ONE corpus-scale pass builds the word-frequency table
  *    (`groupBy(token).count`, map-side combined). Everything after
  *    operates on the WORD TABLE (vocabulary-sized: ~10⁵–10⁶ rows for
  *    100 TB of text), never the corpus again — K merge rounds cost
  *    K × (vocabulary aggregation), not K × (corpus scan).
  *  - each round: adjacent-pair counts weighted by word frequency (one
  *    hash aggregation), driver pulls ONE row (the argmax — count desc,
  *    then pair asc, so training is deterministic), and the merge is
  *    applied per word with a typed map (a per-row sequential rewrite —
  *    inherently imperative, the documented exception shape).
  *  - `Checkpoints.materializeRound` truncates lineage each round —
  *    without it round i replans rounds 0..i-1.
  *
  * Returns the ordered merge list — the tokenizer model; apply it with
  * [[encode]].
  */
object BpeTrainer {

  /** One word as its current symbol sequence + corpus frequency. */
  case class WordSyms(syms: Seq[String], freq: Long)

  /** Apply one merge (a, b) → a+b left-to-right over a symbol sequence —
    * the same greedy semantics as the original implementation. */
  def mergeOnce(syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** One training round's audit record: the merge pair, its weighted
    * occurrence count at merge time, and the honestly MEASURED corpus
    * totals around the round — the engine-independent invariants q88
    * exposes to the oracle (token count strictly decreases; character
    * mass is conserved by every merge). */
  case class MergeStat(left: String, right: String, pairCount: Long,
                       symsBefore: Long, symsAfter: Long,
                       charsBefore: Long, charsAfter: Long)

  /** Train `numMerges` BPE merges over a tokenized corpus column.
    * Returns merges in application order. Skips [[trainWithStats]]'s
    * per-round measurement jobs — callers that only need the model
    * (q123's encode) shouldn't pay for the audit. */
  def train(docs: DataFrame, textCol: String, numMerges: Int): Seq[(String, String)] =
    trainImpl(docs, textCol, numMerges, measure = false).map(s => (s.left, s.right))

  /** [[train]] plus per-round measured invariants. The totals are two
    * extra long-sums per round over the VOCABULARY-sized word table —
    * noise next to the pair-count aggregation each round already runs. */
  def trainWithStats(docs: DataFrame, textCol: String,
                     numMerges: Int): Seq[MergeStat] =
    trainImpl(docs, textCol, numMerges, measure = true)

  private def trainImpl(docs: DataFrame, textCol: String,
                        numMerges: Int, measure: Boolean): Seq[MergeStat] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // tier 1: corpus → word-frequency table, split to character symbols.
    // The merge loop runs over an RDD (r15, the q94 Pca lesson): every
    // round's pair-count/argmax, merge-apply and totals used to be
    // brand-new Dataset plans — numMerges × 2-3 full Catalyst
    // analysis/optimization/codegen passes for vocabulary-sized work
    // whose shape never changes. As RDD ops (flatMap+reduceByKey+
    // takeOrdered / map / aggregate) the rounds pay no per-round
    // planning; the arithmetic is the same exact integer sums, the
    // argmax the same total order (count desc, then pair asc), the merge
    // the same mergeOnce — bit-identical merges and stats
    // (BpeTrainerSpec pins train ≡ reference). Lineage per round is
    // truncated the same way (a checkpointed round + release of the
    // previous round's blocks).
    var words: org.apache.spark.rdd.RDD[WordSyms] = Checkpoints.materializeRound(docs
      .select(explode(graft.text.TextOps.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .as[(String, Long)]
      .map { case (w, f) => WordSyms(toSymbols(w), f) }
      .rdd)

    // (total symbol occurrences, total character mass), freq-weighted;
    // skipped entirely when the caller doesn't need the audit columns
    def totals(ws: org.apache.spark.rdd.RDD[WordSyms]): (Long, Long) = {
      if (!measure) return (0L, 0L)
      ws.aggregate((0L, 0L))(
        (acc, w) => (acc._1 + w.syms.length.toLong * w.freq,
          acc._2 + w.syms.iterator.map(cpLen).sum * w.freq),
        (a, b) => (a._1 + b._1, a._2 + b._2))
    }

    val stats = scala.collection.mutable.ArrayBuffer[MergeStat]()
    var (curSyms, curChars) = totals(words)
    var round = 0
    while (round < numMerges) {
      // adjacent-pair counts weighted by word frequency (q71's statistic);
      // argmax pulls ONE element to the driver: count desc, then pair asc
      val best = words
        .flatMap(ws => ws.syms.iterator.zip(ws.syms.iterator.drop(1))
          .map { case (a, b) => ((a, b), ws.freq) })
        .reduceByKey(_ + _)
        .takeOrdered(1)(Ordering.by[((String, String), Long), (Long, String, String)](
          t => (-t._2, t._1._1, t._1._2)))
        .headOption
      best match {
        case Some(((a, b), cnt)) if cnt >= 2 =>
          val prev = words
          words = Checkpoints.materializeRound(
            words.map(ws => ws.copy(syms = mergeOnce(ws.syms, a, b))))
          // the eager checkpoint makes the previous round's word table
          // dead — release per round (the Clusters lesson)
          prev.unpersist(blocking = false)
          val (nextSyms, nextChars) = totals(words)
          stats += MergeStat(a, b, cnt, curSyms, nextSyms, curChars, nextChars)
          curSyms = nextSyms; curChars = nextChars
          round += 1
        case _ => round = numMerges // nothing left worth merging
      }
    }
    // the stats list is all the caller gets — the final word table's
    // blocks are dead the moment the loop exits
    words.unpersist(blocking = false)
    stats.toSeq
  }

  /** Encode a word with a trained merge list (applied in order) —
    * the tokenizer's inference half. */
  /** Split a word into CODE-POINT symbols. `w.map(_.toString)` would
    * split on UTF-16 code units, turning any supplementary character
    * (emoji, rare CJK) into two invalid lone-surrogate "symbols" — and
    * the resulting Java code-unit counts would break the character-
    * conservation invariant (n_token_chars = n_word_chars) against
    * Spark's `length()`, which counts code points. */
  private def toSymbols(w: String): Seq[String] = {
    val out = new scala.collection.immutable.VectorBuilder[String]()
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** Code-POINT length of a symbol (symbols are concatenations of
    * [[toSymbols]] output, so this equals Spark's `length()`). */
  private def cpLen(s: String): Long = s.codePointCount(0, s.length).toLong

  def encode(word: String, merges: Seq[(String, String)]): Seq[String] =
    merges.foldLeft(toSymbols(word)) {
      case (syms, (a, b)) => mergeOnce(syms, a, b)
    }

  /** Corpus-scale encode with a trained merge list — the apply half of
    * the tokenizer, shaped like `train`'s two tiers: ONE corpus pass
    * builds per-doc word counts, the iterative merge loop runs only over
    * the DISTINCT-word table (vocabulary-sized), and each word's token
    * count joins back by word. At 100 TB this encodes every distinct
    * word exactly once instead of re-running the greedy loop per
    * occurrence, and the tokens-per-word side of the join is vocab-sized
    * (≲10⁶ rows — broadcastable), so the corpus is never shuffled for
    * it; the only keyed exchange is the per-doc word-count aggregation.
    * Output: (idCol, n_words, n_tokens, n_word_chars, n_token_chars) —
    * the real token budget `q42`'s packing and the reference's count
    * statistic approximate, plus the character-accounting columns whose
    * equality (n_token_chars = n_word_chars) is the engine-independent
    * conservation invariant q123 exposes to the oracle. */
  def encodeCorpus(docs: DataFrame, idCol: String, textCol: String,
                   merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wordCounts = docs
      .select(col(idCol), explode(graft.text.TextOps.tokens(col(textCol))).as("w"))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("n"))
    val tokensPerWord = wordCounts.select("w").distinct()
      .as[String]
      .map { w =>
        val toks = encode(w, merges)
        (w, toks.length.toLong, toks.iterator.map(cpLen).sum)
      }
      .toDF("w", "toks", "tok_chars")
    wordCounts.join(broadcast(tokensPerWord), "w")
      .groupBy(col(idCol))
      .agg(sum("n").as("n_words"), sum(col("n") * col("toks")).as("n_tokens"),
        sum(col("n") * length(col("w"))).cast("long").as("n_word_chars"),
        sum(col("n") * col("tok_chars")).as("n_token_chars"))
  }
}
