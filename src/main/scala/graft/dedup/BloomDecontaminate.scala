package graft.dedup

import org.apache.spark.sql.{DataFrame, GraftExpressionBridge, GraftPlanBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.util.sketch.BloomFilter

/** N-gram contamination check with a Bloom-filter prefilter — "which
  * training documents contain a passage that also appears in the eval
  * set?" (the exact-overlap complement of q44's near-dup
  * decontamination; GPT-3/PaLM-style 'dirty' detection).
  *
  * The 100 TB shape: the EVAL side is small by construction (benchmarks,
  * held-out splits), the TRAIN side is the corpus. A direct semi-join of
  * train n-grams against eval n-grams shuffles the train side's entire
  * exploded n-gram stream (~10× the corpus bytes). Instead, in one lazy
  * plan:
  *
  *  1. build a Bloom filter over the eval set's n-gram hashes with
  *     Spark's own `BloomFilterAggregate` (the aggregate behind runtime
  *     bloom-filter joins) in a scalar subquery over the SMALL side only
  *     — a few MB for millions of n-grams at 1e-4 fpp. It runs as part of
  *     the report's own execution: building the report launches no job,
  *     checkpoints nothing, and the filter bytes never enter the plan;
  *  2. scan train, keeping only n-grams the filter might contain
  *     (`BloomFilterMightContain`, codegen'd inside the scan's stage) —
  *     this map-side test eliminates ~everything before any exchange;
  *  3. EXACT verify: semi-join the tiny survivor set against the real
  *     eval hash set, so Bloom false positives never reach the output —
  *     the result is exact; the filter only buys the scan-side prune.
  *     The join is shuffle-hash, never broadcast: an explode carries the
  *     pre-explode scan's size estimate, so a broadcast could be sized
  *     on a wrong, tiny figure.
  *
  * `BloomFilterAggregate` clamps the filter's sizing to
  * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` (items) and
  * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` (bits). Sizing
  * beyond them builds a smaller filter than asked for: more false
  * positives pass step 2, and step 3 still keeps the result exact.
  *
  * N-grams come from `NgramHashes.word_ngram_hashes` (distinct 64-bit
  * hashes per doc, computed scan-side in one codegen'd pass); a shared
  * n-gram is counted once per (train doc, n-gram) regardless of repeats.
  */
object BloomDecontaminate {

  /** (train idCol, n_shared) for every train doc sharing at least one
    * word `n`-gram with any eval doc. `expectedEvalNgrams` sizes the
    * Bloom filter (overestimate freely — size is linear, fpp explodes
    * only when underestimated). */
  def contaminationReport(train: DataFrame, eval: DataFrame,
                          idCol: String, textCol: String, n: Int,
                          expectedEvalNgrams: Long = 1000000L,
                          fpp: Double = 1e-4): DataFrame = {
    import GraftExpressionBridge.{toColumn, toExpression}
    val grams = (d: DataFrame) => d.select(col(idCol),
      explode(graft.expressions.NgramHashes.word_ngram_hashes(col(textCol), n)).as("g"))

    // putLong per hash, probed with mightContainLong: the semantics of
    // `DataFrameStatFunctions.bloomFilter` over the same sizing
    val bloom = grams(eval).select(toColumn(new BloomFilterAggregate(toExpression(col("g")),
      Literal(expectedEvalNgrams), Literal(BloomFilter.optimalNumOfBits(expectedEvalNgrams, fpp)))
      .toAggregateExpression())).scalar()
    val mightContain = toColumn(BloomFilterMightContain(
      GraftPlanBridge.toCatalyst(bloom), toExpression(col("g"))))

    grams(train)
      .filter(mightContain)                           // map-side Bloom prune
      .join(grams(eval).select("g").distinct().hint("shuffle_hash"),
        Seq("g"), "left_semi")                        // exact verify
      .groupBy(col(idCol))
      .agg(countDistinct(col("g")).as("n_shared"))
  }
}
