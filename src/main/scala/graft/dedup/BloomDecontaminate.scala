package graft.dedup

import graft.ops.Checkpoints
import org.apache.spark.sql.{DataFrame, GraftExpressionBridge, GraftPlanBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.util.sketch.BloomFilter

/** N-gram contamination check — "which training documents contain a
  * passage that also appears in the eval set?" (the exact-overlap
  * complement of q44's near-dup decontamination; GPT-3/PaLM-style
  * 'dirty' detection).
  *
  * The 100 TB shape: the EVAL side is small by construction (benchmarks,
  * held-out splits), the TRAIN side is the corpus, and a plain
  * semi-join of train n-grams against eval n-grams shuffles the train
  * side's entire exploded n-gram stream (~10× the corpus bytes).
  *
  * Building the report materializes the eval side's DISTINCT n-gram
  * hashes once (`Checkpoints.materializeCounted`: the eval explode runs
  * here, at construction, and only here), with their exact count. The
  * count picks one of two forms, which give the same rows:
  *
  *  - at most `Checkpoints.DefaultBroadcastMaxRows` hashes: the train
  *    n-grams are left-semi-joined against a BROADCAST of that set — an
  *    exact verify in the scan's own stage, with no filter and no
  *    shuffle of train n-grams. The exact count is what makes the
  *    broadcast safe: an explode carries the pre-explode scan's size
  *    estimate, so a broadcast sized on the plan could be sized on a
  *    wrong, tiny figure;
  *  - more: [[bloomVerified]]. A Bloom filter over the set (Spark's own
  *    `BloomFilterAggregate`, in a scalar subquery run with the report)
  *    prunes the train n-grams map-side (`BloomFilterMightContain`,
  *    codegen'd inside the scan's stage), and a shuffle-hash semi-join
  *    against the same set verifies the survivors exactly, so false
  *    positives never reach the output. The filter is sized for the
  *    larger of the exact count and `expectedEvalNgrams`, at `fpp`;
  *    `BloomFilterAggregate` clamps that sizing to
  *    `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` (items) and
  *    `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` (bits), which
  *    only lets more false positives reach the exact verify.
  *
  * Like every `Checkpoints` materialization, the eval set is lost with
  * its executor: a report read after that fails instead of recomputing.
  *
  * N-grams come from `NgramHashes.word_ngram_hashes` (distinct 64-bit
  * hashes per doc, computed scan-side in one codegen'd pass); a shared
  * n-gram is counted once per (train doc, n-gram) regardless of repeats.
  */
object BloomDecontaminate {

  /** (train idCol, n_shared) for every train doc sharing at least one
    * word `n`-gram with any eval doc. `expectedEvalNgrams` is a floor on
    * the large form's Bloom sizing, which never goes below the exact
    * eval n-gram count. */
  def contaminationReport(train: DataFrame, eval: DataFrame,
                          idCol: String, textCol: String, n: Int,
                          expectedEvalNgrams: Long = 1000000L,
                          fpp: Double = 1e-4): DataFrame = {
    val (evalGrams, nEval) = Checkpoints.materializeCounted(evalSet(eval, textCol, n))
    routed(train, evalGrams, nEval, idCol, textCol, n, expectedEvalNgrams, fpp)
  }

  /** [[contaminationReport]] over `evalGrams` (an [[evalSet]] of `nEval`
    * hashes): the form is picked here, from `nEval` alone. */
  private[dedup] def routed(train: DataFrame, evalGrams: DataFrame, nEval: Long,
                            idCol: String, textCol: String, n: Int,
                            expectedEvalNgrams: Long, fpp: Double): DataFrame =
    if (nEval <= Checkpoints.DefaultBroadcastMaxRows)
      shared(grams(train, idCol, textCol, n).join(broadcast(evalGrams), Seq("g"), "left_semi"),
        idCol)
    else bloomVerified(train, evalGrams, idCol, textCol, n,
      math.max(expectedEvalNgrams, nEval), fpp)

  /** The distinct word-`n`-gram hashes of `eval`, one column `g`. */
  private[dedup] def evalSet(eval: DataFrame, textCol: String, n: Int): DataFrame =
    eval.select(explode(graft.expressions.NgramHashes.word_ngram_hashes(col(textCol), n))
      .as("g")).distinct()

  /** The large form of [[contaminationReport]], unrouted: Bloom prune of
    * the train n-grams, then a shuffle-hash exact verify, both against
    * `evalGrams` (an [[evalSet]]). */
  private[dedup] def bloomVerified(train: DataFrame, evalGrams: DataFrame,
                                   idCol: String, textCol: String, n: Int,
                                   expectedEvalNgrams: Long, fpp: Double): DataFrame = {
    import GraftExpressionBridge.{toColumn, toExpression}
    // putLong per hash, probed with mightContainLong: the semantics of
    // `DataFrameStatFunctions.bloomFilter` over the same sizing
    val bloom = evalGrams.select(toColumn(new BloomFilterAggregate(toExpression(col("g")),
      Literal(expectedEvalNgrams), Literal(BloomFilter.optimalNumOfBits(expectedEvalNgrams, fpp)))
      .toAggregateExpression())).scalar()
    val mightContain = toColumn(BloomFilterMightContain(
      GraftPlanBridge.toCatalyst(bloom), toExpression(col("g"))))
    shared(grams(train, idCol, textCol, n)
      .filter(mightContain)                                              // map-side Bloom prune
      .join(evalGrams.hint("shuffle_hash"), Seq("g"), "left_semi"),      // exact verify
      idCol)
  }

  private def grams(d: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    d.select(col(idCol),
      explode(graft.expressions.NgramHashes.word_ngram_hashes(col(textCol), n)).as("g"))

  private def shared(verified: DataFrame, idCol: String): DataFrame =
    verified.groupBy(col(idCol)).agg(countDistinct(col("g")).as("n_shared"))
}
