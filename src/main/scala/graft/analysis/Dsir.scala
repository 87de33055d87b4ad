package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextOps
import graft.ops.Checkpoints

/** DSIR-style importance weighting (Xie et al. 2023, "Data Selection for
  * Language Models via Importance Resampling"): score every document by
  * how much more likely its tokens are under a TARGET distribution than
  * under the RAW corpus distribution — the standard way to tilt a crawl
  * toward a high-quality / in-domain slice without training a classifier.
  * The reference's hand-rolled analog is its per-source keyword gating
  * (`/root/reference/src/utils/general_utils.py:187-206`); this is the
  * corpus-statistical generalization an LLM-data pipeline runs instead.
  *
  * w(doc) = Σ_tokens [ln p_tgt(tok) − ln p_raw(tok)], both unigram models
  * add-one smoothed over the SHARED raw vocabulary: every scored token is
  * in the raw vocab by construction, so no unseen branch exists — the
  * target model just sees c_t = 0 for out-of-target tokens.
  *
  * Scale shape: ONE corpus token pass builds both models simultaneously
  * (conditional count), so exchanges carry vocab-sized rows (Zipf keeps
  * the vocab millions of rows at 100 TB — broadcastable or one well-keyed
  * shuffle); scoring is the same token→model join as [[UnigramLm.score]].
  * Per-token log-ratios are DECIMAL(28,12)-quantized so document sums are
  * partition-order independent and oracle-exact ([[UnigramLm]]'s
  * determinism trick).
  */
object Dsir {

  private val Dec = "decimal(28,12)"

  /** (token, dw) model-ratio table: dw = nll_raw − nll_tgt =
    * ln p_tgt − ln p_raw, DECIMAL-quantized per term. */
  def logRatioModel(docs: DataFrame, textCol: String,
                    isTarget: Column): DataFrame = {
    val t = docs.select(isTarget.as("is_t"),
      explode(TextOps.tokens(col(textCol))).as("token"))
    // vocab-sized; materialized once — the 1-row stats and the final
    // log-ratio projection would otherwise each re-run the corpus
    // explode+agg (the NaiveBayes.train lesson)
    val m = Checkpoints.materialize(t.groupBy("token").agg(
      count(lit(1)).as("c_r"),
      sum(when(col("is_t"), 1L).otherwise(0L)).as("c_t")))
    val st = m.agg(sum("c_r").as("t_r"), sum("c_t").as("t_t"),
      count(lit(1)).as("v"))
    m.crossJoin(broadcast(st)).select(col("token"),
      ((-log((col("c_r") + lit(1.0)) / (col("t_r") + col("v")))).cast(Dec) -
        (-log((col("c_t") + lit(1.0)) / (col("t_t") + col("v")))).cast(Dec))
        .as("dw"))
  }

  /** Top-k documents by importance log-weight. Returns (idCol, n_tokens,
    * weight rounded 4); selection orders by the EXACT decimal sum (ties
    * broken by id) so the cut is engine-independent. The top-k is a
    * global orderBy+limit — Spark lowers it to TakeOrderedAndProject
    * (per-partition heaps, no full sort). */
  def topImportance(docs: DataFrame, idCol: String, textCol: String,
                    isTarget: Column, k: Int): DataFrame = {
    val model = logRatioModel(docs, textCol, isTarget)
    // shuffle_hash with the model as build side: the planner's size
    // estimate can't see through the explode (a Generate keeps the
    // SCAN's stats), so left to itself it broadcast the corpus-token
    // side — O(total tokens) in every task's memory, measured growing
    // linearly in the ×30 rehearsal (0.84 GiB peak task). The model is
    // vocab-sized (sub-linear by Zipf) but unbounded too at 100 TB, so
    // neither side may broadcast: shuffle both on token, build the
    // smaller model partitions.
    docs.select(col(idCol), explode(TextOps.tokens(col(textCol))).as("token"))
      .join(model.hint("shuffle_hash"), Seq("token"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("dw")).as("wsum"))
      .orderBy(col("wsum").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("n_tokens"),
        round(col("wsum").cast("double"), 4).as("weight"))
  }
}
