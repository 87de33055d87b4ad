package graft.analysis

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.text.TextOps
import graft.ops.Checkpoints

/** Interpolated BIGRAM language-model scoring — the context-aware
  * upgrade of [[UnigramLm]]'s perplexity-proxy quality gate (CCNet/
  * Gopher run a KenLM n-gram; this is the same pipeline shape with a
  * 2-token window and Jelinek-Mercer interpolation):
  *
  *   p(w2 | w1) = λ · c(w1,w2)/c(w1·) + (1−λ) · (c(w2)+1)/(T+V)
  *
  * with λ = 0.7 and the add-one unigram as backoff. A document scores
  * the average NLL of its first token under the unigram and every
  * subsequent token under the interpolated bigram — token-soup spam
  * (plausible unigrams, implausible transitions) now scores high where
  * the unigram model was blind to it.
  *
  * Shapes at 100 TB: bigram extraction is ROW-LOCAL (slice + zip of the
  * token array — no posexplode + window-lead shuffle); the model is
  * bounded by observed distinct bigrams (Zipf-bounded, far below
  * corpus size) and its per-row NLL is computed once, quantized to
  * DECIMAL(28,12); scoring joins pairs → model with `shuffle_hash`
  * hints, model as build side — the q56/q90/q100 lint contract: neither
  * the exploded pair table (O(corpus tokens), hidden behind a Generate)
  * nor the Zipf-unbounded model may broadcast. Per-document sums are
  * decimal — partition-order independent, oracle-exact.
  */
object BigramLm {

  private val Dec = "decimal(28,12)"

  /** (idCol, __toks, __n) tokenized corpus — the shared base every
    * stage below derives from. */
  private def tokenized(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")))

  /** (doc, w1, w2) adjacent-token pairs, row-local (docs with < 2
    * tokens emit nothing). */
  def pairs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    pairsFromToks(tokenized(docs, idCol, textCol), idCol)

  /** [[pairs]] over an already-tokenized (idCol, __toks, __n) frame. */
  private def pairsFromToks(toks: DataFrame, idCol: String): DataFrame =
    toks.filter(col("__n") >= 2)
      .select(col(idCol), explode(arrays_zip(
          slice(col("__toks"), lit(1), col("__n") - 1).as("w1"),
          slice(col("__toks"), lit(2), col("__n") - 1).as("w2")))
        .as("__p"))
      .select(col(idCol), col("__p.w1").as("w1"), col("__p.w2").as("w2"))

  /** Interpolated bigram model: (w1, w2, nll DECIMAL(28,12)). The
    * interpolation arithmetic is pinned-association double math matched
    * token-for-token by the oracle SQL. */
  def train(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    trainFromParts(pairs(docs, idCol, textCol),
      UnigramLm.tokenCounts(docs, textCol))

  /** The model over an exploded pair frame + an already-materialized
    * (token, cnt) count table — the formula lives only here. `counts`
    * must be materialized (both the 1-row stats and the interpolation
    * join read it; [[UnigramLm.tokenCounts]] checkpoints). */
  private[graft] def trainFromParts(bg: DataFrame, counts: DataFrame): DataFrame = {
    // c12 materialized ONCE (the NaiveBayes.train lesson): it feeds the
    // w1 rollup AND the final projection — without the checkpoint each
    // re-runs the corpus bigram explode+agg. Zipf-bounded (bigram
    // types), so the checkpoint is scale-safe.
    val c12 = Checkpoints.materialize(bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12")))
    val c1 = c12.groupBy("w1").agg(sum("c12").as("c1"))
    val uni = counts.select(col("token").as("w2"), col("cnt").as("cu"))
    val stats = uni.agg(sum("cu").as("total"), count(lit(1)).as("vocab"))
    c12
      .join(c1.hint("shuffle_hash"), Seq("w1"))
      .join(uni.hint("shuffle_hash"), Seq("w2"))
      .crossJoin(broadcast(stats))
      .select(col("w1"), col("w2"),
        (-log((lit(0.7) * (col("c12").cast("double") / col("c1"))) +
          (lit(0.3) * ((col("cu") + lit(1.0)) / (col("total") + col("vocab"))))))
          .cast(Dec).as("nll"))
  }

  /** Per-document average NLL: first token under `uniModel` (a
    * [[UnigramLm.train]] (token, nll) table), the rest under `model`.
    * Self-scoring contract (as q56): every pair/token is in its model,
    * so inner joins lose nothing. Returns (idCol, n_tokens, avg_nll
    * rounded 4) for docs with ≥ 1 token. */
  def score(docs: DataFrame, idCol: String, textCol: String,
            model: DataFrame, uniModel: DataFrame): DataFrame =
    scoreFromToks(tokenized(docs, idCol, textCol), idCol, model, uniModel)

  /** [[score]] over an already-tokenized (idCol, __toks, __n) frame. */
  private def scoreFromToks(toks: DataFrame, idCol: String,
                            model: DataFrame, uniModel: DataFrame): DataFrame = {
    val base = toks.filter(col("__n") >= 1)
    val firstNll = base
      .select(col(idCol), col("__n"), element_at(col("__toks"), 1).as("token"))
      .join(uniModel.hint("shuffle_hash"), Seq("token"))
      .select(col(idCol), col("__n"), col("nll").as("__first"))
    val bigramSums = pairsFromToks(toks, idCol)
      .join(model.hint("shuffle_hash"), Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(sum("nll").as("__bsum"))
    firstNll.join(bigramSums, Seq(idCol), "left")
      .select(col(idCol), col("__n").cast("long").as("n_tokens"),
        round((col("__first") + coalesce(col("__bsum"),
            lit(java.math.BigDecimal.ZERO).cast(Dec)))
          .cast("double") / col("__n"), 4).as("avg_nll"))
  }

  /** q152's composed SELF-train/self-score: the corpus is tokenized
    * ONCE (checkpointed (id, tokens) base) where the naive composition
    * tokenized it four times — bigram pairs for train, token counts for
    * the bigram model's backoff, token counts again for the unigram
    * model, and tokens+pairs again for scoring — and the unigram and
    * bigram models share ONE (token, cnt) table (their backoff terms
    * are the same add-one counts). Every derived value is the same
    * deterministic function of the same rows, so results are identical
    * to the train/score composition (oracle-pinned).
    *
    * Scale note: the checkpointed base is corpus-sized (token arrays ≈
    * text bytes) — the same class as Pca's checkpointed centered
    * corpus; it trades one materialization for three corpus re-scans +
    * re-tokenizations (tokens() is the regex-split kernel, the dominant
    * per-pass cost). */
  def selfScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = Checkpoints.materialize(tokenized(docs, idCol, textCol))
    val counts = Checkpoints.materialize(toks.select(explode(col("__toks")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt")))
    val model = trainFromParts(pairsFromToks(toks, idCol), counts)
    val uniModel = UnigramLm.trainFromCounts(counts)
    scoreFromToks(toks, idCol, model, uniModel)
  }
}
