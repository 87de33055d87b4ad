package graft.analysis

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.text.TextOps
import graft.ops.Checkpoints

/** Corpus-trained unigram language-model scoring — the classic
  * perplexity-proxy quality filter (CCNet/Gopher use a KenLM 5-gram; the
  * unigram form is the same pipeline shape minus the context window):
  * train token statistics ON the corpus itself, then score each document
  * by its average negative log-likelihood. Outlier documents (token-soup
  * spam scores high, degenerate repetition scores low) are then gated by
  * NLL thresholds.
  *
  * Model: add-one-smoothed unigram, p(w) = (count(w) + 1) / (T + V)
  * where T = total tokens, V = vocabulary size. Scoring joins each
  * document token against the model — the model is a groupBy the size
  * of the VOCABULARY (tiny vs the corpus; Zipf keeps it millions of rows
  * at 100 TB, broadcastable or at worst one well-keyed shuffle).
  *
  * Determinism at scale: a document's NLL is a SUM OF DOUBLES whose
  * order would depend on partitioning. We sum token NLLs as
  * DECIMAL(28,12) — exact integer arithmetic, associative, so the
  * result is bit-identical across any cluster layout (and against a
  * DuckDB oracle); the single final division happens in double.
  */
object UnigramLm {

  /** (token, nll DECIMAL(28,12)) model table: nll = -ln p(token). */
  def train(docs: DataFrame, textCol: String): DataFrame =
    trainFromCounts(tokenCounts(docs, textCol))

  /** Vocab-sized (token, cnt) counts, materialized ONCE: both model
    * consumers (the 1-row stats and the per-token nll projection) would
    * otherwise each re-run the corpus explode+aggregation (the
    * NaiveBayes.train lesson). Exposed so a composition that needs BOTH
    * the unigram and bigram models (q152) can feed one count table to
    * both instead of tokenizing the corpus twice. */
  private[graft] def tokenCounts(docs: DataFrame, textCol: String): DataFrame =
    Checkpoints.materialize(docs.select(explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt")))

  /** The model projection over an already-materialized (token, cnt)
    * table — the formula lives only here. */
  private[graft] def trainFromCounts(counts: DataFrame): DataFrame = {
    // One-row stats: total tokens + vocab size, broadcast back onto the
    // vocab-sized model — exchanges carry |V| + 1 rows, never the corpus.
    val stats = counts.agg(sum("cnt").as("total"), count(lit(1)).as("vocab"))
    counts.crossJoin(broadcast(stats))
      .select(col("token"),
        (-log((col("cnt") + lit(1.0)) / (col("total") + col("vocab"))))
          .cast("decimal(28,12)").as("nll"))
  }

  /** Per-document average NLL under `model` (from `train`, or any
    * (token, nll) table — e.g. a model trained on a reference corpus to
    * score a new crawl). Unknown tokens get the smoothed unseen mass
    * -ln(1 / (T + V)) via `unseenNll`. Returns (idCol, n_tokens,
    * avg_nll rounded to 4). */
  def score(docs: DataFrame, idCol: String, textCol: String,
            model: DataFrame, unseenNll: java.math.BigDecimal): DataFrame =
    // shuffle_hash, model as build side — neither the exploded token
    // table (O(corpus tokens); the planner can't see through Generate
    // and would broadcast it on misleading scan stats) nor the
    // vocab-sized model (unbounded by Zipf at 100 TB) may broadcast;
    // see Dsir.topImportance for the measured failure
    docs.select(col(idCol), explode(TextOps.tokens(col(textCol))).as("token"))
      .join(model.hint("shuffle_hash"), Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("nll"), lit(unseenNll).cast("decimal(28,12)"))).as("sum_nll"))
      .select(col(idCol), col("n_tokens"),
        round(col("sum_nll").cast("double") / col("n_tokens"), 4).as("avg_nll"))
}
