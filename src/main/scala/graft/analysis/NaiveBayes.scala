package graft.analysis

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.text.TextOps
import graft.ops.Checkpoints

/** Multinomial Naive Bayes text classifier, trained ON the corpus — the
  * fasttext-style supervised classifier every LLM data pipeline runs for
  * quality / domain routing (CCNet's quality buckets, refinedweb's
  * source filters; the reference pipeline routes articles per source,
  * `/root/reference/src/base.py:118-166`, which is the inference half of
  * exactly this shape).
  *
  * Model: add-one-smoothed multinomial NB.
  *   p(t|l) = (cnt(l,t) + 1) / (total_l + V),  prior(l) = n_docs_l / N.
  * Everything is expressed in negative-log space as DECIMAL(28,12) — the
  * same determinism trick as [[UnigramLm]]: decimal sums are exact and
  * associative, so scores are bit-identical under any partitioning (and
  * against a DuckDB oracle).
  *
  * Scale shape — the two sparsity tricks that make NB work at 100 TB:
  *  - The model is OBSERVED (label, token) pairs only (|V| × density,
  *    not |V| × |L|): one corpus pass, vocabulary-sized aggregations.
  *  - Classification never builds doc × label × vocab. Using
  *      Σ_t nll(l,t) = n_tokens·unseen_l + Σ_{t observed in l} (nll(l,t) − unseen_l)
  *    the per-(doc,label) sum needs only an equi-join of doc tokens
  *    against the sparse delta table; the dense term is a broadcast of
  *    |L| label stats onto doc-level rows. Exchanges carry
  *    (token-occurrence × label-density) and (docs × |L|) rows — never
  *    the cross product.
  */
object NaiveBayes {

  private val Dec = "decimal(28,12)"

  /** Train on `docs`: returns (model, labelStats).
    *  - model: (label, token, delta DECIMAL) with
    *    delta = nll(l,t) − unseen_l — observed pairs only.
    *  - labelStats: (label, n_docs_l, total_l, prior_nll DECIMAL,
    *    unseen_nll DECIMAL) — |L| rows, broadcastable. */
  def train(docs: DataFrame, labelCol: String, textCol: String): (DataFrame, DataFrame) =
    trainTokenized(docs.select(col(labelCol).as("label"),
      TextOps.tokens(col(textCol)).as("__toks")))

  /** [[train]] over a PRE-tokenized base (`label`, `__toks` array) — the
    * q152/BigramLm.selfScore shape: a composition that both trains and
    * classifies (q90) tokenizes + md5-buckets the corpus ONCE into a
    * checkpointed base and feeds the split halves here, instead of each
    * of train's two passes and classify's two passes re-running the
    * scan + bucket filter + tokenizer. Same rows, same arithmetic —
    * results are identical to train() by construction. */
  def trainTokenized(base: DataFrame): (DataFrame, DataFrame) = {
    val docs = base // doc grain: one row per document
    val toks = docs.select(col("label"), explode(col("__toks")).as("token"))
    // The ONE corpus-sized pass, materialized ONCE: every downstream
    // table (label totals, vocab, the model's smoothed deltas) re-derives
    // from `pair`, and without the checkpoint each consumer re-runs the
    // corpus explode+aggregation — q90's composed train+classify plan
    // measured 56 Exchanges / 20 joins from exactly this duplication.
    // `pair` is (label, token, cnt): vocabulary × label-density rows, the
    // size the scaladoc's sparsity argument already bounds, so the
    // checkpoint is safe at any corpus scale.
    val pair = Checkpoints.materialize(toks.groupBy("label", "token").agg(count(lit(1)).as("cnt")))
    // label totals + global vocab + global doc counts: all label-cardinality
    val labelTok = pair.groupBy("label").agg(sum("cnt").as("total_l"))
    val vocab = pair.select("token").distinct().agg(count(lit(1)).as("vocab"))
    val nDocs = docs.groupBy(col("label")).agg(count(lit(1)).as("n_docs_l"))
    // N = Σ per-label doc counts (labels are values of a non-null column
    // here; grouping loses no row) — derived from nDocs instead of a
    // second full scan of `docs`.
    val nAll = nDocs.agg(sum(col("n_docs_l")).as("n_docs"))

    // |L| rows; materialized so the model below and the returned stats
    // don't each re-run the labelTok/vocab/nDocs lineage.
    val stats = Checkpoints.materialize(labelTok
      .join(nDocs, Seq("label"))
      .crossJoin(broadcast(vocab))
      .crossJoin(broadcast(nAll))
      .select(col("label"),
        // decimal(16,12): unseen_nll * n_tokens must stay inside the
        // 38-digit decimal cap to be exact (16+20+1 = 37 with a long)
        (-log(col("n_docs_l") / col("n_docs"))).cast("decimal(16,12)").as("prior_nll"),
        (-log(lit(1.0) / (col("total_l") + col("vocab")))).cast("decimal(16,12)").as("unseen_nll"),
        col("n_docs_l"), col("total_l"), col("vocab")))

    val model = pair.join(broadcast(stats), Seq("label"))
      .select(col("label"), col("token"),
        ((-log((col("cnt") + lit(1.0)) / (col("total_l") + col("vocab")))).cast(Dec)
          - (-log(lit(1.0) / (col("total_l") + col("vocab")))).cast(Dec)).as("delta"))

    (model, stats.select("label", "n_docs_l", "total_l", "prior_nll", "unseen_nll"))
  }

  /** Classify each doc: argmin over labels of
    * prior_l + n_tokens·unseen_l + Σ delta. Returns
    * (idCol, pred_label, score) with score = total NLL rounded to 4.
    * Docs with zero tokens are absent (nothing to classify on). */
  def classify(docs: DataFrame, idCol: String, textCol: String,
               model: DataFrame, labelStats: DataFrame): DataFrame =
    classifyTokenized(docs.select(col(idCol),
      TextOps.tokens(col(textCol)).as("__toks")), idCol, model, labelStats)

  /** [[classify]] over a PRE-tokenized base (`idCol`, `__toks` array) —
    * see [[trainTokenized]]. */
  def classifyTokenized(base: DataFrame, idCol: String,
                        model: DataFrame, labelStats: DataFrame): DataFrame = {
    val docs = base
    // (doc, token, tf) instead of one row per token OCCURRENCE: the join
    // against the model multiplies every surviving row by the token's
    // label density, so collapsing repeats BEFORE the join shrinks both
    // the join output and the (doc, label) aggregation input by the
    // corpus's token-repetition factor (§2.3 aggregate-before-shuffle;
    // map-side partial count does most of the collapsing pre-exchange).
    // Σ_occurrences delta = delta·tf EXACTLY: tf ≤ the doc's array
    // length (a 10^9-token doc is a >4 GiB row, impossible upstream), so
    // tf fits decimal(9,0) and (28,12)×(9,0) is decimal(38,12) — no
    // precision adjustment, no rounding — then the re-cap to (28,12) is
    // value-exact (|delta·tf| < 10^8). Scores are bit-identical to the
    // per-occurrence sum.
    val toks = docs.select(col(idCol), explode(col("__toks")).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).cast("decimal(9,0)").as("tf"))
    // sparse term: only (doc, label) groups where the label has seen the
    // token. shuffle_hash, model as build — neither the token table nor
    // the |L|×vocab model may broadcast (see Dsir)
    val sparse = toks.join(model.hint("shuffle_hash"), Seq("token"))
      .groupBy(col(idCol), col("label"))
      .agg(sum((col("delta") * col("tf")).cast(Dec)).as("sum_delta"))
    // dense term: every doc × |L| labels via broadcast. n_tokens is the
    // scan-side array length — NOT a second explode+groupBy over the
    // token rows (that shape paid a corpus-sized exchange keyed by doc
    // for a count the array already knows). The `> 0` filter preserves
    // the zero-token-docs-are-absent contract the exploded groupBy gave
    // for free (explode of an empty array emits no rows).
    val docLen = docs
      .select(col(idCol), size(col("__toks")).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    // every decimal operand re-capped at (28,12) before the adds: keeps
    // Spark's and DuckDB's width-overflow rules out of play (a 39-wide
    // intermediate makes each engine reduce scale its own way)
    val scored = docLen.crossJoin(broadcast(labelStats))
      .join(sparse, Seq(idCol, "label"), "left")
      .select(col(idCol), col("label"),
        (col("prior_nll") + (col("unseen_nll") * col("n_tokens")).cast(Dec)
          + coalesce(col("sum_delta").cast(Dec), lit(java.math.BigDecimal.ZERO).cast(Dec)))
          .as("score"))
    // argmin: min(struct(score, label)) — decimal compare, ties break on label
    scored.groupBy(col(idCol))
      .agg(min(struct(col("score"), col("label"))).as("m"))
      .select(col(idCol), col("m.label").as("pred_label"),
        round(col("m.score").cast("double"), 4).as("score"))
  }
}
