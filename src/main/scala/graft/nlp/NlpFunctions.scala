package graft.nlp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextOps
import graft.ops.Checkpoints

/** The NLP/enrichment function surface (SURVEY.md §2.9 N1–N10). In the
  * reference every one of these is a remote NLU API call
  * (`/root/reference/src/utils/tencent_api.py:27-136`,
  * `src/utils/baidu_api.py:108-169`); the engine reproduces the
  * *signatures* with local public-knowledge algorithms so they run
  * scan-side at 100 TB — no network, no rate limits, codegen-friendly
  * built-ins throughout (the TF-IDF DF-count is the one true aggregate).
  */
object NlpFunctions {

  // ---- N1/N2: lexicon sentiment -------------------------------------------
  /** Signed sentiment score in [-1, 1]: (pos − neg) / max(pos + neg, 1)
    * over lexicon hits; N2's labeled struct adds probabilities. */
  def sentimentScore(toks: Column, posWords: Seq[String], negWords: Seq[String]): Column = {
    val p = size(filter(toks, t => t.isin(posWords: _*))).cast("double")
    val n = size(filter(toks, t => t.isin(negWords: _*))).cast("double")
    (p - n) / greatest(p + n, lit(1.0))
  }

  /** N2 shape: struct(label, confidence, pos_prob, neg_prob) with labels
    * 2=positive / 1=neutral / 0=negative at a ±0.2 threshold. */
  def sentimentLabeled(toks: Column, posWords: Seq[String], negWords: Seq[String]): Column = {
    val s = sentimentScore(toks, posWords, negWords)
    struct(
      when(s > 0.2, 2).when(s < -0.2, 0).otherwise(1).as("label"),
      round(abs(s), 6).as("confidence"),
      round((s + 1.0) / 2.0, 6).as("pos_prob"),
      round((lit(1.0) - s) / 2.0, 6).as("neg_prob"))
  }

  // ---- N3: corpus TF-IDF keywords -----------------------------------------
  /** Document-frequency table: (term, df) over a tokenized corpus — the
    * aggregate half of TF-IDF (`groupBy(term).agg(countDistinct(doc))`).
    * One shuffle on term (uniform); broadcastable when the vocabulary is
    * bounded, as text vocabularies are. */
  def documentFrequencies(docs: DataFrame, idCol: String, toksCol: Column): DataFrame =
    docs.select(col(idCol), explode(array_distinct(toksCol)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))

  /** Top-k TF-IDF keywords per doc: returns (idCol, term, score, rank).
    * score = tf · ln(N / df); deterministic tie-break on term. */
  def tfidfKeywords(docs: DataFrame, idCol: String, toksCol: Column,
                    k: Int, corpusSize: Long): DataFrame = {
    // (doc, term, tf) materialized ONCE: tf is one row per (doc, term),
    // so df(term) = its per-term row count — the same countDistinct-doc
    // value [[documentFrequencies]] computes — and deriving df from the
    // checkpointed tf removes the second corpus tokenize+explode the
    // old composition paid (r16; value-identical, NlpFunctionsSpec).
    val tf = Checkpoints.materialize(docs.select(col(idCol), explode(toksCol).as("term"))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf")))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // shuffle_hash, NOT broadcast: the DF table is vocabulary-sized —
    // Zipf-unbounded at 100 TB — the exact shape Dsir.topImportance
    // measured failing in the ×30 rehearsal (0.84 GiB peak task,
    // growing linearly) and fixed the same way.
    val scored = tf.join(df.hint("shuffle_hash"), "term")
      .withColumn("score", col("tf") * log(lit(corpusSize.toDouble) / col("df")))
    graft.plans.BoundedTopK.perGroup(scored.select(col(idCol), col("term"), col("score")),
        Seq(idCol), Seq(col("score").desc, col("term").asc), k)
      .select(col(idCol), col("term"), col("score"), col("rank"))
  }

  // ---- N4: topic classification -------------------------------------------
  /** Keyword-profile topic scoring: argmax lexicon-hit count with fixed
    * tie order (profiles order), "other" when nothing hits. */
  def topic(toks: Column, profiles: Seq[(String, Seq[String])]): Column =
    graft.text.LangId.argmaxCascade(profiles.map { case (t, ws) =>
      t -> size(filter(toks, x => x.isin(ws: _*)))
    }, "other")

  // ---- N5: extractive summary ---------------------------------------------
  /** Leading-window extractive summary: first `maxWords` tokens. The
    * reference's API truncates to a length budget (`maxSummaryLen`); for
    * corpora with sentence structure swap the selector, the signature
    * stays `text → text`. */
  def summary(toks: Column, maxWords: Int): Column =
    array_join(slice(toks, 1, maxWords), " ")

  // ---- N6: word similarity -------------------------------------------------
  /** Edit-distance word similarity in [0,1]: 1 − lev/maxLen. */
  def wordSimilarity(a: Column, b: Column): Column =
    lit(1.0) - levenshtein(a, b).cast("double") /
      greatest(greatest(length(a), length(b)).cast("double"), lit(1.0))

  // ---- N7/N9: feature-hash embedding --------------------------------------
  /** Bulk form of [[hashEmbedding]]: (idCol, embedding array<double>).
    * Transposed to explode + `dim` codegen'd conditional sums — the
    * per-row `aggregate` fold rebuilds a dim-length array per token
    * (O(tokens × dim) interpreted lambda evaluations); here every
    * expression stays inside whole-stage codegen and map-side partial
    * aggregation collapses each doc before the shuffle. Components are
    * ±1 integer sums (exact, order-independent) — identical values.
    * `explode_outer` keeps token-less docs (zero embedding, like the
    * fold's seed). */
  def hashEmbeddingDF(docs: DataFrame, idCol: String, toksCol: Column,
                      dim: Int): DataFrame = {
    val contribs = docs.select(col(idCol), explode_outer(toksCol).as("__t"))
      .select(col(idCol), TextOps.md5Int32(col("__t")).as("__h"))
      .select(col(idCol),
        pmod(col("__h"), lit(dim)).cast("int").as("__i"),
        (shiftright(col("__h"), 8).bitwiseAND(lit(1L)) * 2 - 1).cast("double").as("__s"))
    val aggs = (0 until dim).map(k =>
      sum(when(col("__i") === k, col("__s")).otherwise(lit(0.0))).as(s"__c$k"))
    contribs.groupBy(idCol).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol),
        array((0 until dim).map(k => col(s"__c$k")): _*).as("embedding"))
  }

  /** Deterministic hashing-trick embedding: token t adds sign(t) to
    * component md5Int32(t) mod dim; cross-engine reproducible (md5-based),
    * cosine-comparable with graft.similarity.Cosine. Per-row column form
    * (interpreted HOF fold) — prefer [[hashEmbeddingDF]] for bulk use. */
  def hashEmbedding(toks: Column, dim: Int): Column = {
    val contribs = transform(toks, t => {
      val h = TextOps.md5Int32(t)
      struct(pmod(h, lit(dim)).cast("int").as("i"),
        (shiftright(h, 8).bitwiseAND(lit(1L)) * 2 - 1).cast("double").as("s"))
    })
    aggregate(contribs, array_repeat(lit(0.0), dim),
      (acc, c) => transform(acc, (v, i) => when(i === c.getField("i"), v + c.getField("s")).otherwise(v)))
  }

  // ---- N8: 1-vs-N text similarity -----------------------------------------
  /** Token-set Jaccard of a source text against each target in an array
    * column — the reference's `TextSimilarity(src, [targets])` shape. */
  def textSimilarities(srcToks: Column, targetsToks: Column): Column =
    transform(targetsToks, t =>
      size(array_intersect(srcToks, t)).cast("double") /
        greatest(size(array_union(srcToks, t)).cast("double"), lit(1.0)))
}
