package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextOps
import graft.ops.Checkpoints

/** Full-text search operators — the in-engine equivalent of the
  * reference's Elasticsearch tier (SURVEY.md §1.1 "Search index",
  * `src/utils/elasticsearch_settings.md`): the reference indexes every
  * document into ES data streams precisely so it can be searched later;
  * this module reproduces the *query* half of that capability as
  * declarative Spark plans over the document table itself.
  *
  * Scale design:
  *  - Term statistics (df, avgdl) are tiny aggregates: df is computed
  *    ONLY for the query's terms (filter *before* the groupBy — at
  *    100 TB you never materialize the full vocabulary to answer one
  *    query), and both reduce map-side before one small shuffle.
  *  - Scoring is a broadcast join of the (terms × stats) dim onto the
  *    per-doc term frequencies — no shuffle of the corpus beyond the
  *    one tf aggregation, which AQE can coalesce.
  *  - The final sum over query terms is a FIXED-ORDER conditional
  *    aggregation (one column per term, added left-to-right), not a
  *    groupBy-sum whose float association depends on partitioning —
  *    this keeps scores bit-deterministic across cluster layouts (and
  *    hash-comparable against a DuckDB oracle).
  *
  * KNOWN SEMANTIC SPLIT with [[PhraseSearch]]: BM25 tokenizes on raw
  * case-sensitive whitespace tokens (punctuation attached — the same
  * token stream the corpus-stats operators use), while the phrase
  * operator uses lower-cased `[a-z0-9]+` runs (the standard-analyzer
  * shape its positional oracle mirrors). Each operator is certified
  * against its own oracle; callers fusing the two (q87's RRF) should
  * pre-normalize query terms to the stream they target. Unifying the
  * analyzers would change both operators' certified outputs and is a
  * deliberate non-goal for now.
  */
object Bm25 {

  /** Per-(doc, term) term frequencies plus document length, for the given
    * id column over a tokenized text column. One explode + one
    * partial-aggregated groupBy. */
  def termFreqs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol), TextOps.tokens(col(textCol)).as("toks"))
      .select(col(idCol), size(col("toks")).as("dl"), explode(col("toks")).as("term"))
    toks.groupBy(col(idCol), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
  }

  /** BM25 top-k for a bag of query terms (Lucene-style idf:
    * ln(1 + (N - df + 0.5)/(df + 0.5))). Returns (id, score) with score
    * rounded to `roundTo` decimals BEFORE ranking so the cut is stable
    * across engines. k1/b are the classic defaults.
    */
  def topK(docs: DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String], k: Int,
           k1: Double = 1.2, b: Double = 0.75, roundTo: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    // Dedupe + non-empty guard: duplicate query terms would alias two
    // identical per-term columns (ambiguous reference), an empty list
    // would crash on termAggs.head, and scoring a term twice is not BM25
    // (query-term frequency weighting is a different feature).
    val terms = queryTerms.distinct
    require(terms.nonEmpty, "Bm25.topK needs at least one query term")
    // Query-term-bounded (docs containing a query term × |terms|), and
    // consumed TWICE (df aggregation + scoring join): materialize once.
    // The isin filter cannot push below the Generate (term is the
    // generated column), so without this each consumer re-ran the full
    // corpus explode + tf aggregation (the NaiveBayes.train lesson).
    val tf = Checkpoints.materialize(
      termFreqs(docs, idCol, textCol).filter(col("term").isin(terms: _*)))

    // Corpus stats: N and avgdl in one pass over doc lengths (map-side
    // combine; the result is a single row, crossJoin'd as a literal-like
    // broadcast — at any scale this exchange carries one row).
    val stats = docs.select(TextOps.wordCount(col(textCol)).as("dl"))
      .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))

    // df per query term only (the filter above already pruned the explode
    // output to |queryTerms| distinct keys — the shuffle is tiny).
    val df = tf.groupBy("term").agg(countDistinct(col(idCol)).as("df"))

    val scored = tf
      .join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("w", col("idf") * (col("tf") * (lit(k1) + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))

    // Fixed-order sum: one conditional-max column per query term, added
    // left-to-right — float-association-stable regardless of row order.
    // Aliases are POSITIONAL (w_0, w_1, …), never term-derived: a term
    // containing '.' (which the whitespace tokenizer legitimately emits,
    // e.g. "hash.") would make col("w_hash.") parse as a field access and
    // fail resolution.
    val termAggs = terms.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === t, col("w"))).as(s"w_$i") }
    val perTerm = scored.groupBy(col(idCol)).agg(termAggs.head, termAggs.tail: _*)
    val summed = perTerm.withColumn("score",
      round(terms.indices.map(i => coalesce(col(s"w_$i"), lit(0.0))).reduceLeft(_ + _), roundTo))

    // GLOBAL top-k: orderBy+limit lowers to TakeOrderedAndProject — a
    // per-partition bounded heap + driver merge, no exchange at all,
    // strictly less work than the salted two-window form it replaces
    // (same total order, so the same rows survive)
    summed.select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol).asc).limit(k)
  }
}

/** Positional phrase search — the ES `match_phrase` query half (the
  * reference's search tier supports phrase queries over the indexed
  * articles; `src/utils/elasticsearch_settings.md` text fields are
  * position-indexed by default).
  *
  * Scale shape: the positional postings are filtered to the PHRASE'S OWN
  * TERMS before anything shuffles — at 100 TB a 2-word phrase query
  * shuffles two terms' postings, never the corpus token stream. Each
  * adjacency step is then an equi-join on (doc, pos), i.e. a hash join on
  * a high-cardinality composite key; n-term phrases fold n−1 such joins,
  * and every intermediate is no larger than the rarest term's postings.
  */
object PhraseSearch {

  /** Positional postings restricted to `terms`: (idCol, term, pos),
    * 0-based token positions. Tokens are lower-cased `[a-z0-9]+` runs (the
    * standard-analyzer shape, exactly reproducible in an oracle). */
  def positionalPostings(docs: DataFrame, idCol: String, textCol: String,
                         terms: Seq[String]): DataFrame =
    docs
      .select(col(idCol), posexplode(
        regexp_extract_all(lower(col(textCol)), lit("[a-z0-9]+"), lit(0)))
        .as(Seq("pos", "term")))
      .filter(col("term").isin(terms.distinct: _*))

  /** Per-document occurrence counts of an exact token phrase (terms at
    * strictly consecutive positions). Only matching docs appear. */
  def phraseCount(docs: DataFrame, idCol: String, textCol: String,
                  phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    // Phrase-term-bounded postings consumed once per phrase term (the
    // base + every adjacency join): materialize once instead of
    // re-running the corpus posexplode+filter scan n times.
    val postings = Checkpoints.materialize(positionalPostings(docs, idCol, textCol, phrase))
    val base = postings.filter(col("term") === phrase.head)
      .select(col(idCol), col("pos"))
    val matched = phrase.zipWithIndex.tail.foldLeft(base) { case (acc, (t, i)) =>
      // term i must sit at (phrase start + i): shift its positions back by
      // i and equi-join on the start position
      acc.join(
        postings.filter(col("term") === t)
          .select(col(idCol), (col("pos") - i).as("pos")),
        Seq(idCol, "pos"))
    }
    matched.groupBy(col(idCol)).agg(count(lit(1)).as("n_hits"))
  }
}

/** Inverted-index materialization: the ES index structure itself (term →
  * posting list), built as a table a downstream search tier reads.
  *
  * The tempting one-liner — `slice(sort_array(collect_set(id)), 1, k)` —
  * is a scale bug: a hot term ("the") appears in nearly every document,
  * so its group COLLECTS THE WHOLE CORPUS' doc ids into one aggregation
  * buffer before the slice throws them away. Instead the truncated
  * posting list is built with `plans/BoundedTopK` (k-capped map-side
  * heaps under a resident-row budget, then a streaming merge over the
  * term-sorted exchange), and df/total_tf come from a plain
  * codegen'd aggregation with constant-size buffers. Two aggregations
  * over the token stream instead of one, but every buffer is O(k). */
object InvertedIndex {

  /** Posting rows: (term, df, total_tf, postings = first `maxPostings`
    * doc ids ascending). Deterministic: the k smallest doc ids per term,
    * sorted — never collect_list ordering. */
  def postings(docs: DataFrame, idCol: String, textCol: String,
               maxPostings: Int): DataFrame = {
    val tf = Bm25.termFreqs(docs, idCol, textCol)
    val stats = tf.groupBy("term")
      .agg(countDistinct(col(idCol)).as("df"), sum(col("tf")).as("total_tf"))
    val topDocs = graft.plans.BoundedTopK.perGroup(
        tf.select(col("term"), col(idCol)),
        groupCols = Seq("term"), order = Seq(col(idCol).asc), k = maxPostings)
      .groupBy("term")
      .agg(sort_array(collect_list(col(idCol))).as("postings"))
    stats.join(topDocs, Seq("term"))
  }
}
