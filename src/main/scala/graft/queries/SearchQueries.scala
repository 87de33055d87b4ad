package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.search.{Bm25, InvertedIndex, PhraseSearch}

/** Full-text search over `documents` — the query half of the reference's
  * Elasticsearch tier (SURVEY.md §1.1 "Search index",
  * `src/utils/elasticsearch_settings.md`): the reference maintains ES
  * data streams solely so ingested documents can be ranked-retrieved
  * later; these queries reproduce that capability in-engine (BM25 is
  * ES/Lucene's default similarity).
  */
object SearchQueries {

  type Q = (SparkSession, String) => DataFrame

  private val terms = Seq("spark", "merge", "window")

  /** BM25 top-20 for a three-term query (k1=1.2, b=0.75, Lucene idf).
    * df/avgdl are corpus aggregates; scoring is a broadcast join; the
    * per-doc score sums its term contributions in FIXED order (see
    * `search/Bm25.scala` scaladoc) so ranking is hash-stable. */
  val q52Bm25: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    Bm25.topK(d, "doc_id", "text", terms, k = 20)
      .orderBy(col("score").desc, col("doc_id"))
  }

  /** Inverted-index postings for the 30 highest-df terms: the ES index
    * structure materialized as a table (term → df, total_tf, first 10
    * doc ids). Truncated posting lists come from `plans/BoundedTopK`
    * (bounded buffers even for corpus-frequency terms — see
    * `search/Search.scala` scaladoc), deterministically sorted. The
    * posting list is serialized to a CSV string so the result is flat
    * scalar columns (the compare harness can't sort/hash array cells). */
  val q53Postings: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    InvertedIndex.postings(d, "doc_id", "text", maxPostings = 10)
      .withColumn("postings", array_join(col("postings"), ","))
      .orderBy(col("df").desc, col("term"))
      .limit(30)
  }

  /** Exact-phrase retrieval ("table hash"): positional postings filtered
    * to the phrase's own terms BEFORE any shuffle, then one (doc, pos)
    * adjacency equi-join per extra term — ES `match_phrase` semantics
    * (see `search/Search.scala` PhraseSearch scaladoc for the 100 TB
    * shape). Output: matching docs with occurrence counts. */
  val q66PhraseSearch: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    PhraseSearch.phraseCount(d, "doc_id", "text", Seq("table", "hash"))
      .orderBy("doc_id")
  }

  /** Hybrid retrieval: reciprocal-rank fusion (k=60, the standard
    * constant) of the BM25 lexical ranking and a dense cosine ranking
    * against one query embedding — the fusion step every hybrid search
    * tier (lexical index + vector index) runs over its two candidate
    * lists. Docs absent from a list contribute nothing to the fused
    * score; ties break on doc_id.
    *
    * Scale shape: BOTH candidate lists are k-bounded before fusion (each
    * a global TakeOrderedAndProject heap; the dense side over a
    * broadcast single-vector score) — the fusion join and the ranking
    * windows run on ≤2k rows regardless of corpus size; the corpus is
    * scanned once per ranker and never joined against itself. */
  val q87HybridRrf: Q = (s, dir) => {
    import graft.similarity.Cosine
    val n = 100 // per-ranker candidate list size
    val d = Tables(s, dir, "documents")
    // Bm25.topK already returns the global top-n (TakeOrdered heap); a
    // plain window over those ≤n survivors assigns the ranks (≤100 rows,
    // single partition)
    val lex = Bm25.topK(d, "doc_id", "text", terms, k = n)
      .withColumn("lex_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("lex_rank"))
    val e = Tables.vectors(s, dir).select(col("vec_id"), col("embedding").as("vec"))
    val qv = e.filter(col("vec_id") === 0).select(col("vec").as("qvec"))
    val sims = e.crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"), Cosine.cosine(col("vec"), col("qvec")).as("sim"))
    // same move: global top-n via TakeOrdered heap, rank the survivors
    val vec = sims.orderBy(col("sim").desc, col("doc_id").asc).limit(n)
      .withColumn("vec_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("sim").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("vec_rank"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        when(col("lex_rank").isNotNull, lit(1.0) / (col("lex_rank") + 60)).otherwise(lit(0.0)) +
        when(col("vec_rank").isNotNull, lit(1.0) / (col("vec_rank") + 60)).otherwise(lit(0.0)), 8))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(20)
      .select(col("doc_id"), col("lex_rank"), col("vec_rank"), col("rrf"))
  }

  val defs: Map[String, Q] = Map(
    "q52_bm25" -> q52Bm25,
    "q53_postings" -> q53Postings,
    "q66_phrase_search" -> q66PhraseSearch,
    "q87_hybrid_rrf" -> q87HybridRrf,
  )

  private val tokCte =
    """tok AS (SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
       FROM documents)"""

  val oracles: Map[String, String] = Map(
    // Same fixed-order term sum; ranking on the ROUNDED score in both
    // engines so the top-20 cut is float-stable.
    "q52_bm25" ->
      s"""WITH $tokCte,
         tf AS (SELECT doc_id, len(toks) AS dl, t.term, count(*) AS tf
                FROM tok, unnest(toks) AS t(term)
                WHERE t.term IN ('spark', 'merge', 'window')
                GROUP BY 1, 2, 3),
         stats AS (SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM tok),
         df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
         w AS (SELECT tf.doc_id, tf.term,
                 ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * (tf.tf * (1.2 + 1))
                   / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / s.avgdl)) AS w
               FROM tf JOIN df USING (term) CROSS JOIN stats s),
         p AS (SELECT doc_id,
                 max(CASE WHEN term = 'spark' THEN w END) AS w1,
                 max(CASE WHEN term = 'merge' THEN w END) AS w2,
                 max(CASE WHEN term = 'window' THEN w END) AS w3
               FROM w GROUP BY 1)
         SELECT doc_id,
           round(coalesce(w1, 0) + coalesce(w2, 0) + coalesce(w3, 0), 4) AS score
         FROM p
         ORDER BY round(coalesce(w1, 0) + coalesce(w2, 0) + coalesce(w3, 0), 4) DESC,
           doc_id
         LIMIT 20""",
    "q53_postings" ->
      s"""WITH $tokCte,
         tf AS (SELECT doc_id, t.term, count(*) AS tf
                FROM tok, unnest(toks) AS t(term) GROUP BY 1, 2),
         p AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf,
                 array_to_string((list(doc_id ORDER BY doc_id))[1:10], ',') AS postings
               FROM tf GROUP BY 1)
         SELECT term, df, total_tf, postings FROM p
         ORDER BY df DESC, term LIMIT 30""",
    // identical tokenizer ([a-z0-9]+ runs of the lower-cased text),
    // 0-based positions zipped via parallel unnest, adjacency join
    "q66_phrase_search" ->
      """WITH tok AS (SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS t
           FROM documents),
         p AS (SELECT doc_id, unnest(t) AS term, unnest(range(0, len(t))) AS pos
               FROM tok),
         a AS (SELECT doc_id, pos FROM p WHERE term = 'table'),
         b AS (SELECT doc_id, pos - 1 AS pos FROM p WHERE term = 'hash')
         SELECT doc_id, count(*) AS n_hits
         FROM a JOIN b USING (doc_id, pos)
         GROUP BY 1 ORDER BY 1""",
    // same BM25 pipeline as q52 (ranked on the ROUNDED score), same
    // double-cosine convention as q21; RRF = 1/(60+rank) per list
    "q87_hybrid_rrf" ->
      s"""WITH $tokCte,
         tf AS (SELECT doc_id, len(toks) AS dl, t.term, count(*) AS tf
                FROM tok, unnest(toks) AS t(term)
                WHERE t.term IN ('spark', 'merge', 'window')
                GROUP BY 1, 2, 3),
         stats AS (SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM tok),
         df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
         w AS (SELECT tf.doc_id, tf.term,
                 ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * (tf.tf * (1.2 + 1))
                   / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / s.avgdl)) AS w
               FROM tf JOIN df USING (term) CROSS JOIN stats s),
         p AS (SELECT doc_id,
                 round(coalesce(max(CASE WHEN term = 'spark' THEN w END), 0)
                   + coalesce(max(CASE WHEN term = 'merge' THEN w END), 0)
                   + coalesce(max(CASE WHEN term = 'window' THEN w END), 0), 4) AS score
               FROM w GROUP BY 1),
         lex AS (SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS lex_rank
                 FROM p QUALIFY lex_rank <= 100),
         qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec
                FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND vec_id = 0),
         sims AS (SELECT e.vec_id AS doc_id,
             list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qvec)
               / (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_inner_product(q.qvec, q.qvec))) AS sim
           FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0) e, qv q),
         vec AS (SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY sim DESC, doc_id) AS INT) AS vec_rank
                 FROM sims QUALIFY vec_rank <= 100)
         SELECT doc_id, lex_rank, vec_rank,
           round(coalesce(1.0 / (60 + lex_rank), 0)
             + coalesce(1.0 / (60 + vec_rank), 0), 8) AS rrf
         FROM lex FULL OUTER JOIN vec USING (doc_id)
         ORDER BY rrf DESC, doc_id LIMIT 20""",
  )
}
