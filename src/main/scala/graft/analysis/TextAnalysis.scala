package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextOps
import graft.ops.Checkpoints

/** Corpus text-analysis operators for an LLM training-data pipeline:
  * token statistics, quality scoring, and document fingerprinting. All
  * built-in-function composition (codegen'd, per-row, no shuffle), designed
  * to run inside the scan stage at 100 TB.
  *
  * The reference's analogs are its per-row text gates
  * (`/root/reference/src/utils/general_utils.py:187-206`) and the external
  * NLU calls (SURVEY.md N1–N10) whose signatures we reproduce locally.
  */
object TextAnalysis {

  /** Whitespace/punct/alpha composition counts used by quality scoring. */
  def charLen(text: Column): Column = length(text)
  def alphaCount(text: Column): Column =
    length(regexp_replace(text, "[^a-zA-Z]", ""))
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[!-/:-@\\[-`{-~]", ""))

  /** Sum of token lengths (for mean-token-length stats). */
  def tokenCharSum(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, t) => acc + length(t))

  /** BPE-ish subword segmentation: the GPT-2-style pre-tokenizer regex
    * (contraction suffixes | space?-letters | space?-digits |
    * space?-punct runs | whitespace runs) — the standard proxy for "how
    * many tokens will the tokenizer emit" without a merges table. RE2-
    * compatible (no lookarounds), so a DuckDB oracle matches exactly. */
  val BpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpePattern), lit(0))

  def bpeTokenCount(text: Column): Column = size(bpeTokens(text))

  /** Heuristic quality score in [0,1]: long-enough, mostly-alpha, low-punct
    * text scores high. Deterministic arithmetic, oracle-reproducible. */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val toks = TextOps.tokens(text)
    val n = size(toks).cast("double")
    val lenScore = least(n / lit(100.0), lit(1.0))
    val alphaRatio = alphaCount(text).cast("double") /
      greatest(charLen(text).cast("double"), lit(1.0))
    val punctRatio = punctCount(text).cast("double") /
      greatest(charLen(text).cast("double"), lit(1.0))
    val stopRatio = size(filter(toks, t => t.isin(stopwords: _*))).cast("double") /
      greatest(n, lit(1.0))
    round(lit(0.25) * lenScore + lit(0.35) * alphaRatio +
      lit(0.25) * (lit(1.0) - least(punctRatio * 5, lit(1.0))) +
      lit(0.15) * least(stopRatio * 5, lit(1.0)), 6)
  }

  /** Polynomial rolling-hash fingerprint over the token stream:
    * fp = fold(tokens, 0, (acc, t) -> (acc*31 + md5Int32(t)) mod 2^31-1).
    * Order-sensitive (unlike a bag-of-words hash) so token reordering
    * changes the fingerprint; cross-engine stable via md5Int32.
    * Evaluated by the codegen'd `PolyFingerprint` kernel — one byte scan
    * per doc instead of an interpreted transform+aggregate HOF chain
    * (value-identical; equality-tested against [[fingerprintHof]]). */
  def fingerprint(text: Column): Column =
    graft.expressions.PolyFingerprint.poly_fingerprint(text)

  /** The declarative HOF form of [[fingerprint]] — kept as the
    * executable specification the kernel is equality-tested against. */
  def fingerprintHof(text: Column): Column = {
    val hashes = transform(TextOps.tokens(text), t => TextOps.md5Int32(t))
    aggregate(hashes, lit(0L), (acc, h) => pmod(acc * 31 + h, lit(2147483647L)))
  }

  /** Distinct n-gram keys of a token-HASH array — the declarative
    * SPECIFICATION of the codegen'd `WordGramKeys` kernel (which is what
    * `ngramNovelty` executes; equality-tested in AnalysisSpec). Each
    * gram is the
    * polynomial combine h[i]·31⁴ + h[i+1]·31³ + … + h[i+n-1] (for n=5) —
    * integer-only, so no gram string is ever built and no per-gram md5
    * runs (the per-token md5 is the only hashing; measured 4.5 s → ~1 s
    * on q69 at sf0.1 vs the md5-per-gram-string form). Keys stay < 2⁵²,
    * exactly reproducible in an oracle. Docs shorter than n collapse to
    * one whole-doc fold (matching DuckDB's list_reduce). `hs` must be an
    * attribute (not a computed expression) — the zip_with chain
    * re-references it. */
  def gramKeys(hs: Column, n: Int): Column = {
    val weights = (0 until n).map(j => math.pow(31, n - 1 - j).toLong)
    val shifted = (0 until n).map(j =>
      slice(hs, lit(j + 1), greatest(size(hs) - j, lit(0))))
    val weighted0 = transform(shifted(0), h => h * weights(0))
    val summed = (1 until n).foldLeft(weighted0) { (acc, j) =>
      zip_with(acc, shifted(j), (a, b) => a + b * weights(j))
    }
    when(size(hs) >= n,
      array_distinct(slice(summed, lit(1), size(hs) - n + 1)))
      .otherwise(array(aggregate(hs, lit(0L), (acc, h) => acc * 31 + h)))
  }

  /** Per-document token Shannon entropy (nats) — the gibberish/degeneracy
    * detector next to [[qualityScore]]: token-soup spam maximizes entropy,
    * degenerate repetition collapses it toward 0. H = ln n − (Σ c·ln c)/n
    * over the doc's token histogram, so only one corpus pass and a
    * two-level aggregation (both map-side combined, no join).
    * Determinism: Σ c·ln c is a DECIMAL(28,12) sum ([[UnigramLm]]'s
    * trick); the outer arithmetic is per-row IEEE. Returns (idCol,
    * n_tokens, n_distinct, entropy rounded 4). */
  def tokenEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol))
      .agg(sum("cnt").as("n_tokens"), count(lit(1)).as("n_distinct"),
        sum((col("cnt") * log(col("cnt"))).cast("decimal(28,12)")).as("__s"))
      .select(col(idCol), col("n_tokens"), col("n_distinct"),
        round(log(col("n_tokens")) - col("__s").cast("double") / col("n_tokens"),
          4).as("entropy"))

  /** Gopher-style repetition statistics — the "repetitious document"
    * quality gates of a crawl-curation pipeline, re-grounded on word
    * n-grams (the synthetic corpus has no line structure; on real data
    * add the duplicate-line twins by swapping the tokenizer for a line
    * splitter):
    *   - `top2_frac`: fraction of token positions covered by the single
    *     most frequent bigram (each occupies 2), the "top n-gram
    *     character fraction" analog — boilerplate headers max this out;
    *   - `dup3_frac`: fraction of trigram occurrences whose trigram
    *     appears more than once in the doc, the "duplicated n-gram"
    *     analog — loops/templates max this out.
    * Only the max COUNT leaves the gram aggregation (never the gram
    * itself), so no tie-break is needed and the output is
    * engine-independent integer arithmetic plus two exact small-integer
    * ratios.
    *
    * Scale: two explode→count chains, each map-side combined at
    * (doc, gram) then (doc) grain; joins are doc-cardinality. Gram keys
    * here are strings for oracle parity — at 100 TB switch to the
    * codegen'd [[graft.expressions.WordGramKeys]] integer keys (the q69
    * / q115 lesson) and the plan is unchanged. */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = docs
      .select(col(idCol), TextOps.tokens(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")))
    def grams(k: Int) = when(col("n") >= k,
      expr(s"transform(sequence(1, size(toks) - ${k - 1}), i -> concat_ws(' ', slice(toks, i, $k)))"))
      .otherwise(array().cast("array<string>"))
    val top2 = base
      .select(col(idCol), explode(grams(2)).as("g"))
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(max(col("c")).as("top2_cnt"))
    val dup3 = base
      .select(col(idCol), explode(grams(3)).as("g"))
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup3_occ"),
        sum(col("c")).as("tot3"))
    // LEFT joins: a doc with < 2 tokens has no bigram row and < 3 tokens
    // no trigram row — inner joins silently DROPPED exactly the short/
    // degenerate docs a quality gate most needs to see. Such docs report
    // zero counts and zero fractions. (Note on top2_frac: overlapping
    // occurrences of the modal bigram each count, so the ratio can
    // exceed 1 for degenerate docs like "a a a" — it is occurrence MASS
    // relative to token count, not a [0,1] coverage fraction; gate on it
    // as a monotone repetitiveness ratio.)
    base.select(col(idCol), col("n"))
      .join(top2, Seq(idCol), "left").join(dup3, Seq(idCol), "left")
      .select(col(idCol), col("n").as("n_tokens"),
        coalesce(col("top2_cnt"), lit(0L)).as("top2_cnt"),
        when(col("n") > 0,
          round(coalesce(col("top2_cnt"), lit(0L)) * lit(2.0) / col("n"), 4))
          .otherwise(lit(0.0)).as("top2_frac"),
        coalesce(col("dup3_occ"), lit(0L)).as("dup3_occ"),
        when(col("tot3") > 0,
          round(col("dup3_occ") * lit(1.0) / col("tot3"), 4))
          .otherwise(lit(0.0)).as("dup3_frac"))
  }

  /** Per-group token-distribution drift: KL(P_group ‖ P_corpus) with
    * add-one smoothing over the CORPUS vocabulary — the snapshot-drift /
    * source-skew monitor a recurring crawl runs between ingests (did this
    * source's language shift vs the corpus it feeds?).
    *
    * Scale shape: the KL sum ranges over vocab × groups rows (every
    * corpus term contributes to every group, including c_s = 0 terms —
    * that's what makes it a true KL over the shared support). The grid is
    * built vocab-side: corpus counts ⨯ broadcast per-group totals, left
    * join of the group counts — exchanges are vocab-sized, map-side
    * combined down to one row per group. Per-term contributions are
    * DECIMAL(28,12)-quantized. Returns (groupCol, n_tokens,
    * n_shared_vocab, kl rounded 6). */
  def distributionDrift(docs: DataFrame, groupCol: String,
                        textCol: String): DataFrame = {
    val t = docs.select(col(groupCol), explode(TextOps.tokens(col(textCol))).as("token"))
    // (group, token) counts materialized once — they feed the per-group
    // totals, the corpus rollup AND the grid join below (the
    // NaiveBayes.train lesson); vocab × groups rows, scale-safe.
    val cs = Checkpoints.materialize(t.groupBy(groupCol, "token").agg(count(lit(1)).as("c_s")))
    // corpus counts ROLL UP from the group counts (groupCol is a value
    // column — no rows lost), replacing a second full corpus
    // explode+aggregation with a vocab×groups-sized one.
    val ct = cs.groupBy("token").agg(sum("c_s").as("c_r"))
    val ts = cs.groupBy(groupCol).agg(sum("c_s").as("t_s"))
    val st = ct.agg(sum("c_r").as("total"), count(lit(1)).as("vocab"))
    val pS = (col("c_s") + lit(1.0)) / (col("t_s") + col("vocab"))
    val q = (col("c_r") + lit(1.0)) / (col("total") + col("vocab"))
    ct.crossJoin(broadcast(ts))
      .join(cs, Seq(groupCol, "token"), "left")
      .withColumn("c_s", coalesce(col("c_s"), lit(0L)))
      .crossJoin(broadcast(st))
      .groupBy(col(groupCol))
      .agg(max("t_s").as("n_tokens"),
        sum(when(col("c_s") > 0, 1L).otherwise(0L)).as("n_shared_vocab"),
        sum((pS * log(pS / q)).cast("decimal(28,12)")).as("__kl"))
      .select(col(groupCol), col("n_tokens"), col("n_shared_vocab"),
        round(col("__kl").cast("double"), 6).as("kl"))
  }

  /** Corpus-wide bigram PMI collocations: pointwise mutual information
    * ln[(c_ab/B) · (T/c_a) · (T/c_b)] over consecutive token pairs, gated
    * by a minimum pair count (PMI is noise below it), top-k by PMI — the
    * phrase/collocation mining pass (word2vec-style statistics) of a text
    * pipeline.
    *
    * Scale shape: bigrams stream out of the scan via a zip_with of two
    * array slices (no self-join), aggregate to bigram-type cardinality;
    * the unigram join is vocab-sized; totals are broadcast single rows.
    * The ratio is computed in a FIXED double expression order and the
    * ln is DECIMAL(28,12)-quantized, so the top-k cut (ordered by exact
    * decimal, then words) is engine-independent. */
  def pmiBigrams(docs: DataFrame, textCol: String, minCount: Long,
                 k: Int): DataFrame = {
    val ts = docs.select(TextOps.tokens(col(textCol)).as("ts"))
      .filter(size(col("ts")) >= 2)
    val pairs = ts.select(explode(zip_with(
        slice(col("ts"), lit(1), size(col("ts")) - 1),
        slice(col("ts"), lit(2), size(col("ts")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    // bigram-type / vocab-sized aggregates materialized once: cb feeds
    // the 1-row total and the PMI projection; cu feeds its total and BOTH
    // unigram joins — un-checkpointed, the corpus explode+agg re-ran per
    // consumer (the NaiveBayes.train lesson).
    val cb = Checkpoints.materialize(pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab")))
    val bt = cb.agg(sum("c_ab").as("b"))
    val cu = Checkpoints.materialize(docs.select(explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt")))
    val ut = cu.agg(sum("cnt").as("t"))
    val ratio = (col("c_ab").cast("double") / col("b")) *
      (col("t").cast("double") / col("c_a")) *
      (col("t").cast("double") / col("c_b"))
    cb.filter(col("c_ab") >= minCount)
      .crossJoin(broadcast(bt)).crossJoin(broadcast(ut))
      .join(cu.select(col("token").as("w1"), col("cnt").as("c_a")), Seq("w1"))
      .join(cu.select(col("token").as("w2"), col("cnt").as("c_b")), Seq("w2"))
      .select(col("w1"), col("w2"), col("c_ab"),
        log(ratio).cast("decimal(28,12)").as("__pmi"))
      .orderBy(col("__pmi").desc, col("w1"), col("w2"))
      .limit(k)
      .select(col("w1"), col("w2"), col("c_ab"),
        round(col("__pmi").cast("double"), 4).as("pmi"))
  }

  /** Cross-document n-gram novelty: per doc, the fraction of its DISTINCT
    * word n-grams not present in any lower-id document — the corpus-level
    * repetition signal next to the within-doc one (`qualityScore` /
    * repetition fractions): boilerplate already emitted upstream scores
    * near 0 even when each copy is internally clean.
    *
    * Scale shape: grams shuffle as 60-bit md5 longs (never shingle
    * strings); first-sighting is one min-aggregation on a well-distributed
    * high-cardinality key, joined back postings-side, then one per-doc
    * aggregation. Returns (idCol, n_grams, n_novel, novelty).
    *
    * Both branches below evaluate the gram-key kernel — deliberate: the
    * per-doc branch needs only size(grams) and stays scan-side (no
    * explode, no shuffle), while persisting the keyed projection to
    * share it would cache ~the corpus's token stream. Callers that ALSO
    * need the grams elsewhere should materialize the key arrays once as
    * a table (same guidance as MinHashLSH's shingle recompute note).
    * Keys come from the codegen'd `WordGramKeys` kernel (one byte scan
    * per doc); `gramKeys` below is its declarative specification. */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame = {
    val keyed = docs.select(col(idCol),
      graft.expressions.WordGramKeys.word_gram_keys(col(textCol), n).as("__gs"))
    // n_grams is per-row metadata — computed at the scan, never shuffled.
    val perDoc = keyed.select(col(idCol),
      size(col("__gs")).cast("long").as("n_grams"))
    // Novel counts come from the first-sighting side ALONE: min per gram,
    // then count per winning doc — doc-cardinality output, so the final
    // join is per-doc, never a join against the full gram stream.
    val novel = keyed
      .select(col(idCol), explode(col("__gs")).as("__g"))
      .groupBy("__g").agg(min(col(idCol)).as("__first"))
      .groupBy(col("__first").as(idCol)).agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, Seq(idCol), "left")
      .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
      .withColumn("novelty", round(col("n_novel") / col("n_grams"), 4))
  }
}
