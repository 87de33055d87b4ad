package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Checkpoints

/** Exact set-similarity join with PREFIX FILTERING (PPJoin-family) —
  * ALL pairs with token-set Jaccard ≥ t, guaranteed, without an
  * all-pairs comparison. The exact counterpart to the probabilistic
  * MinHash/SimHash passes: where those trade recall for speed, prefix
  * filtering keeps exactness and still prunes, which is why its oracle
  * is GROUND TRUTH (any algorithm computing "Jaccard ≥ t" must emit
  * the identical pair set), not implementation parity.
  *
  * The filter: order every doc's tokens canonically by (global
  * frequency asc, token) — rarest first — and keep only the first
  * |x| − ⌈t·|x|⌉ + 1 as its PREFIX. Two sets with Jaccard ≥ t must
  * share a prefix token (pigeonhole), so the candidate join runs on
  * prefix tokens only. That join is anti-skew BY CONSTRUCTION: prefixes
  * hold each doc's rarest tokens, so the hot stopwords that would make
  * a naive token self-join quadratic never enter the join at all — the
  * skew fix is the algorithm, not a salting bolt-on.
  *
  * Exactness discipline: the threshold is the RATIONAL tNum/tDen and
  * every gate runs in integer arithmetic — prefix length
  * n − ⌈tNum·n/tDen⌉ + 1, length filter tDen·min ≥ tNum·max, final
  * verify tDen·i ≥ tNum·(|a|+|b|−i). A double `0.6·n` gate would
  * misround exact-boundary pairs (0.6·5 = 3.0000000000000004 drops a
  * legitimate min/max = 3/5 pair). The reported jaccard value is the
  * only double, rounded for display.
  *
  * 100 TB: token-frequency table is vocab-sized; the canonical-rank
  * window partitions per doc (high cardinality); candidates shuffle on
  * rare tokens; verification joins each candidate pair to the two
  * docs' token-set ARRAYS (doc-keyed joins, candidate + doc rows on
  * the wire) and intersects per pair — compute proportional to
  * candidate count × doc size, the PPJoin bound, never corpus², with
  * no token-granularity exchange. */
object PrefixFilterJoin {

  /** @return (doc_a, doc_b, jaccard) for every pair with
    *         Jaccard ≥ tNum/tDen, doc_a < doc_b */
  def jaccardJoin(docs: DataFrame, idCol: String, tokensCol: Column,
                  tNum: Int, tDen: Int, scale: Int = 6): DataFrame =
    jaccardJoinTallies(docs, idCol, tokensCol, tNum, tDen)
      .select(col("doc_a"), col("doc_b"),
        round(col("i").cast("double") /
          (col("na") + col("nb") - col("i")).cast("double"), scale)
          .as("jaccard"))

  /** [[jaccardJoin]] exposing the INTEGER tallies instead of the rounded
    * ratio: (doc_a, doc_b, i, na, nb) with i = |A∩B| — for consumers
    * that re-gate at several thresholds (q172's sensitivity curve) and
    * must stay in exact integer arithmetic across all of them. */
  def jaccardJoinTallies(docs: DataFrame, idCol: String, tokensCol: Column,
                         tNum: Int, tDen: Int): DataFrame = {
    require(tNum > 0 && tNum <= tDen, "threshold must be in (0, 1]")
    // materialize the deduped (id, token) table once — it feeds sizes,
    // frequencies, prefixes AND both verify sides, and the explode+
    // distinct shuffle would otherwise re-run per consumer (a staging
    // table at warehouse scale; in-query, a checkpoint)
    val ts = Checkpoints.materialize(
      docs.select(col(idCol).as("id"), explode(tokensCol).as("token")).distinct())
    val sz = ts.groupBy("id").agg(count(lit(1)).as("n"))
    val freq = ts.groupBy("token").agg(count(lit(1)).as("tf"))
    // ceil(n·tNum/tDen) via floor((n·tNum + tDen−1)/tDen); the double
    // quotient can't misround a floor for small tDen (the fractional
    // part is ≥ 1/tDen, 15 orders above the ulp)
    val prefixLen =
      col("n") - floor((col("n") * tNum + (tDen - 1)) / tDen) + 1
    val prefixes = ts.join(freq, "token")
      .withColumn("pos",
        row_number().over(Window.partitionBy("id").orderBy("tf", "token")))
      .join(sz, "id")
      .filter(col("pos") <= prefixLen)
      .select("id", "token", "n")

    val cands = prefixes.select(col("id").as("a"), col("token"),
        col("n").as("na"))
      .join(prefixes.select(col("id").as("b"), col("token"),
        col("n").as("nb")), "token")
      .filter(col("a") < col("b"))
      .filter(least(col("na"), col("nb")) * tDen >=
        greatest(col("na"), col("nb")) * tNum)
      .select("a", "b", "na", "nb").distinct()

    // exact verify on candidates only: intersect each pair's DISTINCT
    // token sets. Carrying the sets as per-doc ARRAYS through two
    // doc-keyed joins moves candidate + doc rows; the previous
    // token-granularity join exploded candidates × tokens-per-doc
    // (~10M intermediate rows at sf0.1 for 193k candidates) through
    // the exchange before re-aggregating. The intersection count is the
    // native set_intersect_size kernel (sort-merge in per-thread
    // scratch) — size(array_intersect) built a boxed hash set and a
    // result array per pair whose contents the enclosing size discarded
    // (the JaccardSim lesson, applied to the count-only verify).
    // A TWO-TIER variant of this verify (16-bit TruncHashes arrays +
    // jaccard_upper gate riding the candidate joins, exact re-verify of
    // survivors — the q35 in-band lesson) was built and MEASURED
    // (round 11, min-of-2, identical pair sets): sf0.1 10.2 vs 3.6 s,
    // ×30 26.9 vs 18.6 s, ×100 40.3 vs 28.7 s — the single-tier form
    // below won at EVERY scale and the variant was reverted. Why the
    // lesson doesn't transfer: LSH banding over-generates candidates
    // (n·numBands rows regardless of collision rate), so cutting bytes
    // per candidate pays; the prefix filter is already candidate-
    // BOUNDED (rarest-token prefixes), so array movement never comes to
    // dominate and the two extra pair-keyed joins cost more than the 4×
    // byte saving on the one join they relieve.
    val docSets = ts.groupBy("id").agg(collect_list("token").as("toks"))
    val inter = cands
      .join(docSets.select(col("id").as("a"), col("toks").as("toks_a")), "a")
      .join(docSets.select(col("id").as("b"), col("toks").as("toks_b")), "b")
      .select(col("a"), col("b"), col("na"), col("nb"),
        graft.expressions.SetIntersectSize.set_intersect_size(
          col("toks_a"), col("toks_b")).as("i"))
    inter
      .filter(col("i") * tDen >= (col("na") + col("nb") - col("i")) * tNum)
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        col("i"), col("na"), col("nb"))
  }
}
