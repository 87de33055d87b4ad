package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.{JaccardSim, JaccardUpperBound, MinHashSig, TruncHashes}
import graft.ops.{BucketCap, Checkpoints}

/** MinHash + LSH banding near-duplicate detection (the north-star corpus
  * dedup operator; the reference's closest analog is its text-similarity
  * API `/root/reference/src/utils/tencent_api.py:111-123`).
  *
  * Pipeline over a PRE-HASHED shingle column (`array<bigint>`, one FNV-1a
  * hash per n-gram from `NgramHashes`): MinHash signature (the
  * `MinHashSig` kernel — an affine hash family mod [[P]] over those
  * hashes, one scan-side call per row) → band keys (one xxhash64 per
  * band slice of the signature) → equi-join on (band, key) for candidate
  * pairs → exact Jaccard verify (`JaccardSim`) on candidates only. The
  * Jaccard of the hash sets equals the Jaccard of the shingle sets modulo
  * 64-bit collisions (≈ n²/2⁶⁴ per document, negligible), and the verify
  * join shuffles 8-byte hashes instead of shingle text.
  *
  * 100 TB design notes: candidate generation is an equi-join on band keys
  * (shuffle hash-partitioned on the key, NO cross join anywhere); the
  * final Jaccard touches only candidate pairs, whose count LSH keeps
  * near-linear. A hot band key (thousands of identical docs) produces a
  * quadratic bucket — callers dealing with boilerplate-heavy corpora
  * should pre-dedup exact hashes first (ExactDedup), which bounds bucket
  * sizes by construction; as a defense-in-depth backstop every candidate
  * join also drops band buckets larger than [[MaxBucket]], so one
  * boilerplate key can never go quadratic even when the pre-dedup
  * assumption is violated.
  */
object MinHashLSH {

  /** Per-(band, key) bucket-size cap for candidate generation
    * ([[graft.ops.BucketCap]]). A bucket of n docs emits ~n²/2 candidate
    * pairs, so the cap bounds the worst single bucket at ~500k pairs;
    * dropping loses nothing for corpora that ran ExactDedup first
    * (identical docs are the only way an honest band bucket gets this
    * hot: 1000 docs in one bucket of one band at r=4 rows/band means 1000
    * docs whose signatures agree on that band — overwhelmingly true
    * duplicates, which exact dedup already removed). */
  val MaxBucket: Int = 1000

  /** Large Mersenne prime for the affine hash family. */
  val P: Long = MinHashSig.P

  /** Signatures over a PRE-HASHED shingle column (`array<bigint>`, e.g.
    * from `NgramHashes`): the whole signature is ONE scan-side kernel
    * call per row (`MinHashSig`) — no explode, no aggregation, no
    * exchange. Output: (idCol, __sig). */
  def signaturesFromHashArray(hashed: DataFrame, idCol: String, hCol: String,
                              numHashes: Int): DataFrame =
    hashed.select(col(idCol), MinHashSig.minhash_sig(col(hCol), numHashes).as("__sig"))

  /** Signatures over PRE-EXPLODED base-hash rows (idCol, hCol), for
    * callers that bring their own base-hash family (q160's md5-derived
    * audit sketch, which must be ANSI-mirrorable): one hash aggregation
    * with numHashes `min` columns over the same affine family and P as
    * `MinHashSig`, so signatures differ only in the base hash. Every
    * expression stays inside whole-stage codegen (the array-HOF
    * formulation runs interpreted — no subexpression elimination, boxed
    * traversals — and measured 60 s vs ~4 s at sf0.1), and map-side
    * partial aggregation means the shuffle carries one numHashes-long
    * state per (partition, doc), not the exploded rows. */
  def signaturesFromBaseRows(exploded: DataFrame, idCol: String, hCol: String,
                             numHashes: Int): DataFrame = {
    val aggs = MinHashSig.coeffs(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("__h") * a + b, lit(P))).as(s"__m$i")
    }
    exploded.select(col(idCol), col(hCol).as("__h"))
      .groupBy(idCol).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol),
        array((0 until numHashes).map(i => col(s"__m$i")): _*).as("__sig"))
  }

  private def rowsPerBand(numHashes: Int, numBands: Int): Int = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    numHashes / numBands
  }

  /** Band keys: numBands hashes, each over rowsPerBand consecutive
    * signature entries. Returned as array<struct<band:int, key:bigint>>. */
  private def bandKeys(sig: Column, numBands: Int, rowsPerBand: Int): Column =
    array((0 until numBands).map { j =>
      struct(lit(j).as("band"),
        xxhash64(slice(sig, j * rowsPerBand + 1, rowsPerBand)).as("key"))
    }: _*)

  /** Capped band-bucket membership rows: `cols` of `df` plus (band, key)
    * of each of `sig`'s numBands bands, buckets above [[MaxBucket]]
    * dropped. */
  private def bandRows(df: DataFrame, cols: Seq[Column], sig: Column,
                       numBands: Int, rowsPerBand: Int): DataFrame = {
    val exploded = df.select(cols :+ explode(bandKeys(sig, numBands, rowsPerBand)).as("bk"): _*)
    val kept = exploded.columns.init.toSeq.map(col)
    BucketCap(exploded.select(kept ++ Seq(col("bk.band").as("band"), col("bk.key").as("key")): _*),
      MaxBucket, "band", "key")
  }

  /** Band rows (`idAs, band, key`) of a hashed-shingle table. */
  private def hashedBandRows(hashed: DataFrame, idCol: String, hCol: String,
                             numHashes: Int, numBands: Int, idAs: String): DataFrame =
    bandRows(signaturesFromHashArray(hashed, idCol, hCol, numHashes),
      Seq(col(idCol).as(idAs)), col("__sig"), numBands, rowsPerBand(numHashes, numBands))

  /** Candidate pairs (a < b) sharing at least one band bucket of size ≤
    * [[MaxBucket]] (the hot-bucket backstop). */
  def candidatePairs(sigs: DataFrame, idCol: String, sigCol: String,
                     numBands: Int, rowsPerBand: Int): DataFrame = {
    val rows = bandRows(sigs, Seq(col(idCol)), col(sigCol), numBands, rowsPerBand)
    rows.toDF("a", "band", "key").join(rows.toDF("b", "band", "key"), Seq("band", "key"))
      .filter(col("a") < col("b"))
      .select("a", "b")
      .distinct()
  }

  /** The exact verify: candidate pairs (a, b) joined to their shingle
    * hash arrays (a's from `setsA`, b's from `setsB`), kept at
    * `jaccard >= threshold`. Output: (outA, outB, jaccard). */
  private def verify(cands: DataFrame, setsA: DataFrame, setsB: DataFrame,
                     idCol: String, hCol: String, threshold: Double,
                     outA: String, outB: String): DataFrame =
    cands.join(setsA.select(col(idCol).as("a"), col(hCol).as("__sh_a")), "a")
      .join(setsB.select(col(idCol).as("b"), col(hCol).as("__sh_b")), "b")
      .withColumn("jaccard", JaccardSim.jaccard_sim(col("__sh_a"), col("__sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("a").as(outA), col("b").as(outB), col("jaccard"))

  private def hashedCandidates(hashed: DataFrame, idCol: String, hCol: String,
                               numHashes: Int, numBands: Int): DataFrame =
    candidatePairs(signaturesFromHashArray(hashed, idCol, hCol, numHashes),
      idCol, "__sig", numBands, rowsPerBand(numHashes, numBands))

  /** In-band's measured per-shipped-array cost relative to fetch's: the
    * in-band form drags each array through the bucket-cap window and the
    * band join's sort, where fetch sorts skinny id rows and fetches
    * arrays by hash join. RECALIBRATED (round 11) after the two-tier
    * member landed: the round-10 κ=2 fit had no point between
    * 2C/nB = 1.46 and 4.34, and probing that gap with ×50/×70 corpora
    * (min-of-2 alternating, 32g heap, 96 partitions) found the real
    * crossover inside it. Calibration points, ρ = 2C/(n·numBands),
    * times are per-form minima on the two-tier member unless noted:
    *   ×30  char-8: ρ=1.46, fetch   8.65 s / two-tier 13.1 s — Fetch ✓
    *   ×50  char-8: ρ=2.37, fetch  15.71 s / two-tier 18.5 s — Fetch ✓
    *     (full-array in-band 25.9 s — fetch beats both members here;
    *      κ=2 called this in-band: the mis-route that forced the refit)
    *   ×60  char-8: ρ=2.83, fetch  22.49 s / two-tier 28.2 s — Fetch ✓
    *     (min-of-3: the two forms are within noise of each other here —
    *      the crossover's left edge)
    *   ×70  char-8: ρ=3.28, fetch  85.7 s / two-tier 33.9 s — in-band ✓
    *     (full-array in-band 48.2 s also beats fetch: both members cross
    *      between ρ=2.83 and 3.28)
    *   ×100 char-8: ρ=4.34, fetch 276 s   / two-tier 57.5 s — in-band ✓
    *   ×30  word-3: ρ=0.02, fetch   4.4 s / in-band  5.3 s — Fetch ✓
    * The transition is SHARP — fetch/two-tier goes 0.80 → 2.53 between
    * ρ=2.83 and 3.28 (fetch's cost is superlinear in C: 22.5 → 85.7 →
    * 276 s for ~1.35×/1.9× growth in C) — so a single interpolated
    * boundary is well-defined: log-ratio zero at ρ ≈ 2.9. κ = 2.9
    * classifies every measured corpus correctly for BOTH in-band
    * members, and because fetch blows up fast past the boundary while
    * two-tier degrades gently below it, κ erring LOW remains the safe
    * side. The boundary transfers across gram FAMILIES to first order:
    * both forms ship the same arrays (in-band n·B of them, fetch 2C),
    * so per-array size cancels and κ is a ratio of per-array HANDLING
    * costs (window+sort vs hash-join) — consistent with the word-3
    * point and the spec's word-3 routing corpora.
    *
    * MIXED-density validation (round 12): κ was calibrated on uniform
    * self-union corpora, so a 500k-doc `MixedCorpus` (half standard-salt
    * dense — collision-amplified char-8 — half every-word-salt unique)
    * probed whether one GLOBAL route survives intra-call mixing. The
    * mixture measured ρ = 8.02 (C = 32.1M — the dense half dominates C,
    * the sparse half only adds n·B band rows), routed in-band two-tier,
    * and min-of-2 alternating timings confirmed the routed form IS the
    * fastest: two-tier 88.0 s vs full-array in-band 104.5 s vs fetch
    * 311.0 s, identical 13,720-pair outputs. Measured NEGATIVE for
    * per-source routing: the cost model compares actual shipment counts
    * (2C vs κ·n·B), both of which aggregate correctly over a mixture,
    * so no per-source or per-partition-histogram split is needed. No
    * full-array in-band form is kept: two-tier beat one at every
    * measured corpus (×30 c8 13.1 vs 18.9 s, ×100 c8 57.5 vs 75.2 s). */
  val InBandCostFactor = 2.9

  /** Routing short-circuit: corpora at or below this many docs go
    * straight to the fetch form without materializing the candidate set
    * for a routing count. Chosen an order of magnitude under the ×100
    * rehearsal corpus (500k docs — routed normally) and above every
    * sf0.1 bench corpus (≤ ~60k), so the short-circuit removes the
    * fixed q18 materialization cost without touching any measured
    * routed regime. Both verify forms emit identical pair sets, so this
    * is purely a latency decision. */
  val AutoSmallCorpusN: Long = 100000L

  /** Cost-based verify routing from the MEASURED candidate count C. Fetch
    * ships ~2 arrays per DISTINCT candidate pair; in-band ships every
    * doc's array once per band but pays ~[[InBandCostFactor]]× per array
    * — so in-band wins iff 2·C > κ·n·numBands. C is exact: the count of
    * the ids-only candidate join (skinny 8-byte rows — the cheap part of
    * either form; the expense both forms differ on is array movement,
    * which that job never does), with the same hot-bucket cap the real
    * run applies. A band-0 histogram estimator was tried first and
    * REJECTED: Σ_bands pairs overestimates C by the cross-band dedup
    * factor (1 for band-local false positives, numBands for true dups
    * that collide everywhere), which mis-routed the dup-heavy ×30
    * rehearsal corpus; the exact count has no such regime dependence. */
  private[dedup] def inBandWins(c: Long, n: Long, numBands: Int): Boolean =
    2.0 * c > InBandCostFactor * n * numBands

  /** Near-dup pairs within one hashed-shingle table: (doc_a, doc_b,
    * jaccard >= threshold), doc_a < doc_b. The exact verify runs in one
    * of two physical forms that emit the IDENTICAL pair set, chosen from
    * the input (the AsOfJoin.backwardAuto pattern):
    *
    *  - [[fetchPairs]]: band-join ids only, then fetch each candidate's
    *    shingle array by key. Wins when candidates are few — each doc's
    *    array ships ~once per candidate PARTNER.
    *  - [[inBandTwoTierPairs]]: the (truncated) shingle array rides the
    *    band join and a bound evaluates pipelined inside it — each doc's
    *    array ships exactly numBands times, whatever the collision rate.
    *    Wins when band collisions amplify (the ×100 rehearsal: 17.4M
    *    candidates).
    *
    * Construction runs one action, the row count n. At most
    * [[AutoSmallCorpusN]] docs run fetch: in-band's whole advantage is
    * avoiding fat-array re-shipment at scale, which is noise at small n,
    * while the eager materialization the routing count needs is a FIXED
    * cost that roughly doubled q18 at sf0.1 (0.63→1.40 s). Larger corpora
    * materialize the ids-only candidate set, read C from that job
    * ([[inBandWins]]), and either verify those candidates by fetch (so
    * routing costs nothing over the fetch form it would have run anyway)
    * or release the blocks — the in-band plan never reads them — and run
    * in-band. */
  def nearDupPairsHashed(hashed: DataFrame, idCol: String, hCol: String,
                         numHashes: Int, numBands: Int, threshold: Double): DataFrame = {
    val n = hashed.select(col(idCol)).count()
    if (n <= AutoSmallCorpusN) fetchPairs(hashed, idCol, hCol, numHashes, numBands, threshold)
    else {
      val (cands, c) = Checkpoints.materializeCounted(
        hashedCandidates(hashed, idCol, hCol, numHashes, numBands))
      if (inBandWins(c, n, numBands)) {
        Checkpoints.release(cands)
        inBandTwoTierPairs(hashed, idCol, hCol, numHashes, numBands, threshold)
      } else verify(cands, hashed, hashed, idCol, hCol, threshold, "doc_a", "doc_b")
    }
  }

  /** The fetch form of [[nearDupPairsHashed]], unrouted. */
  private[graft] def fetchPairs(hashed: DataFrame, idCol: String, hCol: String,
                                numHashes: Int, numBands: Int,
                                threshold: Double): DataFrame =
    verify(hashedCandidates(hashed, idCol, hCol, numHashes, numBands),
      hashed, hashed, idCol, hCol, threshold, "doc_a", "doc_b")

  /** The in-band two-tier form of [[nearDupPairsHashed]], unrouted:
    * verify IN the band join, not after it — the large-corpus form. The
    * fetch form re-ships every document's shingle array once per
    * candidate PARTNER; with a moderate false-positive band-collision
    * rate the amplification is brutal (the ×100 rehearsal measured q35 at
    * 17.4M candidates for 25.6k true pairs, ~70 partners/doc, 58 GiB of
    * shuffle read to ship 1.2 GB of arrays). Here the array rides the
    * one (band, key) exchange and the self-join filters pipelined (pair
    * rows never shuffle): a pair agreeing in k bands pays k bound
    * evaluations; amplification drops from per-partner to per-band.
    *
    * Two tiers attack that exchange's BYTES: at the ×100 rehearsal the
    * full-array in-band form's one fat exchange carried 8M band rows ×
    * ~2.4 KB gram arrays = 29.9 GiB, and the round-10 kernel work proved
    * per-pair CPU is no longer the bound (array movement is). Tier 1
    * ships each doc's 16-bit TRUNCATED multiset
    * ([[graft.expressions.TruncHashes]] — 2 bytes/element, 4× fewer
    * array bytes through the same windowed-cap + sort-merge join)
    * and filters band collisions at `jaccard_upper >= threshold`, a
    * PROVABLE upper bound on the exact Jaccard (see
    * [[graft.expressions.JaccardUpperBound]] for the multiset-min
    * argument), so survivors are a superset of the true pairs. Tier 2
    * re-verifies survivors exactly via the skinny fetch join — survivor
    * count ≈ true pairs + a small truncation-collision margin
    * (E[spurious ΔJ] ≈ na·nb/2¹⁶/union, ~0.002 at 300-gram docs), so
    * the fetch ships each array ~once per TRUE partner, not per band
    * collision. Output identical to fetch by construction.
    *
    * Physical form of the FAT side — two alternatives were built and
    * MEASURED at ×100 (500k docs, 8M band rows × ~2.4 KB arrays, 32g
    * heap, 192 partitions) against the windowed-count + sort-merge form
    * this verify keeps (110.8 s solo for the full-array form, zero
    * spill, post-JaccardSim):
    *   (a) hoist the hot-bucket guard to a skinny pre-pass (extra
    *       scan-side MinHash + (band,key) count-agg, oversized list
    *       broadcast-anti-joined before the fat exchange) + shuffle_hash
    *       self-join: 165.0 s — building hash relations over fat array
    *       rows costs far more than the sorts it avoids;
    *   (b) the same hoisted guard + sort-merge join: 114.2 s — the extra
    *       skinny MinHash pass costs ≈ what skipping the windowed count
    *       saves.
    * Both reverted: the window's count slots into the exchange+sort the
    * SMJ needs anyway, and the shuffle (one fat exchange written once,
    * read twice) plus the scan-side MinHash are the real floor.
    *
    * The bound's DISTINCT-elements precondition (JaccardUpperBound uses
    * physical lengths as set sizes) is self-enforced here by the
    * kernel's dedup mode ([[graft.expressions.TruncHashes]]
    * `trunc_hashes_distinct` — duplicate ORIGINAL longs collapsed by a
    * fused primitive sort, scan-side, BEFORE the fat exchange): the
    * gram kernels already emit distinct hashes so it collapses nothing
    * for them, but a multiset hash array would otherwise silently lose
    * true pairs (A=[x,x] vs B=[x]: set J = 1.0 but the physical-length
    * bound gives 0.5 < threshold). An `array_distinct` wrapper was tried
    * first and REVERTED: its boxed per-element hashing cost ~10-20% of
    * q35's ×100 wall (5-run medians 85.8 vs 78.4 s, identical
    * shuffle/spill) where the fused sort is noise-level. Tier 2's
    * JaccardSim and MinHashSig are duplicate-insensitive already, so
    * distinctness at tier 1 is the only place the guarantee was
    * load-bearing. */
  private[graft] def inBandTwoTierPairs(hashed: DataFrame, idCol: String, hCol: String,
                                        numHashes: Int, numBands: Int,
                                        threshold: Double): DataFrame = {
    val rows = bandRows(hashed,
      Seq(col(idCol), TruncHashes.trunc_hashes_distinct(col(hCol), 16).as("__tr")),
      MinHashSig.minhash_sig(col(hCol), numHashes),
      numBands, rowsPerBand(numHashes, numBands))
    def side(id: String) =
      rows.select(col(idCol).as(id), col("__tr").as(s"__tr_$id"), col("band"), col("key"))
    val survivors = side("a").join(side("b"), Seq("band", "key"))
      .filter(col("a") < col("b"))
      .filter(JaccardUpperBound.jaccard_upper(col("__tr_a"), col("__tr_b")) >= threshold)
      .select("a", "b")
      .distinct()
    verify(survivors, hashed, hashed, idCol, hCol, threshold, "doc_a", "doc_b")
  }

  /** INCREMENTAL near-dup gate: candidates between a NEW batch and an
    * existing HISTORY corpus only (no within-batch, no within-history
    * pairs) — the F8 dedup-gate semantics lifted from exact hashes to
    * near-duplicates. A nightly ingest asks exactly this: "which incoming
    * documents near-duplicate something we already kept?"
    *
    * Scale shape: band keys are an equi-join between batch (small) and
    * history (the corpus). History's signatures/band keys depend only on
    * history — in deployment, persist them ONCE (see [[historyBandRows]])
    * so each batch joins against the index without recomputing (or
    * reshuffling) the corpus. Construction runs no job. Output:
    * (batch_id, history_id, jaccard >= threshold). */
  def nearDupAgainstHashed(batchHashed: DataFrame, historyHashed: DataFrame,
                           idCol: String, hCol: String,
                           numHashes: Int, numBands: Int,
                           threshold: Double): DataFrame =
    nearDupAgainstBandRows(batchHashed,
      historyBandRows(historyHashed, idCol, hCol, numHashes, numBands),
      historyHashed, idCol, hCol, numHashes, numBands, threshold)

  /** The history side's capped band-bucket membership rows
    * (`b, band, key`) — compute ONCE when a static history is probed by
    * many batches (`Checkpoints.materialize`, or `Sinks.bucketedWrite` by
    * (band, key) in a persistent deployment), then pass to
    * [[nearDupAgainstBandRows]]: each probe joins the prebuilt index
    * instead of re-running the corpus's signatures and banding. */
  def historyBandRows(historyHashed: DataFrame, idCol: String, hCol: String,
                      numHashes: Int, numBands: Int): DataFrame =
    hashedBandRows(historyHashed, idCol, hCol, numHashes, numBands, "b")

  /** [[nearDupAgainstHashed]] against a PREBUILT history band index (see
    * [[historyBandRows]]). Identical output: the per-side bucket caps —
    * the bipartite blow-up is |batch ∩ bucket| × |history ∩ bucket|, so
    * each side's cap bounds any one bucket's output at MaxBucket² — are
    * applied to the batch side here and were applied to the history side
    * when its index was built. */
  def nearDupAgainstBandRows(batchHashed: DataFrame, historyBands: DataFrame,
                             historySets: DataFrame,
                             idCol: String, hCol: String,
                             numHashes: Int, numBands: Int,
                             threshold: Double): DataFrame = {
    val cands = hashedBandRows(batchHashed, idCol, hCol, numHashes, numBands, "a")
      .join(historyBands, Seq("band", "key"))
      .select("a", "b").distinct()
    verify(cands, batchHashed, historySets, idCol, hCol, threshold, "batch_id", "history_id")
  }
}
