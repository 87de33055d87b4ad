package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Checkpoints

/** MinHash + LSH banding near-duplicate detection (the north-star corpus
  * dedup operator; the reference's closest analog is its text-similarity
  * API `/root/reference/src/utils/tencent_api.py:111-123`).
  *
  * Pipeline: shingles → MinHash signature (universal-hash family over one
  * md5 base hash per shingle) → band keys → equi-join on (band, key) for
  * candidate pairs → exact Jaccard verify on candidates only.
  *
  * 100 TB design notes: candidate generation is an equi-join on band keys
  * (shuffle hash-partitioned on the key, NO cross join anywhere); the
  * signature is computed scan-side with one xxhash64 per shingle plus
  * cheap affine derivations (not numHashes hashes — and xxhash64, not
  * md5: signatures only drive candidate RECALL, never the verified
  * output, so the cheapest high-quality hash wins; measured ~2× on the
  * char-shingle path, where the per-shingle hash dominates the scan);
  * the final Jaccard touches only candidate pairs, whose count LSH
  * keeps near-linear. A hot band key
  * (thousands of identical docs) produces a quadratic bucket — callers
  * dealing with boilerplate-heavy corpora should pre-dedup exact hashes
  * first (ExactDedup), which bounds bucket sizes by construction; as a
  * defense-in-depth backstop every candidate join also drops band
  * buckets larger than `maxBucket` (see [[DefaultMaxBucket]]), so one
  * boilerplate key can never go quadratic even when the pre-dedup
  * assumption is violated. Use [[oversizedBuckets]] to audit what the
  * guard would drop on a given corpus.
  */
object MinHashLSH {

  /** Per-(band, key) bucket-size cap for candidate generation. A bucket
    * of n docs emits ~n²/2 candidate pairs, so the cap bounds the worst
    * single bucket at ~500k pairs; buckets PAST the cap are dropped, not
    * salt-split — a salt split of a size-n bucket keeps only ~1/s of its
    * pairs anyway (arbitrary which), while dropping is predictable and
    * loses nothing for corpora that ran ExactDedup first (identical docs
    * are the only way an honest band bucket gets this hot: 1000 docs in
    * one bucket of one band at r=4 rows/band means 1000 docs whose
    * signatures agree on that band — overwhelmingly true duplicates,
    * which exact dedup already removed). */
  val DefaultMaxBucket: Int = 1000

  /** Large Mersenne prime for the affine hash family. */
  val P: Long = graft.expressions.MinHashSig.P

  /** Deterministic (a, b) coefficients for h_i(x) = (a_i*x + b_i) mod P
    * (shared family — single source in `MinHashSig`). */
  private def coeffs(numHashes: Int): Seq[(Long, Long)] =
    graft.expressions.MinHashSig.coeffs(numHashes)

  /** MinHash signature (array<bigint> of length numHashes) over an
    * ALREADY-MATERIALIZED base-hash array column (one md5 per shingle,
    * computed once — see `signatures`). numHashes affine maps over it. */
  def signatureFromBase(baseHashes: Column, numHashes: Int): Column =
    array(coeffs(numHashes).map { case (a, b) =>
      array_min(transform(baseHashes, h => pmod(h * a + b, lit(P))))
    }: _*)

  /** Convenience single-column signature (tests/small inputs). For bulk
    * use prefer `signatures`, which evaluates the base hash inside
    * whole-stage codegen. */
  def signature(shingles: Column, numHashes: Int): Column =
    signatureFromBase(transform(shingles, s => pmod(xxhash64(s), lit(P))), numHashes)

  /** (idCol, __sig) signatures, computed the Spark-idiomatic way: explode
    * shingles to rows, then one hash-aggregation with numHashes `min`
    * columns. Every expression stays inside whole-stage codegen (the
    * array-HOF formulation runs interpreted — no subexpression
    * elimination, boxed traversals — and measured 60 s vs ~4 s at sf0.1),
    * and map-side partial aggregation means the shuffle carries only one
    * 64-long state per (partition, doc), not the exploded rows. */
  def signatures(shingled: DataFrame, idCol: String, shCol: String,
                 numHashes: Int): DataFrame =
    aggMins(shingled
      .select(col(idCol), explode(col(shCol)).as("__s"))
      .select(col(idCol), pmod(xxhash64(col("__s")), lit(P)).as("__h")),
      idCol, numHashes)

  /** Signatures over a PRE-HASHED shingle column (`array<bigint>`, e.g.
    * from `NgramHashes`): the whole signature is ONE scan-side kernel
    * call per row (`MinHashSig`) — no explode, no aggregation, no
    * exchange; identical values to the aggregated form (same coefficient
    * family). */
  def signaturesFromHashArray(hashed: DataFrame, idCol: String, hCol: String,
                              numHashes: Int): DataFrame =
    hashed.select(col(idCol),
      graft.expressions.MinHashSig.minhash_sig(col(hCol), numHashes).as("__sig"))

  /** Signatures over PRE-EXPLODED base-hash rows (idCol, hCol) — the
    * codegen explode+min-agg path of `signatures` for callers that bring
    * their own base-hash family (e.g. q160's md5-derived audit sketch,
    * which must be ANSI-mirrorable; the affine coefficient family and P
    * are shared, so signatures differ only in the base hash). */
  def signaturesFromBaseRows(exploded: DataFrame, idCol: String, hCol: String,
                             numHashes: Int): DataFrame =
    aggMins(exploded.select(col(idCol), col(hCol).as("__h")), idCol, numHashes)

  private def aggMins(exploded: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val aggs = coeffs(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("__h") * a + b, lit(P))).as(s"__m$i")
    }
    exploded.groupBy(idCol).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol),
        array((0 until numHashes).map(i => col(s"__m$i")): _*).as("__sig"))
  }

  /** Band keys: numBands hashes, each over rowsPerBand consecutive
    * signature entries. Returned as array<struct<band:int, key:bigint>>. */
  def bandKeys(sig: Column, numBands: Int, rowsPerBand: Int): Column =
    array((0 until numBands).map { j =>
      struct(lit(j).as("band"),
        xxhash64(slice(sig, j * rowsPerBand + 1, rowsPerBand)).as("key"))
    }: _*)

  /** (id, band, key) band-bucket membership rows for a signature table. */
  private def bandRows(sigs: DataFrame, idCol: String, sigCol: String,
                       numBands: Int, rowsPerBand: Int): DataFrame =
    sigs
      .select(col(idCol), explode(bandKeys(col(sigCol), numBands, rowsPerBand)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))

  /** Drop membership rows of buckets larger than `maxBucket`. The size
    * is a window count over the SAME (band, key) the candidate join
    * shuffles and sorts on — the window slots into the exchange+sort the
    * sort-merge join needs anyway, so the guard costs one streaming pass,
    * not an extra aggregation+join (the groupBy+semi-join form measured
    * ~2× on the LSH queries at sf0.1). */
  private def capBuckets(rows: DataFrame, maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) rows
    else rows
      .withColumn("__bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "key")))
      .filter(col("__bsz") <= maxBucket)
      .drop("__bsz")

  /** Audit the hot-bucket guard: (band, key, n_docs) of every bucket the
    * candidate join would DROP at `maxBucket` — run this (cheap: one
    * aggregation) when a corpus hasn't been exact-deduped to tally what
    * the backstop is costing. Empty means the guard is a no-op. */
  def oversizedBuckets(sigs: DataFrame, idCol: String, sigCol: String,
                       numBands: Int, rowsPerBand: Int,
                       maxBucket: Int = DefaultMaxBucket): DataFrame =
    bandRows(sigs, idCol, sigCol, numBands, rowsPerBand)
      .groupBy("band", "key").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxBucket)

  /** Candidate pairs (a < b) sharing at least one band bucket of size ≤
    * `maxBucket` (the hot-bucket backstop — see [[DefaultMaxBucket]]). */
  def candidatePairs(sigs: DataFrame, idCol: String, sigCol: String,
                     numBands: Int, rowsPerBand: Int,
                     maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val exploded = capBuckets(
      bandRows(sigs, idCol, sigCol, numBands, rowsPerBand), maxBucket)
    val l = exploded.toDF("a", "band", "key")
    val r = exploded.toDF("b", "band", "key")
    l.join(r, Seq("band", "key"))
      .filter(col("a") < col("b"))
      .select("a", "b")
      .distinct()
  }

  /** Exact Jaccard over two set-valued (distinct) array columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")

  /** Jaccard chooser: the native [[graft.expressions.JaccardSim]] kernel
    * for `array<bigint>` inputs (the hashed-shingle hot path — one
    * evaluation per candidate band collision, 25.6M at the ×100
    * rehearsal, where the declarative intersect/union pair boxes and
    * allocates two throwaway arrays per call), the declarative form for
    * everything else. Value-identical by the kernel's contract. */
  private def jaccardExpr(setType: org.apache.spark.sql.types.DataType)
      : (Column, Column) => Column = setType match {
    case org.apache.spark.sql.types.ArrayType(
           org.apache.spark.sql.types.LongType, _) =>
      (a, b) => graft.expressions.JaccardSim.jaccard_sim(a, b)
    case _ => (a, b) => jaccard(a, b)
  }

  /** End-to-end near-dup pairs over (id, shingles): LSH candidates, then
    * exact-Jaccard filter at `threshold`. Output: (doc_a, doc_b, jaccard). */
  def nearDupPairs(shingled: DataFrame, idCol: String, shCol: String,
                   numHashes: Int, numBands: Int, threshold: Double,
                   maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val r = numHashes / numBands
    // The shingle computation is evaluated by three consumers (signature
    // path + both verify joins). Recomputing is deliberate: it is
    // scan-side linear work, while materializing shingle arrays behind a
    // shuffle would move ~8× the raw text size across the wire (and
    // ReuseExchange does not in fact unify the three branches here). In a
    // persistent deployment, write `shingled` once as a table and pass
    // that in — the API takes any DataFrame.
    val sigs = signatures(shingled, idCol, shCol, numHashes)
    verifyCandidates(shingled, idCol, shCol,
      candidatePairs(sigs, idCol, "__sig", numBands, r, maxBucket), threshold)
  }

  /** `nearDupPairs` over a PRE-HASHED shingle column (see
    * `NgramHashes`): signatures, banding AND the exact-Jaccard verify all
    * run on `array<bigint>` — the Jaccard of the hash sets equals the
    * Jaccard of the shingle sets modulo 64-bit collisions (≈ n²/2⁶⁴ per
    * document, negligible), and the verify join shuffles 8-byte hashes
    * instead of shingle text. */
  /** Which exact-verify physical form a near-dup run uses. Both forms
    * produce the IDENTICAL pair set, so the choice is purely physical
    * (the AsOfJoin.backwardAuto pattern):
    *
    *  - [[VerifyForm.Fetch]]: band-join ids only, then fetch each
    *    candidate's shingle array by key. Wins when candidates are few —
    *    each doc's array ships ~once per candidate PARTNER.
    *  - [[VerifyForm.InBandTwoTier]]: the (truncated) shingle array
    *    rides the band join and a bound evaluates pipelined inside it —
    *    each doc's array ships exactly numBands times, whatever the
    *    collision rate. Wins when band collisions amplify (the ×100
    *    rehearsal: 17.4M candidates; the first, full-array in-band form
    *    already cut 58→28.5 GiB of shuffle and 268→200 s there).
    *  - [[VerifyForm.Auto]]: decide from the measured band-bucket
    *    histogram (see [[chooseVerifyForm]]) — one small routing job.
    *    Callers that know their corpus (or loop over a cached input and
    *    don't want the extra job) pass Fetch/InBandTwoTier explicitly. */
  sealed trait VerifyForm
  object VerifyForm {
    case object Auto extends VerifyForm
    case object Fetch extends VerifyForm

    /** In-band with TRUNCATED hashes riding the band exchange (tier 1:
      * [[graft.expressions.JaccardUpperBound]] over 16-bit values — 4×
      * fewer array bytes than full 8-byte hashes) and one skinny
      * exact-re-verify fetch join over the pair-bounded tier-1
      * survivors (tier 2). Identical output to Fetch: tier 1 passes a
      * provable superset — the bound's distinct-elements precondition
      * is self-enforced (the kernel's fused dedup mode,
      * `trunc_hashes_distinct`), so multiset shingle arrays are safe
      * too. Only valid for `array<bigint>` shingle columns (the hashed
      * pipelines). */
    case object InBandTwoTier extends VerifyForm
  }

  /** In-band's measured per-shipped-array cost relative to fetch's: the
    * in-band form drags each array through the capBuckets window and the
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
    * the sparse half only adds n·B band rows), routed InBandTwoTier,
    * and min-of-2 alternating timings confirmed the routed form IS the
    * fastest: two-tier 88.0 s vs full-array in-band 104.5 s vs fetch
    * 311.0 s, identical 13,720-pair outputs. Measured NEGATIVE for
    * per-source routing: the cost model compares actual shipment counts
    * (2C vs κ·n·B), both of which aggregate correctly over a mixture,
    * so no per-source or per-partition-histogram split is needed. */
  val InBandCostFactor = 2.9

  /** Auto-route short-circuit: corpora at or below this many docs go
    * straight to the Fetch form without materializing the candidate set
    * for a routing count. Chosen an order of magnitude under the ×100
    * rehearsal corpus (500k docs — routed normally) and above every
    * sf0.1 bench corpus (≤ ~60k), so the short-circuit removes the
    * fixed q18 materialization cost without touching any measured
    * routed regime. All verify forms emit identical pair sets, so this
    * is purely a latency decision. */
  val AutoSmallCorpusN: Long = 100000L

  /** Cost-based verify routing from the MEASURED candidate count. Fetch
    * ships ~2 arrays per DISTINCT candidate pair; in-band ships every
    * doc's array once per band but pays ~[[InBandCostFactor]]× per array
    * — so in-band wins iff 2·C > κ·n·numBands. C is computed EXACTLY by
    * running the ids-only candidate join (skinny 8-byte rows — the cheap
    * part of either form; the expense both forms differ on is array
    * movement, which this job never does), with the same hot-bucket cap
    * the real run applies. A band-0 histogram estimator was tried first
    * and REJECTED: Σ_bands pairs overestimates C by the cross-band
    * dedup factor (1 for band-local false positives, numBands for true
    * dups that collide everywhere), which mis-routed the dup-heavy ×30
    * rehearsal corpus; the exact count has no such regime dependence. */
  def chooseVerifyForm(hashed: DataFrame, idCol: String, hCol: String,
                       numHashes: Int, numBands: Int, rowsPerBand: Int,
                       maxBucket: Int = DefaultMaxBucket): VerifyForm = {
    val n = hashed.select(col(idCol)).count()
    val sigs = signaturesFromHashArray(hashed, idCol, hCol, numHashes)
    val c = candidatePairs(sigs, idCol, "__sig", numBands, rowsPerBand, maxBucket)
      .count()
    if (inBandFits(hashed, hCol) && inBandWins(c, n, numBands))
      VerifyForm.InBandTwoTier
    else VerifyForm.Fetch
  }

  /** Whether a routed in-band decision can run: the two-tier form needs
    * `array<bigint>` shingles (TruncHashes' input type); any other
    * element type runs Fetch, which emits the identical pairs. No
    * full-array in-band form serves them: two-tier beat one at every
    * measured corpus (×30 c8 13.1 vs 18.9 s, ×100 c8 57.5 vs 75.2 s,
    * and the [[InBandCostFactor]] points). */
  private def inBandFits(hashed: DataFrame, hCol: String): Boolean =
    hashed.schema(hCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
             org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    }

  private def inBandWins(c: Long, n: Long, numBands: Int): Boolean =
    2.0 * c > InBandCostFactor * n * numBands

  def nearDupPairsHashed(hashed: DataFrame, idCol: String, hCol: String,
                         numHashes: Int, numBands: Int, threshold: Double,
                         maxBucket: Int = DefaultMaxBucket,
                         verify: VerifyForm = VerifyForm.Auto): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val r = numHashes / numBands
    def fetch(cands: DataFrame) =
      verifyCandidates(hashed, idCol, hCol, cands, threshold)
    def inBand() =
      inBandTwoTierVerifyPairs(hashed, idCol, hCol, numHashes, numBands, r,
        threshold, maxBucket)
    def freshCands() = candidatePairs(
      signaturesFromHashArray(hashed, idCol, hCol, numHashes),
      idCol, "__sig", numBands, r, maxBucket)
    verify match {
      case VerifyForm.InBandTwoTier => inBand()
      case VerifyForm.Fetch  => fetch(freshCands())
      case VerifyForm.Auto if !inBandFits(hashed, hCol) => fetch(freshCands())
      case VerifyForm.Auto   =>
        val n = hashed.select(col(idCol)).count()
        // Small corpora skip the routing machinery entirely: in-band's
        // whole advantage is avoiding fat-array re-shipment at scale,
        // which is noise below [[AutoSmallCorpusN]] docs, while the
        // eager materialization the routing count needs is a FIXED cost
        // that roughly doubled q18 at sf0.1 (0.63→1.40 s, round-11
        // verdict). ×100 corpora (500k docs) are far above the
        // threshold, so routed behavior there is untouched — measured
        // q18 sf0.1 restored with q35 ×100 routing identical.
        if (n <= AutoSmallCorpusN) fetch(freshCands())
        else {
          // the routing count is observed in the job that MATERIALIZES
          // the ids-only candidate set; a Fetch decision then reuses the
          // materialization, so Auto costs nothing over the fetch form it
          // would have run anyway. The in-band branch RETURNS A PLAN THAT
          // NEVER READS the checkpoint, so it releases the blocks now.
          val (cands, c) = Checkpoints.materializeCounted(freshCands())
          if (inBandWins(c, n, numBands)) {
            Checkpoints.release(cands)
            inBand()
          } else fetch(cands)
        }
    }
  }

  /** Verify IN the band join, not after it — the large-corpus form. The
    * candidates→fetch form re-ships every document's shingle array once
    * per candidate PARTNER; with a moderate false-positive band-collision
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
    * collision. Output identical to Fetch by construction.
    * Requires `array<bigint>` shingles (TruncHashes' input type).
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
    * for current callers, but a future multiset-hash pipeline routed
    * here by element type alone (see [[inBandFits]]) would otherwise
    * silently lose true pairs (A=[x,x] vs B=[x]: set J = 1.0 but the
    * physical-length bound gives 0.5 < threshold). An `array_distinct`
    * wrapper was tried first and REVERTED: its boxed per-element
    * hashing cost ~10-20% of q35's ×100 wall (5-run medians 85.8 vs
    * 78.4 s, identical shuffle/spill) where the fused sort is
    * noise-level. Tier 2's JaccardSim and MinHashSig are
    * duplicate-insensitive already, so distinctness at tier 1 is the
    * only place the guarantee was load-bearing. */
  private def inBandTwoTierVerifyPairs(hashed: DataFrame, idCol: String,
                                       hCol: String, numHashes: Int,
                                       numBands: Int, rowsPerBand: Int,
                                       threshold: Double, maxBucket: Int): DataFrame = {
    val rows = hashed.select(col(idCol),
        graft.expressions.TruncHashes.trunc_hashes_distinct(col(hCol), 16)
          .as("__tr"),
        explode(bandKeys(
          graft.expressions.MinHashSig.minhash_sig(col(hCol), numHashes),
          numBands, rowsPerBand)).as("__bk"))
      .select(col(idCol), col("__tr"),
        col("__bk.band").as("band"), col("__bk.key").as("key"))
    val capped = capBuckets(rows, maxBucket)
    val l = capped.select(col(idCol).as("a"), col("__tr").as("__tr_a"),
      col("band"), col("key"))
    val rr = capped.select(col(idCol).as("b"), col("__tr").as("__tr_b"),
      col("band"), col("key"))
    val survivors = l.join(rr, Seq("band", "key"))
      .filter(col("a") < col("b"))
      .filter(graft.expressions.JaccardUpperBound.jaccard_upper(
        col("__tr_a"), col("__tr_b")) >= threshold)
      .select("a", "b")
      .distinct()
    verifyCandidates(hashed, idCol, hCol, survivors, threshold)
  }

  /** INCREMENTAL near-dup gate: candidates between a NEW batch and an
    * existing HISTORY corpus only (no within-batch, no within-history
    * pairs) — the F8 dedup-gate semantics lifted from exact hashes to
    * near-duplicates. A nightly ingest asks exactly this: "which incoming
    * documents near-duplicate something we already kept?"
    *
    * Scale shape: band keys are an equi-join between batch (small) and
    * history (the corpus). History's signatures/band keys depend only on
    * history — in deployment, persist them ONCE as a table bucketed by
    * (band, key) (`Sinks.bucketedWrite`) so each batch joins against the
    * index without recomputing (or reshuffling) the corpus. Output:
    * (batch_id, history_id, jaccard >= threshold). */
  def nearDupAgainstHashed(batchHashed: DataFrame, historyHashed: DataFrame,
                           idCol: String, hCol: String,
                           numHashes: Int, numBands: Int,
                           threshold: Double,
                           maxBucket: Int = DefaultMaxBucket): DataFrame =
    nearDupAgainstBandRows(batchHashed,
      historyBandRows(historyHashed, idCol, hCol, numHashes, numBands, maxBucket),
      historyHashed, idCol, hCol, numHashes, numBands, threshold, maxBucket)

  /** The history side's capped band-bucket membership rows
    * (`b, band, key`) — compute ONCE when a static history is probed by
    * many batches (`Checkpoints.materialize`, or `Sinks.bucketedWrite` by
    * (band, key) in a persistent deployment), then pass to
    * [[nearDupAgainstBandRows]]: each probe joins the prebuilt index
    * instead of re-running the corpus's signatures and banding. */
  def historyBandRows(historyHashed: DataFrame, idCol: String, hCol: String,
                      numHashes: Int, numBands: Int,
                      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val r = numHashes / numBands
    capBuckets(
      signaturesFromHashArray(historyHashed, idCol, hCol, numHashes)
        .select(col(idCol).as("b"),
          explode(bandKeys(col("__sig"), numBands, r)).as("bk"))
        .select(col("b"), col("bk.band").as("band"), col("bk.key").as("key")),
      maxBucket)
  }

  /** [[nearDupAgainstHashed]] against a PREBUILT history band index (see
    * [[historyBandRows]]). Identical output: the per-side bucket caps —
    * the bipartite blow-up is |batch ∩ bucket| × |history ∩ bucket|, so
    * each side's cap bounds any one bucket's output at maxBucket² — are
    * applied to the batch side here and were applied to the history side
    * when its index was built. */
  def nearDupAgainstBandRows(batchHashed: DataFrame, historyBands: DataFrame,
                             historySets: DataFrame,
                             idCol: String, hCol: String,
                             numHashes: Int, numBands: Int,
                             threshold: Double,
                             maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val r = numHashes / numBands
    val batchBands = capBuckets(
      signaturesFromHashArray(batchHashed, idCol, hCol, numHashes)
        .select(col(idCol).as("a"),
          explode(bandKeys(col("__sig"), numBands, r)).as("bk"))
        .select(col("a"), col("bk.band").as("band"), col("bk.key").as("key")),
      maxBucket)
    val cands = batchBands.join(historyBands, Seq("band", "key"))
      .select("a", "b").distinct()
    val setsA = batchHashed.select(col(idCol).as("a"), col(hCol).as("__sh_a"))
    val setsB = historySets.select(col(idCol).as("b"), col(hCol).as("__sh_b"))
    val jac = jaccardExpr(batchHashed.schema(hCol).dataType)
    cands.join(setsA, "a").join(setsB, "b")
      .withColumn("jaccard", jac(col("__sh_a"), col("__sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("a").as("batch_id"), col("b").as("history_id"), col("jaccard"))
  }

  private def verifyCandidates(sets: DataFrame, idCol: String, setCol: String,
                               cands: DataFrame, threshold: Double): DataFrame = {
    val setsA = sets.select(col(idCol).as("a"), col(setCol).as("__sh_a"))
    val setsB = sets.select(col(idCol).as("b"), col(setCol).as("__sh_b"))
    val jac = jaccardExpr(sets.schema(setCol).dataType)
    cands.join(setsA, "a").join(setsB, "b")
      .withColumn("jaccard", jac(col("__sh_a"), col("__sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("jaccard"))
  }
}
