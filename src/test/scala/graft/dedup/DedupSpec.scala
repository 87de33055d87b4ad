package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.text.TextOps

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  // ---- F8 gate: the reference's one real invariant (test_reddit.py:12-15) ----

  test("dedupGate: ingest is idempotent — second run adds zero rows") {
    val batch = ExactDedup.withTextHash(
      docs(1L -> "alpha beta", 2L -> "gamma delta"), "text")
    val history0 = batch.limit(0)
    val history1 = ExactDedup.ingest(batch, history0, "text_hash")
    assert(history1.count() == 2)
    val history2 = ExactDedup.ingest(batch, history1, "text_hash")
    assert(history2.count() == 2) // run twice → all skipped
  }

  test("dedupGate drops only hashes present in history") {
    val batch = ExactDedup.withTextHash(docs(1L -> "seen", 2L -> "new"), "text")
    val history = ExactDedup.withTextHash(docs(99L -> "seen"), "text")
    val out = ExactDedup.dedupGate(batch, history, "text_hash")
      .select("doc_id").as[Long].collect()
    assert(out.sameElements(Array(2L)))
  }

  test("keepers: deterministic min-key survivor per hash") {
    val d = ExactDedup.withTextHash(
      docs(5L -> "dup", 3L -> "dup", 9L -> "other"), "text")
    val out = ExactDedup.keepers(d, "text_hash", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(out.sameElements(Array(3L, 9L)))
  }

  test("pruneHistory keeps only rows within the 7-day horizon (W4)") {
    val h = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-03-01 00:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-02-10 00:00:00")),
    ).toDF("id", "ts")
    val now = lit(java.sql.Timestamp.valueOf("2024-03-05 00:00:00"))
    val kept = ExactDedup.pruneHistory(h, "ts", now).select("id").as[Long].collect()
    assert(kept.sameElements(Array(1L)))
  }

  // ---- MinHash LSH ----

  private def wordHashed(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    .select(col("doc_id"), graft.expressions.NgramHashes.word_ngram_hashes(col("text"), 3).as("sh"))

  test("minhash LSH finds a planted near-dup pair and not the unrelated doc") {
    val base = (1 to 80).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 80).map(i => if (i == 40) "CHANGED" else s"tok$i").mkString(" ")
    val other = (1 to 80).map(i => s"zzz$i").mkString(" ")
    val d = wordHashed(Seq(1L -> base, 2L -> nearDup, 3L -> other))
    val pairs = MinHashLSH.nearDupPairsHashed(d, "doc_id", "sh", 64, 16, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.sameElements(Array((1L, 2L))))
  }

  test("nearDupAgainstHashed: bipartite gate reports batch-vs-history only") {
    val base = (1 to 80).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 80).map(i => if (i == 40) "CHANGED" else s"tok$i").mkString(" ")
    val nearDup2 = (1 to 80).map(i => if (i == 41) "ALSO" else s"tok$i").mkString(" ")
    val other = (1 to 80).map(i => s"zzz$i").mkString(" ")
    // history: base + unrelated; batch: two near-dups of base (which also
    // near-dup EACH OTHER — that within-batch pair must NOT be reported)
    val history = wordHashed(Seq(1L -> base, 2L -> other))
    val batch = wordHashed(Seq(10L -> nearDup, 11L -> nearDup2))
    val got = MinHashLSH.nearDupAgainstHashed(batch, history, "doc_id", "sh",
        numHashes = 64, numBands = 16, threshold = 0.8)
      .select("batch_id", "history_id").as[(Long, Long)].collect().toSet
    assert(got == Set((10L, 1L), (11L, 1L)))
  }

  test("hot-bucket guard: identical docs past MaxBucket stay near-linear; " +
       "honest pairs survive") {
    // MaxBucket + 200 byte-identical docs — WITHOUT the guard their
    // shared band buckets emit ~1200²/2 ≈ 720k candidate pairs; the cap
    // drops those buckets entirely, and the honest near-dup pair (its
    // buckets hold 2 docs) is untouched.
    val boiler = (1 to 60).map(i => s"boiler$i").mkString(" ")
    val base = (1 to 80).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 80).map(i => if (i == 40) "CHANGED" else s"tok$i").mkString(" ")
    val copies = MinHashLSH.MaxBucket + 200L
    val d = wordHashed((1L to copies).map(_ -> boiler) ++
      Seq(5000L -> base, 5001L -> nearDup))
    val sigs = MinHashLSH.signaturesFromHashArray(d, "doc_id", "sh", 64)
    val got = MinHashLSH.candidatePairs(sigs, "doc_id", "__sig",
      numBands = 16, rowsPerBand = 4).as[(Long, Long)].collect()
    assert(got.length == 1, s"expected 1 candidate pair, got ${got.length}")
    assert(got(0) == ((5000L, 5001L)))

    // end to end: verified output is exactly the honest pair
    val pairs = MinHashLSH.nearDupPairsHashed(d, "doc_id", "sh", 64, 16, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.sameElements(Array((5000L, 5001L))))
  }

  test("hot-bucket guard caps the bipartite gate's history side too") {
    val boiler = (1 to 60).map(i => s"boiler$i").mkString(" ")
    val base = (1 to 80).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 80).map(i => if (i == 40) "CHANGED" else s"tok$i").mkString(" ")
    val copies = MinHashLSH.MaxBucket + 100L
    val history = wordHashed((1L to copies).map(_ -> boiler) :+ (5000L -> base))
    val batch = wordHashed(Seq(6000L -> boiler, 6001L -> nearDup))
    val got = MinHashLSH.nearDupAgainstHashed(batch, history, "doc_id", "sh",
        numHashes = 64, numBands = 16, threshold = 0.8)
      .select("batch_id", "history_id").as[(Long, Long)].collect().toSet
    // the boilerplate match is suppressed by the cap; the honest one survives
    assert(got == Set((6001L, 5000L)))
  }

  test("verify router: boilerplate density, not corpus size, picks the form") {
    // the routing decision nearDupPairsHashed makes past AutoSmallCorpusN,
    // from the exact candidate count C
    def routesInBand(rows: Seq[(Long, String)]): Boolean = {
      val h = wordHashed(rows)
      val c = MinHashLSH.candidatePairs(
        MinHashLSH.signaturesFromHashArray(h, "doc_id", "sh", 64),
        "doc_id", "__sig", numBands = 16, rowsPerBand = 4).count()
      MinHashLSH.inBandWins(c, h.count(), numBands = 16)
    }
    // 2000 docs = 20 templates × 100 copies: identical copies collide in
    // every band, so C = 20·C(100,2) ≈ 99k distinct candidate pairs and
    // 2C/(n·B) = (copies−1)/16 ≈ 6.2 — the fetch form would ship each
    // array ~99× where in-band ships it numBands×. A fixed 100k-doc
    // crossover (the old router) would have called this Fetch; the
    // measured candidate count calls it InBand (6.2 > κ = 2.9 with 2×
    // margin).
    assert(routesInBand((1L to 2000L).map(i =>
      i -> (1 to 40).map(w => s"tpl${i % 20}_w$w").mkString(" "))))
    // 300 all-distinct docs: buckets are singletons, zero expected
    // partners — Fetch.
    assert(!routesInBand((1L to 300L).map(i =>
      i -> (1 to 40).map(w => s"doc${i}_w$w").mkString(" "))))
    // BOUNDARY pin for the round-11 recalibration: 42 copies/template
    // puts 2C/(n·B) = (42−1)/16 ≈ 2.56 INSIDE the old κ=2 in-band
    // region but BELOW the measured crossover (×60 probe: fetch still
    // wins at 2.83; κ = 2.9). This corpus must route Fetch — it
    // regresses if κ ever drifts back under ~2.6.
    assert(!routesInBand((1L to 840L).map(i =>
      i -> (1 to 40).map(w => s"tpl${i % 20}_w$w").mkString(" "))))
  }

  test("Auto on a small corpus short-circuits to Fetch: no candidate-set " +
       "materialization, identical pairs") {
    // In-band-WINNING density (same 20-template × 100-copy shape the
    // router test proves routes InBand by cost model) but n = 2000 ≤
    // AutoSmallCorpusN: routing must skip the candidate count entirely —
    // the eager localCheckpoint is a fixed cost that roughly doubled q18
    // at sf0.1 and is noise-level savings at small n.
    val boiler = wordHashed((1L to 2000L).map(i =>
      i -> (1 to 40).map(w => s"tpl${i % 20}_w$w").mkString(" ")))
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val auto = MinHashLSH.nearDupPairsHashed(boiler, "doc_id", "sh", 64, 16, 0.8)
    assert(spark.sparkContext.getPersistentRDDs.keySet == persistedBefore,
      "small-corpus Auto must not materialize (localCheckpoint) the candidate set")
    val fetch = MinHashLSH.fetchPairs(boiler, "doc_id", "sh", 64, 16, 0.8)
    assert(auto.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet ==
      fetch.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet)
  }

  test("Auto in-band decision releases the routing checkpoint eagerly " +
       "(round-11 ADVICE: no GB-scale accumulation across a long session)") {
    import graft.expressions.NgramHashes
    // Above AutoSmallCorpusN with heavy clone density so the routing
    // count decides in-band: 110k docs = 20 templates × 5.5k copies.
    // inBandWins needs 2C > 2.9·n·16 ≈ 5.1M; C = 20·C(5500,2) ≈ 302M
    // DISTINCT pairs would be enormous — but candidatePairs caps hot
    // buckets at MaxBucket, so use a capped-bucket corpus: 1100 templates
    // × 100 copies = 110k docs, C = 1100·C(100,2) ≈ 5.45M > 2.55M ✓.
    // The in-band branch RETURNS AN UNEXECUTED PLAN; the routing
    // checkpoint must already be unpersisted when the call returns —
    // ContextCleaner release would wait for a driver GC.
    val big = (1L to 110000L).map(i =>
      i -> (1 to 12).map(w => s"tpl${i % 1100}_w$w").mkString(" "))
      .toDF("doc_id", "text").repartition(32)
      .select(col("doc_id"), NgramHashes.word_ngram_hashes(col("text"), 3).as("sh"))
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val plan = MinHashLSH.nearDupPairsHashed(big, "doc_id", "sh", 64, 16, 0.8)
    assert(spark.sparkContext.getPersistentRDDs.keySet == persistedBefore,
      "in-band-winning Auto must unpersist the routing checkpoint before returning")
    assert(plan.columns.contains("jaccard")) // plan built, never executed here
  }

  test("construction jobs: the routed self-join runs only its row count; " +
       "the bipartite gate and the history index run none") {
    val d = wordHashed((1L to 300L).map(i =>
      i -> (1 to 40).map(w => s"doc${i}_w$w").mkString(" ")))
    val hist = d.filter(col("doc_id") <= 100L)
    assert(d.count() <= MinHashLSH.AutoSmallCorpusN)
    // the routing row count, which adaptive execution runs as two jobs
    // (its exchange's map stage, then the final aggregate)
    val rowCount = jobsOf(d.select(col("doc_id")).count())
    assert(rowCount == 2)
    assert(jobsOf(MinHashLSH.nearDupPairsHashed(d, "doc_id", "sh", 64, 16, 0.8)) == rowCount)
    assert(jobsOf(MinHashLSH.nearDupAgainstHashed(d, hist, "doc_id", "sh", 64, 16, 0.8)) == 0)
    assert(jobsOf(MinHashLSH.historyBandRows(hist, "doc_id", "sh", 64, 16)) == 0)
  }

  /** (fetch, in-band two-tier) pairs of `d`, each form run unrouted. */
  private def bothForms(d: DataFrame) = {
    def run(form: (DataFrame, String, String, Int, Int, Double) => DataFrame) =
      form(d, "doc_id", "sh", 64, 16, 0.8)
        .select("doc_a", "doc_b", "jaccard")
        .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2))
    (run(MinHashLSH.fetchPairs), run(MinHashLSH.inBandTwoTierPairs))
  }

  test("explicit verify forms produce the identical pair set (no routing job)") {
    val base = (1 to 80).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 80).map(i => if (i == 40) "CHANGED" else s"tok$i").mkString(" ")
    val near2 = (1 to 80).map(i => if (i == 7) "OTHER" else s"tok$i").mkString(" ")
    val other = (1 to 80).map(i => s"zzz$i").mkString(" ")
    val (fetch, twoTier) = bothForms(
      wordHashed(Seq(1L -> base, 2L -> nearDup, 3L -> near2, 4L -> other)))
    assert(fetch.nonEmpty && fetch.sameElements(twoTier))
  }

  test("two-tier verify keeps a true pair that NAIVE truncation would drop") {
    // Adversarial construction: a J = 0.82 pair whose intersection holds
    // 30 low-16-bit-colliding element PAIRS {k, k + 65536}, so the naive
    // distinct-set Jaccard of the truncated arrays deflates to
    // 52/70 ≈ 0.743 < 0.8 — a tier 1 built on naive truncated Jaccard
    // would silently DROP a true near-dup. The multiset upper bound
    // keeps both copies (i_up >= 82, J_up >= 0.82), tier 2 verifies it
    // exactly, and the emitted pair set matches the fetch form.
    val collide = (1L to 30L).flatMap(k => Seq(k, k + 65536L)) // 60 elems, 30 low16 values
    val uniqueI = (1L to 22L).map(j => 200L + j)               // 22 more intersection elems
    val inter = (collide ++ uniqueI).toArray                   // |I| = 82
    val a = inter ++ (1L to 9L).map(j => 5000L + j)            // |A| = 91
    val b = inter ++ (1L to 9L).map(j => 6000L + j)            // |B| = 91, u = 100
    val d = Seq(1L -> a, 2L -> b).toDF("doc_id", "sh")
    // sanity: the naive truncated distinct-set Jaccard is below threshold
    val naive = d.agg(min(lit(1))).sparkSession.range(1).select(
      graft.expressions.JaccardSim.jaccard_sim(
        typedLit(a.map(x => x & 0xffffL).distinct.sorted.toSeq),
        typedLit(b.map(x => x & 0xffffL).distinct.sorted.toSeq)).as("j"))
      .as[Double].collect()(0)
    assert(naive < 0.8, s"construction broken: naive truncated J $naive not < 0.8")
    val (fetch, twoTier) = bothForms(d)
    assert(fetch.sameElements(twoTier))
    assert(twoTier.map(p => (p._1, p._2)).toSet == Set((1L, 2L)),
      s"expected the true near-dup pair to survive, got ${twoTier.mkString(",")}")
  }

  test("two-tier verify is safe on MULTISET shingle arrays") {
    // A multiset array<bigint> pipeline (per-occurrence hashes, no
    // distinct) can reach the two-tier form. A and B here are the SAME
    // 100-element set (exact set J = 1.0) but A carries every element
    // twice: a physical-length bound would give i_up = Σ min(2, 1) = 100,
    // J_up = 100/(200+100-100) = 0.5 < 0.8 and silently DROP the pair.
    // The two-tier form self-enforces the bound's distinct-elements
    // precondition (trunc_hashes_distinct), so the pair survives and
    // matches the duplicate-insensitive fetch form exactly.
    val set = (1L to 100L).toArray
    val (fetch, twoTier) = bothForms(Seq(1L -> (set ++ set), 2L -> set).toDF("doc_id", "sh"))
    assert(fetch.sameElements(twoTier))
    assert(twoTier.map(p => (p._1, p._2, p._3)).toSet == Set((1L, 2L, 1.0)),
      s"expected the identical-set pair at J=1.0, got ${twoTier.mkString(",")}")
  }

  test("minhash signature agreement estimates jaccard (statistical property)") {
    // hashed sets with known overlap: |A∩B| = 60, |A∪B| = 180
    val rnd = new scala.util.Random(7)
    val hs = Seq.fill(180)(rnd.nextLong())
    val (a, b) = (hs.take(100), hs.drop(40))
    val sigs = Seq((1L, a), (2L, b)).toDF("id", "sh")
      .select(col("id"), graft.expressions.MinHashSig.minhash_sig(col("sh"), 128).as("sig"))
      .orderBy("id").select("sig").as[Seq[Long]].collect()
    val agree = sigs(0).zip(sigs(1)).count { case (x, y) => x == y }.toDouble / 128
    val trueJ = 60.0 / 180.0
    assert(math.abs(agree - trueJ) < 0.15, s"estimate $agree vs true $trueJ")
  }

  // ---- SimHash ----

  test("simhash: identical docs collide, near-dups land within small hamming") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val near = (1 to 60).map(i => if (i == 30) "x" else s"w$i").mkString(" ")
    val d = docs(1L -> base, 2L -> base, 3L -> near)
      .select(col("doc_id"), SimHash.simhash(TextOps.tokens(col("text"))).as("sim"))
    val sims = d.orderBy("doc_id").select("sim").as[Long].collect()
    assert(sims(0) == sims(1))
    val dist = java.lang.Long.bitCount(sims(0) ^ sims(2))
    assert(dist > 0 && dist <= 10, s"near-dup hamming was $dist")
  }

  test("hammingPairs recalls all pairs within maxDist (pigeonhole banding)") {
    // signatures with known distances: 0b0, 0b111 (d=3), 0b1111111 (d=7 from 0)
    val d = Seq((1L, 0L), (2L, 7L), (3L, 127L)).toDF("id", "sim")
    val pairs = SimHash.hammingPairs(d, "id", "sim", maxDist = 3)
      .select("a", "b", "hamming").as[(Long, Long, Int)].collect().sortBy(p => (p._1, p._2))
    // d(0,7)=3 ok; d(0,127)=7 no; d(7,127)=4 no
    assert(pairs.sameElements(Array((1L, 2L, 3))))
  }
}
