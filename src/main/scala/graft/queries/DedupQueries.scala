package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.dedup.{Clusters, ExactDedup, MinHashLSH, PrefixFilterJoin, SimHash}
import graft.text.TextOps
import graft.ops.Checkpoints

/** Deduplication operator coverage over `documents` (SURVEY.md F8/W4 +
  * the north-star corpus-dedup operators). Every oracle is ground truth
  * computed independently in DuckDB — pair generation through the LINEAR
  * shared-shingle equi-join ([[pairCtes]]: identical result set to an
  * all-pairs join, tractable at every SF including sf0.1) — so the Spark
  * side's LSH/banding must achieve exact recall at the declared
  * thresholds, which the band/chunk parameters guarantee (see each
  * library's scaladoc for the probability/pigeonhole argument).
  */
object DedupQueries {

  type Q = (SparkSession, String) => DataFrame

  /** `cols` of `df` plus the curation quality gate's inputs: n_words and
    * n_distinct of the tokenized `text`. */
  private def withGateCounts(df: DataFrame, cols: String*): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    df.select(cols.map(col) ++ Seq(size(toks).as("n_words"),
      size(array_distinct(toks)).as("n_distinct")): _*)
  }

  /** The curation quality gate over [[withGateCounts]]' columns, in
    * integer arithmetic: at least 20 words, at least 30% of them
    * distinct. */
  private def passesGate: Column =
    col("n_words") >= 20 && col("n_distinct") * 10 >= col("n_words") * 3

  /** `cols` of the documents of `df` that pass the quality gate, plus
    * n_words and n_distinct. */
  private def qualityGated(df: DataFrame, cols: String*): DataFrame =
    withGateCounts(df, cols: _*).filter(passesGate)

  /** The word-level near-dup recipe every q18-family query runs:
    * 64 MinHashes in 16 bands × 4 rows over word 3-gram hashes
    * ([[wordGrams]]), exact Jaccard >= 0.8. A J=0.9 pair is missed with
    * prob (1 - 0.9^4)^16 ~ 4e-8; the data's non-dup pairs sit below
    * J=0.3. (q35's char-8 recipe is its own.) */
  private val NumHashes = 64
  private val NumBands = 16
  private val Threshold = 0.8

  /** (doc_id, `cols`, sh) of `df`: sh is the word 3-gram hash array of
    * its `text` that the near-dup recipe runs on. */
  private def wordGrams(df: DataFrame, cols: String*): DataFrame =
    df.select(col("doc_id") +: cols.map(col) :+
      graft.expressions.NgramHashes.word_ngram_hashes(col("text"), 3).as("sh"): _*)

  /** Near-dup pairs (doc_a, doc_b, jaccard) among `df`'s documents by
    * the word-level recipe. */
  private def nearDupPairs(df: DataFrame): DataFrame =
    MinHashLSH.nearDupPairsHashed(wordGrams(df), "doc_id", "sh", NumHashes, NumBands, Threshold)

  /** F8 dedup gate: src0 is the 7-day history, src1..9 the incoming batch.
    * Within-batch keeper selection (deterministic min doc_id per hash),
    * then left-anti join against history hashes. Exercises O2 + J3 + F8. */
  val q17DedupGate: Q = (s, dir) => {
    val d = ExactDedup.withTextHash(Tables(s, dir, "documents"), "text")
    val history = d.filter(col("source") === "src0")
    val batch = d.filter(col("source") =!= "src0")
    val kept = ExactDedup.keepers(batch, "text_hash", "doc_id")
    ExactDedup.dedupGate(kept, history, "text_hash")
      .select("doc_id", "text_hash")
      .orderBy("doc_id")
  }

  /** MinHash+LSH near-dup pairs at Jaccard >= 0.8 over 3-word shingles
    * ([[NumHashes]]): the verify stage computes exact Jaccard on
    * candidates only. */
  val q18MinhashPairs: Q = (s, dir) => {
    nearDupPairs(Tables(s, dir, "documents"))
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Per-document 48-bit SimHash — cross-engine bit-exact (md5-derived
    * token hashes, majority vote per bit). */
  val q19Simhash: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    SimHash.simhashDF(d, "doc_id", TextOps.tokens(col("text")))
      .orderBy("doc_id")
  }

  /** SimHash near-dup pairs within Hamming distance 3, via the pigeonhole
    * 4-chunk banded join (exact recall, no cross join). Oracle is the
    * all-pairs ground truth. */
  val q20SimhashPairs: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val sims = SimHash.simhashDF(d, "doc_id", TextOps.tokens(col("text")))
    SimHash.hammingPairs(sims, "doc_id", "simhash", maxDist = 3)
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** Character-8-gram Jaccard near-dup pairs at >= 0.7 — the char-level
    * n-gram variant of q18 (robust to tokenization differences), same
    * MinHash-LSH candidate generation, ground-truth oracle. */
  val q35CharNgramPairs: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val sh = d.select(col("doc_id"),
      graft.expressions.NgramHashes.char_ngram_hashes(col("text"), 8).as("sh"))
    MinHashLSH.nearDupPairsHashed(sh, "doc_id", "sh",
        numHashes = 64, numBands = 16, threshold = 0.7)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** DISTINCT word-n-gram STRING rows (doc_id, gram) with the oracle's
    * exact construction (split on whitespace runs, drop empties, n-word
    * grams joined by single spaces) — the string-space twin of
    * `NgramHashes.word_ngram_hashes` for operators whose oracle must
    * recompute the same gram set AND hash it (xxhash64 has no DuckDB
    * mirror; gram strings + md5 do).
    *
    * Built as posexplode → per-doc `lead` chain → codegen concat — NOT
    * an array `transform` HOF: the HOF form runs interpreted per gram
    * (the `MinHashLSH.signaturesFromBaseRows` lesson) and measured 12–19 s at sf0.1
    * where this form is ~1 s. The two windows share one (doc_id)
    * exchange. `keepShort` mirrors the 3-gram oracle's short-doc
    * fallback (whole token list as one gram — `concat_ws` skips the
    * null leads, which IS that gram); without it short docs emit
    * nothing (the 8-gram oracle's ELSE []). */
  private def gramRows(d: DataFrame, n: Int, keepShort: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id")
    val w = byDoc.orderBy("p0")
    val words = d.select(col("doc_id"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("p0", "w")))
      .filter(length(col("w")) > 0)
    val leadCols = (1 until n).map(k => lead(col("w"), k).over(w).as(s"w$k"))
    val withLeads = words.select(
      Seq(col("doc_id"), col("w"),
        count(lit(1)).over(byDoc).as("wc"),
        row_number().over(w).as("pos")) ++ leadCols: _*)
    val gram = concat_ws(" ", col("w") +: (1 until n).map(k => col(s"w$k")): _*)
    val full = withLeads
      .filter(col("pos") + (n - 1) <= col("wc") ||
        (if (keepShort) col("wc") < n && col("pos") === 1 else lit(false)))
      .select(col("doc_id"), gram.as("gram")).distinct()
    if (!keepShort) full
    else // empty/whitespace-only docs: the oracle's fallback is one "" gram
      full.unionByName(d.filter(length(trim(col("text"))) === 0)
        .select(col("doc_id"), lit("").as("gram")))
  }

  /** SKETCH CALIBRATION AUDIT — "how well does the MinHash estimate
    * track exact Jaccard on the pairs the sketch actually surfaces?":
    * the measurement a pipeline runs before trusting a banded sketch at
    * 100 TB, where exact verification of every candidate is the
    * dominant cost and a mis-calibrated estimator silently moves the
    * dedup threshold. A deterministic half-corpus sample (md5 bucket,
    * the q40 split machinery) runs a 32-hash/8-band MinHash whose base
    * hash is md5-derived (`TextOps.md5Int60` — same affine coefficient
    * family and P as the production xxhash64 sketch, so calibration
    * transfers), generates candidates through REAL banding, then per
    * estimate-decile reports pair count, mean estimated J (signature
    * agreement fraction), mean exact J (gram-set Jaccard), and mean
    * absolute error. The oracle replicates the identical deterministic
    * algorithm CTE-for-CTE with the coefficients inlined (q22/q34
    * implementation-parity precedent), candidate generation included —
    * so a banding or estimator regression shifts a bin and breaks the
    * hash. Cross-row means are decimal quantize-then-sum. */
  val q160SketchCalibration: Q = (s, dir) => {
    val P = MinHashLSH.P
    val nh = 32; val bands = 8; val rpb = 4
    val d = Tables(s, dir, "documents")
      .filter(pmod(TextOps.md5Int32(col("text")), lit(100)) < 50)
    val sh = d.select(col("doc_id"),
      TextOps.wordShingles(TextOps.tokens(col("text")), 3).as("grams"))
    val base = sh.select(col("doc_id"), explode(col("grams")).as("g"))
      .select(col("doc_id"), pmod(TextOps.md5Int60(col("g")), lit(P)).as("h"))
    // materialize the signatures ONCE: they feed FOUR consumers (both
    // sides of the banded self-join and both fetch joins below), and
    // each re-derivation re-runs the gram explode + per-gram md5 + the
    // 32-min aggregation over the corpus — the captured plan showed the
    // scan→Generate→HashAggregate signature subtree four times (22
    // Exchanges total). Signatures are 32 longs/doc (corpus-bounded,
    // way under the gram arrays), so the checkpoint is scale-safe.
    val sigs = Checkpoints.materialize(MinHashLSH.signaturesFromBaseRows(base, "doc_id", "h", nh))
    val bandRows = sigs.select(col("doc_id"), explode(array((0 until bands).map { j =>
        struct(lit(j).as("band"),
          array_join(transform(slice(col("__sig"), j * rpb + 1, rpb),
            x => x.cast("string")), ",").as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = bandRows.as("a").join(bandRows.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db")).distinct()
    val withSides = cand
      .join(sigs.select(col("doc_id").as("da"), col("__sig").as("sig_a")), "da")
      .join(sigs.select(col("doc_id").as("db"), col("__sig").as("sig_b")), "db")
      .join(sh.select(col("doc_id").as("da"), col("grams").as("g_a")), "da")
      .join(sh.select(col("doc_id").as("db"), col("grams").as("g_b")), "db")
    val agr = aggregate(zip_with(col("sig_a"), col("sig_b"),
      (x, y) => when(x === y, lit(1)).otherwise(lit(0))), lit(0), (acc, v) => acc + v)
    val est = agr.cast("double") / nh
    val inter = graft.expressions.SetIntersectSize.set_intersect_size(
      col("g_a"), col("g_b"))
    val exact = inter.cast("double") /
      (size(col("g_a")) + size(col("g_b")) - inter).cast("double")
    val dec = "decimal(28,12)"
    withSides.select(least(lit(9), floor(est * 10)).cast("int").as("bin"),
        est.as("est"), exact.as("exact"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("est").cast(dec)).cast("double") / count(lit(1)), 4)
          .as("mean_est"),
        round(sum(col("exact").cast(dec)).cast("double") / count(lit(1)), 4)
          .as("mean_exact"),
        round(sum(abs(col("est") - col("exact")).cast(dec)).cast("double")
          / count(lit(1)), 4).as("mae"))
      .orderBy("bin")
  }

  /** CLUSTER-LEVEL SPLIT LEAKAGE — the cluster-grain complement of
    * q44's pairwise decontamination: a near-dup CLUSTER whose members
    * land in different train/valid/test splits leaks the whole group
    * (every member is a paraphrase of every other through the chain),
    * even when some member pairs individually sit below the pair
    * report's radar. q39's connected components joined to q40's
    * deterministic md5 split, rolled up per cluster with per-split
    * member counts, keeping only clusters that span ≥ 2 splits — the
    * list a pipeline re-assigns (whole cluster to one split) before a
    * split ships. */
  val q163SplitLeakage: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val pairs = nearDupPairs(d)
    val clusters = Clusters.assign(pairs, "doc_a", "doc_b")
    val bucket = pmod(TextOps.md5Int32(col("text")), lit(100))
    val splits = d.select(col("doc_id"),
      when(bucket < 80, lit("train")).when(bucket < 90, lit("valid"))
        .otherwise(lit("test")).as("split"))
    clusters.select(col("id").as("doc_id"), col("cluster"))
      .join(splits, "doc_id")
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("split")).as("n_splits"),
        sum(when(col("split") === "train", lit(1L)).otherwise(lit(0L))).as("n_train"),
        sum(when(col("split") === "valid", lit(1L)).otherwise(lit(0L))).as("n_valid"),
        sum(when(col("split") === "test", lit(1L)).otherwise(lit(0L))).as("n_test"))
      .filter(col("n_splits") > 1)
      .orderBy("cluster")
  }

  /** STREAMING CURATION PIPELINE — the streaming twin of the batch
    * composition q157 certifies: quality gate → exact dedup with
    * keep-FIRST across micro-batches → near-dup gate against the kept
    * src0 history → exactly-once append, run as one continuous ingest
    * (the reference's actual operating mode — its lurkers tail sources
    * and upsert only unseen documents; `src/base.py:210-218` dedup gate,
    * `:272` bulk write).
    *
    * Stream ≡ batch comes from two properties, each carried by
    * construction rather than assertion: (1) the stream side is staged
    * as doc_id-RANGE files with pinned ascending mtimes (the q151
    * staging), so arrival order IS doc_id order and the cross-batch
    * keep-first keeper is the GLOBAL min doc_id per text hash — a
    * plain row_number in the oracle; (2) the near-dup gate probes a
    * STATIC kept history (src0), so each doc's verdict is independent
    * of batching (q147's envelope: no LSH bucket above the per-side
    * cap at these SFs). The exact-dedup key history is a (text_hash,
    * batch_id) table filtered to STRICTLY EARLIER batches on probe, so
    * a redelivered micro-batch reproduces its own output instead of
    * anti-joining against its own keys (the idempotentAppend partition
    * is per-batch, making the kept table exactly-once under re-runs).
    * Final surface: per-source survivor count + token mass. */
  val q167StreamingCuration: Q = (s, dir) => {
    // the staged corpus is shared (curationStagePath); the kept/seen
    // tables live in this application's own dir, and a re-run against
    // them within the run is a full redelivery, which the pipeline is
    // certified to reproduce exactly. q171 uses a SEPARATE dir so the
    // two queries never race on shared kept/seen partitions.
    streamingCuration(s, dir, curationTmp(s, "q167", dir))
  }

  /** KILL-AND-RESUME certification for the streaming curation pipeline —
    * the q156/q161 restart property applied to the COMPOSED q167
    * pipeline, whose cross-batch dedup state is TABLE-backed (the
    * seen/kept parquet tables plus the checkpoint's offset and commit
    * logs) rather than a state store: the Spark analog of the
    * reference's Redis work queue surviving worker death
    * (`/root/reference/src/workqueue/rediswq.py:85-166`). Life 1 ingests
    * only the earlier half of the staged corpus files (a pathGlobFilter
    * prefix — the staging stays immutable), the JVM's state-store cache
    * is dropped and a brand-new query resumes from the same checkpoint
    * over ALL files: the offset log keeps life 1's batches committed (no
    * redelivery), the resumed batches probe life 1's seen hashes for
    * their keep-first verdicts, and the final per-source aggregate must
    * equal the SAME batch oracle as q167. Non-vacuity: at least one
    * gated life-2 document must collide with a life-1 seen hash, so the
    * cross-batch keep-first gate demonstrably spans the kill. */
  val q171CurationRestart: Q = (s, dir) => {
    val tmp = curationTmp(s, "q171", dir)
    val ckpt = s"$tmp/ckpt-${System.nanoTime()}"
    val res = streamingCurationLives(s, dir, tmp, ckpt,
      lives = Seq(Some("part-0000[0-3]*"), None))
    // structural non-vacuity: life 2 must have RESUMED, not redelivered —
    // the seen table carries exactly batches {0,1} from life 1 (4 files
    // at 2/trigger behind the glob) and {2,3} from life 2
    val seenBatches = s.read.parquet(s"$tmp/seen")
      .select(col("batch_id").cast("long")) // partition col infers as int
      .distinct().collect().map(_.getLong(0)).toSet
    require(seenBatches == Set(0L, 1L, 2L, 3L),
      s"restart certification vacuous: seen batches $seenBatches != {0,1,2,3} " +
        "(life 2 redelivered or never resumed)")
    // strong non-vacuity — the keep-first gate must demonstrably SPAN the
    // kill: a gated life-2 document collides with a life-1 seen hash.
    // Only enforceable when the corpus has gate-surviving duplicate
    // groups on both sides of the kill boundary (sf0.01's corpus has no
    // exact-dup pairs outside src0 at all; sf0.1 and the rehearsal
    // corpora do, and the driver verifies there too).
    val streamPath = curationStagePath(s, dir)
    val fs = new org.apache.hadoop.fs.Path(streamPath)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(streamPath))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val boundaryId = s.read.parquet(parts(4).toString)
      .agg(min(col("doc_id"))).head().getLong(0)
    // the spanning property depends only on the (immutable) staged corpus
    // — computed once per keyed dir, memoized as a marker file
    val spanMarker = new org.apache.hadoop.fs.Path(tmp, "spanning.flag")
    val spanning: Boolean =
      if (fs.exists(spanMarker)) {
        val in = fs.open(spanMarker)
        try in.readByte() == 1 finally in.close()
      } else {
        val gated = ExactDedup.withTextHash(
          qualityGated(s.read.parquet(streamPath), "doc_id", "text"), "text")
        val n = gated
          .groupBy("text_hash")
          .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
          .filter(col("mn") < boundaryId && col("mx") >= boundaryId)
          .limit(1).count()
        val out = fs.create(spanMarker, true)
        out.writeByte(if (n > 0) 1 else 0)
        out.close()
        n > 0
      }
    if (spanning) {
      val life1Seen = s.read.parquet(s"$tmp/seen")
        .filter(col("batch_id") <= 1).select("text_hash")
      val gated2 = ExactDedup.withTextHash(
        qualityGated(s.read.parquet(streamPath).filter(col("doc_id") >= boundaryId),
          "doc_id", "text"),
        "text")
      val crossLife = gated2
        .join(life1Seen, Seq("text_hash"), "left_semi")
        .limit(1).count()
      require(crossLife > 0,
        "restart certification vacuous: the corpus has cross-boundary " +
          "duplicate groups but no life-2 document collided with a " +
          "life-1 seen hash (the cross-kill keep-first gate never fired)")
    }
    res
  }

  /** MID-BATCH kill certification — the worker-death mode q171 leaves
    * open: q171 kills BETWEEN batches (a glob hold-back at a file
    * boundary, so every batch either fully commits or never starts).
    * The reference's work-queue GC redelivers jobs that die MID-FLIGHT
    * (`/root/reference/src/workqueue/rediswq.py:85-166` — lease expires,
    * item returns to the main queue); the Spark analog is a crash AFTER
    * the foreachBatch sink writes but BEFORE the checkpoint commit, which
    * this harness forces with a poisoned batch (life 1's foreachBatch
    * throws after batch 1's writes complete). Life 2 resumes from the
    * same checkpoint: the offset log has batch 1 planned-but-uncommitted,
    * so Spark REPLAYS it — same batch id, same files — and the
    * idempotent per-batch partition overwrite must absorb the replay.
    *
    * Certified, not assumed: a driver-side delivery ledger proves
    * (a) batch 1 was delivered exactly twice — once per life — and its
    * pre-crash writes COMPLETED (the ledger records after the writes);
    * (b) committed batch 0 was NOT redelivered (the kill landed in the
    * write→commit window, not before the offset log);
    * (c) both deliveries kept identical content (count/id-sum/word-sum
    * fingerprint), and the final kept table's part=1 partition equals
    * that single-delivery fingerprint — written ONCE despite two writes.
    * The final aggregate must equal the same batch oracle as q167/q171
    * (the crash is a physical event, not a semantic one). */
  val q173MidBatchKill: Q = (s, dir) => {
    val tmp = curationTmp(s, "q173", dir)
    val ckpt = s"$tmp/ckpt-${System.nanoTime()}"
    val ledger = scala.collection.mutable.Buffer.empty[(Int, Long, Long, Long, Long)]
    val res = streamingCurationLives(s, dir, tmp, ckpt,
      lives = Seq(None, None), poison = Some((0, 1L)), ledger = Some(ledger))
    val deliveries = ledger.map(e => (e._1, e._2)).toList
    require(deliveries.count(_ == (0, 1L)) == 1 && deliveries.count(_ == (1, 1L)) == 1,
      s"mid-batch kill vacuous: poisoned batch not delivered once per life: $deliveries")
    require(!deliveries.contains((1, 0L)),
      s"committed batch 0 was redelivered — the kill landed before the " +
        s"offset log, not in the write-commit window: $deliveries")
    require(deliveries.toSet == Set((0, 0L), (0, 1L), (1, 1L), (1, 2L), (1, 3L)),
      s"unexpected delivery pattern: $deliveries")
    val fps = ledger.filter(_._2 == 1L).map(e => (e._3, e._4, e._5)).distinct
    require(fps.size == 1,
      s"replay wrote DIFFERENT content than the poisoned delivery: $fps")
    val p1 = s.read.parquet(s"$tmp/kept").filter(col("part") === 1)
      .agg(count(lit(1)), sum(col("doc_id")), sum(col("n_words").cast("long"))).head()
    def nz(i: Int) = if (p1.isNullAt(i)) 0L else p1.getLong(i)
    require((p1.getLong(0), nz(1), nz(2)) == fps.head,
      s"kept part=1 ${(p1.getLong(0), nz(1), nz(2))} != single-delivery " +
        s"fingerprint ${fps.head} — the replayed batch was not written-once")
    res
  }

  /** Working dir for one curation harness's MUTABLE artifacts (kept/seen
    * tables, sinks, checkpoints, non-vacuity flags): keyed by (tag,
    * documents-table content, layout version) — see [[KeyedWorkDir]] for
    * why content, not just path — private to this application and
    * deleted when it ends ([[KeyedWorkDir.runKeyed]]), so two processes
    * on one corpus never share it; the immutable staged input is shared
    * through [[curationStagePath]]. A regenerated corpus or a bumped
    * layout tag gets a fresh dir instead of mixing stale part=N
    * partitions into the aggregate. Bump the layout tag when the gate
    * predicate, files-per-trigger or sink partitioning changes. */
  private[queries] def curationTmp(s: SparkSession, tag: String, dir: String,
                                   layout: String = "L2"): String =
    KeyedWorkDir.runKeyed(s, tag, dir, "documents", layout)

  /** The staged stream corpus SHARED by q167/q171/q173 (and the specs):
    * all three harnesses stage the identical input (same filter, same
    * 8-way doc_id-range layout, same pinned mtimes), and the staged dir
    * is strictly IMMUTABLE once its `_GRAFT_STAGED` marker exists — so
    * one content-keyed copy serves every harness instead of three
    * (round-14 verdict "Next #7": on a fresh environment each staging
    * write was a full corpus-sized range write ×3; at the ×100 gates the
    * duplication was proportionally larger). Every MUTABLE artifact
    * (kept/seen tables, checkpoints, non-vacuity flags) stays in the
    * per-query [[curationTmp]] dir, so concurrent harnesses never write
    * into the shared dir — the per-tag layout was bumped L1→L2 when
    * staging moved out, orphaning old combined dirs to the LRU reaper. */
  private def curationStagePath(s: SparkSession, dir: String): String =
    s"${KeyedWorkDir.keyed(s, "curstage", dir, "documents", "L1")}/stream"

  /** q167's engine, parameterized by working dir so the spec can run the
    * WHOLE stream a second time against the same kept/seen tables (a
    * fresh checkpoint = every batch redelivered — the q86/q147
    * at-least-once discipline applied to the composed pipeline): the
    * per-batch partition overwrite replaces each batch's own output and
    * the strictly-earlier-batch probe reproduces each batch's dedup
    * verdicts, so full redelivery must leave the final aggregate
    * unchanged. Staging is idempotent (skip if present) so both runs
    * consume the identical files. */
  private[graft] def streamingCuration(s: SparkSession, dir: String,
                                       tmp: String): DataFrame =
    streamingCurationLives(s, dir, tmp,
      s"$tmp/ckpt-${System.nanoTime()}", lives = Seq(None))

  /** The curation engine's full generality: run the SAME checkpoint
    * through `lives` successive query lifetimes, life i reading only the
    * staged files its glob admits (None = all). q167 runs one unfiltered
    * life; q171 runs (earlier-half, all) — a mid-corpus kill + resume;
    * q173 runs (all, all) with a POISONED batch — a mid-BATCH kill.
    *
    * `poison` = (lifeIdx, batchId): that life's foreachBatch THROWS after
    * completing that batch's sink writes — a crash in the window between
    * the idempotent writes and the checkpoint commit, the exact failure
    * the reference's work-queue GC redelivers
    * (`/root/reference/src/workqueue/rediswq.py:85-166`); the next life
    * must REPLAY the batch. `ledger` (driver-side — foreachBatch runs on
    * the driver) records one (life, batchId, keptCount, keptIdSum,
    * keptWordSum) row per delivery, the content fingerprint the
    * written-once certification compares across deliveries. Both default
    * to off and cost nothing for q167/q171. */
  private[graft] def streamingCurationLives(s: SparkSession, dir: String,
                                            tmp: String, ckpt: String,
                                            lives: Seq[Option[String]],
                                            poison: Option[(Int, Long)] = None,
                                            ledger: Option[scala.collection.mutable.Buffer[
                                              (Int, Long, Long, Long, Long)]] = None): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val d = Tables(s, dir, "documents")
    val streamPath = curationStagePath(s, dir)
    val sp = new org.apache.hadoop.fs.Path(streamPath)
    val fs = sp.getFileSystem(s.sparkContext.hadoopConfiguration)
    // reuse gates on the _GRAFT_STAGED marker, NOT _SUCCESS: the parquet
    // commit writes _SUCCESS before the mtime-pinning loop below, so a
    // crash in that window would leave a dir that looks complete but
    // delivers files in unpinned (wrong) order — the marker is written
    // only after pinning (same pattern as TemporalQueries.stageRangedSide)
    val stagedMarker = new org.apache.hadoop.fs.Path(streamPath, "_GRAFT_STAGED")
    if (!fs.exists(stagedMarker)) {
      fs.delete(sp, true) // half-staged leftovers from a crashed run
      d.filter(col("source") =!= "src0")
        .repartitionByRange(8, col("doc_id"))
        .write.mode("overwrite").parquet(streamPath)
      // pin strictly increasing mtimes in part-file (= doc_id range) order
      val parts = fs.listStatus(sp).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val mbase = System.currentTimeMillis() - parts.length * 1000L
      parts.zipWithIndex.foreach { case (f, i) => fs.setTimes(f, mbase + i * 1000L, -1) }
      fs.create(stagedMarker, true).close()
    }

    val histHashed = Checkpoints.materialize(
      wordGrams(d.filter(col("source") === "src0")))
    // static history ⇒ band index built ONCE, probed by every micro-batch
    // (the deployment shape nearDupAgainstHashed's scaladoc prescribes)
    val histBands = Checkpoints.materialize(MinHashLSH.historyBandRows(histHashed,
      "doc_id", "sh", NumHashes, NumBands))
    val out = s"$tmp/kept"
    val seen = s"$tmp/seen"
    val schema = s.read.parquet(streamPath).schema
    def lifeWriter(glob: Option[String], lifeIdx: Int) = {
      val reader = s.readStream.schema(schema).option("maxFilesPerTrigger", 2)
      glob.foreach(g => reader.option("pathGlobFilter", g))
      reader.parquet(streamPath)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ss = batch.sparkSession
        val gated = qualityGated(batch, "doc_id", "source", "text")
        val k = ExactDedup.keepers(ExactDedup.withTextHash(gated, "text"),
          "text_hash", "doc_id", carryCols = Seq("source", "text", "n_words"))
        val seenPath = new org.apache.hadoop.fs.Path(seen)
        val fresh0 =
          if (fs.exists(seenPath)) {
            val prior = ss.read.parquet(seen)
              .filter(col("batch_id") < batchId).select("text_hash")
            k.join(prior, Seq("text_hash"), "left_anti")
          } else k
        // materialize the batch's gate→hash→keeper→anti-join lineage
        // ONCE: `fresh` feeds THREE consumers (the LSH probe below, the
        // kept sink write, the seen write — four with the q173 ledger),
        // and each re-ran the whole chain per batch (OPTIMIZATION_r16.md
        // §3: addBatch is 80-93% of the trio's trigger time). Blocks are
        // released at the end of the batch body.
        val fresh = Checkpoints.materialize(fresh0)
        val bh = wordGrams(fresh)
        val flagged = MinHashLSH.nearDupAgainstBandRows(bh, histBands,
            histHashed, "doc_id", "sh",
            NumHashes, NumBands, Threshold)
          .select(col("batch_id").as("doc_id")).distinct()
        val kept0 = fresh.join(flagged, Seq("doc_id"), "left_anti")
        // with the q173 ledger on, kept feeds TWO consumers (the sink
        // write and the fingerprint agg) — checkpoint once instead of
        // re-running the gate+dedup+LSH lineage per consumer (the ×100
        // sweep measured the re-run at ~25 s across q173's 5 deliveries);
        // ledger-off paths (q167/q171) keep the single-consumer lineage
        // (kept's remaining lineage is short now that `fresh` is
        // checkpointed above)
        val kept = if (ledger.isDefined) Checkpoints.materialize(kept0) else kept0
        graft.sinks.Sinks.idempotentAppend(
          kept.select(col("doc_id"), col("source"), col("n_words"))
            .withColumn("part", lit(batchId)),
          out, Seq("part"))
        // idempotent per-batch partition overwrite (not a plain append):
        // a redelivered batch replaces its own seen rows, so the table
        // does not grow across redeliveries/re-runs
        graft.sinks.Sinks.idempotentAppend(
          fresh.select(col("text_hash"), lit(batchId).as("batch_id")),
          seen, Seq("batch_id"))
        // q173 instrumentation: fingerprint what THIS delivery kept (the
        // written-once proof compares fingerprints across deliveries of
        // the replayed batch), then crash in the write→commit window
        ledger.foreach { buf =>
          val fp = kept.agg(count(lit(1)),
            sum(col("doc_id")), sum(col("n_words").cast("long"))).head()
          def nz(i: Int) = if (fp.isNullAt(i)) 0L else fp.getLong(i)
          buf.synchronized { buf += ((lifeIdx, batchId, fp.getLong(0), nz(1), nz(2))) }
        }
        // this batch's checkpoint blocks are dead once its writes (and
        // the ledger fingerprint) are done — release per batch instead
        // of accumulating batch-sized tables × triggers (before the
        // poison throw, so even the crashed delivery cleans up)
        Checkpoints.release(fresh)
        if (kept ne kept0) Checkpoints.release(kept)
        poison.foreach { case (pl, pb) =>
          if (pl == lifeIdx && pb == batchId)
            throw new RuntimeException(
              "GRAFT_POISON: deliberate crash after sink writes, before checkpoint commit")
        }
      }
      // fresh checkpoint per INVOCATION, shared across this invocation's
      // lives: a re-run of the whole pipeline against the same kept/seen
      // tables is a FULL redelivery, which the spec exploits as the
      // at-least-once certification; deleted after the final life so
      // repeated runs don't accumulate state dirs
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
    }
    // right-size the per-batch jobs (gate/dedup/LSH probe/writes run as
    // BATCH jobs inside foreachBatch and read the LIVE session conf, so
    // the setting must span awaitTermination, not just start()). Each
    // micro-batch holds ~1/4 of the corpus, so a quarter of the session's
    // corpus-sized setting fits it — NOT a hardcoded small constant,
    // which measured fine at sf0.1 (32→8) but undersized the ×100
    // rehearsal's batches (192→8 cost the sweep +33 s on this query).
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    try {
      s.conf.set("spark.sql.shuffle.partitions",
        math.max(8, prevParts.toInt / 4).toString)
      lives.zipWithIndex.foreach { case (glob, i) =>
        if (i > 0) // the kill between lives must be a real one
          org.apache.spark.sql.GraftStreamingBridge.unloadAllStateStores()
        try lifeWriter(glob, i).start().awaitTermination()
        catch {
          // the poisoned life dies by design; anything else propagates
          case e: Throwable if poison.exists(_._1 == i) && {
            var c: Throwable = e
            var hit = false
            while (c != null && !hit) {
              hit = String.valueOf(c.getMessage).contains("GRAFT_POISON")
              c = c.getCause
            }
            hit
          } => ()
        }
      }
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    // the history checkpoints are read only inside the (now finished)
    // stream lifetimes; the returned plan reads the kept table
    Checkpoints.release(histHashed)
    Checkpoints.release(histBands)
    fs.listStatus(new org.apache.hadoop.fs.Path(tmp)).map(_.getPath)
      .filter(_.getName.startsWith("ckpt-"))
      .foreach(p => fs.delete(p, true))
    s.read.parquet(out)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words").cast("long")).as("n_tokens"))
      .orderBy("source")
  }

  /** CURATION SURVIVORSHIP FUNNEL — the observability view every
    * pipeline logs next to its output: how many documents (and how much
    * token mass) survive each stage of the q167 composition — raw →
    * quality gate → exact-dedup keeper → near-dup-clean. Computed as
    * ONE doc-grain frame with per-stage boolean flags (keeper = min
    * doc_id per text hash via one vocab-sized join back; near-dup flags
    * from the banded probe of the src0 history, keepers only) and ONE
    * final conditional aggregate — the corpus is scanned once however
    * many stages the funnel reports, where the naive per-stage count
    * chain re-runs the lineage per stage. */
  val q170CurationFunnel: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val base = withGateCounts(d.filter(col("source") =!= "src0"), "doc_id", "text")
      .withColumn("pass_q", passesGate)
    // The funnel's gate→hash lineage feeds FOUR consumers (the keeper
    // aggregate, the keeper join, the LSH probe projection, the final
    // funnel aggregate), and each re-ran the scan + double tokenize +
    // text hash (8 documents scans in the executed plan). Checkpoint it
    // once — corpus-sized with `text` carried for the probe's n-gram
    // hashes, the BigramLm/q90 tradeoff: one materialization buys three
    // corpus re-scans + re-tokenizations. Values unchanged: every
    // consumer reads the same deterministic rows it used to recompute.
    val hashed = Checkpoints.materialize(ExactDedup.withTextHash(base, "text"))
    val keepers = hashed.filter(col("pass_q"))
      .groupBy("text_hash").agg(min(col("doc_id")).as("keeper_id"))
    val withKeep = hashed.join(keepers, Seq("text_hash"), "left")
      .withColumn("is_keeper", col("doc_id") === coalesce(col("keeper_id"), lit(-1L)))
    val hist = wordGrams(d.filter(col("source") === "src0"))
    val probe = wordGrams(withKeep.filter(col("is_keeper")))
    val flagged = MinHashLSH.nearDupAgainstHashed(probe, hist, "doc_id", "sh",
        NumHashes, NumBands, Threshold)
      .select(col("batch_id").as("doc_id"), lit(true).as("is_dup")).distinct()
    withKeep.join(flagged, Seq("doc_id"), "left")
      .agg(
        count(lit(1)).as("n_raw"),
        sum(when(col("pass_q"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("is_keeper"), 1L).otherwise(0L)).as("n_unique"),
        sum(when(col("is_keeper") && col("is_dup").isNull, 1L).otherwise(0L))
          .as("n_clean"),
        sum(col("n_words").cast("long")).as("tok_raw"),
        sum(when(col("is_keeper") && col("is_dup").isNull,
          col("n_words").cast("long")).otherwise(0L)).as("tok_clean"))
  }

  /** CLUSTER-SAFE SPLIT ASSIGNMENT — the FIX for the leakage q163
    * reports: every document's split is decided by its near-dup
    * cluster REPRESENTATIVE's text hash (singletons are their own
    * representative), so a whole paraphrase cluster lands in one split
    * by construction — the GPT-3-style leakage-safe split. Reuses the
    * q163 pair/cluster machinery unchanged; the only additions are two
    * doc-keyed joins (member → representative → representative's
    * bucket). Reports the shipped manifest: per split, member count,
    * cluster count, and how many docs MOVED relative to the naive
    * doc-level split — the audit number a pipeline logs when it
    * re-splits. */
  val q166ClusterSafeSplit: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val pairs = nearDupPairs(d)
    val clusters = Clusters.assign(pairs, "doc_a", "doc_b")
    def splitOf(bucket: Column): Column =
      when(bucket < 80, lit("train")).when(bucket < 90, lit("valid"))
        .otherwise(lit("test"))
    val bucket = pmod(TextOps.md5Int32(col("text")), lit(100))
    val base = d.select(col("doc_id"), splitOf(bucket).as("doc_split"))
      .join(clusters.select(col("id").as("doc_id"), col("cluster")),
        Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("cluster"), col("doc_id")))
    val repSplit = d.select(col("doc_id").as("rep"),
      splitOf(bucket).as("split"))
    base.join(repSplit, "rep")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("rep")).as("n_clusters"),
        sum(when(col("doc_split") =!= col("split"), lit(1L)).otherwise(lit(0L)))
          .as("n_moved"))
      .orderBy("split")
  }

  /** BOILERPLATE PASSAGE HOTLIST — the most widely repeated word
    * 8-grams across the corpus by document frequency: headers, footers,
    * licence blurbs, navigation chrome — the passages a curation
    * pipeline strips BEFORE near-dup detection (they glue unrelated
    * docs into spurious candidate pairs; C4/RefinedWeb both run this
    * pass). Distinct grams per doc (df counts documents, not repeats),
    * df ≥ 2, global top-20 by (df DESC, gram ASC) — a total order, so
    * the cut is deterministic; the global top-k lowers to TakeOrdered,
    * never a single-task global sort.
    *
    * Shape: gram construction is the codegen'd [[graft.expressions.WordGramStrings]]
    * kernel (the declarative transform/concat_ws chain under the
    * Generate re-ran the regex split per element_at — quadratic per doc,
    * 60 s of a 60 s query at sf0.1; the q115 trap again), and the df
    * count runs HASH-FIRST: phase 1 aggregates xxhash64(gram) — 8-byte
    * rows on the wire where raw grams would ship ~8× the corpus text —
    * and phase 2 recounts BY STRING only the grams whose hash survived
    * df ≥ 2 (a superset of the true survivors under collisions, so the
    * exact recount gives identical results). The two phases each scan
    * and re-gram the corpus — DELIBERATE: the kernel scan is linear and
    * cheap (2.5 s of the query at sf0.1), while persisting the exploded
    * gram strings would spill ~8× the corpus text to disk. The
    * survivor-hash set is boilerplate-sized by construction — that's
    * the list being mined — and goes through `Checkpoints.guardedBroadcast`:
    * past ~5M survivors (40 MB of longs) the semi-join
    * falls back to shuffle instead of OOMing the driver (the manual
    * remedy is still a higher df threshold, but the guard makes the
    * degradation graceful rather than fatal). */
  val q164BoilerplateNgrams: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val grams = d.select(explode(
      graft.expressions.WordGramStrings.word_gram_strings(col("text"), 8)).as("gram"))
    val cand = Checkpoints.guardedBroadcast(grams.select(xxhash64(col("gram")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("dfh"))
      .filter(col("dfh") >= 2)
      .select("h"))
    grams
      .join(cand, xxhash64(col("gram")) === cand("h"), "left_semi")
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .orderBy(col("df").desc, col("gram").asc)
      .limit(20)
  }

  /** CROSS-SOURCE DUPLICATION MATRIX — "which crawls overlap?": q18's
    * near-dup pairs joined to each side's source and rolled up to
    * (source_a, source_b) with pair count and summed Jaccard mass, the
    * corpus-observability view that tells a curation team which feeds
    * to dedup against each other first (and which mirror each other
    * wholesale). Source pairs are normalized lexicographically so both
    * directions fold together; the published statistic is the decimal
    * sum of the per-pair 4-decimal Jaccard grain (the grain q18
    * certifies) — the mean is (sum ÷ n) reader-side. Scale:
    * the pair table is the banded-join output (bounded), the source
    * lookup is a doc-count equi-join, the matrix is |sources|² rows. */
  val q162DupSourceMatrix: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val pairs = nearDupPairs(d)
    val src = d.select(col("doc_id"), col("source"))
    val dec = "decimal(28,12)"
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"),
        round(col("jaccard"), 4).as("j"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"),
        // SUM, not mean (×30 finding): the mean of 4-dp Jaccards is a
        // rational with TRUE ties at the display rounding (56769/60000
        // = .94615 exactly), and the two engines' round() disagree on
        // the non-representable tie double (Spark rounds the double's
        // exact expansion, DuckDB re-multiplies in double). The sum of
        // the 4-dp grain is decimal-exact at any pair count; a reader
        // derives the mean from (sum, n) at whatever precision they
        // need.
        round(sum(col("j").cast(dec)).cast("double"), 4).as("sum_jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Dedup CLUSTERS: near-dup pairs (as q18) → connected components →
    * (doc, cluster, representative). The step a corpus-scale dedup
    * pipeline runs after pair generation, so each group of mutual
    * near-duplicates keeps exactly one representative. Oracle: all-pairs
    * ground-truth edges + recursive-CTE transitive closure. */
  val q39DedupClusters: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val pairs = nearDupPairs(d)
    Clusters.assign(pairs, "doc_a", "doc_b")
      .select(col("id").as("doc_id"), col("cluster"), col("is_representative"))
      .orderBy("doc_id")
  }

  /** Train/eval DECONTAMINATION: near-dup pairs that straddle the
    * deterministic hash-split boundary (q40) — an eval document that is
    * a near-duplicate of a training document invalidates the eval; this
    * is the overlap report a training pipeline runs before every split
    * ships. Same banded candidate generation as q18 (no cross join);
    * split assignment joins in AFTER pair generation, so the pair pass
    * is shared with ordinary dedup. */
  val q44Decontamination: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val pairs = nearDupPairs(d)
    val bucket = pmod(TextOps.md5Int32(col("text")), lit(100))
    val splits = d.select(col("doc_id"),
      when(bucket < 80, lit("train")).when(bucket < 90, lit("valid"))
        .otherwise(lit("test")).as("split"))
    pairs
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
      .filter(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("split_a"), col("doc_b"), col("split_b"),
        round(col("jaccard"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** The DEDUPED CORPUS: near-dup pairs → clusters → drop every
    * non-representative member via a left-anti join, report per-source
    * survival — the end product the whole dedup suite exists to emit.
    * (The anti-join keys on doc_id. The drop set is pair-sized on a
    * typical corpus but corpus-FRACTION-sized on a dup-heavy one — e.g.
    * a mirror-heavy crawl where most docs are non-representatives — so
    * the broadcast is count-GUARDED: past ~5M ids the anti-join falls
    * back to shuffle instead of OOMing the driver.) */
  val q48DedupCorpus: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val pairs = nearDupPairs(d)
    val dupes = Clusters.assign(pairs, "doc_a", "doc_b")
      .filter(!col("is_representative"))
      .select(col("id").as("doc_id"))
    val kept = d.join(Checkpoints.guardedBroadcast(dupes),
      Seq("doc_id"), "left_anti")
    d.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(kept.groupBy("source").agg(count(lit(1)).as("n_kept")), Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_docs") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
      .orderBy("source")
  }

  /** Incremental near-dup gate (F8 at near-dup granularity): incoming
    * batch (src != src0) vs the kept history corpus (src0) — which new
    * docs near-duplicate something already ingested. Bipartite banded
    * join: no within-batch or within-history pairs, no cross join.
    * Oracle: all-pairs batch x history ground truth. */
  val q59IncrementalNeardup: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val sh = wordGrams(d, "source")
    val history = sh.filter(col("source") === "src0").select("doc_id", "sh")
    val batch = sh.filter(col("source") =!= "src0").select("doc_id", "sh")
    MinHashLSH.nearDupAgainstHashed(batch, history, "doc_id", "sh",
        NumHashes, NumBands, Threshold)
      .select(col("batch_id"), col("history_id"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("batch_id", "history_id")
  }

  /** Best-keeper cluster report: same pairs → components as q39, but the
    * representative is the member with the MOST CHARACTERS (ties →
    * lowest id) via `Clusters.representativesBy` — what production
    * corpus dedup actually keeps. One row per non-singleton cluster. */
  val q83BestKeeper: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val pairs = nearDupPairs(d)
    val members = Clusters.assign(pairs, "doc_a", "doc_b")
      .join(d.select(col("doc_id").as("id"), col("n_chars")), Seq("id"))
    Clusters.representativesBy(members, "id", "cluster",
        col("n_chars").cast("double"))
      .select(col("cluster"), col("n_members"), col("keeper"),
        col("keeper_priority").cast("long").as("keeper_chars"))
      .orderBy("cluster")
  }

  /** Same pairs → clusters as q39 but through the large-star/small-star
    * alternation (`Clusters.connectedComponentsStar`) — the O(log n)
    * -round variant for adversarially deep components; must produce the
    * identical clustering. */
  val q92StarClusters: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val pairs = nearDupPairs(d)
    Clusters.connectedComponentsStar(pairs, "doc_a", "doc_b")
      .select(col("v").as("doc_id"), col("component").as("cluster"),
        (col("v") === col("component")).as("is_representative"))
      .orderBy("doc_id")
  }

  /** EXACT Jaccard-pairs join at t = 3/5 via prefix filtering
    * (`dedup/PrefixFilterJoin`): unlike the probabilistic q18/q20, the
    * oracle here is ground truth — a brute token self-join in DuckDB
    * must produce the identical pair set, whatever algorithm found it.
    * (The oracle, not the query, is quadratic — it's on check.py's
    * --skip-quadratic list for sf0.1.) */
  val q115PrefixJaccard: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    // 3-word gram KEYS via the codegen'd WordGramKeys kernel, not
    // string shingles: one byte-scan per doc where the declarative
    // transform/concat_ws chain re-evaluated the tokenizer per element
    // (measured 13 s of a 15 s query at sf0.1). Unigram sets wouldn't
    // discriminate on this corpus (random pairs overlap 60%+; 3-gram
    // sets sit under 0.2). The oracle mirrors the identical md5
    // polynomial keys (the q69 pattern), so it stays an algorithm-
    // independent ground truth for Jaccard over gram keys.
    val sh = graft.expressions.WordGramKeys.word_gram_keys(col("text"), 3)
    // eager checkpoint before the presentation sort: the range
    // exchange's bounds-sampling pass executes its child twice, and
    // here the child is the whole candidate-verify join (the q24
    // lesson, OPTIMIZATION_r15.md) — ×100 28.95 -> 21.05 s min-of-2
    Checkpoints.materialize(PrefixFilterJoin.jaccardJoin(d, "doc_id", sh, tNum = 3, tDen = 5))
      .orderBy("doc_a", "doc_b")
  }

  /** DEDUP THRESHOLD SENSITIVITY CURVE — the tuning view a curation team
    * reads before picking a near-dup threshold: for each candidate
    * threshold, how many pairs fire and how many documents are
    * implicated. Built on the EXACT PPJoin pair set at the LOWEST tier
    * (q115's machinery at 0.6, full recall by construction — an
    * LSH-banded pair set would under-count the low tiers), then every
    * tier is a conditional aggregate over the integer tallies
    * (10·i ≥ k·|A∪B| — no doubles anywhere in the gates), so the whole
    * curve costs ONE similarity join however many tiers it reports (the
    * q170 one-scan-funnel pattern applied to threshold tuning). The
    * doc counts come from a doc-grain max-tier frame; the two 1-row
    * aggregates broadcast into the 4-row stack. */
  val q172DedupThresholdCurve: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val sh = graft.expressions.WordGramKeys.word_gram_keys(col("text"), 3)
    val tiers = Seq(6, 7, 8, 9)
    // the tally set is pair-bounded (25.6k rows at ×100) but its lineage
    // is the full PPJoin — checkpoint it so the two aggregate consumers
    // (pair counts, doc flags) don't run the similarity join twice
    // (measured: 73 s vs q115's 41 s for the same join at ×100)
    val tal = Checkpoints.materialize(
      PrefixFilterJoin.jaccardJoinTallies(d, "doc_id", sh, tNum = 3, tDen = 5)
        .select(col("doc_a"), col("doc_b"), col("i"),
          (col("na") + col("nb") - col("i")).as("u")))
    val pairRow = tal.agg(
      coalesce(sum(when(col("i") * 10 >= col("u") * tiers.head, 1L)
        .otherwise(0L)), lit(0L)).as(s"p${tiers.head}"),
      tiers.tail.map(k => coalesce(sum(when(col("i") * 10 >= col("u") * k, 1L)
        .otherwise(0L)), lit(0L)).as(s"p$k")): _*)
    val docFlags = tal
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"),
        col("i"), col("u"))
      .groupBy("doc_id")
      .agg(max(when(col("i") * 10 >= col("u") * tiers.head, 1)
        .otherwise(0)).as(s"m${tiers.head}"),
        tiers.tail.map(k => max(when(col("i") * 10 >= col("u") * k, 1)
          .otherwise(0)).as(s"m$k")): _*)
    val docRow = docFlags.agg(
      coalesce(sum(col(s"m${tiers.head}")), lit(0L)).as(s"d${tiers.head}"),
      tiers.tail.map(k => coalesce(sum(col(s"m$k")), lit(0L)).as(s"d$k")): _*)
    val stackArgs = tiers.map(k => s"${k / 10.0}d, p$k, d$k").mkString(", ")
    pairRow.crossJoin(broadcast(docRow))
      .select(expr(s"stack(${tiers.size}, $stackArgs) AS (threshold, n_pairs, n_docs)"))
      .orderBy("threshold")
  }

  /** End-to-end curation manifest — the composite the single-purpose
    * ops exist FOR, as one declarative plan: quality gate (length +
    * lexical-diversity, integer-arithmetic thresholds) → exact dedup
    * with deterministic keeper (`ExactDedup.keepers`) → per-source cap
    * of 50 in deterministic md5 draw order (`plans/BoundedTopK` — the
    * stratified-cap shape whose map-side heaps cut each source to 50
    * rows per input partition before the exchange). Three shuffles total (hash keepers, cap, final order);
    * every stage is the library op, not a re-derivation. */
  val q118CurationPipeline: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val gated = qualityGated(d, "doc_id", "source", "text")
    val keepers = ExactDedup.keepers(
      ExactDedup.withTextHash(gated, "text"),
      "text_hash", "doc_id", carryCols = Seq("source", "n_words"))
    graft.plans.BoundedTopK.perGroup(keepers, Seq("source"),
        Seq(md5(col("doc_id").cast("string")).asc, col("doc_id").asc), k = 50)
      .select(col("doc_id"), col("source"), col("n_words"))
      .orderBy("source", "doc_id")
  }

  /** The COMPOSED end-to-end curation pipeline — every dedup family
    * operator chained the way a 100 TB corpus actually runs them, as one
    * oracle-checked query: quality gate (q67/q118 thresholds) → exact
    * dedup keepers (q17) → near-dup clusters drop non-representatives
    * (q48) → SemDeDup semantic dedup over the survivors' embeddings
    * (q65, vec_id ≡ doc_id, adaptive k = max(16, ⌈√n⌉) over the
    * SURVIVOR count) → n-gram decontamination of the train split against
    * the test split (q57) → the final train manifest.
    *
    * Scale shape: the two natural warehouse staging points are
    * MATERIALIZED as bucketed staged tables (`Sinks.stagedTable`) — after
    * the text-hash dedup (the last text-sized intermediate) and after
    * semantic dedup (the corpus every downstream consumer reads) — so
    * each expensive stage is computed once, never re-derived per
    * consumer; every "drop" set (near-dup members, semantic drops,
    * contaminated docs) is pair-bounded on this corpus and broadcast —
    * count-GUARDED (dup-heavy corpora make drop sets corpus-fraction-
    * sized; past ~5M ids the anti-join degrades to shuffle, not a driver
    * OOM) — into a left-anti join, so no stage ever reshuffles the
    * corpus by anything but its own keys. Proves the operators COMPOSE under staging: each stage's
    * oracle mirror is the same SQL that checks it standalone. */
  val q157CurationE2e: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    // content-keyed staging suffix (the trainedCentroids argument — and
    // the corpus-B run additionally caught mixed-case dir-derived names
    // colliding with the catalog's lowercased managed locations) over
    // BOTH input tables: the dedup stage reads `embeddings` too
    // (round-13 ADVICE — regenerating embeddings in place while
    // documents stay put must mint a fresh key, not reuse stale staged
    // dedup output)
    val stagingTables = Seq("documents", "embeddings")
    // RUN-scoped (KeyedWorkDir.runScoped, round-15 verdict #1): the
    // keepers/dedup tables are COMPUTED intermediates — cross-run reuse
    // would let a warm warehouse skip the dedup stages the query is
    // supposed to time; within one run the stage-once sharing (a rerun
    // of q157 in the same session) is the certified warehouse shape.
    val stagingLayout = KeyedWorkDir.runScoped(s, "L1")
    val suffix = KeyedWorkDir.contentKey(s, dir, stagingTables, stagingLayout)
    // reap earlier generations' staged tables (see contentKeyedTable);
    // both q157 prefixes share the suffix so one pass each suffices
    KeyedWorkDir.contentKeyedTable(s, "graft_q157_keepers_", dir, stagingTables, stagingLayout)
    KeyedWorkDir.contentKeyedTable(s, "graft_q157_dedup_", dir, stagingTables, stagingLayout)
    // 1. quality gate (integer-arithmetic thresholds, as q118)
    val gated = qualityGated(d, "doc_id", "source", "text")
      .select("doc_id", "source", "text")
    // 2. exact dedup, deterministic min-id keeper; staged (bucketed)
    val s1 = graft.sinks.Sinks.stagedTable(s, s"graft_q157_keepers_$suffix",
      key = "doc_id", numBuckets = 8, sortCols = Seq("doc_id")) {
      ExactDedup.keepers(ExactDedup.withTextHash(gated, "text"),
          "text_hash", "doc_id", carryCols = Seq("source", "text"))
        .select("doc_id", "source", "text")
    }
    // 3. near-dup clusters at J >= 0.8; drop non-representatives
    val pairs = nearDupPairs(s1)
    val dupes = Clusters.assign(pairs, "doc_a", "doc_b")
      .filter(!col("is_representative")).select(col("id").as("doc_id"))
    val s2 = s1.join(Checkpoints.guardedBroadcast(dupes),
      Seq("doc_id"), "left_anti")
    // 4. semantic dedup over the survivors' embeddings (q65 semantics,
    //    k sized to the SURVIVOR corpus)
    val corpus = Tables.vectors(s, dir)
      .select(col("vec_id"), col("embedding").as("vec"))
      .join(s2.select(col("doc_id").as("vec_id")), Seq("vec_id"))
    val k = math.max(16L, math.ceil(math.sqrt(corpus.count().toDouble)).toLong)
    // rank contract (corpus-B): centroids = the k LOWEST survivor
    // vec_ids, not a literal id threshold tuned to dense-from-0 ids;
    // null max (empty survivor set) -> MinValue = empty centroid frame
    val tauK = {
      val r = corpus.select(col("vec_id")).orderBy(col("vec_id"))
        .limit(k.toInt).agg(max(col("vec_id"))).head()
      if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
    }
    val centroids = corpus.filter(col("vec_id") <= tauK)
      .select(col("vec_id").as("cen_id"), col("vec").as("cen_vec"))
    val cells = graft.similarity.IvfFlat.assign(
      corpus, "vec_id", "vec", centroids, "cen_id", "cen_vec")
    val semDrops = graft.similarity.SemanticDedup
      .dropReport(cells, corpus, "vec_id", "vec", tau = 0.3)
      .select(col("vec_id").as("doc_id"))
    val s3 = graft.sinks.Sinks.stagedTable(s, s"graft_q157_dedup_$suffix",
      key = "doc_id", numBuckets = 8, sortCols = Seq("doc_id")) {
      s2.join(Checkpoints.guardedBroadcast(semDrops),
        Seq("doc_id"), "left_anti")
    }
    // 5. decontaminate the train split against the test split (q57)
    val bucket = pmod(TextOps.md5Int32(col("text")), lit(100))
    val train = s3.filter(bucket < 80)
    val testSplit = s3.filter(bucket >= 90)
    val contaminated = graft.dedup.BloomDecontaminate.contaminationReport(
        train, testSplit, "doc_id", "text", n = 8, expectedEvalNgrams = 100000L)
      .select("doc_id")
    train.join(Checkpoints.guardedBroadcast(contaminated),
        Seq("doc_id"), "left_anti")
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  /** Q8/K1 exactly-once at NEAR-DUP granularity, driver-certified: the
    * incoming batch streams through `foreachBatch`, each microbatch runs
    * `MinHashLSH.nearDupAgainstHashed` against the static src0 history
    * and writes the flagged pairs with `Sinks.idempotentAppend`; then
    * the ENTIRE stream is redelivered from a fresh checkpoint (q86's
    * strongest at-least-once shape — every batch delivered twice). The
    * sink keys dynamic-partition overwrite on the MICRO-BATCH id
    * (batch-disjoint AND redelivery-stable — see [[neardupBatchToSink]]
    * for why a content key is not enough), so redelivery replaces its
    * own earlier output, and reading the sink back must equal the plain
    * batch q59 result — which is exactly what the (ground-truth,
    * all-pairs) DuckDB oracle checks. */
  val q147StreamingNeardup: Q = (s, dir) => {
    import org.apache.spark.sql.streaming.Trigger
    // this application's own dir: the sink is a dynamic-partition
    // overwrite keyed on a batch-stable column, so a re-run in the same
    // application (= more redeliveries) replaces its own output — the
    // very property this query certifies; checkpoints are deleted at the
    // end, which is why no other process may share the dir
    // layout L2: the sink partition key changed pmod(doc_id,8) -> batch
    // id (round 12); a reused L1 dir would keep stale pmod partitions
    // alive under the new key's dynamic overwrite
    val tmp = curationTmp(s, "q147", dir, layout = "L2")
    new java.io.File(tmp).mkdirs()
    val out = s"$tmp/sink"
    // history hashes AND the band index depend only on history: both
    // computed once and probed by every microbatch of both runs — the
    // staged-index shape from the historyBandRows scaladoc. Measured at
    // ×100 deployment shape (475k-doc history, 4 batches, min-of-2):
    // prebuilt in-memory index 30.1 s vs per-batch recompute 37.1 s vs
    // (band,key)-bucketed catalog table 32.2 s —
    // the bucketed table is the cross-JVM variant (its write amortizes
    // across sessions, which a checkpoint cannot), but within one
    // session the in-memory index wins and is the default here.
    val history = Checkpoints.materialize(
      wordGrams(Tables(s, dir, "documents").filter(col("source") === "src0")))
    val histBands = Checkpoints.materialize(MinHashLSH.historyBandRows(history,
      "doc_id", "sh", NumHashes, NumBands))
    def deliverAll(run: String): Unit = {
      val q = Tables.stream(s, dir, "documents")
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          neardupBatchToSink(batch, histBands, history, out, batchId)
        }
        .option("checkpointLocation", s"$tmp/ckpt-$run-${System.nanoTime()}")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    deliverAll("first")
    deliverAll("redelivery")
    // the history checkpoints are read only inside the (now finished)
    // stream lifetimes; the returned plan reads the parquet sink
    Checkpoints.release(history)
    Checkpoints.release(histBands)
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(tmp)).map(_.getPath)
      .filter(_.getName.startsWith("ckpt-"))
      .foreach(p => fs.delete(p, true))
    s.read.parquet(out)
      .select(col("batch_id"), col("history_id"),
        round(col("jaccard"), 4).as("jaccard"))
      .orderBy("batch_id", "history_id")
  }

  /** q147's per-micro-batch step, extracted so the multi-batch spec can
    * drive it through a rate-limited reader: hash the non-history docs,
    * probe the prebuilt band index, write flagged pairs with the
    * idempotent per-batch partition overwrite. The sink partition key is
    * the MICRO-BATCH id — the K1 contract needs batch-disjoint AND
    * redelivery-stable, and the previous `pmod(doc_id, 8)` key was only
    * the latter: it survived solely because `Tables.stream` delivers the
    * whole table in one batch today, and under any delivery split (a
    * rate-limited reader, a multi-file layout) a later batch's dynamic
    * overwrite would silently DELETE earlier batches' flagged pairs from
    * the shared partitions — the exact q86 bug class (the oracle never
    * varies delivery). `lit(batchId)` is batch-disjoint by construction
    * and redelivery-stable because a fresh checkpoint over the same
    * immutable files replays the same batch splits.
    *
    * Redelivery-stability PRECONDITION (deterministic listing):
    * FileStreamSource orders files by modification time, and mtime TIES
    * break on filesystem listing order — a multi-file layout with equal
    * mtimes could redistribute rows across batch ids on redelivery,
    * stranding stale rows in partitions the rerun never overwrites.
    * Safe here because `Tables.stream` delivers the whole table in ONE
    * AvailableNow batch; any caller that splits delivery (several files
    * + maxFilesPerTrigger) must pin strictly increasing mtimes the way
    * the q167 engine does (`TemporalQueries` staging, 1 s apart). */
  private[graft] def neardupBatchToSink(batch: DataFrame, histBands: DataFrame,
                                        history: DataFrame, out: String,
                                        batchId: Long): Unit = {
    val b = wordGrams(batch.filter(col("source") =!= "src0"))
    val flagged = MinHashLSH.nearDupAgainstBandRows(b, histBands, history,
      "doc_id", "sh", NumHashes, NumBands, Threshold)
    graft.sinks.Sinks.idempotentAppend(
      flagged.withColumn("part", lit(batchId)), out, Seq("part"))
  }

  val defs: Map[String, Q] = Map(
    "q157_curation_e2e" -> q157CurationE2e,
    "q147_streaming_neardup" -> q147StreamingNeardup,
    "q118_curation_pipeline" -> q118CurationPipeline,
    "q115_prefix_jaccard" -> q115PrefixJaccard,
    "q92_star_clusters" -> q92StarClusters,
    "q83_best_keeper" -> q83BestKeeper,
    "q59_incremental_neardup" -> q59IncrementalNeardup,
    "q44_decontamination" -> q44Decontamination,
    "q48_dedup_corpus" -> q48DedupCorpus,
    "q17_dedup_gate" -> q17DedupGate,
    "q18_minhash_pairs" -> q18MinhashPairs,
    "q160_sketch_calibration" -> q160SketchCalibration,
    "q162_dup_source_matrix" -> q162DupSourceMatrix,
    "q163_split_leakage" -> q163SplitLeakage,
    "q166_cluster_safe_split" -> q166ClusterSafeSplit,
    "q167_streaming_curation" -> q167StreamingCuration,
    "q170_curation_funnel" -> q170CurationFunnel,
    "q171_curation_restart" -> q171CurationRestart,
    "q172_dedup_threshold_curve" -> q172DedupThresholdCurve,
    "q173_midbatch_kill" -> q173MidBatchKill,
    "q164_boilerplate_ngrams" -> q164BoilerplateNgrams,
    "q19_simhash" -> q19Simhash,
    "q20_simhash_pairs" -> q20SimhashPairs,
    "q35_char_ngram_pairs" -> q35CharNgramPairs,
    "q39_dedup_clusters" -> q39DedupClusters,
  )

  /** The batch semantics of the streaming curation pipeline — shared by
    * q167 (single life) and q171 (kill-and-resume): gate → keep-first by
    * text hash → near-dup-vs-src0 drop → per-source rollup. */
  private lazy val curationOracle: String =
    s"""WITH $shinglesCte, ${pairCtes("0.8")},
       t AS (SELECT doc_id, source, text,
           len(list_filter(string_split_regex(trim(text), '\\s+'),
             x -> len(x) > 0)) AS n_words,
           len(list_distinct(list_filter(string_split_regex(trim(text), '\\s+'),
             x -> len(x) > 0))) AS n_distinct
         FROM documents WHERE source <> 'src0'),
       g AS (SELECT doc_id, source, text, n_words FROM t
             WHERE n_words >= 20 AND n_distinct * 10 >= n_words * 3),
       dd AS (SELECT doc_id, source, n_words,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
         FROM g),
       flagged AS (SELECT DISTINCT
           CASE WHEN da.source <> 'src0' THEN p.doc_a ELSE p.doc_b END AS doc_id
         FROM p
         JOIN documents da ON da.doc_id = p.doc_a
         JOIN documents db ON db.doc_id = p.doc_b
         WHERE (da.source = 'src0') <> (db.source = 'src0')),
       kept AS (SELECT * FROM dd WHERE rk = 1
                AND doc_id NOT IN (SELECT doc_id FROM flagged))
       SELECT source, count(*) AS n_docs,
         CAST(sum(n_words) AS BIGINT) AS n_tokens
       FROM kept GROUP BY 1 ORDER BY 1"""

  private val shinglesCte =
    """W AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS ws
             FROM documents),
       SH AS (SELECT doc_id,
                CASE WHEN len(ws) >= 3
                     THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
                     ELSE [array_to_string(ws, ' ')] END AS s
              FROM W)"""

  /** Char-8-gram shingle lists, normalized to the same SH(doc_id, s)
    * shape as [[shinglesCte]] so [[pairCtes]] composes over either. */
  private val charShinglesCte =
    """SH AS (SELECT doc_id,
         CASE WHEN len(text) >= 8
              THEN list_distinct([text[i : i + 7] for i in range(1, len(text) - 6)])
              ELSE [text] END AS s
       FROM documents)"""

  /** LINEAR ground-truth pair generation over a preceding SH(doc_id, s)
    * CTE: unnest the distinct shingles, equi-join on the shingle, and
    * count group-wise — |A∩B| for every pair sharing ≥ 1 shingle, which
    * is ALL pairs that can pass a positive threshold (a no-shared-shingle
    * pair has J = 0). Identical result set to the all-pairs
    * `list_intersect` join, but the join input is Σ_shingle df² rows
    * (sf0.1: 2.8M for word 3-grams) instead of n²/2 list intersections —
    * the difference between ~2 s and tens of minutes in DuckDB, which is
    * what kept these oracles sf0.01-only through round 7. Still
    * algorithm-independent: no banding, no signatures — exact set
    * arithmetic either way. */
  private def pairCtes(threshold: String): String =
    s"""ts AS (SELECT doc_id, unnest(s) AS tok FROM SH),
       sz AS (SELECT doc_id, len(s) AS n FROM SH),
       inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
                 FROM ts a JOIN ts b ON a.tok = b.tok AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
       p AS (SELECT da AS doc_a, db AS doc_b,
               round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard
             FROM inter
             JOIN sz sa ON sa.doc_id = da
             JOIN sz sb ON sb.doc_id = db
             WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= $threshold)"""

  /** q160's mirror — GENERATED, not hand-written (Pca.oracleSql
    * precedent): the 32 affine coefficients are inlined as literals from
    * the shared `MinHashSig.coeffs` family, the banding is 8 generated
    * UNION ALL branches keyed on stringified signature slices, and the
    * exact side reuses the [[pairCtes]] shared-gram join restricted to
    * the candidate set (LEFT JOIN: a band collision between gram-disjoint
    * docs must surface as exact = 0, not drop out). */
  private def sketchCalibrationOracle: String = {
    val p = graft.dedup.MinHashLSH.P
    val cs = graft.expressions.MinHashSig.coeffs(32)
    val minCols = cs.zipWithIndex.map { case ((a, b), i) =>
      s"min((h * $a + $b) % $p) AS m$i"
    }.mkString(",\n             ")
    val bandSel = (0 until 8).map { j =>
      val key = (0 until 4).map(r => s"m${j * 4 + r}").mkString(" || ',' || ")
      s"SELECT doc_id, $j AS band, $key AS key FROM sig"
    }.mkString("\n           UNION ALL ")
    val agr = (0 until 32).map(i =>
      s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $shinglesCte,
       samp AS MATERIALIZED (
         SELECT sh.doc_id, s FROM SH sh JOIN documents d ON d.doc_id = sh.doc_id
         WHERE ('0x' || substr(md5(d.text), 1, 8))::BIGINT % 100 < 50),
       hs AS MATERIALIZED (
         SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT % $p AS h
         FROM (SELECT doc_id, unnest(s) AS g FROM samp)),
       sig AS MATERIALIZED (
         SELECT doc_id, $minCols
         FROM hs GROUP BY doc_id),
       bands AS MATERIALIZED ($bandSel),
       cand AS MATERIALIZED (
         SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       ts AS (SELECT doc_id, unnest(s) AS tok FROM samp),
       sz AS (SELECT doc_id, len(s) AS n FROM samp),
       inter AS (SELECT c.da, c.db, count(*) AS i
                 FROM cand c
                 JOIN ts a ON a.doc_id = c.da
                 JOIN ts b ON b.doc_id = c.db AND b.tok = a.tok
                 GROUP BY 1, 2),
       pe AS (SELECT
                CAST(($agr) AS DOUBLE) / 32 AS est,
                CAST(coalesce(i.i, 0) AS DOUBLE)
                  / (sza.n + szb.n - coalesce(i.i, 0)) AS exact
              FROM cand c
              JOIN sig sa ON sa.doc_id = c.da
              JOIN sig sb ON sb.doc_id = c.db
              JOIN sz sza ON sza.doc_id = c.da
              JOIN sz szb ON szb.doc_id = c.db
              LEFT JOIN inter i ON i.da = c.da AND i.db = c.db)
       SELECT CAST(least(9, CAST(floor(est * 10) AS BIGINT)) AS INT) AS bin,
         count(*) AS n_pairs,
         round(CAST(sum(CAST(est AS DECIMAL(28,12))) AS DOUBLE) / count(*), 4) AS mean_est,
         round(CAST(sum(CAST(exact AS DECIMAL(28,12))) AS DOUBLE) / count(*), 4) AS mean_exact,
         round(CAST(sum(CAST(abs(est - exact) AS DECIMAL(28,12))) AS DOUBLE) / count(*), 4) AS mae
       FROM pe GROUP BY 1 ORDER BY 1"""
  }

  private val simhashCte =
    """T AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
             FROM documents),
       H AS (SELECT doc_id, list_transform(toks, w -> CAST(('0x' || substr(md5(w), 1, 12)) AS BIGINT)) AS hs
             FROM T),
       SIM AS (SELECT doc_id,
                 list_sum([CASE WHEN list_sum(list_transform(hs, h -> ((h >> j) & 1) * 2 - 1)) > 0
                                THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END
                           for j in range(0, 48)]) AS simhash
               FROM H)"""

  /** Shared q59/q147 ground truth: every ≥ 0.8 pair (linear pair CTEs),
    * oriented (batch_id, history_id) and kept only when exactly one side
    * is the src0 history — the same set the old batch×history cross join
    * produced. */
  private lazy val bipartiteNearDupOracle: String =
    s"""WITH $shinglesCte, ${pairCtes("0.8")}
       SELECT CASE WHEN da.source <> 'src0' THEN p.doc_a ELSE p.doc_b END AS batch_id,
              CASE WHEN da.source <> 'src0' THEN p.doc_b ELSE p.doc_a END AS history_id,
              p.jaccard
       FROM p
       JOIN documents da ON da.doc_id = p.doc_a
       JOIN documents db ON db.doc_id = p.doc_b
       WHERE (da.source = 'src0') <> (db.source = 'src0')
       ORDER BY 1, 2"""

  val oracles: Map[String, String] = Map(
    // the composed pipeline: each stage's mirror is the SAME SQL that
    // checks it standalone (q118 gate+exact, q48-style clusters via the
    // linear pairCtes, q65 cells/pairs, q57 gram decontamination)
    "q157_curation_e2e" ->
      s"""WITH RECURSIVE
         t AS (SELECT doc_id, source, text,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
               x -> len(x) > 0)) AS n_words,
             len(list_distinct(list_filter(string_split_regex(trim(text), '\\s+'),
               x -> len(x) > 0))) AS n_distinct
           FROM documents),
         g AS (SELECT doc_id, source, text FROM t
               WHERE n_words >= 20 AND n_distinct * 10 >= n_words * 3),
         dd AS (SELECT doc_id, source, text,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
           FROM g),
         s1 AS (SELECT doc_id, source, text FROM dd WHERE rk = 1),
         W AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'),
                 x -> len(x) > 0) AS ws
               FROM s1),
         SH AS (SELECT doc_id,
                  CASE WHEN len(ws) >= 3
                       THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                              for i in range(1, len(ws) - 1)])
                       ELSE [array_to_string(ws, ' ')] END AS s
                FROM W),
         ${pairCtes("0.8")},
         e AS (SELECT doc_a AS a, doc_b AS b FROM p),
         und AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
         reach(v, u) AS (
           SELECT DISTINCT a AS v, a AS u FROM und
           UNION
           SELECT r.v, und.b AS u FROM reach r JOIN und ON und.a = r.u),
         dupes AS (SELECT v AS doc_id FROM reach GROUP BY v HAVING v <> min(u)),
         s2 AS (SELECT s1.* FROM s1
                WHERE NOT EXISTS (SELECT 1 FROM dupes WHERE dupes.doc_id = s1.doc_id)),
         C AS (SELECT e2.vec_id, CAST(e2.embedding AS DOUBLE[]) AS cvec
               FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0) e2 JOIN s2 ON s2.doc_id = e2.vec_id),
         cen AS (SELECT cen_id, cen_vec FROM (
                 SELECT vec_id AS cen_id, cvec AS cen_vec,
                   row_number() OVER (ORDER BY vec_id) AS __rn FROM C) __rc
                 WHERE __rn <= (SELECT greatest(16,
                   CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM C)),
         cells AS (SELECT vec_id, cell FROM (
             SELECT c.vec_id, cen.cen_id AS cell,
               row_number() OVER (PARTITION BY c.vec_id ORDER BY
                 (list_inner_product(c.cvec, c.cvec)
                  - 2 * list_inner_product(c.cvec, cen.cen_vec)
                  + list_inner_product(cen.cen_vec, cen.cen_vec)) ASC, cen.cen_id ASC) AS rn
             FROM C c, cen) t2 WHERE rn = 1),
         sempairs AS (SELECT x.vec_id AS a, y.vec_id AS b,
             list_inner_product(cx.cvec, cy.cvec)
               / (sqrt(list_inner_product(cx.cvec, cx.cvec))
                  * sqrt(list_inner_product(cy.cvec, cy.cvec))) AS sim
           FROM cells x
           JOIN cells y ON x.cell = y.cell AND x.vec_id < y.vec_id
           JOIN C cx ON cx.vec_id = x.vec_id
           JOIN C cy ON cy.vec_id = y.vec_id),
         semdrop AS (SELECT DISTINCT b AS doc_id FROM sempairs WHERE sim >= 0.3),
         s3 AS (SELECT s2.* FROM s2
                WHERE NOT EXISTS (SELECT 1 FROM semdrop WHERE semdrop.doc_id = s2.doc_id)),
         sp AS (SELECT doc_id,
                  CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 AS b
                FROM s3),
         W2 AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'),
                  x -> len(x) > 0) AS ws
                FROM s3),
         g8 AS (SELECT doc_id,
                  list_distinct(CASE WHEN len(ws) >= 8
                    THEN [array_to_string(ws[i:i+7], ' ') for i in range(1, len(ws) - 6)]
                    ELSE [array_to_string(ws, ' ')] END) AS gs
                FROM W2),
         trg AS (SELECT g8.doc_id, unnest(gs) AS gram
                 FROM g8 JOIN sp USING (doc_id) WHERE sp.b < 80),
         evg AS (SELECT DISTINCT unnest(gs) AS gram
                 FROM g8 JOIN sp USING (doc_id) WHERE sp.b >= 90),
         contaminated AS (SELECT DISTINCT trg.doc_id FROM trg JOIN evg USING (gram))
         SELECT s3.doc_id, s3.source
         FROM s3 JOIN sp USING (doc_id)
         WHERE sp.b < 80
           AND NOT EXISTS (SELECT 1 FROM contaminated c2 WHERE c2.doc_id = s3.doc_id)
         ORDER BY 1""",
    "q118_curation_pipeline" ->
      """WITH t AS (SELECT doc_id, source, text,
             len(list_filter(string_split_regex(trim(text), '\s+'),
               x -> len(x) > 0)) AS n_words,
             len(list_distinct(list_filter(string_split_regex(trim(text), '\s+'),
               x -> len(x) > 0))) AS n_distinct
           FROM documents),
         g AS (SELECT doc_id, source, text, n_words FROM t
               WHERE n_words >= 20 AND n_distinct * 10 >= n_words * 3),
         dd AS (SELECT doc_id, source, n_words,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
           FROM g),
         capped AS (SELECT doc_id, source, n_words,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS draw
           FROM dd WHERE rk = 1)
         SELECT doc_id, source, CAST(n_words AS INT) AS n_words
         FROM capped WHERE draw <= 50
         ORDER BY source, doc_id""",
    // ground truth, algorithm-independent: every pair with ≥1 shared
    // token scored exactly; integer threshold gate mirrors the query
    "q115_prefix_jaccard" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
           FROM documents),
         h AS (SELECT doc_id, list_transform(toks, t ->
                 CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS hs
               FROM tok),
         g0 AS (SELECT doc_id,
                  CASE WHEN len(hs) >= 3
                    THEN list_distinct([hs[i]*961 + hs[i+1]*31 + hs[i+2]
                           for i in range(1, len(hs) - 1)])
                    WHEN len(hs) = 0 THEN [CAST(0 AS BIGINT)]
                    ELSE [list_reduce(hs, (a, b) -> a*31 + b)] END AS gs
                FROM h),
         ts AS (SELECT doc_id, unnest(gs) AS token FROM g0),
         sz AS (SELECT doc_id, count(*) AS n FROM ts GROUP BY 1),
         inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
           FROM ts a JOIN ts b ON a.token = b.token AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT da AS doc_a, db AS doc_b,
           round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
         FROM inter
         JOIN sz sa ON sa.doc_id = da
         JOIN sz sb ON sb.doc_id = db
         WHERE 5 * i >= 3 * (sa.n + sb.n - i)
         ORDER BY 1, 2""",
    // q172 reuses q115's exact gram-key pair machinery at the lowest
    // tier, then buckets with the same integer gates as the Spark side
    "q172_dedup_threshold_curve" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
           FROM documents),
         h AS (SELECT doc_id, list_transform(toks, t ->
                 CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS hs
               FROM tok),
         g0 AS (SELECT doc_id,
                  CASE WHEN len(hs) >= 3
                    THEN list_distinct([hs[i]*961 + hs[i+1]*31 + hs[i+2]
                           for i in range(1, len(hs) - 1)])
                    WHEN len(hs) = 0 THEN [CAST(0 AS BIGINT)]
                    ELSE [list_reduce(hs, (a, b) -> a*31 + b)] END AS gs
                FROM h),
         ts AS (SELECT doc_id, unnest(gs) AS token FROM g0),
         sz AS (SELECT doc_id, count(*) AS n FROM ts GROUP BY 1),
         inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
           FROM ts a JOIN ts b ON a.token = b.token AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         tal AS (SELECT da, db, i, sa.n + sb.n - i AS u
           FROM inter
           JOIN sz sa ON sa.doc_id = da
           JOIN sz sb ON sb.doc_id = db
           WHERE 5 * i >= 3 * (sa.n + sb.n - i)),
         tiers AS (SELECT unnest([6, 7, 8, 9]) AS k)
         SELECT k / 10.0 AS threshold,
           (SELECT count(*) FROM tal WHERE 10 * i >= k * u) AS n_pairs,
           (SELECT count(DISTINCT doc) FROM
              (SELECT unnest([da, db]) AS doc, i, u FROM tal) dd
            WHERE 10 * i >= k * u) AS n_docs
         FROM tiers ORDER BY 1""",
    // q147 = q59's semantics reached through streaming redelivery into
    // the idempotent sink, so the exactly-once EFFECT is checked against
    // the same ground truth: all pairs, orientation (batch, history)
    // kept where exactly one side is the src0 history
    "q147_streaming_neardup" -> bipartiteNearDupOracle,
    "q59_incremental_neardup" -> bipartiteNearDupOracle,
    "q17_dedup_gate" ->
      """WITH b AS (SELECT md5(text) AS text_hash, min(doc_id) AS doc_id
                    FROM documents WHERE source <> 'src0' GROUP BY 1)
         SELECT doc_id, text_hash FROM b
         WHERE NOT EXISTS (SELECT 1 FROM documents h
                           WHERE h.source = 'src0' AND md5(h.text) = b.text_hash)
         ORDER BY doc_id""",
    "q18_minhash_pairs" ->
      s"""WITH $shinglesCte, ${pairCtes("0.8")}
         SELECT doc_a, doc_b, jaccard FROM p ORDER BY 1, 2""",
    "q160_sketch_calibration" -> sketchCalibrationOracle,
    // q39's recursive-CTE components + q40's md5 split, cluster rollup
    "q163_split_leakage" ->
      s"""WITH RECURSIVE $shinglesCte, ${pairCtes("0.8")},
         e AS (SELECT doc_a AS a, doc_b AS b FROM p),
         und AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
         reach(v, u) AS (
           SELECT DISTINCT a AS v, a AS u FROM und
           UNION
           SELECT r.v, und.b AS u FROM reach r JOIN und ON und.a = r.u),
         cl AS (SELECT v AS doc_id, min(u) AS cluster FROM reach GROUP BY v),
         sp AS (SELECT doc_id,
                  CASE WHEN ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 < 80
                         THEN 'train'
                       WHEN ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 < 90
                         THEN 'valid'
                       ELSE 'test' END AS split
                FROM documents)
         SELECT cluster, count(*) AS n_docs,
           count(DISTINCT split) AS n_splits,
           CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
           CAST(sum(CASE WHEN split = 'valid' THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
           CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
         FROM cl JOIN sp USING (doc_id)
         GROUP BY cluster HAVING count(DISTINCT split) > 1
         ORDER BY cluster""",
    "q166_cluster_safe_split" ->
      s"""WITH RECURSIVE $shinglesCte, ${pairCtes("0.8")},
         e AS (SELECT doc_a AS a, doc_b AS b FROM p),
         und AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
         reach(v, u) AS (
           SELECT DISTINCT a AS v, a AS u FROM und
           UNION
           SELECT r.v, und.b AS u FROM reach r JOIN und ON und.a = r.u),
         cl AS (SELECT v AS doc_id, min(u) AS cluster FROM reach GROUP BY v),
         sp AS (SELECT doc_id,
                  CASE WHEN ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 < 80
                         THEN 'train'
                       WHEN ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 < 90
                         THEN 'valid'
                       ELSE 'test' END AS split
                FROM documents),
         base AS (SELECT d.doc_id, coalesce(cl.cluster, d.doc_id) AS rep
                  FROM documents d LEFT JOIN cl USING (doc_id))
         SELECT rs.split AS split, count(*) AS n_docs,
           count(DISTINCT base.rep) AS n_clusters,
           CAST(sum(CASE WHEN ds.split <> rs.split THEN 1 ELSE 0 END) AS BIGINT)
             AS n_moved
         FROM base
           JOIN sp ds ON ds.doc_id = base.doc_id
           JOIN sp rs ON rs.doc_id = base.rep
         GROUP BY 1 ORDER BY 1""",
    "q167_streaming_curation" -> curationOracle,
    // q171 is the kill-and-resume run of the SAME pipeline: its final
    // table must equal the identical batch oracle (the restart is a
    // physical event, not a semantic one)
    "q171_curation_restart" -> curationOracle,
    // q173 kills mid-batch (after writes, before commit) — the replay
    // must leave the same final table, so the same oracle again
    "q173_midbatch_kill" -> curationOracle,
    "q170_curation_funnel" ->
      s"""WITH $shinglesCte, ${pairCtes("0.8")},
         t AS (SELECT doc_id, source, text,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
               x -> len(x) > 0)) AS n_words,
             len(list_distinct(list_filter(string_split_regex(trim(text), '\\s+'),
               x -> len(x) > 0))) AS n_distinct
           FROM documents WHERE source <> 'src0'),
         g AS (SELECT doc_id, text, n_words FROM t
               WHERE n_words >= 20 AND n_distinct * 10 >= n_words * 3),
         dd AS (SELECT doc_id, n_words,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
           FROM g),
         flagged AS (SELECT DISTINCT
             CASE WHEN da.source <> 'src0' THEN p.doc_a ELSE p.doc_b END AS doc_id
           FROM p
           JOIN documents da ON da.doc_id = p.doc_a
           JOIN documents db ON db.doc_id = p.doc_b
           WHERE (da.source = 'src0') <> (db.source = 'src0')),
         k AS (SELECT doc_id, n_words FROM dd WHERE rk = 1),
         c AS (SELECT doc_id, n_words FROM k
               WHERE doc_id NOT IN (SELECT doc_id FROM flagged))
         SELECT (SELECT count(*) FROM t) AS n_raw,
           (SELECT count(*) FROM g) AS n_quality,
           (SELECT count(*) FROM k) AS n_unique,
           (SELECT count(*) FROM c) AS n_clean,
           (SELECT CAST(sum(n_words) AS BIGINT) FROM t) AS tok_raw,
           (SELECT CAST(coalesce(sum(n_words), 0) AS BIGINT) FROM c) AS tok_clean""",
    "q164_boilerplate_ngrams" ->
      """WITH W AS (SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS ws
           FROM documents),
         G AS (SELECT doc_id, unnest(CASE WHEN len(ws) >= 8
                 THEN list_distinct([array_to_string(ws[i : i + 7], ' ')
                                     for i in range(1, len(ws) - 6)])
                 ELSE [] END) AS gram
               FROM W),
         dfq AS (SELECT gram, count(*) AS df FROM G GROUP BY gram)
         SELECT gram, df FROM dfq WHERE df >= 2
         ORDER BY df DESC, gram LIMIT 20""",
    "q162_dup_source_matrix" ->
      s"""WITH $shinglesCte, ${pairCtes("0.8")},
         m AS (SELECT least(da.source, db.source) AS source_a,
                 greatest(da.source, db.source) AS source_b, p.jaccard
               FROM p
               JOIN documents da ON da.doc_id = p.doc_a
               JOIN documents db ON db.doc_id = p.doc_b)
         SELECT source_a, source_b, count(*) AS n_pairs,
           round(CAST(sum(CAST(round(jaccard, 4) AS DECIMAL(28,12))) AS DOUBLE), 4)
             AS sum_jaccard
         FROM m GROUP BY 1, 2 ORDER BY 1, 2""",
    "q19_simhash" ->
      s"""WITH $simhashCte
         SELECT doc_id, CAST(simhash AS BIGINT) AS simhash FROM SIM ORDER BY doc_id""",
    "q35_char_ngram_pairs" ->
      s"""WITH $charShinglesCte, ${pairCtes("0.7")}
         SELECT doc_a, doc_b, jaccard FROM p ORDER BY 1, 2""",
    "q20_simhash_pairs" ->
      s"""WITH $simhashCte
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         FROM SIM a JOIN SIM b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         ORDER BY 1, 2""",
    // ground-truth edges (all-pairs Jaccard) + transitive closure via a
    // recursive CTE; component id = min reachable doc_id
    // same recursive components as q39; keeper = max n_chars, tie min id
    "q83_best_keeper" ->
      s"""WITH RECURSIVE $shinglesCte, ${pairCtes("0.8")},
         e AS (SELECT doc_a AS a, doc_b AS b FROM p),
         und AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
         reach(v, u) AS (
           SELECT DISTINCT a AS v, a AS u FROM und
           UNION
           SELECT r.v, und.b AS u FROM reach r JOIN und ON und.a = r.u),
         comp AS (SELECT v, min(u) AS cluster FROM reach GROUP BY v),
         ranked AS (SELECT c.cluster, c.v, d.n_chars,
             row_number() OVER (PARTITION BY c.cluster
                                ORDER BY d.n_chars DESC, c.v ASC) AS rn,
             count(*) OVER (PARTITION BY c.cluster) AS n_members
           FROM comp c JOIN documents d ON d.doc_id = c.v)
         SELECT cluster, n_members, v AS keeper, n_chars AS keeper_chars
         FROM ranked WHERE rn = 1 ORDER BY cluster""",
    "q39_dedup_clusters" ->
      s"""WITH RECURSIVE $shinglesCte, ${pairCtes("0.8")},
         e AS (SELECT doc_a AS a, doc_b AS b FROM p),
         und AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
         reach(v, u) AS (
           SELECT DISTINCT a AS v, a AS u FROM und
           UNION
           SELECT r.v, und.b AS u FROM reach r JOIN und ON und.a = r.u)
         SELECT v AS doc_id, min(u) AS cluster,
           (v = min(u)) AS is_representative
         FROM reach GROUP BY v ORDER BY doc_id""",
    // identical ground truth to q39: the star-contraction variant must
    // produce the same clustering
    "q92_star_clusters" ->
      s"""WITH RECURSIVE $shinglesCte, ${pairCtes("0.8")},
         e AS (SELECT doc_a AS a, doc_b AS b FROM p),
         und AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
         reach(v, u) AS (
           SELECT DISTINCT a AS v, a AS u FROM und
           UNION
           SELECT r.v, und.b AS u FROM reach r JOIN und ON und.a = r.u)
         SELECT v AS doc_id, min(u) AS cluster,
           (v = min(u)) AS is_representative
         FROM reach GROUP BY v ORDER BY doc_id""",
    "q44_decontamination" ->
      s"""WITH $shinglesCte, ${pairCtes("0.8")},
         sp AS (SELECT doc_id,
             CASE WHEN CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
                  WHEN CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 < 90 THEN 'valid'
                  ELSE 'test' END AS split
           FROM documents)
         SELECT p.doc_a, sa.split AS split_a, p.doc_b, sb.split AS split_b, p.jaccard
         FROM p
         JOIN sp sa ON sa.doc_id = p.doc_a
         JOIN sp sb ON sb.doc_id = p.doc_b
         WHERE sa.split <> sb.split
         ORDER BY p.doc_a, p.doc_b""",
    "q48_dedup_corpus" ->
      s"""WITH RECURSIVE $shinglesCte, ${pairCtes("0.8")},
         e AS (SELECT doc_a AS a, doc_b AS b FROM p),
         und AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
         reach(v, u) AS (
           SELECT DISTINCT a AS v, a AS u FROM und
           UNION
           SELECT r.v, und.b AS u FROM reach r JOIN und ON und.a = r.u),
         dupes AS (SELECT v AS doc_id FROM reach GROUP BY v HAVING v <> min(u)),
         kept AS (SELECT d.source, count(*) AS n_kept FROM documents d
                  WHERE NOT EXISTS (SELECT 1 FROM dupes WHERE dupes.doc_id = d.doc_id)
                  GROUP BY 1),
         tot AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
         SELECT tot.source, tot.n_docs,
           coalesce(kept.n_kept, 0) AS n_kept,
           tot.n_docs - coalesce(kept.n_kept, 0) AS n_removed
         FROM tot LEFT JOIN kept USING (source)
         ORDER BY tot.source""",
  )
}
