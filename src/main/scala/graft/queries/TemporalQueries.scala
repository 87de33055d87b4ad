package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{AggState, AsOfJoin, Checkpoints, GapFill, PrefixSum, RangeJoin, Regression, RobustStats, Sequences, Sessionize, ZOrder}

/** Temporal join operators over the `events` stream table — the two
  * join shapes Spark lacks as built-ins that every event pipeline needs:
  * as-of (latest state at a point in time) and range containment
  * (events inside windows). Both avoid the naive pair blow-up:
  * `ops/AsOfJoin` is the union+window single-shuffle form,
  * `ops/RangeJoin` the bucketed-equi-join form. DuckDB's native
  * ASOF JOIN / interval predicates are the oracles.
  */
object TemporalQueries {

  type Q = (SparkSession, String) => DataFrame

  /** The orders table lives in 1995–2001 and the events stream in a
    * 30-day 2024 window — a raw as-of would never match. Both engines
    * project order dates deterministically into the events window
    * (epoch arithmetic, no randomness) so the join has real temporal
    * interleaving; the projection is part of the query, identical in the
    * oracle. 1704067200 = 2024-01-01T00:00:00Z.
    *
    * The customer restriction (keeps the as-of result ~10% of orders) is
    * a RANK contract — the [[PoCustomers]] lowest distinct customer keys
    * — not a literal threshold: the corpus-B2 vacuity audit (round 14)
    * found the old `o_custkey < 150` selecting ZERO orders on every
    * remapped corpus, which had silently turned the whole as-of family
    * (q50/q62/q77/q79/q80) into vacuous greens on corpus-B since its
    * introduction. Mirrored as a scalar subquery in the oracle CTE. */
  private val PoCustomers = 150

  private def projectedOrders(s: SparkSession, dir: String) = {
    val ord = Tables(s, dir, "orders")
    val r = ord.select(col("o_custkey")).distinct()
      .orderBy(col("o_custkey")).limit(PoCustomers)
      .agg(max(col("o_custkey"))).head()
    val tau = if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
    ord
      .filter(col("o_custkey") <= tau)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        timestamp_seconds(lit(1704067200L)
          + pmod(datediff(col("o_orderdate"),
              lit(java.sql.Date.valueOf("1995-01-01"))), lit(30)) * 86400L
          + pmod(col("o_orderkey"), lit(86400L))).as("o_ts"))
  }

  private val projectedOrdersSql =
    s"""po AS (SELECT o_orderkey, o_custkey, o_totalprice,
         make_timestamp((1704067200
           + (datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) % 30) * 86400
           + o_orderkey % 86400) * 1000000) AS o_ts
       FROM orders WHERE o_custkey <= (
         SELECT max(k) FROM (SELECT DISTINCT o_custkey AS k FROM orders
                             ORDER BY k LIMIT $PoCustomers) lowest))"""

  /** As-of: each order (projected into the events window) attaches the
    * latest event of that user at or before the order instant — "what
    * did this user last do before ordering". Within-instant ties on the
    * right side resolve to the max event_id; orders before the user's
    * first event report nulls. */
  val q50AsofJoin: Q = (s, dir) => {
    val events = Tables(s, dir, "events")
      .select(col("user_id").as("o_custkey"), col("ts"),
        col("event_id"), col("event_type"))
    AsOfJoin.backward(projectedOrders(s, dir), events,
        key = "o_custkey", leftTime = "o_ts", rightTime = "ts",
        rightPayload = Seq("event_id", "event_type"),
        rightTieBreak = Some("event_id"))
      .select(col("o_orderkey"), col("o_custkey"),
        col("event_id").as("last_event_id"),
        col("event_type").as("last_event_type"))
      .orderBy("o_orderkey")
  }

  /** Range join: per-event-type "campaign" windows (day 1..3 after each
    * type's first sighting) matched against ALL events by time
    * containment — overlapping windows, so one event can land in several
    * campaigns; no equi-key exists and the bucketed join still avoids a
    * cartesian. Value sums go through decimal so the result is
    * partition-order independent. */
  val q51RangeJoin: Q = (s, dir) => {
    val events = Tables(s, dir, "events")
    val campaigns = events.groupBy(col("event_type").as("campaign"))
      .agg(min(col("ts")).as("first_ts"))
      .select(col("campaign"),
        (date_trunc("day", col("first_ts")) + expr("INTERVAL 1 DAY"))
          .cast("double").as("w_start"),
        (date_trunc("day", col("first_ts")) + expr("INTERVAL 3 DAY"))
          .cast("double").as("w_end"))
    val points = events.select(col("event_id"), col("value"),
      col("ts").cast("double").as("pt"))
    RangeJoin.pointInInterval(points, campaigns, "pt", "w_start", "w_end",
        bucketWidthSec = 86400L)
      .groupBy("campaign")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(25,10)")).cast("double"), 4)
          .as("sum_value"))
      .orderBy("campaign")
  }

  /** Last-touch attribution: every order joins (as-of) the user's latest
    * event at or before the order date; revenue then rolls up by that
    * event's type — the composition an event pipeline actually runs on
    * top of an as-of join. Orders with no preceding event report as
    * 'none'. Revenue sums go through decimal (partition-order
    * independent). */
  val q62Attribution: Q = (s, dir) => {
    val events = Tables(s, dir, "events")
      .select(col("user_id").as("o_custkey"), col("ts"),
        col("event_id"), col("event_type"))
    AsOfJoin.backward(projectedOrders(s, dir), events,
        key = "o_custkey", leftTime = "o_ts", rightTime = "ts",
        rightPayload = Seq("event_id", "event_type"),
        rightTieBreak = Some("event_id"))
      .groupBy(coalesce(col("event_type"), lit("none")).as("channel"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(25,10)")).cast("double"), 4)
          .as("revenue"))
      .orderBy("channel")
  }

  /** Retention cohorts over the events stream: users grouped by
    * first-seen DAY, counted distinct per (cohort, day offset) — the
    * standard engagement matrix. Two aggregations: per-user first
    * sighting (a min), then a distinct count keyed by (cohort, offset);
    * the first-sighting side is USER-cardinality — small on most event
    * streams but unbounded in general, so the broadcast is count-GUARDED
    * (past ~5M users the join degrades to shuffle, not a driver OOM). */
  val q63RetentionCohorts: Q = (s, dir) => {
    val base = lit(1704067200L) // 2024-01-01T00:00:00Z, the stream epoch
    val events = Tables(s, dir, "events")
      .select(col("user_id"),
        floor((col("ts").cast("double") - base) / 86400).cast("long").as("day"))
    val firstSeen = events.groupBy("user_id")
      .agg(min(col("day")).as("cohort_day"))
    events.join(Checkpoints.guardedBroadcast(firstSeen), Seq("user_id"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Ordered event funnel: view -> click -> purchase, each step strictly
    * after the user's previous step (min-ts per stage, stage n joins
    * stage n-1's timestamp). The stage tables are USER-cardinality —
    * count-GUARDED broadcasts (unbounded user domains degrade to a
    * shuffle join, never a driver OOM), with the welcome side effect
    * that each stage materializes once for both its consumers (the next
    * stage's join and the final count). */
  val q64EventFunnel: Q = (s, dir) => {
    val events = Tables(s, dir, "events").select("user_id", "event_type", "ts")
    val v = Checkpoints.guardedBroadcast(
      events.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1")))
    val c = Checkpoints.guardedBroadcast(
      events.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("t1"))
        .groupBy("user_id").agg(min("ts").as("t2")))
    val p = events.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    v.agg(count(lit(1)).as("n_users")).select(lit("1_view").as("stage"), col("n_users"))
      .unionByName(c.agg(count(lit(1)).as("n_users"))
        .select(lit("2_click").as("stage"), col("n_users")))
      .unionByName(p.agg(count(lit(1)).as("n_users"))
        .select(lit("3_purchase").as("stage"), col("n_users")))
      .orderBy("stage")
  }

  /** Z-order tile histogram over (user, day): each event lands in the
    * Morton tile of its bucketized (user_id, day) pair — the 2-D locality
    * key `ops/ZOrder.layout` physically sorts by so parquet min/max stats
    * prune on EITHER dimension (the user-scoped AND the time-scoped scan
    * both skip). The histogram is what the layout's file sizing reads;
    * bucket extents come from a one-row aggregate broadcast, and all tile
    * math is integer (bit-exact in any engine). */
  val q70ZorderLayout: Q = (s, dir) => {
    val base = lit(1704067200L)
    val e = Tables(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        floor((col("ts").cast("double") - base) / 86400).cast("long").as("day"))
    // BOTH extents data-derived (round-14 vacuity audit: the literal 0
    // low end compressed corpus-B's XOR-remapped ids — clustered near
    // 2^28 — into the top tiles, 256 -> 16 distinct, quietly shrinking
    // the histogram's test power; min/max extents are remap-invariant)
    val ext = e.agg(min("user_id").as("minu"), max("user_id").as("maxu"),
      min("day").as("mind"), max("day").as("maxd"))
    e.crossJoin(broadcast(ext))
      .withColumn("ub", ZOrder.bucket(col("user_id"), col("minu"), col("maxu"), 4))
      .withColumn("db", ZOrder.bucket(col("day"), col("mind"), col("maxd"), 4))
      .withColumn("tile", ZOrder.morton(col("ub"), col("db"), 4))
      .groupBy("tile")
      .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))
      .orderBy("tile")
  }

  /** Time-decayed trending mass per event type: each event weighs
    * 1/(1 + age_days/7), "now" anchored to the stream's max timestamp so
    * the result is deterministic. Hyperbolic decay instead of exp() on
    * purpose: every step is an IEEE-exact arithmetic op, so two engines
    * compute bit-identical weights (libm exp() differs in the last ulp
    * across platforms); production can swap exp in, the plan shape — a
    * one-row broadcast anchor + one partial-aggregated shuffle on the
    * type key — is unchanged. Weights round to 8dp then decimal-sum:
    * partition-order independent. */
  val q76Trending: Q = (s, dir) => {
    val e = Tables(s, dir, "events")
    val anchor = e.agg(max(col("ts")).as("now"))
    e.crossJoin(broadcast(anchor))
      .withColumn("age_days",
        (col("now").cast("double") - col("ts").cast("double")) / 86400.0)
      .withColumn("w",
        round(lit(1.0) / (lit(1.0) + col("age_days") / lit(7.0)), 8)
          .cast("decimal(20,8)"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("w")).cast("double"), 4).as("decayed_mass"))
      .orderBy("event_type")
  }

  /** Nearest-event attribution: each projected order attaches the user's
    * event CLOSEST in time in either direction (ties prefer the past) —
    * `ops/AsOfJoin.nearest`, two single-shuffle as-of passes + an id
    * join. Oracle: two native DuckDB ASOF joins (<= and >=) and the same
    * chooser. */
  val q77NearestEvent: Q = (s, dir) => {
    val events = Tables(s, dir, "events")
      .select(col("user_id").as("o_custkey"), col("ts"),
        col("event_id"), col("event_type"))
    AsOfJoin.nearest(projectedOrders(s, dir), events,
        key = "o_custkey", leftId = "o_orderkey",
        leftTime = "o_ts", rightTime = "ts",
        rightPayload = Seq("event_id", "event_type"),
        rightTieBreak = Some("event_id"))
      .select(col("o_orderkey"),
        col("event_id").as("nearest_event_id"),
        col("event_type").as("nearest_event_type"),
        col("direction"))
      .orderBy("o_orderkey")
  }

  /** q50's semantics on the skew-safe bucketed as-of (`backwardBucketed`,
    * 1-day time buckets): the heavy window partitions by (key, bucket)
    * so a hot user cannot pin one task, and the per-key pass touches
    * bucket summaries only. Same oracle as q50 — ground truth proves the
    * variant, not just the equivalence test. */
  val q79AsofBucketed: Q = (s, dir) => {
    val events = Tables(s, dir, "events")
      .select(col("user_id").as("o_custkey"), col("ts"),
        col("event_id"), col("event_type"))
    AsOfJoin.backwardBucketed(projectedOrders(s, dir), events,
        key = "o_custkey", leftTime = "o_ts", rightTime = "ts",
        rightPayload = Seq("event_id", "event_type"),
        bucketWidth = 86400L, rightTieBreak = Some("event_id"))
      .select(col("o_orderkey"), col("o_custkey"),
        col("event_id").as("last_event_id"),
        col("event_type").as("last_event_type"))
      .orderBy("o_orderkey")
  }

  /** Forward as-of: the user's EARLIEST event at-or-after each order —
    * "what did they do next". Backward plan on a negated time axis (one
    * shuffle); DuckDB's native ASOF with >= is the oracle. */
  val q80AsofForward: Q = (s, dir) => {
    val events = Tables(s, dir, "events")
      .select(col("user_id").as("o_custkey"), col("ts"),
        col("event_id"), col("event_type"))
    AsOfJoin.forward(projectedOrders(s, dir), events,
        key = "o_custkey", leftTime = "o_ts", rightTime = "ts",
        rightPayload = Seq("event_id", "event_type"),
        rightTieBreak = Some("event_id"))
      .select(col("o_orderkey"), col("o_custkey"),
        col("event_id").as("next_event_id"),
        col("event_type").as("next_event_type"))
      .orderBy("o_orderkey")
  }

  /** Daily gap fill + LOCF per event type: aggregate first (events →
    * type×day grid), densify each key's own [min, max] span, zero-fill
    * counts, forward-fill the daily value. See `ops/GapFill`. */
  val q95GapFill: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    GapFill.forwardFillDaily(ev, "event_type", "ts", "value")
      .orderBy("event_type", "bucket")
  }

  /** Global running total of event value over (ts, event_id) — the
    * two-phase distributed prefix sum (`ops/PrefixSum`): day buckets,
    * per-bucket partials + tiny offsets window, bounded within-bucket
    * windows. A naive global-order window would run in ONE task. */
  val q98RunningTotal: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    PrefixSum.runningSum(ev.select("event_id", "ts", "value"),
        bucket = date_trunc("day", col("ts")),
        order = Seq(col("ts"), col("event_id")),
        value = col("value"), outCol = "run_total")
      .select(col("event_id"), round(col("run_total"), 4).as("run_total"))
      .orderBy("event_id")
  }

  /** Per-type daily trend: OLS of summed daily value on the day index,
    * fit from ONE aggregation of decimal-quantized sufficient
    * statistics (`ops/Regression`) — no window, no per-group
    * iteration; x is the small day offset from the window start, not
    * raw epoch seconds (keeps quantized products inside 16 integer
    * digits). */
  val q111TrendRegression: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    // value is 2-dp-valued at source, so the scale-2 cast is exact in
    // BOTH engines (the ×30 finding: a scale-12 cast of a ~500-range
    // double is exact in Spark but noise-prone in DuckDB, and the
    // 1e-11 per-day drift it caused surfaced in the intercept's 8th
    // decimal); day_value stays DECIMAL into the fit
    val daily = ev.groupBy(col("event_type"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("day_value"))
    Regression.fitPerGroup(daily, Seq("event_type"),
        col("day"), col("day_value"))
      .orderBy("event_type")
  }

  /** Robust anomaly tally: per event type, MAD-based outlier fences
    * over the raw value stream (`ops/RobustStats`) — the monitoring
    * pass that survives the very outliers it hunts, unlike mean/σ. */
  val q112MadOutliers: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    RobustStats.madOutlierStats(ev, Seq("event_type"), col("value"))
      .orderBy("event_type")
  }

  /** Materialized-view maintenance: fold a 20-day history STATE table
    * and a fresh delta into merged per-type aggregates without
    * re-scanning history (`ops/AggState`). The oracle is a full direct
    * recompute — passing proves the decimal state merge is bit-exact
    * regardless of batch boundaries. */
  val q114IncrementalAgg: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    val day = datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
    val hist = AggState.partial(ev.filter(day < 20), Seq("event_type"),
      col("value"))
    val delta = AggState.partial(ev.filter(day >= 20), Seq("event_type"),
      col("value"))
    AggState.finalize(AggState.merge(Seq("event_type"), hist, delta),
        Seq("event_type"))
      .orderBy("event_type")
  }

  /** Per-USER engagement rollup over gap sessions (6 h threshold —
    * tuned to the synthetic corpus' ~11 h mean inter-event gap so real
    * multi-event sessions form): q38 emits the session-grain detail;
    * this is the user-grain summary a retention dashboard reads, via
    * the reusable `ops/Sessionize` (q38's inline logic as a library
    * op). All output integer-exact except the rounded mean; tied
    * timestamps are provably order-safe (see `ops/Sessionize`). */
  val q128Sessionize: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
    Sessionize.keyStats(ev, "user_id", "us", gapUs = 21600000000L)
      .orderBy("user_id")
  }

  /** First-order event-type transition matrix (P(next | current) per
    * user journey) — `ops/Sequences.transitions`. Tied timestamps are
    * genuinely order-dependent under `lead`, so the order key carries
    * the unique event_id in both engines. */
  val q131Transitions: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    Sequences.transitions(ev, "user_id", Seq("us", "event_id"), "event_type")
      .orderBy("from_type", "to_type")
  }

  /** Top-10 three-step event paths across all users — funnel discovery
    * (`ops/Sequences.topPaths`); global top-k lowers to TakeOrdered. */
  val q132TopPaths: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    Sequences.topPaths(ev, "user_id", Seq("us", "event_id"), "event_type",
      k = 10)
  }

  /** STREAM-STREAM watermarked interval join, driver-certified — the
    * last major Structured Streaming shape next to q86 (exactly-once
    * sink) and q147 (streaming near-dup): clicks within the hour BEFORE
    * each purchase of the same user, streamed on BOTH sides
    * (`streaming/StreamingOps.intervalJoinStream` — watermarks bound the
    * join state; right rows older than lookback+lateness are evicted).
    *
    * Harness honesty: each side is staged as up to 8 time-RANGE files
    * (`repartitionByRange` on event time — file k's max ts ≤ file k+1's
    * min ts by construction, no single-task global sort), with strictly
    * increasing modification times PINNED explicitly after the write
    * (parallel part files can share an fs-granularity mtime, which would
    * leave FileStreamSource's delivery order undefined), and the file
    * source delivers them oldest-first — so the run is a genuine
    * multi-batch stream whose watermark advances and evicts state
    * between batches, in event-time order per side. Under in-order
    * per-side delivery the global (min-across-sources) watermark never
    * outruns a needed row, so the streamed pair set equals the batch
    * interval join EXACTLY — which is what the DuckDB oracle computes. */
  /** Stage one event type as ≤8 time-RANGE parquet files with strictly
    * increasing, explicitly PINNED mtimes (1 s apart, ending now), so a
    * FileStreamSource delivers them oldest-range-first — the staging
    * shared by the q151/q156 streaming certifications (see the q151
    * scaladoc for why range files + pinned order make stream ≡ batch). */
  /** Keyed, REUSABLE working dir for the streaming certification
    * harnesses: one dir per (tag, events-table content, layout version) —
    * see [[KeyedWorkDir]] for why content, not just path. Repeated
    * bench/verify runs reuse the staged immutable input instead of
    * re-writing it; a REGENERATED corpus gets a fresh dir instead of
    * silently reading stale staged files. Checkpoints/outputs go in a
    * fresh per-run subdir (streaming commit logs must never be shared
    * across runs) that the caller deletes once the result is
    * materialized. Bump the layout tag when the staging layout changes
    * (range-file count, sentinel scheme, event filters). */
  private def keyedTmp(s: SparkSession, tag: String, dir: String): String =
    KeyedWorkDir.keyed(s, tag, dir, "events", layout = "L1")

  /** `spark.sql.streaming.noDataMicroBatches.enabled` — disabled around
    * each certification stream's start() (snapshotted into the cloned
    * stream session, like the 4-partition state sizing): none of these
    * harnesses relies on a trailing no-data batch (q151/q156's inner
    * interval join emits on match during data batches; q158/q161's
    * staging carries three flush sentinels precisely so every session
    * timer fires inside a DATA batch), and each no-data batch still
    * paid a full incremental plan + offset/commit + state-store round. */
  private val NoDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** Marker written only after staging is FULLY complete (data files +
    * sentinels + pinned mtimes) — `_SUCCESS` alone is written mid-way by
    * the parquet commit, so a crash between it and the mtime pinning
    * would otherwise leave a half-staged dir that looks reusable. */
  private val StagedMarker = "_GRAFT_STAGED"

  private def stagingComplete(fs: org.apache.hadoop.fs.FileSystem,
                              path: String): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(path, StagedMarker))

  private def markStaged(fs: org.apache.hadoop.fs.FileSystem,
                         path: String): Unit =
    fs.create(new org.apache.hadoop.fs.Path(path, StagedMarker), true).close()

  private def stageRangedSide(s: SparkSession, ev: DataFrame, tmp: String,
                              sub: String, typ: String,
                              ucol: String, tcol: String): String = {
    val path = s"$tmp/$sub"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (stagingComplete(fs, path)) return path
    fs.delete(p, true) // half-staged leftovers from a crashed run
    ev.filter(col("event_type") === typ)
      .select(col("user_id").as(ucol), col("ts").as(tcol))
      .repartitionByRange(8, col(tcol), col(ucol))
      .write.mode("overwrite").parquet(path)
    val parts = fs.listStatus(p).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val base = System.currentTimeMillis() - parts.length * 1000L
    parts.zipWithIndex.foreach { case (f, i) =>
      fs.setTimes(f, base + i * 1000L, -1)
    }
    markStaged(fs, path)
    path
  }

  /** Name-range glob over a staged dir's part files: matches the FIRST
    * `keep` of `total` range files (part-00000…, lexicographic = range
    * order). Used as `pathGlobFilter` so a restart harness's first life
    * reads a PREFIX of the staged input WITHOUT renaming anything — the
    * staging stays immutable (and therefore safely shareable across
    * queries and concurrent runs); the second life drops the filter and
    * the checkpoint's seen-files log keeps already-read files
    * exactly-once. Assumes < 10 part files (single-digit suffixes). */
  private def prefixGlob(keep: Int): String = {
    require(keep >= 1 && keep <= 9, s"prefixGlob expects 1..9 files, got $keep")
    s"part-0000[0-${keep - 1}]*"
  }

  val q151StreamingIntervalJoin: Q = (s, dir) => {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = keyedTmp(s, "tempstage", dir)
    val run = s"$tmp/run-${System.nanoTime()}"
    val ev = Tables(s, dir, "events")
    val pPath = stageRangedSide(s, ev, tmp, "purchases", "purchase", "p_user", "p_ts")
    val cPath = stageRangedSide(s, ev, tmp, "clicks", "click", "c_user", "c_ts")
    // 2 consecutive time-range files per trigger: still a genuine
    // multi-batch run (4+ triggers, watermark advancing and evicting
    // between them) at half the per-batch state-store/checkpoint
    // overhead of one-file triggers — the certification needs batch
    // BOUNDARIES, not the maximum possible number of them.
    def fileStream(path: String) =
      s.readStream.schema(s.read.parquet(path).schema)
        .option("maxFilesPerTrigger", 2).parquet(path)
    val joined = graft.streaming.StreamingOps.intervalJoinStream(
      fileStream(pPath), fileStream(cPath),
      key = "p_user", rightKey = "c_user", leftTs = "p_ts", rightTs = "c_ts",
      lookback = "1 hour", lateness = "10 minutes")
    val sink = s"q151_pairs_${math.abs(run.hashCode)}"
    // 4 state partitions for this stream only (fixed at first start via
    // the session conf, then restored): the stream-stream join keeps
    // 2 state stores per partition per micro-batch, so each trigger pays
    // ~partitions×2 store commits — at 4+ triggers that per-batch store
    // overhead, not data volume, dominates this harness (the pair data
    // itself is tiny, so halving 8→4 cut commit cost with zero skew
    // risk). A real deployment sizes this to state volume the same way.
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = s.conf.get(NoDataKey, "true")
    val q = try {
      s.conf.set("spark.sql.shuffle.partitions", "4")
      // no trailing no-data micro-batch: the harness DESIGN never relies
      // on one (inner interval joins emit on match during data batches;
      // the sessionize stagings carry flush sentinels precisely so every
      // timer fires inside a DATA batch), and each no-data batch still
      // paid a full plan + offset/commit + state-store round
      // (OPTIMIZATION_r16.md §3). Read from the cloned session snapshotted at
      // start(), like the state sizing above.
      s.conf.set(NoDataKey, "false")
      joined.writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", s"$run/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.conf.set(NoDataKey, prevNoData)
    }
    q.awaitTermination()
    // the memory sink holds the rows; the run's checkpoint is done with
    new org.apache.hadoop.fs.Path(run).getFileSystem(
      s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(run), true)
    s.table(sink)
      .groupBy(to_date(col("p_ts")).as("day"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("p_user")).as("n_users"))
      .orderBy("day")
  }

  /** CHECKPOINT-RESTART certification — the recovery property q151/q147
    * leave open: those certify exactly-once and watermark eviction within
    * ONE query lifetime; here the stream is KILLED mid-corpus, the JVM's
    * state-store provider cache is dropped (simulating executor death —
    * otherwise the "restart" would be served from memory and prove
    * nothing), and a brand-new query resumes from the same checkpoint.
    * Kill point: ALL clicks are delivered in the first life but the
    * later HALF of the purchases is held back — so every pair the second
    * life emits joins a purchase read after the restart to click state
    * RELOADED from checkpoint files (a symmetric time split would make
    * cross-life pairs vanishingly rare: only a 1-hour seam of a
    * multi-week range), and the watermark/offsets come back from the
    * durable logs — the Spark equivalent of the reference queue's GC
    * redelivery surviving worker death
    * (`src/workqueue/rediswq.py:85-166`). The final sink must still
    * equal the batch interval join exactly (same oracle as q151), and a
    * non-vacuity require proves second-life pairs exist.
    *
    * Sink: a parquet FILE sink (not memory) — its _spark_metadata commit
    * log is what makes output exactly-once ACROSS lifetimes; reading the
    * directory back honors the log. */
  val q156CheckpointRestart: Q = (s, dir) => {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.hadoop.fs.Path
    val tmp = keyedTmp(s, "tempstage", dir) // immutable staging, shared with q151
    val run = s"$tmp/run-${System.nanoTime()}"
    val ev = Tables(s, dir, "events")
    val pPath = stageRangedSide(s, ev, tmp, "purchases", "purchase", "p_user", "p_ts")
    val cPath = stageRangedSide(s, ev, tmp, "clicks", "click", "c_user", "c_ts")
    val pSchema = s.read.parquet(pPath).schema
    val cSchema = s.read.parquet(cPath).schema
    val fs = new Path(tmp).getFileSystem(s.sparkContext.hadoopConfiguration)
    // hold back the purchases' LATER half via a name-range glob on the
    // first life's source (files are named in range order) — the staged
    // dir itself is never mutated, so concurrent runs can share it
    val pParts = fs.listStatus(new Path(pPath)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val firstLifeCount = pParts.length / 2
    require(firstLifeCount >= 1 && firstLifeCount < pParts.length,
      "restart rehearsal needs files to hold back")
    // non-vacuity boundary: every pair whose purchase is at/after this
    // joins second-life input to click state reloaded from checkpoint
    val minHeldPurchaseTs = s.read.parquet(
        pParts(firstLifeCount).toString)
      .agg(min(col("p_ts"))).head().getTimestamp(0)
    val out = s"$run/pairs"
    val ckpt = s"$run/ckpt"
    // one LIFE of the query: fresh plan + fresh source instances, same
    // checkpoint — run to AvailableNow completion and stop. Life 1 sees
    // only the earlier purchase files through the glob; life 2 drops the
    // filter and the checkpoint's seen-files log keeps exactly-once.
    def life(purchaseGlob: Option[String]): Unit = {
      // 3 files per trigger: 3 batches in life 1 + 2 in life 2 — still
      // genuinely multi-batch per life (watermark advances and commits
      // between triggers), at 5/6 of the per-batch state/commit overhead;
      // the RESTART is what this harness certifies (q151 keeps the
      // denser 4-trigger cadence for the multi-batch property itself)
      val pReader = s.readStream.schema(pSchema).option("maxFilesPerTrigger", 3)
      purchaseGlob.foreach(g => pReader.option("pathGlobFilter", g))
      val joined = graft.streaming.StreamingOps.intervalJoinStream(
        pReader.parquet(pPath),
        s.readStream.schema(cSchema).option("maxFilesPerTrigger", 3).parquet(cPath),
        key = "p_user", rightKey = "c_user", leftTs = "p_ts", rightTs = "c_ts",
        lookback = "1 hour", lateness = "10 minutes")
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      val prevNoData = s.conf.get(NoDataKey, "true")
      val q = try {
        s.conf.set("spark.sql.shuffle.partitions", "4") // q151's state sizing
        s.conf.set(NoDataKey, "false") // q151's no-data note
        joined.writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", prevParts)
        s.conf.set(NoDataKey, prevNoData)
      }
      q.awaitTermination()
    }
    life(Some(prefixGlob(firstLifeCount))) // first life: earlier half only
    org.apache.spark.sql.GraftStreamingBridge.unloadAllStateStores() // die
    life(None)                          // second life: resumes, reads rest
    // non-vacuity: the certification must have EXERCISED reloaded state
    val crossLifetimePairs = s.read.parquet(out)
      .filter(col("p_ts") >= lit(minHeldPurchaseTs))
      .limit(1).count()
    require(crossLifetimePairs > 0,
      "restart certification vacuous: no pair joins a second-life purchase " +
        "to reloaded click state")
    // materialize, then drop the run's scratch
    val result = Checkpoints.materialize(s.read.parquet(out)
      .groupBy(to_date(col("p_ts")).as("day"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("p_user")).as("n_users")))
    fs.delete(new Path(run), true)
    result.orderBy("day")
  }

  /** STREAMING SESSIONIZATION with custom event-time state, certified
    * stream ≡ batch — the arbitrary-stateful-processing shape the other
    * streaming certifications leave open (q86 sink exactly-once, q147
    * keyed band join, q151/q156 stream-stream join; `StatefulDedup`'s
    * TTL gate is processing-time). `streaming/StreamingSessionize` runs
    * gap sessionization as a per-key state machine on
    * `flatMapGroupsWithState` + EventTimeTimeout: closed sessions shed
    * eagerly as the watermark passes them (state holds OPEN sessions
    * only — the bounded-state property a 100 TB stream needs), timers
    * re-arm at the earliest retained close.
    *
    * Harness: events staged as time-range files with pinned increasing
    * mtimes (q151's staging argument — in-order delivery, so no row
    * outruns the watermark), THREE far-future flush sentinels under a
    * reserved key so the watermark provably passes every real session
    * close inside a DATA batch regardless of file-count parity (sentinel
    * k's timestamp raises the max event time; the batch carrying
    * sentinel k+1 then fires the timers — no reliance on the engine
    * scheduling a no-data batch). Two non-vacuity requires: sessions
    * must emit across ≥2 distinct batches (eager shedding, not one
    * final flush), and the streamed session set rolls up to EXACTLY the
    * q128 batch oracle (same gap, same rollup, same SQL). */
  private val SessGapUs = 21600000000L // 6 h — q128's threshold, same corpus

  /** Stage the events corpus for the sessionize certifications: ≤7
    * time-range parquet files plus three far-future flush sentinels
    * under the reserved key −1, all with strictly increasing PINNED
    * mtimes (range files in range order, sentinels last). Three
    * sentinels make the final timer firing parity-robust: whatever the
    * data-file count mod maxFilesPerTrigger, some sentinel lands in a
    * LATER batch than another, so the watermark passes every real
    * session close inside a batch that has data — no reliance on the
    * engine scheduling a no-data batch. Returns the staged path. */
  private def stageSessionizeInput(s: SparkSession, dir: String,
                                   tmp: String): String = {
    import org.apache.hadoop.fs.Path
    val path = s"$tmp/events"
    val fs0 = new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)
    if (stagingComplete(fs0, path)) return path
    fs0.delete(new Path(path), true) // half-staged leftovers
    Tables(s, dir, "events").select(col("user_id"), col("ts"))
      .repartitionByRange(7, col("ts"), col("user_id"))
      .write.mode("overwrite").parquet(path)
    val maxTs = s.read.parquet(path).agg(max(col("ts"))).head().getTimestamp(0)
    val fs = new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)
    // three flush sentinels, 1 h apart, all past max + gap + lateness
    (1 to 3).foreach { i =>
      val sentTs = new java.sql.Timestamp(
        maxTs.getTime + SessGapUs / 1000L + 600000L + i * 3600000L)
      val sdir = s"$tmp/sent$i"
      s.createDataFrame(java.util.List.of(
          org.apache.spark.sql.Row(-1L, sentTs)),
          s.read.parquet(path).schema)
        .coalesce(1).write.mode("overwrite").parquet(sdir)
      val part = fs.listStatus(new Path(sdir)).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).head
      require(fs.rename(part, new Path(path, f"zzz-sentinel-$i.parquet")),
        s"sentinel move failed for $sdir")
    }
    val parts = fs.listStatus(new Path(path)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val base = System.currentTimeMillis() - parts.length * 1000L
    parts.zipWithIndex.foreach { case (f, i) => fs.setTimes(f, base + i * 1000L, -1) }
    markStaged(fs, path)
    path
  }

  /** The custom-state sessionizer over a staged file stream (shared by
    * q158 single-lifetime and q161 restart). */
  private def sessionizeStream(s: SparkSession, path: String,
                               glob: Option[String] = None): DataFrame = {
    import graft.streaming.StreamingSessionize
    import s.implicits._
    val reader = s.readStream.schema(s.read.parquet(path).schema)
      .option("maxFilesPerTrigger", 2)
    glob.foreach(g => reader.option("pathGlobFilter", g))
    val raw = reader.parquet(path)
    StreamingSessionize.sessions(
      raw.select(col("user_id").as("key"), col("ts"),
        unix_micros(col("ts")).as("us")).as[StreamingSessionize.SessEvent],
      SessGapUs, lateness = "10 minutes").toDF()
  }

  /** Session-detail rows → the q128 per-user rollup (sentinels dropped)
    * — the oracle-facing grain shared by q158/q161. */
  private def sessionRollup(sessions: DataFrame): DataFrame =
    sessions.filter(col("key") >= 0) // drop the flush sentinels
      .groupBy(col("key").as("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_ev")).as("n_events"),
        max(col("n_ev")).as("max_sess_events"),
        sum(col("end_us") - col("start_us")).as("total_dur_us"),
        round(sum(col("n_ev")).cast("double") / count(lit(1)), 4)
          .as("avg_sess_events"))
      .orderBy("user_id")

  val q158StreamingSessionize: Q = (s, dir) => {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = keyedTmp(s, "sessstage", dir)
    val run = s"$tmp/run-${System.nanoTime()}"
    val path = stageSessionizeInput(s, dir, tmp)
    val sink = s"q158_sessions_${math.abs(run.hashCode)}"
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = s.conf.get(NoDataKey, "true")
    val q = try {
      s.conf.set("spark.sql.shuffle.partitions", "4") // state sizing, as q151
      s.conf.set(NoDataKey, "false") // q151's no-data note; sentinels fire
      sessionizeStream(s, path).writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", s"$run/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.conf.set(NoDataKey, prevNoData)
    }
    q.awaitTermination()
    val emittingBatches = q.recentProgress.count(_.sink.numOutputRows > 0)
    require(emittingBatches >= 2,
      s"sessionize certification vacuous: sessions emitted in $emittingBatches " +
        "batch(es) — eager watermark shedding not exercised")
    new org.apache.hadoop.fs.Path(run).getFileSystem(
      s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(run), true)
    sessionRollup(s.table(sink))
  }

  /** CHECKPOINT-RESTART certification for CUSTOM event-time state — the
    * q156 property for the `flatMapGroupsWithState` state format (q156
    * certifies the stream-stream JOIN's state recovery; this certifies
    * recovery of user-defined state: the sessionizer's open-session
    * buffers and their event-time timers). The stream is killed after
    * the earlier half of the time range, the state-store provider cache
    * is dropped (simulating executor death), and a new query resumes
    * from the checkpoint over the restored files. Non-vacuity: at least
    * one emitted session must SPAN the kill boundary — its early events
    * exist only in reloaded state, its late events only in second-life
    * input, so the session is correct only if buffer AND timer came back
    * from the checkpoint files. Final rollup must equal the q128 batch
    * oracle exactly; the parquet sink's commit log makes output
    * exactly-once across the two lifetimes. */
  val q161SessionizeRestart: Q = (s, dir) => {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.hadoop.fs.Path
    val tmp = keyedTmp(s, "sessstage", dir) // immutable staging, shared with q158
    val run = s"$tmp/run-${System.nanoTime()}"
    val path = stageSessionizeInput(s, dir, tmp)
    val fs = new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)
    // life 1 sees only the earlier half of the DATA files through a
    // name-range glob (sentinels sort last and are excluded with the
    // later files); the staged dir itself is never mutated
    val parts = fs.listStatus(new Path(path)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val dataCount = parts.count(!_.getName.startsWith("zzz-sentinel"))
    val firstLifeCount = dataCount / 2
    require(firstLifeCount >= 1 && firstLifeCount < dataCount,
      "restart rehearsal needs files to hold back")
    val boundaryUs = s.read.parquet(parts(firstLifeCount).toString)
      .agg(min(unix_micros(col("ts")))).head().getLong(0)
    val out = s"$run/sessions"
    def life(glob: Option[String]): Unit = {
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      val prevNoData = s.conf.get(NoDataKey, "true")
      val q = try {
        s.conf.set("spark.sql.shuffle.partitions", "4")
        s.conf.set(NoDataKey, "false") // q151's no-data note; sentinels fire
        sessionizeStream(s, path, glob).writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", s"$run/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", prevParts)
        s.conf.set(NoDataKey, prevNoData)
      }
      q.awaitTermination()
    }
    life(Some(prefixGlob(firstLifeCount))) // first life: earlier half only
    org.apache.spark.sql.GraftStreamingBridge.unloadAllStateStores() // die
    life(None)                          // second life: resumes from ckpt
    val crossBoundary = s.read.parquet(out)
      .filter(col("start_us") < boundaryUs && col("end_us") >= boundaryUs)
      .limit(1).count()
    require(crossBoundary > 0,
      "restart certification vacuous: no session spans the kill boundary " +
        "(reloaded open-session state never exercised)")
    val result = Checkpoints.materialize(sessionRollup(s.read.parquet(out)))
    fs.delete(new Path(run), true)
    result
  }

  val defs: Map[String, Q] = Map(
    "q161_sessionize_restart" -> q161SessionizeRestart,
    "q158_streaming_sessionize" -> q158StreamingSessionize,
    "q156_checkpoint_restart" -> q156CheckpointRestart,
    "q151_streaming_interval_join" -> q151StreamingIntervalJoin,
    "q132_top_paths" -> q132TopPaths,
    "q131_transitions" -> q131Transitions,
    "q128_sessionize" -> q128Sessionize,
    "q114_incremental_agg" -> q114IncrementalAgg,
    "q112_mad_outliers" -> q112MadOutliers,
    "q111_trend_regression" -> q111TrendRegression,
    "q98_running_total" -> q98RunningTotal,
    "q95_gap_fill" -> q95GapFill,
    "q79_asof_bucketed" -> q79AsofBucketed,
    "q80_asof_forward" -> q80AsofForward,
    "q77_nearest_event" -> q77NearestEvent,
    "q76_trending" -> q76Trending,
    "q70_zorder_layout" -> q70ZorderLayout,
    "q50_asof_join" -> q50AsofJoin,
    "q51_range_join" -> q51RangeJoin,
    "q62_attribution" -> q62Attribution,
    "q63_retention_cohorts" -> q63RetentionCohorts,
    "q64_event_funnel" -> q64EventFunnel,
  )

  private val asofBackwardSql =
    s"""WITH $projectedOrdersSql,
       ev AS (
         SELECT user_id, ts,
           arg_max(event_id, event_id) AS event_id,
           arg_max(event_type, event_id) AS event_type
         FROM events GROUP BY 1, 2)
       SELECT o.o_orderkey, o.o_custkey,
         e.event_id AS last_event_id, e.event_type AS last_event_type
       FROM po o ASOF LEFT JOIN ev e
         ON o.o_custkey = e.user_id AND e.ts <= o.o_ts
       ORDER BY o.o_orderkey"""

  /** Batch ground truth the streamed pair set must equal exactly —
    * shared by q151 (single-lifetime) and q156 (kill + restart): the
    * recovery is only certified if the restarted run converges to the
    * SAME batch answer. */
  private val intervalJoinOracle =
    """SELECT CAST(p.ts AS DATE) AS day, count(*) AS n_pairs,
         count(DISTINCT p.user_id) AS n_users
       FROM events p JOIN events c
         ON c.user_id = p.user_id
        AND c.ts >= p.ts - INTERVAL 1 HOUR
        AND c.ts <= p.ts
       WHERE p.event_type = 'purchase' AND c.event_type = 'click'
       GROUP BY 1 ORDER BY 1"""

  val oracles: Map[String, String] = Map(
    "q151_streaming_interval_join" -> intervalJoinOracle,
    "q156_checkpoint_restart" -> intervalJoinOracle,
    "q131_transitions" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
                    FROM events),
         t AS (SELECT event_type AS from_type,
                 lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY us, event_id) AS to_type
               FROM e),
         c AS (SELECT from_type, to_type, count(*) AS n
               FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type, n,
           round(n * 1.0 / sum(n) OVER (PARTITION BY from_type), 4) AS prob
         FROM c ORDER BY 1, 2""",
    "q132_top_paths" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
                    FROM events),
         t AS (SELECT event_type AS a,
                 lead(event_type, 1) OVER (PARTITION BY user_id
                   ORDER BY us, event_id) AS b,
                 lead(event_type, 2) OVER (PARTITION BY user_id
                   ORDER BY us, event_id) AS c
               FROM e),
         p AS (SELECT a || '>' || b || '>' || c AS path, count(*) AS n
               FROM t WHERE b IS NOT NULL AND c IS NOT NULL GROUP BY 1)
         SELECT path, n FROM p ORDER BY n DESC, path LIMIT 10""",
    // q158 streams the SAME corpus through the custom-state sessionizer
    // and must roll up to exactly the batch sessionization ground truth
    // (q128's oracle verbatim) — that equality IS the certification;
    // q161 re-runs it killed-and-restarted from the checkpoint, and
    // recovery is only certified if it converges to the SAME answer.
    "q161_sessionize_restart" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
         g AS (SELECT user_id, us,
                 CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                        > 21600000000 THEN 1 ELSE 0 END AS brk
               FROM e),
         s AS (SELECT user_id,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY us) AS sess,
                 us
               FROM g),
         sl AS (SELECT user_id, sess, count(*) AS n_ev,
                  max(us) - min(us) AS dur
                FROM s GROUP BY 1, 2)
         SELECT user_id, count(*) AS n_sessions,
           CAST(sum(n_ev) AS BIGINT) AS n_events,
           max(n_ev) AS max_sess_events,
           CAST(sum(dur) AS BIGINT) AS total_dur_us,
           round(CAST(sum(n_ev) AS DOUBLE) / count(*), 4) AS avg_sess_events
         FROM sl GROUP BY 1 ORDER BY 1""",
    "q158_streaming_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
         g AS (SELECT user_id, us,
                 CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                        > 21600000000 THEN 1 ELSE 0 END AS brk
               FROM e),
         s AS (SELECT user_id,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY us) AS sess,
                 us
               FROM g),
         sl AS (SELECT user_id, sess, count(*) AS n_ev,
                  max(us) - min(us) AS dur
                FROM s GROUP BY 1, 2)
         SELECT user_id, count(*) AS n_sessions,
           CAST(sum(n_ev) AS BIGINT) AS n_events,
           max(n_ev) AS max_sess_events,
           CAST(sum(dur) AS BIGINT) AS total_dur_us,
           round(CAST(sum(n_ev) AS DOUBLE) / count(*), 4) AS avg_sess_events
         FROM sl GROUP BY 1 ORDER BY 1""",
    "q128_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
         g AS (SELECT user_id, us,
                 CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                        > 21600000000 THEN 1 ELSE 0 END AS brk
               FROM e),
         s AS (SELECT user_id,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY us) AS sess,
                 us
               FROM g),
         sl AS (SELECT user_id, sess, count(*) AS n_ev,
                  max(us) - min(us) AS dur
                FROM s GROUP BY 1, 2)
         SELECT user_id, count(*) AS n_sessions,
           CAST(sum(n_ev) AS BIGINT) AS n_events,
           max(n_ev) AS max_sess_events,
           CAST(sum(dur) AS BIGINT) AS total_dur_us,
           round(CAST(sum(n_ev) AS DOUBLE) / count(*), 4) AS avg_sess_events
         FROM sl GROUP BY 1 ORDER BY 1""",
    // full direct recompute — must equal the state-merge path exactly
    "q114_incremental_agg" ->
      """SELECT event_type, count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(28,12))) AS DOUBLE), 6)
             AS sum_value,
           round(CAST(sum(CAST(value AS DECIMAL(28,12))) AS DOUBLE)
             / count(*), 6) AS avg_value,
           min(value) AS min_value, max(value) AS max_value
         FROM events GROUP BY 1 ORDER BY 1""",
    "q111_trend_regression" ->
      """WITH daily AS (SELECT event_type,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
             sum(CAST(value AS DECIMAL(18,2))) AS day_value
           FROM events GROUP BY 1, 2),
         t AS (SELECT event_type,
             CAST(CAST(day AS DOUBLE) AS DECIMAL(28,6)) AS x,
             CAST(day_value AS DECIMAL(28,6)) AS y
           FROM daily),
         s AS (SELECT event_type, count(*) AS n,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(y * y) AS DOUBLE) AS syy
           FROM t GROUP BY 1)
         SELECT event_type, n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 8) + 0 AS slope,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 4)
             + 0 AS intercept,
           round((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 8) AS r2
         FROM s ORDER BY 1""",
    "q112_mad_outliers" ->
      """WITH meds AS (SELECT event_type, quantile_cont(value, 0.5) AS med
           FROM events GROUP BY 1),
         d AS (SELECT e.event_type, e.value, m.med
               FROM events e JOIN meds m USING (event_type)),
         mads AS (SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
                  FROM d GROUP BY 1)
         SELECT d.event_type, count(*) AS n,
           round(any_value(d.med), 6) AS med,
           round(any_value(m.mad), 6) AS mad,
           CAST(sum(CASE WHEN abs(d.value - d.med) > 3 * 1.4826 * m.mad
               THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         FROM d JOIN mads m USING (event_type)
         GROUP BY 1 ORDER BY 1""",
    "q98_running_total" ->
      """SELECT event_id,
           round(CAST(sum(CAST(value AS DECIMAL(28,12)))
             OVER (ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 4)
             AS run_total
         FROM events ORDER BY event_id""",
    "q95_gap_fill" ->
      """WITH agg AS (SELECT event_type, date_trunc('day', ts) AS bucket,
             count(*) AS n, round(CAST(sum(CAST(value AS DECIMAL(28,12))) AS DOUBLE), 4) AS bv
           FROM events GROUP BY 1, 2),
         span AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
                  FROM agg GROUP BY 1),
         cal AS (SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS bucket
                 FROM span),
         j AS (SELECT cal.event_type, cal.bucket,
                 coalesce(agg.n, 0) AS n_events, agg.bv
               FROM cal LEFT JOIN agg USING (event_type, bucket))
         SELECT event_type, bucket, n_events,
           last_value(bv IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
         FROM j ORDER BY 1, 2""",
    // identical ground truth to q50 — proves the bucketed variant
    "q79_asof_bucketed" -> asofBackwardSql,
    "q80_asof_forward" ->
      s"""WITH $projectedOrdersSql,
         ev AS (
           SELECT user_id, ts,
             arg_max(event_id, event_id) AS event_id,
             arg_max(event_type, event_id) AS event_type
           FROM events GROUP BY 1, 2)
         SELECT o.o_orderkey, o.o_custkey,
           e.event_id AS next_event_id, e.event_type AS next_event_type
         FROM po o ASOF LEFT JOIN ev e
           ON o.o_custkey = e.user_id AND e.ts >= o.o_ts
         ORDER BY o.o_orderkey""",
    // two native ASOF joins (<= and >=) + the same tie-prefers-past
    // chooser on epoch doubles
    "q77_nearest_event" ->
      s"""WITH $projectedOrdersSql,
         ev AS (
           SELECT user_id, ts,
             arg_max(event_id, event_id) AS event_id,
             arg_max(event_type, event_id) AS event_type
           FROM events GROUP BY 1, 2),
         b AS (SELECT o.o_orderkey, o.o_ts, e.ts AS b_ts,
                 e.event_id AS b_id, e.event_type AS b_ty
               FROM po o ASOF LEFT JOIN ev e
                 ON o.o_custkey = e.user_id AND e.ts <= o.o_ts),
         f AS (SELECT o.o_orderkey, e.ts AS f_ts,
                 e.event_id AS f_id, e.event_type AS f_ty
               FROM po o ASOF LEFT JOIN ev e
                 ON o.o_custkey = e.user_id AND e.ts >= o.o_ts),
         j AS (SELECT b.*, f.f_ts, f.f_id, f.f_ty,
                 (b_ts IS NOT NULL AND (f_ts IS NULL OR
                   (epoch(o_ts) - epoch(b_ts)) <= (epoch(f_ts) - epoch(o_ts))))
                   AS pick_past
               FROM b JOIN f USING (o_orderkey))
         SELECT o_orderkey,
           CASE WHEN pick_past THEN b_id ELSE f_id END AS nearest_event_id,
           CASE WHEN pick_past THEN b_ty ELSE f_ty END AS nearest_event_type,
           CASE WHEN pick_past THEN 'past'
                WHEN f_ts IS NOT NULL THEN 'future' END AS direction
         FROM j ORDER BY o_orderkey""",
    // identical IEEE arithmetic chain (no libm): epoch seconds → age →
    // hyperbolic weight → 8dp round → decimal sum
    "q76_trending" ->
      """WITH m AS (SELECT max(ts) AS now FROM events)
         SELECT event_type, count(*) AS n_events,
           round(CAST(sum(CAST(round(
             1.0 / (1.0 + ((epoch(now) - epoch(ts)) / 86400.0) / 7.0), 8)
             AS DECIMAL(20,8))) AS DOUBLE), 4) AS decayed_mass
         FROM events CROSS JOIN m GROUP BY 1 ORDER BY 1""",
    // identical integer bucket + bit-interleave math; floor() is explicit
    // because DuckDB's CAST rounds where Spark's truncates
    "q70_zorder_layout" ->
      """WITH e AS (SELECT event_id, user_id,
             CAST(floor((epoch(ts) - 1704067200) / 86400) AS BIGINT) AS day
           FROM events),
         ext AS (SELECT min(user_id) AS minu, max(user_id) AS maxu,
                   min(day) AS mind, max(day) AS maxd FROM e),
         b AS (SELECT event_id, user_id,
             CAST(floor(((user_id - minu) * 16.0) / (maxu - minu + 1)) AS BIGINT) AS ub,
             CAST(floor(((day - mind) * 16.0) / (maxd - mind + 1)) AS BIGINT) AS db
           FROM e CROSS JOIN ext),
         t AS (SELECT event_id, user_id,
             (((ub >> 0) & 1) << 0) | (((db >> 0) & 1) << 1)
             | (((ub >> 1) & 1) << 2) | (((db >> 1) & 1) << 3)
             | (((ub >> 2) & 1) << 4) | (((db >> 2) & 1) << 5)
             | (((ub >> 3) & 1) << 6) | (((db >> 3) & 1) << 7) AS tile
           FROM b)
         SELECT tile, count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
         FROM t GROUP BY 1 ORDER BY 1""",
    // DuckDB native ASOF LEFT JOIN; the same within-instant tiebreak is
    // applied first so both engines resolve equal-ts events identically.
    "q50_asof_join" -> asofBackwardSql,
    "q62_attribution" ->
      s"""WITH $projectedOrdersSql,
         ev AS (
           SELECT user_id, ts,
             arg_max(event_id, event_id) AS event_id,
             arg_max(event_type, event_id) AS event_type
           FROM events GROUP BY 1, 2)
         SELECT coalesce(e.event_type, 'none') AS channel,
           count(*) AS n_orders,
           round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(25,10))) AS DOUBLE), 4) AS revenue
         FROM po o ASOF LEFT JOIN ev e
           ON o.o_custkey = e.user_id AND e.ts <= o.o_ts
         GROUP BY 1 ORDER BY 1""",
    "q63_retention_cohorts" ->
      """WITH e AS (SELECT user_id,
           CAST(floor((epoch(ts) - 1704067200) / 86400) AS BIGINT) AS day
         FROM events),
         f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1)
         SELECT f.cohort_day, e.day - f.cohort_day AS day_offset,
           count(DISTINCT e.user_id) AS n_users
         FROM e JOIN f USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q64_event_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
                    WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
               JOIN v ON e.user_id = v.user_id
               WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
         p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
               JOIN c ON e.user_id = c.user_id
               WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
         SELECT '1_view' AS stage, count(*) AS n_users FROM v
         UNION ALL
         SELECT '2_click' AS stage, count(*) AS n_users FROM c
         UNION ALL
         SELECT '3_purchase' AS stage, count(*) AS n_users FROM p
         ORDER BY stage""",
    "q51_range_join" ->
      """WITH c AS (
           SELECT event_type AS campaign,
             date_trunc('day', min(ts)) + INTERVAL 1 DAY AS w_start,
             date_trunc('day', min(ts)) + INTERVAL 3 DAY AS w_end
           FROM events GROUP BY 1)
         SELECT c.campaign, count(*) AS n_events,
           round(CAST(sum(CAST(e.value AS DECIMAL(25,10))) AS DOUBLE), 4) AS sum_value
         FROM events e JOIN c
           ON e.ts >= c.w_start AND e.ts < c.w_end
         GROUP BY 1 ORDER BY 1""",
  )
}
