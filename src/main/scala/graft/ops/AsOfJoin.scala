package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for each left row, attach the latest right row with the
  * same key and right.time <= left.time (backward as-of — the classic
  * "state of the world when the event happened" lookup; e.g. the last
  * user interaction before an order was placed).
  *
  * Spark has no built-in as-of join. The naive form —
  * `left.join(right, key && rTime <= lTime)` then a max-window — first
  * MATERIALIZES every (left × matching-right) pair: for a key with n
  * lefts and m rights that is n×m rows before the window prunes them, a
  * scale-killer. This implementation uses the union trick instead:
  *
  *  1. union right rows (tagged 0) and left rows (tagged 1) into one
  *     relation with a common (key, time) pair;
  *  2. one window over (key) ordered by (time, tag), carrying
  *     last_value(right payload, ignoreNulls) — each row sees the most
  *     recent right row at-or-before it (right sorts before left on time
  *     ties, so an exact-tie right row IS visible to the left row);
  *  3. keep only left rows.
  *
  * Cost: ONE shuffle of |left| + |right| rows and a per-key sort — the
  * same exchange a sort-merge join would do, with no pair blow-up.
  *
  * Skew note: the window partitions by key, so a single hot key sorts on
  * one task. If keys are few/hot, pre-split by time range (partition the
  * window by (key, coarse time bucket) and carry the last value of the
  * previous bucket in a second, bucket-level pass); not needed for
  * dimensioned keys like user ids.
  */
object AsOfJoin {

  /** Backward as-of join. `rightPayload` columns from the right side are
    * returned nullable (null = no right row at or before the left time).
    * Left columns pass through unchanged. Time ties within the right side
    * are broken by `rightTieBreak` (latest wins), keeping the result
    * deterministic when a key has several right rows at one instant. */
  def backward(left: DataFrame, right: DataFrame,
               key: String, leftTime: String, rightTime: String,
               rightPayload: Seq[String],
               rightTieBreak: Option[String] = None): DataFrame = {
    // Deterministic within-instant winner on the right side: one row per
    // (key, time) — max_by on the tiebreaker (a tiny pre-aggregation that
    // also shrinks the union input).
    val rightDedup = rightTieBreak match {
      case Some(tb) =>
        val payloadStruct = struct(rightPayload.map(col): _*)
        right.groupBy(col(key), col(rightTime))
          .agg(max_by(payloadStruct, col(tb)).as("__p"))
      case None =>
        right.select(col(key), col(rightTime),
          struct(rightPayload.map(col): _*).as("__p"))
    }

    val leftCols = left.columns.toSeq
    val rTagged = rightDedup.select(
      Seq(col(key).as("__k"), col(rightTime).as("__t"), lit(0).as("__tag"),
        col("__p")) ++ leftCols.map(c => lit(null).as(s"__l_$c")): _*)
    val lTagged = left.select(
      Seq(col(key).as("__k"), col(leftTime).as("__t"), lit(1).as("__tag"),
        lit(null).as("__p")) ++ leftCols.map(c => col(c).as(s"__l_$c")): _*)

    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t").asc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    rTagged.unionByName(lTagged)
      .withColumn("__last", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
      .select(leftCols.map(c => col(s"__l_$c").as(c)) ++
        rightPayload.map(p => col("__last").getField(p).as(p)): _*)
  }

  /** Forward as-of: the EARLIEST right row at-or-after the left time
    * ("next event after the order"). Implemented by running the backward
    * join on a negated time axis — same single-shuffle plan. */
  def forward(left: DataFrame, right: DataFrame,
              key: String, leftTime: String, rightTime: String,
              rightPayload: Seq[String],
              rightTieBreak: Option[String] = None): DataFrame =
    backward(
      left.withColumn("__negt_l", -col(leftTime).cast("double")),
      right.withColumn("__negt_r", -col(rightTime).cast("double")),
      key, "__negt_l", "__negt_r", rightPayload, rightTieBreak)
      .drop("__negt_l")

  /** Nearest-in-time as-of: the right row with MINIMAL |right.time −
    * left.time| in either direction (ties prefer the past row —
    * "state-at" beats "state-after" when equidistant). Composed from one
    * backward and one forward pass — two single-shuffle as-ofs plus a
    * join on `leftId` (which must be unique per left row); no pair
    * blow-up anywhere. Returns the left columns + the chosen payload +
    * `direction` ('past'/'future', null when the key has no right rows
    * at all). The right time column is always part of the payload (the
    * chooser needs it); callers get it back as `rightTime`. */
  def nearest(left: DataFrame, right: DataFrame,
              key: String, leftId: String, leftTime: String, rightTime: String,
              rightPayload: Seq[String],
              rightTieBreak: Option[String] = None): DataFrame = {
    // r15 form: ONE tagged union and ONE key exchange carrying BOTH
    // directions — the backward window (time asc) and the forward window
    // (time desc) share the hash partitioning, so the second window adds
    // only a sort, and the chooser runs inline on the left rows. The old
    // form composed [[backward]] + [[forward]] + two id equi-joins back
    // to `left`: 2 extra scans of each input, 2 window exchanges and a
    // join exchange, all shuffling the same |left|+|right| rows this
    // single pass shuffles once. Ordering parity: the forward pass used
    // to run [[backward]] on a NEGATED double time axis — `desc_nulls_
    // first` on the raw time column is the same total order (and exact
    // on timestamps where the double cast could in principle collide).
    // `leftId` is retained for API stability (the old form joined on it;
    // this form never needs it).
    val pw = (rightTime +: rightPayload).distinct
    val rightDedup = rightTieBreak match {
      case Some(tb) =>
        val payloadStruct = struct(pw.map(col): _*)
        right.groupBy(col(key), col(rightTime))
          .agg(max_by(payloadStruct, col(tb)).as("__p"))
      case None =>
        right.select(col(key), col(rightTime),
          struct(pw.map(col): _*).as("__p"))
    }
    val leftCols = left.columns.toSeq
    val rTagged = rightDedup.select(
      Seq(col(key).as("__k"), col(rightTime).as("__t"), lit(0).as("__tag"),
        col("__p")) ++ leftCols.map(c => lit(null).as(s"__l_$c")): _*)
    val lTagged = left.select(
      Seq(col(key).as("__k"), col(leftTime).as("__t"), lit(1).as("__tag"),
        lit(null).as("__p")) ++ leftCols.map(c => col(c).as(s"__l_$c")): _*)
    val wB = Window.partitionBy(col("__k"))
      .orderBy(col("__t").asc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy(col("__k"))
      .orderBy(col("__t").desc_nulls_first, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bT = col("__bp").getField(rightTime).cast("double")
    val fT = col("__fp").getField(rightTime).cast("double")
    val lT = col("__t").cast("double")
    val pickPast = bT.isNotNull && (fT.isNull || (lT - bT) <= (fT - lT))
    val direction = when(pickPast, lit("past"))
      .when(fT.isNotNull, lit("future"))
    rTagged.unionByName(lTagged)
      .withColumn("__bp", last(col("__p"), ignoreNulls = true).over(wB))
      .withColumn("__fp", last(col("__p"), ignoreNulls = true).over(wF))
      .filter(col("__tag") === 1)
      .select(leftCols.map(c => col(s"__l_$c").as(c)) ++
        pw.map(p => when(pickPast, col("__bp").getField(p))
          .otherwise(col("__fp").getField(p)).as(p)) :+
        direction.as("direction"): _*)
  }

  /** Decide between [[backward]] and [[backwardBucketed]] from a cheap
    * stats probe: ONE aggregate over both sides' key columns (column-
    * pruned scans — at any scale this reads one column and returns one
    * row) giving total rows and an HLL approximate key count. When the
    * average rows-per-key exceeds `maxAvgRowsPerKey`, some window
    * partition is guaranteed at least that large (pigeonhole), so the
    * bucketed variant wins. The probe is average-based: a single hot key
    * hiding under a high-cardinality average is not detected — callers
    * who KNOW a specific key is hot should call `backwardBucketed`
    * directly. */
  def chooseBucketed(left: DataFrame, right: DataFrame, key: String,
                     maxAvgRowsPerKey: Double): Boolean = {
    val row = left.select(col(key).as("__k"))
      .unionByName(right.select(col(key).as("__k")))
      .agg(count(lit(1)).as("n"), approx_count_distinct(col("__k")).as("k"))
      .head()
    val n = row.getLong(0)
    val k = math.max(row.getLong(1), 1L)
    n.toDouble / k > maxAvgRowsPerKey
  }

  /** Backward as-of join with the hot-key fallback built in: probes the
    * key profile ([[chooseBucketed]]) and routes to [[backward]]
    * (dimensioned keys — one window partition per key) or
    * [[backwardBucketed]] (few/hot keys — (key, time-bucket) partitions)
    * behind one code path. Both variants are equivalence-tested, so the
    * routing never changes results, only the physical plan. The default
    * threshold (100k rows/key) keeps a window partition comfortably
    * inside one task's memory at ~100-byte rows. */
  def backwardAuto(left: DataFrame, right: DataFrame,
                   key: String, leftTime: String, rightTime: String,
                   rightPayload: Seq[String],
                   bucketWidth: Long,
                   rightTieBreak: Option[String] = None,
                   maxAvgRowsPerKey: Double = 100000.0): DataFrame =
    if (chooseBucketed(left, right, key, maxAvgRowsPerKey))
      backwardBucketed(left, right, key, leftTime, rightTime, rightPayload,
        bucketWidth, rightTieBreak)
    else
      backward(left, right, key, leftTime, rightTime, rightPayload, rightTieBreak)

  /** Skew-safe backward as-of join for HOT KEYS. The plain `backward`
    * sorts each key on one task; when one key carries a large fraction
    * of all rows (one hot ticker, one bot user) that task is the job.
    * This variant adds a time-bucket dimension so the heavy window
    * partitions by (key, bucket) — each task sorts one key's rows in one
    * time slice — and the only per-key pass runs over BUCKET SUMMARIES
    * (rows-per-key = number of buckets, independent of data volume):
    *
    *  1. within-bucket pass: last right payload at-or-before each row,
    *     windowed over (key, bucket);
    *  2. bucket-summary pass: per (key, bucket), the bucket's final
    *     right payload; a per-key window over these summaries computes
    *     the CARRY — the latest payload from any earlier bucket;
    *  3. a (key, bucket) equi-join attaches the carry; each left row
    *     resolves to coalesce(within-bucket last, carry).
    *
    * Identical results to `backward` (equivalence-tested); use it when
    * key cardinality is low or skewed. `bucketWidth` is in the time
    * column's seconds (times are compared as doubles); pick it so a hot
    * key's rows spread over many buckets. */
  def backwardBucketed(left: DataFrame, right: DataFrame,
                       key: String, leftTime: String, rightTime: String,
                       rightPayload: Seq[String],
                       bucketWidth: Long,
                       rightTieBreak: Option[String] = None): DataFrame = {
    val rightDedup = rightTieBreak match {
      case Some(tb) =>
        val payloadStruct = struct(rightPayload.map(col): _*)
        right.groupBy(col(key), col(rightTime))
          .agg(max_by(payloadStruct, col(tb)).as("__p"))
      case None =>
        right.select(col(key), col(rightTime),
          struct(rightPayload.map(col): _*).as("__p"))
    }
    val leftCols = left.columns.toSeq
    val bucket = (t: Column) => floor(t.cast("double") / lit(bucketWidth.toDouble))

    val rTagged = rightDedup.select(
      Seq(col(key).as("__k"), col(rightTime).as("__t"), lit(0).as("__tag"),
        col("__p")) ++ leftCols.map(c => lit(null).as(s"__l_$c")): _*)
    val lTagged = left.select(
      Seq(col(key).as("__k"), col(leftTime).as("__t"), lit(1).as("__tag"),
        lit(null).as("__p")) ++ leftCols.map(c => col(c).as(s"__l_$c")): _*)
    val tagged = rTagged.unionByName(lTagged)
      .withColumn("__b", bucket(col("__t")))

    // 1. Heavy pass, (key, bucket)-partitioned: no single-task hot key.
    val wIn = Window.partitionBy(col("__k"), col("__b"))
      .orderBy(col("__t").asc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = tagged.withColumn("__lastin",
      last(col("__p"), ignoreNulls = true).over(wIn))

    // 2. Bucket summaries: final right payload per (key, bucket) — __t is
    // unique per key after the dedup above, so max_by is deterministic.
    // ONE aggregation over the tagged union produces the summary AND the
    // full (key, bucket) domain either side touches: left rows carry a
    // null ordering expression, so max_by ignores them and a left-only
    // bucket yields __pb = null — exactly the old
    // allBuckets-LEFT-JOIN-summary rows, without the third full pass
    // over both inputs (allBuckets .distinct()) and the join the old
    // form paid (r15; results identical, equivalence-spec'd vs plain).
    // Carry = latest payload from STRICTLY EARLIER buckets. The window
    // is per-key but each key contributes one row per bucket, not per
    // event.
    val wCarry = Window.partitionBy(col("__k")).orderBy(col("__b").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = tagged
      .groupBy(col("__k"), col("__b"))
      .agg(max_by(col("__p"), when(col("__tag") === 0, col("__t"))).as("__pb"))
      .withColumn("__carry", last(col("__pb"), ignoreNulls = true).over(wCarry))
      .select(col("__k"), col("__b"), col("__carry"))

    // 3. Attach carry and resolve. The join must be NULL-SAFE on both
    // keys: a left row with a null key (or null time → null bucket) IS
    // retained by the plain `backward` window form (partitionBy groups
    // nulls), and backwardAuto's contract is that routing never changes
    // results — a plain equi-join here would silently drop those rows
    // (null never equals null). EqualNullSafe keys still plan as a
    // hash/sort-merge equi-join.
    val carryR = carry.select(col("__k").as("__ck"), col("__b").as("__cb"),
      col("__carry"))
    within
      .join(carryR, col("__k") <=> col("__ck") && col("__b") <=> col("__cb"))
      .filter(col("__tag") === 1)
      .withColumn("__last", coalesce(col("__lastin"), col("__carry")))
      .select(leftCols.map(c => col(s"__l_$c").as(c)) ++
        rightPayload.map(p => col("__last").getField(p).as(p)): _*)
  }
}
