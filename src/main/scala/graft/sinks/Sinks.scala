package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Batch sinks (SURVEY.md K1–K4), parquet-backed. The contracts the
  * reference encodes — and the Spark re-expressions:
  *
  * - K1 `insert_many(ordered=False)` once per job (`src/base.py:270-275`):
  *   an idempotent partitioned append. We use dynamic partition overwrite
  *   so re-running a job (Spark task/job retry, at-least-once queue
  *   redelivery Q4) replaces its own partitions instead of double-
  *   appending — the "at-least-once + dedup = exactly-once effect"
  *   requirement of SURVEY §7.4.
  * - K2 universe upsert-if-absent (`src/workqueue_setup.py:34-46`):
  *   left-anti on the key then append, as ONE job: the appended-row count
  *   is observed on the write itself (Delta MERGE WHEN NOT MATCHED in a
  *   lakehouse deployment; the anti-join form is engine-pure).
  * - K4 staging flag reset (`src/utils/database_utils.py:66-81`): the
  *   reference resets ALL staged docs — acking even failed migrations
  *   (its own TODO at `database_utils.py:65`). We fix the semantic: flip
  *   `just_insert` only for acked ids.
  */
object Sinks {

  /** The Hadoop FileSystem for a path — the ONLY correct way to probe or
    * mutate table storage here (java.io.File is local-only: always-false
    * existence on HDFS/S3 silently skips cleanup/anti-join guards). */
  private def fsFor(spark: SparkSession,
                    p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** K1: write `df` partitioned by `partitionCols`; re-running the same
    * logical job overwrites only the partitions it produces.
    *
    * Contract: `partitionCols` must be BATCH-DISJOINT as well as
    * redelivery-stable — the same input rows must always land in the
    * same partitions (so a redelivered job replaces itself), and two
    * DIFFERENT logical jobs/batches must never share a partition (a
    * shared partition is dynamically OVERWRITTEN by whichever job runs
    * last, deleting the other's rows). For micro-batch sinks key the
    * partition by the batch's provenance unit (e.g. source file), never
    * by a content hash mod N across the whole stream. */
  def idempotentAppend(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** K2: append only rows whose `keyCol` is absent from the existing
    * table. Returns the number of rows appended, counted by an
    * `observe` on the write job — the anti-join runs once, with no cache
    * and no separate count job. An upsert that finds no new key still
    * runs the write: it appends no row, but leaves one schema-only
    * (zero-row) part file in the table directory.
    *
    * SINGLE-WRITER contract: the check-then-append is not atomic — two
    * concurrent callers can both observe a key absent and both append
    * it, breaking key uniqueness. Plain parquet has no transaction to
    * hang a conditional append on (this is exactly what a lakehouse
    * MERGE's optimistic-concurrency log provides), so serialization is
    * the CALLER's job: one upsert job per table at a time (the
    * reference's work-queue setup is likewise a single scheduled
    * writer). */
  def mergeUpsert(spark: SparkSession, incoming: DataFrame, path: String,
                  keyCol: String): Long = {
    // Existence probe must go through the Hadoop FileSystem API: a
    // java.io.File check is local-only and would always be false on
    // HDFS/S3, silently skipping the anti-join and double-appending.
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = fsFor(spark, hPath)
    val newRows =
      if (!fs.exists(hPath)) incoming
      else {
        val existing = spark.read.parquet(path).select(keyCol)
        incoming.join(existing, Seq(keyCol), "left_anti")
      }
    val appended = new org.apache.spark.sql.Observation("merge_upsert")
    newRows.observe(appended, count(lit(1)).as("n"))
      .write.mode(SaveMode.Append).parquet(path)
    appended.get("n").asInstanceOf[Long]
  }

  /** K3: bulk-indexing writer shape (`streaming_bulk` into ES,
    * `database_utils.py:83-113`): per-partition batching with ok/fail
    * accounting via accumulators (A3/A6). The `write` callback stands in
    * for the indexing client (retry policy belongs inside it, as the
    * reference's `max_retries=5`); returns (ok, failed) totals. */
  def bulkWrite(df: DataFrame, batchSize: Int)
               (write: Seq[org.apache.spark.sql.Row] => Unit): (Long, Long) = {
    val sc = df.sparkSession.sparkContext
    val ok = sc.longAccumulator("bulk_ok")
    val failed = sc.longAccumulator("bulk_failed")
    df.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      rows.grouped(batchSize).foreach { batch =>
        try { write(batch); ok.add(batch.size) }
        catch { case _: Exception => failed.add(batch.size) }
      }
    }
    (ok.value, failed.value)
  }

  /** Bucketed table write: co-locate a table on its join/dedup key so
    * repeated joins and aggregations on that key run WITHOUT an
    * exchange — the standing answer to "this join shuffles 100 TB every
    * night". Both sides bucketed by the same key into the same bucket
    * count → SortMergeJoin reads bucket-aligned splits directly
    * (`SinksSpec` asserts the plan has no shuffle). Bucketing requires
    * the table catalog (`saveAsTable`), not a bare path. */
  def bucketedWrite(df: DataFrame, table: String, key: String,
                    numBuckets: Int, sortCols: Seq[String] = Nil): Unit =
    bucketedWriteKeys(df, table, Seq(key), numBuckets, sortCols)

  /** [[bucketedWrite]] on a COMPOSITE key. The bucket columns must be
    * the join's FULL key set: join co-partitioning requires both sides
    * to agree on the same partitioning function, so a table bucketed on
    * a subset of the join keys still re-shuffles (Spark's
    * requireAllClusterKeysForCoPartition default — a (band, key) band
    * join over an index bucketed on `key` alone reads `Bucketed: false
    * (disabled by query planner)`, measured in IncrementalIndexSpec). */
  def bucketedWriteKeys(df: DataFrame, table: String, keys: Seq[String],
                        numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    require(keys.nonEmpty, "bucketedWriteKeys needs at least one key column")
    val w = df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Build-once STAGED table: the warehouse pattern for a derived table
    * several queries share — built on first use, bucket-written on its
    * downstream join key, and read from the catalog by every later
    * consumer (zero rebuild, and key-clustered reads). At 100 TB a
    * corpus-sized derived table (a kNN edge list, a token index)
    * rebuilt per consuming query IS the anti-pattern; staging it is the
    * difference between N pipeline runs and one write + N scans.
    *
    * Also clears a stale warehouse DIRECTORY for `table` left by a
    * previous JVM: the in-memory catalog forgets the table across
    * sessions but the directory survives, and `saveAsTable` would fail
    * with LOCATION_ALREADY_EXISTS (the CboSpec lesson). */
  def stagedTable(spark: SparkSession, table: String, key: String,
                  numBuckets: Int, sortCols: Seq[String] = Nil)
                 (build: => DataFrame): DataFrame = synchronized {
    if (!spark.catalog.tableExists(table)) {
      // Hadoop FS, not java.io.File: on a non-local warehouse
      // (hdfs://, s3a://) a local-FS check is always false, the stale
      // directory survives, and saveAsTable fails with
      // LOCATION_ALREADY_EXISTS — the exact failure this cleanup exists
      // to prevent (see the fsFor scaladoc).
      // the catalog lowercases unquoted identifiers, so the managed
      // LOCATION is the lowercased name — probing with the caller's
      // mixed-case spelling misses the stale dir and saveAsTable dies
      // with LOCATION_ALREADY_EXISTS on the next JVM (found by the
      // corpus-B run: a '/tmp/graft-corpusB'-derived staging suffix)
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"),
        table.toLowerCase(java.util.Locale.ROOT))
      val fs = fsFor(spark, loc)
      if (fs.exists(loc)) fs.delete(loc, true)
      bucketedWrite(build, table, key, numBuckets, sortCols)
    }
    spark.table(table)
  }

  /** Write with in-plan data-quality metrics (A3/A6 accounting on the
    * modern API): `observe()` attaches aggregate metrics to the exact
    * rows the write consumes — no second scan, no accumulator
    * double-count on task retries (observations are collected from the
    * SUCCESSFUL attempt only, the documented accumulator hazard). The
    * returned map carries row/null/distinct tallies a data-quality gate
    * alerts on. Metrics are (name → value) from one map-side-combined
    * pass fused into the write job. */
  def writeWithMetrics(df: DataFrame, path: String, idCol: String,
                       requiredCols: Seq[String]): Map[String, Long] = {
    val obs = new org.apache.spark.sql.Observation("write_metrics")
    val nullChecks = requiredCols.map(c =>
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"))
    val metrics = count(lit(1)).as("n_rows") +:
      approx_count_distinct(col(idCol)).as("n_distinct_ids") +: nullChecks
    val observed = df.observe(obs, metrics.head, metrics.tail: _*)
    observed.write.mode(SaveMode.Append).parquet(path)
    obs.get.map { case (k, v) => k -> v.asInstanceOf[Long] }
  }

  /** Strict Hive partition-dir shape: exactly one `=` splitting a
    * non-empty key from a (possibly empty) value. `contains("=")` was
    * too loose — it also matched our own crash-left `_old_k=v` backups
    * and arbitrary dirs that merely contain `=`. */
  private val PartitionDirShape = "^[^=]+=[^=]*$".r

  /** Names Hadoop's hiddenFileFilter / Spark partition discovery skip. */
  private def hiddenName(n: String): Boolean =
    n.startsWith("_") || n.startsWith(".")

  /** A hidden-named sibling of `p` (same parent, `.`-prefixed), so scans
    * and partition discovery over the parent never see scratch state.
    * DOT prefix, not underscore: Spark's `shouldFilterOutPathName`
    * exempts `_`-prefixed names that CONTAIN '=' (so escaped partition
    * dirs for `_`-named columns survive discovery), which means
    * `_old_date=d0` would be inferred as a partition column `_old_date`
    * and fail the scan with CONFLICTING_PARTITION_COLUMN_NAMES; names
    * starting with '.' are filtered unconditionally. */
  private def hiddenSibling(p: org.apache.hadoop.fs.Path,
                            prefix: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(p.getParent, prefix + p.getName)

  /** Small-file compaction (K5's maintenance sibling): rewrite a parquet
    * table into ~`targetFileBytes` files. A streaming/micro-batch sink
    * leaves thousands of tiny files per day; at 100 TB the scan's task
    * count (and the NameNode/object-store listing) is governed by file
    * count, so periodic compaction is a standing maintenance pass. File
    * count derives from the table's ACTUAL on-disk bytes (FileSystem
    * content summary, works on HDFS/S3), clamped to ≥ 1; a `sortCol`
    * re-sorts while rewriting (range exchange) so compaction can also
    * restore clustering (e.g. `ops/ZOrder.morton` codes) — otherwise it
    * is a plain `repartition` round-robin, one total shuffle either way.
    * Writes to a HIDDEN sibling temp dir (`.compacting_<name>`) then
    * swaps, so a failed compaction never destroys the table — and
    * because the scratch/backup names start with `.`, Hadoop's hidden
    * filter and Spark partition discovery ignore them even when they sit
    * inside a partitioned root: a crash between the rename-aside and the
    * final delete leaves `.old_<k=v>` behind as an inert hidden dir, not
    * a phantom partition that would silently duplicate rows on every
    * subsequent read. (A `_` prefix would NOT be safe here — see
    * [[hiddenSibling]].) Returns the output file count. */
  def compact(spark: SparkSession, path: String, targetFileBytes: Long,
              sortCol: Option[String] = None): Int = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = fsFor(spark, hPath)
    // A Hive-partitioned root must be compacted PER PARTITION DIRECTORY:
    // reading the root folds `k=v` into data columns and a flat rewrite
    // would destroy the directory layout (Retention's prefix matching,
    // idempotentAppend's dynamic overwrite, and partition pruning all
    // depend on it). Recurse into each strict `k=v` child (multi-level
    // layouts recurse again) so every leaf keeps its own file-count
    // target and the layout survives byte-for-byte. Children are split
    // three ways — hidden (`_`/`.` prefix: _SUCCESS, our own scratch and
    // crash-left backups — skipped), strict-shape partition dirs, and
    // everything else; a MIXED layout (partition dirs alongside loose
    // data files or odd dirs) fails loudly rather than silently
    // compacting only the partition half.
    // Legacy crash debris from the pre-hidden-naming compact (suffix
    // `<name>__old` / `<name>__compacting` SIBLINGS, not hidden): an old
    // `date=d0__old` still matches the strict partition shape (exactly
    // one '='), so without this sweep compact would recurse into it and
    // Spark discovery would read it as a phantom partition value
    // `d0__old` — the exact bug class the hidden naming fixed, persisting
    // for tables last compacted by the old code. Debris-shape guard: the
    // old compact only ever produced `X__old`/`X__compacting` NEXT TO
    // the live `X` it was compacting, so the sweep requires that base
    // sibling — a partition whose VALUE genuinely ends in '__old' with
    // no base twin is left untouched and fails loudly below instead of
    // being silently hidden (a value ending in '__old' WITH a
    // coincidental base twin remains indistinguishable from debris; the
    // rename preserves its data under `.legacy_*` for recovery, which
    // is the residual this heuristic accepts). Scratch is an incomplete
    // rewrite → deleted; a backup holds real (already re-compacted)
    // data → renamed to an inert hidden sibling rather than destroyed.
    // Hidden names are excluded FIRST: the sweep's own `.legacy_X__old`
    // rename still ends in `__old`, so without this filter the NEXT
    // compact of a once-swept table would match the hidden backup, find
    // no `.legacy_X` base sibling, and throw the cannot-distinguish
    // error forever — hidden entries are already invisible to partition
    // discovery, which is all the sweep exists to guarantee.
    fs.listStatus(hPath).map(_.getPath)
      .filterNot(p => hiddenName(p.getName))
      .filter(p => p.getName.endsWith("__old") || p.getName.endsWith("__compacting"))
      .foreach { p =>
        val base = new org.apache.hadoop.fs.Path(p.getParent,
          p.getName.stripSuffix("__old").stripSuffix("__compacting"))
        if (!fs.exists(base))
          throw new java.io.IOException(
            s"compact: $p looks like pre-fix crash debris but its base " +
              s"sibling $base is missing — cannot distinguish debris from " +
              "data; inspect and rename/remove it manually")
        else if (p.getName.endsWith("__compacting")) fs.delete(p, true)
        else if (!fs.rename(p, hiddenSibling(p, ".legacy_")))
          throw new java.io.IOException(
            s"compact: could not hide legacy backup $p; aborting rather " +
              "than letting partition discovery read it as a phantom partition")
      }
    val children = fs.listStatus(hPath)
      .filterNot(s => hiddenName(s.getPath.getName))
    val partitionDirs = children
      .filter(s => s.isDirectory && PartitionDirShape.matches(s.getPath.getName))
    if (partitionDirs.nonEmpty) {
      val strays = children.filterNot(s =>
        s.isDirectory && PartitionDirShape.matches(s.getPath.getName))
      require(strays.isEmpty,
        s"compact: mixed layout under $hPath — partition dirs " +
          s"(${partitionDirs.head.getPath.getName}, ...) coexist with " +
          s"non-partition entries (${strays.map(_.getPath.getName).mkString(", ")}); " +
          "compact the leaves individually or clean the root first")
      return partitionDirs
        .map(p => compact(spark, p.getPath.toString, targetFileBytes, sortCol))
        .sum
    }
    val bytes = fs.getContentSummary(hPath).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(path)
    val laid = sortCol match {
      case Some(c) => df.repartitionByRange(nFiles, col(c)).sortWithinPartitions(col(c))
      case None    => df.repartition(nFiles)
    }
    val tmp = hiddenSibling(hPath, ".compacting_")
    laid.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val old = hiddenSibling(hPath, ".old_")
    if (fs.exists(old)) fs.delete(old, true)
    // The swap is two renames; each can fail (dest-exists race, S3 rename
    // semantics), so every return value is checked and a failed second
    // rename rolls the original back — the table path must never be left
    // missing, which is the whole point of the sibling-dir dance.
    if (!fs.rename(hPath, old))
      throw new java.io.IOException(
        s"compact: could not move $hPath aside to $old; table untouched")
    if (!fs.rename(tmp, hPath)) {
      val restored = fs.rename(old, hPath)
      throw new java.io.IOException(
        s"compact: could not move compacted $tmp into place" +
          (if (restored) s"; original restored at $hPath"
           else s"; RESTORE FAILED — original data is at $old"))
    }
    // only drop the backup once the new table is verifiably readable
    require(fs.exists(new org.apache.hadoop.fs.Path(hPath, "_SUCCESS")) ||
      fs.listStatus(hPath).nonEmpty,
      s"compact: swapped table at $hPath looks empty; backup kept at $old")
    fs.delete(old, true)
    nFiles
  }

  /** K4 (fixed semantics): flip `just_insert` to false ONLY for ids in
    * `acked`; failed docs stay staged for retry. Returns the updated
    * staging table (caller persists it transactionally — Delta UPDATE in
    * a lakehouse deployment). */
  def resetJustInsert(staging: DataFrame, acked: DataFrame, idCol: String): DataFrame = {
    val ackedIds = acked.select(col(idCol)).distinct()
      .withColumn("__acked", lit(true))
    staging.join(ackedIds, Seq(idCol), "left")
      .withColumn("just_insert",
        when(col("__acked") && col("just_insert"), lit(false))
          .otherwise(col("just_insert")))
      .drop("__acked")
  }
}
