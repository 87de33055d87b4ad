package graft.queries

import org.apache.spark.sql.SparkSession

/** Reusable per-input working directories for the streaming harnesses,
  * keyed by CONTENT, not just path.
  *
  * The harnesses' staged input (q151/q156/q158/q161 and the q167/q171/
  * q173 stream corpus) is reused across runs from a keyed dir: staging is
  * skip-if-present and the staged files are immutable. Their mutable
  * artifacts (q167/q171/q173 kept/seen tables, q147/q86 sinks) sit in a
  * keyed dir private to one application and deleted when it ends
  * ([[runKeyed]]). Keying by the
  * input-dir STRING alone is unsafe in two
  * ways: (1) if the corpus at that path is regenerated, stale staged
  * files and stale part=N partitions would be silently read into the
  * final aggregate; (2) if a code change alters gating or batch layout
  * so a run emits FEWER batch partitions than a prior run, the orphaned
  * partitions would survive and pollute the result. The key therefore
  * folds in:
  *
  *  - a fingerprint of the source table's files (name, length, mtime of
  *    every data file) — corpus regeneration changes mtimes/sizes, so a
  *    regenerated corpus gets a FRESH dir and the stale one is never
  *    consulted (and ages out with the host tmpdir);
  *  - a layout-version tag owned by the caller — BUMP IT whenever the
  *    staging or batch layout changes (gate predicate, files-per-trigger,
  *    repartition count, sink partitioning), so old dirs are orphaned
  *    rather than mixed with.
  */
object KeyedWorkDir {

  /** MD5-derived 12-hex key over (dir, table fingerprints, layout tag) —
    * shared by [[keyed]] work dirs and content-keyed STAGED TABLE names
    * (`SimilarityQueries.trainedCentroids`): any consumer that caches
    * derived state per input corpus should key by content, not path.
    *
    * `tables` must name EVERY input table the cached content derives
    * from (round-13 ADVICE: q157's dedup staging depends on `documents`
    * AND `embeddings` — fingerprinting only one lets an in-place
    * regeneration of the other silently reuse stale staged output, the
    * exact staleness class content keying exists to eliminate). */
  def contentKey(spark: SparkSession, dir: String, tables: Seq[String],
                 layout: String): String = {
    val fp = tables.map(t => fingerprint(spark, s"$dir/$t.parquet")).mkString(";")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s"$dir|$fp|$layout".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
  }

  def contentKey(spark: SparkSession, dir: String, table: String,
                 layout: String): String =
    contentKey(spark, dir, Seq(table), layout)

  /** RUN-scoped layout tag: folds the SparkContext's applicationId into
    * the layout so the derived key — and therefore the staged table /
    * work dir — is private to ONE application run.
    *
    * This is the boundary between warehouse staging and cross-run
    * precomputation (round-15 verdict #1): staged RAW INPUT (the stream
    * corpora — a re-layout of the source bytes, no computation in it)
    * may persist across runs, but staged COMPUTED state (trained
    * centroids, built kNN edges, dedup survivors) must be paid for by
    * every run that uses it, or the bench measures a warm warehouse a
    * cold run never sees. Run-scoping keeps the within-run build-once
    * sharing (first consumer builds, the run's later consumers read —
    * the production pipeline shape) while guaranteeing no run ever
    * reads a PREVIOUS run's computed bytes. The stale generations age
    * out through the same LRU reaper as content rekeys. */
  def runScoped(spark: SparkSession, layout: String): String =
    runScoped(spark.sparkContext.applicationId, layout)

  /** [[runScoped]] for the application `appId`. */
  private[queries] def runScoped(appId: String, layout: String): String =
    s"$layout@$appId"

  /** Warehouse prefixes holding run-scoped COMPUTED staged state (see
    * [[runScoped]]) — the registry [[dropComputedStaged]] sweeps.
    * Staged raw-input dirs (stream corpora) are deliberately NOT here. */
  val ComputedStagedPrefixes: Seq[String] = Seq(
    "graft_kmeans_cens_", "graft_knn_edges_",
    "graft_q157_keepers_", "graft_q157_dedup_")

  /** Drop every computed staged table (any generation, any run) from the
    * catalog and the warehouse. Bench calls this before re-running a
    * flagged query so the min-of-2 protocol can never report a
    * staged-read shot against a first shot that paid the build — the
    * rerun must redo whatever computed staging the first shot did
    * (round-15 verdict #1: BENCH showed q104 8.245 s build → 1.876 s
    * staged-read rerun, and min-of-2 erased the build from the record).
    * Only names of the exact registered `prefix<12 hex>` shape are
    * touched. */
  def dropComputedStaged(spark: SparkSession): Unit = {
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(wh)) return
    val shapes = ComputedStagedPrefixes.map(p =>
      java.util.regex.Pattern.compile(
        java.util.regex.Pattern.quote(p) + "[0-9a-f]{12}"))
    fs.listStatus(wh).filter(_.isDirectory).map(_.getPath)
      .filter(p => shapes.exists(_.matcher(p.getName).matches()))
      .foreach { p =>
        spark.sql(s"DROP TABLE IF EXISTS `${p.getName}`")
        fs.delete(p, true)
      }
  }

  /** Content-keyed STAGED TABLE name: `prefix` + 12-hex key, plus the
    * same bounded-accumulation discipline [[pruneStale]] gives work
    * dirs — every corpus regeneration mints a fresh key, and
    * `Sinks.stagedTable`'s stale-location cleanup only probes the
    * CURRENT name, so without a reaper the previous generations'
    * managed directories pile up in the warehouse forever. Keeps the
    * [[KeepPerTag]] most recently MODIFIED sibling tables of the same
    * prefix (grace-windowed, exact `prefix<12 hex>` shape only) and
    * drops the rest from both the catalog and the warehouse. */
  def contentKeyedTable(spark: SparkSession, prefix: String, dir: String,
                        tables: Seq[String], layout: String): String = {
    val name = prefix + contentKey(spark, dir, tables, layout)
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) {
      val siblings = fs.listStatus(wh).filter(_.isDirectory)
      pruneLru(siblings, prefix.toLowerCase(java.util.Locale.ROOT),
        current = name.toLowerCase(java.util.Locale.ROOT),
        nameOf = (s: org.apache.hadoop.fs.FileStatus) => s.getPath.getName,
        mtimeOf = (s: org.apache.hadoop.fs.FileStatus) => s.getModificationTime) {
        s =>
          spark.sql(s"DROP TABLE IF EXISTS `${s.getPath.getName}`")
          fs.delete(s.getPath, true)
      }
    }
    name
  }

  def contentKeyedTable(spark: SparkSession, prefix: String, dir: String,
                        table: String, layout: String): String =
    contentKeyedTable(spark, prefix, dir, Seq(table), layout)

  /** The work dir for (tag, table content, layout), shared by every run
    * on the corpus: fit for IMMUTABLE staged input only. A harness's
    * MUTABLE artifacts go in a [[runKeyed]] dir. */
  def keyed(spark: SparkSession, tag: String, dir: String, table: String,
            layout: String): String = {
    val key = contentKey(spark, dir, table, layout)
    val p = s"${System.getProperty("java.io.tmpdir")}/graft-$tag-$key"
    val f = new java.io.File(p)
    f.mkdirs()
    f.setLastModified(System.currentTimeMillis())
    pruneStale(spark, tag, current = f.getName)
    p
  }

  /** The work dir for a harness's MUTABLE artifacts (sinks, kept/seen
    * tables, streaming checkpoints): [[keyed]] under a [[runScoped]]
    * layout, so it is private to this application — two processes
    * sharing such a dir race on its sink partitions, and one's checkpoint
    * cleanup deletes the other's live checkpoint (`FileNotFoundException:
    * …/commits does not exist`) — and deleted when the application ends,
    * since no later run can read it. Only a JVM killed before its
    * SparkContext stops leaves one for [[pruneStale]]. */
  def runKeyed(spark: SparkSession, tag: String, dir: String, table: String,
               layout: String): String = {
    val p = keyed(spark, tag, dir, table, runScoped(spark, layout))
    val sc = spark.sparkContext
    runDirs.computeIfAbsent(sc.applicationId, { app =>
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = endRun(app)
      })
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    }).add(p)
    p
  }

  /** The [[runKeyed]] dirs of each live application, by application id. */
  private[queries] val runDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.Set[String]]()

  /** Delete application `app`'s [[runKeyed]] dirs (its end listener). */
  private[queries] def endRun(app: String): Unit =
    Option(runDirs.remove(app)).foreach(_.forEach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))))

  /** Orphaned-key retention: a rekey (corpus regenerated, layout bumped)
    * leaves the previous dir unreachable — nothing ever consults a stale
    * fingerprint again — so without a bound they accumulate one full
    * working set per regeneration. Keep the [[KeepPerTag]] most recently
    * USED keys per tag (touch-on-use above; several SF corpora alternate
    * within one session, so prune-on-rekey alone would defeat cross-SF
    * reuse) and delete the rest. Only dirs matching this object's exact
    * `graft-<tag>-<12 hex>` shape are candidates — foreign tmpdirs are
    * never touched.
    *
    * Concurrency guard: a dir is only touched at keyed() time, but the
    * run READING it lasts minutes — if 6+ fresh keys for the same tag
    * appear meanwhile (several corpora × several JVMs), a purely
    * positional LRU would delete a dir another live JVM is streaming
    * from. So eviction additionally requires the dir's last touch to be
    * older than [[GraceMs]]: no run lasts hours, so anything touched
    * inside the grace window is potentially in use and kept, while the
    * dirs the bound exists for (orphaned by regenerations days apart)
    * age past it naturally. */
  private[queries] val KeepPerTag = 6
  private[queries] val GraceMs = 6L * 3600 * 1000

  /** The ONE bounded-retention sweep both reapers share (round-13 verdict
    * #6 — tmp work dirs and warehouse staged tables are the same LRU
    * algorithm; a third hand-copy was the next bug). Among `entries`
    * whose name matches exactly `prefix` + 12 hex, keeps the
    * [[KeepPerTag]] most recently modified, then deletes the rest —
    * except the caller's `current` key and anything touched inside
    * [[GraceMs]] (a concurrently-running JVM may still be reading a dir
    * it keyed minutes ago; only generations orphaned long ago age out).
    * Entries whose name doesn't match the shape are never candidates —
    * foreign tmpdirs / unrelated tables are untouchable by construction. */
  private def pruneLru[A](entries: Seq[A], prefix: String, current: String,
                          nameOf: A => String, mtimeOf: A => Long)
                         (delete: A => Unit): Unit = {
    val shape = java.util.regex.Pattern.compile(
      java.util.regex.Pattern.quote(prefix) + "[0-9a-f]{12}")
    val cutoff = System.currentTimeMillis() - GraceMs
    entries.filter(e => shape.matcher(nameOf(e)).matches())
      .sortBy(e => -mtimeOf(e))
      .drop(KeepPerTag)
      .filter(e => nameOf(e) != current && mtimeOf(e) < cutoff)
      .foreach(delete)
  }

  private def pruneStale(spark: SparkSession, tag: String, current: String): Unit = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val dirs = Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).toSeq
    pruneLru(dirs, s"graft-$tag-", current,
      nameOf = (d: java.io.File) => d.getName,
      mtimeOf = (d: java.io.File) => d.lastModified()) { d =>
      val hp = new org.apache.hadoop.fs.Path(d.getAbsolutePath)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    }
  }

  /** Stable fingerprint of a parquet table that may be a single file
    * (driver testdata) or a directory of part files (ScaleUp output):
    * every data file's (name, length, mtime), sorted by name. Listing a
    * table is one NameNode round-trip — negligible next to the runs the
    * key protects. */
  private def fingerprint(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return "absent"
    val st = fs.getFileStatus(p)
    val files =
      if (st.isDirectory)
        fs.listStatus(p).filterNot(_.getPath.getName.startsWith("_"))
      else Array(st)
    files.map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
      .sorted.mkString(",")
  }
}
