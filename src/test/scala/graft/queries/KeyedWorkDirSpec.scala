package graft.queries

import java.io.File
import graft.SparkSpec

/** The content-keyed working dirs (q86/q147/q151/.../q173) rekey whenever
  * the corpus is regenerated or a layout tag is bumped, which orphans the
  * previous key — [[KeyedWorkDir]] must bound that accumulation (LRU keep-6
  * per tag) without ever touching dirs it didn't create. */
class KeyedWorkDirSpec extends SparkSpec {

  private val tmp = System.getProperty("java.io.tmpdir")

  private def keyedDirs(tag: String): Set[String] =
    Option(new File(tmp).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches(s"graft-$tag-[0-9a-f]{12}"))
      .map(_.getName).toSet

  test("same (dir, corpus, layout) is a stable reusable key") {
    val tag = s"kwdstable${System.nanoTime()}"
    val a = KeyedWorkDir.keyed(spark, tag, "/no/such/dir", "t", "v1")
    new File(a, "marker").createNewFile()
    val b = KeyedWorkDir.keyed(spark, tag, "/no/such/dir", "t", "v1")
    assert(a == b && new File(b, "marker").exists())
    // a different layout tag is a DIFFERENT dir (orphaning, not mixing)
    assert(KeyedWorkDir.keyed(spark, tag, "/no/such/dir", "t", "v2") != a)
  }

  test("a run-scoped key gives two applications distinct dirs and one application the same dir") {
    val tag = s"kwdrun${System.nanoTime()}"
    def dirOf(app: String) =
      KeyedWorkDir.keyed(spark, tag, "/no/such/dir", "t", KeyedWorkDir.runScoped(app, "L2"))
    assert(dirOf("app-1") != dirOf("app-2"))
    assert(dirOf("app-1") == dirOf("app-1"))
    // the curation harnesses' mutable dirs are keyed by this application
    val app = spark.sparkContext.applicationId
    assert(DedupQueries.curationTmp(spark, tag, "/no/such/dir") ==
      KeyedWorkDir.keyed(spark, tag, "/no/such/dir", "documents", KeyedWorkDir.runScoped(app, "L2")))
  }

  test("a run-keyed dir is registered for deletion when its application ends") {
    val tag = s"kwdend${System.nanoTime()}"
    val d = KeyedWorkDir.runKeyed(spark, tag, "/no/such/dir", "t", "L2")
    assert(KeyedWorkDir.runDirs.get(spark.sparkContext.applicationId).contains(d))
    // endRun is what the application-end listener runs; a made-up
    // application id keeps this session's own dirs alive
    val other = KeyedWorkDir.keyed(spark, tag, "/no/such/dir", "t",
      KeyedWorkDir.runScoped("app-ended", "L2"))
    new File(other, "sink/part=0").mkdirs()
    KeyedWorkDir.runDirs.computeIfAbsent("app-ended",
      _ => java.util.concurrent.ConcurrentHashMap.newKeySet[String]()).add(other)
    KeyedWorkDir.endRun("app-ended")
    assert(!new File(other).exists() && new File(d).isDirectory)
    assert(!KeyedWorkDir.runDirs.containsKey("app-ended"))
  }

  test("contentKey rekeys when the corpus is REGENERATED at the same path " +
       "(staged-table names must never reuse stale derived state)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("kwd-ck").toString
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/t.parquet")
    val k1 = KeyedWorkDir.contentKey(spark, dir, "t", "L1")
    assert(k1 == KeyedWorkDir.contentKey(spark, dir, "t", "L1"), "stable")
    // regenerate in place: same path, different files/mtimes
    Thread.sleep(1100) // fs mtime granularity
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(KeyedWorkDir.contentKey(spark, dir, "t", "L1") != k1,
      "regenerated corpus must produce a fresh key")
    // layout bump alone also rekeys
    assert(KeyedWorkDir.contentKey(spark, dir, "t", "L2") !=
      KeyedWorkDir.contentKey(spark, dir, "t", "L1"))
  }

  test("multi-table contentKey rekeys when ANY input table is regenerated " +
       "(round-13 ADVICE: q157's dedup staging reads embeddings too)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("kwd-ck2").toString
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/docs.parquet")
    Seq((1L, 0.5)).toDF("id", "x").write.parquet(s"$dir/embs.parquet")
    // the one-table overload is the Seq form — existing staged names stay
    assert(KeyedWorkDir.contentKey(spark, dir, "docs", "L1") ==
      KeyedWorkDir.contentKey(spark, dir, Seq("docs"), "L1"))
    val k1 = KeyedWorkDir.contentKey(spark, dir, Seq("docs", "embs"), "L1")
    assert(k1 == KeyedWorkDir.contentKey(spark, dir, Seq("docs", "embs"), "L1"))
    // regenerate ONLY the second table: the combined key must move
    Thread.sleep(1100) // fs mtime granularity
    Seq((1L, 0.5), (2L, 0.7)).toDF("id", "x")
      .write.mode("overwrite").parquet(s"$dir/embs.parquet")
    assert(KeyedWorkDir.contentKey(spark, dir, Seq("docs", "embs"), "L1") != k1,
      "a staged output derived from two tables must rekey when either moves")
    assert(KeyedWorkDir.contentKey(spark, dir, Seq("docs"), "L1") ==
      KeyedWorkDir.contentKey(spark, dir, "docs", "L1"),
      "the untouched table's single-table key is unaffected")
  }

  test("contentKeyedTable reaps earlier generations' staged warehouse dirs " +
       "(LRU + grace, exact shape only) and never the current name") {
    val prefix = s"graft_kwdreap${System.nanoTime()}_"
    val wh = new File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath)
    wh.mkdirs()
    // 8 fake prior generations, aged past the grace window, oldest first
    val old = (0 until 8).map { i =>
      val d = new File(wh, prefix + f"$i%012d".map(c => if (c == '0') 'a' else c))
      d.mkdirs()
      d.setLastModified(System.currentTimeMillis() - 7L * 3600 * 1000 + i * 60000L)
      d
    }
    // a same-prefix dir NOT matching the 12-hex shape must never be touched
    val foreign = new File(wh, prefix + "not-a-key")
    foreign.mkdirs()
    val dir = java.nio.file.Files.createTempDirectory("kwd-ckt").toString
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/t.parquet")
    val name = KeyedWorkDir.contentKeyedTable(spark, prefix, dir, "t", "L1")
    assert(name.startsWith(prefix))
    val survivors = old.filter(_.exists())
    assert(survivors.size == KeyedWorkDir.KeepPerTag,
      s"keep exactly KeepPerTag=${KeyedWorkDir.KeepPerTag}, got ${survivors.size}")
    assert(survivors.map(_.getName).toSet ==
      old.takeRight(KeyedWorkDir.KeepPerTag).map(_.getName).toSet,
      "oldest generations reaped first")
    assert(foreign.exists(), "non-shape siblings are never touched")
  }

  /** Shift a dir's mtime past the eviction grace window while keeping a
    * deterministic LRU order (i higher = more recently used). */
  private def agePastGrace(dir: String, i: Int): Unit =
    new File(dir).setLastModified(
      System.currentTimeMillis() - 7L * 3600 * 1000 + i * 60000L)

  test("keys inside the grace window are NEVER pruned, even past the LRU cap") {
    // The eviction guard for concurrent JVMs: a dir is touched once at
    // keyed() time but read for minutes, so anything recently touched
    // may be live in another process and must survive — positional LRU
    // alone would delete it when 6+ fresh keys appear for the tag.
    val tag = s"kwdgrace${System.nanoTime()}"
    val dirs = (1 to 8).map(i =>
      KeyedWorkDir.keyed(spark, tag, "/no/such/dir", "t", s"v$i"))
    assert(keyedDirs(tag).size == 8, "fresh keys must all survive pruning")
    assert(dirs.forall(d => new File(d).exists()))
  }

  test("stale keys beyond the per-tag LRU cap are pruned, oldest first") {
    val tag = s"kwdprune${System.nanoTime()}"
    val dirs = (1 to 8).map { i =>
      val d = KeyedWorkDir.keyed(spark, tag, "/no/such/dir", "t", s"v$i")
      new File(d, "payload").createNewFile()
      d
    }
    // age all 8 past the grace window, preserving the v1..v8 LRU order
    dirs.zipWithIndex.foreach { case (d, i) => agePastGrace(d, i) }
    KeyedWorkDir.keyed(spark, tag, "/no/such/dir", "t", "v9") // fires prune
    val live = keyedDirs(tag)
    assert(live.size == 6, s"expected 6 kept, got $live")
    // the three oldest aged keys are gone, payload and all; the newest
    // five aged ones plus fresh v9 survive
    assert(dirs.take(3).forall(d => !new File(d).exists()))
    assert(dirs.drop(3).forall(d => new File(d, "payload").exists()))
    // re-USING an old surviving key refreshes it: v4 is now newest, so
    // creating one more key evicts v5 (the least recently used aged
    // key), not v4
    KeyedWorkDir.keyed(spark, tag, "/no/such/dir", "t", "v4")
    KeyedWorkDir.keyed(spark, tag, "/no/such/dir", "t", "v10")
    assert(new File(dirs(3)).exists() && !new File(dirs(4)).exists())
  }

  test("dirs that don't match this tag's exact keyed shape are never touched") {
    val tag = s"kwdshape${System.nanoTime()}"
    val foreignNoDash = new File(tmp, s"graft-${tag}0123456789ab")
    val foreignBadKey = new File(tmp, s"graft-$tag-NOTHEX")
    val foreignOtherTag = new File(tmp, s"graft-${tag}x-0123456789ab")
    Seq(foreignNoDash, foreignBadKey, foreignOtherTag).foreach(_.mkdirs())
    // make the foreign dirs LOOK maximally stale so only the shape
    // filter (not the grace window) protects them
    Seq(foreignNoDash, foreignBadKey, foreignOtherTag)
      .foreach(_.setLastModified(1000L))
    try {
      val dirs = (1 to 8).map(i =>
        KeyedWorkDir.keyed(spark, tag, "/no/such/dir", "t", s"v$i"))
      dirs.zipWithIndex.foreach { case (d, i) => agePastGrace(d, i) }
      KeyedWorkDir.keyed(spark, tag, "/no/such/dir", "t", "v9") // fires prune
      assert(!new File(dirs(0)).exists(), "pruning must actually have fired")
      assert(foreignNoDash.exists() && foreignBadKey.exists()
        && foreignOtherTag.exists())
    } finally Seq(foreignNoDash, foreignBadKey, foreignOtherTag)
      .foreach(_.delete())
  }
}
