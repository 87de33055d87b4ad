package graft.sinks

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-sink").resolve("t").toString

  test("idempotentAppend: re-running the same job does not double-append (K1)") {
    val path = tmp()
    val batch = Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2")).toDF("id", "v", "part")
    Sinks.idempotentAppend(batch, path, Seq("part"))
    Sinks.idempotentAppend(batch, path, Seq("part")) // retry/redelivery
    assert(spark.read.parquet(path).count() == 3)
  }

  test("idempotentAppend: a new job's partitions append, others untouched (K1)") {
    val path = tmp()
    Sinks.idempotentAppend(Seq((1L, "p1")).toDF("id", "part"), path, Seq("part"))
    Sinks.idempotentAppend(Seq((9L, "p2")).toDF("id", "part"), path, Seq("part"))
    val got = spark.read.parquet(path).select("id").as[Long].collect().toSet
    assert(got == Set(1L, 9L))
  }

  test("idempotentAppend in a MULTI-micro-batch stream: provenance partitions " +
       "are batch-disjoint AND redelivery-stable (K1/Q8)") {
    // A content key like pmod(id, N) is redelivery-stable but NOT
    // batch-disjoint: with maxFilesPerTrigger, each batch's dynamic
    // overwrite would delete the earlier batches' rows in the shared
    // partitions. Partitioning by the batch's provenance unit (the
    // source file) is both — a file-source micro-batch is a set of whole
    // files, so batches never share a partition, and a redelivered batch
    // replaces exactly itself.
    val base = Files.createTempDirectory("graft-mbatch").toString
    val in = s"$base/in"; val out = s"$base/out"
    (1 to 400).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(4).write.parquet(in)
    val schema = spark.read.parquet(in).schema
    def deliver(run: Int): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(in)
        .select(col("*"), col("_metadata.file_name").as("part"))
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          Sinks.idempotentAppend(batch, out, Seq("part"))
        }
        .option("checkpointLocation", s"$base/ckpt$run")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    deliver(1) // four micro-batches, one per source file
    val first = spark.read.parquet(out)
    assert(first.count() == 400, "a later batch must never overwrite an earlier one")
    assert(first.select("id").distinct().count() == 400)
    deliver(2) // full redelivery from a fresh checkpoint
    val redelivered = spark.read.parquet(out)
    assert(redelivered.count() == 400, "redelivery must replace itself, not double-append")
  }

  test("mergeUpsert inserts only absent keys (K2, workqueue_setup.py:34-46)") {
    val path = tmp()
    val n1 = Sinks.mergeUpsert(spark, Seq((1L, "x"), (2L, "y")).toDF("k", "v"), path, "k")
    val n2 = Sinks.mergeUpsert(spark, Seq((2L, "y2"), (3L, "z")).toDF("k", "v"), path, "k")
    assert(n1 == 2 && n2 == 1)
    val rows = spark.read.parquet(path).as[(Long, String)].collect().toMap
    assert(rows == Map(1L -> "x", 2L -> "y", 3L -> "z")) // 2 kept original
  }

  test("mergeUpsert with no new key returns 0 and leaves the table's rows as they were (K2)") {
    val path = tmp()
    assert(Sinks.mergeUpsert(spark, Seq((1L, "x"), (2L, "y")).toDF("k", "v"), path, "k") == 2)
    val n = Sinks.mergeUpsert(spark, Seq((2L, "y2"), (1L, "x2")).toDF("k", "v"), path, "k")
    assert(n == 0)
    val back = spark.read.parquet(path)
    assert(back.count() == 2)
    assert(back.as[(Long, String)].collect().toMap == Map(1L -> "x", 2L -> "y"))
    // the write still ran: it leaves one schema-only part file (as documented)
    val dir = new java.io.File(path)
    val parts = dir.listFiles().map(_.getName).filter(_.startsWith("part-"))
    val empty = parts.filter(p => spark.read.parquet(s"$path/$p").count() == 0)
    assert(empty.length == 1, parts.mkString(", "))
  }

  test("bulkWrite batches per partition and tallies ok/fail (K3/A6)") {
    val df = (1 to 95).map(i => (i.toLong, s"doc$i")).toDF("id", "v").repartition(4)
    val seen = spark.sparkContext.collectionAccumulator[Int]("batches")
    val (ok, failed) = Sinks.bulkWrite(df, batchSize = 10) { batch =>
      seen.add(batch.size)
      if (batch.exists(_.getLong(0) == 13L)) sys.error("index rejected batch")
    }
    assert(ok + failed == 95)
    assert(failed > 0 && failed <= 10) // exactly the batch holding id 13
    assert(seen.value.size >= 10)      // 95 rows / 10 per batch across partitions
  }

  test("resetJustInsert flips only acked ids (K4 with the reference's TODO fixed)") {
    val staging = Seq((1L, true), (2L, true), (3L, false)).toDF("id", "just_insert")
    val acked = Seq(1L).toDF("id")
    val out = Sinks.resetJustInsert(staging, acked, "id")
      .as[(Long, Boolean)].collect().toMap
    assert(out == Map(1L -> false, 2L -> true, 3L -> false))
  }

  test("writeWithMetrics: quality tallies ride the write job itself (A3/A6 via observe)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-obs").toString + "/t"
    val df = Seq(
      (1L, Some("a")), (2L, Some("b")), (3L, None), (1L, Some("d"))
    ).toDF("id", "v")
    val m = Sinks.writeWithMetrics(df, dir, idCol = "id", requiredCols = Seq("v"))
    assert(m("n_rows") == 4L)
    assert(m("null_v") == 1L)
    assert(m("n_distinct_ids") == 3L) // HLL exact at this cardinality
    assert(spark.read.parquet(dir).count() == 4L)
  }

  test("compact rewrites many small files into the byte-targeted count, preserving rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/t"
    // 64 tiny files
    (1 to 6400).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(64).write.parquet(dir)
    val fsPath = new org.apache.hadoop.fs.Path(dir)
    val fs = fsPath.getFileSystem(spark.sessionState.newHadoopConf())
    def parquetFiles() = fs.listStatus(fsPath)
      .count(_.getPath.getName.endsWith(".parquet"))
    assert(parquetFiles() == 64)
    val bytes = fs.getContentSummary(fsPath).getLength
    val n = Sinks.compact(spark, dir, targetFileBytes = bytes / 4 + 1)
    assert(n == 4 && parquetFiles() == 4)
    val back = spark.read.parquet(dir)
    assert(back.count() == 6400)
    assert(back.agg(sum("id")).as[Long].collect()(0) == 6400L * 6401 / 2)
    // sorted variant restores clustering: per-file id ranges are disjoint
    Sinks.compact(spark, dir, targetFileBytes = bytes / 4 + 1, sortCol = Some("id"))
    val ranges = spark.read.parquet(dir)
      .select(col("id"), input_file_name().as("f"))
      .groupBy("f").agg(min("id").as("lo"), max("id").as("hi"))
      .as[(String, Long, Long)].collect().map(r => (r._2, r._3)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2)
      case _ =>
    }
  }

  test("compact on a Hive-partitioned root preserves the partition layout") {
    // A flat rewrite of a partitioned root would fold date=... into data
    // columns and destroy the directory layout (breaking Retention's
    // prefix matching and idempotentAppend's dynamic overwrite); compact
    // must recurse per partition directory instead.
    val dir = java.nio.file.Files.createTempDirectory("graft-compactp").toString + "/t"
    (1 to 900).map(i => (i.toLong, s"d${i % 3}", s"v$i")).toDF("id", "date", "v")
      .repartition(8).write.partitionBy("date").parquet(dir)
    val fsPath = new org.apache.hadoop.fs.Path(dir)
    val fs = fsPath.getFileSystem(spark.sessionState.newHadoopConf())
    def partDirs() = fs.listStatus(fsPath)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("date="))
      .map(_.getPath.getName).sorted
    assert(partDirs().sameElements(Array("date=d0", "date=d1", "date=d2")))
    val n = Sinks.compact(spark, dir, targetFileBytes = Long.MaxValue)
    assert(n == 3, "one compacted file per partition directory")
    assert(partDirs().sameElements(Array("date=d0", "date=d1", "date=d2")),
      "partition directories must survive compaction")
    partDirs().foreach { d =>
      val leaf = new org.apache.hadoop.fs.Path(fsPath, d)
      assert(fs.listStatus(leaf).count(_.getPath.getName.endsWith(".parquet")) == 1)
    }
    val back = spark.read.parquet(dir)
    assert(back.count() == 900 && back.columns.contains("date"))
    assert(back.groupBy("date").count().count() == 3)
  }

  test("compact scratch/backup dirs are hidden: a crash-left backup is not " +
       "a phantom partition and later compacts skip it") {
    // Round-11 ADVICE (medium): the old path+"__old" backup sat INSIDE a
    // partitioned root where Spark partition discovery read `date=d0__old`
    // as a real partition value, silently duplicating that partition's
    // rows on every read. Hidden `.old_<k=v>` names are skipped by both
    // discovery and compact's own recursion.
    val dir = java.nio.file.Files.createTempDirectory("graft-compacth").toString + "/t"
    (1 to 300).map(i => (i.toLong, s"d${i % 3}")).toDF("id", "date")
      .write.partitionBy("date").parquet(dir)
    val fsPath = new org.apache.hadoop.fs.Path(dir)
    val fs = fsPath.getFileSystem(spark.sessionState.newHadoopConf())
    // simulate a crash between rename-aside and final delete: a stale
    // backup of date=d0 left behind with real data inside
    val crashLeft = new org.apache.hadoop.fs.Path(dir, ".old_date=d0")
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir, "date=d0"), crashLeft))
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, "date=d0"))
    (1 to 300).filter(_ % 3 == 0).map(i => (i.toLong, "d0")).toDF("id", "date")
      .write.mode("append").partitionBy("date").parquet(dir + "_fresh")
    fs.delete(new org.apache.hadoop.fs.Path(dir, "date=d0"), true)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir + "_fresh", "date=d0"),
      new org.apache.hadoop.fs.Path(dir, "date=d0")))
    // the hidden backup is invisible to reads: no duplicated d0 rows,
    // no phantom "d0__old"-style partition value
    val back = spark.read.parquet(dir)
    assert(back.count() == 300)
    assert(back.select("date").distinct().as[String].collect().toSet ==
      Set("d0", "d1", "d2"))
    // and compact recurses the real partitions only; the stale backup is
    // invisible to its partition-dir filter and RECLAIMED when the same
    // leaf's backup slot is reused (crash debris must not leak forever)
    val n = Sinks.compact(spark, dir, targetFileBytes = Long.MaxValue)
    assert(n == 3 && !fs.exists(crashLeft),
      "compact must reuse/clean the stale hidden backup slot")
    assert(spark.read.parquet(dir).count() == 300)
  }

  test("compact sweeps LEGACY crash debris (pre-hidden `__old`/`__compacting` " +
       "suffix names) instead of recursing into it as a phantom partition") {
    // Round-12 ADVICE: an old `date=d0__old` backup from the pre-fix
    // naming still matches the strict one-'=' partition shape, so compact
    // recursed into it and Spark discovery read partition value
    // "d0__old" — the exact bug class the hidden naming fixed, persisting
    // for tables last compacted by the OLD code.
    val dir = java.nio.file.Files.createTempDirectory("graft-compactl").toString + "/t"
    (1 to 300).map(i => (i.toLong, s"d${i % 3}")).toDF("id", "date")
      .write.partitionBy("date").parquet(dir)
    val fsPath = new org.apache.hadoop.fs.Path(dir)
    val fs = fsPath.getFileSystem(spark.sessionState.newHadoopConf())
    // legacy backup: real (already re-compacted) data under the old name
    val legacyOld = new org.apache.hadoop.fs.Path(dir, "date=d0__old")
    (1 to 100).map(i => (i.toLong, "stale")).toDF("id", "v")
      .write.parquet(legacyOld.toString)
    // legacy scratch: an incomplete rewrite under the old name
    val legacyTmp = new org.apache.hadoop.fs.Path(dir, "date=d1__compacting")
    fs.mkdirs(legacyTmp)
    val n = Sinks.compact(spark, dir, targetFileBytes = Long.MaxValue)
    assert(n == 3, "debris must not be compacted as a fourth partition")
    assert(!fs.exists(legacyTmp), "legacy scratch is worthless — deleted")
    assert(!fs.exists(legacyOld) &&
      fs.exists(new org.apache.hadoop.fs.Path(dir, ".legacy_date=d0__old")),
      "legacy backup holds real data — hidden, not destroyed")
    val back = spark.read.parquet(dir)
    assert(back.count() == 300)
    assert(back.select("date").distinct().as[String].collect().toSet ==
      Set("d0", "d1", "d2"), "no phantom d0__old partition value")
    // Round-13 ADVICE (medium): the swept `.legacy_date=d0__old` backup
    // still ENDS in "__old" — a second compact of the same table must
    // skip it as hidden, not re-match it, fail the `.legacy_date=d0`
    // base-sibling probe, and throw the cannot-distinguish error forever.
    val n2 = Sinks.compact(spark, dir, targetFileBytes = Long.MaxValue)
    assert(n2 == 3, "second compact of a once-swept table must succeed")
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, ".legacy_date=d0__old")),
      "hidden legacy backup survives repeated compacts untouched")
    assert(spark.read.parquet(dir).count() == 300)
  }

  test("compact refuses a suffix-named child with NO base sibling — a " +
       "partition VALUE ending in __old must not be silently hidden") {
    // The debris-shape guard: real crash debris always sits next to its
    // re-compacted base twin; a lone `tag=v2__old` could be legitimate
    // data whose value ends in '__old', so compact fails loudly instead
    // of disappearing it from every subsequent read.
    val dir = java.nio.file.Files.createTempDirectory("graft-compactg").toString + "/t"
    (1 to 90).map(i => (i.toLong, if (i % 2 == 0) "v1" else "v2__old"))
      .toDF("id", "tag").write.partitionBy("tag").parquet(dir)
    val e = intercept[java.io.IOException] {
      Sinks.compact(spark, dir, targetFileBytes = Long.MaxValue)
    }
    assert(e.getMessage.contains("base") && e.getMessage.contains("v2__old"))
    // data untouched by the refusal
    assert(spark.read.parquet(dir).count() == 90)
  }

  test("compact fails loudly on a mixed layout instead of silently " +
       "compacting only the partition half") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compactm").toString + "/t"
    (1 to 90).map(i => (i.toLong, s"d${i % 3}")).toDF("id", "date")
      .write.partitionBy("date").parquet(dir)
    // a loose data file at the partitioned root
    val fsPath = new org.apache.hadoop.fs.Path(dir)
    val fs = fsPath.getFileSystem(spark.sessionState.newHadoopConf())
    val loose = new org.apache.hadoop.fs.Path(dir, "stray.parquet")
    val out = fs.create(loose); out.writeBytes("not really parquet"); out.close()
    val e = intercept[IllegalArgumentException] {
      Sinks.compact(spark, dir, targetFileBytes = Long.MaxValue)
    }
    assert(e.getMessage.contains("mixed layout"))
    assert(e.getMessage.contains("stray.parquet"))
  }

  test("Retention: delete phase drops only expired date partitions (K5 ILM delete)") {
    import java.time.LocalDate
    val path = tmp()
    val rows = Seq(
      (1L, "2024-01-01"), (2L, "2024-02-15"), (3L, "2024-03-01"), (4L, "not-a-date"))
      .toDF("id", "ds")
    rows.write.partitionBy("ds").parquet(path)
    val dropped = Retention.dropExpiredPartitions(spark, path, "ds",
      minAgeDays = 30, today = LocalDate.parse("2024-03-10"))
    // cutoff 2024-02-09: jan partition expired, feb/mar kept, junk untouched
    assert(dropped == Seq("2024-01-01"))
    val left = spark.read.option("basePath", path)
      .parquet(path + "/ds=2024-02-15", path + "/ds=2024-03-01")
    assert(left.count() == 2)
    val dirs = new java.io.File(path).list().toSet
    assert(dirs.contains("ds=not-a-date") && !dirs.contains("ds=2024-01-01"))
  }

  test("Retention: rollover decision trips on age OR size (K5 ILM rollover)") {
    import java.time.LocalDate
    val path = tmp()
    (1 to 100).toDF("x").write.parquet(path)
    val policy = Retention.Policy(rolloverMaxAgeDays = 7,
      rolloverMaxBytes = 5L * 1024 * 1024 * 1024, deleteMinAgeDays = 85)
    val born = LocalDate.parse("2024-03-01")
    assert(!Retention.needsRollover(spark, path, policy, born, born.plusDays(6)))
    assert(Retention.needsRollover(spark, path, policy, born, born.plusDays(7)))
    val tiny = policy.copy(rolloverMaxBytes = 10L)
    assert(Retention.needsRollover(spark, path, tiny, born, born)) // size trip
    assert(!Retention.needsRollover(spark, path + "-missing", policy, born, born))
  }

  test("Retention: policy sidecar roundtrip drives applyPolicy (K5 TBLPROPERTIES analog)") {
    import java.time.LocalDate
    val path = tmp()
    Seq((1L, "2024-01-01"), (2L, "2024-03-05")).toDF("id", "ds")
      .write.partitionBy("ds").parquet(path)
    assert(Retention.readPolicy(spark, path).isEmpty)
    val policy = Retention.Policy(7, 5L * 1024 * 1024 * 1024, 30)
    Retention.writePolicy(spark, path, policy)
    assert(Retention.readPolicy(spark, path).contains(policy))
    val dropped = Retention.applyPolicy(spark, path, "ds", LocalDate.parse("2024-03-10"))
    assert(dropped == Seq("2024-01-01"))
    // idempotent: a second pass has nothing left to drop
    assert(Retention.applyPolicy(spark, path, "ds", LocalDate.parse("2024-03-10")).isEmpty)
  }

  test("bucketedWrite: same-key bucketed tables join with NO shuffle exchange") {
    val facts = (1 to 200).map(i => (i.toLong % 40, s"f$i")).toDF("k", "f")
    val dims = (0 to 39).map(i => (i.toLong, s"d$i")).toDF("k", "d")
    Sinks.bucketedWrite(facts, "bt_facts", "k", numBuckets = 8, sortCols = Seq("k"))
    Sinks.bucketedWrite(dims, "bt_dims", "k", numBuckets = 8, sortCols = Seq("k"))
    try {
      // force SMJ so the test proves bucket alignment, not broadcast
      val joined = spark.table("bt_facts")
        .hint("merge")
        .join(spark.table("bt_dims"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected bucket-aligned join, got:\n$plan")
      assert(joined.count() == 200)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bt_facts")
      spark.sql("DROP TABLE IF EXISTS bt_dims")
    }
  }
}
