package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.dedup.{BloomDecontaminate, Clusters, MinHashLSH}
import graft.enrich.SectorVote
import graft.expressions.NgramHashes
import graft.pipeline.Ingest
import graft.queries._
import graft.sinks.Sinks
import graft.text.TextOps

import Harness.spark

object Calls {
  /** The injected retrieval clock every ingest call uses. */
  val RetrievalTime = lit(java.sql.Timestamp.valueOf("2023-11-18 00:00:00"))

  /** A module call: a span tagged with the module's layer. */
  def call[T](t: Tracer, layer: String, name: String, tags: Map[String, String] = Map.empty)
             (body: => T): T =
    t.span("call", name, tags + ("layer" -> layer))(body)

  /** `Sinks.idempotentAppend` into one fixed partition, counting the files
    * and bytes it wrote when traced. */
  def append(t: Tracer, df: DataFrame, path: String, partCol: String = "part",
             tags: Map[String, String] = Map.empty): Unit =
    call(t, "sinks", "Sinks.idempotentAppend", tags) {
      val before = if (t.enabled) Harness.dataFiles(path) else Map.empty[String, Long]
      val parted = if (df.columns.contains(partCol)) df else df.withColumn(partCol, lit("p"))
      Sinks.idempotentAppend(parted, path, Seq(partCol))
      if (t.enabled) countWritten(t, before, path)
    }

  def countWritten(t: Tracer, before: Map[String, Long], path: String): Unit = {
    val fresh = Harness.dataFiles(path).filter { case (p, _) => !before.contains(p) }
    t.count("files_written", fresh.size.toDouble)
    t.count("bytes_written", fresh.values.sum.toDouble)
  }

  val StopTickers: Seq[String] = Seq("DD", "ARE")

  def timed[T](body: => T): (T, Double) = {
    val t0 = Clock.now
    val v = body
    (v, Clock.now - t0)
  }
}

import Calls._

/** curate_batch: closed loop, one client. Each pass runs the five curation
  * stages over the seeded posts, writing every stage's output, and ends
  * when the serving table is written. */
final class Curate(o: Opts) extends Workload {
  private val in = s"${o.work}/in"
  private val wh = s"${o.work}/wh"
  private val posts = s"$in/posts.parquet"
  private val universePath = s"$in/universe.parquet"
  private val historyPath = s"$in/history.parquet"
  private val serving = s"$wh/serving"
  private val servingSeed = s"$in/serving_seed"
  private var nPosts = 0L
  private var digest0: Option[String] = None

  /** No warm-up: like a scheduled batch job, each pass of the first phase
    * runs in a fresh JVM and pays its own code generation. */
  def setup: Seq[(String, () => Unit)] = Seq(
    "session_s" -> (() => nPosts = Harness.session(o).read.parquet(posts).count()))

  private def restoreServing(): Unit = {
    Harness.deleteTree(Paths.get(serving))
    Harness.copyTree(Paths.get(servingSeed), Paths.get(serving))
  }

  /** One pass; returns each stage's wall time (ms) and the rows appended. */
  private def pass(t: Tracer): (Seq[(String, Double)], Long) = {
    val stages = mutable.ArrayBuffer.empty[(String, Double)]
    def stage[T](name: String, layer: String)(body: => T): T = {
      val (v, ms) = timed(t.span("step", name, Map("layer" -> layer))(body))
      stages += (name -> ms)
      v
    }
    val universe = spark.read.parquet(universePath)
    stage("ingest", "pipeline") {
      val docs = call(t, "pipeline", "Ingest.ingest") {
        Ingest.ingest(spark.read.parquet(posts), universe,
          spark.read.parquet(historyPath), RetrievalTime)
      }
      append(t, docs.toDF(), s"$wh/docs")
    }
    stage("sector", "enrich") {
      val pairs = spark.read.parquet(s"$wh/docs")
        .select(col("unique_identifier").as("doc"), explode(col("tickers")).as("ticker_symbol"))
        .join(broadcast(universe), "ticker_symbol")
      val votes = call(t, "enrich", "SectorVote.hierarchical") {
        SectorVote.hierarchical(pairs, "doc", "icb_code")
      }
      append(t, votes, s"$wh/sector")
    }
    stage("neardup", "dedup") {
      val docs = spark.read.parquet(s"$wh/docs")
        .withColumn("doc_id", col("unique_identifier").cast("long"))
      val pairs = call(t, "dedup", "MinHashLSH.nearDupPairsHashed") {
        MinHashLSH.nearDupPairsHashed(hashed(docs), "doc_id", "sh", 64, 16, 0.8)
      }
      val nonReps = call(t, "dedup", "Clusters.assign")(Clusters.assign(pairs, "doc_a", "doc_b"))
        .filter(!col("is_representative")).select(col("id").as("doc_id"))
      append(t, docs.drop("part").join(nonReps, Seq("doc_id"), "left_anti"), s"$wh/kept")
    }
    stage("decontam", "dedup") {
      val kept = spark.read.parquet(s"$wh/kept")
      val bucket = pmod(TextOps.md5Int32(col("text")), lit(100))
      val report = call(t, "dedup", "BloomDecontaminate.contaminationReport") {
        BloomDecontaminate.contaminationReport(kept.filter(bucket < 80),
          kept.filter(bucket >= 90), "doc_id", "text", n = 8, expectedEvalNgrams = 2000000L)
      }
      append(t, report, s"$wh/decontam")
    }
    val added = stage("serve", "sinks") {
      val votes = spark.read.parquet(s"$wh/sector")
        .select(col("doc").as("unique_identifier"), col("sector"), col("level"))
      val incoming = spark.read.parquet(s"$wh/kept")
        .join(votes, Seq("unique_identifier"), "left")
        .select("unique_identifier", "text_hash", "source", "title", "text", "tickers",
          "time", "sector", "level")
      call(t, "sinks", "Sinks.mergeUpsert") {
        val before = if (t.enabled) Harness.dataFiles(serving) else Map.empty[String, Long]
        val n = Sinks.mergeUpsert(spark, incoming, serving, "text_hash")
        if (t.enabled) countWritten(t, before, serving)
        n
      }
    }
    (stages.toSeq, added)
  }

  private def hashed(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), NgramHashes.word_ngram_hashes(col("text"), 3).as("sh"))

  def measure(t: Tracer, ph: Phase): Unit = {
    val t0 = Clock.now
    while (ph.passes.isEmpty || Clock.now - t0 < o.seconds * 1e3) {
      restoreServing()
      System.gc()
      val ((stages, added), ms) =
        timed(t.span("pass", s"pass-${ph.passes.size + 1}")(pass(t)))
      ph.passes += ms / 1e3
      stages.foreach { case (n, sms) => ph.ops += ((n, sms, true)) }
      ph.info("keep_ratio") = added.toDouble / nPosts
      ph.info("posts") = nPosts
      t.span("check", "outputs")(checkOutputs(ph))
    }
    ph.info("curate_docs_per_s") = nPosts / Harness.median(ph.passes)
  }

  private def checkOutputs(ph: Phase): Unit = {
    val out = spark.read.parquet(serving)
    val r = out.agg(count(lit(1)), countDistinct(col("text_hash")),
      sum(xxhash64(col("text_hash")).cast("decimal(38,0)"))).head()
    val (n, distinct) = (r.getLong(0), r.getLong(1))
    ph.check("unique_text_hash", n == distinct, s"$n rows, $distinct distinct hashes")
    val tickers = out.select(explode(col("tickers")).as("ticker_symbol"))
    val badTickers = tickers
      .join(broadcast(spark.read.parquet(universePath).select("ticker_symbol")),
        Seq("ticker_symbol"), "left_anti")
      .unionByName(tickers.filter(col("ticker_symbol").isin(Calls.StopTickers: _*)))
      .count()
    ph.check("tickers_in_universe", badTickers == 0,
      s"$badTickers tickers outside universe minus stop list")
    val inHistory = out.join(spark.read.parquet(historyPath), "text_hash").count()
    ph.check("none_in_history", inHistory == 0, s"$inHistory output hashes in history")
    val d = s"$n:${r.get(2)}"
    if (digest0.isEmpty) digest0 = Some(d)
    ph.check("same_output_each_pass", digest0.contains(d), s"digest $d vs ${digest0.get}")
  }

  /** dedup.pair_yield: verified pairs ÷ LSH candidate pairs. The candidate
    * count is not visible from outside the call, so it is recomputed here
    * with the module's own public banding. */
  override def probe(t: Tracer, ph: Phase): Unit = {
    val h = hashed(spark.read.parquet(s"$wh/docs")
      .withColumn("doc_id", col("unique_identifier").cast("long"))).cache()
    val cands = MinHashLSH.candidatePairs(
      MinHashLSH.signaturesFromHashArray(h, "doc_id", "sh", 64), "doc_id", "__sig", 16, 4).count()
    val verified = MinHashLSH.nearDupPairsHashed(h, "doc_id", "sh", 64, 16, 0.8).count()
    h.unpersist()
    ph.info("lsh_candidate_pairs") = cands
    ph.info("verified_pairs") = verified
    ph.info("pair_yield") = if (cands == 0) 0.0 else verified.toDouble / cands
  }

  def outputDigest: Option[String] = digest0
}

/** query_mix: closed loop, one client, one query at a time over a CorpusB
  * perturbation of sf0.01 made with the seed. */
final class QueryMix(o: Opts) extends Workload {
  /** One or two queries per family of the mix the ROADMAP names: baseline
    * relational, construction-heavy, checkpoint-losing, top-k, search,
    * composed curation, text. */
  val Mix: Seq[String] = Seq(
    "q01", // baseline
    "q115", "q24", // construction-heavy
    "q152", // loses checkpoints on executor loss
    "q127", // top-k consumer
    "q52", // search
    "q170", // composed curation
    "q12", // text
    "q29") // NLP
  private val corpus = s"${o.work}/in/corpus"
  private val outDir = s"${o.work}/out"

  private def resolve(prefixes: Seq[String]): Seq[String] = prefixes.map { p =>
    SparkEntry.queries.keys.find(_.split("_")(0) == p)
      .getOrElse(throw new IllegalStateException(s"no SparkEntry query $p"))
  }
  lazy val names: Seq[String] = resolve(Mix)

  private val groups: Seq[(String, Map[String, _])] = Seq(
    "relational" -> RelationalQueries.defs, "text" -> TextQueries.defs,
    "dedup" -> DedupQueries.defs, "similarity" -> SimilarityQueries.defs,
    "enrich" -> EnrichQueries.defs, "nlp" -> NlpQueries.defs,
    "search" -> SearchQueries.defs, "curation" -> CurationQueries.defs)
  def group(name: String): String =
    groups.find(_._2.contains(name)).map(_._1).getOrElse("other")

  private val firstRows = mutable.LinkedHashMap.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
  private val digests = mutable.Map.empty[String, String]

  /** As graft.Bench does, the JVM is warmed by queries outside the mix, one
    * per table family; each mix query is then timed at its first execution. */
  val WarmUp: Seq[String] = Seq("q03", "q21")

  def setup: Seq[(String, () => Unit)] = Seq(
    "session_s" -> (() => Harness.session(o)),
    "warmup_s" -> (() => resolve(WarmUp).foreach(n =>
      SparkEntry.queries(n)(spark, corpus).collect())))

  private def rowDigest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def measure(t: Tracer, ph: Phase): Unit = {
    val t0 = Clock.now
    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    while (ph.passes.isEmpty || Clock.now - t0 < o.seconds * 1e3) {
      KeyedWorkDir.dropComputedStaged(spark)
      var passMs = 0.0
      t.span("pass", s"pass-${ph.passes.size + 1}") {
        names.foreach { n =>
          System.gc()
          val g = group(n)
          val tags = Map("layer" -> "queries", "group" -> g)
          val (res, ms) = timed(try {
            t.span("query", n, tags) {
              val df = t.span("call", s"$n:construct", tags + ("phase" -> "construct")) {
                SparkEntry.queries(n)(spark, corpus)
              }
              val rows = t.span("call", s"$n:action", tags + ("phase" -> "action"))(df.collect())
              Right((rows, df.schema))
            }
          } catch { case e: Exception => Left(e.toString) })
          passMs += ms
          perQuery.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += ms
          val ok = res match {
            case Left(err) =>
              System.err.println(s"[perfbench] $n failed: $err"); false
            case Right((rows, schema)) =>
              val d = rowDigest(rows)
              if (!firstRows.contains(n)) { firstRows(n) = (rows, schema); digests(n) = d }
              val same = digests(n) == d
              if (!same) System.err.println(s"[perfbench] $n: result differs from the first pass")
              same
          }
          ph.ops += ((n, ms, ok))
        }
      }
      ph.passes += passMs / 1e3
    }
    val medians = perQuery.map { case (n, xs) => n -> Harness.median(xs) }.toMap
    ph.info("query_mix_s") = Harness.median(ph.passes)
    ph.info("query_geomean_s") =
      math.exp(medians.values.map(ms => math.log(ms / 1e3)).sum / medians.size)
    ph.info("query_median_ms") = medians
  }

  /** The first pass's results, for run.py's oracle comparison. */
  override def extra: Map[String, Any] = {
    firstRows.foreach { case (n, (rows, schema)) =>
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.parquet(s"$outDir/$n")
    }
    Map("oracle" -> Map("corpus" -> corpus, "outputs" -> outDir,
      "queries" -> names.map(n => n -> SparkEntry.oracleSql.getOrElse(n, "")).toMap))
  }

  /** Checked against the DuckDB oracle instead. */
  def outputDigest: Option[String] = None
}

/** stream_ingest: open loop. A generator thread drops one seeded posts file
  * per interval into the watched directory; `Ingest.ingestStream` feeds
  * `foreachBatch` → `Sinks.idempotentAppend`. Then a backlog of files is
  * dropped at once. */
final class StreamIngest(o: Opts) extends Workload {
  private val stage = Paths.get(o.work, "in", "stage")
  private val warmStage = Paths.get(o.work, "in", "warm_stage")
  private var digest: Option[String] = None
  private var symbols: Seq[String] = Nil
  private var phaseNo = 0
  /** Files dropped on schedule; the rest of the staged files are the backlog. */
  private lazy val nScheduled =
    Files.list(stage).count().toInt - o.streamBacklog

  def setup: Seq[(String, () => Unit)] = Seq(
    "session_s" -> (() => {
      symbols = Harness.session(o).read.parquet(s"${o.work}/in/universe.parquet")
        .select("ticker_symbol").collect().map(_.getString(0)).toSeq
    }),
    "warmup_s" -> (() => warmup()))

  /** The same stream over other files (seed + 1), all dropped at once: a
    * stream is long-lived, so it is measured once the JVM has run it. */
  private def warmup(): Unit = {
    val dir = Paths.get(o.work, "warm_in")
    Files.createDirectories(dir)
    val q = start(new Tracer(spark.sparkContext, enabled = false), dir.toString,
      s"${o.work}/warm_ckpt", s"${o.work}/warm_sink", new ConcurrentHashMap())
    Files.list(warmStage).iterator.asScala.toSeq.sorted.foreach(f => drop(f, dir))
    q.processAllAvailable()
    q.stop()
  }

  /** Atomic drop: the file appears in the watched directory whole. */
  private def drop(f: java.nio.file.Path, dir: java.nio.file.Path): Unit =
    Files.move(f, dir.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)

  private def start(t: Tracer, inDir: String, ckpt: String, sink: String,
                    commits: ConcurrentHashMap[Long, Double]) = t.detached {
    val posts = spark.readStream.schema(StreamIngest.PostSchema)
      .option("maxFilesPerTrigger", StreamIngest.MaxFilesPerTrigger)
      .json(inDir)
    val docs = call(t, "pipeline", "Ingest.ingestStream") {
      Ingest.ingestStream(posts, symbols, RetrievalTime)
    }
    docs.toDF().writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        append(t, batch.withColumn("batch", lit(id)), sink, "batch", Map("batch" -> id.toString))
        commits.put(id, Clock.now)
        ()
      }
      .start()
  }

  /** file name → micro-batch id, from the file source's own log. */
  private def batchOfFile(ckpt: String): Map[String, Long] = {
    val Entry = """.*"path":"([^"]+)".*"batchId":(\d+).*""".r
    Files.list(Paths.get(ckpt, "sources", "0")).iterator.asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .collect { case Entry(path, b) => Paths.get(new java.net.URI(path)).getFileName.toString -> b.toLong }
      .toMap
  }

  def measure(t: Tracer, ph: Phase): Unit = {
    phaseNo += 1
    val inDir = Paths.get(o.work, s"in-$phaseNo")
    val ckpt = s"${o.work}/ckpt-$phaseNo"
    val sink = s"${o.work}/sink-$phaseNo"
    Files.createDirectories(inDir)
    // each phase drops a fresh copy of the staged files
    val src = Paths.get(o.work, s"stage-$phaseNo")
    Harness.copyTree(stage, src)
    val files = Files.list(src).iterator.asScala.toSeq.sortBy(_.getFileName.toString)
    val scheduled = files.take(nScheduled)
    val backlog = files.drop(nScheduled)
    val commits = new ConcurrentHashMap[Long, Double]()
    val due = mutable.Map.empty[String, Double]
    val late = mutable.ArrayBuffer.empty[Double]
    var backlogAt = 0.0
    t.span("episode", "stream") {
      t.triggersUnder(t.current)
      val q = start(t, inDir.toString, ckpt, sink, commits)
      Thread.sleep(500)
      val t0 = Clock.now + 200
      val gen = new Thread(() => scheduled.zipWithIndex.foreach { case (f, i) =>
        val at = t0 + i * o.streamIntervalMs
        val wait = at - Clock.now
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        drop(f, inDir)
        late.synchronized { late += Clock.now - at }
        due.synchronized { due(f.getFileName.toString) = at }
      }, "perfbench-generator")
      gen.start()
      gen.join()
      q.processAllAvailable()
      backlogAt = Clock.now
      backlog.foreach { f =>
        drop(f, inDir)
        due(f.getFileName.toString) = backlogAt
      }
      q.processAllAvailable()
      q.stop()
    }
    val batchOf = batchOfFile(ckpt)
    val committedAt = (f: String) => batchOf.get(f).flatMap(b => Option(commits.get(b)))
    scheduled.map(_.getFileName.toString).foreach { f =>
      val c = committedAt(f)
      ph.ops += ((f, c.map(_ - due(f)).getOrElse(Double.NaN), c.isDefined))
    }
    val backlogCommits = backlog.map(f => committedAt(f.getFileName.toString))
    backlog.zip(backlogCommits).foreach { case (f, c) =>
      ph.ops += ((s"backlog/${f.getFileName}", c.map(_ - backlogAt).getOrElse(Double.NaN),
        c.isDefined))
    }
    val drainMs = backlogCommits.flatten.maxOption.map(_ - backlogAt).getOrElse(Double.NaN)
    ph.passes += drainMs / 1e3
    val backlogDocs = spark.read.schema(StreamIngest.PostSchema)
      .json(backlog.map(f => inDir.resolve(f.getFileName).toString): _*).count()
    ph.info("stream_drain_docs_per_s") = backlogDocs / (drainMs / 1e3)
    ph.info("backlog_docs") = backlogDocs
    ph.info("gen_late_ms") = late.toSeq
    ph.info("triggers_committed") = commits.size
    t.span("check", "outputs")(checkOutputs(ph, inDir.toString, sink))
    Harness.deleteTree(src)
  }

  private def checkOutputs(ph: Phase, inDir: String, sink: String): Unit = {
    val written = spark.read.parquet(sink).select("text_hash")
    val got = written.collect().map(_.getString(0))
    val history = spark.createDataFrame(java.util.List.of[Row](),
      org.apache.spark.sql.types.StructType.fromDDL("text_hash string"))
    val universe = spark.read.parquet(s"${o.work}/in/universe.parquet")
    val want = Ingest.ingest(spark.read.schema(StreamIngest.PostSchema).json(inDir),
        universe, history, RetrievalTime)
      .select("text_hash").collect().map(_.getString(0)).toSet
    ph.check("hash_set_equals_batch", got.toSet == want,
      s"${got.toSet.size} streamed vs ${want.size} batch hashes; " +
        s"${(got.toSet -- want).size} extra, ${(want -- got.toSet).size} missing")
    ph.check("no_duplicate_hash", got.length == got.toSet.size,
      s"${got.length} rows, ${got.toSet.size} distinct hashes")
    val md = java.security.MessageDigest.getInstance("MD5")
    got.sorted.foreach(h => md.update(h.getBytes("UTF-8")))
    digest = Some(md.digest().map("%02x".format(_)).mkString)
  }

  def outputDigest: Option[String] = digest
}

object StreamIngest {
  val MaxFilesPerTrigger = 50
  val PostSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "id string, source string, title string, selftext string, " +
        "removed_by_category string, created_utc bigint, url string")
}
