package graft.pipeline

import org.apache.spark.sql.functions._
import graft.SparkSpec

// top-level so the Dataset encoder derives (same shape as the posts fixture)
case class StreamPost(id: Long, source: String, title: String, selftext: String,
                      created_utc: Long, url: String, removed_by_category: String)

class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  private lazy val posts = spark.read
    .option("multiLine", "false")
    .json(fixture("posts.json"))
  private lazy val universe = spark.read
    .option("header", "true").csv(fixture("universe.csv"))
  private def emptyHistory = Seq.empty[String].toDF("text_hash")
  private val clock = lit("2024-03-02 00:00:00").cast("timestamp")

  test("ingest end-to-end: gates compose — removed/empty/stop-ticker/unknown/dup all dropped") {
    val docs = Ingest.ingest(posts, universe, emptyHistory, clock)
    val byId = docs.collect().map(d => d.unique_identifier -> d).toMap
    // survivors: 101 (dup keeper over 106), 102, 108
    assert(byId.keySet == Set("101", "102", "108"))
    assert(byId("101").tickers == Seq("TSLA"))
    assert(byId("102").tickers == Seq("MSFT"))
    assert(byId("108").tickers == Seq("AAPL", "GME", "MSFT"))
    assert(byId.values.forall(_.just_insert))
    assert(byId("101").time.toString == "2024-03-01 10:15:00.0")
  }

  test("ingest plans one hash exchange: tickers fold into the keeper aggregation") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plan = Ingest.ingest(posts, universe, emptyHistory, clock).queryExecution.executedPlan
    val shuffles = new AdaptiveSparkPlanHelper {}.collect(plan) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1, plan.treeString)
  }

  test("ingest plan: ticker extraction runs no higher-order function and no regex") {
    import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, RegExpExtractAll}
    val plan = Ingest.ingest(posts, universe, emptyHistory, clock).queryExecution.optimizedPlan
    val bad = plan.flatMap(_.expressions).flatMap(_.collect {
      case e: HigherOrderFunction => e
      case e: RegExpExtractAll => e
    })
    assert(bad.isEmpty, bad.mkString("\n"))
    assert(plan.flatMap(_.expressions).exists(_.exists(_.prettyName == "tickers_en")),
      plan.treeString)
  }

  test("ingest is idempotent under the dedup gate (reference test_reddit.py:12-15 analog)") {
    val run1 = Ingest.ingest(posts, universe, emptyHistory, clock)
    val history = run1.select(col("text_hash")).toDF()
    val run2 = Ingest.ingest(posts, universe, history, clock)
    assert(run2.count() == 0)
  }

  test("partial history: only unseen docs pass the gate") {
    val run1 = Ingest.ingest(posts, universe, emptyHistory, clock)
    val partial = run1.filter(col("unique_identifier") === "101")
      .select(col("text_hash")).toDF()
    val run2 = Ingest.ingest(posts, universe, partial, clock)
    assert(run2.select("unique_identifier").as[String].collect().toSet == Set("102", "108"))
  }

  test("filterValidPosts: F2/F3 drop removed and placeholder bodies") {
    val kept = Ingest.filterValidPosts(posts).select("id").as[Long].collect().toSet
    assert(!kept.contains(103L) && !kept.contains(104L))
    assert(kept.contains(101L))
  }

  test("dryRun: L3 limit-1 through the full ingest spine (base.py:230-244)") {
    val one = Ingest.dryRun(posts, universe, emptyHistory, clock)
    val rows = one.collect()
    assert(rows.length == 1)
    // the survivor is a real gate-passing doc, not an arbitrary input row
    assert(Set("101", "102", "108").contains(rows(0).unique_identifier))
    // the plan carries the declarative limit (early-exit, not full-scan+head)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("CollectLimit") || plan.contains("GlobalLimit"), plan)
  }

  test("ingestStream: same gates over an unbounded source, watermark dedup (streaming §3.2 twin)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[StreamPost]
    val out = Ingest.ingestStream(input.toDF(),
      universeSymbols = Seq("TSLA", "MSFT", "AAPL", "GME"), retrievalTime = clock)
    val q = out.writeStream.format("memory")
      .queryName("ingest_stream_out").outputMode("append").start()
    try {
      input.addData(
        StreamPost(201L, "reddit", "Thoughts on $tsla", "TSLA will beat estimates", 1709288100L, "u/201", null),
        StreamPost(202L, "reddit", "Removed", "taken down", 1709288200L, "u/202", "moderator"),
        StreamPost(203L, "reddit", "No known ticker", "XYZQ to the moon", 1709288300L, "u/203", null),
        StreamPost(204L, "reddit", "Thoughts on $tsla", "TSLA will beat estimates", 1709288400L, "u/204", null))
      q.processAllAvailable()
      // a later batch with the same content is still deduped (state held)
      input.addData(
        StreamPost(205L, "reddit", "Thoughts on $tsla", "TSLA will beat estimates", 1709290000L, "u/205", null),
        StreamPost(206L, "reddit", "MSFT strong", "long MSFT here", 1709290100L, "u/206", null))
      q.processAllAvailable()
      val ids = spark.table("ingest_stream_out")
        .select("unique_identifier").as[String].collect().toSet
      assert(ids == Set("201", "206"), s"got $ids")
      val tickers = spark.table("ingest_stream_out")
        .filter(col("unique_identifier") === "206")
        .select("tickers").as[Seq[String]].collect()(0)
      assert(tickers == Seq("MSFT"))
    } finally q.stop()
  }
}
