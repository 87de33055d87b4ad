package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.dedup.ExactDedup
import graft.schema.Doc
import graft.text.TextOps

/** The engine's spine: the reference's main ingest path (SURVEY.md §3.2)
  * as one declarative pipeline —
  *
  *   posts → drop removed/empty (F2, F3) → ticker extraction (O16) →
  *   universe semi-join minus stop-tickers (F5/J2) → no-ticker filter (F4)
  *   → dedup gate vs history (F8) → typed doc assembly (O18).
  *
  * Reference: `src/lurkers/reddit.py:72-90,156-174` + `src/base.py:210-218`.
  * Scale shape: the posts cross one exchange. The universe semi-join is
  * broadcast (the dimension stays tiny) and runs map-side on the exploded
  * (post, ticker) rows; the only shuffle of posts is the keeper
  * aggregation's, on the uniformly-distributed text hash, and that
  * aggregation also collects the tickers (its map-side partial folds a
  * post's ticker rows back into one before the exchange). The dedup
  * gate's anti-join then reuses the hash partitioning, or broadcasts a
  * small history. Hot tickers (AAPL/TSLA skew) are never a shuffle or
  * join key.
  */
object Ingest {

  /** F2 + F3: drop moderator-removed and empty/placeholder bodies. */
  def filterValidPosts(posts: DataFrame): DataFrame =
    posts
      .filter(col("removed_by_category").isNull)
      .filter(col("selftext").isNotNull &&
        !col("selftext").isin("unknown", "[removed]"))

  /** Stop-tickers removed from every candidate set (`reddit.py:89`:
    * `- {'DD','ARE'}`); shared by [[ingest]] and [[ingestStream]]. */
  val StopTickers: Seq[String] = Seq("DD", "ARE")

  /** Full ingest: returns the typed documents that survive every gate.
    * `history` holds previously-ingested text hashes; `retrievalTime` is
    * the injected clock (never `now()` — determinism, SURVEY §7.4).
    *
    * Tickers (O16 + F5/J2): candidates are extracted once, minus
    * [[StopTickers]], exploded beside the post and semi-joined against
    * the universe; the surviving rows feed the `text_hash` keeper
    * aggregation directly, which collects each hash's ticker set next to
    * its keeper columns. Equal hash ⇒ equal text ⇒ equal tickers, so the
    * set is the keeper's own; a post with no universe ticker leaves no
    * row and never reaches the aggregation (F4). */
  def ingest(posts: DataFrame, universe: DataFrame, history: DataFrame,
             retrievalTime: Column): Dataset[Doc] = {
    val withText = filterValidPosts(posts)
      .withColumn("__text", TextOps.getText(col("title"), col("selftext")))
      .withColumn("text_hash", TextOps.textHashHex(col("__text")))
    val candidates = array_except(TextOps.extractTickersEn(col("__text")),
      array(StopTickers.map(lit): _*))
    val tickerRows = withText.select(col("*"), explode(candidates).as("__t"))
      .join(broadcast(universe.select(col("ticker_symbol").as("__t"))), Seq("__t"), "left_semi")
    val fresh = ExactDedup.dedupGate(
      ExactDedup.keepers(tickerRows, "text_hash", "id",
        carryCols = Seq("source", "title", "selftext", "created_utc", "url"),
        extraAggs = Seq(array_sort(collect_set(col("__t"))).as("tickers"))),
      history, "text_hash")
    import posts.sparkSession.implicits._
    fresh.select(Doc.assemble(
        id = col("id"), source = col("source"), title = col("title"),
        text = col("selftext"), tickers = col("tickers"),
        time = timestamp_seconds(col("created_utc")),
        sourceLink = col("url"), retrievalTime = retrievalTime,
        textHash = col("text_hash")).as("doc"))
      .select(col("doc.*"))
      .as[Doc]
  }

  /** L3: dry-run — the reference's `dryrun()` (`src/base.py:230-244`)
    * drives the scraper only until ONE document survives every gate,
    * then reports. The Spark re-expression is a declarative `limit(1)`
    * over the full ingest plan: Catalyst plans a CollectLimit whose
    * scan stops consuming input once a row is produced — no early-exit
    * flag threads through the operators, and at 100 TB the dry run
    * still touches only as much input as one surviving doc needs. */
  def dryRun(posts: DataFrame, universe: DataFrame, history: DataFrame,
             retrievalTime: Column): Dataset[Doc] =
    ingest(posts, universe, history, retrievalTime).limit(1)

  /** Streaming twin of [[ingest]] (the reference worker loop IS a stream
    * consumer): same gates, re-shaped for unbounded input —
    *
    *  - ticker resolution is PER-ROW (an `isin` membership filter over
    *    the extracted tickers — Catalyst's OptimizeIn rule turns the
    *    literal list into one static `InSet` hash set, so each element
    *    is an O(1) probe; the earlier `array_intersect` against a
    *    literal array re-built an O(universe) set PER ROW) — exactly the
    *    reference's broadcast set `reddit.py:89`, and no explode+groupBy
    *    stateful aggregation on the hot path;
    *  - the dedup gate is `dropDuplicatesWithinWatermark` on the content
    *    hash with a 7-day horizon (F8/W4) — state bounded by watermark;
    *  - pair the output with `Sinks.idempotentAppend` in `foreachBatch`
    *    for the at-least-once → exactly-once-effect contract (Q8).
    */
  def ingestStream(posts: DataFrame, universeSymbols: Seq[String],
                   retrievalTime: Column,
                   stopTickers: Seq[String] = StopTickers,
                   horizon: String = "7 days"): Dataset[Doc] = {
    val valid = filterValidPosts(posts)
      .withColumn("__text", TextOps.getText(col("title"), col("selftext")))
    val withTickers = valid
      .withColumn("tickers", array_sort(filter(
        array_except(TextOps.extractTickersEn(col("__text")),
          array(stopTickers.map(lit): _*)),
        t => t.isin(universeSymbols: _*))))
      .filter(size(col("tickers")) > 0) // F4
      .withColumn("text_hash", TextOps.textHashHex(col("__text")))
      .withColumn("__ts", timestamp_seconds(col("created_utc")))
    import posts.sparkSession.implicits._
    withTickers
      .withWatermark("__ts", horizon)
      .dropDuplicatesWithinWatermark("text_hash")
      .select(Doc.assemble(
        id = col("id"), source = col("source"), title = col("title"),
        text = col("selftext"), tickers = col("tickers"),
        time = col("__ts"),
        sourceLink = col("url"), retrievalTime = retrievalTime,
        textHash = col("text_hash")).as("doc"))
      .select(col("doc.*"))
      .as[Doc]
  }
}
