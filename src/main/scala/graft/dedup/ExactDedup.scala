package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact deduplication + the reference's 7-day dedup gate (SURVEY.md F8/W4,
  * `/root/reference/src/base.py:210-218`, `src/historydb/redislease.py:56-79`).
  *
  * The reference gates every scraped article through an atomic Redis
  * check-and-set keyed by sha224(article_id) with a 7-day TTL. The Spark
  * re-expression: a deterministic content hash (the reference's Python
  * `hash()` is salted per-process — we define md5), `groupBy(hash)` keeper
  * selection within the batch, and a left-anti join against a time-pruned
  * history table. All shuffles are on the hash key — uniformly distributed
  * by construction, no skew at any scale; the history side prunes by
  * partition (date) before the join.
  */
object ExactDedup {

  /** Deterministic content hash (O2). */
  def withTextHash(df: DataFrame, textCol: String, out: String = "text_hash"): DataFrame =
    df.withColumn(out, md5(col(textCol)))

  /** Within-batch dedup with deterministic keeper: the MIN of `keyCol` per
    * hash survives (dropDuplicates keeps an arbitrary row — unusable when
    * results must be reproducible). Carries `carryCols` via min_by;
    * `extraAggs` ride the same aggregation (a per-hash tally or set). */
  def keepers(df: DataFrame, hashCol: String, keyCol: String, carryCols: Seq[String] = Nil,
              extraAggs: Seq[Column] = Nil): DataFrame = {
    val aggs = (min(col(keyCol)).as(keyCol) +:
      carryCols.map(c => min_by(col(c), col(keyCol)).as(c))) ++ extraAggs
    df.groupBy(hashCol).agg(aggs.head, aggs.tail: _*)
  }

  /** F8: drop batch rows whose hash already exists in history. */
  def dedupGate(batch: DataFrame, history: DataFrame, hashCol: String): DataFrame =
    batch.join(history.select(hashCol).distinct(), Seq(hashCol), "left_anti")

  /** W4: restrict history to the dedup horizon (default 7 days) relative
    * to `now`. With a date-partitioned history table this prunes
    * partitions before any scan. */
  def pruneHistory(history: DataFrame, tsCol: String, now: Column,
                   horizonDays: Int = 7): DataFrame =
    history.filter(col(tsCol) >= now - expr(s"INTERVAL $horizonDays DAYS"))

  /** Run-twice idempotence building block: gate a batch, then union the
    * survivors into history. Applying the same batch again yields zero new
    * rows — the invariant the reference actually tests
    * (`src/tests/test_reddit.py:12-15`). */
  def ingest(batch: DataFrame, history: DataFrame, hashCol: String): DataFrame =
    history.unionByName(dedupGate(batch, history, hashCol))
}
