package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Observation}
import org.apache.spark.sql.functions.{broadcast, count, lit}
import org.apache.spark.storage.StorageLevel

/** The one place that decides how an intermediate result is
  * materialized.
  *
  * Policy: a DataFrame is materialized by an EAGER LOCAL checkpoint
  * ([[materialize]]). Eager, because under AQE a lazy local checkpoint
  * already runs its shuffle stages when it is built and only defers the
  * last stage into the first action, which hides that stage's cost from
  * the construction/action split; local, because the blocks stay on the
  * executors that computed them — fast, no write to a checkpoint dir.
  * The blocks are freed by [[release]] where the code knows the plan is
  * dead, and otherwise by the ContextCleaner once the driver GCs the
  * plan (unbounded latency in a long session: repeated calls can
  * accumulate GB-scale executor storage between driver GCs). A local
  * checkpoint is lost with its executor: a later read of a lost block
  * fails the job with `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND` instead of
  * recomputing it.
  *
  * An RDD round of an iterative operator is persisted at
  * [[RoundLevel]] ([[persistRound]]) and keeps its lineage, so a lost
  * executor recomputes it; [[materializeRound]] additionally cuts the
  * lineage for loops too long to replay.
  */
object Checkpoints {

  /** The storage level of every persisted RDD round. */
  val RoundLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK

  /** Eager local checkpoint of `df`: the plan runs now, and the result
    * reads the stored blocks. */
  def materialize(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** [[materialize]] plus the row count of the result, observed inside
    * the checkpoint's own job — no second `count()` job. The
    * observation is unnamed, so concurrent calls cannot collide. */
  def materializeCounted(df: DataFrame): (DataFrame, Long) = {
    val rows = Observation()
    val mat = materialize(df.observe(rows, count(lit(1)).as("n")))
    (mat, rows.get("n").asInstanceOf[Long])
  }

  /** Persist an RDD round at [[RoundLevel]]; the next action stores it. */
  def persistRound[T](rdd: RDD[T]): RDD[T] = rdd.persist(RoundLevel)

  /** Persist, local-checkpoint and store an RDD round now (one job): the
    * round's lineage is cut, so round i never replays rounds 0..i-1. */
  def materializeRound[T](rdd: RDD[T]): RDD[T] = {
    persistRound(rdd).localCheckpoint()
    rdd.count()
    rdd
  }

  /** Explicitly free a checkpoint's blocks. The RDD lives behind the
    * checkpointed Dataset's `LogicalRDD` leaf; non-blocking unpersist is
    * safe because the caller guarantees nothing reads the plan
    * afterwards. No-op on non-checkpointed plans.
    *
    * Contract: the argument must BE the checkpoint — the Dataset
    * [[materialize]] returned, possibly under trivial unary wrappers (a
    * projection/filter/alias over it). Only the unary-chain ROOT is
    * released: a plan with more than one input is a derived plan (a join
    * of a dead checkpoint with a live one), not a checkpoint, and is a
    * no-op — freeing every leaf would break later reads of the live one. */
  def release(checkpointed: Dataset[_]): Unit = {
    @scala.annotation.tailrec
    def rootRdd(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
        Option[org.apache.spark.sql.execution.LogicalRDD] = p match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr)
      case u if u.children.length == 1 => rootRdd(u.children.head)
      case _ => None
    }
    rootRdd(checkpointed.queryExecution.analyzed)
      .foreach(_.rdd.unpersist(blocking = false))
  }

  /** Default row cap for [[guardedBroadcast]]: ~40 MB of longs. */
  val DefaultBroadcastMaxRows: Long = 5000000L

  /** Broadcast a "small" side only after PROVING it is small. A forced
    * `broadcast()` hint bypasses `autoBroadcastJoinThreshold` entirely,
    * so a set assumed pair-bounded (e.g. dedup drop lists) OOMs the
    * driver the day a dup-heavy corpus makes it corpus-fraction-sized.
    * The input is materialized with its row count observed in the same
    * job, then wrapped in the broadcast hint only under `maxRows`; past
    * it the join falls back to shuffle — graceful degradation instead of
    * a fatal collect.
    *
    * The checkpoint is never [[release]]d here: the returned frame is
    * composed lazily into the caller's plan, whose action lies outside
    * this function, so the ContextCleaner frees it. The accumulation is
    * bounded per call (≤ `maxRows` ids when broadcast; the fallback only
    * materializes what the shuffle join would have anyway). */
  def guardedBroadcast(df: DataFrame,
                       maxRows: Long = DefaultBroadcastMaxRows): DataFrame = {
    val (mat, n) = materializeCounted(df)
    if (n <= maxRows) broadcast(mat) else mat
  }
}
