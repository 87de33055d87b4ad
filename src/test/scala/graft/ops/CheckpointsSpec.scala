package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  test("guardedBroadcast: under the cap the join broadcasts; past it the " +
       "join degrades to shuffle — identical results either way") {
    val fact = (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
    val dim = Seq(1L, 2L, 3L).toDF("k")
    def joined(maxRows: Long) =
      fact.join(Checkpoints.guardedBroadcast(dim, maxRows), Seq("k"), "left_semi")
    val small = joined(maxRows = 10)
    val big = joined(maxRows = 2) // 3 rows > 2: fallback branch
    // the guard controls the FORCED hint only — a stats-based broadcast
    // (autoBroadcastJoinThreshold) may still fire on genuinely small
    // bytes, which is exactly the graceful degradation wanted. Assert on
    // the logical plan's hint node, not the physical join choice.
    def hinted(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.hint.rightHint.exists(_.strategy.nonEmpty) => j
      }.nonEmpty
    assert(hinted(small), "under the cap the broadcast hint must be applied")
    assert(!hinted(big),
      "past the cap the explicit hint must NOT bypass the size checks")
    assert(small.as[(Long, String)].collect().toSet ==
      big.as[(Long, String)].collect().toSet)
    assert(small.count() == 3)
  }

  test("guardedBroadcast launches only its checkpoint's jobs: the row " +
       "count comes from the checkpoint's own job") {
    // a fresh shuffled frame per call, so no call reuses another's stages
    def grouped() = spark.range(0, 1000, 1, 4).toDF("k")
      .groupBy(col("k") % 10).agg(count(lit(1)).as("n"))
    val checkpointOnly = jobsOf(grouped().localCheckpoint(true))
    val guarded = jobsOf(Checkpoints.guardedBroadcast(grouped()))
    assert(checkpointOnly > 0)
    assert(guarded == checkpointOnly,
      s"guardedBroadcast ran $guarded jobs; its checkpoint alone runs $checkpointOnly")
  }

  test("materializeCounted: the observed count equals the rows, empty or not") {
    val (empty, n0) = Checkpoints.materializeCounted(
      spark.range(0, 100, 1, 4).toDF("k").filter(col("k") < 0))
    assert(n0 == 0L && empty.count() == 0L)
    val (noParts, nLocal) = Checkpoints.materializeCounted(Seq.empty[Long].toDF("k"))
    assert(nLocal == 0L && noParts.count() == 0L)
    val (mat, n) = Checkpoints.materializeCounted(
      spark.range(0, 37, 1, 4).toDF("k").groupBy(col("k") % 5).agg(count(lit(1))))
    assert(n == 5L && mat.count() == 5L)
  }

  test("release: frees an eager localCheckpoint's registered RDD; no-op on plans") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ck = Seq(1, 2, 3).toDF("x").localCheckpoint(true)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).size == 1)
    Checkpoints.release(ck)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
    Checkpoints.release(Seq(1).toDF("x")) // non-checkpointed: must not throw
  }

  test("release: a trivial unary wrapper over the checkpoint still releases") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ck = Seq(1, 2, 3).toDF("x").localCheckpoint(true)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).size == 1)
    // a thin projection/filter over the checkpoint is the documented
    // acceptable call shape — the unary chain resolves to the root RDD
    Checkpoints.release(ck.filter(col("x") > 0).select(col("x") * 2 as "y"))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("release: a DERIVED multi-input plan referencing a live checkpoint " +
       "is a no-op — shared blocks must survive (round-12 ADVICE)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val shared = Seq((1, "a"), (2, "b")).toDF("k", "v").localCheckpoint(true)
    val dead = Seq(1, 2).toDF("k").localCheckpoint(true)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).size == 2)
    // the old release() walked EVERY LogicalRDD leaf: passing this join
    // would have freed `shared` too, breaking the later action on it
    Checkpoints.release(dead.join(shared, "k"))
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).size == 2,
      "a multi-input plan is not a checkpoint; nothing may be freed")
    assert(shared.count() == 2) // still readable
    Checkpoints.release(shared); Checkpoints.release(dead)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }
}
