package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.functions._

/** Fault-injection rehearsal: prove the sink contracts hold under
  * Spark's OWN retry machinery, not just under job-level re-runs (which
  * SinksSpec's run-twice cases cover). A poison expression throws on the
  * FIRST attempt of one task inside the write job itself; with task
  * retries enabled the job must succeed and the effects must be
  * exactly-once:
  *
  *  - `idempotentAppend`: the failed attempt's partial files must never
  *    become visible (commit-protocol guarantee the 100 TB story leans
  *    on — a retried task re-writes its partition, the committer
  *    publishes exactly one attempt);
  *  - `bulkWrite` tallies: accumulator updates from failed attempts are
  *    discarded (action-accumulator exactly-once), so ok+failed must
  *    equal the row count exactly even when attempts died mid-batch.
  *
  * A runnable main, not a ScalaTest suite: task retries need their own
  * SparkContext (`local[N, maxFailures]`), and the shared test session —
  * one context per JVM — runs at local-mode default maxFailures=1 where
  * any injected failure kills the job instead of retrying the task.
  *
  * Usage: runMain graft.FaultRehearsal   (exits nonzero on any violation)
  */
object FaultRehearsal {

  /** Throws when the task streams the target row on its FIRST attempt —
    * i.e. MID-partition, after earlier rows of the same task already
    * flowed (and, in bulkWrite, after whole batches already tallied). */
  private def poisonAt(targetId: Long) = udf { (id: Long) =>
    val tc = TaskContext.get()
    if (tc != null && id == targetId && tc.attemptNumber() == 0)
      throw new RuntimeException(s"injected failure: row $targetId attempt 0")
    id
  }

  def main(args: Array[String]): Unit = {
    // up to 3 attempts per task
    val spark = Session.local("8, 3", "8", "graft-fault-rehearsal")

    val n = 100000L
    var violations = List.empty[String]
    def check(name: String)(ok: Boolean): Unit = {
      println(s"FAULT $name: ${if (ok) "ok" else "VIOLATION"}")
      if (!ok) violations ::= name
    }

    // ---- idempotentAppend under a mid-write task retry ----
    val out = java.nio.file.Files.createTempDirectory("graft-fault").toString + "/sink"
    // target = mid-way through range-partition 5 of 16
    val df = spark.range(0, n, 1, 16).toDF("id")
      .withColumn("id", poisonAt(5 * n / 16 + 1234)(col("id")))
      .withColumn("part", pmod(col("id"), lit(8)))
    graft.sinks.Sinks.idempotentAppend(df, out, Seq("part"))
    val first = spark.read.parquet(out)
    check("idempotentAppend retry: all rows exactly once") {
      first.count() == n && first.select("id").distinct().count() == n
    }
    // job-level redelivery on top of the task-level retry (fresh poison:
    // new job = new attempt numbers, so partition 5 fails once again)
    graft.sinks.Sinks.idempotentAppend(df, out, Seq("part"))
    val second = spark.read.parquet(out)
    check("idempotentAppend redelivery after retry: still exactly once") {
      second.count() == n && second.select("id").distinct().count() == n
    }

    // ---- bulkWrite tallies under a mid-batch task retry ----
    // the poison fires after the first attempt already tallied some
    // batches; exactly-once action accumulators must discard them
    // target sits 5 full batches into range-partition 3's task, so the
    // first attempt tallies 5000 ok BEFORE dying — those must vanish
    val (ok, failed) = graft.sinks.Sinks.bulkWrite(
      spark.range(0, n, 1, 16).toDF("id")
        .withColumn("id", poisonAt(3 * n / 16 + 5000)(col("id"))), batchSize = 1000)(_ => ())
    check("bulkWrite tallies: failed attempts leave no phantom counts") {
      ok + failed == n && failed == 0
    }

    spark.stop()
    if (violations.nonEmpty) { println(s"VIOLATIONS: ${violations.reverse.mkString(", ")}"); sys.exit(1) }
  }
}
