package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

/** The profile loop's job attribution: construction vs action, and
  * jobs launched from a thread the query started. */
class ProfileSpec extends SparkSpec {

  /** `body`'s value and every job start delivered meanwhile, whatever
    * its thread or tag. */
  private def allJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerDrain(sc)
    sc.addSparkListener(l)
    try {
      val v = body
      ListenerDrain(sc)
      (v, n.get)
    } finally sc.removeSparkListener(l)
  }

  test("construction's checkpoint and count are construction jobs; the collect is the action's") {
    var built = -1
    val q: Profile.Q = (s, _) => {
      val (df, n) = allJobs {
        val cp = s.range(0, 1000, 1, 4).toDF("id").localCheckpoint()
        assert(cp.count() == 1000)
        cp.filter(col("id") % 7 === 0)
      }
      built = n
      df
    }
    val (Seq(p), total) =
      allJobs(Profile.run(spark, "", Seq("checkpointed" -> q), Profile.collect))
    assert(p.error.isEmpty, p.error)
    assert(p.rows == 143)
    assert(built >= 2 && p.constructJobs == built)
    assert(p.actionJobs >= 1 && p.jobs == total)
    assert(p.tasks > 0 && p.stages > 0)
  }

  test("a streaming harness's micro-batch jobs are attributed to its query") {
    val name = "q86_exactly_once"
    val (Seq(p), total) = allJobs(Profile.run(spark, "/root/testdata/sf0.001",
      Seq(name -> SparkEntry.queries(name)), Profile.collect))
    assert(p.error.isEmpty, p.error)
    // two AvailableNow deliveries, each writing from the stream's thread
    assert(p.constructJobs >= 2)
    assert(p.jobs == total)
  }
}
