package graft

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.util.concurrent.atomic.LongAdder

class ScaleRehearsalSpec extends SparkSpec {

  test("measure counts exactly its query's tasks while a slow listener holds up the bus") {
    val sc = spark.sparkContext
    // listeners on one queue see each event in turn, so a slow listener
    // delays every task end measure's own listener gets
    val seen = new LongAdder
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        Thread.sleep(300)
        if (e.taskMetrics != null) seen.add(1)
      }
    }
    ListenerDrain(sc)
    sc.addSparkListener(slow)
    val qm = try {
      // eight task ends still queued when measure starts: they belong to
      // this job, not to the measured query
      sc.parallelize(1 to 8, 8).count()
      ScaleRehearsal.measure(spark, "/root/testdata/sf0.001",
        Seq("q01_pricing_summary")).head
    } finally {
      ListenerDrain(sc)
      sc.removeSparkListener(slow)
    }
    assert(qm.error.isEmpty, qm.error)
    assert(qm.rows > 0)
    assert(qm.tasks > 0)
    assert(qm.tasks == seen.sum - 8)
  }

  test("measure's clock stops when the write returns, not when a slow listener catches up") {
    val sc = spark.sparkContext
    val delayMs = 1000L
    // every task end of the query waits its turn behind this listener,
    // and so does the execution end an Observation waits for
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(delayMs)
    }
    ListenerDrain(sc)
    sc.addSparkListener(slow)
    val qm = try ScaleRehearsal.measure(spark, "/root/testdata/sf0.001",
        Seq("q01_pricing_summary")).head
      finally {
        ListenerDrain(sc)
        sc.removeSparkListener(slow)
      }
    assert(qm.error.isEmpty, qm.error)
    assert(qm.rows > 0 && qm.tasks >= 3)
    val backlog = qm.tasks * delayMs / 1e3
    assert(qm.sec < backlog, s"${qm.sec} s measured behind a $backlog s listener backlog")
  }
}
