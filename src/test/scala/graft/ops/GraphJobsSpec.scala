package graft.ops

import graft.SparkSpec
import graft.dedup.Clusters
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Pins the Spark job count of the graph operators' construction on one
  * fixed clean long-id graph each: the edge/node checkpoints, one job per
  * round (or one for the whole iteration) and the result checkpoint —
  * no null-probe jobs. A new eager job here is a measurable driver cost
  * on every curation run. */
class GraphJobsSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs `body` launches, counted by job group; a marker job after it
    * proves the listener bus has delivered every earlier job start. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graph-jobs-${java.util.UUID.randomUUID}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(group + "-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(group + "-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(group + "-marker"))
      seen.toArray.count(_ == group)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  // two chains (1..6, 10..12) and a pair: five label-propagation rounds
  // carry label 1 to vertex 6, a sixth sees no change
  private def graph = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
    (10L, 11L), (11L, 12L), (20L, 21L)).toDF("a", "b")

  test("connectedComponents: checkpoint + rounds + result, no probe job") {
    // edge checkpoint (distinct: map stage + result) 2, six round
    // counts, result checkpoint 1
    assert(jobsOf(Clusters.connectedComponents(graph, "a", "b")) == 9)
  }

  test("kCoreOfSymmetrized: rounds + result, no probe job") {
    val sym = KCore.symmetrize(graph.union(Seq((1L, 3L), (2L, 4L)).toDF("a", "b")),
      "a", "b")
    // the edge count, one count per round until the fixpoint (three),
    // the result checkpoint
    assert(jobsOf(KCore.kCoreOfSymmetrized(sym, k = 2, rounds = 5)) == 5)
  }

  test("PageRank.run: checkpoints + node count + result, no probe jobs") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 10L, 11L, 12L, 20L, 21L)
      .map(Tuple1(_)).toDF("id")
    // the edge and node checkpoints, the node count and the result
    // checkpoint (all five rounds run inside it)
    assert(jobsOf(PageRank.run(nodes, "id", graph, "a", "b", iters = 5)) == 6)
  }
}
