package graft.ops

import graft.SparkSpec
import graft.dedup.Clusters

/** Pins the Spark job count of the graph operators' construction on one
  * fixed clean long-id graph each: the edge/node checkpoints, one job per
  * round (or one for the whole iteration) and the result checkpoint —
  * no null-probe jobs. A new eager job here is a measurable driver cost
  * on every curation run. */
class GraphJobsSpec extends SparkSpec {
  import spark.implicits._

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
