package graft.dedup

import graft.SparkSpec
import graft.ops.{KCore, PageRank}

/** Pins `Clusters`' RDD rounds to the relational rounds in
  * [[ClustersReference]], through the public entry points: bit-identical
  * labels on nasty long-id corpora, and the reference's semantics for
  * null endpoints and int ids (cast to long inside the edge checkpoint,
  * cast back on output). */
class ClustersRoutingSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Any, Any)] =
    df.collect().map(r => (r.get(0), r.get(1))).toSeq
      .sortBy(p => (String.valueOf(p._1), String.valueOf(p._2)))

  test("ccRoundsRdd ≡ ccRoundsRelational on a nasty long-id corpus " +
       "(deep chain, both orientations, >2^32 ids, negatives, multi-partition)") {
    val big = 1L << 40
    val edges = ((1L until 20L).map(i => (i, i + 1)) ++ // 20-chain
      Seq((5L, 4L), (-3L, -9L), (-9L, 100L),            // reverse dup, negatives
        (big, big + 7), (big + 7, big + 3))             // past 2^32
      ).toDF("a", "b").repartition(5)
    val got = Clusters.connectedComponents(edges, "a", "b", maxIter = 25)
      .as[(Long, Long)].collect().sorted.toSeq
    val ref = ClustersReference.connectedComponents(edges, "a", "b", maxIter = 25)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got == ref)
    // a round budget short of the diameter stops both at the same labels
    assert(rows(Clusters.connectedComponents(edges, "a", "b", maxIter = 3)) ==
      rows(ClustersReference.connectedComponents(edges, "a", "b", maxIter = 3)))
  }

  test("starFixedPointRdd ≡ starFixedPointRelational (same fixed-point " +
       "edge set, same stopping behavior) on a 64-chain + islands") {
    val edges = ((1L until 64L).map(i => (i, i + 1)) ++
      Seq((200L, 300L), (300L, 250L), (1L << 41, (1L << 41) + 1))
      ).toDF("a", "b").repartition(3)
    val got = rows(Clusters.connectedComponentsStar(edges, "a", "b", maxIter = 25))
    assert(got == rows(ClustersReference.connectedComponentsStar(edges, "a", "b", maxIter = 25)))
    assert(got.nonEmpty)
    // stopped before the fixed point, both leave the same (non-star) edges
    assert(rows(Clusters.connectedComponentsStar(edges, "a", "b", maxIter = 2)) ==
      rows(ClustersReference.connectedComponentsStar(edges, "a", "b", maxIter = 2)))
  }

  test("null endpoints: connectedComponents keeps null-vertex semantics") {
    val edges = Seq((Some(1L), Some(2L)), (None, Some(5L)), (Some(7L), None))
      .toDF("a", "b")
    val got = Clusters.connectedComponents(edges, "a", "b")
      .collect().map(r =>
        (if (r.isNullAt(0)) null else r.getLong(0),
         if (r.isNullAt(1)) null else r.getLong(1))).toSet
    // relational semantics: null never equi-joins, so null vertices keep
    // their own (null) label; 5 and 7 are isolated by the null edges
    assert(got == Set((1L, 1L), (2L, 1L), (5L, 5L), (7L, 7L), (null, null)))
    assert(rows(Clusters.connectedComponents(edges, "a", "b")) ==
      rows(ClustersReference.connectedComponents(edges, "a", "b")))
  }

  test("int ids: connectedComponents returns int ids") {
    val edges = Seq((1, 2), (2, 3), (9, 9)).toDF("a", "b")
    val got = Clusters.connectedComponents(edges, "a", "b")
      .as[(Int, Int)].collect().toMap
    assert(got == Map(1 -> 1, 2 -> 1, 3 -> 1, 9 -> 9))
    assert(rows(Clusters.connectedComponents(edges, "a", "b")) ==
      rows(ClustersReference.connectedComponents(edges, "a", "b")))
  }

  test("connectedComponentsStar ≡ reference on null endpoints and int ids") {
    val withNulls = Seq((Some(1L), Some(2L)), (None, Some(5L)), (Some(7L), None),
      (Some(2L), Some(3L)), (None, None)).toDF("a", "b")
    val got = rows(Clusters.connectedComponentsStar(withNulls, "a", "b"))
    assert(got.toSet == Set((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (7L, 7L), (null, null)))
    assert(got == rows(ClustersReference.connectedComponentsStar(withNulls, "a", "b")))
    val ints = Seq((1, 2), (2, 3), (9, 9), (12, 10)).toDF("a", "b")
    val star = Clusters.connectedComponentsStar(ints, "a", "b")
    assert(star.as[(Int, Int)].collect().toMap ==
      Map(1 -> 1, 2 -> 1, 3 -> 1, 9 -> 9, 10 -> 10, 12 -> 10))
    assert(rows(star) == rows(ClustersReference.connectedComponentsStar(ints, "a", "b")))
  }

  test("RDD rounds leave no persisted blocks behind (leak pin)") {
    val edges = (1L until 30L).map(i => (i, i + 1)).toDF("a", "b")
    def leftBehind(op: => org.apache.spark.sql.DataFrame): Int = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      op.collect()
      (spark.sparkContext.getPersistentRDDs.keySet -- before).size
    }
    val cc = leftBehind(Clusters.connectedComponents(edges, "a", "b"))
    assert(cc <= 1, s"cc left $cc persisted RDDs")
    val star = leftBehind(Clusters.connectedComponentsStar(edges, "a", "b"))
    assert(star <= 2, s"star left $star persisted RDDs")
    val nodes = (1L to 30L).map(Tuple1(_)).toDF("id")
    val pr = leftBehind(PageRank.run(nodes, "id", edges, "a", "b", iters = 4))
    assert(pr <= 1, s"PageRank left $pr persisted RDDs")
    val core = leftBehind(KCore.kCore(edges, "a", "b", k = 1, rounds = 3))
    assert(core <= 1, s"kCore left $core persisted RDDs")
  }
}
