package graft.ops

import graft.SparkSpec

/** Pins `KCore`'s RDD peeling to the relational peeling in
  * [[KCoreReference]] (same surviving edge set, same early-exit round)
  * on nasty graphs, and int ids through the public entry points. */
class KCoreRoutingSpec extends SparkSpec {
  import spark.implicits._

  test("kCoreRdd ≡ kCoreRelationalOfSymmetrized on a random graph " +
       "(multi-partition, >2^32 ids, cascading peels), k = 2..4") {
    val rng = new scala.util.Random(23)
    val big = 1L << 42
    val edges = ((1 to 150).map(_ =>
        (rng.nextInt(40).toLong, rng.nextInt(40).toLong)) ++
      Seq((big, big + 1), (big + 1, big + 2), (big + 2, big))) // far triangle
      .toDF("s", "d").repartition(5)
    val sym = KCore.symmetrize(edges, "s", "d")
    (2 to 4).foreach { k =>
      val got = KCore.kCoreOfSymmetrized(sym, k, rounds = 8)
        .as[(Long, Long)].collect().sorted.toSeq
      val ref = KCoreReference.kCoreRelationalOfSymmetrized(sym, k, rounds = 8)
        .as[(Long, Long)].collect().sorted.toSeq
      assert(got == ref, s"k=$k")
      assert(KCore.kCore(edges, "s", "d", k, rounds = 8)
        .as[(Long, Long)].collect().sorted.toSeq == ref, s"kCore k=$k")
    }
  }

  test("int ids: kCore returns int node ids") {
    val g = Seq((1, 2), (2, 3), (1, 3), (3, 4)).toDF("s", "d")
    val got = KCore.kCore(g, "s", "d", k = 2, rounds = 5)
      .as[(Int, Long)].collect().toSet
    assert(got == Set((1, 2L), (2, 2L), (3, 2L)))
    assert(got == KCoreReference.kCore(g, "s", "d", k = 2, rounds = 5)
      .as[(Int, Long)].collect().toSet)
  }
}
