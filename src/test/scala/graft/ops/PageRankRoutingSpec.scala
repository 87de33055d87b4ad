package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Pins `PageRank`'s RDD rounds BIT-IDENTICALLY to the relational rounds
  * in [[PageRankReference]] through `run`/`runWeighted`, including the
  * inputs the RDD rounds normalize: a null recip (from a null-weight
  * source), int ids and a null node id. */
class PageRankRoutingSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(df: DataFrame): Seq[(Any, Double)] =
    df.collect().map(r => (r.get(0), r.getDouble(1))).toSeq
      .sortBy(p => (String.valueOf(p._1), p._2))

  test("RDD rounds ≡ relational rounds bit-for-bit on a random graph " +
       "(multi-partition, >2^32 ids, asymmetric degrees)") {
    val rng = new scala.util.Random(11)
    val big = 1L << 40
    val es = ((1 to 200).map(_ =>
        (rng.nextInt(30).toLong, rng.nextInt(30).toLong))
      .filter { case (a, b) => a != b }.distinct ++
      Seq((big, 3L), (4L, big))).toDF("s", "d").repartition(7)
    val ns = ((0L until 30L) :+ big).map(Tuple1(_)).toDF("id").repartition(3)
    assert(ranks(PageRank.run(ns, "id", es, "s", "d", iters = 5)) ==
      ranks(PageRankReference.run(ns, "id", es, "s", "d", iters = 5)))
    val ws = es.withColumn("w", (org.apache.spark.sql.functions.rand(5) * 2).cast("double"))
      .localCheckpoint(true)
    assert(ranks(PageRank.runWeighted(ns, "id", ws, "s", "d", "w", iters = 5)) ==
      ranks(PageRankReference.runWeighted(ns, "id", ws, "s", "d", "w", iters = 5)))
  }

  test("a null-weight source (null recip) contributes nothing") {
    val ns = Seq(0L, 1L, 2L).map(Tuple1(_)).toDF("id")
    // node 0's weights are NULL -> Σw null -> recip null (a ZERO weight
    // sum would already throw under ANSI division, so null weights are
    // the one way a null recip reaches the rounds)
    val zw = Seq((0L, 1L, Option.empty[Double]), (0L, 2L, Option.empty[Double]),
      (1L, 2L, Some(1.0))).toDF("s", "d", "w")
    // node 0's contributions skip, node 2 still receives 1's
    // (teleport-fed) rank
    val got = PageRank.runWeighted(ns, "id", zw, "s", "d", "w", iters = 2)
    val m = got.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val tele = 0.15 / 3 // one ulp off 0.05 in doubles
    assert(m(0L) == tele && m(1L) == tele)
    assert(math.abs(m(2L) - (tele + 0.85 * 0.05)) < 1e-12)
    assert(ranks(got) ==
      ranks(PageRankReference.runWeighted(ns, "id", zw, "s", "d", "w", iters = 2)))
  }

  test("int ids: PageRank ≡ reference and returns int ids") {
    val es = Seq((0, 1), (1, 2), (2, 0), (3, 0), (0, 2)).toDF("s", "d")
    val ns = Seq(0, 1, 2, 3, 4).map(Tuple1(_)).toDF("id")
    val got = PageRank.run(ns, "id", es, "s", "d", iters = 4)
    assert(got.schema("id").dataType == org.apache.spark.sql.types.IntegerType)
    assert(ranks(got) == ranks(PageRankReference.run(ns, "id", es, "s", "d", iters = 4)))
  }

  test("a null node id: PageRank ≡ reference (counts in n, teleport only)") {
    val es = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 1L)).toDF("s", "d")
    val ns = Seq(Some(0L), Some(1L), None, Some(2L)).toDF("id")
    Seq(0, 3).foreach { iters =>
      val got = PageRank.run(ns, "id", es, "s", "d", iters = iters)
      assert(got.count() == 4)
      assert(ranks(got) == ranks(PageRankReference.run(ns, "id", es, "s", "d", iters = iters)),
        s"iters=$iters")
    }
  }
}
