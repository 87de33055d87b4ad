package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class KMeansSpec extends SparkSpec {
  import spark.implicits._

  // Three well-separated clusters in 4-d, deterministic jitter.
  private def corpus(n: Int): DataFrame =
    (0 until n).map { i =>
      val c = i % 3
      val base = Array(c * 10.0, c * -5.0, 3.0 - c, c.toDouble)
      val jit = (i * 31 % 7) / 100.0
      (i.toLong, base.map(x => (x + jit).toFloat).toSeq)
    }.toDF("vec_id", "vec")

  private def seedOf(df: DataFrame, ids: Long*): Seq[(Long, Array[Double])] =
    KMeans.collectSeed(df.filter(col("vec_id").isin(ids: _*)), "vec_id", "vec")

  test("train recovers well-separated clusters (members follow bases)") {
    val df = corpus(90)
    val cens = KMeans.train(df, "vec", seedOf(df, 0L, 1L, 2L), rounds = 3)
    val cells = KMeans.assignCells(df, "vec_id", "vec", cens)
      .select(col("vec_id"), col("cell")).as[(Long, Long)].collect()
    // every vector lands with its own residue class's seed
    assert(cells.forall { case (id, cell) => cell == id % 3 })
    // centroid 0's first component ~= 0 + mean jitter, centroid 2's ~= 20
    val m = cens.toMap
    assert(math.abs(m(0L)(0)) < 0.1 && math.abs(m(2L)(0) - 20.0) < 0.1)
  }

  test("SSE is non-increasing across Lloyd rounds") {
    val df = corpus(120)
    val seed = seedOf(df, 0L, 1L, 5L) // deliberately poor third seed
    def sse(rounds: Int): Double = {
      val cens = KMeans.train(df, "vec", seed, rounds)
      KMeans.assignCells(df, "vec_id", "vec", cens)
        .agg(sum(col("dist").cast("decimal(28,12)")).cast("double"))
        .collect()(0).getDouble(0)
    }
    val s = (0 to 3).map(sse)
    assert(s.sliding(2).forall { case Seq(a, b) => b <= a + 1e-9 })
  }

  test("train's rounds equal the relational reference") {
    val n = 40
    val data = (0 until n).map { i =>
      (i.toLong, Array.tabulate(4)(d =>
        (if (i % 3 == 0) 1.0f else if (i % 3 == 1) -2.0f else 5.0f) * (d + 1) + i * 0.01f))
    }
    val df = spark.createDataFrame(data).toDF("vec_id", "vec").repartition(5)
    val seed = KMeans.collectSeed(df.filter(col("vec_id") < 4), "vec_id", "vec")
    val got = KMeans.train(df, "vec", seed, rounds = 3)
    val ref = KMeansReference.trainRelational(df, "vec_id", "vec", seed, rounds = 3)
    assert(got.map(_._1) == ref.map(_._1))
    got.zip(ref).foreach { case ((_, a), (_, b)) => assert(a.toSeq == b.toSeq) }
  }

  test("a vector of another length takes no part") {
    val df = Seq(
      (1L, Seq(1.0f, 2.0f)), (2L, Seq(2.0f, 1.0f)),
      (3L, Seq(9.0f, 9.0f)), (4L, Seq(8.0f)), (5L, Seq(9.0f, 8.0f, 7.0f)))
      .toDF("vec_id", "vec")
    val seed = KMeans.collectSeed(df.filter(col("vec_id") <= 2), "vec_id", "vec")
    val got = KMeans.train(df, "vec", seed, rounds = 2)
    // the reference on the rows of the centroids' length
    val ref = KMeansReference.trainRelational(df.filter(size(col("vec")) === 2),
      "vec_id", "vec", seed, rounds = 2)
    assert(got.map(_._1) == ref.map(_._1))
    got.zip(ref).foreach { case ((_, a), (_, b)) => assert(a.toSeq == b.toSeq) }
    val mixed = Seq(1L -> Array(1.0, 2.0), 4L -> Array(8.0))
    assertThrows[IllegalArgumentException](KMeans.train(df, "vec", mixed, rounds = 1))
  }

  test("train launches one Spark job per round and no probe job") {
    val df = corpus(90)
    val seed = seedOf(df, 0L, 1L, 2L)
    assert(jobsOf(KMeans.train(df, "vec", seed, rounds = 3)) == 3)
  }

  test("centroids are bit-identical under any partitioning") {
    val df = corpus(100)
    val seed = seedOf(df, 0L, 1L, 2L)
    val a = KMeans.train(df, "vec", seed, rounds = 2)
    val b = KMeans.train(df.repartition(7), "vec", seed, rounds = 2)
    assert(a.map(_._1) == b.map(_._1))
    a.zip(b).foreach { case ((_, va), (_, vb)) =>
      va.zip(vb).foreach { case (x, y) =>
        assert(java.lang.Double.doubleToLongBits(x) ==
          java.lang.Double.doubleToLongBits(y))
      }
    }
  }

  test("a centroid that captures no members drops out; k shrinks") {
    val df = corpus(30)
    val far = 999L -> Array(1e6, 1e6, 1e6, 1e6)
    val cens = KMeans.train(df, "vec",
      seedOf(df, 0L, 1L, 2L) :+ far, rounds = 1)
    assert(cens.map(_._1) == Seq(0L, 1L, 2L))
  }

  test("collapse below 2 live cells ends training with the survivors (no mid-loop crash)") {
    // Seed one real centroid and one far-away ghost: round 1 assigns
    // every vector to the real one, the ghost starves, and k collapses
    // to 1. Remaining rounds must STOP (assignCells requires >= 2
    // centroids — pre-guard, round 2 threw and forfeited the training
    // run) and return the surviving centroid.
    val df = corpus(30)
    val far = 999L -> Array(1e6, 1e6, 1e6, 1e6)
    val cens = KMeans.train(df, "vec",
      seedOf(df, 0L) :+ far, rounds = 3)
    assert(cens.map(_._1) == Seq(0L), s"expected the lone survivor, got $cens")
    // an empty seed short-circuits to itself instead of cens.head crashing
    assert(KMeans.train(df, "vec", Nil, rounds = 2).isEmpty)
  }

  test("probeCells: nprobe ranked cells per query; rank-1 equals assignCells") {
    val df = corpus(60)
    val cens = KMeans.train(df, "vec", seedOf(df, 0L, 1L, 2L), rounds = 2)
    val probes = KMeans.probeCells(df, "vec_id", "vec", cens, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(probes.count(_._3 == 1) == 60 && probes.count(_._3 == 2) == 60)
    val top1 = probes.filter(_._3 == 1).map(p => p._1 -> p._2).toMap
    val assigned = KMeans.assignCells(df, "vec_id", "vec", cens)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top1 == assigned)
  }

  test("assignment plan is shuffle-free (no Exchange below the argmin)") {
    val df = corpus(50)
    val cells = KMeans.assignCells(df, "vec_id", "vec", seedOf(df, 0L, 1L, 2L))
    val plan = cells.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"assignment should be a pure projection, got:\n$plan")
  }
}
