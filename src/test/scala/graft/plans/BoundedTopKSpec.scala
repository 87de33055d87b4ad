package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The custom physical operator must agree exactly — selection AND
  * ranks — with the declarative window row_number spelling, in every
  * group regime (few, many past the flush budget, one hot group), and
  * plan as the partial → exchange → sort → final chain the scaladoc
  * promises. */
class BoundedTopKSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val dir = "/root/testdata/sf0.001"

  /** The reference: rank every row with a plain window, keep rank ≤ k. */
  private def windowTopK(df: DataFrame, groupCols: Seq[String], order: Seq[Column],
                         k: Int): DataFrame =
    df.withColumn("rank", row_number().over(
        Window.partitionBy(groupCols.map(col): _*).orderBy(order: _*)))
      .filter(col("rank") <= k)

  private def ranked(df: DataFrame, cols: String*): Set[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet

  test("matches the window row_number spelling on real data") {
    val ord = graft.Tables(spark, dir, "orders")
    val order = Seq(col("o_totalprice").desc, col("o_orderkey").asc)
    val got = BoundedTopK.perGroup(ord, Seq("o_orderpriority"), order, k = 3)
    val want = windowTopK(ord, Seq("o_orderpriority"), order, k = 3)
    val cols = Seq("o_orderpriority", "rank", "o_orderkey")
    assert(ranked(got, cols: _*) == ranked(want, cols: _*))
    assert(got.count() == 15) // 5 priorities × 3
  }

  test("perGroup equals a single global window ranking") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (s"g${i % 3}", i * 37 % 991, i)).toDF("g", "v", "id")
    val order = Seq(col("v").desc, col("id").asc)
    val got = BoundedTopK.perGroup(df, Seq("g"), order, 5)
    assert(ranked(got, "g", "rank", "id") ==
      ranked(windowTopK(df, Seq("g"), order, 5), "g", "rank", "id"))
  }

  test("perGroup handles groups smaller than k") {
    import spark.implicits._
    val df = Seq(("a", 1), ("a", 2), ("b", 9)).toDF("g", "v")
    val got = BoundedTopK.perGroup(df, Seq("g"), Seq(col("v").desc), 5)
      .select("g", "rank", "v").as[(String, Int, Int)].collect().toSet
    assert(got == Set(("a", 1, 2), ("a", 2, 1), ("b", 1, 9)))
  }

  test("rank is a non-null int column appended after the input columns") {
    import spark.implicits._
    val df = Seq(("a", 1L)).toDF("g", "v")
    val f = BoundedTopK.perGroup(df, Seq("g"), Seq(col("v").asc), 1).schema.last
    assert(f.name == "rank" && f.dataType == org.apache.spark.sql.types.IntegerType &&
      !f.nullable)
  }

  test("a top-k result joins with itself") {
    import spark.implicits._
    val t = BoundedTopK.perGroup(Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("g", "v"),
      Seq("g"), Seq(col("v").asc), 2)
    val pairs = t.as("x")
      .join(t.as("y"), col("x.g") === col("y.g") && col("x.rank") < col("y.rank"))
      .select(col("x.v"), col("y.v")).as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L)))
  }

  test("plans as partial -> single exchange -> final") {
    val ord = graft.Tables(spark, dir, "orders")
    val df = BoundedTopK.perGroup(ord, Seq("o_orderpriority"),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BoundedTopKPartial") && plan.contains("BoundedTopKFinal"),
      s"expected the two-phase pair, got:\n$plan")
    val pPartial = plan.indexOf("BoundedTopKPartial")
    val pFinal = plan.indexOf("BoundedTopKFinal")
    val pExchange = plan.indexOf("Exchange hashpartitioning(o_orderpriority")
    assert(pFinal < pExchange && pExchange < pPartial,
      s"the group exchange must sit BETWEEN final and partial, got:\n$plan")
  }

  test("a Sort on group ++ order sits between the group exchange and BoundedTopKFinal") {
    val ord = graft.Tables(spark, dir, "orders")
    val df = BoundedTopK.perGroup(ord, Seq("o_orderpriority"),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 3)
    val plan = df.queryExecution.executedPlan
    val finals = collect(plan) { case f: BoundedTopKFinalExec => f }
    assert(finals.size == 1, s"expected one final, got:\n$plan")
    finals.head.child match {
      case s: SortExec =>
        assert(s.sortOrder.map(_.child.references.head.name) ==
          Seq("o_orderpriority", "o_totalprice", "o_orderkey"), s"sort keys:\n$plan")
        assert(s.child.isInstanceOf[ShuffleExchangeExec],
          s"the sort must read the group exchange, got:\n$plan")
      case other => fail(s"expected a Sort under the final, got ${other.nodeName}:\n$plan")
    }
  }

  test("many groups: one partition past the flush budget still ranks exactly") {
    // more distinct groups than the partial's resident budget, all in ONE
    // input partition; a group's 3 rows lie `groups` ids apart, more than
    // one budget, so every group has rows on both sides of a flush
    val groups = BoundedTopK.FlushRows + 20000
    val k = 2
    val df = spark.range(0, 3L * groups, 1, 1)
      .select((col("id") % groups).as("g"), (col("id") * 7919 % 1000003).as("v"),
        col("id"))
    val order = Seq(col("v").desc, col("id").asc)
    val got = BoundedTopK.perGroup(df, Seq("g"), order, k)
    val gotRows = got.collect().map(r => Seq(r.getLong(0), r.getLong(2), r.getInt(3))).toSet
    val want = ranked(windowTopK(df, Seq("g"), order, k), "g", "id", "rank")
    assert(gotRows == want)
    // a partial that never flushed emits at most groups × k rows
    val partialOut = collect(got.queryExecution.executedPlan) {
      case p: BoundedTopKPartialExec => p.metrics("numOutputRows").value
    }.sum
    assert(partialOut > groups.toLong * k,
      s"partial emitted $partialOut rows; a flush would exceed ${groups.toLong * k}")
  }

  test("hot group: a Zipf key ranks like the window, ranks included") {
    val n = 20000L
    val df = spark.range(0, n, 1, 4)
      .select(graft.ZipfCorpus.zipfRank(graft.ZipfCorpus.uniformOf(col("id")), 500, 1.2)
          .as("g"), (col("id") * 31 % 97).as("v"), col("id"))
    val hot = df.groupBy("g").count().orderBy(col("count").desc).head().getLong(1)
    assert(hot.toDouble / n > 0.10 && hot.toDouble / n < 0.25,
      s"the rank-1 key should hold ~15% of rows, holds $hot of $n")
    val order = Seq(col("v").desc, col("id").asc)
    val got = BoundedTopK.perGroup(df, Seq("g"), order, 5)
    assert(ranked(got, "g", "rank", "id") ==
      ranked(windowTopK(df, Seq("g"), order, 5), "g", "rank", "id"))
  }

  test("k larger than every group passes groups through whole") {
    import spark.implicits._
    val df = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("g", "v")
    val got = BoundedTopK.perGroup(df, Seq("g"), Seq(col("v").asc), k = 10)
    assert(got.count() == 3)
  }

  test("exact boundary: ties beyond k are cut by the tiebreaker, not kept") {
    import spark.implicits._
    // four rows tie on v; the id tiebreaker must keep exactly k, and
    // exactly the k smallest ids — the deterministic-total-order contract
    val df = Seq(("a", 5, 1L), ("a", 5, 2L), ("a", 5, 3L), ("a", 5, 4L),
      ("a", 4, 9L)).toDF("g", "v", "id")
    val got = BoundedTopK.perGroup(df, Seq("g"),
      Seq(col("v").desc, col("id").asc), k = 3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 3L))
  }

  test("multi-column grouping and null group keys") {
    import spark.implicits._
    val df = Seq((Some("x"), "p", 1L), (Some("x"), "p", 2L), (None, "p", 3L),
      (None, "p", 4L), (None, "q", 5L)).toDF("g1", "g2", "id")
    val got = BoundedTopK.perGroup(df, Seq("g1", "g2"), Seq(col("id").asc), k = 1)
      .select("id").collect().map(_.getLong(0)).toSet
    // one winner per (g1,g2) group incl. the null-keyed one
    assert(got == Set(1L, 3L, 5L))
  }

  test("property: equals the naive per-group sorted take on random data") {
    import spark.implicits._
    import org.scalacheck.Gen
    val rowGen = Gen.zip(Gen.oneOf("g1", "g2", "g3", "g4"),
      Gen.choose(0, 50), Gen.choose(1, 8))
    val dataGen = Gen.zip(Gen.listOfN(120, rowGen), Gen.choose(1, 6))
    val params = Gen.Parameters.default
    (0 until 6).foreach { i =>
      dataGen.apply(params, org.scalacheck.rng.Seed(2000L + i)).foreach {
        case (rows, k) =>
          val data = rows.zipWithIndex.map { case ((g, v, _), id) => (g, v, id.toLong) }
          val df = data.toDF("g", "v", "id").repartition(5)
          val got = BoundedTopK.perGroup(df, Seq("g"),
              Seq(col("v").desc, col("id").asc), k)
            .select("id", "rank").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
          val want = data.groupBy(_._1).values.flatMap(
            _.sortBy(r => (-r._2, r._3)).take(k).zipWithIndex
              .map { case (r, i) => (r._3, i + 1) }).toSet
          assert(got == want, s"case $i (k=$k)")
      }
    }
  }

  test("guards: empty groupCols is a clear API error, not a planner crash") {
    import spark.implicits._
    val df = Seq(("a", 1)).toDF("g", "v")
    val e = intercept[IllegalArgumentException] {
      BoundedTopK.perGroup(df, Seq.empty, Seq(col("v").asc), k = 1)
    }
    assert(e.getMessage.contains("groupCols"))
  }

  test("partial caps shuffled rows at groups x k per input partition") {
    // 4 input partitions x 1 group x k=2: the exchange may carry at most
    // 8 rows, and results stay exact
    val df = spark.range(0, 10000, 1, 4)
      .select(lit("g").as("g"), col("id"))
    val got = BoundedTopK.perGroup(df, Seq("g"), Seq(col("id").asc), k = 2)
    assert(got.collect().map(_.getLong(1)).toSet == Set(0L, 1L))
    val partialOut = collect(got.queryExecution.executedPlan) {
      case p: BoundedTopKPartialExec => p.metrics("numOutputRows").value
    }.sum
    assert(partialOut <= 8, s"partial emitted $partialOut rows")
  }
}
