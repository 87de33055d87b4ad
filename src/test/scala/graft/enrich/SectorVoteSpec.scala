package graft.enrich

import graft.SparkSpec

class SectorVoteSpec extends SparkSpec {
  import spark.implicits._

  test("majority: mode above 2/3 wins, below stays null") {
    val pairs = Seq(
      (1L, 10), (1L, 10), (1L, 10), (1L, 20),       // 3/4 > 2/3 → 10
      (2L, 10), (2L, 20), (2L, 30),                 // 1/3 → null
      (3L, 10), (3L, 10), (3L, 20),                 // 2/3 not > 2/3 → null
    ).toDF("doc", "sector")
    val out = SectorVote.majority(pairs, "doc", "sector")
      .select("doc", "majority").as[(Long, Option[Int])].collect().toMap
    assert(out(1L).contains(10))
    assert(out(2L).isEmpty)
    assert(out(3L).isEmpty) // strict: share must EXCEED the threshold
  }

  test("majority: deterministic tie-break picks smallest sector at rank 1") {
    val pairs = Seq((1L, 30), (1L, 10), (1L, 30), (1L, 10)).toDF("doc", "sector")
    val row = SectorVote.majority(pairs, "doc", "sector", num = 1, denom = 4)
      .select("doc", "majority").as[(Long, Option[Int])].collect()(0)
    assert(row._2.contains(10)) // 10 and 30 tie at 2; smallest wins
  }

  test("hierarchical: falls through 8→6→4→2 until a majority appears") {
    // doc 1: codes 11223344, 11223355 — level 8 split 1/1 (no majority),
    // level 6 (÷100) both 112233 → majority at '6'
    // doc 2: 11000000, 22000000, 33000000 — only level-2 trim can't win
    //   either (all distinct at every level) → null
    // doc 3: 11220000 ×2, 99000000 — majority at level 8 directly
    val pairs = Seq(
      (1L, 11223344L), (1L, 11223355L),
      (2L, 11000000L), (2L, 22000000L), (2L, 33000000L),
      (3L, 11220000L), (3L, 11220000L), (3L, 99000000L),
    ).toDF("doc", "icb")
    val out = SectorVote.hierarchical(pairs, "doc", "icb")
      .as[(Long, Option[Long], Option[String])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == (Some(112233L), Some("6")))
    assert(out(2L) == (None, None))
    assert(out(3L) == (Some(11220000L), Some("8")))
  }

  test("hierarchical: the four doc-first aggregations share one exchange") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val pairs = Seq((1L, 11223344L), (1L, 11223355L), (2L, 11000000L)).toDF("doc", "icb")
    val plan = SectorVote.hierarchical(pairs, "doc", "icb").queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    val shuffles = helper.collect(plan) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1, plan.treeString)
    assert(helper.collect(plan) { case a: SortAggregateExec => a }.isEmpty, plan.treeString)
  }

  test("hierarchical: null codes count toward the total and can win a level") {
    val pairs = Seq[(Long, Option[Long])](
      (1L, None), (1L, Some(11223344L)),                           // tie at every level: no sector
      (2L, None), (2L, Some(11223344L)), (2L, Some(11223344L)),    // A wins at '8'
      (3L, None), (3L, None), (3L, Some(11223344L)),               // null wins: no sector
      (4L, None), (4L, Some(11223344L)), (4L, Some(11223355L)),    // null ties '8', '6' has 2/3
    ).toDF("doc", "icb")
    val out = SectorVote.hierarchical(pairs, "doc", "icb")
      .as[(Long, Option[Long], Option[String])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == (None, None))
    assert(out(2L) == (Some(11223344L), Some("8")))
    assert(out(3L) == (None, None))
    assert(out(4L) == (Some(112233L), Some("6")))
  }

  test("hierarchical ≡ the relational reference on random inputs") {
    // few docs × few codes × small counts make exact ties at every level
    // common; a null code, single-pair docs and a 2/3 threshold ride along
    val rnd = new scala.util.Random(17)
    val data = Seq.tabulate(600) { i =>
      val doc = if (i < 40) 1000L + i else rnd.nextInt(100).toLong // 40 single-pair docs
      val code =
        if (rnd.nextInt(6) == 0) None
        else Some((rnd.nextInt(2) + 1) * 1000000L + rnd.nextInt(2) * 10000L +
          rnd.nextInt(2) * 100L + rnd.nextInt(4))
      (doc, code)
    }
    val df = spark.sparkContext.parallelize(data, 3).toDF("doc", "icb")
    def run(f: (org.apache.spark.sql.DataFrame, Int, Int) => org.apache.spark.sql.DataFrame,
            num: Int, denom: Int) =
      f(df, num, denom).as[(Long, Option[Long], Option[String])].collect().sortBy(_._1)
    val levels = Seq((1, 2), (2, 3), (1, 4)).flatMap { case (num, denom) =>
      val got = run((d, n, m) => SectorVote.hierarchical(d, "doc", "icb", num = n, denom = m), num, denom)
      val want = run((d, n, m) => SectorVoteReference.hierarchical(d, "doc", "icb", num = n, denom = m),
        num, denom)
      assert(got.length == want.length)
      assert(got.sameElements(want), s"num/denom $num/$denom: " +
        got.zip(want).filter(p => p._1 != p._2).take(5).mkString(", "))
      want.map(_._3)
    }
    // every level and the no-sector outcome are exercised
    assert(levels.distinct.length == 5, levels.distinct.mkString(","))
  }

  test("hierarchical: monotonicity — coarser levels only gain votes") {
    val pairs = Seq((1L, 11223344L), (1L, 11223355L), (1L, 11224466L))
      .toDF("doc", "icb")
    // level 8: max 1/3; level 6: 112233 has 2/3 > 1/2 → wins at '6'
    val out = SectorVote.hierarchical(pairs, "doc", "icb")
      .as[(Long, Option[Long], Option[String])].collect()(0)
    assert(out._2.contains(112233L) && out._3.contains("6"))
  }
}
