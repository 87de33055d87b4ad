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
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val pairs = Seq((1L, 11223344L), (1L, 11223355L), (2L, 11000000L)).toDF("doc", "icb")
    val plan = SectorVote.hierarchical(pairs, "doc", "icb").queryExecution.executedPlan
    val shuffles = new AdaptiveSparkPlanHelper {}.collect(plan) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1, plan.treeString)
  }

  test("majorityFullAgg matches the relational majority incl. tallies") {
    val rnd = new scala.util.Random(23)
    val data = Seq.tabulate(300)(_ =>
      (rnd.nextInt(30).toLong, s"B${rnd.nextInt(4)}"))
    val rel = SectorVote.majority(data.toDF("doc", "brand"), "doc", "brand")
      .select("doc", "majority", "cnt", "total")
      .as[(Long, Option[String], Long, Long)].collect().sortBy(_._1)
    val agg = data.toDF("doc", "brand").as[(Long, String)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(SectorVote.majorityFullAgg().toColumn.name("v"))
      .collect().map { case (doc, v) => (doc, v.majority, v.cnt, v.total) }
      .sortBy(_._1)
    assert(rel.sameElements(agg))
  }

  test("hierarchicalAgg (typed Aggregator) matches hierarchical on varied inputs") {
    val rnd = new scala.util.Random(13)
    val data = Seq.tabulate(400) { _ =>
      val doc = rnd.nextInt(40).toLong
      val code = (rnd.nextInt(5) + 1) * 1000000L + rnd.nextInt(3) * 10000L +
        rnd.nextInt(2) * 100L + rnd.nextInt(2)
      (doc, code)
    }
    val a = SectorVote.hierarchical(data.toDF("doc", "icb"), "doc", "icb")
      .as[(Long, Option[Long], Option[String])].collect().sortBy(_._1)
    val b = data.toDF("doc", "icb").as[(Long, Long)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(SectorVote.hierarchicalAgg().toColumn.name("v"))
      .collect().map { case (doc, v) => (doc, v.sector, v.level) }.sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("hierarchicalAggWeighted over reduced counts ≡ hierarchicalAgg over raw rows") {
    val rnd = new scala.util.Random(31)
    val data = Seq.tabulate(300) { _ =>
      val doc = rnd.nextInt(25).toLong
      val code = (rnd.nextInt(4) + 1) * 1000000L + rnd.nextInt(3) * 10000L + rnd.nextInt(2)
      (doc, code)
    }
    val raw = data.toDF("doc", "icb").as[(Long, Long)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(SectorVote.hierarchicalAgg().toColumn.name("v"))
      .collect().map { case (d, v) => (d, v.sector, v.level) }.sortBy(_._1)
    val reduced = data.groupBy(identity).map { case ((d, c), xs) => (d, c, xs.size.toLong) }
      .toSeq.toDF("doc", "code", "cnt").as[(Long, Long, Long)]
      .groupByKey(_._1).mapValues(r => (r._2, r._3))
      .agg(SectorVote.hierarchicalAggWeighted().toColumn.name("v"))
      .collect().map { case (d, v) => (d, v.sector, v.level) }.sortBy(_._1)
    assert(raw.sameElements(reduced))
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
