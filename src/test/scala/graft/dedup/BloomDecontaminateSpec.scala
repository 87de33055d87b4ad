package graft.dedup

import graft.SparkSpec
import graft.expressions.NgramHashesReference
import org.apache.spark.sql.DataFrame

class BloomDecontaminateSpec extends SparkSpec {
  import spark.implicits._

  /** The large form, reached by the public entry only past
    * `Checkpoints.DefaultBroadcastMaxRows` eval n-grams. */
  private def bloomForm(train: DataFrame, eval: DataFrame, n: Int,
                        expectedEvalNgrams: Long = 1000000L, fpp: Double = 1e-4): DataFrame =
    BloomDecontaminate.bloomVerified(train, BloomDecontaminate.evalSet(eval, "text", n),
      "id", "text", n, expectedEvalNgrams, fpp)

  test("reports train docs sharing an n-gram with eval, with exact counts") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon"),  // shares the eval 3-grams
      (2L, "one two three four five"),         // clean
      (3L, "zz alpha beta gamma yy")           // shares one 3-gram window
    ).toDF("id", "text")
    val eval = Seq((100L, "alpha beta gamma delta")).toDF("id", "text")

    val out = BloomDecontaminate.contaminationReport(train, eval, "id", "text", n = 3)
      .orderBy("id").as[(Long, Long)].collect()
    // eval 3-grams: {a b g, b g d}; doc1 contains both, doc3 one, doc2 none
    assert(out.toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("bloom false positives cannot reach the output (exact verify)") {
    // tiny filter + high fpp forces false positives through the bloom;
    // the semi-join must still produce an exact result
    val train = (1L to 300L).map(i => (i, s"tok${i}a tok${i}b tok${i}c tok${i}d"))
      .toDF("id", "text")
    val eval = Seq((0L, "tok1a tok1b tok1c tok1d")).toDF("id", "text")
    val out = bloomForm(train, eval, n = 3, expectedEvalNgrams = 4L, fpp = 0.5)
      .as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L)))
  }

  test("bloom probe is a native codegen expression, not a UDF") {
    val train = Seq((1L, "alpha beta gamma delta")).toDF("id", "text")
    val eval = Seq((9L, "alpha beta gamma")).toDF("id", "text")
    val df = bloomForm(train, eval, n = 3)
    val physical = df.queryExecution.executedPlan.toString
    // the probe must ride the scan inside whole-stage codegen: Spark's
    // BloomFilterMightContain, with no ScalaUDF / BatchEvalPython node
    assert(physical.contains("might_contain"), physical.take(2000))
    assert(!physical.contains("UDF"), physical.take(2000))
  }

  /** Jobs of the eval set's eager, counted local checkpoint. */
  private val EvalSetJobs = 2

  // one train doc holding both 3-grams of one eval doc: report (1, 2)
  private def oneTrain = Seq((1L, "alpha beta gamma delta epsilon")).toDF("id", "text")
  private def oneEval = Seq((9L, "alpha beta gamma delta")).toDF("id", "text")

  test("the exact-verify side is never a broadcast over an explode") {
    // the eval grams are an explode, whose size estimate is the
    // pre-explode scan's; the lint in PlanLintSpec inspects the plan
    // before exchanges are placed, so this pins it on the prepared plan
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val plan = BloomDecontaminate.contaminationReport(oneTrain, oneEval, "id", "text", n = 3)
      .queryExecution.executedPlan
    val bad = new AdaptiveSparkPlanHelper {}.collect(plan) {
      case b: BroadcastExchangeExec if b.collect { case g: GenerateExec => g }.nonEmpty => b
    }
    assert(bad.isEmpty, plan.treeString)
  }

  test("building the report runs only the eval set's checkpoint jobs") {
    lazy val report =
      BloomDecontaminate.contaminationReport(oneTrain, oneEval, "id", "text", n = 3)
    assert(jobsOf(report.queryExecution.executedPlan) == EvalSetJobs)
    assert(report.as[(Long, Long)].collect().toSeq == Seq((1L, 2L)))
  }

  test("below the broadcast cap the verify is a broadcast semi-join with no Bloom probe") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = BloomDecontaminate.contaminationReport(oneTrain, oneEval, "id", "text", n = 3)
    assert(df.as[(Long, Long)].collect().toSeq == Seq((1L, 2L)))
    val plan = df.queryExecution.executedPlan
    assert(!plan.toString.contains("might_contain"), plan.treeString)
    val joins = new AdaptiveSparkPlanHelper {}.collect(plan) { case j: BroadcastHashJoinExec => j }
    assert(joins.map(_.joinType.toString) == Seq("LeftSemi"), plan.treeString)
  }

  test("both forms give the same report (seeded random corpora)") {
    import org.scalacheck.Gen
    val word = Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h")
    val text = Gen.frequency(1 -> Gen.const(null: String),
      9 -> Gen.choose(0, 9).flatMap(m => Gen.listOfN(m, word)).map(_.mkString(" ")))
    def docs(seed: Long, size: Int, firstId: Long): Seq[(Long, String)] =
      Gen.listOfN(size, text).apply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed)).get
        .zipWithIndex.map { case (t, i) => (firstId + i % (size - 2), t) } // repeated ids too
    val disjoint = Seq((900L, "x y z w v u"), (901L, "u v w x y z"))
    val cases = (1 to 6).map(i => (docs(i, 40, 0L), docs(100L + i, 8, 500L), 2 + i % 3)) ++ Seq(
      (docs(7, 40, 0L), Seq.empty[(Long, String)], 3),   // empty eval side
      (docs(8, 40, 0L), disjoint, 2),                     // no shared n-gram
      (docs(9, 40, 0L), docs(109, 8, 500L), 12))          // n above every word count
    cases.foreach { case (trainRows, evalRows, n) =>
      val train = trainRows.toDF("id", "text")
      val eval = evalRows.toDF("id", "text")
      val small = BloomDecontaminate.contaminationReport(train, eval, "id", "text", n)
        .as[(Long, Long)].collect().sorted.toSeq
      val large = bloomForm(train, eval, n).as[(Long, Long)].collect().sorted.toSeq
      val evalGrams = evalRows.flatMap(r => Option(r._2))
        .flatMap(NgramHashesReference.wordGrams(_, n)).toSet
      val expected = trainRows.filter(_._2 != null)
        .flatMap { case (id, t) => NgramHashesReference.wordGrams(t, n).filter(evalGrams).map((id, _)) }
        .distinct.groupBy(_._1).map { case (id, gs) => (id, gs.size.toLong) }.toSeq.sorted
      assert(small == expected, s"n=$n broadcast form")
      assert(large == expected, s"n=$n bloom form")
    }
  }

  test("the plan stays small at a 2,000,000-gram filter (no filter bytes in the plan)") {
    val df = bloomForm(oneTrain, oneEval, n = 3, expectedEvalNgrams = 2000000L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.length < 64 * 1024, s"${plan.length} chars")
    assert(df.as[(Long, Long)].collect().toSeq == Seq((1L, 2L)))
  }

  test("past the broadcast cap the Bloom filter is sized for at least the exact eval count") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    // the routing alone, at a count no test corpus reaches; a caller's
    // smaller guess must not shrink the filter below the exact count
    val nEval = graft.ops.Checkpoints.DefaultBroadcastMaxRows + 1
    val df = BloomDecontaminate.routed(oneTrain, BloomDecontaminate.evalSet(oneEval, "text", 3),
      nEval, "id", "text", 3, expectedEvalNgrams = 100000L, fpp = 1e-4)
    val items = df.queryExecution.analyzed.collectWithSubqueries { case p => p.expressions }
      .flatten.flatMap(_.collect { case b: BloomFilterAggregate =>
        b.estimatedNumItemsExpression.eval().asInstanceOf[Long] })
    assert(items.nonEmpty && items.forall(_ >= nEval), items)
  }
}
