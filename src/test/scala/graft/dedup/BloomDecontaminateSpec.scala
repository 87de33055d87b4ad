package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BloomDecontaminateSpec extends SparkSpec {
  import spark.implicits._

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
    val out = BloomDecontaminate.contaminationReport(train, eval, "id", "text",
        n = 3, expectedEvalNgrams = 4L, fpp = 0.5)
      .as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L)))
  }

  test("bloom probe is a native codegen expression, not a UDF") {
    val train = Seq((1L, "alpha beta gamma delta")).toDF("id", "text")
    val eval = Seq((9L, "alpha beta gamma")).toDF("id", "text")
    val df = BloomDecontaminate.contaminationReport(train, eval, "id", "text", n = 3)
    val physical = df.queryExecution.executedPlan.toString
    // the probe must ride the scan inside whole-stage codegen: Spark's
    // BloomFilterMightContain, with no ScalaUDF / BatchEvalPython node
    assert(physical.contains("might_contain"), physical.take(2000))
    assert(!physical.contains("UDF"), physical.take(2000))
  }

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

  test("building the report launches no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("bloom-build", "build only")
      val report = BloomDecontaminate.contaminationReport(oneTrain, oneEval, "id", "text", n = 3)
      report.queryExecution.executedPlan
      sc.setJobGroup("bloom-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      // listener events arrive in order: once the marker job is seen, every
      // job the build could have launched has been seen too
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("bloom-marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("bloom-marker"))
      assert(!groups.contains("bloom-build"), s"jobs by group: $groups")
      assert(report.as[(Long, Long)].collect().toSeq == Seq((1L, 2L)))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("the plan stays small at a 2,000,000-gram filter (no filter bytes in the plan)") {
    val df = BloomDecontaminate.contaminationReport(oneTrain, oneEval, "id", "text", n = 3,
      expectedEvalNgrams = 2000000L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.length < 64 * 1024, s"${plan.length} chars")
    assert(df.as[(Long, Long)].collect().toSeq == Seq((1L, 2L)))
  }
}
