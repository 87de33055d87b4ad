package graft.expressions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import MinHashSig.minhash_sig

class MinHashSigSpec extends SparkSpec {
  import spark.implicits._

  test("kernel signature equals the explode+min-aggregation formulation") {
    val rnd = new scala.util.Random(3)
    val docs = Seq.tabulate(20)(i =>
      (i.toLong, Seq.fill(50)(rnd.nextLong()))).toDF("id", "hs")
    val viaKernel = docs.select(col("id"), minhash_sig(col("hs"), 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    // the aggregation formulation q160 runs over its own base hashes
    val exploded = docs.select(col("id"), explode(col("hs")).as("h0"))
      .select(col("id"), pmod(col("h0"), lit(MinHashSig.P)).as("h"))
    val viaAgg = graft.dedup.MinHashLSH.signaturesFromBaseRows(exploded, "id", "h", 16)
      .as[(Long, Seq[Long])].collect().toMap
    assert(viaKernel == viaAgg)
  }

  test("signature values are within [0, P) and deterministic across evaluations") {
    val docs = Seq((1L, Seq(42L, -7L, 123456789L))).toDF("id", "hs")
    val s1 = docs.select(minhash_sig(col("hs"), 8)).as[Seq[Long]].collect()(0)
    val s2 = docs.select(minhash_sig(col("hs"), 8)).as[Seq[Long]].collect()(0)
    assert(s1 == s2)
    assert(s1.forall(v => v >= 0 && v < MinHashSig.P))
  }

  test("participates in whole-stage codegen") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(minhash_sig(
        NgramHashes.word_ngram_hashes(col("text"), 3), 16).as("sig"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project \\[minhash_sig.*"), s"plan was:\n$plan")
    assert(df.count() > 0)
  }
}
