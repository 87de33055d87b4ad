package graft.expressions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.text.TextOps
import NgramHashes.{char_ngram_hashes, word_ngram_hashes}

class NgramHashesSpec extends SparkSpec {
  import spark.implicits._

  test("charGrams: distinct hash count equals distinct string-shingle count") {
    val texts = Seq("abcdefghij", "aaaaaaaaaaaa", "short", "", "the the the the")
    val df = texts.toDF("t")
    val nHashes = df.select(size(char_ngram_hashes(col("t"), 8)).as("n"))
      .as[Int].collect()
    val nStrings = df.select(size(TextOps.charShingles(col("t"), 8)).as("n"))
      .as[Int].collect()
    assert(nHashes.sameElements(nStrings))
  }

  test("wordGrams: distinct hash count equals distinct word-shingle count") {
    val texts = Seq(
      "one two three four five", "a a a a a a", "just two", "",
      "x y z x y z x y z", "  padded   whitespace\ttabs\nnewlines  ")
    val df = texts.toDF("t")
    val nHashes = df.select(size(word_ngram_hashes(col("t"), 3)).as("n"))
      .as[Int].collect()
    val nStrings = df.select(
      size(TextOps.wordShingles(TextOps.tokens(col("t")), 3)).as("n"))
      .as[Int].collect()
    assert(nHashes.sameElements(nStrings))
  }

  test("hashed Jaccard equals string-shingle Jaccard (collision-free at this size)") {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "the quick brown fox jumps over the lazy cat again and again"
    val df = Seq((a, b)).toDF("a", "b")
    def jac(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      size(array_intersect(x, y)).cast("double") / size(array_union(x, y)).cast("double")
    val Array((jh, js)) = df.select(
      jac(word_ngram_hashes(col("a"), 3), word_ngram_hashes(col("b"), 3)).as("jh"),
      jac(TextOps.wordShingles(TextOps.tokens(col("a")), 3),
          TextOps.wordShingles(TextOps.tokens(col("b")), 3)).as("js"))
      .as[(Double, Double)].collect()
    assert(jh == js)
  }

  test("identical texts share the full hash set; word order changes it") {
    val df = Seq(("alpha beta gamma delta", "alpha beta gamma delta",
                  "delta gamma beta alpha")).toDF("a", "b", "c")
    val Array((same, diff)) = df.select(
      size(array_except(word_ngram_hashes(col("a"), 3), word_ngram_hashes(col("b"), 3))).as("s"),
      size(array_except(word_ngram_hashes(col("a"), 3), word_ngram_hashes(col("c"), 3))).as("d"))
      .as[(Int, Int)].collect()
    assert(same == 0)
    assert(diff > 0)
  }

  test("shorter-than-k input hashes as one whole-string shingle") {
    val Array(nc, nw) = Seq("tiny").toDF("t").select(
      size(char_ngram_hashes(col("t"), 8)).as("nc"),
      size(word_ngram_hashes(col("t"), 3)).as("nw"))
      .collect().map(r => (r.getInt(0), r.getInt(1))).flatMap(t => Array(t._1, t._2))
    assert(nc == 1 && nw == 1)
  }

  test("null in → null out") {
    val got = Seq[Option[String]](None, Some("abcdefghijk")).toDF("t")
      .select(char_ngram_hashes(col("t"), 8).as("r"))
      .collect().map(r => Option(r.get(0)))
    assert(got(0).isEmpty && got(1).nonEmpty)
  }

  test("property: hashed set size tracks string-shingle set size on random ASCII (ScalaCheck)") {
    import org.scalacheck.Gen
    val params = Gen.Parameters.default
    val samples = (1 to 40).flatMap(i =>
      Gen.asciiPrintableStr.apply(params, org.scalacheck.rng.Seed(i.toLong)))
    val df = samples.toDF("t")
    val rows = df.select(
      size(char_ngram_hashes(col("t"), 4)).as("nh"),
      size(TextOps.charShingles(col("t"), 4)).as("ns"),
      size(word_ngram_hashes(col("t"), 2)).as("wh"),
      size(TextOps.wordShingles(TextOps.tokens(col("t")), 2)).as("ws"))
      .as[(Int, Int, Int, Int)].collect()
    rows.foreach { case (nh, ns, wh, ws) =>
      assert(nh == ns, s"char mismatch: $nh vs $ns")
      assert(wh == ws, s"word mismatch: $wh vs $ws")
    }
  }

  test("property: primitive kernels equal the boxed reference on the codegen path (ScalaCheck)") {
    import org.scalacheck.Gen
    // Unicode whitespace (EM SPACE, IDEOGRAPHIC SPACE, LINE SEPARATOR),
    // NBSP and ZWSP (not whitespace to Java), surrogate pairs, CJK,
    // repeated words, the empty string and texts of fewer than k words
    val piece = Gen.oneOf(Gen.oneOf("alpha", "beta", "gamma", "x", "é", "\u4e2d\u6587",
      "\ud83d\ude00", "a\ud835\udd18b", "\u00a0", "\u200b"), Gen.alphaNumStr.map(_.take(6)))
    val sep = Gen.oneOf(" ", "  ", "\t", "\n", "\u2003", "\u3000", "\u2028", "")
    val text = Gen.frequency(
      1 -> Gen.const(""),
      8 -> Gen.choose(0, 14).flatMap(m => Gen.listOfN(m, Gen.zip(piece, sep)))
        .map(_.map { case (p, s) => p + s }.mkString))
    val params = Gen.Parameters.default
    val samples = (1 to 200).flatMap(i =>
      text.apply(params, org.scalacheck.rng.Seed(500L + i))) :+ ""
    // an RDD source, so the projection is compiled, not folded into a
    // LocalRelation by the optimizer
    val df = spark.sparkContext.parallelize(samples, 2).toDF("t").select(col("t") +:
      Seq(1, 3, 5).flatMap(k => Seq(word_ngram_hashes(col("t"), k), char_ngram_hashes(col("t"), k))): _*)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project \\[.*word_ngram_hashes.*"), plan)
    val rows = df.collect()
    assert(rows.length == samples.length)
    rows.foreach { r =>
      val t = r.getString(0)
      Seq(1, 3, 5).zipWithIndex.foreach { case (k, j) =>
        assert(r.getSeq[Long](1 + 2 * j) == NgramHashesReference.wordGrams(t, k), s"word k=$k on '$t'")
        assert(r.getSeq[Long](2 + 2 * j) == NgramHashesReference.charGrams(t, k), s"char k=$k on '$t'")
      }
    }
  }

  test("participates in whole-stage codegen") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(char_ngram_hashes(col("text"), 8).as("r"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project \\[char_ngram_hashes.*"), s"plan was:\n$plan")
    assert(df.count() > 0)
  }
}
