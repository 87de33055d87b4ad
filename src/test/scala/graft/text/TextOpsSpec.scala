package graft.text

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.SparkSpec

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  // scalatestplus isn't on the offline classpath; sample Gen directly
  private def forAll[A](gen: Gen[A], n: Int = 30)(body: A => Unit): Unit = {
    val params = Gen.Parameters.default
    (0 until n).foreach { i =>
      gen.apply(params, org.scalacheck.rng.Seed(i.toLong)).foreach(body)
    }
  }

  private def one(col: org.apache.spark.sql.Column, input: String): String =
    Seq(input).toDF("s").select(col.as("r")).collect()(0).getString(0)

  // ---- O3 strQ2B (full→half width, ref etnet.py:129-142) ----

  test("strQ2B maps full-width ASCII range and ideographic space") {
    // full-width 'Ｈｅｌｌｏ！' + ideographic space + full-width digits
    val in = "Ｈｅｌｌｏ！　１２３"
    assert(one(TextOps.strQ2B(col("s")), in) == "Hello! 123")
  }

  test("strQ2B is the identity on ASCII (involution property)") {
    val samples = collection.mutable.Buffer.empty[String]
    forAll(Gen.asciiPrintableStr)(samples += _)
    val rows = samples.toSeq.toDF("s")
      .select(col("s"), TextOps.strQ2B(col("s")).as("r")).collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("strQ2B leaves CJK ideographs untouched") {
    val in = "中文，测试" // 中文，测试 with full-width comma
    assert(one(TextOps.strQ2B(col("s")), in) == "中文,测试")
  }

  // ---- O4 punctuation-run collapse (ref etnet.py:144-154) ----

  test("collapsePunctRuns collapses runs but keeps dots") {
    assert(one(TextOps.collapsePunctRuns(col("s")), "a!!!b??c,,,,d...e") == "a!b?c,d...e")
  }

  test("collapsePunctRuns is idempotent") {
    val samples = collection.mutable.Buffer.empty[String]
    forAll(Gen.listOf(Gen.oneOf("a", "!", "!!", "?", ",,", ".", "..")).map(_.mkString))(samples += _)
    val once = samples.toSeq.toDF("s")
      .select(TextOps.collapsePunctRuns(col("s")).as("r")).as[String].collect()
    val twice = once.toSeq.toDF("s")
      .select(TextOps.collapsePunctRuns(col("s")).as("r")).as[String].collect()
    assert(once.sameElements(twice))
  }

  // ---- O5/O7 whitespace + scrub (ref general_utils.py:187-206) ----

  test("squashWhitespaceCjk removes all whitespace") {
    assert(one(TextOps.squashWhitespaceCjk(col("s")), " a \t b\n c ") == "abc")
  }

  test("scrubText removes cashtags and urls") {
    val in = "buy $TSLA now https://x.co/abc and $aapl too"
    assert(one(TextOps.normalizeWhitespace(TextOps.scrubText(col("s"))), in) == "buy now and too")
  }

  test("minWordGate: <=5 words rejected, 6 accepted") {
    val df = Seq("one two three four five", "one two three four five six").toDF("s")
    val kept = df.filter(TextOps.minWordGate(col("s"))).collect()
    assert(kept.length == 1 && kept(0).getString(0).endsWith("six"))
  }

  // ---- O8/F12 link blocklist + F1 source predicate ----

  test("linkAllowed rejects blocked prefixes (ref google_utils.py:14-34)") {
    val blocked = Seq("https://www.youtube.com", "https://maps.google")
    val got = Seq("https://www.youtube.com/watch?v=1", "https://example.com/x")
      .toDF("u").filter(TextOps.linkAllowed(col("u"), blocked))
      .as[String].collect()
    assert(got.sameElements(Array("https://example.com/x")))
  }

  test("recentWithoutPhrase: day window + negated phrase (ref newsfilter.py:73-75)") {
    val now = lit("2024-03-10 00:00:00").cast("timestamp")
    val df = Seq(
      ("2024-03-08 12:00:00", "Q4 results"),
      ("2024-02-01 12:00:00", "Q4 results"),   // too old
      ("2024-03-09 12:00:00", "SEC 4 Form filing"), // negated phrase
    ).toDF("t", "title").withColumn("t", col("t").cast("timestamp"))
    val got = df.filter(TextOps.recentWithoutPhrase(col("t"), now, 7, col("title"), "4 Form"))
      .select("title").as[String].collect()
    assert(got.sameElements(Array("Q4 results")))
  }

  // ---- O9 HTML strip ----

  test("htmlStrip removes tags, scripts and entities") {
    val in = "<html><script>var x=1;</script><p>Hello&nbsp;<b>world</b></p></html>"
    assert(one(TextOps.htmlStrip(col("s")), in) == "Hello world")
  }

  // ---- O10/O11 ticker normalization ----

  test("tickerZeroPad pads to 5 (ref aastocks.py:77-80)") {
    val got = Seq(5, 700, 12345).toDF("t")
      .select(TextOps.tickerZeroPad(col("t")).as("r")).as[String].collect()
    assert(got.sameElements(Array("00005", "00700", "12345")))
  }

  test("tickerSuffix: 6 digits → .SZ, 5 digits → drop-first .HK (ref hkscraper_utils.py)") {
    val got = Seq("000001", "00700", "TSLA").toDF("t")
      .select(TextOps.tickerSuffix(col("t")).as("r")).as[String].collect()
    assert(got.sameElements(Array("000001.SZ", "0700.HK", "TSLA")))
  }

  // ---- O12 per-source date parsing ----

  test("parseTimeBySource handles per-source formats and epoch seconds") {
    val df = Seq(
      ("aastocks", "2024/03/01 10:30"),
      ("etnet", "01/03/2024 10:30"),
      ("reddit", "1709288100"), // 2024-03-01T10:15:00Z
    ).toDF("source", "v")
    val got = df.select(TextOps.parseTimeBySource(col("v"), col("source"),
        Map("aastocks" -> "yyyy/MM/dd HH:mm", "etnet" -> "dd/MM/yyyy HH:mm"),
        Set("reddit")).cast("string").as("r"))
      .as[String].collect().toSet
    assert(got == Set("2024-03-01 10:30:00", "2024-03-01 10:15:00"))
  }

  test("parseTimeFuzzy: first matching format wins, unparseable → null (O12 dateutil analog)") {
    val df = Seq(
      "2024-03-01 10:30:00", "2024-03-01T10:30:00", "2024/03/01 10:30",
      "01/03/2024 10:30", "Mar 1, 2024", "2024-03-01", "not a date"
    ).toDF("v")
    val got = df.select(TextOps.parseTimeFuzzy(col("v")).cast("string").as("r"))
      .collect().map(r => Option(r.getString(0)))
    assert(got(0).contains("2024-03-01 10:30:00"))
    assert(got(1).contains("2024-03-01 10:30:00"))
    assert(got(2).contains("2024-03-01 10:30:00"))
    assert(got(3).contains("2024-03-01 10:30:00"))
    assert(got(4).contains("2024-03-01 00:00:00"))
    assert(got(5).contains("2024-03-01 00:00:00"))
    assert(got(6).isEmpty)
  }

  // ---- O15 JSONP strip ----

  test("jsonpStrip unwraps callback payloads (ref eastmoney.py:72-75)") {
    assert(one(TextOps.jsonpStrip(col("s")), """datatable1234({"a":[1,2]});""") == """{"a":[1,2]}""")
    assert(one(TextOps.jsonpStrip(col("s")), """cb({"nested":"(x)"})""") == """{"nested":"(x)"}""")
    // multiline payload (pretty-printed JSONP): without (?s) the capture
    // can't cross a newline and the extract silently returns ""
    assert(one(TextOps.jsonpStrip(col("s")), "cb({\n \"a\": 1\n});") == "{\n \"a\": 1\n}")
  }

  // ---- O16/O17 ticker extraction ----

  test("extractTickersEn: cashtags upper-cased unioned with ALLCAPS words (ref reddit.py:72-90)") {
    val got = Seq("I like $tsla and MSFT but not lowercase aapl $GME GME")
      .toDF("s").select(TextOps.extractTickersEn(col("s")).as("r"))
      .selectExpr("array_sort(r) r").as[Seq[String]].collect()(0)
    assert(got == Seq("GME", "MSFT", "TSLA"))
  }

  test("extractTickersEn kernel ≡ the regex form on generated strings (codegen path)") {
    // the pieces the two passes and `\b` care about: `$`, both ASCII
    // cases, digits, `_`, non-ASCII letters (BMP and a surrogate pair)
    // and a non-spacing mark (U+0301) that can land before or after a run
    val piece = Gen.frequency(
      6 -> Gen.oneOf("AB", "TSLA", "GME", "X", "Q", "ab", "tsla", "x"),
      3 -> Gen.oneOf("$", "$$", "$gme", "$Ab", "$1"),
      3 -> Gen.oneOf(" ", " ", ".", ",", "-", "\n"),
      2 -> Gen.oneOf("0", "7", "_", "É", "é", "Σ", "σ", "\uD835\uDC00", "\u0301"))
    val samples = collection.mutable.Buffer.empty[String]
    forAll(Gen.listOf(piece).map(_.mkString), n = 400)(samples += _)
    // an RDD scan, not a local relation, so both sides run codegen'd
    val df = spark.sparkContext.parallelize(samples.toSeq :+ null, 2).toDF("s")
    val rows = df.select(col("s"), TextOps.extractTickersEn(col("s")).as("k"),
      TextOps.extractTickersEnRegex(col("s")).as("r")).collect()
    assert(rows.length == samples.size + 1)
    rows.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), String.valueOf(r.getString(0)))
      if (!r.isNullAt(1))
        assert(r.getSeq[String](1) == r.getSeq[String](2), s"input: ${r.getString(0)}")
    }
    val plan = df.select(TextOps.extractTickersEn(col("s"))).queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project \\[tickers_en.*"), s"plan was:\n$plan")
  }

  test("extractTickersEn: Java-regex \\b cases (checked on JDK 17) and null") {
    val cases = Seq(
      "ÉAB CD" -> Seq("CD"),            // a Unicode letter is a word char
      "AB1 XY" -> Seq("XY"),            // so is a digit
      "AB_ X" -> Seq(),                 // and `_`
      "x AB\u0301 y" -> Seq(),          // a mark after the run has a base
      "\u0301AB z" -> Seq("AB"),        // a mark at the start has none
      "éAB q" -> Seq(),
      "\uD835\uDC00AB CD" -> Seq("CD"), // a surrogate-pair letter is a word char
    )
    val df = (cases.map(c => Option(c._1)) :+ None).toDF("s")
    val got = df.select(TextOps.extractTickersEn(col("s")).as("r")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getSeq[String](0)))
    cases.zip(got).foreach { case ((in, want), g) => assert(g.contains(want), in) }
    assert(got.last.isEmpty)
  }

  test("extractTickersCjk: numeric parenthesized codes, fallback to job ticker (ref etnet.py:233-239)") {
    val df = Seq(
      ("腾讯(00700)和平安(02318)和(abc)", "99999"),
      ("no codes here", "00005"),
    ).toDF("s", "job")
    val got = df.select(TextOps.extractTickersCjk(col("s"), col("job")).as("r"))
      .as[Seq[String]].collect()
    assert(got(0) == Seq("00700", "02318"))
    assert(got(1) == Seq("00005"))
  }

  // ---- O2 deterministic hashing ----

  test("textHashHex/md5Int32 are deterministic and collision-distinct on differing text") {
    val df = Seq("a", "a", "b").toDF("s")
      .select(TextOps.md5Int32(col("s")).as("h")).as[Long].collect()
    assert(df(0) == df(1) && df(0) != df(2))
  }

  // ---- shingles ----

  test("wordShingles produces distinct k-grams; short docs collapse to whole doc") {
    val got = Seq("a b c d", "a b").toDF("s")
      .select(TextOps.wordShingles(TextOps.tokens(col("s")), 3).as("r"))
      .as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq("a b"))
  }

  test("charShingles of k=3") {
    val got = Seq("abcd").toDF("s")
      .select(TextOps.charShingles(col("s"), 3).as("r")).as[Seq[String]].collect()(0)
    assert(got == Seq("abc", "bcd"))
  }

  test("redactPii replaces emails and IPv4s, patternCount audits them") {
    val in_ = "mail a.b+c@ex-ample.co.uk or 192.168.0.1 then x@y.io done"
    assert(one(TextOps.redactPii(col("s")), in_) ==
      "mail <EMAIL> or <IP> then <EMAIL> done")
    val counts = Seq(in_).toDF("s").select(
      TextOps.patternCount(col("s"), TextOps.EmailPattern).as("e"),
      TextOps.patternCount(col("s"), TextOps.Ipv4Pattern).as("i"))
      .as[(Int, Int)].collect()(0)
    assert(counts == ((2, 1)))
  }

  test("redactPii leaves clean text untouched") {
    val in_ = "no personal data here just words 1 2 3"
    assert(one(TextOps.redactPii(col("s")), in_) == in_)
  }
}
