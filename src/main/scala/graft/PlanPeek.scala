package graft
/** Dev tool: explain the named queries' plans (every SparkEntry query
  * when given no names); greppable. */
object PlanPeek {
  def main(args: Array[String]): Unit = {
    val spark = Session.local("8", "8")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"===== $name =====")
      // "lsh:<Fetch|InBandTwoTier>" explains one verify form of the
      // near-dup pair miner, unrouted (the registered q35 routes by
      // corpus, so the big-corpus in-band plans are invisible at small
      // SFs); anything else is a SparkEntry query name.
      if (name.startsWith("lsh:")) {
        import org.apache.spark.sql.functions._
        val form = name.stripPrefix("lsh:") match {
          case "Fetch" => graft.dedup.MinHashLSH.fetchPairs _
          case "InBandTwoTier" => graft.dedup.MinHashLSH.inBandTwoTierPairs _
          case other => sys.error(s"unknown form $other")
        }
        val sh = Tables(spark, dir, "documents").select(col("doc_id"),
          graft.expressions.NgramHashes.char_ngram_hashes(col("text"), 8).as("sh"))
        form(sh, "doc_id", "sh", 64, 16, 0.7).explain("formatted")
      } else if (name == "substrdup") {
        // q91's dup-window miner: invisible in the final plan behind
        // report()'s checkpoint
        import org.apache.spark.sql.functions._
        graft.dedup.SubstringDedup.dupWindows(
          Tables(spark, dir, "documents"), "doc_id", "text", width = 10)
          .explain("formatted")
      } else if (name == "knntop3") {
        // the kNN edge-build subtree (q93's staged write input) — hidden
        // behind the staged table in q93's own plan
        graft.queries.SimilarityQueries.knnTop3(spark, dir).explain("formatted")
      } else SparkEntry.queries(name)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
