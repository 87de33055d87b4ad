package graft

import org.apache.spark.sql.SparkSession

/** Scale rehearsal: run named queries against a (typically ScaleUp-built)
  * directory and record, per query, the numbers that decide 100 TB
  * viability — wall time, rows shuffled in/out, bytes spilled to disk, and
  * peak single-task execution memory, all from [[Profile]]; spills or
  * task failures at ~sf1 on a 128 GiB box are the early warning for
  * executor OOM at cluster scale.
  *
  * Usage: runMain graft.ScaleRehearsal <sfDir> <queryName>...
  *        (no names → a built-in list of the most expensive bench queries;
  *        `all` → every query; a name repeated is measured once per
  *        occurrence, which is how to time one query several times)
  */
object ScaleRehearsal {
  // the top-of-BENCH cost centers plus one representative per family
  // whose scaling regime differs: exact dedup, LSH pairs, ANN, graph,
  // window, relational join/agg, the composed curation pipelines and the
  // streaming harnesses (state that must shed with the watermark,
  // restarts, mid-batch kill and replay)
  val defaultNames: Seq[String] = Seq(
    "q01_pricing_summary", "q03_region_revenue", "q06_window_topk",
    "q17_dedup_gate", "q18_minhash_pairs", "q21_cosine_topk",
    "q23_majority_sector", "q24_sector_rollup", "q39_dedup_clusters",
    "q48_dedup_corpus", "q58_sketch_stats", "q86_exactly_once",
    "q90_nb_classify", "q91_substring_dedup", "q92_star_clusters",
    "q94_pca_project", "q100_dsir_weights", "q104_pagerank",
    "q105_small_qty_revenue", "q106_big_orders", "q109_weighted_pagerank",
    "q113_triangles", "q115_prefix_jaccard", "q116_grouping_sets",
    "q118_curation_pipeline", "q120_lateral_top_order", "q123_bpe_encode",
    "q124_range_frame", "q127_ann_sq8", "q144_native_topk",
    "q147_streaming_neardup",
    "q35_char_ngram_pairs", "q83_best_keeper", "q88_bpe_train",
    "q108_top_supplier", "q142_excess_stock", "q145_provenance",
    "q146_xml_extract", "q152_bigram_lm", "q157_curation_e2e",
    "q158_streaming_sessionize", "q159_embedding_drift",
    "q160_sketch_calibration", "q162_dup_source_matrix",
    "q161_sessionize_restart", "q163_split_leakage",
    "q164_boilerplate_ngrams", "q165_hard_negatives",
    "q166_cluster_safe_split", "q167_streaming_curation",
    "q168_gate_sweep", "q169_lang_fertility", "q170_curation_funnel",
    "q171_curation_restart", "q172_dedup_threshold_curve",
    "q173_midbatch_kill",
  )

  def gib(bytes: Long): Double = bytes / 1024.0 / 1024 / 1024

  /** Run `names` against `sfDir` on an already-built session through
    * the [[Profile]] loop with the noop-sink action — the measurement
    * shared by the rehearsal main (human table) and [[ScaleGate]]
    * (pass/fail budgets). A name given twice is measured twice; an
    * unknown name comes back as an error record. */
  def measure(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[Profile.Record] =
    Profile.run(spark, sfDir, names.map(n => n -> SparkEntry.queries.getOrElse(n,
      (_: SparkSession, _: String) => throw new NoSuchElementException("unknown query"))),
      Profile.noopWrite)

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/tmp/graft-sf1")
    val names =
      if (args.lift(1).contains("all")) SparkEntry.queries.keys.toSeq.sorted
      else if (args.length > 1) args.drop(1).toSeq
      else defaultNames
    val cpus = Session.cpus(32)
    // a cluster sizes shuffle partitions with the data; pin them per run
    // so rehearsals can separate "plan scales badly" from "32 partitions
    // were too few at this SF" (the fixed-width artifact)
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = Session.local(cpus, shufflePartitions, "graft-scale-rehearsal")

    SparkEntry.entry(spark).collect() // warmup

    println(f"${"query"}%-26s ${"sec"}%8s ${"build s"}%8s ${"jobs"}%5s ${"shufR GiB"}%9s ${"shufW GiB"}%9s ${"spill GiB"}%9s ${"peakTask GiB"}%12s ${"tasks"}%7s rows")
    val results = measure(spark, sfDir, names)
    results.foreach { q =>
      q.error match {
        case Some(err) => println(f"${q.name}%-26s ${q.sec}%8.2f FAILED: $err")
        case None => println(f"${q.name}%-26s ${q.sec}%8.2f ${q.constructS}%8.2f ${q.jobs}%5d ${gib(q.shuffleReadBytes)}%9.2f ${gib(q.shuffleWriteBytes)}%9.2f ${gib(q.spillBytes)}%9.2f ${gib(q.peakTaskMemBytes)}%12.2f ${q.tasks}%7d ${q.rows}")
      }
    }
    val failed = results.filter(_.error.nonEmpty).map(_.name)
    if (failed.nonEmpty) println(s"FAILED: ${failed.mkString(", ")}")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
