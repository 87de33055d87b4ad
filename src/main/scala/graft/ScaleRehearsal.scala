package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.LongAdder

/** Scale rehearsal: run named queries against a (typically ScaleUp-built)
  * directory and record, per query, the numbers that decide 100 TB
  * viability — wall time, rows shuffled in/out, bytes spilled to disk, and
  * peak single-task execution memory. A SparkListener accumulates task
  * metrics between queries; spills or task failures at ~sf1 on a 128 GiB
  * box are the early warning for executor OOM at cluster scale.
  *
  * Usage: runMain graft.ScaleRehearsal <sfDir> <queryName>...
  *        (no names → a built-in list of the most expensive bench queries)
  */
object ScaleRehearsal {
  // the top-of-BENCH cost centers + one representative per family whose
  // scaling regime differs (exact dedup, LSH pairs, ANN, graph, window,
  // streaming-equivalent, relational join/agg)
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
    // round-8 additions: the sf0.1 cost centers the original list missed
    // (per BENCH_r08) + the composed five-stage curation pipeline
    "q35_char_ngram_pairs", "q83_best_keeper", "q88_bpe_train",
    "q108_top_supplier", "q142_excess_stock", "q145_provenance",
    "q146_xml_extract", "q152_bigram_lm", "q157_curation_e2e",
    // round-8 continuation: custom-state streaming sessionize (state must
    // shed with the watermark, not grow with the corpus) + embedding drift
    "q158_streaming_sessionize", "q159_embedding_drift",
    "q160_sketch_calibration", "q162_dup_source_matrix",
    // round-9 additions: restart cert, cluster-grain split family (the
    // LSH-pair + connected-components composition), the hash-first
    // boilerplate hotlist, and hard-negative mining off the staged edges
    "q161_sessionize_restart", "q163_split_leakage",
    "q164_boilerplate_ngrams", "q165_hard_negatives",
    "q166_cluster_safe_split", "q167_streaming_curation",
    "q168_gate_sweep", "q169_lang_fertility", "q170_curation_funnel",
    // round-10 additions: kill-and-resume for the composed curation
    // stream; the exact-PPJoin threshold sensitivity curve
    "q171_curation_restart", "q172_dedup_threshold_curve",
    // round-11 addition: mid-batch kill + replay certification
    "q173_midbatch_kill",
  )

  def gib(bytes: Long): Double = bytes / 1024.0 / 1024 / 1024

  /** One query's rehearsal measurements (bytes unless noted). */
  final case class QM(name: String, sec: Double, shufR: Long, shufW: Long,
                      spill: Long, peakMem: Long, tasks: Long, rows: Long,
                      error: Option[String])

  /** Run `names` against `sfDir` on an already-built session, noop-sink
    * timed with task metrics — the measurement core shared by the
    * rehearsal main (human table) and [[ScaleGate]] (pass/fail budgets).
    * Queries that throw come back with `error` set, never aborting the
    * sweep. */
  def measure(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[QM] = {
    val m = new Metrics
    spark.sparkContext.addSparkListener(m)
    try names.map { name =>
      System.gc()
      // the previous query's (or the warmup's) late events must not land
      // in this query's counters
      org.apache.spark.graft.ListenerDrain(spark.sparkContext); m.reset()
      val t0 = System.nanoTime()
      try {
        val obs = new org.apache.spark.sql.Observation()
        val plan = SparkEntry.queries.get(name)
          .getOrElse(throw new NoSuchElementException("unknown query"))
        plan(spark, sfDir).observe(obs, org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
        val rows = obs.get("n").asInstanceOf[Long]
        val sec = (System.nanoTime() - t0) / 1e9
        // the bus delivers task ends asynchronously: wait for every one
        // this query posted before reading the counters
        org.apache.spark.graft.ListenerDrain(spark.sparkContext)
        QM(name, sec, m.shuffleRead.sum, m.shuffleWrite.sum,
          m.spillDisk.sum, m.peakExecMem, m.tasks.sum, rows, None)
      } catch { case e: Throwable =>
        QM(name, (System.nanoTime() - t0) / 1e9, 0, 0, 0, 0, 0, 0,
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"))
      }
    } finally spark.sparkContext.removeSparkListener(m)
  }

  private final class Metrics extends SparkListener {
    val shuffleRead, shuffleWrite, spillDisk = new LongAdder
    val tasks = new LongAdder
    @volatile var peakExecMem = 0L
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        spillDisk.add(m.diskBytesSpilled)
        tasks.add(1)
        if (m.peakExecutionMemory > peakExecMem) peakExecMem = m.peakExecutionMemory
      }
    }
    def reset(): Unit = { shuffleRead.reset(); shuffleWrite.reset()
      spillDisk.reset(); tasks.reset(); peakExecMem = 0L }
  }

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

    // noop sink: executes the FULL physical plan (including final sorts)
    // without materializing the result on the driver — a .collect() of an
    // output-heavy query times driver ser/de, which no warehouse pipeline
    // pays (they write). Row count rides an Observation so it costs no
    // second action. (All inside `measure`.)
    println(f"${"query"}%-26s ${"sec"}%8s ${"shufR GiB"}%9s ${"shufW GiB"}%9s ${"spill GiB"}%9s ${"peakTask GiB"}%12s ${"tasks"}%7s rows")
    val results = measure(spark, sfDir, names)
    results.foreach {
      case QM(name, sec, _, _, _, _, _, _, Some(err)) =>
        println(f"$name%-26s $sec%8.2f FAILED: $err")
      case QM(name, sec, sr, sw, sp, pk, tasks, rows, None) =>
        println(f"$name%-26s $sec%8.2f ${gib(sr)}%9.2f ${gib(sw)}%9.2f ${gib(sp)}%9.2f ${gib(pk)}%12.2f $tasks%7d $rows")
    }
    val failed = results.filter(_.error.nonEmpty).map(_.name)
    if (failed.nonEmpty) println(s"FAILED: ${failed.mkString(", ")}")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
