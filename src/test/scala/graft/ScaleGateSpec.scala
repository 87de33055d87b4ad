package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scale gate's per-query decision and both tiers' budgets. The
  * budgets are pinned literally: a gate is only as strict as its data,
  * so loosening one has to show up as an edit here. */
class ScaleGateSpec extends AnyFunSuite {
  import ScaleGate._

  private def qm(name: String, sec: Double, spill: Long = 0L,
                 error: Option[String] = None) =
    ScaleRehearsal.QM(name, sec, 0L, 0L, spill, 0L, 0L, 0L, error)

  private val q = "q35_char_ngram_pairs"

  test("an error at either scale fails the query") {
    val atBig = verdict(qm(q, 2.0), qm(q, 1.0, error = Some("boom")), X30, 1.0)
    assert(atBig.failure.contains("ERROR boom"))
    val atBase = verdict(qm(q, 2.0, error = Some("base")), qm(q, 1.0), X30, 1.0)
    assert(atBase.failure.contains("ERROR base"))
  }

  test("MinBaseSec floors a fast baseline") {
    // 0.1 s at sf0.1: the budget is 1.5 × 30 × 1.0 s, not × 0.1 s
    val v = verdict(qm(q, 0.1), qm(q, 40.0), X30, 1.0)
    assert(v.budget == 45.0 && v.failure.isEmpty)
  }

  test("the slack budget: SlackFactor × copies × baseline") {
    assert(verdict(qm(q, 2.0), qm(q, 90.0), X30, 1.0) == Verdict(90.0, None))
    val over = verdict(qm(q, 2.0), qm(q, 90.5), X30, 1.0)
    assert(over.failure.exists(_.startsWith("OVER BUDGET")))
    // the same baseline at ×100 budgets 300 s
    assert(verdict(qm(q, 2.0), qm(q, 250.0), X100, 1.0) == Verdict(300.0, None))
    // copies come from the tier as run, so a small rehearsal scales too
    assert(verdict(qm(q, 2.0), qm(q, 7.0), X30.copy(copies = 2), 1.0)
      .failure.exists(_.startsWith("OVER BUDGET")))
  }

  test("an absolute cap binds under the linear budget, scaled by the session index") {
    val s = "q167_streaming_curation"
    // base 7 s: linear budget 1050 s, the 75 s cap binds
    val atNominal = verdict(qm(s, 7.0), qm(s, 80.0), X100, 1.0)
    assert(atNominal.budget == 75.0)
    assert(atNominal.failure.exists(_.startsWith("OVER BUDGET")))
    // a contended session (index 1.2) widens the cap to 90 s
    assert(verdict(qm(s, 7.0), qm(s, 80.0), X100, 1.2) == Verdict(90.0, None))
    // the ×30 tier has no caps: the same query is only held to linear
    assert(verdict(qm(s, 7.0), qm(s, 80.0), X30, 1.0) == Verdict(315.0, None))
  }

  test("a spill over SpillBudgetBytes fails an in-time query") {
    val v = verdict(qm(q, 2.0), qm(q, 10.0, spill = SpillBudgetBytes + 1), X30, 1.0)
    assert(v.failure.exists(_.startsWith("SPILL")))
    assert(verdict(qm(q, 2.0), qm(q, 10.0, spill = SpillBudgetBytes), X30, 1.0)
      .failure.isEmpty)
  }

  test("a query inside every budget passes") {
    assert(verdict(qm(q, 1.5), qm(q, 30.0, spill = 1L << 20), X100, 1.0)
      == Verdict(225.0, None))
  }

  test("shared budgets are pinned") {
    assert(SlackFactor == 1.5)
    assert(MinBaseSec == 1.0)
    assert(SpillBudgetBytes == 8L * 1024 * 1024 * 1024)
    assert(tiers == Map("x30" -> X30, "x100" -> X100))
  }

  test("the x30 tier is pinned") {
    assert(X30.dir == "/tmp/graft-sf3" && X30.copies == 30)
    assert(X30.appName == "graft-scale-gate")
    assert(X30.partitionFactor == 3 && X30.capSec.isEmpty)
    assert(X30.names == ScaleRehearsal.defaultNames)
    assert(X30.names.sortBy(n => n.drop(1).takeWhile(_.isDigit).toInt) == Seq(
      "q01_pricing_summary", "q03_region_revenue", "q06_window_topk",
      "q17_dedup_gate", "q18_minhash_pairs", "q21_cosine_topk",
      "q23_majority_sector", "q24_sector_rollup", "q35_char_ngram_pairs",
      "q39_dedup_clusters", "q48_dedup_corpus", "q58_sketch_stats",
      "q83_best_keeper", "q86_exactly_once", "q88_bpe_train",
      "q90_nb_classify", "q91_substring_dedup", "q92_star_clusters",
      "q94_pca_project", "q100_dsir_weights", "q104_pagerank",
      "q105_small_qty_revenue", "q106_big_orders", "q108_top_supplier",
      "q109_weighted_pagerank", "q113_triangles", "q115_prefix_jaccard",
      "q116_grouping_sets", "q118_curation_pipeline", "q120_lateral_top_order",
      "q123_bpe_encode", "q124_range_frame", "q127_ann_sq8",
      "q142_excess_stock", "q144_native_topk", "q145_provenance",
      "q146_xml_extract", "q147_streaming_neardup", "q152_bigram_lm",
      "q157_curation_e2e", "q158_streaming_sessionize", "q159_embedding_drift",
      "q160_sketch_calibration", "q161_sessionize_restart",
      "q162_dup_source_matrix", "q163_split_leakage", "q164_boilerplate_ngrams",
      "q165_hard_negatives", "q166_cluster_safe_split", "q167_streaming_curation",
      "q168_gate_sweep", "q169_lang_fertility", "q170_curation_funnel",
      "q171_curation_restart", "q172_dedup_threshold_curve", "q173_midbatch_kill"))
  }

  test("the x100 tier is pinned") {
    assert(X100.dir == "/tmp/graft-sf10" && X100.copies == 100)
    assert(X100.appName == "graft-scale-gate-100")
    assert(X100.partitionFactor == 6)
    assert(X100.names == Seq(
      "q35_char_ngram_pairs", "q115_prefix_jaccard", "q23_majority_sector",
      "q24_sector_rollup", "q104_pagerank", "q58_sketch_stats",
      "q167_streaming_curation", "q171_curation_restart", "q173_midbatch_kill",
      "q147_streaming_neardup", "q151_streaming_interval_join",
      "q156_checkpoint_restart", "q158_streaming_sessionize",
      "q161_sessionize_restart"))
    assert(X100.capSec == Map(
      "q167_streaming_curation" -> 75.0, "q171_curation_restart" -> 75.0,
      "q173_midbatch_kill" -> 85.0, "q147_streaming_neardup" -> 40.0,
      "q151_streaming_interval_join" -> 34.0, "q156_checkpoint_restart" -> 31.0,
      "q158_streaming_sessionize" -> 45.0, "q161_sessionize_restart" -> 25.0))
  }

  test("every gated query is a registered query") {
    val unknown = (X30.names ++ X100.names).filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, unknown.mkString(", "))
  }
}
