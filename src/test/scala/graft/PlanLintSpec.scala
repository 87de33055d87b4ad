package graft

/** Whole-surface plan lint: every SparkEntry query must PLAN (analysis +
  * optimization succeed against the real schemas) and the physical plan
  * must never contain a CartesianProductExec — the one operator shape
  * that is always a scale bug in this library's domain (candidate
  * generation is required to be a band/bucket/cell equi-join; tiny
  * one-row cross joins lower to BroadcastNestedLoopJoin, which is
  * allowed). Catches a regression the per-query oracles cannot: a future
  * edit that stays correct but degrades to an all-pairs plan.
  */
class PlanLintSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("all queries plan without CartesianProduct") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, dir).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"cartesian product in: ${offenders.mkString(", ")}")
  }

  test("no query broadcasts a subtree containing a Generate") {
    // An exploded table carries the PRE-explode scan's size estimate
    // (Generate does not scale stats), so the planner can choose to
    // broadcast a corpus-token-sized side it believes is tiny — the
    // ×30 rehearsal caught exactly that on the token→model scoring
    // joins (peak task memory growing linearly until the shuffle_hash
    // hints landed). This lint makes the fix permanent across the
    // whole surface: a broadcast build side must never contain an
    // explode. (Tiny bounded explodes belong UNDER a one-row
    // BroadcastNestedLoopJoin's streamed side or behind an aggregate,
    // both of which pass this check.)
    //
    // The walk is over the PREPARED plan: `sparkPlan` is built before
    // EnsureRequirements places exchanges, so it never holds a
    // BroadcastExchangeExec. The queries below offended when the walk
    // moved there; each still has to be triaged (a bounded build side,
    // e.g. an aggregate of the explode, or a corpus-sized one to fix).
    // The list can only shrink: a listed query that stops offending
    // fails the lint until it is deleted from the list.
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val knownOffenders = Set(
      "q18_minhash_pairs", "q20_simhash_pairs", "q22_ann_lsh",
      "q32_word_similarity", "q35_char_ngram_pairs", "q37_cosine_neardup",
      "q44_decontamination", "q53_postings", "q58_sketch_stats",
      "q59_incremental_neardup", "q60_ann_pq", "q69_ngram_novelty",
      "q91_substring_dedup", "q97_heavy_hitters", "q123_bpe_encode",
      "q125_repetition", "q127_ann_sq8", "q133_fuzzy_match",
      "q160_sketch_calibration", "q162_dup_source_matrix", "q170_curation_funnel",
      "q172_dedup_threshold_curve")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, dir).queryExecution.executedPlan
        val bad = new AdaptiveSparkPlanHelper {}.collect(plan) {
          case b: BroadcastExchangeExec
              if b.collect { case g: GenerateExec => g }.nonEmpty => b
        }
        if (bad.nonEmpty) Some(name) else None
    }.toSet
    val fresh = (offenders -- knownOffenders).toSeq.sorted
    val cleared = (knownOffenders -- offenders).toSeq.sorted
    assert(fresh.isEmpty,
      s"broadcast over an exploded subtree in: ${fresh.mkString(", ")}")
    assert(cleared.isEmpty,
      s"no longer broadcasting an exploded subtree, drop from knownOffenders: " +
        cleared.mkString(", "))
  }

  test("no query plans a SortAggregate") {
    // Spark plans an aggregation whose buffer is not mutable in place —
    // max/min over a struct or a string, first/last of a string — as a
    // SortAggregate: partial and final each sort their whole input.
    // Argmax-style votes belong in a hash aggregation over fixed-width
    // buffers or in a per-group kernel over a collected list (the A2
    // sector vote). The queries below offended when this lint landed;
    // the list can only shrink: a listed query that stops offending
    // fails the lint until it is deleted from the list.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    val knownOffenders = Set(
      "q118_curation_pipeline", "q155_knn_label_agreement", "q165_hard_negatives",
      "q23_majority_sector", "q28_binary_features", "q34_ann_ivf", "q46_funnel",
      "q49_kmeans_step", "q50_asof_join", "q60_ann_pq", "q62_attribution",
      "q65_semantic_dedup", "q75_table_stats", "q77_nearest_event",
      "q79_asof_bucketed", "q80_asof_forward", "q83_best_keeper", "q90_nb_classify")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, dir).queryExecution.executedPlan
        val bad = new AdaptiveSparkPlanHelper {}.collect(plan) { case a: SortAggregateExec => a }
        if (bad.nonEmpty) Some(name) else None
    }.toSet
    val fresh = (offenders -- knownOffenders).toSeq.sorted
    val cleared = (knownOffenders -- offenders).toSeq.sorted
    assert(fresh.isEmpty, s"SortAggregate in: ${fresh.mkString(", ")}")
    assert(cleared.isEmpty,
      s"no longer planning a SortAggregate, drop from knownOffenders: " +
        cleared.mkString(", "))
  }

  test("no query plans an unpartitioned Window over UNBOUNDED input") {
    // A Window with an empty partitionSpec funnels its whole input
    // through one task's sort. That's fine when the input is
    // structurally BOUNDED — an aggregate (group-cardinality rows), a
    // group-limit (WindowGroupLimit), or a global limit (a
    // codebook seed) — because the single task sorts group-count rows,
    // not the corpus; that's the same judgment the broadcast-Generate
    // lint applies. It is a scale bug when a corpus-row path reaches the
    // window with no bounding node: that sort cannot scale out no
    // matter how many executors exist (q151's staging ntile was exactly
    // this — fixed to range partitioning). The walk requires EVERY leaf
    // path below the window to pass a bounding node.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    def bounded(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec | _: WindowGroupLimitExec |
           _: GlobalLimitExec | _: CollectLimitExec |
           _: TakeOrderedAndProjectExec => true
      case leaf if leaf.children.isEmpty => false
      case other => other.children.forall(bounded)
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, dir).queryExecution.sparkPlan
        val bad = plan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty && !bounded(w.child) => w
        }
        if (bad.nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unpartitioned window over unbounded input in: ${offenders.mkString(", ")}")
  }

  test("scorer joins stay non-broadcast in the ADAPTIVE executed plan") {
    // The broadcast lint inspects the plan before execution; AQE can
    // still demote a sort-merge join to a runtime broadcast from OBSERVED
    // sizes, which the static check never sees. shuffle_hash hints protect the three
    // token→model scorers (the subtrees where a runtime broadcast of the
    // exploded side would be corpus-sized at scale even though it looks
    // small at gate SF) — so for those representative queries, execute to
    // completion and walk the FINAL adaptive plan, descending into
    // materialized query stages, asserting no broadcast build side
    // contains RAW exploded rows. The descent stops at an aggregation
    // boundary: a broadcast of an AGGREGATED derivative of an explode is
    // AQE working as designed (size bounded by group cardinality and
    // decided from observed bytes — at 100 TB the observed stage is large
    // and AQE keeps the shuffle join), whereas raw exploded rows scale
    // with the corpus and must never build a broadcast.
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    def subtrees(p: SparkPlan, stopAtAgg: Boolean): Seq[SparkPlan] = {
      if (stopAtAgg && p.isInstanceOf[BaseAggregateExec]) Seq(p)
      else {
        val nested = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec        => Seq(q.plan)
          case _                        => Nil
        }
        p +: (p.children ++ nested).flatMap(subtrees(_, stopAtAgg))
      }
    }
    val scorers = Seq("q100_dsir_weights", "q90_nb_classify", "q56_unigram_lm")
    val offenders = scorers.flatMap { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect() // materialize so AQE finalizes every stage
      val bad = subtrees(df.queryExecution.executedPlan, stopAtAgg = false).exists {
        case b: BroadcastExchangeExec =>
          subtrees(b, stopAtAgg = true).exists(_.isInstanceOf[GenerateExec])
        case _ => false
      }
      if (bad) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"runtime broadcast of raw exploded rows in: ${offenders.mkString(", ")}")
  }

  test("flagship entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q119: EXISTS/NOT EXISTS decorrelate to semi + anti joins") {
    val p = plan("q119_lone_late_supplier")
    assert(p.contains("LeftSemi"), "EXISTS must lower to a semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS must lower to an anti join")
  }

  test("q120: LATERAL top-1 decorrelates to the WindowGroupLimit shape") {
    val p = plan("q120_lateral_top_order")
    assert(p.contains("WindowGroupLimit"),
      "per-group LIMIT must partial-cap before the exchange, not sort whole groups")
  }

  test("q121: outer-join ON predicate is pushed to the orders scan") {
    val p = plan("q121_cust_distribution")
    assert(p.contains("LeftOuter"))
    // the non-preserved side's own predicate must filter BEFORE the join
    assert(p.contains("NOT (o_orderpriority"),
      "o_orderpriority filter must sit on the orders scan side, not post-join")
  }

  test("q122: disjunctive predicate splits and reaches both scans") {
    val p = plan("q122_disjunctive_predicate")
    // lineitem keeps the quantity-range OR; part keeps the brand/size OR —
    // CNF extraction must pre-filter each input below the join
    assert(p.contains("l_quantity") && p.contains("PushedFilters: [IsNotNull(l_partkey), Or("),
      "lineitem scan must carry its derivable disjunction as a pushed filter")
    assert(p.contains("PushedFilters: [IsNotNull(p_partkey), Or("),
      "part scan must carry its derivable disjunction as a pushed filter")
  }

  test("q139: correlated MIN decorrelates to one grouped aggregate, not per-row probes") {
    val p = plan("q139_min_price_supplier")
    assert(p.contains("min(l_extendedprice"),
      "the per-part min must appear as a grouped aggregate in the plan")
    assert(!p.contains("Subquery"),
      "no residual subquery execution may survive decorrelation")
  }

  test("q141: NOT IN lowers to an anti join on the supplier key") {
    val p = plan("q141_part_supplier_count")
    assert(p.contains("LeftAnti"), "NOT IN must lower to an anti join")
  }

  test("q142: nested INs lower to semi joins; correlated sum to a grouped agg") {
    val p = plan("q142_excess_stock")
    assert(p.contains("LeftSemi"), "the IN memberships must lower to semi joins")
    assert(p.contains("sum(CAST(l_quantity"),
      "the correlated 1996 sum must appear as a grouped aggregate, not a per-row probe")
  }
}
