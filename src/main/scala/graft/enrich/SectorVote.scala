package graft.enrich

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Sector classification by ticker vote (SURVEY.md A1/A2,
  * `/root/reference/src/utils/general_utils.py:126-184`).
  *
  * A1 `get_sector`: count the sectors of a document's tickers; return the
  * mode iff its share exceeds a threshold (reference: 2/3), else null.
  * Reference tie-breaking (`Counter.most_common`) is insertion-ordered —
  * non-deterministic for our purposes — so we *define*: highest count
  * first, then smallest sector value.
  *
  * A2 `get_sector_loose`: same vote at threshold 1/2, but when no level-8
  * ICB majority exists, trim two digits (8→6→4→2) and retry — a rollup
  * along the ICB hierarchy. One base aggregation produces per-(doc, code)
  * counts; each coarser level re-aggregates that already-tiny result, and
  * winner selection is an argmax HASH aggregation (max/min over a
  * (count, code) struct — map-side partials, no per-partition sort; the
  * earlier row_number-window form measured ~15% slower at sf0.1 and was
  * replaced everywhere).
  */
object SectorVote {

  /** A1 as a typed `Aggregator[IN, BUF, OUT]` (SURVEY §2.10's UDAF
    * mapping): buffer = per-sector counts, merge = map union, finish =
    * thresholded mode with the same deterministic tie-break as
    * `majority`. Usable as a `TypedColumn` in `Dataset.groupByKey(...)
    * .agg(majorityAgg(num, denom).toColumn)` — partial aggregation
    * (map-side combine) comes free from the Aggregator contract. */
  def majorityAgg(num: Int = 2, denom: Int = 3): Aggregator[Int, Map[Int, Long], Option[Int]] =
    new Aggregator[Int, Map[Int, Long], Option[Int]] {
      def zero: Map[Int, Long] = Map.empty
      def reduce(b: Map[Int, Long], sector: Int): Map[Int, Long] =
        b.updated(sector, b.getOrElse(sector, 0L) + 1L)
      def merge(a: Map[Int, Long], b: Map[Int, Long]): Map[Int, Long] =
        b.foldLeft(a) { case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0L) + v) }
      def finish(b: Map[Int, Long]): Option[Int] =
        if (b.isEmpty) None
        else {
          val total = b.values.sum
          val (sector, cnt) = b.minBy { case (k, v) => (-v, k) } // max cnt, min sector
          if (cnt * denom > total * num) Some(sector) else None
        }
      def bufferEncoder: Encoder[Map[Int, Long]] = Encoders.kryo[Map[Int, Long]]
      def outputEncoder: Encoder[Option[Int]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Option[Int]]()
    }

  /** A1: majority vote. `pairs` has one row per (doc, sector) occurrence.
    * Returns (docCol, winnerCol, cnt, total) with winnerCol null when the
    * top sector's share does not exceed num/denom. */
  def majority(pairs: DataFrame, docCol: String, sectorCol: String,
               num: Int = 2, denom: Int = 3): DataFrame = {
    val counts = pairs.groupBy(docCol, sectorCol).agg(count(lit(1)).as("cnt"))
    // winner via min(struct(-cnt, sector)): max count, ties to the
    // smallest sector — a pure two-phase hash aggregation (map-side
    // partial), no per-group sort the way a rank-1 window would do it
    val best = counts.groupBy(docCol).agg(
      min(struct((-col("cnt")).as("nc"), col(sectorCol).as("sector"), col("cnt").as("cnt"))).as("best"),
      sum("cnt").as("total"))
    best.select(col(docCol),
      when(col("best.cnt") * denom > col("total") * num, col("best.sector"))
        .otherwise(lit(null)).as("majority"),
      col("best.cnt").as("cnt"), col("total"))
  }

  /** A2: hierarchical vote over a numeric code hierarchy. `divisors` lists
    * the trim divisors finest-first (ICB: 1, 100, 10000, 1000000); the
    * first level whose winner clears num/denom supplies the result.
    * Returns (docCol, sector, level) where level is the divisor's index in
    * `divisors` as a string label, null when no level has a majority. */
  def hierarchical(pairs: DataFrame, docCol: String, codeCol: String,
                   divisors: Seq[Long] = Seq(1L, 100L, 10000L, 1000000L),
                   levelLabels: Seq[String] = Seq("8", "6", "4", "2"),
                   num: Int = 1, denom: Int = 2): DataFrame = {
    require(divisors.length == levelLabels.length)
    // Single lineage, one shuffle: every aggregation below groups by the
    // doc first, so hash-partitioning the raw pairs by `docCol` ONCE
    // satisfies all four of them (base counts, level counts, per-level
    // winners, pivot) and the planner adds no further exchange. A doc's
    // pairs number its tickers, so the pre-aggregation a per-aggregation
    // exchange would buy saves little. (The naive form — one aggregation
    // per level joined back — recomputes the base scan+join per level:
    // 5× the work, measured 8 s → 2 s at sf0.1.)
    val base = pairs.repartition(col(docCol))
      .groupBy(col(docCol), col(codeCol).cast("long").as("code"))
      .agg(count(lit(1)).as("cnt"))
    val lvls = array(divisors.zipWithIndex.map { case (d, i) =>
      struct(lit(i).as("lvl"), lit(d).as("div"))
    }: _*)
    val lvlCounts = base
      .select(col(docCol), col("code"), col("cnt"), explode(lvls).as("ld"))
      .select(col(docCol), col("ld.lvl").as("lvl"),
        (col("code") / col("ld.div")).cast("long").as("lvl_code"), col("cnt"))
      .groupBy(docCol, "lvl", "lvl_code").agg(sum("cnt").as("lcnt"))
    // Winner per (doc, lvl) as a hash aggregation, not a sorted window:
    // max(struct(lcnt, -lvl_code)) is the (largest count, then smallest
    // code) argmax — map-side partials, no per-partition sort (the q23
    // min(struct) pattern; the window form measured ~15% slower at sf0.1
    // and its sort is pure overhead at any scale).
    val winners = lvlCounts
      .groupBy(docCol, "lvl")
      .agg(sum("lcnt").as("total"),
        max(struct(col("lcnt"), (-col("lvl_code")).as("neg"))).as("best"))
      .select(col(docCol), col("lvl"), col("total"),
        col("best.lcnt").as("lcnt"), (-col("best.neg")).as("lvl_code"))
      .withColumn("win",
        when(col("lcnt") * denom > col("total") * num, col("lvl_code")))
    val pivoted = winners.groupBy(docCol).agg(
      max(when(col("lvl") === 0, col("win"))).as("w0"),
      divisors.indices.drop(1).map(i =>
        max(when(col("lvl") === i, col("win"))).as(s"w$i")): _*)
    val sector = coalesce(divisors.indices.map(i => col(s"w$i")): _*)
    val level = coalesce(divisors.indices.map(i =>
      when(col(s"w$i").isNotNull, lit(levelLabels(i)))): _*)
    pivoted.select(col(docCol), sector.as("sector"), level.as("level"))
  }

  case class MajVote(majority: Option[String], cnt: Long, total: Long)

  /** A1 with full tally output (winner-or-null, top count, total) as a
    * typed Aggregator over string keys — ONE shuffle with map-side
    * partial aggregation, vs the relational `majority`'s two hash aggs.
    * Same semantics/tie-breaks: share must EXCEED num/denom; ties to the
    * lexicographically smallest key.
    *
    * Measured SLOWER than `majority` on the q23 shape (2.5s vs 1.5s at
    * sf0.1): both of `majority`'s aggs are codegen'd with map-side
    * partials, while this pays kryo ser/de per Map buffer. Reach for an
    * Aggregator when the per-group logic can't be expressed as codegen'd
    * aggs (e.g. `hierarchicalAgg`'s cascade), not to save a shuffle. */
  def majorityFullAgg(num: Int = 2, denom: Int = 3): Aggregator[String, Map[String, Long], MajVote] =
    new Aggregator[String, Map[String, Long], MajVote] {
      def zero: Map[String, Long] = Map.empty
      def reduce(b: Map[String, Long], k: String): Map[String, Long] =
        b.updated(k, b.getOrElse(k, 0L) + 1L)
      def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
        b.foldLeft(a) { case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0L) + v) }
      def finish(b: Map[String, Long]): MajVote = {
        if (b.isEmpty) return MajVote(None, 0L, 0L)
        val total = b.values.sum
        val (k, cnt) = b.minBy { case (key, v) => (-v, key) }
        MajVote(if (cnt * denom > total * num) Some(k) else None, cnt, total)
      }
      def bufferEncoder: Encoder[Map[String, Long]] = Encoders.kryo[Map[String, Long]]
      def outputEncoder: Encoder[MajVote] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[MajVote]()
    }

  case class HierVote(sector: Option[Long], level: Option[String])

  /** A2 as a typed `Aggregator` — ONE shuffle, cascade in plain JVM code.
    * Buffer = per-code counts (bounded by the doc's distinct codes);
    * map-side partial aggregation collapses each doc's rows before the
    * exchange, and `finish` runs the trim-level cascade (same winner and
    * tie-break semantics as `hierarchical`/`hierarchicalCompact`: max
    * count, ties to the smallest code, first level clearing num/denom).
    * Preferred at scale: the windowed form shuffled level-exploded rows
    * (4×) and sorted per window; the compact form shuffles collected
    * structs and evaluates interpreted array HOFs per row (measured ~2×
    * slower than this at sf0.1). */
  def hierarchicalAgg(divisors: Seq[Long] = Seq(1L, 100L, 10000L, 1000000L),
                      levelLabels: Seq[String] = Seq("8", "6", "4", "2"),
                      num: Int = 1, denom: Int = 2): Aggregator[Long, Map[Long, Long], HierVote] = {
    require(divisors.length == levelLabels.length)
    new Aggregator[Long, Map[Long, Long], HierVote] {
      def zero: Map[Long, Long] = Map.empty
      def reduce(b: Map[Long, Long], code: Long): Map[Long, Long] =
        b.updated(code, b.getOrElse(code, 0L) + 1L)
      def merge(a: Map[Long, Long], b: Map[Long, Long]): Map[Long, Long] =
        b.foldLeft(a) { case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0L) + v) }
      def finish(b: Map[Long, Long]): HierVote = {
        if (b.isEmpty) return HierVote(None, None)
        val total = b.values.sum
        divisors.indices.foreach { i =>
          val d = divisors(i)
          val lvl = scala.collection.mutable.Map.empty[Long, Long]
          b.foreach { case (code, cnt) =>
            val lc = code / d
            lvl.update(lc, lvl.getOrElse(lc, 0L) + cnt)
          }
          val (code, cnt) = lvl.minBy { case (k, v) => (-v, k) }
          if (cnt * denom > total * num) return HierVote(Some(code), Some(levelLabels(i)))
        }
        HierVote(None, None)
      }
      def bufferEncoder: Encoder[Map[Long, Long]] = Encoders.kryo[Map[Long, Long]]
      def outputEncoder: Encoder[HierVote] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[HierVote]()
    }
  }

  /** Weighted variant of [[hierarchicalAgg]]: input is an already-reduced
    * (code, count) pair, so the codegen'd relational base aggregation
    * runs FIRST over the raw pairs and the typed path (encoder + kryo
    * buffer cost per row) only sees the ~distinct(doc, code) rows. At
    * sf0.1 the extra exchange offsets the typed-row reduction (measured
    * a wash); the hybrid wins when documents carry many duplicate codes
    * (hot tickers at corpus scale), where the codegen'd base collapses
    * most of the volume before any per-row encoding happens. */
  def hierarchicalAggWeighted(divisors: Seq[Long] = Seq(1L, 100L, 10000L, 1000000L),
                              levelLabels: Seq[String] = Seq("8", "6", "4", "2"),
                              num: Int = 1, denom: Int = 2): Aggregator[(Long, Long), Map[Long, Long], HierVote] = {
    require(divisors.length == levelLabels.length)
    val inner = hierarchicalAgg(divisors, levelLabels, num, denom)
    new Aggregator[(Long, Long), Map[Long, Long], HierVote] {
      def zero: Map[Long, Long] = Map.empty
      def reduce(b: Map[Long, Long], in: (Long, Long)): Map[Long, Long] =
        b.updated(in._1, b.getOrElse(in._1, 0L) + in._2)
      def merge(a: Map[Long, Long], b: Map[Long, Long]): Map[Long, Long] = inner.merge(a, b)
      def finish(b: Map[Long, Long]): HierVote = inner.finish(b)
      def bufferEncoder: Encoder[Map[Long, Long]] = inner.bufferEncoder
      def outputEncoder: Encoder[HierVote] = inner.outputEncoder
    }
  }

  /** Historical alias for [[hierarchical]]. This USED to be a separate
    * hash-agg implementation "like hierarchical but without the
    * row_number window" (measured 3.4 vs 4.7 s at sf0.1 on the q24
    * shape) — then `hierarchical` itself was rewritten to the same
    * hash-agg cascade, leaving two near-line-for-line duplicates whose
    * only difference was an equivalent argmax encoding
    * (max(struct(lcnt, -code)) vs min(struct(-lcnt, code))). One body
    * now serves both names; the SectorVoteSpec equivalence test that
    * guarded the duplicate pins the delegation. */
  def hierarchicalHashAgg(pairs: DataFrame, docCol: String, codeCol: String,
                          divisors: Seq[Long] = Seq(1L, 100L, 10000L, 1000000L),
                          levelLabels: Seq[String] = Seq("8", "6", "4", "2"),
                          num: Int = 1, denom: Int = 2): DataFrame =
    hierarchical(pairs, docCol, codeCol, divisors, levelLabels, num, denom)

  /** `hierarchical` as a collect-then-cascade (two shuffles): aggregate
    * (doc, code) counts, collect each doc's count list (bounded by the
    * doc's distinct codes — order-sized here, never corpus-sized), and
    * run the level cascade as per-row array expressions. Same result,
    * same tie-breaks — but the aggregate()/transform() lambdas evaluate
    * INTERPRETED (no whole-stage codegen for HOFs), and under full
    * materialization this is the SLOWEST form at scale (sf0.1 3.2 s /
    * ×30 37.6 s / ×100 166.8 s vs the typed hybrid's 2.6/12.9/45.9 —
    * ScratchForms, noop sink). Kept for the shuffle-count comparison
    * and for engines without typed aggregators; prefer the hybrid. */
  def hierarchicalCompact(pairs: DataFrame, docCol: String, codeCol: String,
                          divisors: Seq[Long] = Seq(1L, 100L, 10000L, 1000000L),
                          levelLabels: Seq[String] = Seq("8", "6", "4", "2"),
                          num: Int = 1, denom: Int = 2): DataFrame = {
    require(divisors.length == levelLabels.length)
    val collected = pairs
      .groupBy(col(docCol), col(codeCol).cast("long").as("code"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(docCol)
      .agg(collect_list(struct(col("code"), col("cnt"))).as("cc"),
        sum("cnt").as("total"))
    // per level: winner = arg-max of (sum cnt per trimmed code), ties to
    // the smallest code; encoded as a fold over the distinct level codes
    def winner(d: Long): Column = {
      val lvlCodes = array_distinct(transform(col("cc"), c => (c.getField("code") / d).cast("long")))
      val scored = transform(lvlCodes, lc => struct(
        aggregate(col("cc"), lit(0L),
          (acc, c) => acc + when((c.getField("code") / d).cast("long") === lc, c.getField("cnt")).otherwise(lit(0L))).as("lcnt"),
        lc.as("lvl_code")))
      val best = aggregate(scored, struct(lit(-1L).as("lcnt"), lit(Long.MaxValue).as("lvl_code")),
        (b, x) => when(x.getField("lcnt") > b.getField("lcnt") ||
            (x.getField("lcnt") === b.getField("lcnt") &&
             x.getField("lvl_code") < b.getField("lvl_code")), x).otherwise(b))
      when(best.getField("lcnt") * denom > col("total") * num, best.getField("lvl_code"))
    }
    val wins = divisors.zipWithIndex.foldLeft(collected) { case (df, (d, i)) =>
      df.withColumn(s"w$i", winner(d))
    }
    val sector = coalesce(divisors.indices.map(i => col(s"w$i")): _*)
    val level = coalesce(divisors.indices.map(i =>
      when(col(s"w$i").isNotNull, lit(levelLabels(i)))): _*)
    wins.select(col(docCol), sector.as("sector"), level.as("level"))
  }
}
