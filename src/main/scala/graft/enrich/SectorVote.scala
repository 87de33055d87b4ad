package graft.enrich

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.expressions.SectorCascade

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
  * along the ICB hierarchy, computed per doc by one codegen'd kernel
  * ([[graft.expressions.SectorCascade]]) over the doc's collected codes.
  */
object SectorVote {

  /** A1: majority vote. `pairs` has one row per (doc, sector) occurrence.
    * Returns (docCol, winnerCol, cnt, total) with winnerCol null when the
    * top sector's share does not exceed num/denom. */
  def majority(pairs: DataFrame, docCol: String, sectorCol: String,
               num: Int = 2, denom: Int = 3): DataFrame = {
    val counts = pairs.groupBy(docCol, sectorCol).agg(count(lit(1)).as("cnt"))
    // winner via min(struct(-cnt, sector)): max count, ties to the
    // smallest sector. A struct buffer is not mutable in place, so Spark
    // plans this aggregation as a SortAggregate (partial and final, each
    // behind a sort), not a hash aggregation.
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
    * `divisors` as a string label, null when no level has a majority.
    *
    * Three steps: one shuffle by doc (the aggregation's own exchange,
    * after a map-side partial that folds a doc's pairs into one list),
    * one list of non-null codes plus the row count per doc, and the
    * cascade kernel. A null code counts toward the doc's total and can
    * win a level, which then yields no sector. */
  def hierarchical(pairs: DataFrame, docCol: String, codeCol: String,
                   divisors: Seq[Long] = Seq(1L, 100L, 10000L, 1000000L),
                   levelLabels: Seq[String] = Seq("8", "6", "4", "2"),
                   num: Int = 1, denom: Int = 2): DataFrame =
    pairs.groupBy(col(docCol))
      .agg(collect_list(col(codeCol).cast("long")).as("codes"), count(lit(1)).as("total"))
      .select(col(docCol), SectorCascade.sector_cascade(col("codes"), col("total"),
        divisors, levelLabels, num, denom).as("v"))
      .select(col(docCol), col("v.sector").as("sector"), col("v.level").as("level"))
}
