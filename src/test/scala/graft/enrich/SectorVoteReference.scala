package graft.enrich

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The relational A2 cascade — one base count per (doc, code), the
  * levels exploded and re-aggregated, a `max(struct(count, -code))`
  * winner per (doc, level) and a pivot — as `SectorVote.hierarchical`
  * computed it before the cascade became one kernel
  * ([[graft.expressions.SectorCascade]]). SectorVoteSpec compares the
  * kernel against it: null codes, ties and the strict threshold come from
  * Spark's own aggregation and struct ordering here. */
object SectorVoteReference {

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
    // Winner per (doc, lvl): max(struct(lcnt, -lvl_code)) is the
    // (largest count, then smallest code) argmax. A struct buffer is not
    // mutable in place, so Spark plans this aggregation as a
    // SortAggregate behind a Sort.
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
}
