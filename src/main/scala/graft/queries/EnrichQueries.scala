package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.enrich.SectorVote
import graft.ops.Checkpoints

/** Sector-vote enrichment with the reference's real semantics (A1 2/3
  * majority, A2 hierarchical 1/2-threshold coarsening) over the TPC-H
  * star: each order "document" votes with its parts (broadcast dimension
  * join J1 feeding the vote). */
object EnrichQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Synthetic 8-digit ICB-like code with a real 4-level hierarchy derived
    * from part attributes — trimming two digits coarsens the sector. */
  private def icb8(partkey: Column, size: Column): Column =
    (pmod(size, lit(5)) + 1) * 1000000L +
      pmod(partkey, lit(5)) * 10000L +
      pmod(partkey, lit(3)) * 100L +
      pmod(partkey, lit(2))

  /** A1: per-order 2/3-majority vote on part brand. Relational two-agg
    * form: measured FASTER than the one-shuffle `majorityFullAgg`
    * Aggregator here (1.5s vs 2.5s at sf0.1) — both hash aggs are
    * codegen'd with map-side partials, while the typed form pays kryo
    * ser/de on every Map buffer; the Aggregator wins only when the
    * per-group logic can't be expressed as codegen'd aggs (see q24). */
  val q23MajoritySector: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
    val part = Tables(s, dir, "part")
    val pairs = li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand"))
    SectorVote.majority(pairs, "l_orderkey", "p_brand")
      .select(col("l_orderkey"), col("majority").as("majority_brand"),
        col("cnt").as("top_cnt"), col("total"))
      .orderBy("l_orderkey")
  }

  /** A2: per-order hierarchical ICB vote (threshold 1/2, trim 8→6→4→2).
    * Uses the typed-Aggregator hybrid: base reduction stays relational
    * (codegen, map-side partials), the typed cascade sees only the
    * reduced (doc, code, cnt) rows with per-order buffers bounded by
    * order size. Fastest of the four forms measured at EVERY
    * scale under full materialization (noop sink, OPTIMIZATION_r15.md):
    * sf0.1 2.6 s / ×30 12.9 s / ×100 45.9 s, vs hash-agg cascade
    * 2.9/14.2/52.0, windowed 6.7/21.0/94.1, compact-HOF 3.2/37.6/166.8.
    * The compact form's HOF lambdas evaluate INTERPRETED per row, which
    * an earlier count()-based comparison hid — Catalyst prunes unused
    * columns under count and deletes the winner computation entirely;
    * never benchmark a projection with count(). */
  val q24SectorRollup: Q = (s, dir) => {
    import s.implicits._
    val li = Tables(s, dir, "lineitem")
    val part = Tables(s, dir, "part")
    val reduced = li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey").cast("long").as("doc"),
        icb8(col("p_partkey"), col("p_size")).cast("long").as("code"))
      .agg(count(lit(1)).as("cnt"))
      .as[(Long, Long, Long)]
    // eager checkpoint BEFORE the presentation sort: a global sort's
    // range exchange runs a bounds-SAMPLING pass that executes its
    // child plan a second time, and here the child is the whole typed
    // cascade over the reduced rows — measured the re-run at ~19 s of
    // q24's ~59 s ×100 wall (full 58.7 vs checkpointed 39.9 s min-of-2;
    // the sort itself is ~free once its input is materialized). sf0.1
    // is unchanged within noise (~150k rows).
    Checkpoints.materialize(reduced.groupByKey(_._1).mapValues(r => (r._2, r._3))
      .agg(SectorVote.hierarchicalAggWeighted().toColumn.name("v"))
      .select(col("key").as("l_orderkey"),
        col("v.sector").as("sector"), col("v.level").as("level")))
      .orderBy("l_orderkey")
  }

  val defs: Map[String, Q] = Map(
    "q23_majority_sector" -> q23MajoritySector,
    "q24_sector_rollup" -> q24SectorRollup,
  )

  // DuckDB has no pmod; all operands here are non-negative so % agrees
  private val icbSql =
    """(p_size % 5 + 1) * 1000000 + (p_partkey % 5) * 10000
       + (p_partkey % 3) * 100 + (p_partkey % 2)"""

  val oracles: Map[String, String] = Map(
    "q23_majority_sector" ->
      """WITH j AS (SELECT l_orderkey, p_brand
                    FROM lineitem JOIN part ON l_partkey = p_partkey),
         c AS (SELECT l_orderkey, p_brand, count(*) AS cnt FROM j GROUP BY 1, 2),
         r AS (SELECT l_orderkey, p_brand, cnt,
                 CAST(sum(cnt) OVER (PARTITION BY l_orderkey) AS BIGINT) AS total,
                 row_number() OVER (PARTITION BY l_orderkey
                   ORDER BY cnt DESC, p_brand ASC) AS rn
               FROM c)
         SELECT l_orderkey,
           CASE WHEN cnt * 3 > total * 2 THEN p_brand END AS majority_brand,
           cnt AS top_cnt, total
         FROM r WHERE rn = 1 ORDER BY l_orderkey""",
    "q24_sector_rollup" ->
      s"""WITH j AS (SELECT l_orderkey, $icbSql AS icb
                    FROM lineitem JOIN part ON l_partkey = p_partkey),
         base AS (SELECT l_orderkey, icb AS code, count(*) AS cnt FROM j GROUP BY 1, 2),
         tot AS (SELECT l_orderkey, CAST(sum(cnt) AS BIGINT) AS total FROM base GROUP BY 1),
         l0 AS (SELECT l_orderkey, code AS lvl_code, sum(cnt) AS lcnt,
                  row_number() OVER (PARTITION BY l_orderkey ORDER BY sum(cnt) DESC, code ASC) AS rn
                FROM base GROUP BY 1, 2),
         l1 AS (SELECT l_orderkey, code // 100 AS lvl_code, sum(cnt) AS lcnt,
                  row_number() OVER (PARTITION BY l_orderkey ORDER BY sum(cnt) DESC, code // 100 ASC) AS rn
                FROM base GROUP BY 1, 2),
         l2 AS (SELECT l_orderkey, code // 10000 AS lvl_code, sum(cnt) AS lcnt,
                  row_number() OVER (PARTITION BY l_orderkey ORDER BY sum(cnt) DESC, code // 10000 ASC) AS rn
                FROM base GROUP BY 1, 2),
         l3 AS (SELECT l_orderkey, code // 1000000 AS lvl_code, sum(cnt) AS lcnt,
                  row_number() OVER (PARTITION BY l_orderkey ORDER BY sum(cnt) DESC, code // 1000000 ASC) AS rn
                FROM base GROUP BY 1, 2)
         SELECT t.l_orderkey,
           CAST(CASE WHEN w0.lcnt * 2 > t.total THEN w0.lvl_code
                WHEN w1.lcnt * 2 > t.total THEN w1.lvl_code
                WHEN w2.lcnt * 2 > t.total THEN w2.lvl_code
                WHEN w3.lcnt * 2 > t.total THEN w3.lvl_code END AS BIGINT) AS sector,
           CASE WHEN w0.lcnt * 2 > t.total THEN '8'
                WHEN w1.lcnt * 2 > t.total THEN '6'
                WHEN w2.lcnt * 2 > t.total THEN '4'
                WHEN w3.lcnt * 2 > t.total THEN '2' END AS level
         FROM tot t
         LEFT JOIN (SELECT * FROM l0 WHERE rn = 1) w0 USING (l_orderkey)
         LEFT JOIN (SELECT * FROM l1 WHERE rn = 1) w1 USING (l_orderkey)
         LEFT JOIN (SELECT * FROM l2 WHERE rn = 1) w2 USING (l_orderkey)
         LEFT JOIN (SELECT * FROM l3 WHERE rn = 1) w3 USING (l_orderkey)
         ORDER BY t.l_orderkey""",
  )
}
