package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.ops.Checkpoints

/** Relational operator coverage (SURVEY.md §2.4–2.7): filters with parquet
  * pushdown, broadcast dimension joins (J1), semi/anti joins (J2/J3),
  * aggregation (A3–A5), window ranking (L4), rollup (A2's shape), tumbling
  * time windows (W1), JSON extraction (O15's shape).
  *
  * Determinism contract shared with the DuckDB oracle: every double
  * aggregate is `round(_, 4)`; every query ends in a total order on its
  * group keys (Spark default asc_nulls_first == oracle `NULLS FIRST`).
  */
object RelationalQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Integer CENT-unit measure terms for the revenue-sum family. The
    * ×30 oracle run (round 14) caught the raw-double sums drifting past
    * the 4-dp output rounding at 3M-row groups — and the repo's
    * previous remedy (cast the double PRODUCT to decimal(28,12)) is
    * itself only engine-exact while |v|·10¹² fits 2⁵³: DuckDB casts
    * double→decimal by multiplying in double, so a 1e5-scale product's
    * low digits are noise there while Spark's cast is exact. The
    * engine-exact AND codegen-fast form: every measure column is
    * 2-dp-valued at source, so `round(v·100)` is a within-ulp integer
    * round both engines agree on — multiply and sum in plain LONG
    * arithmetic (whole-stage-codegen primitive path; the decimal-sum
    * spelling was bit-exact too but cost q01/q03/q08 ~1 s each at
    * sf0.1 in Decimal boxing). Unit algebra: cents × (100 − disc_cents)
    * = value·disc̄·10⁴. Width: ≤1.05e9/row, ≤6e17 summed at ×100 —
    * inside long; at ~×1000 the sum would need widening and ANSI mode
    * fails it LOUDLY (overflow error, never a silent wrap). */
  private def cents(c: Column): Column = round(c * 100).cast("long")
  private def discBar(c: Column): Column = lit(100L) - cents(c)

  /** TPC-H Q1-shaped pricing summary: map-side partial agg, one shuffle on
    * the two low-cardinality keys. Reference analog: success/fail tallies
    * A3 (`src/base.py:94-97`) generalized to full agg. Sums are
    * integer-exact in cent units (see [[cents]] — the ×30 finding). */
  val q01PricingSummary: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
    val n = count(lit(1))
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum(cents(col("l_quantity"))).cast("double") / 100.0, 4)
          .as("sum_qty"),
        round(sum(cents(col("l_extendedprice"))).cast("double") / 100.0, 4)
          .as("sum_base_price"),
        round(sum(cents(col("l_extendedprice")) * discBar(col("l_discount")))
          .cast("double") / 10000.0, 4).as("sum_disc_price"),
        round(sum(cents(col("l_quantity"))).cast("double") / 100.0 / n, 4)
          .as("avg_qty"),
        round(sum(cents(col("l_discount"))).cast("double") / 100.0 / n, 4)
          .as("avg_disc"),
        n.as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** TPC-H Q6-shaped filtered revenue: all predicates reach the parquet
    * scan (PushedFilters), projection pruned to 4 columns. */
  val q02FilteredRevenue: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
    li.filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") <  lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.03, 0.07) &&
        col("l_quantity") < 24)
      .agg(round(sum(cents(col("l_extendedprice")) * cents(col("l_discount")))
        .cast("double") / 10000.0, 4).as("revenue"))
  }

  /** Revenue per region/nation: three broadcast hash joins against small
    * dims (J1 `general_utils.py:67-91` shape) — no shuffle for the joins,
    * one shuffle for the final agg. */
  val q03RegionRevenue: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
    val sup = Tables(s, dir, "supplier")
    val nat = Tables(s, dir, "nation")
    val reg = Tables(s, dir, "region")
    li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(round(sum(cents(col("l_extendedprice")) * discBar(col("l_discount")))
             .cast("double") / 10000.0, 4).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  /** Left-semi join (J2 universe membership, `reddit.py:89`): customers
    * having at least one high-value order. Orders side is aggregated to
    * distinct keys by the semi join itself. */
  val q04SemiJoin: Q = (s, dir) => {
    val cust = Tables(s, dir, "customer")
    val ord = Tables(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** Left-anti join (J3 existence anti-join, `workqueue_setup.py:35-36`):
    * customers with no high-value orders, counted per segment. The orders
    * side is filtered so the result is non-empty at sf0.01 (round-1 advice:
    * the unfiltered form returned 0 rows — a vacuous pass). */
  val q05AntiJoin: Q = (s, dir) => {
    val cust = Tables(s, dir, "customer")
    val ord = Tables(s, dir, "orders").filter(col("o_totalprice") > 450000.0)
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("c_mktsegment")
  }

  /** Window ranking (L4 top-1 mode generalized): top-3 orders by price per
    * priority class, ties broken by key for determinism. Ranked by
    * `plans/BoundedTopK` instead of a raw 5-partition window — the
    * round-1 verdict's scale-killer — so no task ever sorts a whole
    * priority class: the map-side heaps cut each class to k rows per
    * input partition before the exchange. */
  val q06WindowTopK: Q = (s, dir) => {
    val ord = Tables(s, dir, "orders")
    graft.plans.BoundedTopK
      .perGroup(ord, Seq("o_orderpriority"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 3)
      .select(col("o_orderpriority"), col("rank").as("rn"), col("o_orderkey"),
        col("o_totalprice"))
      .orderBy("o_orderpriority", "rn")
  }

  /** Distinct aggregation (A4 `distinct('ticker_symbol')`): exact distinct
    * per group — expands to two-phase agg under the hood. */
  val q07DistinctAgg: Q = (s, dir) => {
    val cust = Tables(s, dir, "customer")
    cust.groupBy("c_mktsegment")
      .agg(countDistinct("c_nationkey").as("n_nations"),
           count(lit(1)).as("n_customers"),
           round(sum("c_acctbal"), 4).as("sum_bal"))
      .orderBy("c_mktsegment")
  }

  /** Hierarchical rollup (A2 ICB-hierarchy majority coarsening is a rollup
    * along region→nation): one pass computes all levels. */
  val q08RollupRevenue: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
    val sup = Tables(s, dir, "supplier")
    val nat = Tables(s, dir, "nation")
    val reg = Tables(s, dir, "region")
    // Rollup as union-of-partial-aggregates rather than GROUP BY ROLLUP:
    // avoids the Expand node (which triples every input row before the
    // shuffle) AND the Spark 4 ambiguous-attribute analyzer trip that the
    // Expand's duplicated grouping attrs cause in the Dataset API (round-1
    // advice: no temp-view side effect). The detail level aggregates the
    // full input once (25 groups); the coarser levels re-aggregate that
    // tiny result — strictly less work at 100 TB.
    val detail = li
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      // integer-exact revenue term (the x30 finding, see cents): the
      // rollup re-aggregates rev, so it stays a LONG unit sum through
      // every level and converts to currency only at the display round
      .agg(sum(cents(col("l_extendedprice")) * discBar(col("l_discount"))).as("rev"))
    val byRegion = detail.groupBy("r_name")
      .agg(sum("rev").as("rev")).withColumn("n_name", lit(null).cast("string"))
    val grand = detail.agg(sum("rev").as("rev"))
      .withColumn("r_name", lit(null).cast("string"))
      .withColumn("n_name", lit(null).cast("string"))
    detail.unionByName(byRegion.select("r_name", "n_name", "rev"))
      .unionByName(grand.select("r_name", "n_name", "rev"))
      .select(col("r_name"), col("n_name"),
        round(col("rev").cast("double") / 10000.0, 4).as("revenue"))
      .orderBy("r_name", "n_name")
  }

  /** Tumbling 1-hour windows (W1 `reddit.py:92-101`): hourly event counts.
    * Expressed as date_trunc so the grouping key is a plain timestamp
    * (identical semantics to window().start, oracle-friendly). */
  val q09EventsHourly: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    ev.groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           round(sum("value"), 4).as("sum_value"))
      .orderBy("hour", "event_type")
  }

  /** Majority vote with 2/3 threshold (A1 `get_sector`,
    * `general_utils.py:126-147`): per user, the dominant event_type if its
    * share exceeds 2/3, else null. Ties broken lexicographically. */
  val q10MajorityVote: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    val counts = ev.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("user_id")
    val ranked = counts
      .withColumn("total", sum("cnt").over(w))
      .withColumn("rn", row_number().over(
        w.orderBy(col("cnt").desc, col("event_type").asc)))
    ranked.filter(col("rn") === 1)
      .select(col("user_id"),
        when(col("cnt") * 3 > col("total") * 2, col("event_type"))
          .otherwise(lit(null)).as("majority_event"),
        col("cnt").as("top_cnt"), col("total"))
      .orderBy("user_id")
  }

  /** JSON field extraction (O15 JSONP-strip + parse, `eastmoney.py:72-75`):
    * pull props.k out of the JSON string column and aggregate. */
  val q11JsonExtract: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    ev.select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("event_type")
      .agg(round(avg("k"), 4).as("avg_k"),
           sum("k").as("sum_k"),
           count(lit(1)).as("cnt"))
      .orderBy("event_type")
  }

  /** Gap-based sessionization over the events stream: a session breaks
    * after 30 idle minutes; sessions are numbered per user with a
    * cumulative sum over a lag. Both windows partition on user_id —
    * high-cardinality, scale-safe (and the streaming twin is
    * session_window(ts, '30 minutes')). */
  val q38Sessionize: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val sessions = ev
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > 1800, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sessions.groupBy("user_id", "session_id")
      .agg(min("ts").as("session_start"),
        count(lit(1)).as("n_events"),
        (max(col("ts").cast("long")) - min(col("ts").cast("long"))).as("duration_sec"),
        round(sum("value"), 4).as("sum_value"))
      .orderBy("user_id", "session_id")
  }

  /** Pivot: event_type × day-of-week count matrix via the native
    * `pivot(col, values)` relational operator — values are DECLARED, so
    * Spark skips the extra distinct-scan pass and plans one partial-
    * aggregated shuffle on event_type alone (each output row carries its
    * seven counters in the aggregation buffer; scale-equivalent to q09's
    * hourly rollup). Spark's dayofweek is 1=Sunday..7=Saturday. */
  val q72PivotMatrix: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    ev.select(col("event_type"), dayofweek(col("ts")).as("dow"))
      .groupBy("event_type")
      .pivot("dow", (1 to 7).map(i => i: Any))
      .agg(count(lit(1)))
      .select(col("event_type") +:
        (1 to 7).map(i => coalesce(col(s"$i"), lit(0L)).as(s"dow$i")): _*)
      .orderBy("event_type")
  }

  /** Sliding windows (2h width, 1h slide): each event contributes to two
    * overlapping windows — the trend-smoothing counterpart of q09's
    * tumbling hour (W1) with the same partial-agg-then-one-shuffle shape
    * (the explode to window instances happens map-side; the composite
    * (window, type) key is well distributed). Streaming twin:
    * `StreamingOps.slidingCounts`. */
  val q73SlidingWindow: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    ev.groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n_events"))
      .orderBy("w_start", "event_type")
  }

  /** CUBE over (event_type, day-of-week): all four grouping sets in one
    * pass — the full-lattice sibling of q08's ROLLUP (A2's grouping-set
    * shape). Value sums go through decimal so every grouping set is
    * partition-order independent. */
  val q74Cube: Q = (s, dir) => {
    // Union-of-partial-aggregates instead of CUBE — the q08/q116
    // pattern: CUBE's Expand node QUADRUPLED every event row before the
    // partial aggregation. The finest set aggregates the input once;
    // the three coarser sets re-aggregate its group-cardinality rows
    // (long count and decimal(25,10) sum are exact/associative), so
    // each level's rows equal the Expand form's — including data-null
    // group keys, which CUBE also keeps separate from its marker nulls
    // only via grouping ids the output never projected; both forms emit
    // the same multiset.
    val ev = Tables(s, dir, "events")
    // group-cardinality rows; feeds 4 levels
    val fine = Checkpoints.materialize(ev.select(col("event_type"),
        dayofweek(col("ts")).cast("long").as("dow"), col("value"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(25,10)")).as("v")))
    val l00 = fine.select(col("event_type"), col("dow"), col("n"), col("v"))
    val l01 = fine.groupBy(col("event_type")).agg(sum("n").as("n"), sum("v").as("v"))
      .select(col("event_type"), lit(null).cast("long").as("dow"), col("n"), col("v"))
    val l10 = fine.groupBy(col("dow")).agg(sum("n").as("n"), sum("v").as("v"))
      .select(lit(null).cast("string").as("event_type"), col("dow"), col("n"), col("v"))
    val l11 = fine.agg(sum("n").as("n"), sum("v").as("v"))
      .select(lit(null).cast("string").as("event_type"),
        lit(null).cast("long").as("dow"), col("n"), col("v"))
    l00.unionByName(l01).unionByName(l10).unionByName(l11)
      .select(col("event_type"), col("dow"), col("n").as("n_events"),
        round(col("v").cast("double"), 4).as("sum_value"))
      .orderBy(col("event_type").asc_nulls_first, col("dow").asc_nulls_first)
  }

  /** Per-nation revenue through `ops/SaltedJoin` (32 salts on the
    * lineitem→supplier key): the skew-safe equi-join shape for when a
    * dimension is replicable but a hot key would pin one task — the
    * oracle is the PLAIN join, so ground truth proves salting changes
    * nothing but the distribution. Revenue decimal-sums (partition-order
    * independent). */
  val q78SaltedJoin: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    val sup = Tables(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      .join(broadcast(Tables(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey").as("l_suppkey"), col("n_name"))
    graft.ops.SaltedJoin.join(li, sup, key = "l_suppkey", numSalts = 32,
        saltOn = hash(col("l_orderkey")))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("rev").cast("decimal(25,10)")).cast("double"), 4)
          .as("revenue"))
      .orderBy("n_name")
  }

  /** Correlated scalar subquery (TPC-H Q17 shape) through the SQL entry
    * point: small-quantity order revenue, each lineitem compared against
    * ITS part's average quantity. Catalyst DECORRELATES the per-part
    * aggregate subquery into one grouped aggregation joined back to the
    * probe side — no per-row re-aggregation at any scale (plan-linted:
    * no CartesianProduct; the rewrite is `RewriteCorrelatedScalarSubquery`).
    * Inner and outer sums are decimal-quantized so both the 0.2·avg
    * threshold and the revenue hash-match DuckDB exactly. */
  /** ASYMMETRIC grouping sets through the SQL surface — ((rf,ls), (ls),
    * ()) is expressible by neither rollup nor cube; grouping() flags
    * disambiguate real NULL group values from subtotal rows. One Expand
    * + one hash agg in the plan, not one scan per set. */
  val q116GroupingSets: Q = (s, dir) => {
    // Union-of-partial-aggregates instead of GROUP BY GROUPING SETS —
    // the q08 pattern: the GROUPING SETS plan's Expand node TRIPLED
    // every lineitem row before the partial aggregation (3 sets × every
    // input row), pure per-row CPU that grows linearly with the corpus.
    // The finest set ((rf, ls)) aggregates the input ONCE; the coarser
    // sets ((ls), ()) re-aggregate its ~|rf×ls| rows — count re-sums as
    // a long and the decimal(28,12) quantity sum is exact/associative,
    // so every level's values are identical to the Expand form.
    // grouping() markers become literals per level (data-null group
    // keys keep g=0, exactly as grouping() reports them).
    // group-cardinality rows; feeds 3 levels
    val fine = Checkpoints.materialize(Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(28,12)")).as("q")))
    val lvl0 = fine.select(col("l_returnflag"), col("l_linestatus"),
      lit(0).as("g_rf"), lit(0).as("g_ls"), col("n"), col("q"))
    val lvl1 = fine.groupBy(col("l_linestatus"))
      .agg(sum("n").as("n"), sum("q").as("q"))
      .select(lit(null).cast("string").as("l_returnflag"), col("l_linestatus"),
        lit(1).as("g_rf"), lit(0).as("g_ls"), col("n"), col("q"))
    val lvl2 = fine.agg(sum("n").as("n"), sum("q").as("q"))
      .select(lit(null).cast("string").as("l_returnflag"),
        lit(null).cast("string").as("l_linestatus"),
        lit(1).as("g_rf"), lit(1).as("g_ls"), col("n"), col("q"))
    lvl0.unionByName(lvl1).unionByName(lvl2)
      .select(col("l_returnflag"), col("l_linestatus"),
        col("g_rf"), col("g_ls"), col("n"),
        round(col("q").cast("double"), 4).as("sum_qty"))
      .orderBy(col("g_rf"), col("g_ls"),
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  /** Shuffle-key pre-flight: the skew audit (`ops/SkewAudit`) over
    * lineitem's supplier key — the diagnostic that decides between the
    * plain join, q78's salted join, or a broadcast. */
  val q117SkewAudit: Q = (s, dir) => {
    graft.ops.SkewAudit.audit(Tables(s, dir, "lineitem"), col("l_suppkey"))
  }

  /** TPC-H Q21 shape (suppliers solely responsible for an order's late
    * line): correlated EXISTS + correlated NOT EXISTS that additionally
    * references the OUTER join's orders row — the double-decorrelation
    * stress. Catalyst lowers both to (semi, anti) joins on l_orderkey;
    * no per-row re-scan of lineitem survives in the plan. */
  val q119LoneLateSupplier: Q = (s, dir) => {
    Tables(s, dir, "lineitem").createOrReplaceTempView("v_lineitem")
    Tables(s, dir, "orders").createOrReplaceTempView("v_orders")
    Tables(s, dir, "supplier").createOrReplaceTempView("v_supplier")
    // "late" is a DAY-granularity contract, stated identically on both
    // sides of the comparison: `l_shipdate > date_add(o_orderdate, 60)`
    // left l_shipdate a TIMESTAMP while date_add truncated the other
    // side to DATE, so a shipdate with a time-of-day component counted
    // as late 2 h before the oracle's date-vs-date compare did — found
    // by the corpus-B probe (+26 h timestamp shift), invisible on the
    // driver corpus's midnight-aligned timestamps.
    s.sql("""
      SELECT s_name, count(*) AS numwait
      FROM v_supplier JOIN v_lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN v_orders o ON o_orderkey = l1.l_orderkey
      WHERE o_orderstatus = 'F'
        AND CAST(l1.l_shipdate AS DATE) > date_add(CAST(o.o_orderdate AS DATE), 60)
        AND EXISTS (SELECT 1 FROM v_lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM v_lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND CAST(l3.l_shipdate AS DATE) > date_add(CAST(o.o_orderdate AS DATE), 60))
      GROUP BY s_name ORDER BY numwait DESC, s_name""")
  }

  /** Correlated LATERAL subquery with ORDER BY + LIMIT 1 — per-supplier
    * top-revenue order through the SQL surface. Catalyst decorrelates
    * the lateral into a window-ranked join whose WindowGroupLimit caps
    * each group before the exchange; revenue is the double product quantized to decimal
    * before summing (the determinism contract). */
  val q120LateralTopOrder: Q = (s, dir) => {
    Tables(s, dir, "lineitem").createOrReplaceTempView("v_lineitem")
    Tables(s, dir, "supplier").createOrReplaceTempView("v_supplier")
    s.sql("""
      SELECT s.s_suppkey, t.l_orderkey, t.revenue
      FROM v_supplier s, LATERAL (
        SELECT l_orderkey,
          round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
            AS DECIMAL(28,12))) AS DOUBLE), 4) AS revenue
        FROM v_lineitem WHERE l_suppkey = s.s_suppkey
        GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 1) t
      ORDER BY s.s_suppkey""")
  }

  /** TPC-H Q13 shape (customer order-count distribution): the predicate
    * lives in the OUTER join's ON clause — customers whose every order is
    * urgent must still appear with count 0, so hoisting it to WHERE (or
    * counting `*` instead of the nullable o_orderkey) is wrong. Plan:
    * one shuffle join on custkey (orders dwarfs customer; the null-
    * preserving side can't broadcast-prune), two hash aggs — the second
    * groups on the tiny count domain, so its exchange is ~50 rows. */
  val q121CustDistribution: Q = (s, dir) => {
    val cust = Tables(s, dir, "customer")
    val ord = Tables(s, dir, "orders")
    cust.join(ord,
        col("c_custkey") === col("o_custkey") &&
          col("o_orderpriority") =!= "1-URGENT", "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q19 shape (disjunctive mixed-table predicate): OR of three
    * brand/size/quantity conjunctions spanning BOTH join sides. Catalyst's
    * CNF conversion pushes each side's derivable disjunction below the
    * join (part keeps `(brand∧size) ∨ …`, lineitem keeps the quantity
    * ranges), so the join sees pre-filtered inputs instead of evaluating
    * the cross-table OR on the full fact table. Revenue terms quantized
    * to decimal(28,12) before summing (determinism contract). */
  val q122DisjunctivePredicate: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
    val part = Tables(s, dir, "part")
    def arm(brand: String, s0: Int, s1: Int, q0: Int, q1: Int) =
      col("p_brand") === brand && col("p_size").between(s0, s1) &&
        col("l_quantity").between(q0, q1)
    li.join(part, col("p_partkey") === col("l_partkey"))
      .filter(arm("Brand#4", 1, 15, 1, 20) ||
        arm("Brand#19", 10, 30, 10, 35) ||
        arm("Brand#17", 20, 50, 20, 50))
      .agg(
        round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(28,12)")).cast("double"), 4).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** Value-RANGE window frame (trailing 24 h per event): each row's
    * aggregate covers a time-RANGE of preceding rows, not a row count —
    * the frame family q06/q73 (rank / window-instance) don't exercise.
    * Ordering key is exact integer micros on BOTH engines (unix_micros /
    * epoch_us) — a seconds cast would truncate in Spark but round in
    * DuckDB. Per-row trailing counts then collapse to a per-type peak +
    * mean, so output is type-cardinality. Runs on the SHARDED frame
    * (`ops/ShardedRangeFrame`, day-wide shards + previous-day context
    * copies): partitionBy alone is the low-cardinality event_type, so
    * the naive frame caps parallelism at |types| — the sf1 rehearsal
    * measured it as the surface's worst scaler before the shard. Output
    * is bit-identical to the naive window (spec-asserted) so the oracle
    * is unchanged. */
  val q124RangeFrame: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    graft.ops.ShardedRangeFrame.trailingAgg(
        ev.select(col("event_type"), unix_micros(col("ts")).as("us")),
        Seq("event_type"), "us",
        frame = 86399999999L, shard = 86400000000L,
        aggs = Seq("c" -> count(lit(1))))
      .groupBy("event_type")
      .agg(max("c").as("peak_24h"),
        round(sum("c").cast("double") / count(lit(1)), 4).as("avg_24h"))
      .orderBy("event_type")
  }

  /** Distribution-position window functions — percent_rank, cume_dist,
    * ntile, nth_value — the rank family q06/q73 (row_number / rank over
    * frames) don't exercise. Order key carries event_id so ties are
    * total-ordered and RANGE ≡ ROWS frames; nth_value sees the default
    * running frame (null until the 3rd row). Exact integer-ratio
    * outputs — no rounding needed. Top-20 per type keeps the output
    * type-cardinality-bounded while the windows still compute over FULL
    * partitions. */
  val q137WindowRanks: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    val w = Window.partitionBy("event_type")
      .orderBy(col("value").desc, col("event_id").asc)
    ev.select(col("event_type"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(w))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("third_highest", nth_value(col("value"), 3).over(w))
      .filter(col("rn") <= 20)
      .orderBy("event_type", "rn")
  }

  /** Wide→long UNPIVOT (melt) of a per-source stats table — the inverse
    * of q72's pivot; Spark's native `unpivot` lowers to one Expand (one
    * scan for all measures, not one scan per measure). */
  val q138Unpivot: Q = (s, dir) => {
    val d = Tables(s, dir, "documents")
    val wide = d.groupBy("source").agg(
      count(lit(1)).cast("double").as("n_docs"),
      round(avg(col("n_chars")), 4).as("avg_chars"),
      countDistinct(col("lang")).cast("double").as("n_langs"))
    wide.unpivot(Array(col("source")),
        Array(col("n_docs"), col("avg_chars"), col("n_langs")),
        "metric", "value")
      .orderBy("source", "metric")
  }

  /** Fuzzy entity matching on part names: pairs within Levenshtein
    * distance 2, candidates blocked on shared word tokens — the
    * master-data / catalog-reconciliation join (`ops/FuzzyJoin`).
    * Never an all-pairs cross join; PlanLint holds. */
  val q133FuzzyMatch: Q = (s, dir) => {
    val part = Tables(s, dir, "part")
    graft.ops.FuzzyJoin.selfMatch(part, "p_name", maxDist = 2)
      .orderBy("name_a", "name_b")
  }

  /** TPC-H Q7 shape — bilateral trade volume between two nations: the
    * nation dimension joins TWICE under different roles (supplier side
    * and customer side), and the pair filter is a disjunction SPANNING
    * both aliases — (A→B) OR (B→A) — so neither join alone can apply
    * it; it runs post-join over two broadcast dims. The 4-table fact
    * chain shuffles on its join keys once each; both nation copies
    * broadcast. Revenue decimal-quantized per line before the sum. */
  val q129NationVolume: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
    val ord = Tables(s, dir, "orders")
    val cust = Tables(s, dir, "customer")
    val supp = Tables(s, dir, "supplier")
    val nat = Tables(s, dir, "nation")
    val n1 = nat.select(col("n_nationkey").as("s_nk"),
      col("n_name").as("supp_nation"))
    val n2 = nat.select(col("n_nationkey").as("c_nk"),
      col("n_name").as("cust_nation"))
    li.join(ord, col("o_orderkey") === col("l_orderkey"))
      .join(cust, col("c_custkey") === col("o_custkey"))
      .join(supp, col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(n1), col("s_nk") === col("s_nationkey"))
      .join(broadcast(n2), col("c_nk") === col("c_nationkey"))
      .filter(
        (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(
        round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(28,12)")).cast("double"), 4).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q8 shape — market share: one nation's fraction of a region's
    * PROMO-part import revenue per year. The conditional-sum-over-sum
    * ratio aggregates BOTH legs in one pass (a CASE inside the
    * decimal-quantized sum — no second scan, no self-join); customer
    * nations pre-filter to the region BEFORE the join (the dim filter
    * prunes the fact rows through the join). Exact-decimal numerator
    * and denominator; the share is one double division. */
  val q130MarketShare: Q = (s, dir) => {
    val li = Tables(s, dir, "lineitem")
    val ord = Tables(s, dir, "orders")
    val cust = Tables(s, dir, "customer")
    val supp = Tables(s, dir, "supplier")
    val nat = Tables(s, dir, "nation")
    val rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast("decimal(28,12)")
    // region stated by NAME, not key literal (corpus-B vacuity audit,
    // round 14: `n_regionkey === 2` matched nothing on any key-remapped
    // corpus, leaving q130 a vacuous green on corpus-B since round 13 —
    // names survive remaps, key literals are corpus accidents)
    val asiaNat = nat
      .join(broadcast(Tables(s, dir, "region")
        .filter(col("r_name") === "ASIA").select(col("r_regionkey"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nk"))
    val suppNat = nat.select(col("n_nationkey").as("s_nk"),
      col("n_name").as("supp_nation"))
    li.join(Tables(s, dir, "part").filter(col("p_type") === "PROMO"),
        col("p_partkey") === col("l_partkey"))
      .join(ord, col("o_orderkey") === col("l_orderkey"))
      .join(cust, col("c_custkey") === col("o_custkey"))
      .join(broadcast(asiaNat), col("c_nk") === col("c_nationkey"))
      .join(supp, col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(suppNat), col("s_nk") === col("s_nationkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        round(sum(when(col("supp_nation") === "NATION_7", rev)
            .otherwise(lit(0).cast("decimal(28,12)"))).cast("double")
          / sum(rev).cast("double"), 6).as("mkt_share"),
        round(sum(rev).cast("double"), 4).as("total_rev"),
        count(lit(1)).as("n_lines"))
      .orderBy("o_year")
  }

  val q105SmallQtyRevenue: Q = (s, dir) => {
    Tables(s, dir, "lineitem").createOrReplaceTempView("v_lineitem")
    Tables(s, dir, "part").createOrReplaceTempView("v_part")
    s.sql("""
      SELECT p.p_brand, count(*) AS n_small,
        round(CAST(sum(CAST(l1.l_extendedprice AS DECIMAL(28,12))) AS DOUBLE) / 7.0, 2) AS avg_yearly
      FROM v_lineitem l1 JOIN v_part p ON p.p_partkey = l1.l_partkey
      WHERE l1.l_quantity < 0.2 * (
        SELECT CAST(sum(CAST(l2.l_quantity AS DECIMAL(28,12))) AS DOUBLE) / count(*)
        FROM v_lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
      GROUP BY p.p_brand ORDER BY p.p_brand""")
  }

  /** Aggregate-HAVING IN-subquery (TPC-H Q18 shape): orders whose total
    * lineitem quantity clears a threshold, joined to their customers.
    * Catalyst rewrites the IN into a left-semi join against the grouped
    * aggregate — the membership probe never materializes per-row. The
    * HAVING sum is decimal-quantized (a double sum's partition-order
    * noise could flip rows AT the threshold). */
  val q106BigOrders: Q = (s, dir) => {
    Tables(s, dir, "orders").createOrReplaceTempView("v_orders")
    Tables(s, dir, "customer").createOrReplaceTempView("v_customer")
    Tables(s, dir, "lineitem").createOrReplaceTempView("v_lineitem")
    s.sql("""
      SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
      FROM v_orders o JOIN v_customer c ON c.c_custkey = o.o_custkey
      WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM v_lineitem GROUP BY l_orderkey
        HAVING sum(CAST(l_quantity AS DECIMAL(28,12))) > 200)
      ORDER BY o.o_orderkey""")
  }

  /** Ungrouped scalar subquery + correlated NOT EXISTS (TPC-H Q22
    * shape): above-average-balance customers with no TOP-5%-value order.
    * The average becomes a broadcast single-row aggregate; the NOT
    * EXISTS becomes a left-anti join (no per-row probes). "High-value"
    * is a DATA-DERIVED contract — the 95th-percentile order price
    * (percentile_disc, an order statistic, engine-exact) — not a
    * magnitude literal: the corpus-B2 value-scale probe (round 14)
    * zeroed the old `> 300000.0` filter (×7 prices put nearly every
    * customer over it), the magnitude-accident twin of the q149 seed
    * literal. The filter also keeps the result non-empty at sf0.01 —
    * the unfiltered form returns 0 rows, a vacuous pass (the q05
    * lesson). */
  val q107NoOrderCustomers: Q = (s, dir) => {
    Tables(s, dir, "orders").createOrReplaceTempView("v_orders")
    Tables(s, dir, "customer").createOrReplaceTempView("v_customer")
    s.sql("""
      SELECT c.c_mktsegment, count(*) AS n_cust,
        round(CAST(sum(CAST(c.c_acctbal AS DECIMAL(28,12))) AS DOUBLE), 2) AS total_bal
      FROM v_customer c
      WHERE c.c_acctbal > (
          SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(28,12))) AS DOUBLE) / count(*)
          FROM v_customer c2 WHERE c2.c_acctbal > 0.0)
        AND NOT EXISTS (SELECT 1 FROM v_orders o
                        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > (
                          SELECT percentile_disc(0.95) WITHIN GROUP (ORDER BY o2.o_totalprice)
                          FROM v_orders o2))
      GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""")
  }

  /** Aggregate-of-aggregate scalar subquery (TPC-H Q15 shape): the
    * supplier(s) achieving maximum total revenue. The revenue CTE is
    * aggregated once and reused for both the join side and the max —
    * equality against the max is DECIMAL-exact, so ties (and the
    * winner) are engine-independent. */
  val q108TopSupplier: Q = (s, dir) => {
    // The rev CTE was referenced twice (join side + scalar max subquery)
    // and CTE inlining re-ran the corpus-sized lineitem scan + suppkey
    // aggregate for each (plans/r16/q108_top_supplier_before.txt: 2
    // lineitem scans, 2 suppkey HashAggregates, no exchange reuse).
    // Materialize the supplier-cardinality aggregate ONCE and derive the
    // max from it — same decimal sums, same max, same equality filter
    // (ties survive in both forms; a NULL total_rev row fails `=` in
    // both), so the result is identical by construction.
    val rev = Checkpoints.materialize(Tables(s, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(25,10)"))
        .cast("decimal(38,10)").as("total_rev")))
    val mx = rev.agg(max(col("total_rev")).as("__mx"))
    val top = rev.crossJoin(broadcast(mx))
      .filter(col("total_rev") === col("__mx"))
    Tables(s, dir, "supplier")
      .join(top, col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("total_rev").cast("double"), 4).as("total_rev"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q2 shape — correlated equality against a per-key MIN: for each
    * SMALL part, the supplier(s) whose lineitem hit that part's minimum
    * extended price. The correlated `= (SELECT min ...)` decorrelates to
    * one grouped min joined back on partkey — the EQUALITY twin of q105's
    * inequality threshold (a different rewrite branch: the filter keeps
    * only exact-min rows, so ties survive and both engines must agree on
    * them — raw stored doubles compare exactly, no arithmetic). */
  val q139MinPriceSupplier: Q = (s, dir) => {
    Tables(s, dir, "lineitem").createOrReplaceTempView("v_lineitem")
    Tables(s, dir, "part").createOrReplaceTempView("v_part")
    Tables(s, dir, "supplier").createOrReplaceTempView("v_supplier")
    Tables(s, dir, "nation").createOrReplaceTempView("v_nation")
    s.sql("""
      SELECT p.p_partkey, p.p_name, sup.s_name, n.n_name,
        l.l_extendedprice AS min_price
      FROM v_part p
      JOIN v_lineitem l ON l.l_partkey = p.p_partkey
      JOIN v_supplier sup ON sup.s_suppkey = l.l_suppkey
      JOIN v_nation n ON n.n_nationkey = sup.s_nationkey
      WHERE p.p_type = 'SMALL' AND p.p_size <= 10
        AND l.l_extendedprice = (
          SELECT min(l2.l_extendedprice) FROM v_lineitem l2
          WHERE l2.l_partkey = p.p_partkey)
      ORDER BY p.p_partkey, sup.s_name""")
  }

  /** TPC-H Q11 shape — group aggregate filtered against a GLOBAL scalar
    * aggregate of the same stream: parts whose revenue exceeds 1.5× the
    * mean per-part revenue (scale-free, unlike Q11's literal fraction —
    * one query text stays non-vacuous at every SF). The inner total is
    * one broadcast
    * single-row aggregate; the fraction multiply runs in IEEE double on
    * BOTH engines (identical exact decimal sums → identical double cast
    * → identical product), so threshold-boundary rows can't flip. */
  val q140ImportantParts: Q = (s, dir) => {
    Tables(s, dir, "lineitem").createOrReplaceTempView("v_lineitem")
    s.sql("""
      WITH value AS (
        SELECT l_partkey,
          sum(CAST(l_extendedprice AS DECIMAL(28,12))) AS val
        FROM v_lineitem GROUP BY l_partkey)
      SELECT l_partkey, round(CAST(val AS DOUBLE), 4) AS part_value
      FROM value
      WHERE CAST(val AS DOUBLE) > (
        SELECT CAST(sum(val) AS DOUBLE) / count(*) * 1.5 FROM value)
      ORDER BY l_partkey""")
  }

  /** TPC-H Q16 shape — NOT IN subquery (null-aware anti join) + distinct
    * supplier count per part attribute triple. Catalyst plans the NOT IN
    * as a null-aware anti join — semantically stricter than q05's NOT
    * EXISTS anti (one NULL in the subquery empties the result); here the
    * key column is non-null so it lowers to the same anti-join shape,
    * which is exactly the rewrite this query pins. */
  val q141PartSupplierCount: Q = (s, dir) => {
    Tables(s, dir, "lineitem").createOrReplaceTempView("v_lineitem")
    Tables(s, dir, "part").createOrReplaceTempView("v_part")
    Tables(s, dir, "supplier").createOrReplaceTempView("v_supplier")
    s.sql("""
      SELECT p.p_brand, p.p_type, p.p_size,
        count(DISTINCT l.l_suppkey) AS supplier_cnt
      FROM v_lineitem l JOIN v_part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand <> 'Brand#4' AND p.p_type <> 'PROMO'
        AND p.p_size IN (1, 5, 9, 13, 17, 21)
        AND l.l_suppkey NOT IN (
          SELECT s_suppkey FROM v_supplier WHERE s_nationkey < 3)
      GROUP BY p.p_brand, p.p_type, p.p_size
      ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size""")
  }

  /** TPC-H Q20 shape — NESTED correlated subqueries: an IN whose inner
    * query itself contains (a) an IN against a filtered dimension and
    * (b) a correlated scalar aggregate — the "suppliers with excess
    * stock" pattern over the lineitem-derived part-supplier inventory.
    * Exercises two decorrelations in one plan: the outer IN → semi
    * join, the inner correlated sum → grouped agg LEFT-joined back; a
    * pair with no 1996 shipments gets a NULL sum, and NULL comparison
    * semantics filter it on BOTH engines (the no-COALESCE branch of
    * the rewrite). Quantity sums decimal-exact, so the 4× threshold
    * can't flip. */
  val q142ExcessStock: Q = (s, dir) => {
    Tables(s, dir, "lineitem").createOrReplaceTempView("v_lineitem")
    Tables(s, dir, "part").createOrReplaceTempView("v_part")
    Tables(s, dir, "supplier").createOrReplaceTempView("v_supplier")
    s.sql("""
      SELECT s.s_suppkey, s.s_name
      FROM v_supplier s
      WHERE s.s_suppkey IN (
        SELECT ps.l_suppkey FROM (
          SELECT l_partkey, l_suppkey,
            sum(CAST(l_quantity AS DECIMAL(28,12))) AS total_qty
          FROM v_lineitem GROUP BY l_partkey, l_suppkey) ps
        WHERE ps.l_partkey IN (
            SELECT p_partkey FROM v_part WHERE p_name LIKE 'red%')
          AND ps.total_qty > 4 * (
            SELECT sum(CAST(l2.l_quantity AS DECIMAL(28,12)))
            FROM v_lineitem l2
            WHERE l2.l_partkey = ps.l_partkey
              AND l2.l_suppkey = ps.l_suppkey
              AND l2.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l2.l_shipdate <  TIMESTAMP '1997-01-01'))
      ORDER BY s.s_suppkey""")
  }

  /** Semi-structured access through Spark 4's VARIANT type: `parse_json`
    * once into the binary variant encoding, then typed `variant_get`
    * paths — the columnar-shredding-friendly fast path that replaces
    * per-access JSON string re-parsing (q11's `get_json_object` runs the
    * string parser on EVERY extraction; variant parses once per row and
    * every subsequent path is a binary offset walk — the difference
    * compounds at many-fields-per-row on a 100 TB events stream).
    * Results must equal the string-path q11 semantics exactly. */
  val q143VariantExtract: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    ev.select(col("event_type"), parse_json(col("props")).as("v"))
      .select(col("event_type"),
        variant_get(col("v"), "$.k", "int").as("k"))
      .groupBy("event_type")
      .agg(round(avg("k"), 4).as("avg_k"),
           sum("k").cast("long").as("sum_k"),
           min("k").as("min_k"),
           max("k").as("max_k"),
           count(lit(1)).as("cnt"))
      .orderBy("event_type")
  }

  /** Per-priority top-3 orders through the CUSTOM PHYSICAL OPERATOR
    * (`plans/BoundedTopK`: logical node → planner strategy → map-side
    * heaps, exchange, sort, streaming final) — q06's semantics below the
    * DataFrame API. The oracle is the window-ranked spelling, so green
    * means the custom operator is result-identical to the declarative
    * form (the q78 salted-vs-plain pattern, at the physical-plan rung). */
  val q144NativeTopK: Q = (s, dir) => {
    val ord = Tables(s, dir, "orders")
    graft.plans.BoundedTopK.perGroup(ord, Seq("o_orderpriority"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 3)
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
      .orderBy(col("o_orderpriority"), col("o_totalprice").desc,
        col("o_orderkey"))
  }

  /** XML ingestion through Spark 4's native `from_xml` (the reference's
    * feed surfaces are HTML/XML-shaped; S2/S4's strip-and-extract path
    * covers scraping, this covers SCHEMA'D XML parse). The document is
    * constructed deterministically from events fields, round-tripped
    * through the XML parser, and aggregated — so the oracle is the
    * plain non-XML computation, and green certifies the parse is
    * lossless over the typed fields. */
  val q146XmlExtract: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    // coalesce: a row with no $.k must degrade to an EMPTY <k/> (parsed
    // as null k) — a null operand would null the whole concat, null the
    // parsed struct, and migrate the row's true event_type to NULL,
    // diverging from the per-field oracle
    val xml = concat(lit("<e><t>"), col("event_type"), lit("</t><k>"),
      coalesce(get_json_object(col("props"), "$.k"), lit("")), lit("</k></e>"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("t",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.IntegerType)))
    ev.select(from_xml(xml, schema).as("x"))
      .select(col("x.t").as("event_type"), col("x.k").as("k"))
      .groupBy("event_type")
      .agg(sum("k").cast("long").as("sum_k"),
           min("k").as("min_k"), max("k").as("max_k"),
           count(lit(1)).as("cnt"))
      .orderBy("event_type")
  }

  val defs: Map[String, Q] = Map(
    "q146_xml_extract" -> q146XmlExtract,
    "q144_native_topk" -> q144NativeTopK,
    "q143_variant_extract" -> q143VariantExtract,
    "q139_min_price_supplier" -> q139MinPriceSupplier,
    "q140_important_parts" -> q140ImportantParts,
    "q141_part_supplier_count" -> q141PartSupplierCount,
    "q142_excess_stock" -> q142ExcessStock,
    "q108_top_supplier" -> q108TopSupplier,
    "q107_no_order_customers" -> q107NoOrderCustomers,
    "q106_big_orders" -> q106BigOrders,
    "q116_grouping_sets" -> q116GroupingSets,
    "q117_skew_audit" -> q117SkewAudit,
    "q137_window_ranks" -> q137WindowRanks,
    "q138_unpivot" -> q138Unpivot,
    "q133_fuzzy_match" -> q133FuzzyMatch,
    "q129_nation_volume" -> q129NationVolume,
    "q130_market_share" -> q130MarketShare,
    "q119_lone_late_supplier" -> q119LoneLateSupplier,
    "q120_lateral_top_order" -> q120LateralTopOrder,
    "q121_cust_distribution" -> q121CustDistribution,
    "q122_disjunctive_predicate" -> q122DisjunctivePredicate,
    "q124_range_frame" -> q124RangeFrame,
    "q105_small_qty_revenue" -> q105SmallQtyRevenue,
    "q78_salted_join" -> q78SaltedJoin,
    "q73_sliding_window" -> q73SlidingWindow,
    "q74_cube" -> q74Cube,
    "q72_pivot_matrix" -> q72PivotMatrix,
    "q01_pricing_summary" -> q01PricingSummary,
    "q38_sessionize" -> q38Sessionize,
    "q02_filtered_revenue" -> q02FilteredRevenue,
    "q03_region_revenue" -> q03RegionRevenue,
    "q04_semi_join" -> q04SemiJoin,
    "q05_anti_join" -> q05AntiJoin,
    "q06_window_topk" -> q06WindowTopK,
    "q07_distinct_agg" -> q07DistinctAgg,
    "q08_rollup_revenue" -> q08RollupRevenue,
    "q09_events_hourly" -> q09EventsHourly,
    "q10_majority_vote" -> q10MajorityVote,
    "q11_json_extract" -> q11JsonExtract,
  )

  val oracles: Map[String, String] = Map(
    "q146_xml_extract" ->
      """SELECT event_type,
           CAST(sum(k) AS BIGINT) AS sum_k,
           min(k) AS min_k, max(k) AS max_k, count(*) AS cnt
         FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
               FROM events) t
         GROUP BY 1 ORDER BY 1""",
    "q144_native_topk" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders) t
         WHERE rn <= 3
         ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""",
    "q143_variant_extract" ->
      """SELECT event_type, round(avg(k), 4) AS avg_k,
           CAST(sum(k) AS BIGINT) AS sum_k,
           min(k) AS min_k, max(k) AS max_k, count(*) AS cnt
         FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
               FROM events) t
         GROUP BY 1 ORDER BY 1""",
    "q139_min_price_supplier" ->
      """SELECT p.p_partkey, p.p_name, s.s_name, n.n_name,
           l.l_extendedprice AS min_price
         FROM part p
         JOIN lineitem l ON l.l_partkey = p.p_partkey
         JOIN supplier s ON s.s_suppkey = l.l_suppkey
         JOIN nation n ON n.n_nationkey = s.s_nationkey
         WHERE p.p_type = 'SMALL' AND p.p_size <= 10
           AND l.l_extendedprice = (
             SELECT min(l2.l_extendedprice) FROM lineitem l2
             WHERE l2.l_partkey = p.p_partkey)
         ORDER BY p.p_partkey, s.s_name""",
    "q140_important_parts" ->
      """WITH value AS (
           SELECT l_partkey,
             sum(CAST(l_extendedprice AS DECIMAL(28,12))) AS val
           FROM lineitem GROUP BY l_partkey)
         SELECT l_partkey, round(CAST(val AS DOUBLE), 4) AS part_value
         FROM value
         WHERE CAST(val AS DOUBLE) > (
           SELECT CAST(sum(val) AS DOUBLE) / count(*) * 1.5 FROM value)
         ORDER BY l_partkey""",
    "q141_part_supplier_count" ->
      """SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
         FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         WHERE p.p_brand <> 'Brand#4' AND p.p_type <> 'PROMO'
           AND p.p_size IN (1, 5, 9, 13, 17, 21)
           AND l.l_suppkey NOT IN (
             SELECT s_suppkey FROM supplier WHERE s_nationkey < 3)
         GROUP BY p.p_brand, p.p_type, p.p_size
         ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size""",
    "q142_excess_stock" ->
      """SELECT s.s_suppkey, s.s_name
         FROM supplier s
         WHERE s.s_suppkey IN (
           SELECT ps.l_suppkey FROM (
             SELECT l_partkey, l_suppkey,
               sum(CAST(l_quantity AS DECIMAL(28,12))) AS total_qty
             FROM lineitem GROUP BY l_partkey, l_suppkey) ps
           WHERE ps.l_partkey IN (
               SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
             AND ps.total_qty > 4 * (
               SELECT sum(CAST(l2.l_quantity AS DECIMAL(28,12)))
               FROM lineitem l2
               WHERE l2.l_partkey = ps.l_partkey
                 AND l2.l_suppkey = ps.l_suppkey
                 AND l2.l_shipdate >= TIMESTAMP '1996-01-01'
                 AND l2.l_shipdate <  TIMESTAMP '1997-01-01'))
         ORDER BY s.s_suppkey""",
    "q137_window_ranks" ->
      """WITH w AS (SELECT event_type, event_id, value,
             row_number() OVER win AS rn,
             percent_rank() OVER win AS pr,
             cume_dist() OVER win AS cd,
             ntile(4) OVER win AS quartile,
             nth_value(value, 3) OVER win AS third_highest
           FROM events
           WINDOW win AS (PARTITION BY event_type
             ORDER BY value DESC, event_id ASC))
         SELECT event_type, event_id, value, CAST(rn AS INT) AS rn, pr, cd,
           CAST(quartile AS INT) AS quartile, third_highest
         FROM w WHERE rn <= 20 ORDER BY event_type, rn""",
    "q138_unpivot" ->
      """WITH wide AS (SELECT source,
             CAST(count(*) AS DOUBLE) AS n_docs,
             round(CAST(sum(CAST(n_chars AS DECIMAL(28,12))) AS DOUBLE)
               / count(*), 4) AS avg_chars,
             CAST(count(DISTINCT lang) AS DOUBLE) AS n_langs
           FROM documents GROUP BY 1)
         SELECT source, metric, value FROM (
           SELECT source, 'n_docs' AS metric, n_docs AS value FROM wide
           UNION ALL
           SELECT source, 'avg_chars', avg_chars FROM wide
           UNION ALL
           SELECT source, 'n_langs', n_langs FROM wide)
         ORDER BY source, metric""",
    "q133_fuzzy_match" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part),
         t AS (SELECT p_name,
                 unnest(list_filter(string_split_regex(trim(p_name), '\s+'),
                   x -> len(x) > 0)) AS token
               FROM n),
         c AS (SELECT DISTINCT a.p_name AS name_a, b.p_name AS name_b
               FROM t a JOIN t b USING (token)
               WHERE a.p_name < b.p_name)
         SELECT name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS INT) AS dist
         FROM c WHERE levenshtein(name_a, name_b) <= 2
         ORDER BY 1, 2""",
    "q129_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           round(CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
             AS DECIMAL(28,12))) AS DOUBLE), 4) AS revenue,
           count(*) AS n_lines
         FROM lineitem l
           JOIN orders o ON o.o_orderkey = l.l_orderkey
           JOIN customer c ON c.c_custkey = o.o_custkey
           JOIN supplier s ON s.s_suppkey = l.l_suppkey
           JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
           JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
         WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "q130_market_share" ->
      """SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
           round(
             CAST(sum(CASE WHEN ns.n_name = 'NATION_7'
               THEN CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(28,12))
               ELSE CAST(0 AS DECIMAL(28,12)) END) AS DOUBLE)
             / CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                 AS DECIMAL(28,12))) AS DOUBLE), 6) AS mkt_share,
           round(CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
             AS DECIMAL(28,12))) AS DOUBLE), 4) AS total_rev,
           count(*) AS n_lines
         FROM lineitem l
           JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
           JOIN orders o ON o.o_orderkey = l.l_orderkey
           JOIN customer c ON c.c_custkey = o.o_custkey
           JOIN nation nc ON nc.n_nationkey = c.c_nationkey
           JOIN region rg ON rg.r_regionkey = nc.n_regionkey AND rg.r_name = 'ASIA'
           JOIN supplier s ON s.s_suppkey = l.l_suppkey
           JOIN nation ns ON ns.n_nationkey = s.s_nationkey
         GROUP BY 1 ORDER BY 1""",
    "q116_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) AS INT) AS g_rf,
           CAST(grouping(l_linestatus) AS INT) AS g_ls,
           count(*) AS n,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(28,12))) AS DOUBLE), 4)
             AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
         ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q117_skew_audit" ->
      """WITH c AS (SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY 1)
         SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           CAST(max(cnt) AS BIGINT) AS max_cnt,
           round(quantile_cont(cnt, 0.5), 4) AS p50_cnt,
           round(quantile_cont(cnt, 0.99), 4) AS p99_cnt,
           round(CAST(max(cnt) AS DOUBLE)
             / (CAST(sum(cnt) AS DOUBLE) / count(*)), 4) AS skew_ratio,
           round(CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 6)
             AS top_key_share
         FROM c""",
    "q119_lone_late_supplier" ->
      """SELECT s_name, count(*) AS numwait
         FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
         JOIN orders o ON o_orderkey = l1.l_orderkey
         WHERE o_orderstatus = 'F'
           AND CAST(l1.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 60
           AND EXISTS (SELECT 1 FROM lineitem l2
                 WHERE l2.l_orderkey = l1.l_orderkey
                   AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                 WHERE l3.l_orderkey = l1.l_orderkey
                   AND l3.l_suppkey <> l1.l_suppkey
                   AND CAST(l3.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 60)
         GROUP BY s_name ORDER BY numwait DESC, s_name""",
    "q120_lateral_top_order" ->
      """SELECT s.s_suppkey, t.l_orderkey, t.revenue
         FROM supplier s, LATERAL (
           SELECT l_orderkey,
             round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
               AS DECIMAL(28,12))) AS DOUBLE), 4) AS revenue
           FROM lineitem WHERE l_suppkey = s.s_suppkey
           GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 1) t
         ORDER BY s.s_suppkey""",
    "q121_cust_distribution" ->
      """WITH co AS (
           SELECT c.c_custkey, count(o.o_orderkey) AS c_count
           FROM customer c LEFT JOIN orders o
             ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
           GROUP BY 1)
         SELECT c_count, count(*) AS custdist
         FROM co GROUP BY 1 ORDER BY custdist DESC, c_count DESC""",
    "q122_disjunctive_predicate" ->
      """SELECT round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(28,12))) AS DOUBLE), 4) AS revenue,
           count(*) AS n_lines
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE (p_brand = 'Brand#4'  AND p_size BETWEEN 1 AND 15
                  AND l_quantity BETWEEN 1 AND 20)
            OR (p_brand = 'Brand#19' AND p_size BETWEEN 10 AND 30
                  AND l_quantity BETWEEN 10 AND 35)
            OR (p_brand = 'Brand#17' AND p_size BETWEEN 20 AND 50
                  AND l_quantity BETWEEN 20 AND 50)""",
    "q124_range_frame" ->
      """WITH t AS (SELECT event_type, epoch_us(ts) AS us FROM events),
         w AS (SELECT event_type,
                 count(*) OVER (PARTITION BY event_type ORDER BY us
                   RANGE BETWEEN 86399999999 PRECEDING AND CURRENT ROW) AS c
               FROM t)
         SELECT event_type, max(c) AS peak_24h,
           round(CAST(sum(c) AS DOUBLE) / count(*), 4) AS avg_24h
         FROM w GROUP BY 1 ORDER BY 1""",
    "q105_small_qty_revenue" ->
      """SELECT p.p_brand, count(*) AS n_small,
           round(CAST(sum(CAST(l1.l_extendedprice AS DECIMAL(28,12))) AS DOUBLE) / 7.0, 2) AS avg_yearly
         FROM lineitem l1 JOIN part p ON p.p_partkey = l1.l_partkey
         WHERE l1.l_quantity < 0.2 * (
           SELECT CAST(sum(CAST(l2.l_quantity AS DECIMAL(28,12))) AS DOUBLE) / count(*)
           FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
         GROUP BY p.p_brand ORDER BY p.p_brand""",
    "q107_no_order_customers" ->
      """SELECT c.c_mktsegment, count(*) AS n_cust,
           round(CAST(sum(CAST(c.c_acctbal AS DECIMAL(28,12))) AS DOUBLE), 2) AS total_bal
         FROM customer c
         WHERE c.c_acctbal > (
             SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(28,12))) AS DOUBLE) / count(*)
             FROM customer c2 WHERE c2.c_acctbal > 0.0)
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > (
                             SELECT percentile_disc(0.95) WITHIN GROUP (ORDER BY o2.o_totalprice)
                             FROM orders o2))
         GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""",
    "q108_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
             CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,10))) AS DECIMAL(38,10)) AS total_rev
           FROM lineitem GROUP BY l_suppkey)
         SELECT s.s_suppkey, s.s_name, round(CAST(r.total_rev AS DOUBLE), 4) AS total_rev
         FROM supplier s JOIN rev r ON r.l_suppkey = s.s_suppkey
         WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
         ORDER BY s.s_suppkey""",
    "q106_big_orders" ->
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
         FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
         WHERE o.o_orderkey IN (
           SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
           HAVING sum(CAST(l_quantity AS DECIMAL(28,12))) > 200)
         ORDER BY o.o_orderkey""",
    // the PLAIN join — salting must be result-invariant
    "q78_salted_join" ->
      """SELECT n.n_name, count(*) AS n_items,
           round(CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
             AS DECIMAL(25,10))) AS DOUBLE), 4) AS revenue
         FROM lineitem l
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation n ON s.s_nationkey = n.n_nationkey
         GROUP BY 1 ORDER BY 1""",
    // each event lands in the window starting at its hour and the one
    // starting an hour earlier (width 2h, slide 1h)
    "q73_sliding_window" ->
      """WITH x AS (SELECT event_type,
             unnest([date_trunc('hour', ts),
                     date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS w_start
           FROM events)
         SELECT w_start, event_type, count(*) AS n_events
         FROM x GROUP BY 1, 2 ORDER BY 1, 2""",
    "q74_cube" ->
      """SELECT event_type, dayofweek(ts) + 1 AS dow,
           count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(25,10))) AS DOUBLE), 4) AS sum_value
         FROM events
         GROUP BY CUBE (event_type, dayofweek(ts) + 1)
         ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""",
    // DuckDB dayofweek() is 0=Sunday..6 — shifted to Spark's 1..7
    "q72_pivot_matrix" ->
      """SELECT event_type,
           count(*) FILTER (dayofweek(ts) = 0) AS dow1,
           count(*) FILTER (dayofweek(ts) = 1) AS dow2,
           count(*) FILTER (dayofweek(ts) = 2) AS dow3,
           count(*) FILTER (dayofweek(ts) = 3) AS dow4,
           count(*) FILTER (dayofweek(ts) = 4) AS dow5,
           count(*) FILTER (dayofweek(ts) = 5) AS dow6,
           count(*) FILTER (dayofweek(ts) = 6) AS dow7
         FROM events GROUP BY 1 ORDER BY 1""",
    "q38_sessionize" ->
      """WITH lagged AS (
           SELECT user_id, event_id, ts, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events),
         flagged AS (
           SELECT user_id, event_id, ts, value,
             CASE WHEN prev_ts IS NULL
                    OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
                  THEN 1 ELSE 0 END AS new_session
           FROM lagged),
         numbered AS (
           SELECT user_id, ts, value,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM flagged)
         SELECT user_id, session_id, min(ts) AS session_start,
           count(*) AS n_events,
           max(CAST(floor(epoch(ts)) AS BIGINT)) - min(CAST(floor(epoch(ts)) AS BIGINT)) AS duration_sec,
           round(sum(value), 4) AS sum_value
         FROM numbered GROUP BY 1, 2 ORDER BY 1, 2""",
    "q01_pricing_summary" ->
      """WITH u AS (SELECT l_returnflag, l_linestatus,
             CAST(round(l_quantity * 100, 0) AS BIGINT) AS qty_u,
             CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_u,
             CAST(round(l_discount * 100, 0) AS BIGINT) AS disc_u
           FROM lineitem)
         SELECT l_returnflag, l_linestatus,
         round(CAST(sum(qty_u) AS DOUBLE) / 100.0, 4) AS sum_qty,
         round(CAST(sum(price_u) AS DOUBLE) / 100.0, 4) AS sum_base_price,
         round(CAST(sum(price_u * (100 - disc_u)) AS DOUBLE) / 10000.0, 4) AS sum_disc_price,
         round(CAST(sum(qty_u) AS DOUBLE) / 100.0 / count(*), 4) AS avg_qty,
         round(CAST(sum(disc_u) AS DOUBLE) / 100.0 / count(*), 4) AS avg_disc,
         count(*) AS count_order
         FROM u GROUP BY 1, 2 ORDER BY 1, 2""",
    "q02_filtered_revenue" ->
      """SELECT round(CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
           * CAST(round(l_discount * 100, 0) AS BIGINT)) AS DOUBLE) / 10000.0, 4) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate <  TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.03 AND 0.07
           AND l_quantity < 24""",
    "q03_region_revenue" ->
      """SELECT r_name, n_name,
         round(CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
           * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS DOUBLE) / 10000.0, 4) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q04_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)
         ORDER BY c_custkey""",
    "q05_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
         GROUP BY 1 ORDER BY 1""",
    "q06_window_topk" ->
      """SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders) t
         WHERE rn <= 3 ORDER BY o_orderpriority, rn""",
    "q07_distinct_agg" ->
      """SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations,
         count(*) AS n_customers, round(sum(c_acctbal), 4) AS sum_bal
         FROM customer GROUP BY 1 ORDER BY 1""",
    // Coarser levels re-aggregate the per-nation partials (not the raw
    // rows), mirroring the Spark cascade's floating-point association so
    // the 4-decimal hash match is scale-factor-independent (round-2
    // advice item).
    "q08_rollup_revenue" ->
      """WITH detail AS (
           SELECT r_name, n_name,
             sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
               * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS rev
           FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           GROUP BY 1, 2)
         SELECT r_name, n_name, round(CAST(rev AS DOUBLE) / 10000.0, 4) AS revenue FROM detail
         UNION ALL
         SELECT r_name, NULL AS n_name, round(CAST(sum(rev) AS DOUBLE) / 10000.0, 4) AS revenue
         FROM detail GROUP BY 1
         UNION ALL
         SELECT NULL AS r_name, NULL AS n_name, round(CAST(sum(rev) AS DOUBLE) / 10000.0, 4) AS revenue
         FROM detail
         ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""",
    "q09_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
         count(*) AS n_events, round(sum(value), 4) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q10_majority_vote" ->
      """WITH counts AS (
           SELECT user_id, event_type, count(*) AS cnt
           FROM events GROUP BY 1, 2),
         ranked AS (
           SELECT user_id, event_type, cnt,
             CAST(sum(cnt) OVER (PARTITION BY user_id) AS BIGINT) AS total,
             row_number() OVER (PARTITION BY user_id
               ORDER BY cnt DESC, event_type ASC) AS rn
           FROM counts)
         SELECT user_id,
           CASE WHEN cnt * 3 > total * 2 THEN event_type ELSE NULL END AS majority_event,
           cnt AS top_cnt, total
         FROM ranked WHERE rn = 1 ORDER BY user_id""",
    "q11_json_extract" ->
      """SELECT event_type, round(avg(k), 4) AS avg_k,
         CAST(sum(k) AS BIGINT) AS sum_k, count(*) AS cnt
         FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
               FROM events) t
         GROUP BY 1 ORDER BY 1""",
  )
}
