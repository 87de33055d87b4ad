package graft.ops

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** k-core decomposition by iterative peeling: repeatedly delete nodes
  * whose (undirected) degree is below k; what survives is the maximal
  * subgraph with minimum degree ≥ k. On a kNN similarity graph the
  * k-core isolates dense semantic neighborhoods — the "cluster core"
  * complement of `ops/Triangles`' local clustering coefficient, used to
  * pick prototype-rich regions for subsampling (high-core) vs
  * outlier/noise sweeps (core-less).
  *
  * Determinism contract: the result equals EXACTLY `rounds` unrolled
  * peeling rounds — after the fixpoint every further round is a no-op,
  * so "enough rounds" equals "converged", and the oracle can mirror
  * the algorithm as `rounds` unrolled CTEs with zero driver state
  * ([[oracleRounds]], the `PageRank.oracleSql` pattern). Peeling is
  * monotone, so a round count ≥ the peel depth is exact (kNN graphs
  * peel in a handful of rounds — bounded out-degree); the spec asserts
  * convergence. The LOOP may therefore stop at the fixpoint: a round
  * that deletes no edge proves all remaining rounds identical (edges
  * only shrink, and the next round's inputs equal this round's), so
  * the early exit is result-invisible — it exists because q134 runs
  * THREE peels whose k=2/3 members converge in a round or two, and
  * 24 materialized no-op rounds at ×100 cost ~35 s of pure overhead.
  * The per-round count() is the job that materializes the persisted
  * round.
  *
  * Scale per round: one degree count (deg(x) is the row count of x on
  * either side of a symmetrized edge list) and two co-partitioned
  * filter-joins; each round is persisted and its predecessor released.
  * Edge state only ever shrinks.
  */
object KCore {

  /** Symmetrize + dedupe + drop self-loops — the k-INDEPENDENT first
    * step of [[kCore]], split out and eagerly materialized so several
    * peels over the same graph (q134's k = 2/3/4 core-size profile)
    * share ONE distinct-shuffle + checkpoint instead of paying it per k.
    * Returns columns (a, b). */
  def symmetrize(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    Checkpoints.materialize(edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .filter(col("a") =!= col("b")).distinct())

  /** Nodes of the k-core of the (symmetrized, de-duplicated, loop-free)
    * graph, with their within-core degree. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int): DataFrame = {
    val sym = symmetrize(edges, srcCol, dstCol)
    val out = kCoreOfSymmetrized(sym, k, rounds)
    Checkpoints.release(sym) // the result is its own checkpoint
    out
  }

  /** [[kCore]] over edges ALREADY passed through [[symmetrize]] (both
    * directions present, deduped, loop-free, materialized, columns
    * (a, b)) — the entry point for sharing the symmetrization across
    * several k.
    *
    * A peeling round is pure long count/compare work, so the rounds run
    * as RDD jobs (a relational round paid a fresh Catalyst pass plus two
    * window sorts). Integral ids are read as long once, when the rounds
    * read `sym`, and the output node is cast back to `sym`'s id type; a
    * row with a null endpoint is dropped (symmetrize's a =!= b filter
    * already drops them). In a symmetrized edge set deg-by-a equals
    * deg-by-b for the same node and the keep criterion
    * `deg(a)>=k && deg(b)>=k` is symmetric, so each round keeps the edge
    * set the oracle's unrolled rounds keep. One degree reduceByKey plus
    * two filter-joins per round, zero per-round plans. */
  def kCoreOfSymmetrized(sym: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k>=1, rounds>=1; got k=$k rounds=$rounds")
    val t = GraphIds.idType(sym, "a")
    GraphIds.idType(sym, "b")
    GraphIds.narrow(kCoreRdd(sym, k, rounds), t, "node")
  }

  /** The peeling rounds; output node ids are long. */
  private def kCoreRdd(sym: DataFrame, k: Int, rounds: Int): DataFrame = {
    val spark = sym.sparkSession
    var e = Checkpoints.persistRound(
      sym.select(col("a").cast(LongType), col("b").cast(LongType)).rdd
        .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
        .map(r => (r.getLong(0), r.getLong(1))))
    val p = new HashPartitioner(math.max(1, e.getNumPartitions))
    var remaining = e.count()
    var converged = false
    (1 to rounds).foreach { _ =>
      if (!converged) {
        val prev = e
        val deg = e.map { case (a, _) => (a, 1L) }.reduceByKey(p, _ + _)
        e = Checkpoints.persistRound(e.partitionBy(p).join(deg)
          .flatMap { case (a, (b, da)) =>
            if (da >= k) Iterator((b, a)) else Iterator.empty }
          .partitionBy(p).join(deg)
          .flatMap { case (b, (a, db)) =>
            if (db >= k) Iterator((a, b)) else Iterator.empty })
        val now = e.count()
        prev.unpersist(blocking = false)
        converged = now == remaining // fixpoint: every further round is a no-op
        remaining = now
      }
    }
    val degOut = e.map { case (a, _) => (a, 1L) }.reduceByKey(_ + _)
      .map { case (node, deg) => Row(node, deg) }
    val schema = StructType(Seq(StructField("node", LongType, nullable = false),
      StructField("deg", LongType, nullable = false)))
    val out = Checkpoints.materialize(spark.createDataFrame(degOut, schema))
    e.unpersist(blocking = false)
    out
  }

  /** The same peeling as `rounds` unrolled SQL CTEs over a directed
    * edge CTE named `ke(src, dst)`; leaves the result in a CTE named
    * `<prefix>kcore_final(a, deg)`. Caller appends the SELECT. The
    * `prefix` namespaces every CTE so several peels (different k) can
    * coexist in ONE oracle query (q134's core-size profile). */
  def oracleRounds(k: Int, rounds: Int, prefix: String = ""): String = {
    val sb = new StringBuilder
    sb.append(
      s"""${prefix}e0 AS MATERIALIZED (SELECT DISTINCT a, b FROM (
        |  SELECT src AS a, dst AS b FROM ke
        |  UNION ALL SELECT dst AS a, src AS b FROM ke) WHERE a <> b),
        |""".stripMargin)
    (1 to rounds).foreach { i =>
      sb.append(
        s"""${prefix}alive$i AS MATERIALIZED (SELECT a FROM (
           |  SELECT a, count(*) AS deg FROM ${prefix}e${i - 1} GROUP BY 1) WHERE deg >= $k),
           |${prefix}e$i AS MATERIALIZED (SELECT e.a, e.b FROM ${prefix}e${i - 1} e
           |  JOIN ${prefix}alive$i x ON e.a = x.a JOIN ${prefix}alive$i y ON e.b = y.a),
           |""".stripMargin)
    }
    sb.append(
      s"${prefix}kcore_final AS (SELECT a, count(*) AS deg FROM ${prefix}e$rounds GROUP BY 1)")
    sb.toString
  }
}
