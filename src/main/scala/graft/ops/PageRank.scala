package graft.ops

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Damped PageRank by iterative join-aggregation — centrality over the
  * kNN similarity graph ranks prototypical documents (graph-based data
  * selection), the same shape GraphX's `staticPageRank` computes, with
  * the decimal-sum trick making every round bit-identical across any
  * partitioning (and against a DuckDB oracle — [[graft.similarity.Pca]]'s
  * pattern applied to graph iteration).
  *
  * Per round: in(v) = Σ_{u→v} pr(u)·recip(u), then
  * pr'(v) = teleport + damping·in(v). Each per-edge contribution is
  * DECIMAL(28,12)-quantized before the per-destination sum; recip(u) =
  * 1/outdeg(u) is itself decimal-quantized once at edge build.
  *
  * Determinism contract: callers pass `teleportNumerator` (e.g. 0.15)
  * instead of deriving it as 1 − damping — `1.0 - 0.85` is one ulp OFF
  * the double literal `0.15`, and an oracle writes the literal.
  *
  * Dangling (no-out-edge) node mass is DROPPED, not redistributed —
  * deterministic and one less all-to-all per round; the teleport term
  * keeps every rank positive. Standard for web-scale implementations.
  *
  * Scale shape: the edge list (checkpointed once, with its quantized
  * reciprocal) is the only corpus-sized table; each round is one
  * edge⋈rank join + one map-side-combined aggregation + one node-sized
  * left join, and one checkpoint of the result caps the lineage.
  * Driver holds nothing but the node count.
  */
object PageRank {

  private val Dec = "decimal(28,12)"

  /** `iters` rounds over `edges`; returns (idCol, pr). */
  def run(nodes: DataFrame, idCol: String, edges: DataFrame,
          srcCol: String, dstCol: String, iters: Int,
          damping: Double = 0.85, teleportNumerator: Double = 0.15): DataFrame = {
    val deg = edges.groupBy(srcCol).agg(count(lit(1)).as("__outdeg"))
    val e = edges.join(deg, srcCol)
      .select(col(srcCol).as("__src"), col(dstCol).as("__dst"),
        (lit(1.0) / col("__outdeg")).cast(Dec).cast("double").as("__recip"))
    iterate(nodes, idCol, e, iters, damping, teleportNumerator)
  }

  /** Weighted variant: each out-edge carries `weightCol` (e.g. cosine
    * similarity) and a source's rank splits proportionally to weight,
    * recip(u→v) = w/Σ_out w. Weights are decimal-quantized BEFORE the
    * per-source sum (the raw doubles' sum would be partition-order
    * dependent), then the share is one double division re-quantized —
    * never a decimal÷decimal (engines disagree on result scale rules). */
  def runWeighted(nodes: DataFrame, idCol: String, edges: DataFrame,
                  srcCol: String, dstCol: String, weightCol: String,
                  iters: Int, damping: Double = 0.85,
                  teleportNumerator: Double = 0.15): DataFrame = {
    val w = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"),
      col(weightCol).cast(Dec).as("__w"))
    val sw = w.groupBy("__src").agg(sum("__w").as("__sumw"))
    val e = w.join(sw, "__src")
      .select(col("__src"), col("__dst"),
        (col("__w").cast("double") / col("__sumw").cast("double"))
          .cast(Dec).cast("double").as("__recip"))
    iterate(nodes, idCol, e, iters, damping, teleportNumerator)
  }

  /** The shared damped-iteration core over a prepared
    * (__src, __dst, __recip) edge table.
    *
    * Normalization, once, inside the two checkpoints the core takes:
    * integral ids are cast to long (the output id is cast back to the
    * node id type), and an edge with a null endpoint or a null recip is
    * dropped — it contributes nothing, exactly as in an equi-join where
    * a null contribution is skipped by the sum. (A weighted recip is
    * null when all of a source's weights are null.) A null node id
    * stays a node: it counts toward n and gets the teleport mass only.
    *
    * The rounds run as RDD jobs: a round's per-edge work is one
    * multiply + decimal quantize and its per-node work one fused sum —
    * nothing for Catalyst to codegen that an RDD `reduceByKey` doesn't
    * already do, while a relational round paid a fresh analyze/optimize
    * pass (q104's five rounds measured ~1.2 s at sf0.1 on a 6k-edge
    * graph: ~all planning, OPTIMIZATION_r16.md). The engine arithmetic
    * is replayed exactly: per-edge contribution =
    * `BigDecimal.valueOf(pr*recip).setScale(12, HALF_UP)` (Spark's
    * double→decimal(28,12) cast; non-finite or >28-digit values cast to
    * null = skip, the Pca recipe), per-node sum is exact decimal
    * addition (order-free), `__in` = `BigDecimal.doubleValue` (the
    * decimal→double cast), and the damped update is the double
    * expression `teleport + damping·in`. One co-partitioned join + one
    * reduceByKey shuffle per round, zero per-round plans; the whole
    * iteration executes as ONE job at materialization. */
  private def iterate(nodes: DataFrame, idCol: String, edgesRecip: DataFrame,
                      iters: Int, damping: Double,
                      teleportNumerator: Double): DataFrame = {
    val spark = nodes.sparkSession
    val t = GraphIds.idType(nodes, idCol)
    Seq("__src", "__dst").foreach(GraphIds.idType(edgesRecip, _))
    val e = Checkpoints.materialize(edgesRecip
      .filter(col("__src").isNotNull && col("__dst").isNotNull && col("__recip").isNotNull)
      .select(col("__src").cast(LongType).as("__src"),
        col("__dst").cast(LongType).as("__dst"), col("__recip")))
    val ids = Checkpoints.materialize(nodes.select(col(idCol).cast(LongType).as("__id")))
    val eRdd = e.rdd.map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
    val idRows = ids.rdd
    val p = new HashPartitioner(math.max(1, eRdd.getNumPartitions))
    val bySrc = Checkpoints.persistRound(eRdd.partitionBy(p))
    val idsRdd = Checkpoints.persistRound(idRows.filter(!_.isNullAt(0))
      .map(r => (r.getLong(0), ())).partitionBy(p))
    val n = idRows.count()
    val tele = teleportNumerator / n
    def quant(d: Double): java.math.BigDecimal =
      if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) null
      else {
        val bd = java.math.BigDecimal.valueOf(d)
          .setScale(12, java.math.RoundingMode.HALF_UP)
        if (bd.precision > 28) null else bd
      }
    def damped(in: Option[java.math.BigDecimal]): Double =
      tele + damping * in.map(_.doubleValue).getOrElse(0.0)
    var pr: RDD[(Long, Double)] = idsRdd.mapValues(_ => 1.0 / n)
    for (_ <- 1 to iters) {
      val in = bySrc.join(pr) // both on `p`: narrow
        .flatMap { case (_, ((dst, recip), prv)) =>
          val c = quant(prv * recip)
          if (c == null) Iterator.empty else Iterator((dst, c))
        }
        .reduceByKey(p, (a: java.math.BigDecimal, b: java.math.BigDecimal) =>
          a.add(b))
      pr = idsRdd.leftOuterJoin(in).mapValues { case (_, o) => damped(o) }
    }
    // a null id matches no edge: it keeps the value of a node nothing
    // points at
    val nullPr = if (iters == 0) 1.0 / n else damped(None)
    val outRdd = pr.map { case (v, d) => Row(v, d) }
      .union(idRows.filter(_.isNullAt(0)).map(_ => Row(null, nullPr)))
    val schema = StructType(Seq(
      StructField(idCol, LongType, ids.schema("__id").nullable),
      StructField("pr", DoubleType, nullable = false)))
    val out = Checkpoints.materialize(spark.createDataFrame(outRdd, schema))
    bySrc.unpersist(blocking = false)
    idsRdd.unpersist(blocking = false)
    Checkpoints.release(e)
    Checkpoints.release(ids)
    GraphIds.narrow(out, t, idCol)
  }
}
