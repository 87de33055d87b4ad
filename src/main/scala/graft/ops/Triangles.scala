package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting + local clustering coefficient — the
  * graph-density signal over a kNN/similarity graph: a vector whose
  * neighbors are also mutual neighbors sits inside a coherent semantic
  * cluster (high coefficient); a hub whose neighbors ignore each other
  * is a boundary/noise point.
  *
  * Join-based, never matrix-based: triangles fall out of two
  * equi-joins over a DEGREE-ORIENTED edge list. Every undirected edge
  * is oriented from its lower-(degree, id) endpoint to the higher one;
  * wedges are then built only at each edge's LOW end and closed by a
  * third equi-join. Orientation is the scale move: wedge work at a node
  * is out-degree², and degree-orienting caps every out-degree at
  * O(√m) — a celebrity node with a million followers generates no
  * wedges at itself, its edges point INTO it (the id-ordered form would
  * put ~all wedges on whichever hot node has the small id). The
  * triangle SET is orientation-invariant, so an id-ordered oracle
  * verifies the degree-ordered plan.
  *
  * 100 TB: three shuffles of the (deduped, oriented) edge list, all on
  * edge endpoints; nothing ever materializes per-wedge state on the
  * driver. Output is node-sized.
  */
object Triangles {

  /** Per-node triangle count + clustering coefficient over a directed
    * edge list (direction is discarded; self-loops dropped; the edge
    * set is deduped first).
    *
    * @return (idCol, degree, triangles, clustering) for every node in
    *         `nodes`, zero-filled; clustering = 2T/(d(d−1)), NULL for
    *         degree < 2 */
  def countPerNode(nodes: DataFrame, idCol: String, edges: DataFrame,
                   srcCol: String, dstCol: String,
                   scale: Int = 6): DataFrame = {
    // materialize the deduped edge list once: it feeds deg, two
    // orientation joins, the wedge self-join and the closure join, and
    // Spark would otherwise recompute the upstream edge pipeline (for a
    // kNN graph, the whole LSH+rerank) per use. At warehouse scale this
    // is a staging table; in-query, a checkpoint is the same move.
    val und = Checkpoints.materialize(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") < col("b"))
      .distinct())
    // deg feeds the two orientation joins AND the final zero-fill join;
    // oriented (below) feeds the wedge self-join's both sides AND the
    // closure join — without their own checkpoints each consumer re-ran
    // the degree aggregation / both orientation joins from the edge
    // checkpoint (r15: q113 plan 38 exchange/40 join nodes -> 16/16, same rows; sf0.1 parity within noise — the win is the un-recomputed orientation joins at scale). Both are
    // node-/edge-sized, the same staging class as `und`.
    val deg = Checkpoints.materialize(und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg")))

    // orient each edge low(deg,id) → high(deg,id)
    val withDeg = und
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
    val aKey = struct(col("da").as("kd"), col("a").as("ki"))
    val bKey = struct(col("db").as("kd"), col("b").as("ki"))
    val oriented = Checkpoints.materialize(withDeg.select(
      when(aKey < bKey,
        struct(col("a").as("u"), col("b").as("v"), bKey.as("vk")))
        .otherwise(
          struct(col("b").as("u"), col("a").as("v"), aKey.as("vk")))
        .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.vk").as("vk")))

    // wedge at the low end u: (v, w) with vk < wk, closed by oriented (v, w)
    val o1 = oriented.select(col("u"), col("v"), col("vk"))
    val o2 = oriented.select(col("u"), col("v").as("w"), col("vk").as("wk"))
    val wedges = o1.join(o2, Seq("u")).filter(col("vk") < col("wk"))
    val closures = oriented.select(col("u").as("v"), col("v").as("w"))
    val tris = wedges.join(closures, Seq("v", "w"))
      .select(col("u"), col("v"), col("w"))

    val triCounts = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))

    nodes.select(col(idCol))
      .join(deg.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .join(triCounts.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("deg"), lit(0L)).as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        round(when(col("deg") >= 2,
            lit(2.0) * coalesce(col("triangles"), lit(0L)) /
              (col("deg") * (col("deg") - 1)).cast("double")),
          scale).as("clustering"))
  }
}
