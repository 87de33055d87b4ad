package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The relational PageRank rounds — joins and a decimal sum per round.
  * PageRankRoutingSpec compares `PageRank`'s RDD rounds against them:
  * null ids, null recips and ids of any integral type take the
  * engine's equi-join semantics here. The edge preparation repeats
  * `PageRank.run`/`runWeighted`'s on purpose: if their recip formula
  * drifts, the pins fail. */
object PageRankReference {

  private val Dec = "decimal(28,12)"

  def run(nodes: DataFrame, idCol: String, edges: DataFrame,
          srcCol: String, dstCol: String, iters: Int): DataFrame = {
    val deg = edges.groupBy(srcCol).agg(count(lit(1)).as("__outdeg"))
    val e = edges.join(deg, srcCol)
      .select(col(srcCol).as("__src"), col(dstCol).as("__dst"),
        (lit(1.0) / col("__outdeg")).cast(Dec).cast("double").as("__recip"))
    iterate(nodes, idCol, e, iters)
  }

  def runWeighted(nodes: DataFrame, idCol: String, edges: DataFrame,
                  srcCol: String, dstCol: String, weightCol: String,
                  iters: Int): DataFrame = {
    val w = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"),
      col(weightCol).cast(Dec).as("__w"))
    val sw = w.groupBy("__src").agg(sum("__w").as("__sumw"))
    val e = w.join(sw, "__src")
      .select(col("__src"), col("__dst"),
        (col("__w").cast("double") / col("__sumw").cast("double"))
          .cast(Dec).cast("double").as("__recip"))
    iterate(nodes, idCol, e, iters)
  }

  private def iterate(nodes: DataFrame, idCol: String, edgesRecip: DataFrame,
                      iters: Int): DataFrame =
    iterateRelational(edgesRecip.localCheckpoint(true),
      nodes.select(col(idCol).as("__id")).localCheckpoint(true),
      idCol, iters, damping = 0.85, teleportNumerator = 0.15)

  def iterateRelational(e: DataFrame, ids: DataFrame,
                        idCol: String, iters: Int,
                        damping: Double,
                        teleportNumerator: Double): DataFrame = {
    val n = ids.count()
    var pr = ids.withColumn("__pr", lit(1.0 / n))
    var lastCkpt: DataFrame = null
    for (round <- 1 to iters) {
      val in = e.join(pr.select(col("__id").as("__src"), col("__pr")), "__src")
        .select(col("__dst").as("__id"),
          (col("__pr") * col("__recip")).cast(Dec).as("__c"))
        .groupBy("__id").agg(sum("__c").cast("double").as("__in"))
      pr = ids.join(in, Seq("__id"), "left")
        .select(col("__id"),
          (lit(teleportNumerator / n) +
            lit(damping) * coalesce(col("__in"), lit(0.0))).as("__pr"))
      // checkpoint every other round (and the last): caps lineage growth
      if (round % 2 == 0 || round == iters) {
        pr = pr.localCheckpoint(true)
        if (lastCkpt != null) graft.ops.Checkpoints.release(lastCkpt)
        lastCkpt = pr
      }
    }
    pr.select(col("__id").as(idCol), col("__pr").as("pr"))
  }
}

/** The relational k-core peeling rounds — two window counts per round.
  * KCoreRoutingSpec compares `KCore.kCoreOfSymmetrized`'s RDD rounds
  * against them. */
object KCoreReference {

  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            rounds: Int): DataFrame =
    kCoreRelationalOfSymmetrized(KCore.symmetrize(edges, srcCol, dstCol), k, rounds)

  def kCoreRelationalOfSymmetrized(sym: DataFrame, k: Int,
                                   rounds: Int): DataFrame = {
    var e = sym
    var remaining = e.count()
    var converged = false
    // in a symmetrized graph the a-side row count of node x IS deg(x),
    // and so is the b-side count
    val wa = org.apache.spark.sql.expressions.Window.partitionBy("a")
    val wb = org.apache.spark.sql.expressions.Window.partitionBy("b")
    (1 to rounds).foreach { _ =>
      if (!converged) {
        val prev = e
        e = e.withColumn("__da", count(lit(1)).over(wa))
          .withColumn("__db", count(lit(1)).over(wb))
          .filter(col("__da") >= k && col("__db") >= k)
          .select("a", "b")
          .localCheckpoint(true)
        if (prev ne sym) graft.ops.Checkpoints.release(prev)
        val now = e.count()
        converged = now == remaining // fixpoint: every further round is a no-op
        remaining = now
      }
    }
    e.groupBy(col("a")).agg(count(lit(1)).as("deg"))
      .select(col("a").as("node"), col("deg"))
  }
}
