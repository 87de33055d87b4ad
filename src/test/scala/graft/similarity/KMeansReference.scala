package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The relational Lloyd rounds — [[KMeans.assignCells]] plus a
  * decimal-exact per-(cell, dim) mean per round. KMeansSpec compares
  * `KMeans.train`'s RDD rounds against them. */
object KMeansReference {

  private val Dec = "decimal(28,12)"

  /** Decimal-exact per-(cell, dim) means of the members — the
    * partition-order-independent twin of `IvfFlat.recomputeCentroids`
    * (whose double `avg` is fine for a one-shot step but would let
    * round-N error feed round-N+1 here). */
  def dimMeansExact(cells: DataFrame, corpus: DataFrame,
                    idCol: String, vecCol: String): DataFrame =
    cells.select(col(idCol), col("cell"))
      .join(corpus.select(col(idCol), col(vecCol)), Seq(idCol))
      .select(col("cell"), posexplode(col(vecCol)).as(Seq("d", "xf")))
      .select(col("cell"), col("d"), col("xf").cast("double").as("x"))
      .groupBy("cell", "d")
      .agg((sum(col("x").cast(Dec)).cast("double") / count(lit(1))).as("w"))

  def trainRelational(corpus: DataFrame, idCol: String, vecCol: String,
                      seed: Seq[(Long, Array[Double])],
                      rounds: Int): Seq[(Long, Array[Double])] = {
    var cens = seed
    // Collapse guard: a round can starve cells (all vectors assigned to
    // one centroid, or an empty/all-null corpus yielding none). Stopping
    // with the SURVIVING centroids is strictly better than the
    // alternative — letting the next round's assignCells throw its
    // >= 2-centroids require and forfeit the whole training run. The
    // unrolled oracle (q149) assumes no collapse, which holds for any
    // corpus whose seeds attract at least one vector each; the guard is
    // for deployment-scale degenerate inputs.
    var round = 0
    while (round < rounds && cens.size >= 2) {
      val dims = cens.head._2.length
      val cells = KMeans.assignCells(corpus, idCol, vecCol, cens)
      val means = dimMeansExact(cells, corpus, idCol, vecCol).collect()
      cens = means.groupBy(_.getLong(0)).toSeq.map { case (cell, rows) =>
        val arr = new Array[Double](dims)
        rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
        cell -> arr
      }.sortBy(_._1)
      round += 1
    }
    cens
  }
}
