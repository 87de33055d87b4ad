package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The relational connected-components rounds — label propagation and
  * the large-star/small-star alternation as DataFrame joins, windows and
  * aggregations. They are the references ClustersRoutingSpec compares
  * `Clusters`' RDD rounds against: null endpoints, ids of any integral
  * type and the engine's equi-join semantics come for free here. */
object ClustersReference {

  /** `Clusters.connectedComponents` computed by [[ccRoundsRelational]]. */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20): DataFrame = {
    val und = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .localCheckpoint(true)
    ccRoundsRelational(und, maxIter)
  }

  /** `Clusters.connectedComponentsStar` computed by
    * [[starFixedPointRelational]]. */
  def connectedComponentsStar(edges: DataFrame, aCol: String, bCol: String,
                              maxIter: Int = 25): DataFrame = {
    val raw = edges.select(col(aCol).as("u"), col(bCol).as("v"))
    val verts = raw.select(col("u").as("v")).union(raw.select("v")).distinct()
      .localCheckpoint(true)
    val e0 = raw.filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    val fixed = starFixedPointRelational(e0, maxIter)
    verts.join(fixed.select(col("u").as("v"), col("v").as("__root")), Seq("v"), "left")
      .select(col("v"), coalesce(col("__root"), col("v")).as("component"))
  }

  def ccRoundsRelational(und: DataFrame, maxIter: Int): DataFrame = {
    var labels = und.select(col("src").as("v")).distinct()
      .withColumn("label", col("v"))
      .localCheckpoint(true)
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      // min label over the closed neighborhood (self ∪ neighbors)
      val neighborMin = und
        .join(labels.withColumnRenamed("v", "dst"), "dst")
        .groupBy(col("src").as("v"))
        .agg(min("label").as("nmin"))
      val next = labels.join(neighborMin, Seq("v"), "left")
        .select(col("v"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
          (col("nmin") < col("label")).as("__chg"))
      val mat = next.localCheckpoint(true)
      changed = mat.filter(col("__chg")).count()
      graft.ops.Checkpoints.release(labels)
      labels = mat.drop("__chg")
      iter += 1
    }
    labels.select(col("v"), col("label").as("component"))
  }

  /** Large-star: for each vertex u, link every LARGER neighbor to the
    * min of u's closed neighborhood. */
  private def largeStar(e: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("u")
    e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
      .withColumn("m", least(col("u"), min(col("v")).over(w)))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star: direct every edge large→small, then link each vertex's
    * smaller neighbors (and itself) to the neighborhood minimum. */
  private def smallStar(e: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("u")
    e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .withColumn("m", min(col("v")).over(w))
      .select(explode(when(col("v") === col("m"),
          array(struct(col("v").as("n"), col("m")),
            struct(col("u").as("n"), col("m"))))
        .otherwise(array(struct(col("v").as("n"), col("m"))))).as("nm"))
      .select(col("nm.n").as("u"), col("nm.m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  def starFixedPointRelational(e0: DataFrame, maxIter: Int): DataFrame = {
    var e = e0
    def signature(d: DataFrame): (Long, java.math.BigDecimal) = {
      // decimal sum: ANSI mode would throw on a long-sum overflow
      val r = d.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
    }
    var sig = signature(e)
    var iter = 0
    var converged = e.isEmpty
    while (!converged && iter < maxIter) {
      val prev = e
      e = smallStar(largeStar(e)).localCheckpoint(true)
      if (prev ne e0) graft.ops.Checkpoints.release(prev)
      val next = signature(e)
      converged = next == sig
      sig = next
      iter += 1
    }
    e
  }
}
