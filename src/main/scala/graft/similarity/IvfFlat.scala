package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF-flat approximate nearest neighbour search — the second scale path
  * for ANN next to RandomHyperplaneLSH (the "IVF or LSH-bucketed
  * variant" of the north star).
  *
  * Index: partition the corpus into cells by nearest centroid (L2).
  * Query: probe the `nprobe` nearest cells and scan only those.
  * "Training" is deterministic here — the first `numCentroids` corpus
  * vectors serve as centroids; in production swap in k-means centroids,
  * the operator shapes are identical.
  *
  * Scale shape: assignment is a broadcast of the (small) centroid set
  * against the corpus — linear in corpus × centroids, computed once and
  * persisted as a column in a real deployment; search is an equi-join on
  * cell id. No cross join ever touches corpus × queries.
  */
object IvfFlat {

  /** Nearest-centroid assignment: (idCol, cell, dist), deterministic
    * tie-break on centroid id.
    *
    * argmin as `min(struct(dist, cen_id))` — an aggregation (a
    * SortAggregate: a struct buffer is not mutable in place, so Spark
    * sorts each side of the exchange) whose map-side combine collapses
    * the k candidate rows per vector BEFORE the shuffle, so the exchange
    * carries n rows. (The
    * row_number-window form needs the full n×k scored rows shuffled to
    * sort each vector's candidates together — a k× exchange-volume tax on
    * the corpus-side hot path.) Struct comparison is lexicographic, so
    * ordering matches (dist ASC, cen_id ASC) exactly. */
  def assign(vecs: DataFrame, idCol: String, vecCol: String,
             centroids: DataFrame, cenIdCol: String, cenVecCol: String): DataFrame = {
    val scored = vecs.crossJoin(broadcast(centroids))
      .withColumn("__dist", Cosine.l2sq(col(vecCol), col(cenVecCol)))
    scored.groupBy(col(idCol))
      .agg(min(struct(col("__dist"), col(cenIdCol).as("__cen"))).as("__m"))
      .select(col(idCol), col("__m.__cen").as("cell"), col("__m.__dist").as("dist"))
  }

  /** The `nprobe` nearest cells per query: (idCol, cell, probe_rank). */
  def probes(queries: DataFrame, idCol: String, vecCol: String,
             centroids: DataFrame, cenIdCol: String, cenVecCol: String,
             nprobe: Int): DataFrame = {
    val scored = queries.crossJoin(broadcast(centroids))
      .withColumn("__dist", Cosine.l2sq(col(vecCol), col(cenVecCol)))
    graft.plans.BoundedTopK.perGroup(scored.select(idCol, cenIdCol, "__dist"),
        Seq(idCol), Seq(col("__dist").asc, col(cenIdCol).asc), nprobe)
      .select(col(idCol), col(cenIdCol).as("cell"), col("rank").as("probe_rank"))
  }

  /** Distinct (query, candidate) pairs from probed cells — an equi-join
    * on the cell id. */
  def candidates(queryProbes: DataFrame, corpusCells: DataFrame,
                 queryIdCol: String, corpusIdCol: String): DataFrame =
    queryProbes.select(col(queryIdCol).as("query_id"), col("cell"))
      .join(corpusCells.select(col(corpusIdCol).as("cand_id"), col("cell")), Seq("cell"))
      .select("query_id", "cand_id").distinct()

  /** One k-means step: recompute each cell's centroid as the member mean
    * — the index-maintenance pass a production IVF runs (assign →
    * recompute → reassign until stable). Transposed to posexplode +
    * (cell, dim) hash aggregation — map-side partials collapse each
    * partition's members before the shuffle, so the exchange carries
    * cells × dims rows, never the corpus. Returns (cell, n_members,
    * cen_vec array<double> in dimension order). */
  def recomputeCentroids(cells: DataFrame, corpus: DataFrame,
                         idCol: String, vecCol: String): DataFrame = {
    val members = cells.select(col(idCol), col("cell"))
      .join(corpus.select(col(idCol), col(vecCol)), Seq(idCol))
    val dimMeans = members
      .select(col("cell"), posexplode(col(vecCol)).as(Seq("d", "x")))
      .groupBy("cell", "d")
      .agg(avg(col("x").cast("double")).as("mean"), count(lit(1)).as("n"))
    dimMeans.groupBy("cell")
      .agg(max("n").as("n_members"),
        transform(array_sort(collect_list(struct(col("d"), col("mean")))),
          s => s.getField("mean")).as("cen_vec"))
  }
}
