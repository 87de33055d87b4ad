package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product-quantization ANN — the third scale path next to LSH (q22) and
  * IVF (q34), and the one that answers the MEMORY question: a 100 TB
  * corpus of 64-dim float vectors is 25 TB of embeddings, but its PQ
  * codes (8 subspaces × 1 byte) are ~100× smaller — small enough to scan
  * entirely, or to keep resident next to an IVF index (IVFPQ).
  *
  * Pipeline (Jégou et al., "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011 — public knowledge):
  *  - split each vector into `numSub` contiguous subvectors;
  *  - per subspace, quantize to the nearest of k codewords ("codebook");
  *  - query-time ADC: per query, a (numSub × k) distance table of
  *    query-subvector → codeword distances; a candidate's approximate
  *    distance is the sum of table lookups at its codes — no float
  *    vector is ever touched during the scan;
  *  - shortlist by ADC, then exact-rerank the shortlist only.
  *
  * Determinism/parity: codebooks are training-free (the subvectors of a
  * caller-chosen seed row set, like IvfFlat's centroids — production
  * swaps in per-subspace k-means, identical operator shapes). Distances
  * use the dot-product expansion (`dot(a,a) - 2 dot(a,b) + dot(b,b)`)
  * on the codegen'd kernels, and ADC sums are DECIMAL so the total is
  * partition-order independent and matches a DuckDB oracle bit-for-bit.
  *
  * Scale shape: codebooks and ADC tables are tiny and broadcast; encode
  * is a per-row argmin via a map-side-combinable min(struct) aggregation
  * (never a window over the corpus); the ADC scan is an equi-join of
  * codes against the broadcast table followed by one sum.
  */
object ProductQuantizer {

  private def l2ip(a: Column, b: Column): Column =
    Cosine.dot(a, a) - lit(2.0) * Cosine.dot(a, b) + Cosine.dot(b, b)

  private def subvectors(df: DataFrame, idCol: String, vecCol: String,
                         numSub: Int, subDim: Int): DataFrame =
    df.select(col(idCol), explode(array((0 until numSub).map { m =>
        struct(lit(m).as("m"), slice(col(vecCol), m * subDim + 1, subDim).as("sub"))
      }: _*)).as("s"))
      .select(col(idCol), col("s.m").as("m"), col("s.sub").as("sub"))

  /** Codebooks from a small seed set: (m, code_id, cw). `seed` must be
    * driver-sized (k codewords × d floats — the KMeans-centroid
    * precedent), so it is NUMBERED ON THE DRIVER: collect, sort by
    * `idCol`, re-emit as a local relation. The former spelling was an
    * unpartitioned `row_number` window — harmless at k=32 but the one
    * plan shape PlanLint bans outright (a global-sort window is
    * unbounded to the planner even when a filter makes it tiny), and
    * the collect states the size contract honestly. Values are exact:
    * float→double widening is lossless and the dot kernels accumulate
    * in double either way. */
  def codebooks(seed: DataFrame, idCol: String, vecCol: String,
                numSub: Int, subDim: Int): DataFrame = {
    val spark = seed.sparkSession
    import spark.implicits._
    val numbered = seed
      .select(col(idCol).cast("long"),
        transform(col(vecCol), x => x.cast("double")).as("__v"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
      .sortBy(_._1)
      .zipWithIndex
      .map { case ((_, v), i) => (i, v) }
      .toSeq.toDF(idCol, vecCol)
    subvectors(numbered, idCol, vecCol, numSub, subDim)
      .select(col("m"), col(idCol).as("code_id"), col("sub").as("cw"))
  }

  /** PQ codes: (idCol, m, code) — nearest codeword per subspace, ties to
    * the lowest code id. Argmin is min(struct(dist, code)): an
    * aggregation with map-side partials (Spark plans a struct buffer as a
    * SortAggregate), not a corpus-wide window. */
  def encode(vecs: DataFrame, idCol: String, vecCol: String,
             cb: DataFrame, numSub: Int, subDim: Int): DataFrame =
    subvectors(vecs, idCol, vecCol, numSub, subDim)
      .join(broadcast(cb), Seq("m"))
      .withColumn("__d", l2ip(col("sub"), col("cw")))
      .groupBy(col(idCol), col("m"))
      .agg(min(struct(col("__d"), col("code_id"))).as("__min"))
      .select(col(idCol), col("m"), col("__min.code_id").as("code"))

  /** ADC distance table for a query set: (query_id, m, code_id,
    * d DECIMAL(28,12)) — queries × numSub × k rows, broadcastable. */
  def adcTable(queries: DataFrame, idCol: String, vecCol: String,
               cb: DataFrame, numSub: Int, subDim: Int): DataFrame =
    subvectors(queries, idCol, vecCol, numSub, subDim)
      .join(broadcast(cb), Seq("m"))
      .select(col(idCol).as("query_id"), col("m"), col("code_id"),
        l2ip(col("sub"), col("cw")).cast("decimal(28,12)").as("d"))

  /** ADC scores of every (query, candidate): codes equi-join the
    * broadcast table, one decimal sum per pair. */
  def adcScores(codes: DataFrame, corpusIdCol: String, table: DataFrame): DataFrame =
    codes.join(broadcast(table.withColumnRenamed("code_id", "code")), Seq("m", "code"))
      .groupBy(col("query_id"), col(corpusIdCol).as("cand_id"))
      .agg(sum(col("d")).as("adc"))

  /** End-to-end top-1 per query: ADC shortlist of `shortlist` candidates,
    * exact cosine rerank. Returns (query_id, vec_id, sim). */
  def searchTop1(queries: DataFrame, corpus: DataFrame, seed: DataFrame,
                 idCol: String, vecCol: String,
                 numSub: Int, subDim: Int, shortlist: Int): DataFrame = {
    val cb = codebooks(seed, idCol, vecCol, numSub, subDim)
    val codes = encode(corpus, idCol, vecCol, cb, numSub, subDim)
    val table = adcTable(queries, idCol, vecCol, cb, numSub, subDim)
    // BoundedTopK instead of the salted double window: the ADC score
    // table is the full |queries| × |corpus| cross, and the windows
    // sorted it twice; the partial phase prunes to ≤ shortlist rows per
    // query per task MAP-SIDE, so the exchange carries survivors only.
    // The shortlist is an order-insensitive SET (the exact rerank below
    // re-sorts), and (adc asc, cand_id asc) is a total order — identical
    // shortlist, identical result (q144 pins top-k ≡ window parity).
    val short = graft.plans.BoundedTopK.perGroup(
      adcScores(codes, idCol, table),
      groupCols = Seq("query_id"), order = Seq(col("adc").asc, col("cand_id").asc),
      k = shortlist)
      .select("query_id", "cand_id")
    val rr = short
      .join(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")), "query_id")
      .join(corpus.select(col(idCol).as("cand_id"), col(vecCol).as("__cv")), "cand_id")
      .withColumn("sim", Cosine.cosine(col("__qv"), col("__cv")))
    graft.plans.BoundedTopK.perGroup(rr.select("query_id", "cand_id", "sim"),
        Seq("query_id"), Seq(col("sim").desc, col("cand_id").asc), k = 1)
      .select(col("query_id"), col("cand_id").as("vec_id"), col("sim"))
  }
}
