package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SQ8 scalar quantization for embedding columns: each dimension is
  * affinely mapped to an 8-bit code against per-dimension corpus
  * [min, max] bounds — 4× less scan I/O than float32 vectors, the
  * third standard ANN compression tier next to `IvfFlat` (coarse cells)
  * and `ProductQuantizer` (subspace codebooks). Asymmetric distance
  * keeps the query side in full precision and reconstructs the corpus
  * side per dimension (`recon = mn + code·span/255`), the same
  * query-exact/corpus-compressed split as PQ's ADC.
  *
  * Determinism contract: the score is a WITHIN-row sequential fold
  * (dimensions ascending) of IEEE double contributions with pinned
  * association — `graft.expressions.Sq8Sim` on the Spark side,
  * `list_inner_product` over the identically-reconstructed list on the
  * DuckDB side — so partitioning cannot reorder it and both engines
  * produce bit-identical scores (the earlier per-term decimal
  * quantization guarded the same property at ~10× the cost).
  *
  * Scale: `fit` is one map-side-combined agg over 64 keys (partials make
  * the tiny key domain a non-issue); the score pass broadcasts the
  * 1-row params and the query set, computes the fold entirely row-local
  * (the corpus is never exploded — a per-(vec,dim) join would put n·d
  * rows through the exchange), and ends in `plans/BoundedTopK`.
  * Constant-size-dominated; one shuffle total (the top-k's).
  */
object ScalarQuantizer {

  /** Per-dimension corpus bounds, pivoted to one row of index-aligned
    * arrays (`mn`, `mx`) for broadcast. */
  def fitParams(corpus: DataFrame, vecCol: String): DataFrame =
    corpus
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .agg(array_sort(collect_list(struct(col("dim"), col("mn"), col("mx"))))
        .as("s"))
      .select(
        transform(col("s"), e => e.getField("mn")).as("mn"),
        transform(col("s"), e => e.getField("mx")).as("mx"))

  /** Top-k per query by asymmetric SQ8 similarity. `queries` must be
    * broadcast-small (it is crossed against the whole corpus).
    *
    * The score is the native [[graft.expressions.Sq8Sim]] kernel — a
    * within-row double fold (dimensions ascending) fused into
    * whole-stage codegen. Its interpreted predecessor (an
    * `aggregate(sequence(...))` HOF with per-element decimal
    * quantize/add) dominated the scan profile; the fold order and
    * pinned-association arithmetic are mirrored exactly by the oracle's
    * `list_inner_product` over the reconstructed list, so scores — and
    * therefore the ranking — are bit-identical cross-engine without the
    * decimal machinery. */
  def topKAsymmetric(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val params = fitParams(corpus, "vec")
    val scored = corpus
      .crossJoin(broadcast(params))
      .crossJoin(broadcast(queries))
      .withColumn("simd", graft.expressions.Sq8Sim.sq8_sim(
        col("qvec"), col("vec"), col("mn"), col("mx")))
    // the scored table is the full |queries| × |corpus| cross: the
    // top-k's map-side heaps prune it before the exchange, where the
    // salted double window sorted it twice
    graft.plans.BoundedTopK.perGroup(
        scored.select(col("query_id"), col("vec_id"), col("simd")),
        Seq("query_id"), Seq(col("simd").desc, col("vec_id").asc), k)
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("simd"), 6).as("sim"))
  }
}
