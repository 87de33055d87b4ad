package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Deterministic sampling operators for corpus curation.
  *
  * A training-data pipeline needs samples that are (a) weighted — long
  * or high-quality documents should be over-represented according to an
  * explicit weight, and (b) REPRODUCIBLE — rerunning the pipeline on the
  * same corpus must pick the same rows (no rand(), whose output depends
  * on partitioning), so a shipped dataset can be audited.
  *
  * Weighted k-sample: Efraimidis–Spirakis A-ES in the exponential-race
  * form. Each row draws u ~ U(0,1) from a deterministic content hash and
  * races with key = -ln(u)/w; the k SMALLEST keys are the sample. This
  * equals weighted sampling without replacement, and is embarrassingly
  * parallel: per-partition top-k heaps then a tiny global merge (the
  * TakeOrderedAndProject that `orderBy().limit()` lowers to).
  *
  * The uniform comes from the md5-derived 32-bit int (cross-engine
  * stable, `TextOps.md5Int32`) mapped to the open interval (0,1) via
  * (h mod 10^6 + 0.5)/10^6. Keys are ROUNDED before ranking so the
  * selection does not depend on sub-ulp libm differences between
  * engines; ties break on the id column.
  */
object Sampling {

  /** Race key for weighted sampling: -ln(u)/weight, u from a hash of
    * `seedCol`'s string value. Smaller = more likely selected. */
  def raceKey(seedCol: Column, weight: Column, roundTo: Int = 8): Column =
    round(
      -log((pmod(TextOps.md5Int32(seedCol.cast("string")), lit(1000000)) + lit(0.5))
        / lit(1000000.0)) / weight,
      roundTo)

  /** Deterministic weighted sample WITHOUT replacement of size k.
    * Returns the input columns plus `sample_key`.
    *
    * Rows with NULL or non-positive weight are EXCLUDED (A-ES is defined
    * for w > 0): unfiltered, a null weight yields a null race key and a
    * negative weight a negative one, and both sort BEFORE every valid
    * key — a handful of bad-weight rows would deterministically occupy
    * sample slots, silently biasing the shipped sample. */
  def weightedSample(df: DataFrame, idCol: String, weight: Column, k: Int): DataFrame =
    // global top-k: orderBy+limit lowers to a TakeOrderedAndProject
    // bounded heap (no exchange)
    df.filter(weight.isNotNull && weight > lit(0))
      .withColumn("sample_key", raceKey(col(idCol), weight))
      .orderBy(col("sample_key").asc, col(idCol).asc)
      .limit(k)
}
