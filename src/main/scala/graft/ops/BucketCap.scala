package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hot-bucket guard for banded (LSH) self-joins: a bucket of n members
  * emits ~n²/2 candidate pairs, so membership rows of buckets larger than
  * `maxBucket` are dropped before pairing — dropped, not salt-split, since
  * a salt split of a size-n bucket keeps only an arbitrary ~1/s of its
  * pairs anyway. The size is a window count over the SAME key columns the
  * bucket join shuffles and sorts on, so the window slots into the
  * exchange+sort a sort-merge join needs anyway: one streaming pass, not
  * an extra aggregation+join (the groupBy+semi-join form measured ~2× on
  * the MinHash LSH queries at sf0.1). Used by `MinHashLSH` (band, key)
  * and `RandomHyperplaneLSH` (table, sig). */
object BucketCap {
  def apply(rows: DataFrame, maxBucket: Int, key: String, keys: String*): DataFrame =
    rows
      .withColumn("__bsz", count(lit(1)).over(Window.partitionBy(key, keys: _*)))
      .filter(col("__bsz") <= maxBucket)
      .drop("__bsz")
}
