package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextOps
import graft.ops.Checkpoints

/** Exact substring-span deduplication — the "deduplicating training
  * data" pass at SUB-chunk granularity: any `width`-token window that
  * already occurred anywhere in the corpus (keep-first by (doc, pos))
  * marks its covered token positions for removal, and overlapping
  * duplicated windows merge naturally into maximal removed SPANS.
  * This is strictly stronger than [[ChunkDedup]]'s aligned chunks: a
  * repeated passage straddling a chunk boundary is invisible to aligned
  * chunking but every interior window of it is caught here.
  *
  * Scale shape (same exchange profile as ChunkDedup, ~width× the rows):
  *  - windows are explode-generated per doc and shuffled BY 64-BIT HASH
  *    of the gram (8-byte keys; a collision (~n²/2⁶⁴) can only remove
  *    one extra window);
  *  - keep-first is one map-side-combined `min(struct(doc, pos))` agg +
  *    one hash-join back at window cardinality — never all-pairs;
  *  - coverage positions explode only the DUPLICATED windows (width ×
  *    dup count, not width × corpus), then collapse to doc granularity.
  */
object SubstringDedup {

  /** Sliding `width`-token windows: (idCol, w_pos, w_hash). Docs shorter
    * than `width` produce no windows. */
  def windows(docs: DataFrame, idCol: String, textCol: String, width: Int): DataFrame =
    docs
      .withColumn("__toks", TextOps.tokens(col(textCol)))
      .select(col(idCol), posexplode(
        when(size(col("__toks")) >= width,
          transform(sequence(lit(0), size(col("__toks")) - width),
            i => xxhash64(array_join(slice(col("__toks"), i + 1, lit(width)), " "))))
          .otherwise(array().cast("array<bigint>"))))
      .withColumnRenamed("pos", "w_pos")
      .withColumnRenamed("col", "w_hash")

  /** Duplicated windows (everything but the globally-first occurrence
    * of each gram): (idCol, w_pos). */
  def dupWindows(docs: DataFrame, idCol: String, textCol: String, width: Int): DataFrame = {
    // keep-first as a window over the hash exchange the dedup pays
    // anyway (r15, the k-core lesson): the old agg-then-join-back shape
    // ran the corpus window-generation explode TWICE (once under the
    // min(struct) aggregate, once as the join's probe side) and paid the
    // join's second exchange. min(struct) over the whole partition needs
    // no ordering — same rows, one corpus explode, one Exchange.
    val w = windows(docs, idCol, textCol, width)
    val byHash = org.apache.spark.sql.expressions.Window.partitionBy("w_hash")
    w.withColumn("__first", min(struct(col(idCol), col("w_pos"))).over(byHash))
      .filter(!(col("__first").getField(idCol) === col(idCol) &&
        col("__first").getField("w_pos") === col("w_pos")))
      .select(col(idCol), col("w_pos"))
  }

  /** Token positions covered by any duplicated window: (idCol, p). */
  private def covered(dups: DataFrame, idCol: String, width: Int): DataFrame =
    dups.select(col(idCol),
        explode(sequence(col("w_pos"), col("w_pos") + lit(width - 1))).as("p"))
      .distinct()

  /** Per-doc removal report over ALL docs (short docs report zeros):
    * (idCol, n_tokens, n_windows, n_dup_windows, n_removed). */
  def report(docs: DataFrame, idCol: String, textCol: String, width: Int): DataFrame = {
    // dup windows feed two aggregations (count + coverage); materialize
    // once — the set is dup-window-sized (≪ corpus), the generation
    // pipeline is a full corpus explode
    val dups = Checkpoints.materialize(dupWindows(docs, idCol, textCol, width))
    val nTok = size(TextOps.tokens(col(textCol)))
    val base = docs.select(col(idCol), nTok.cast("long").as("n_tokens"),
      when(nTok >= width, nTok - (width - 1)).otherwise(lit(0))
        .cast("long").as("n_windows"))
    val dupCnt = dups.groupBy(col(idCol)).agg(count(lit(1)).as("n_dup_windows"))
    val remCnt = covered(dups, idCol, width)
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_removed"))
    base
      .join(dupCnt, Seq(idCol), "left")
      .join(remCnt, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** The pruned corpus: each doc's text with all covered positions cut
    * (maximal duplicated spans removed, first occurrences kept):
    * (idCol, pruned_text). Doc-granularity collect of the SURVIVING
    * tokens only — bounded by the original doc length. */
  def prune(docs: DataFrame, idCol: String, textCol: String, width: Int): DataFrame = {
    val cov = covered(dupWindows(docs, idCol, textCol, width), idCol, width)
    docs
      .select(col(idCol), posexplode(TextOps.tokens(col(textCol))))
      .withColumnRenamed("pos", "p")
      .join(cov, Seq(idCol, "p"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(transform(array_sort(collect_list(struct(col("p"), col("col")))),
        x => x.getField("col")), " ").as("pruned_text"))
  }
}
