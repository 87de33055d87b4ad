package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Random-hyperplane (sign) LSH for approximate cosine similarity search —
  * the scale path for ANN over an embedding column (north-star operator;
  * brute force is the baseline, see SimilarityQueries.q21).
  *
  * Sketch: `numTables` independent signatures of `bits` sign-bits each;
  * vectors sharing a (table, signature) bucket with a query become
  * candidates; exact cosine runs on candidates only. Candidate generation
  * is an equi-join on the bucket key — hash-partitioned shuffle, never a
  * cross join — so the plan scales to any corpus size; recall/cost is
  * tuned by (numTables, bits).
  *
  * Determinism: hyperplane weights derive from md5 — weight(t,b,d) =
  * int(md5("rp:t:b:d")[0:8 hex]) / 2^31 - 1, uniform in [-1, 1) and exactly
  * reproducible in any engine with md5 (the DuckDB oracle recomputes the
  * identical buckets; division by the dyadic 2^31 is exact in ieee754).
  */
object RandomHyperplaneLSH {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Deterministic hyperplane weight, cross-engine reproducible. */
  def planeWeight(table: Int, bit: Int, dim: Int): Double =
    java.lang.Long.parseLong(md5hex(s"rp:$table:$bit:$dim").substring(0, 8), 16) /
      2147483648.0 - 1.0

  private def planeLit(table: Int, bit: Int, dims: Int): Column =
    array((0 until dims).map(d => lit(planeWeight(table, bit, d))): _*)

  /** Signature of a double-array vector column for one table: an int whose
    * bit b is sign(dot(vec, plane_{table,b})). */
  def signature(vec: Column, table: Int, bits: Int, dims: Int): Column =
    (0 until bits)
      .map(b => when(Cosine.dot(vec, planeLit(table, b, dims)) > 0, lit(1 << b)).otherwise(lit(0)))
      .reduce(_ + _)

  /** (id, table, sig) bucket rows for every vector.
    *
    * Computed as a statically unrolled PROJECTION: numTables × bits
    * [[graft.expressions.DotProduct]] kernel calls against plane arrays
    * that constant-fold into literals — pure whole-stage codegen, no
    * join, no aggregation, and crucially ZERO exchange (two earlier
    * forms both lost: per-row HOF folds ran interpreted ~3× slower, and
    * the posexplode + plane-join + re-aggregate transposition pushed the
    * corpus through two id-keyed exchanges per LSH pass — corpus-sized
    * shuffle work every consumer paid at every scale). The kernel folds
    * dimensions in ascending order, exactly the order the transposition
    * aggregated in, so signatures are bit-identical to both prior forms
    * and to the oracle mirrors. */
  def buckets(df: DataFrame, idCol: String, vecCol: String,
              numTables: Int, bits: Int, dims: Int): DataFrame = {
    val perTable = (0 until numTables).map { t =>
      struct(lit(t).as("table"),
        signature(col(vecCol), t, bits, dims).cast("int").as("sig"))
    }
    df.select(col(idCol), explode(array(perTable: _*)).as("__ts"))
      .select(col(idCol), col("__ts.table").as("table"), col("__ts.sig").as("sig"))
  }

  /** Distinct (queryId, candidateId) pairs sharing any bucket. */
  def candidates(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
                 numTables: Int, bits: Int, dims: Int): DataFrame = {
    val qb = buckets(queries, idCol, vecCol, numTables, bits, dims)
      .withColumnRenamed(idCol, "query_id")
    val cb = buckets(corpus, idCol, vecCol, numTables, bits, dims)
      .withColumnRenamed(idCol, "cand_id")
    qb.join(cb, Seq("table", "sig")).select("query_id", "cand_id").distinct()
  }

  /** Hot-bucket backstop for SELF-join candidate generation. At a FIXED
    * bit width the signature space is finite (numTables × 2^bits
    * buckets), so bucket occupancy grows linearly with the corpus and
    * within-bucket pair counts quadratically — the ×30 rehearsal
    * measured candidate pair mass ×657 for ×30 vectors with the 10-bit
    * space fully saturated (8192/8192 buckets occupied), and the
    * downstream join spilled 8.6 GiB. The PRIMARY remedy is sizing bits
    * to the corpus (bits ≈ log2(n / targetBucket) — more planes, finer
    * buckets); the backstop for the hot tail that survives any fixed
    * operating point is [[selfCandidates]]' `maxBucket` guard
    * ([[graft.ops.BucketCap]] over (table, sig) — an over-full
    * sign-bucket means the planes do not separate that region, so its
    * pairs are mostly non-neighbors).
    *
    * Default self-join bucket cap: ≥4× the largest bucket observed at
    * the oracle scale factors (max 14 at sf0.1), so the guard is
    * output-invisible at every SF the DuckDB oracle checks, while
    * bounding per-bucket pair work at rehearsal/warehouse scale. */
  val DefaultMaxBucket = 64

  /** Distinct candidate pairs of ONE table with itself (the near-dup /
    * kNN-graph shape). `ordered = true` emits each pair once as (a < b);
    * `false` emits both directions (every vector as a query). Buckets
    * larger than `maxBucket` are dropped entirely — see [[DefaultMaxBucket]]. */
  def selfCandidates(df: DataFrame, idCol: String, vecCol: String,
                     numTables: Int, bits: Int, dims: Int,
                     ordered: Boolean,
                     maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val b = graft.ops.BucketCap(buckets(df, idCol, vecCol, numTables, bits, dims),
      maxBucket, "table", "sig")
    val pred = if (ordered) col("a") < col("b") else col("a") =!= col("b")
    b.toDF("a", "table", "sig").join(b.toDF("b", "table", "sig"), Seq("table", "sig"))
      .filter(pred)
      .select("a", "b").distinct()
  }
}
