package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.TextOps

/** Token-blocked fuzzy self-match: entity-resolution within edit
  * distance, without the all-pairs cross join. Candidates are pairs
  * sharing AT LEAST ONE word token (explode → equi-join on token →
  * distinct), then the exact Levenshtein filter runs on the
  * candidate-sized set only. Any pair within distance ≤ maxDist that
  * still shares one whole token is found; a typo inside EVERY token of
  * a name escapes the blocker — the standard blocking trade-off,
  * acceptable for multi-word entity names (a 2-token name needs 2+
  * independent typos to escape).
  *
  * Scale: the equi-join shuffles token-keyed candidate rows; a hot
  * token ("inc", "ltd") makes its bucket quadratic — same hazard and
  * same remedy as the LSH operators' `BucketCap`: cap or drop oversized token
  * buckets, or restrict the blocker to each name's rarest token
  * (PPJoin's prefix idea, see `dedup/PrefixFilterJoin`) at some recall
  * cost. The Levenshtein itself is per-candidate-row compute, codegen'd
  * (built-in expression on both engines, identical unit-cost metric).
  */
object FuzzyJoin {

  def selfMatch(df: DataFrame, nameCol: String, maxDist: Int): DataFrame = {
    val names = df.select(col(nameCol).as("name")).distinct()
    val toks = names.select(col("name"),
      explode(TextOps.tokens(col("name"))).as("token"))
    val cands = toks.select(col("name").as("name_a"), col("token"))
      .join(toks.select(col("name").as("name_b"), col("token")), "token")
      .filter(col("name_a") < col("name_b"))
      .select("name_a", "name_b").distinct()
    cands
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
  }
}
