package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The id contract of the iterative graph operators (`Clusters`,
  * `PageRank`, `KCore`). Their rounds run as RDD jobs keyed by `Long`,
  * so each operator casts its integral ids to long once, inside the
  * checkpoint it takes anyway, and casts its output back to the input
  * id type. Both casts are exact for every integral type. */
private[graft] object GraphIds {

  /** The type of id column `c` in `df`; rejects non-integral ids. */
  def idType(df: DataFrame, c: String): DataType = df.schema(c).dataType match {
    case t @ (LongType | IntegerType | ShortType | ByteType) => t
    case t => throw new IllegalArgumentException(
      s"graph id column `$c` must be integral, got ${t.simpleString}")
  }

  /** `df` with its long id columns `cols` cast back to `t` — `df` itself
    * (no projection) when `t` is long. */
  def narrow(df: DataFrame, t: DataType, cols: String*): DataFrame =
    if (t == LongType) df
    else df.select(df.columns.toSeq.map(c =>
      if (cols.contains(c)) col(c).cast(t).as(c) else col(c)): _*)
}
