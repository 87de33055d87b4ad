package graft.expressions

import org.apache.spark.sql.{Column, GraftExpressionBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The hierarchical sector vote's cascade (SURVEY.md A2,
  * reference `src/utils/general_utils.py:126-184`) over one doc's
  * codes: `sector_cascade(codes, total)`, where `codes` is the doc's
  * non-null codes (`collect_list`) and `total` its row count, so the
  * doc's null codes number `total - size(codes)`.
  *
  * Level by level (`divisors` finest-first, e.g. ICB 1, 100, 10⁴, 10⁶),
  * each code trims to `code / divisor`; the level's winner is the highest
  * count, ties to the smallest trimmed code, and the first level whose
  * winner's count exceeds `total · num / denom` (strictly) yields
  * `struct(sector, level)`. The null codes are one more candidate at
  * every level that loses count ties to any code (null sorts below every
  * code in the relational reference's `max(struct(count, -code))`); when
  * they win, the level yields nothing and the cascade moves on. No level
  * → null.
  *
  * The codes copy into per-thread scratch and sort once (primitive
  * sort); trimming by a positive divisor is monotone, so every level is
  * one run-length pass over the same sorted array, and the first run
  * with a strictly larger count is the smallest code among the tied. */
case class SectorCascade(codes: Expression, total: Expression, divisors: Seq[Long],
                         levelLabels: Seq[String], num: Int, denom: Int)
    extends BinaryExpression {
  require(divisors.nonEmpty && divisors.length == levelLabels.length,
    "sector_cascade needs one label per divisor")
  require(divisors.forall(_ > 0), s"sector_cascade divisors must be positive, got $divisors")

  override def left: Expression = codes
  override def right: Expression = total
  override def dataType: DataType = StructType(Seq(
    StructField("sector", LongType, nullable = false),
    StructField("level", StringType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "sector_cascade"

  private lazy val divs = divisors.toArray
  private lazy val labels = levelLabels.map(UTF8String.fromString).toArray

  override def checkInputDataTypes(): TypeCheckResult = (codes.dataType, total.dataType) match {
    case (ArrayType(LongType, _), LongType) => TypeCheckResult.TypeCheckSuccess
    case (c, t) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint>, bigint) arguments, got " +
        s"${c.catalogString}, ${t.catalogString}")
  }

  override def nullSafeEval(c: Any, t: Any): Any =
    SectorCascade.vote(c.asInstanceOf[ArrayData], t.asInstanceOf[Long], divs, labels, num, denom)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val d = ctx.addReferenceObj("divisors", divs, "long[]")
    val l = ctx.addReferenceObj("labels", labels,
      "org.apache.spark.unsafe.types.UTF8String[]")
    nullSafeCodeGen(ctx, ev, (c, t) =>
      s"""${ev.value} = graft.expressions.SectorCascade.vote($c, $t, $d, $l, $num, $denom);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SectorCascade = copy(codes = l, total = r)
}

object SectorCascade {

  private val scratch = new ThreadLocal[Array[Long]] {
    override def initialValue(): Array[Long] = new Array[Long](64)
  }

  def vote(codes: ArrayData, total: Long, divisors: Array[Long],
           labels: Array[UTF8String], num: Int, denom: Int): InternalRow = {
    val n = codes.numElements()
    var buf = scratch.get()
    if (buf.length < n) {
      var cap = buf.length
      while (cap < n) cap *= 2
      buf = new Array[Long](cap); scratch.set(buf)
    }
    var i = 0
    while (i < n) { buf(i) = codes.getLong(i); i += 1 }
    java.util.Arrays.sort(buf, 0, n)
    val nulls = total - n
    var lvl = 0
    while (lvl < divisors.length) {
      val d = divisors(lvl)
      var best = 0L
      var bestCnt = 0L
      i = 0
      while (i < n) {
        val c = buf(i) / d
        var j = i + 1
        while (j < n && buf(j) / d == c) j += 1
        if (j - i > bestCnt) { bestCnt = j - i; best = c }
        i = j
      }
      if (bestCnt >= nulls && bestCnt * denom > total * num)
        return new GenericInternalRow(Array[Any](best, labels(lvl)))
      lvl += 1
    }
    null
  }

  /** Column API: `sector_cascade(codes, total, divisors, labels, num, denom)`. */
  def sector_cascade(codes: Column, total: Column, divisors: Seq[Long],
                     levelLabels: Seq[String], num: Int, denom: Int): Column =
    GraftExpressionBridge.toColumn(SectorCascade(GraftExpressionBridge.toExpression(codes),
      GraftExpressionBridge.toExpression(total), divisors, levelLabels, num, denom))
}
