package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftExpressionBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd `conv(substring(md5(c), 1, nibbles), 16, 10)::long`
  * — the md5-prefix integer hash behind `TextOps.md5Int32` (8 nibbles)
  * and `md5Int60` (15 nibbles), computed directly from the digest bytes.
  *
  * The declarative chain allocated per CALL: a 32-char hex UTF8String
  * from `md5`, a substring copy, `conv`'s base-16 string parse and
  * base-10 string render, then a string→long cast — all to read the
  * first 4–8 digest bytes as an integer. On per-gram hot paths (q160's
  * sketch base rows, q33's hashing-trick embedding) the string machinery
  * dominated the digest itself (q160's base rows: 1.1–1.2 s of ~2.3 s at
  * sf0.1, OPTIMIZATION_r16.md §5). The kernel is VALUE-IDENTICAL: the first `nibbles` hex chars
  * of the md5 hex encoding read as an unsigned big-endian integer are
  * exactly the high `4·nibbles` bits of the digest, so every oracle
  * mirror (`('0x' || substr(md5(x),1,k))::BIGINT` / conv-form SQL) is
  * untouched. Per-thread digest (the PolyFingerprint pattern).
  * Null → null, like the declarative chain. */
case class Md5PrefixLong(child: Expression, nibbles: Int)
  extends UnaryExpression {
  require(nibbles >= 1 && nibbles <= 15, s"nibbles must be 1..15, got $nibbles")
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix_long"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    Md5PrefixLong.hash(input.asInstanceOf[UTF8String], nibbles)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.Md5PrefixLong.hash($c, $nibbles)")

  override protected def withNewChildInternal(newChild: Expression): Md5PrefixLong =
    copy(child = newChild)
}

object Md5PrefixLong {

  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** First `nibbles` hex chars of md5(u) as an unsigned big-endian
    * long — bit-for-bit the declarative conv/substring chain's value. */
  def hash(u: UTF8String, nibbles: Int): Long = {
    val md = digest.get()
    md.reset()
    md.update(u.getBytes)
    val d = md.digest()
    var v = 0L
    var i = 0
    while (i < nibbles) {
      val b = d(i >> 1)
      val nib = if ((i & 1) == 0) (b >> 4) & 0xf else b & 0xf
      v = (v << 4) | nib
      i += 1
    }
    v
  }

  def md5_prefix_long(c: Column, nibbles: Int): Column =
    GraftExpressionBridge.toColumn(
      Md5PrefixLong(GraftExpressionBridge.toExpression(c), nibbles))
}
