package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native `graft_md5_long(str, k)` — the BIGINT value of the first `k`
  * hex digits of `md5(str)`, bit-identical to the catalog's ubiquitous
  * seeded-hash idiom
  *
  *   `conv(substring(md5(x), 1, k), 16, 10).cast("long")`
  *
  * (k ≤ 15 so the value < 2⁶⁰ — always an exact non-negative long; the
  * oracle twin `('0x' || substr(md5(x), 1, k))::BIGINT` is untouched).
  * The composed chain materializes THREE intermediate UTF8Strings per
  * row — md5's 32-char hex encoding, the substring copy, and conv's
  * decimal re-encoding — then re-parses the decimal in the cast. This
  * expression computes the digest once and folds the leading nibbles
  * straight into a long: no hex encode, no radix parse, no allocation
  * beyond the digest itself. Measured on q271's 16-permutation
  * signature stage (the catalog's hottest md5 chain).
  *
  * `k` must be a foldable INT literal in [1, 15]; the string side is
  * null-propagating like the chain it replaces.
  */
case class Md5PrefixLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) if right.foldable =>
        val k = right.eval().asInstanceOf[Int]
        if (k >= 1 && k <= 15) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"graft_md5_long k must be in [1, 15], got $k")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_md5_long requires (string, foldable int), got ($l, $r)")
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_md5_long"

  private lazy val k: Int = right.eval().asInstanceOf[Int]

  override def nullSafeEval(s: Any, kAny: Any): Any =
    Md5Long.compute(s.asInstanceOf[UTF8String], kAny.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, kc) => {
      s"${ev.value} = graft.plans.Md5Long.compute($s, $kc);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Md5PrefixLong =
    copy(left = newLeft, right = newRight)
}

object Md5Long {
  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** First `k` hex nibbles of MD5(utf8 bytes of `s`) as an unsigned
    * big-endian value — exactly `conv(substring(md5(s),1,k),16,10)`.
    */
  def compute(s: UTF8String, k: Int): Long = {
    val d = md.get()
    d.reset()
    val digest = d.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < k) {
      val b = digest(i >> 1) & 0xff
      val nib = if ((i & 1) == 0) b >>> 4 else b & 0xf
      v = (v << 4) | nib
      i += 1
    }
    v
  }
}
