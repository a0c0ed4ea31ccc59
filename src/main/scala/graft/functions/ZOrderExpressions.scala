package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, LongType}

/** Morton (Z-order) interleaving behind the `graft_zvalue` SQL function
  * — the multi-column generalization of a range-sorted layout: sorting
  * by the interleaved bits of two columns clusters rows so that a range filter
  * on EITHER column maps to a bounded set of Z ranges, and parquet
  * footer min/max stats skip the rest. One clustered layout serves two
  * filter dimensions, where a plain sort serves one.
  *
  * The bit-spreading uses the public-domain magic-mask construction
  * (Stanford Bit Twiddling Hacks). [[ZValue]] interleaves the low 32
  * bits of each input (left column on even bits, right on odd);
  * callers that want equal weight per dimension should first scale
  * both inputs to a common bucket range — min/max scaling to 16-bit
  * buckets keeps the Z value in 32 bits, with both columns contributing
  * alternating significant bits.
  */
object ZOrder {

  /** Spread the low 32 bits of x one position apart (into even bits). */
  def spread(x0: Long): Long = {
    var x = x0 & 0xffffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8))  & 0x00ff00ff00ff00ffL
    x = (x | (x << 4))  & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2))  & 0x3333333333333333L
    x = (x | (x << 1))  & 0x5555555555555555L
    x
  }

  /** Morton code of (a, b): a's bits on even positions, b's on odd.
    * The full 64-bit code orders correctly only as UNSIGNED — b ≥ 2³¹
    * sets the sign bit. Layouts that sort the code with Spark's signed
    * long comparison must keep inputs below 2³¹ (16-bit buckets keep
    * codes in 32 bits). */
  def interleave(a: Long, b: Long): Long =
    spread(a) | (spread(b) << 1)
}

/** Children must be LongType (callers cast — `AbstractDataType` is
  * private[sql], so ExpectsInputTypes isn't available out here; same
  * contract as the other graft kernels). */
case class ZValue(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_zvalue"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ZOrder.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ZOrder.interleave($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ZValue =
    copy(left = l, right = r)
}
