package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types._

/** Bit-interleave helpers for Z-order (Morton) clustering.
  *
  * Kept as an `object` (compiled to static forwarders) so the generated
  * whole-stage-codegen Java can call it directly.
  */
object ZOrderBits {
  /** Spread the low 16 bits of `v` into the even bit positions of a long. */
  def spread16(v: Int): Long = {
    var x = (v & 0xFFFF).toLong
    x = (x | (x << 8)) & 0x00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0FL
    x = (x | (x << 2)) & 0x33333333L
    x = (x | (x << 1)) & 0x55555555L
    x
  }

  /** Morton code of two 16-bit values: bits of `a` at even positions,
    * bits of `b` at odd. Inputs outside [0, 65535] are masked. */
  def interleave16(a: Int, b: Int): Long =
    spread16(a) | (spread16(b) << 1)
}

/** `interleave_bits(a, b)` — the Z-order key of two pre-normalized 16-bit
  * bucket ordinals (SURVEY §2 "data-skipping layout", second dimension).
  *
  * Why: range-clustering by ONE column (`Partitioning.clusterBy`) gives
  * each parquet file a narrow slice of that column — predicates on it skip
  * via footer min/max stats, predicates on anything else read everything.
  * Sorting by the Morton code of TWO columns tiles the (a, b) plane with
  * rectangles: every file covers a bounded range in BOTH dimensions, so a
  * selective predicate on EITHER column prunes ~√(selectivity) of the
  * files. This is the layout trick the lakehouse engines call Z-ORDER,
  * built from first principles as a codegen'd Catalyst expression — the
  * multi-key replacement for the reference's per-column B-trees
  * (`sql/init.sql:45-47`) once data no longer fits one Postgres.
  */
case class InterleaveBits(left: Expression, right: Expression)
    extends IntPairKey {
  override def prettyName: String = "interleave_bits"

  override def nullSafeEval(a: Any, b: Any): Any =
    ZOrderBits.interleave16(a.asInstanceOf[Int], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.ZOrderBits.interleave16($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** A bigint layout key of two int cell ordinals (`interleave_bits`,
  * `hilbert_index`). */
private[functions] trait IntPairKey extends BinaryExpression with Serializable {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == IntegerType && right.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two int arguments, " +
      s"got ${left.dataType.sql} and ${right.dataType.sql}")
  override def dataType: DataType = LongType
}
