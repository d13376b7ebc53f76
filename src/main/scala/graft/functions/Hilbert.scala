package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.Expression

/** Hilbert-curve index — the locality-preserving sibling of the Z-order
  * Morton code (`ZOrder.scala`): consecutive Hilbert indices are ALWAYS
  * grid neighbors (the curve never jumps), so range-clustering by the
  * Hilbert key tiles the plane with better worst-case locality than
  * Z-order's diagonal discontinuities — the layout trick behind
  * Hilbert-clustered lakehouse tables. Same first-principles discipline
  * as `interleave_bits`: a tiny static kernel an `Expression` codegens
  * straight into whole-stage Java.
  *
  * The standard iterative xy→d mapping (Hamilton's algorithm; the
  * classic Wikipedia `xy2d` loop): per bit-plane s from the top, the
  * quadrant (rx, ry) contributes s²·([0,1,2,3] by Gray order) and the
  * lower plane is rotated/reflected into the quadrant's frame. All
  * integer ops — the DuckDB oracle unrolls the identical loop in SQL,
  * so hash parity differentially tests this kernel.
  */
object HilbertBits {
  /** Hilbert distance of (x, y) on the 2^order × 2^order grid. Inputs
    * are masked into range. */
  def xy2d(order: Int, xIn: Int, yIn: Int): Long = {
    val mask = (1 << order) - 1
    var x = xIn & mask; var y = yIn & mask
    var d = 0L
    var s = 1 << (order - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1 else 0
      val ry = if ((y & s) > 0) 1 else 0
      d += s.toLong * s * ((3 * rx) ^ ry)
      // rotate the lower plane into this quadrant's frame
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}

/** `hilbert_index(x, y)` — Hilbert distance of two int cell ordinals on
  * the order-14 (16384×16384) grid, matching the synthetic 0..9999 point
  * domain used by the spatial queries. */
case class HilbertIndex(left: Expression, right: Expression)
    extends IntPairKey {
  override def prettyName: String = "hilbert_index"

  override def nullSafeEval(a: Any, b: Any): Any =
    HilbertBits.xy2d(14, a.asInstanceOf[Int], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HilbertBits.xy2d(14, $a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
