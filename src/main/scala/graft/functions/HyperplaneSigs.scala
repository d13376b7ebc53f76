package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused multi-table random-hyperplane LSH signatures: one pass over an
  * `array<float>` embedding computes ALL nTables×bits hyperplane dot
  * products and packs them into `array<bigint>` (table index in the high
  * bits, sign bits below — the layout `SimSearch.signatures` documents).
  *
  * Why fused: the composed formulation (nTables×bits separate
  * `dot_product(embedding, typedlit(plane))` calls reduced through `when`
  * chains) builds a ~100-node expression tree that re-reads the embedding
  * array once PER PLANE and dominated the LSH queries' runtime (measured
  * ~1.5 s of llm_ann_lsh's 2.5 s at sf0.1). Here the embedding is read
  * once and the plane matrix lives in a reference object — one static
  * triple loop that generated code calls, the same "kernel inside
  * whole-stage codegen" rationale as [[CosineSimilarity]]. At the 100 TB
  * design point this runs once per corpus row, so per-row constant
  * factors are the whole cost.
  *
  * Plane components are PORTABLE integer pseudo-uniforms in [-500, 499]
  * (a Weyl-style multiply-mod of the (plane, dim) key — the llm_minhash_poly
  * precedent): deterministic plan constants, no RNG state to ship,
  * reproducible across retries/repartitions at any parallelism, and
  * computable verbatim in DuckDB SQL so the LSH queries have real value
  * twins. Integer-valued floats also make each product x·c EXACT in double
  * (24-bit float mantissa × ≤10-bit integer < 53 bits), so the only
  * cross-engine float sensitivity left is the dot's summation order — and
  * both engines fold dimensions in index order (the while loop here, an
  * in-order list fold in the twin).
  */
case class HyperplaneSigs(child: Expression, nTables: Int, bits: Int, dim: Int)
    extends UnaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_sigs"

  // recomputed per executor from (nTables, bits, dim) — tiny and deterministic
  @transient private lazy val planes: Array[Array[Float]] =
    Array.tabulate(nTables * bits)(p => HyperplaneSigs.planeVector(p, dim))

  override def nullSafeEval(a: Any): Any =
    HyperplaneSigs.signatures(a.asInstanceOf[ArrayData], planes, nTables, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("hyperplanes", planes, "float[][]")
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.HyperplaneSigs.signatures($a, $pRef, $nTables, $bits)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneSigs {
  /** Static kernel shared by interpreted eval and generated code: table
    * `tt`'s signature is `tt << bits` with bit j set iff the dot with
    * plane `tt * bits + j` (over the first min(|x|, |plane|) positions,
    * folded in index order) is ≥ 0. */
  def signatures(x: ArrayData, planes: Array[Array[Float]],
                 nTables: Int, bits: Int): ArrayData = {
    val n = x.numElements()
    val sigs = new Array[Long](nTables)
    var tt = 0
    while (tt < nTables) {
      var s = tt.toLong << bits
      var j = 0
      while (j < bits) {
        val p = planes(tt * bits + j)
        val m = math.min(n, p.length)
        var dot = 0.0
        var i = 0
        while (i < m) { dot += x.getFloat(i).toDouble * p(i); i += 1 }
        if (dot >= 0.0) s |= (1L << j)
        j += 1
      }
      sigs(tt) = s
      tt += 1
    }
    ArrayData.toArrayData(sigs)
  }

  /** Deterministic hyperplane component for (plane p, dim i): portable
    * integer pseudo-uniform in [-500, 499] — the first 16 bits of
    * md5("plane:p:i") mod 1000, minus 500 (the salted-md5 `h16`
    * construction FeatureEng/Semantic already twin, giving fully
    * independent planes — an affine multiply-mod sequence was tried first
    * and its cross-plane correlation cost ~0.15 recall). The single source
    * of truth for the plane matrix — `SimSearch` delegates here, and the
    * DuckDB twins replay the identical formula in SQL:
    * `CAST(('0x' || substr(md5('plane:' || p || ':' || i), 1, 4)) AS
    * BIGINT) % 1000 - 500`. */
  def planeVector(plane: Int, dim: Int): Array[Float] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { i =>
      val h = md.digest(s"plane:$plane:$i".getBytes("UTF-8"))
      val v = ((h(0) & 0xff) << 8) | (h(1) & 0xff)
      (v % 1000 - 500).toFloat
    }
  }
}
