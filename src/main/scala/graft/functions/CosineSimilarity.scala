package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: cosine similarity of two `array<float>`
  * columns, accumulating in double (SURVEY.md §7.3 — the one custom
  * Catalyst piece the capability matrix justifies).
  *
  * Why an Expression and not a UDF / higher-order-function composition: at
  * the 100 TB design point the similarity kernel sits inside a broadcast
  * nested-loop (brute force) or bucket join (LSH) and runs billions of
  * times; `doGenCode` keeps it inside whole-stage codegen as one static
  * call into the companion's primitive loop — no per-row boxing, no
  * lambda dispatch, and the interpreted path runs the same loop. The HOF
  * formulation (see `Scalars.fn_array`) is kept for differential testing.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends FloatArrayPair {
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.CosineSimilarity.cosine($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Static kernel shared by interpreted eval and generated code: the
    * first min(|x|, |y|) positions, accumulated in double; a zero vector
    * scores 0.0. */
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / math.sqrt(nx * ny)
  }
}

/** Dot product twin (same design rationale). */
case class DotProduct(left: Expression, right: Expression)
    extends FloatArrayPair {
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.DotProduct.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Static kernel shared by interpreted eval and generated code. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    dot
  }
}

/** A double-valued kernel over two `array<float>` columns. */
sealed trait FloatArrayPair extends BinaryExpression with Serializable {
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(e => e.dataType match {
      case ArrayType(FloatType, _) => true; case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, " +
      s"got ${left.dataType.sql} and ${right.dataType.sql}")
  override def dataType: DataType = DoubleType
}

/** SQL functions so queries can say `cosine_similarity(a, b)` /
  * `dot_product(a, b)` / `kahan_sum(x)` via `expr(...)` without touching
  * Column internals. [[graft.plans.GraftExtensions]] injects every builder
  * below, the typed aggregates of [[Aggregators]] included, at session
  * build (`spark.sql.extensions`, set by [[graft.core.Session]]); nothing
  * registers a function at run time. */
object GraftFunctions {

  /** name → expression builder, the single source of truth. */
  val builders: Seq[(String, Seq[Expression] => Expression)] =
    Seq[(String, Seq[Expression] => Expression)](
    "cosine_similarity" -> (es => CosineSimilarity(es.head, es(1))),
    "dot_product" -> (es => DotProduct(es.head, es(1))),
    "word_shingles" -> (es => WordShingles(es.head, es(1))),
    // fused LSH signature kernel; trailing args must be integer literals
    // (they parameterize the plane matrix baked into the plan)
    "hyperplane_sigs" -> (es => HyperplaneSigs(es.head,
      es(1).eval().asInstanceOf[Number].intValue,
      es(2).eval().asInstanceOf[Number].intValue,
      es(3).eval().asInstanceOf[Number].intValue)),
    "char_grams" -> (es => CharGrams(es.head, es(1))),
    // portable polynomial string hash as ONE compiled loop (PolyHash.scala)
    "poly_hash" -> (es => PolyHash(es.head)),
    // BPE merge-rule sequence in one compiled pass (BpeMerges.scala);
    // trailing args are literal (l, r) pairs in application order
    "bpe_apply_merges" -> (es => BpeApplyMerges.fromArgs(es)),
    // record-linkage fuzzy kernel, DuckDB-compatible (JaroWinkler.scala)
    "jaro_winkler" -> (es => JaroWinkler(es.head, es(1))),
    // Z-order (Morton) key of two 16-bit bucket ordinals — see ZOrder.scala
    "interleave_bits" -> (es => InterleaveBits(es.head, es(1))),
    // Hilbert-curve index of two cell ordinals — see Hilbert.scala
    "hilbert_index" -> (es => HilbertIndex(es.head, es(1))),
    // Catalyst's own runtime-filter pair (internal registry only in stock
    // Spark), surfaced for explicit semi-join pre-filters: bloom_agg builds
    // the sketch distributed (TypedImperativeAggregate over xxhash64-ed
    // keys), might_contain probes it; the sketch reaches executors as a
    // scalar-subquery result, never a driver-collected set.
    "graft_bloom_agg" -> (es =>
      if (es.length >= 2)
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(es.head, es(1))
      else new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(es.head)),
    "graft_might_contain" -> (es =>
      org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(es.head, es(1))),
    // bounded-buffer collect_set for the df-cutoff pattern (cap must be an
    // integer literal — it is baked into the aggregate's saturation point)
    "bounded_collect_set" -> (es => BoundedCollectSet(es.head,
      es(1).eval().asInstanceOf[Number].intValue))) ++ Aggregators.builders
}
