package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `bpe_apply_merges(syms, l1, r1, l2, r2, …)` — apply a BPE merge-rule
  * sequence to a symbol array, each rule as one greedy left-to-right
  * pass (replace a trailing `l` when the next symbol is `r`), rules in
  * the given order.
  *
  * Replaces the per-rule interpreted HOF fold
  * `aggregate(syms, [], (acc, x) -> if last(acc)=l and x=r then … )`
  * that the BPE family (train / encode / roundtrip / fertility) chained
  * once per rule — 10 nested lambda-tree projections, each materializing
  * an intermediate array and evaluating a Catalyst `when` tree per
  * symbol. This expression runs the whole rule sequence in one compiled
  * pass per word. Values are pinned bit-for-bit against the HOF form in
  * BpeMergesSpec (including the "aaa" → [aa, a] greedy order and merged
  * symbols re-matching later rules); the DuckDB twins are untouched.
  *
  * Null semantics mirror the fold exactly: a null ARRAY yields null; a
  * null ELEMENT never matches a rule (the `when` condition goes null →
  * otherwise-append). Rule strings must be foldable literals — they are
  * baked into the expression like CharGrams' k.
  */
case class BpeApplyMerges(child: Expression,
                          rules: Seq[(String, String)])
  extends UnaryExpression with CodegenFallback with Serializable {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bpe_apply_merges needs array<string>, got ${other.sql}")
    }
  override def prettyName: String = "bpe_apply_merges"

  @transient private lazy val compiled: Array[(UTF8String, UTF8String, UTF8String)] =
    rules.map { case (l, r) =>
      (UTF8String.fromString(l), UTF8String.fromString(r),
        UTF8String.fromString(l + r))
    }.toArray

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    var cur = new Array[UTF8String](arr.numElements())
    var i = 0
    while (i < cur.length) {
      cur(i) = if (arr.isNullAt(i)) null
               else arr.getUTF8String(i)
      i += 1
    }
    var ri = 0
    while (ri < compiled.length) {
      val (l, r, lr) = compiled(ri)
      cur = BpeApplyMerges.mergePass(cur, l, r, lr)
      ri += 1
    }
    new GenericArrayData(cur.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(
      newChild: Expression): BpeApplyMerges = copy(child = newChild)
}

object BpeApplyMerges {
  /** One greedy left-to-right merge pass of the rule (l, r): a symbol
    * equal to `r` that follows an output symbol equal to `l` merges into
    * it as `lr`, and a merged symbol may match `l` again ("aaa" → [aa, a]
    * under (a, a)). A null symbol never matches. The one kernel of the
    * expression and of `TextOps.bpeTrain`'s driver loop. */
  def mergePass[T <: AnyRef](syms: Array[T], l: T, r: T, lr: T): Array[T] = {
    val out = syms.clone()
    var n = 0
    var j = 0
    while (j < syms.length) {
      val x = syms(j)
      if (n > 0 && l.equals(out(n - 1)) && r.equals(x)) out(n - 1) = lr
      else { out(n) = x; n += 1 }
      j += 1
    }
    java.util.Arrays.copyOf[T](out, n)
  }

  /** Builder for the function registry: trailing args are the literal
    * (l, r) rule strings in application order. */
  def fromArgs(es: Seq[Expression]): BpeApplyMerges = {
    require(es.nonEmpty && es.length % 2 == 1,
      "bpe_apply_merges(syms, l1, r1, ...) needs an odd arg count")
    val rules = es.tail.grouped(2).map { pair =>
      (pair(0).eval().asInstanceOf[UTF8String].toString,
        pair(1).eval().asInstanceOf[UTF8String].toString)
    }.toSeq
    BpeApplyMerges(es.head, rules)
  }
}
