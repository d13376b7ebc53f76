package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst `Generator` (the UDTF leg of SURVEY.md §2's "UDF / UDAF /
  * UDTF surface"): `word_shingles(text, k)` emits one row per consecutive
  * k-word shingle of `text`.
  *
  * Why a Generator and not explode-over-an-array: this feeds the dedup hot
  * path ([[graft.llm.TextOps.shingles]] → MinHash/Jaccard), where the
  * previous formulation paid a hash shuffle + per-doc window sort (posexplode
  * → lead(tok, 1..k-1) over (doc_id, pos)) just to pair neighboring tokens.
  * The generator emits shingles in a single narrow map over the scan — no
  * shuffle, no sort, no materialized intermediate array — and the iterator
  * is lazy, so a pathological 100 MB document never allocates its full
  * shingle array at once.
  *
  * Token semantics match `split(text, ' ')` exactly (limit -1: interior and
  * trailing empty tokens preserved) so the DuckDB oracle for
  * `llm_ngram_jaccard` keeps hashing identical shingle strings.
  */
case class WordShingles(child: Expression, kExpr: Expression)
    extends StringGrams {
  override protected def sqlName: String = "word_shingles"

  override def elementSchema: StructType =
    StructType(StructField("shingle", StringType) :: Nil)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null || k <= 0) Iterator.empty
    else {
      val toks = v.asInstanceOf[UTF8String].toString.split(" ", -1)
      if (toks.length < k) Iterator.empty
      else (0 to toks.length - k).iterator.map { i =>
        val sb = new java.lang.StringBuilder
        var j = i
        while (j < i + k) {
          if (j > i) sb.append(' ')
          sb.append(toks(j))
          j += 1
        }
        InternalRow(UTF8String.fromString(sb.toString))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), kExpr = newChildren(1))
}

/** `char_grams(text, k)`: one row per k-character gram, codepoint-exact with
  * SQL `substring(text, i, k)` (operates on the UTF8String directly — no
  * UTF-16 conversion, no per-doc gram array). Replaces the interpreted
  * `transform(sequence(1, length-k+1), i -> substring(...))` HOF on the
  * language-ID hot path: higher-order lambdas run interpreted per element
  * AND materialize the full array before explode. */
case class CharGrams(child: Expression, kExpr: Expression)
    extends StringGrams {
  override protected def sqlName: String = "char_grams"

  override def elementSchema: StructType =
    StructType(StructField("gram", StringType) :: Nil)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null || k <= 0) Iterator.empty
    else {
      val str = v.asInstanceOf[UTF8String]
      val n = str.numChars()
      if (n < k) Iterator.empty
      else (1 to n - k + 1).iterator.map { i =>
        InternalRow(str.substringSQL(i, k))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), kExpr = newChildren(1))
}

/** A generator of the grams of a string column, `k` a foldable int read
  * once (`word_shingles`, `char_grams`). */
sealed trait StringGrams extends Generator with CodegenFallback {
  def child: Expression
  def kExpr: Expression
  protected def sqlName: String

  override def children: Seq[Expression] = Seq(child, kExpr)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && kExpr.dataType == IntegerType &&
        kExpr.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$sqlName requires (string, foldable int), got " +
      s"${child.dataType.sql}, ${kExpr.dataType.sql}")

  protected lazy val k: Int = kExpr.eval(null).asInstanceOf[Int]
}
