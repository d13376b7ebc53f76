package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `poly_hash(s)` — the engine's portable polynomial string hash
  * `fold(cp: acc ← (acc·31 + cp) mod 1000000007, acc₀ = 7)` over the
  * string's CODE POINTS, as one compiled loop.
  *
  * Replaces the interpreted HOF chain
  * `aggregate(transform(split(s, ''), c -> ascii(c)), 7, (a,x) ->
  * pmod(a·31+x, P))` that every minhash/fingerprint/gate operator
  * evaluated per character through a Catalyst lambda tree — the dominant
  * cost of the llm_neardup_gate cold path (VERDICT r14 #4) and of the
  * minhash signature family.
  *
  * Semantics pinned byte-for-byte to the HOF form (PolyHashSpec compares
  * them on ASCII, accented, CJK and surrogate-pair inputs):
  *  - `split(s, '')` yields CODE POINTS (a surrogate pair stays one
  *    element) and yields ONE empty element for the empty string;
  *  - `ascii(c)` is the element's code point, and 0 for the empty
  *    element — so poly_hash('') = (7·31 + 0) mod P = 217.
  * Every intermediate fits a long: acc < P ≈ 1e9, so acc·31 + cp
  * < 3.2e10. The same fold is what the DuckDB twins compute with their
  * closed-form power tables — this expression changes execution cost,
  * never a value.
  */
case class PolyHash(child: Expression)
  extends UnaryExpression with Serializable {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"poly_hash needs a string child, got ${child.dataType.sql}")
  override def prettyName: String = "poly_hash"

  override protected def nullSafeEval(input: Any): Any =
    PolyHash.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHash.hash($c)")

  override protected def withNewChildInternal(
      newChild: Expression): PolyHash = copy(child = newChild)
}

object PolyHash {
  /** Modulus of the portable hash family: every hash and permuted value
    * lives in [0, P) < 2^30, so `h·a` stays under 2^60 (exact in BIGINT on
    * both engines) and an (mh, mh') pair packs injectively into one 64-bit
    * key as `mh·2^30 + mh'`. */
  final val P = 1000000007L

  /** The affine permutations `h → (a·h + b) mod P` of the portable MinHash
    * signatures, in order: the first 4 are llm_minhash_poly's, the first 8
    * `DedupGate`'s bands, and all 64 the banded `Dedup` pipeline's, the
    * last 56 a deterministic 31×/7× extension. One value feeds the engine
    * aggregates and the generated DuckDB twin text, so the two sides
    * cannot drift. */
  val minhashPerms: Seq[(Long, Long)] = {
    val base = Seq((1L, 0L), (31L, 7L), (131L, 13L), (1031L, 101L),
      (8191L, 19L), (131071L, 29L), (524287L, 37L), (2097143L, 43L))
    val more = Iterator.iterate((2097143L * 31 % P, (43L * 7 + 5) % P)) {
      case (a, b) => (a * 31 % P, (b * 7 + 5) % P)
    }.take(56).toSeq
    base ++ more
  }

  /** The compiled fold — shared by eval and generated code. */
  def hash(u: UTF8String): Long = {
    val s = u.toString
    val n = s.length
    if (n == 0) return 217L // (7·31 + ascii('')) mod P — split('') = ['']
    var acc = 7L
    var i = 0
    while (i < n) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      acc = (acc * 31L + cp) % P
    }
    acc
  }
}
