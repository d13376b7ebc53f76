package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** r15: [[graft.functions.PolyHash]] must reproduce the interpreted HOF
  * fold `aggregate(transform(split(s,''), c -> ascii(c)), 7, (a,x) ->
  * pmod(a·31+x, P))` bit for bit — the minhash/fingerprint/gate family's
  * values (and their DuckDB twins) are defined by that fold. The probe
  * set covers the split('')/ascii() corner semantics: code-point (not
  * code-unit) iteration, surrogate pairs as one element, and the empty
  * string splitting to one empty element (ascii '' = 0 ⇒ hash 217). */
class PolyHashSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private val hof =
    "aggregate(transform(split(s, ''), c -> CAST(ascii(c) AS BIGINT)), " +
      "CAST(7 AS BIGINT), (acc, x) -> pmod(acc * 31 + x, 1000000007))"

  test("poly_hash ≡ the HOF fold on ASCII, unicode, surrogate and empty input") {
    import spark.implicits._
    val probes = Seq("", "a", "abc", "hello world", "héllo", "世界",
      "a😀b", "x y z", "NATION_7 builds parts", " leading",
      "trailing ", "  ", "\t", "ñandú ü ß", "a" * 500)
    val df = probes.toDF("s")
      .select(col("s"), expr(hof).as("ref"), expr("poly_hash(s)").as("got"))
    val bad = df.filter(col("ref") =!= col("got")).collect()
    assert(bad.isEmpty, bad.map(r => s"'${r.getString(0)}': " +
      s"ref=${r.getLong(1)} got=${r.getLong(2)}").mkString("; "))
    // and the documented empty-string pin
    assert(df.filter(col("s") === "").head().getLong(2) == 217L)
  }

  test("poly_hash ≡ the HOF fold over real fixture text and shingles") {
    val docs = graft.core.Tables.t(spark, TestSession.sf, "documents")
    val mismTok = docs
      .select(explode(split(col("text"), " ")).as("s"))
      .select(expr(hof).as("ref"), expr("poly_hash(s)").as("got"))
      .filter(col("ref") =!= col("got")).count()
    assert(mismTok == 0L, s"$mismTok token hashes diverge")
    val mismDoc = docs.select(col("text").as("s"))
      .select(expr(hof).as("ref"), expr("poly_hash(s)").as("got"))
      .filter(col("ref") =!= col("got")).count()
    assert(mismDoc == 0L, s"$mismDoc whole-text hashes diverge")
  }
}
