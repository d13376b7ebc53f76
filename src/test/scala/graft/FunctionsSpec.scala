package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Spark-specific scalar functions with no DuckDB oracle twin (SURVEY §2
  * scalar families): behavior pinned by example. */
class FunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("soundex and initcap") {
    val r = Seq(("robert", "hello world")).toDF("a", "b")
      .select(soundex($"a"), initcap($"b")).collect()(0)
    assert(r.getString(0) == "R163")
    assert(r.getString(1) == "Hello World")
  }

  test("word_shingles generator (UDTF): select-list, lateral view, edge cases") {
    val docs = Seq((1L, "a b c d"), (2L, "one two"), (3L, null),
      (4L, "x  y z")).toDF("id", "text")
    docs.createOrReplaceTempView("ws_docs")
    // generator in a select list (analyzer wraps it in Generate)
    val sel = docs.selectExpr("id", "word_shingles(text, 3) AS sh")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(sel == Set((1L, "a b c"), (1L, "b c d"),
      (4L, "x  y"), (4L, " y z"))) // doc 2 too short, doc 3 null → no rows;
    // doc 4: empty token between double spaces preserved (split -1 parity)
    // and the same generator through SQL LATERAL VIEW
    val lv = spark.sql(
      """SELECT id, sh FROM ws_docs
         LATERAL VIEW word_shingles(text, 2) t AS sh WHERE id = 2""")
      .collect().map(_.getString(1)).toSeq
    assert(lv == Seq("one two"))
  }

  test("char_grams generator matches the transform(sequence) HOF formulation") {
    val docs = Seq((1L, "abcdef"), (2L, "ab"), (3L, null), (4L, "héllo"))
      .toDF("id", "text")
    val gen = docs.selectExpr("id", "char_grams(text, 3) AS gram")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    val hof = docs.filter(length($"text") >= 3)
      .selectExpr("id",
        "explode(transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))) AS gram")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(gen == hof)
    assert(gen.contains((4L, "hél")), "codepoint (not byte) grams")
  }

  test("raw first/last/any_value aggregates (single sorted partition)") {
    // the nondeterministic built-ins, pinned on a deterministic input: one
    // partition, pre-sorted, so first = head row and last = tail row.
    // ignoreNulls variants must skip the leading/trailing nulls.
    val df = Seq[(Int, java.lang.Integer)]((1, null), (2, 20), (3, 30),
        (4, null)).toDF("k", "v")
      .repartition(1).sortWithinPartitions($"k")
    val r = df.agg(
      first($"v").as("f"), last($"v").as("l"),
      first($"v", ignoreNulls = true).as("f_nn"),
      last($"v", ignoreNulls = true).as("l_nn"),
      any_value($"v", lit(true)).as("av")).collect()(0)
    assert(r.isNullAt(0), "first without ignoreNulls takes the null head")
    assert(r.isNullAt(1), "last without ignoreNulls takes the null tail")
    assert(r.getInt(2) == 20 && r.getInt(3) == 30)
    assert(r.getInt(4) == 20, "any_value(ignoreNulls) on one sorted partition")
  }

  test("typed Dataset transforms agree with their DataFrame twins") {
    // map/filter/flatMap/reduceGroups on Dataset[T] — the Encoders path —
    // must produce what the equivalent Column expressions produce
    import FunctionsSpec.P
    val ds = Seq(P("a", 1), P("b", 2), P("a", 3), P("c", 4)).toDS()
    val typed = ds.filter(_.v % 2 == 1).map(p => P(p.k, p.v * 10))
      .groupByKey(_.k).reduceGroups((x, y) => P(x.k, x.v + y.v))
      .map(_._2).collect().map(p => p.k -> p.v).toMap
    val frame = ds.toDF().filter($"v" % 2 === 1)
      .withColumn("v", $"v" * 10)
      .groupBy("k").agg(sum($"v").as("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(typed == frame && typed == Map("a" -> 40L))
    val flat = ds.flatMap(p => Seq.fill(p.v.toInt)(p.k)).count()
    assert(flat == 10L)
  }

  test("try_* arithmetic returns NULL instead of failing") {
    val r = Seq((1L, 0L)).toDF("a", "b").selectExpr(
      "try_divide(a, b) AS div0",
      "try_add(9223372036854775807, 1) AS of_add",
      "try_multiply(9223372036854775807, 2) AS of_mul",
      "try_element_at(array(1, 2), 5) AS oob",
      "try_to_number('abc', '999') AS bad_num").collect()(0)
    (0 until 5).foreach(i => assert(r.isNullAt(i), s"field $i should be null"))
  }

  test("map higher-order functions: concat/filter/transform/zip_with") {
    val r = Seq(1).toDF("x").selectExpr(
      "map_concat(map('a', 1, 'b', 2), map('c', 3)) AS mc",
      "map_filter(map('a', 1, 'b', 2, 'c', 3), (k, v) -> v >= 2) AS mf",
      "transform_keys(map('a', 1), (k, v) -> upper(k)) AS tk",
      "transform_values(map('a', 1), (k, v) -> v * 10) AS tv",
      "map_zip_with(map('a', 1), map('a', 100), (k, v1, v2) -> v1 + v2) AS mz")
      .collect()(0)
    assert(r.getMap[String, Int](0) == Map("a" -> 1, "b" -> 2, "c" -> 3))
    assert(r.getMap[String, Int](1) == Map("b" -> 2, "c" -> 3))
    assert(r.getMap[String, Int](2) == Map("A" -> 1))
    assert(r.getMap[String, Int](3) == Map("a" -> 10))
    assert(r.getMap[String, Int](4) == Map("a" -> 101))
  }

  test("approx_percentile tracks exact percentile within accuracy bound") {
    val df = spark.range(100000).selectExpr("CAST(id AS DOUBLE) AS x")
    val r = df.selectExpr(
      "approx_percentile(x, 0.5, 10000) AS ap",
      "percentile(x, 0.5) AS ep").collect()(0)
    // accuracy=10000 → rank error ≤ N/10000 = 10 ranks ≈ 10 in value here
    assert(math.abs(r.getDouble(0) - r.getDouble(1)) <= 20.0,
      s"approx ${r.getDouble(0)} vs exact ${r.getDouble(1)}")
  }

  test("HLL sketches merge: unioned per-group sketches ≈ global distinct") {
    // the 100 TB pattern: sketch per partition/day, merge later — no
    // re-scan of history. Two disjoint halves sketched separately, merged
    // with hll_union_agg, estimate compared to the true distinct count.
    val df = spark.range(50000)
      .selectExpr("id % 20000 AS v", "CAST(id >= 25000 AS INT) AS half")
    val est = df.groupBy("half")
      .agg(expr("hll_sketch_agg(v)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("n"))
      .collect()(0).getLong(0)
    assert(math.abs(est - 20000L) < 20000 * 0.05,
      s"merged HLL estimate $est too far from 20000")
  }

  test("months_between fractional semantics (31-day month rule)") {
    val r = Seq(1).toDF("x").select(
      months_between(lit("2024-03-15 00:00:00").cast("timestamp"),
        lit("2024-01-31 00:00:00").cast("timestamp")).as("m")).collect()(0)
    assert(math.abs(r.getDouble(0) - 1.4838709677) < 1e-6)
  }

  test("make_timestamp composes timestamps from parts") {
    val r = Seq((2024, 2, 29, 13, 30, 15.5)).toDF("y", "mo", "d", "h", "mi", "s")
      .select(expr("make_timestamp(y, mo, d, h, mi, s)").cast("string")).collect()(0)
    assert(r.getString(0) == "2024-02-29 13:30:15.5")
  }

  test("bround banker's rounding vs round half-up") {
    val r = Seq((2.5, 3.5)).toDF("a", "b").select(
      bround($"a"), bround($"b"), round($"a"), round($"b")).collect()(0)
    assert(r.getDouble(0) == 2.0 && r.getDouble(1) == 4.0) // half-even
    assert(r.getDouble(2) == 3.0 && r.getDouble(3) == 4.0) // half-up
  }

  test("rand(seed) is deterministic across runs for a fixed plan") {
    def sample() = spark.range(100).select(rand(42).as("r"))
      .collect().map(_.getDouble(0)).toSeq
    val a = sample(); val b = sample()
    assert(a == b)
    assert(a.forall(v => v >= 0.0 && v < 1.0))
  }

  test("levenshtein/translate/repeat/instr behave as documented") {
    val r = Seq(("kitten", "sitting")).toDF("a", "b").select(
      levenshtein($"a", $"b"),
      translate($"a", "kt", "KT"),
      repeat(lit("ab"), 3),
      instr($"b", "tt")).collect()(0)
    assert(r.getInt(0) == 3)
    assert(r.getString(1) == "KiTTen")
    assert(r.getString(2) == "ababab")
    assert(r.getInt(3) == 3)
  }
}

object FunctionsSpec {
  /** top-level so the product Encoder's TypeTag resolves (a case class
    * local to a test body has no stable type for encoder derivation) */
  case class P(k: String, v: Long)
}
