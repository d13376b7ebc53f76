package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.Tables.t

/** Differential test for the custom Catalyst expressions (SURVEY.md §7.3):
  * the codegen'd kernel must agree with the higher-order-function
  * formulation to 1e-12, on real embeddings and on edge cases. */
class ExpressionSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def hofCosine = expr(
    """aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
       CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) /
       sqrt(aggregate(transform(a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
            CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) *
            aggregate(transform(b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
            CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))""")

  test("cosine_similarity matches HOF formulation on real embeddings") {
    val emb = t(spark, TestSession.sf, "embeddings")
    val pairs = emb.select(col("vec_id").as("ida"), col("embedding").as("a"))
      .crossJoin(broadcast(
        emb.filter(col("vec_id") < 5).select(col("vec_id").as("idb"), col("embedding").as("b"))))
    val diff = pairs
      .withColumn("expr_cos", expr("cosine_similarity(a, b)"))
      .withColumn("hof_cos", hofCosine)
      .select(max(abs(col("expr_cos") - col("hof_cos"))).as("maxdiff"))
      .collect()(0).getDouble(0)
    assert(diff < 1e-12, s"codegen vs HOF drift: $diff")
  }

  test("nulls propagate; zero vectors yield 0.0; dot_product works") {
    import spark.implicits._
    val df = Seq(
      (Some(Array(1.0f, 0.0f)), Some(Array(1.0f, 0.0f))),
      (Some(Array(1.0f, 2.0f)), Some(Array(0.0f, 0.0f))),
      (None, Some(Array(1.0f, 1.0f))))
      .toDF("a", "b")
    val got = df.selectExpr("cosine_similarity(a, b) AS c", "dot_product(a, b) AS d")
      .collect()
    assert(got(0).getDouble(0) === 1.0)
    assert(got(0).getDouble(1) === 1.0)
    assert(got(1).getDouble(0) === 0.0) // zero vector → defined 0.0
    assert(got(2).isNullAt(0) && got(2).isNullAt(1))
  }

  test("nullSafeEval (interpreted fallback) matches the codegen path") {
    // Spark silently falls back to interpreted eval when codegen
    // compilation fails; a drift between nullSafeEval and doGenCode would
    // change results without any error surfacing
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    import spark.implicits._
    val a = Array(0.3f, -1.2f, 2.5f, 0.0f)
    val b = Array(1.0f, 0.5f, -0.25f, 4.5f)
    def litOf(xs: Array[Float]) = Literal.create(xs, ArrayType(FloatType))
    val interpCos = graft.functions.CosineSimilarity(litOf(a), litOf(b))
      .eval(null).asInstanceOf[Double]
    val interpDot = graft.functions.DotProduct(litOf(a), litOf(b))
      .eval(null).asInstanceOf[Double]
    val r = Seq((a, b)).toDF("a", "b")
      .selectExpr("cosine_similarity(a, b)", "dot_product(a, b)").collect()(0)
    assert(math.abs(interpCos - r.getDouble(0)) < 1e-15)
    assert(math.abs(interpDot - r.getDouble(1)) < 1e-15)

    // every scalar function the extension injects, on edge inputs, run
    // compiled (a compile error fails instead of falling back) and fully
    // interpreted; the rows must be identical. The inputs are read from
    // parquet so no projection is evaluated at plan time.
    val dir = java.nio.file.Files.createTempDirectory("graft-codegen") + "/in"
    spark.sql(
      """SELECT * FROM VALUES
        | (0, array(0.3F, -1.2F, 2.5F, 0.0F), array(1.0F, 0.5F, -0.25F, 4.5F),
        |  'the cat sat on a mat', 'the hat sat on a cat', 3, 7,
        |  array('a', 'a', 'a', 'b')),
        | (1, NULL, array(1.0F), NULL, 'x', NULL, 5, NULL),
        | (2, CAST(array() AS array<float>), CAST(array() AS array<float>),
        |  '', '', 0, 0, CAST(array() AS array<string>)),
        | (3, array(0.0F, 0.0F), array(1.0F, 2.0F), 'a', 'a', -1, 65536,
        |  array('a', NULL, 'a', 'a')),
        | (4, array(1.0F, 2.0F, 3.0F), array(4.0F, 5.0F),
        |  '\uD834\uDD1E ab \uD83D\uDE00 ab', '\uD83D\uDE00 ab', 2147483647,
        |  -2147483648, array('\uD834\uDD1E', 'a', 'a', 'b')),
        | (5, array(1.0F, NULL, -3.0F), array(-1.0F, 2.0F, 3.0F),
        |  'café crème brûlée', 'cafe creme brulee', 65535, 16384, NULL)
        |AS t(id, a, b, s, s2, x, y, syms)""".stripMargin)
      .write.parquet(dir)
    val scalars = Seq(
      "cosine_similarity(a, b)", "cosine_similarity(b, a)",
      "dot_product(a, b)", "hyperplane_sigs(a, 3, 2, 4)",
      "hyperplane_sigs(b, 2, 3, 2)", "poly_hash(s)", "poly_hash(s2)",
      "bpe_apply_merges(syms, 'a', 'a', 'aa', 'b', '\uD834\uDD1E', 'a')",
      "bpe_apply_merges(split(s, ''), 'a', 'b', ' ', 'ab')",
      "jaro_winkler(s, s2)", "jaro_winkler(s2, s)",
      "interleave_bits(x, y)", "hilbert_index(x, y)",
      "graft_might_contain((SELECT graft_bloom_agg(xxhash64(id)) FROM " +
        "range(3)), xxhash64(CAST(id AS BIGINT)))")
    val generators = Seq("word_shingles(s, 2)", "char_grams(s, 3)")
    val aggregates = Set("graft_bloom_agg", "bounded_collect_set",
      "kahan_sum", "dec_hist", "simhash64", "topk3_by")
    val called = (scalars ++ generators).mkString(" ")
    val uncovered = graft.functions.GraftFunctions.builders.map(_._1)
      .filterNot(n => aggregates(n) || called.contains(s"$n("))
    assert(uncovered.isEmpty, s"scalar functions not compared: $uncovered")
    def rows(compiled: Boolean): Seq[Seq[String]] = {
      val session = spark.newSession()
      session.conf.set("spark.sql.codegen.factoryMode",
        if (compiled) "CODEGEN_ONLY" else "NO_CODEGEN")
      session.conf.set("spark.sql.codegen.wholeStage", compiled.toString)
      session.conf.set("spark.sql.codegen.fallback", "false")
      val in = session.read.parquet(dir)
      in.selectExpr("id" +: scalars: _*).collect().map(_.toString).toSeq.sorted +:
        generators.map(g => in.selectExpr("id", g).collect()
          .map(_.toString).toSeq.sorted)
    }
    val (gen, interp) = (rows(compiled = true), rows(compiled = false))
    assert(gen.head.size == 6 && gen.tail.forall(_.nonEmpty))
    assert(gen.head.exists(_.endsWith(",true]")), "no bloom-filter hit")
    assert(gen == interp, s"codegen $gen\ninterpreted $interp")
  }

  test("hyperplane_sigs fused kernel ≡ composed dot_product formulation") {
    // the fused expression replaced a 96-node dot_product/when tree; the
    // signatures must be BIT-IDENTICAL or every LSH bucket assignment moves
    val nTables = 24; val bits = 4; val dim = 64
    val emb = t(spark, TestSession.sf, "embeddings").limit(200)
    val composed = (0 until nTables).map { tt =>
      (0 until bits).map { j =>
        val plane = graft.functions.HyperplaneSigs.planeVector(tt * bits + j, dim)
        when(call_function("dot_product",
          col("embedding"), typedLit(plane)) >= 0.0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _) + lit(tt.toLong << bits)
    }
    val diff = emb
      .withColumn("fused", call_function("hyperplane_sigs",
        col("embedding"), lit(nTables), lit(bits), lit(dim)))
      .withColumn("composed", array(composed: _*))
      .filter(expr("fused != composed"))
      .count()
    assert(diff == 0, s"$diff rows with signature drift")
    // interpreted path agrees with codegen
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val a = Array(0.3f, -1.2f, 2.5f, 0.0f, 0.7f)
    val interp = graft.functions.HyperplaneSigs(
        Literal.create(a, ArrayType(FloatType)), 4, 4, 5)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq
    import spark.implicits._
    val gen = Seq(Tuple1(a)).toDF("embedding")
      .selectExpr("hyperplane_sigs(embedding, 4, 4, 5) AS s")
      .collect()(0).getSeq[Long](0)
    assert(interp == gen)
  }

  test("interpreted eval agrees with codegen (fingerprint golden)") {
    // rolling-hash fingerprint must be stable across releases — golden value
    import spark.implicits._
    val fp = Seq("abc").toDF("text").selectExpr(
      """aggregate(transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
         CAST(7 AS BIGINT), (acc, x) -> pmod(acc * 31 + x, 1000000007))""")
      .collect()(0).getLong(0)
    // 7*31+97=314; 314*31+98=9832; 9832*31+99=304891
    assert(fp == 304891L)
  }

  test("extension-injected functions resolve in a fresh session without register()") {
    // newSession() rebuilds session state from spark.sql.extensions alone,
    // so resolution here proves the injectFunction path
    val fresh = spark.newSession()
    val sim = fresh.sql(
      "SELECT cosine_similarity(array(3.0F, 4.0F), array(3.0F, 4.0F))")
      .collect()(0).getDouble(0)
    assert(math.abs(sim - 1.0) < 1e-9)
    val sh = fresh.sql("SELECT word_shingles('a b c d', 3)")
    assert(sh.count() == 2)
    // ...and the native join strategies: no runtime install path exists,
    // so planning the native nodes proves the extension installed them
    def side(k: String, t: String) = fresh.sql(
      s"SELECT 1L AS $k, TIMESTAMP'2024-01-01 00:00:00' AS $t")
    def plans(df: org.apache.spark.sql.DataFrame, cls: Class[_]) =
      df.queryExecution.sparkPlan.find(cls.isInstance(_)).isDefined
    val asof = graft.plans.AsOfNative.joinAsOfNative(side("k", "t"),
      side("rk", "rt"), Seq("k"), Seq("rk"), "t", "rt")
    assert(plans(asof, classOf[graft.plans.AsOfJoinExec]))
    val range = graft.plans.RangeNative.joinRangeNative(side("k", "t"),
      fresh.sql("SELECT TIMESTAMP'2023-12-31 00:00:00' AS s, " +
        "TIMESTAMP'2024-01-02 00:00:00' AS e"), "t", "s", "e")
    assert(plans(range, classOf[graft.plans.BroadcastRangeJoinExec]))
    assert(range.count() == 1)
  }

  test("typed aggregates resolve in a fresh session without register() and plan as partial/final") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
    import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, ScalaAggregator}
    // newSession() has only what spark.sql.extensions injects
    val df = spark.newSession().sql(
      """SELECT kahan_sum(CAST(id AS DOUBLE)) AS k, dec_hist(id + 1) AS h,
         simhash64(id) AS sh, topk3_by(CAST(id AS DOUBLE), id) AS top
         FROM range(10)""")
    val aggs = df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case a: ScalaAggregator[_, _, _] => a.aggregatorName.get -> a.agg.getClass.getName
    }))
    assert(aggs.map(_._1).toSet ==
      Set("kahan_sum", "dec_hist", "simhash64", "topk3_by"))
    assert(aggs.forall(_._2.startsWith("graft.functions.Aggregators")), aggs)
    val modes = df.queryExecution.sparkPlan.collect {
      case a: BaseAggregateExec => a.aggregateExpressions.map(_.mode)
    }.flatten.toSet
    assert(modes == Set(Partial, Final), df.queryExecution.sparkPlan)
    val r = df.head()
    assert(r.getDouble(0) == 45.0)
    assert(r.getSeq[Long](1).head == 10L) // dec_hist's n
    assert(r.getSeq[org.apache.spark.sql.Row](3).map(_.getLong(1)) == Seq(9L, 8L, 7L))
  }
}
