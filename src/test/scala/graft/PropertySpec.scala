package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.Normalize

/** Property-based checks (SURVEY.md §5.4): normalization totality over
  * arbitrary column subsets/casings, and algebraic invariants of the
  * custom similarity kernel. Generators are driven with fixed seeds so
  * runs are deterministic. */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val candidatePool: Seq[(String, DataType)] = Seq(
    "VendorID" -> IntegerType, "lpep_pickup_datetime" -> StringType,
    "tpep_pickup_datetime" -> StringType, "pickup_datetime" -> StringType,
    "Passenger_count" -> IntegerType, "trip_distance" -> DoubleType,
    "fare_amount" -> DoubleType, "total_amount" -> DoubleType,
    "PULocationID" -> LongType, "unrelated_col" -> StringType)

  private val subsetGen: Gen[Seq[(String, DataType)]] = for {
    n <- Gen.choose(1, candidatePool.size)
    cols <- Gen.pick(n, candidatePool)
    cased <- Gen.sequence[Seq[String], String](cols.map(c =>
      Gen.oneOf(c._1, c._1.toLowerCase, c._1.toUpperCase)))
  } yield cased.zip(cols.map(_._2)).toSeq

  test("normalizeTrips is total: any column subset/casing yields the fixed contract") {
    samples(subsetGen, 25).foreach { cols =>
      // dedupe case-collisions (a schema can't hold two same-named cols)
      val distinctCols = cols.groupBy(_._1.toLowerCase).map(_._2.head).toSeq
      val schema = StructType(distinctCols.map { case (n, t) => StructField(n, t) })
      val row = Row.fromSeq(distinctCols.map {
        case (_, IntegerType) => Integer.valueOf(1)
        case (_, LongType)    => java.lang.Long.valueOf(2L)
        case (_, DoubleType)  => java.lang.Double.valueOf(3.5)
        case _                => "2025-11-01 10:00:00"
      })
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(row)), schema)
      val (out, _) = Normalize.normalizeTrips(df)
      assert(out.columns.toSeq == Normalize.tripColumns.map(_.dest))
      out.collect() // must not throw regardless of which columns exist
    }
  }

  test("cosine similarity is symmetric, bounded, and 1.0 on self") {
    import spark.implicits._
    val vecGen = Gen.listOfN(8, Gen.choose(-5.0f, 5.0f)).map(_.toArray)
      .suchThat(v => v.exists(_ != 0.0f))
    val pairs = samples(Gen.zip(vecGen, vecGen), 30)
    val df = pairs.toDF("a", "b").selectExpr(
      "cosine_similarity(a, b) AS ab",
      "cosine_similarity(b, a) AS ba",
      "cosine_similarity(a, a) AS aa")
    df.collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
      assert(r.getDouble(0) >= -1.0 - 1e-9 && r.getDouble(0) <= 1.0 + 1e-9)
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
    }
  }

  test("rankedCumSum ≡ sequential cumsum for random sizes/values/partitions") {
    import org.apache.spark.sql.functions.{col, sum}
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // random row counts (incl. < nPartitions and 1), duplicate-heavy
    // values (ties must break on id), random partition counts
    val caseGen = for {
      n  <- Gen.oneOf(1, 3, 17, 230, 801)
      np <- Gen.choose(1, 12)
      vs <- Gen.listOfN(n, Gen.choose(-50L, 50L))
    } yield (np, vs)
    samples(caseGen, 12).foreach { case (np, vs) =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v")
      val dist = graft.ops.Partitioning
        .rankedCumSum(df, col("v"), Seq(col("v"), col("id")), np, "cum")
        .select(col("id"), col("cum")).as[(Long, Long)].collect().toMap
      val seq = df.withColumn("cum",
          sum(col("v")).over(Window.orderBy(col("v"), col("id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("id"), col("cum")).as[(Long, Long)].collect().toMap
      assert(dist == seq, s"mismatch at n=${vs.size} np=$np")
    }
  }

  // ---- TwinSql.materialize (r11: every oracle twin flows through it) --

  private val identGen: Gen[String] = for {
    h <- Gen.alphaLowerChar
    t <- Gen.listOfN(4, Gen.oneOf(Gen.alphaLowerChar, Gen.const('_')))
  } yield (h :: t).mkString

  // generated statement: WITH chain of plain / column-list / recursive
  // CTEs whose bodies embed paren-bearing strings and comments, ending
  // in a main SELECT with an optional WINDOW clause
  private val withGen: Gen[(String, Int)] = for {
    names <- Gen.listOfN(3, identGen).map(_.distinct)
    kinds <- Gen.sequence[Seq[Int], Int](names.map(_ => Gen.choose(0, 2)))
    window <- Gen.oneOf(true, false)
  } yield {
    val ctes = names.zip(kinds).map {
      case (n, 0) =>
        s"$n AS (SELECT 1 AS x, '((' AS s -- paren ( in comment\n FROM t)"
      case (n, 1) => s"${n}_c(a, b) AS (SELECT 1, ')(' )"
      case (n, 2) =>
        s"${n}_r(k) AS (SELECT 1 UNION SELECT k + 1 FROM ${n}_r WHERE k < 3)"
    }
    val tail = if (window)
      " SELECT sum(x) OVER w FROM t WINDOW w AS (ORDER BY x)"
    else " SELECT * FROM t"
    val expected = kinds.count(_ != 2) // recursive members are skipped
    (s"WITH RECURSIVE ${ctes.mkString(", ")}$tail", expected)
  }

  test("TwinSql.materialize: insertion-only, count-exact, comment/string-safe on generated WITH chains") {
    samples(withGen, 40).foreach { case (sql, expected) =>
      val out = graft.core.TwinSql.materialize(sql)
      assert(out.replace(" MATERIALIZED", "") == sql,
        s"not insertion-only for: $sql")
      val inserted = out.sliding(" MATERIALIZED".length).count(
        _ == " MATERIALIZED")
      assert(inserted == expected,
        s"expected $expected MATERIALIZED, got $inserted for: $sql")
      // never after the main SELECT begins
      val mainSel = out.lastIndexOf("SELECT sum(x) OVER w")
      if (mainSel >= 0)
        assert(out.indexOf(" MATERIALIZED", mainSel) < 0,
          s"rewrote inside the main query: $sql")
      // idempotent
      assert(graft.core.TwinSql.materialize(out) == out)
    }
  }
}
