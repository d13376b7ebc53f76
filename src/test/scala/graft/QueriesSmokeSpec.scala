package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered query must execute and (except known-empty results)
  * return rows at sf0.001 — the fast regression net between full DuckDB
  * oracle runs (tools/oracle_check.py does the value-level checking). */
class QueriesSmokeSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  // legitimately empty at sf0.001 (no matching rows in the tiny fixture)
  private val mayBeEmpty = Set("join_anti", "taxi_zone_pair_max",
    "llm_simhash_clusters")

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name executes" + (if (mayBeEmpty(name)) "" else " and returns rows")) {
      val n = fn(spark, TestSession.sf).count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  private object Left extends Family {
    val defs: Map[String, Q] = Map("dup_q" -> ((s, _) => s.range(1).toDF()))
    val sql: Map[String, String] = Map("dup_q" -> "SELECT 0 AS id")
  }
  private object Right extends Family {
    val defs: Map[String, Q] = Map("dup_q" -> ((s, _) => s.range(2).toDF()))
    val sql: Map[String, String] = Map.empty
  }

  test("a query name defined by two families throws, naming both families") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.byName(Seq(Left, Right))(_.defs))
    assert(e.getMessage.contains("dup_q") && e.getMessage.contains("Left") &&
      e.getMessage.contains("Right"), e.getMessage)
    // one definition per name is fine
    assert(SparkEntry.byName(Seq(Left, Right))(_.sql).keySet == Set("dup_q"))
  }

  test("every oracleSql key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }
}
