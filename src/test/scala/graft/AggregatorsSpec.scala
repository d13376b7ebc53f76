package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.Aggregators

/** Typed UDAF behavior: Kahan compensation must beat naive summation on
  * adversarial input; the sketches must match their reference forms. */
class AggregatorsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("kahan_sum recovers small addends that naive double sum drops") {
    import spark.implicits._
    // 1e16 swallows 1.0 in plain double addition: naive sum of
    // [1e16, 1.0 ×1000, -1e16] loses most of the 1000
    val xs = (Seq(1e16) ++ Seq.fill(1000)(1.0) ++ Seq(-1e16)).zipWithIndex
    val df = xs.toDF("v", "i").repartition(1) // fixed order per partition
    val r = df.agg(expr("kahan_sum(v)").as("k"), sum($"v").as("naive"))
      .collect()(0)
    assert(math.abs(r.getDouble(0) - 1000.0) < 1e-6,
      s"kahan lost precision: ${r.getDouble(0)}")
    // sanity: this input is genuinely adversarial for the naive sum
    assert(math.abs(r.getDouble(1) - 1000.0) > 1e-3 ||
           math.abs(r.getDouble(0) - 1000.0) <= math.abs(r.getDouble(1) - 1000.0))
  }

  test("kahan_sum distributes: multi-partition merge equals single-partition") {
    import spark.implicits._
    val vals = (1 to 10000).map(i => i * 0.1)
    val one = vals.toDF("v").repartition(1)
      .agg(expr("kahan_sum(v)")).collect()(0).getDouble(0)
    val many = vals.toDF("v").repartition(16)
      .agg(expr("kahan_sum(v)")).collect()(0).getDouble(0)
    assert(math.abs(one - many) < 1e-6)
  }

  test("typed Aggregator via groupByKey (Dataset API, no SQL registration)") {
    import spark.implicits._
    // the same Aggregator used as a typed column over KeyValueGroupedDataset
    // — the Dataset-native path next to the SQL function the extension injects
    val ds = Seq(("a", 1.5), ("a", 2.5), ("b", 4.0), ("b", 0.25)).toDS()
    val out = ds.groupByKey(_._1).mapValues(_._2)
      .agg(Aggregators.KahanSum.toColumn.name("total"))
      .collect().toMap
    assert(out == Map("a" -> 4.0, "b" -> 4.25))
  }

  test("simhash64 aggregate is value-identical to the explode formulation") {
    import spark.implicits._
    // real corpus tokens, multi-partition so partial/merge paths both run
    val toks = graft.core.Tables.spread(
        graft.core.Tables.t(spark, TestSession.sf, "documents"))
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
      .repartition(8)
    val viaAgg = toks.groupBy(col("doc_id"))
      .agg(expr("simhash64(h)").as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the original two-stage explode(sequence(0,63)) formulation, kept
    // here as the semantic pin for the one-pass aggregate
    val viaExplode = toks
      .select(col("doc_id"), col("h"),
        explode(expr("sequence(0, 63)")).as("bit"))
      .withColumn("vote",
        when(expr("(h >> bit) & 1") === 1, lit(1)).otherwise(lit(-1)))
      .groupBy(col("doc_id"), col("bit"))
      .agg(sum(col("vote")).as("v"))
      .withColumn("bitval",
        when(col("v") >= 0, expr("shiftleft(CAST(1 AS BIGINT), bit)"))
          .otherwise(lit(0L)))
      .groupBy(col("doc_id"))
      .agg(sum(col("bitval")).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaAgg == viaExplode,
      s"simhash drift on ${viaAgg.keySet.filter(k => viaAgg(k) != viaExplode.get(k).getOrElse(-1L)).take(5)}")
  }

  test("topk3_by heap aggregate ≡ window row_number top-3") {
    // multi-partition input so the ≤k partial buffers really merge; ties
    // in the order value broken by the unique key, same as the window form
    val orders = graft.core.Tables.spread(
      graft.core.Tables.t(spark, TestSession.sf, "orders")).repartition(8)
    val viaAgg = orders.groupBy(col("o_custkey"))
      .agg(expr("topk3_by(o_totalprice, o_orderkey)").as("top"))
      .select(col("o_custkey"), posexplode(col("top")))
      .select(col("o_custkey"), col("col.tie").as("k"), (col("pos") + 1).as("rn"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val viaWin = orders
      .select(col("o_custkey"), col("o_orderkey").as("k"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaAgg == viaWin)
  }

  test("topk3_by runs as a partial+final aggregate (map-side combine)") {
    val df = graft.core.Tables.t(spark, TestSession.sf, "orders")
      .groupBy(col("o_custkey"))
      .agg(expr("topk3_by(o_totalprice, o_orderkey)").as("top"))
    df.collect()
    // two ObjectHashAggregate stages around the exchange: the partial one
    // is what bounds the shuffle to ≤k rows per (group, partition)
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("ObjectHashAggregate") || s.contains("SortAggregate"),
      s"unexpected aggregate physical operator:\n$s")
    assert("partial_topk3_by|partial_topkagg".r.findFirstIn(s.toLowerCase)
      .isDefined || s.toLowerCase.contains("partial"),
      s"no partial aggregation stage found:\n$s")
  }

  test("typed-aggregate query plans name each aggregator without an object hash") {
    val queries = Seq("agg_custom_udaf", "agg_hdr_quantiles", "llm_simhash",
      "llm_simhash_clusters", "llm_simhash_neardup", "llm_simhash_poly",
      "win_topk_agg")
    val named = "(KahanSum|DecHistAgg|SimHashAgg|TopKAgg)".r
    queries.foreach { q =>
      val plan = SparkEntry.queries(q)(spark, TestSession.sf).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      assert(named.findFirstIn(plan).isDefined, s"$q: no typed aggregate\n$plan")
      assert("""[\w$]@[0-9a-f]{4,}""".r.findFirstIn(plan).isEmpty,
        s"$q: plan prints an identity hash\n$plan")
    }
  }
}
