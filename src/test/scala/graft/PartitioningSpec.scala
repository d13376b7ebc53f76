package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.Tables.t
import graft.ops.Partitioning

/** Physical-layout behaviors: the salted join must be result-identical to
  * the plain join, and AQE must split a skewed join partition. */
class PartitioningSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("salted join returns exactly the plain-join result") {
    val li = t(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    val o = t(spark, sf, "orders").select("o_orderkey", "o_orderstatus")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val plain = li.join(o, Seq("l_orderkey"))
      .groupBy("o_orderstatus").agg(sum("l_quantity").as("q"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val salted = Partitioning.saltedEquiJoin(li, o, "l_orderkey", nSalts = 8)
      .groupBy("o_orderstatus").agg(sum("l_quantity").as("q"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(plain.keySet == salted.keySet)
    plain.foreach { case (k, v) =>
      assert(math.abs(v - salted(k)) < 1e-6, s"mismatch at $k") }
  }

  test("AQE splits a skewed join partition at runtime") {
    import spark.implicits._
    // one hot key carrying ~90% of the fact rows; thresholds lowered so
    // the skew detector fires at test scale. This pins the runtime half of
    // the skew story (saltedEquiJoin above is the planning-time half).
    val conf = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "10KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "10KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = spark.range(200000)
        .selectExpr("CASE WHEN id % 10 < 9 THEN 0 ELSE id END AS k",
          "uuid() AS pad")
      val dim = spark.range(200000).selectExpr("id AS k", "id * 2 AS w")
      val joined = fact.join(dim, "k")
      // drive THIS plan instance to completion: df.count() would build its
      // own QueryExecution and leave joined's adaptive plan un-finalized
      val qe = joined.queryExecution
      assert(qe.executedPlan.execute().count() == 200000)
      val finalPlan = qe.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$finalPlan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("approx_count_distinct within rsd bounds of exact") {
    // r11 contract shape: exact counts + in-band booleans (the booleans
    // ARE the rsd assertion, hash-checked by the driver; here we just
    // re-assert them engine-side)
    val row = graft.queries.Extended.defs("agg_approx_distinct")(spark, sf)
      .collect().head
    assert(row.getLong(0) > 0 && row.getLong(1) > 0 && row.getLong(2) > 0)
    assert(row.getBoolean(3), "orders estimate out of 15% band")
    assert(row.getBoolean(4), "parts estimate out of 3% band")
    assert(row.getBoolean(5), "supps estimate out of 6% band")
  }
}
