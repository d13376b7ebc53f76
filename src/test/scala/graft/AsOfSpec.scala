package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.Tables.t

/** Interval and as-of joins: the bucketed interval join must equal the
  * nested-loop range join without planning one, and the as-of queries
  * must keep their strict-inequality edge. */
class AsOfSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("bucketed interval join equals the nested-loop range join, without one") {
    val ev = t(spark, sf, "events")
    // intervals = 90-minute windows opened by each signup; points = clicks
    val intervals = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("iv_id"), col("ts").as("iv_start"),
        (col("ts") + expr("interval 90 minutes")).as("iv_end"))
    val points = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("pt_id"), col("ts"))
    val banded = graft.ops.IntervalJoin.joinPointInInterval(
      points, intervals, "ts", "iv_start", "iv_end")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("pt_id", "iv_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = points.join(intervals,
      col("ts") >= col("iv_start") && col("ts") < col("iv_end"))
    assert(key(banded) == key(naive))
    assert(key(banded).nonEmpty)
    // the whole point: the banded plan must be an equi-join, not a BNLJ
    val plan = banded.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
           !plan.contains("CartesianProduct"),
      s"interval join planned a nested loop:\n$plan")
  }

  test("interval join catches points in the final fractional second of a window") {
    import spark.implicits._
    // interval [10:30:00.2, 11:00:00.5): a point at 11:00:00.3 sits in the
    // 11:00 bucket, which whole-second end arithmetic never emits for this
    // interval — the regression that loses sub-second boundary matches
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val intervals = Seq((1L, ts("2024-01-01 10:30:00.2"),
      ts("2024-01-01 11:00:00.5"))).toDF("iv_id", "iv_start", "iv_end")
    val points = Seq(
      (10L, ts("2024-01-01 11:00:00.3")),  // inside, fractional boundary
      (11L, ts("2024-01-01 11:00:00.5")),  // exactly end → excluded
      (12L, ts("2024-01-01 10:30:00.1"))   // before start → excluded
    ).toDF("pt_id", "ts")
    val got = graft.ops.IntervalJoin.joinPointInInterval(
        points, intervals, "ts", "iv_start", "iv_end")
      .select("pt_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(10L), s"expected only the boundary point, got $got")
  }

  test("as-of queries exclude clicks sharing the purchase's exact timestamp") {
    import spark.implicits._
    // synthetic events dir in the driver fixture layout (ts = int64 nanos,
    // as Tables.t expects): user 1 has a click at EXACTLY the purchase
    // instant plus one strictly-earlier and one strictly-later click
    val dir = java.nio.file.Files.createTempDirectory("graft-ties").toString
    val s = 1000000000L // 1s in nanos
    Seq(
      (1L, 100 * s, 1L, "click", 1.0, "{}"),    // earlier
      (2L, 200 * s, 1L, "click", 1.0, "{}"),    // same instant as purchase
      (3L, 200 * s, 1L, "purchase", 5.0, "{}"),
      (4L, 300 * s, 1L, "click", 1.0, "{}"))    // later
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val back = graft.queries.EventsBatch.defs("join_asof")(spark, dir)
      .collect().map(r => r.getLong(0) -> Option(r.getTimestamp(3))).toMap
    val fwd = graft.queries.EventsBatch.defs("join_asof_forward")(spark, dir)
      .collect().map(r => r.getLong(0) -> Option(r.getTimestamp(3))).toMap
    def sec(t: Option[java.sql.Timestamp]) = t.map(_.getTime / 1000)
    // strictly earlier: the 100s click, NOT the tied 200s click
    assert(sec(back(3L)) == Some(100L), s"backward picked ${back(3L)}")
    // strictly later: the 300s click, NOT the tied 200s click
    assert(sec(fwd(3L)) == Some(300L), s"forward picked ${fwd(3L)}")
  }
}
