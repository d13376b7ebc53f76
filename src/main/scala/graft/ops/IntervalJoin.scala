package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-safe point-in-interval join (SURVEY §2 "as-of / interval join",
  * companion to [[graft.plans.AsOfJoin]]): match each point row to every
  * interval containing it WITHOUT a nested-loop join.
  *
  * Spark plans a plain `p.ts >= i.start && p.ts < i.end` condition as
  * BroadcastNestedLoopJoin — O(|points|·|intervals|) and an OOM once the
  * interval side outgrows a broadcast. Bucketing makes it an equi-join:
  * every interval is exploded to the time buckets it overlaps, every point
  * maps to exactly ONE bucket, and the join keys on the bucket with the
  * exact containment predicate as a residual filter. Cost becomes
  * O(|points| + |intervals|·avg_buckets + |matches|), all hash-partitioned.
  * A point has one bucket, so no candidate pair is produced twice — no
  * dedup pass needed.
  *
  * `bucketSeconds` trades explode factor against candidate precision: set
  * it near the typical interval length so each interval lands in ~1-2
  * buckets.
  */
object IntervalJoin {

  /** @param points    (…, `tsCol`: timestamp)
    * @param intervals (…, `startCol`, `endCol`: timestamps, half-open
    *                  [start, end))
    * @return points ⋈ intervals rows for every containment match */
  def joinPointInInterval(points: DataFrame, intervals: DataFrame,
                          tsCol: String, startCol: String, endCol: String,
                          bucketSeconds: Long = 3600L): DataFrame = {
    // microsecond arithmetic throughout: unix_timestamp() truncates to
    // seconds, which UNDERSHOOTS the last covered bucket when the interval
    // end has a fractional second — e.g. end 11:00:00.5 covers points in
    // [11:00:00, 11:00:00.5), but floor(unix_timestamp(end) - 1) stops the
    // bucket sequence one bucket short and those matches are silently lost
    val bucketMicros = bucketSeconds * 1000000L
    val pb = points.withColumn("__bucket",
      floor(unix_micros(col(tsCol)) / bucketMicros))
    // empty intervals match nothing — and sequence(a, b) with b < a would
    // count DOWN, fabricating wrong buckets
    val ib = intervals.filter(col(endCol) > col(startCol)).withColumn("__bucket",
      explode(sequence(
        floor(unix_micros(col(startCol)) / bucketMicros),
        // end exclusive: last covered instant is end − 1µs
        floor((unix_micros(col(endCol)) - 1) / bucketMicros))))
    pb.join(ib, Seq("__bucket"))
      .filter(col(tsCol) >= col(startCol) && col(tsCol) < col(endCol))
      .drop("__bucket")
  }
}
