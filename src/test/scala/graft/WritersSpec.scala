package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl.Writers

/** Idempotency parity with the reference's windowed-DELETE semantics
  * (SURVEY.md §7.4 risk 5): dynamic partition overwrite must (a) be
  * re-run-safe, (b) replace only months present in the batch, (c) keep
  * cross-month rows from the batch (the reference inserts rows outside
  * the delete window too). */
class WritersSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def trips(rows: (String, Double)*) = {
    import spark.implicits._
    rows.toSeq.toDF("pickup", "total_amount")
      .select(col("pickup").cast("timestamp").as("pickup_datetime"),
        col("total_amount"))
  }

  test("re-running the same month is idempotent; other months untouched") {
    val dir = Files.createTempDirectory("graft-writer").toString + "/trips"
    // initial load: Oct + Nov rows
    Writers.writeTripsMonthly(
      trips("2025-10-15 10:00:00" -> 10.0, "2025-11-01 09:00:00" -> 20.0), dir)
    assert(spark.read.parquet(dir).count() == 2)

    // re-run November with revised data (one extra row) — Oct must survive,
    // Nov must be replaced not duplicated
    Writers.writeTripsMonthly(
      trips("2025-11-01 09:00:00" -> 20.0, "2025-11-02 11:00:00" -> 30.0), dir)
    val after = spark.read.parquet(dir)
    assert(after.count() == 3)
    assert(after.filter(col("trip_month") === "2025-10").count() == 1)
    assert(after.filter(col("trip_month") === "2025-11").count() == 2)

    // exact re-run = no-op on counts (write∘write ≡ write)
    Writers.writeTripsMonthly(
      trips("2025-11-01 09:00:00" -> 20.0, "2025-11-02 11:00:00" -> 30.0), dir)
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("dimension truncate-and-replace") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-dim").toString + "/zones"
    Writers.writeDimension(Seq((1, "a"), (2, "b")).toDF("id", "z"), dir)
    Writers.writeDimension(Seq((3, "c")).toDF("id", "z"), dir)
    val got = spark.read.parquet(dir).collect()
    assert(got.length == 1 && got(0).getInt(0) == 3)
  }

  test("mergeUpsert: updates win, inserts append, untouched rows survive; idempotent") {
    import spark.implicits._
    val existing = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("k", "s", "v")
    val updates = Seq((2L, "B", 20.0), (4L, "D", 40.0)).toDF("k", "s", "v")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    val once = Writers.mergeUpsert(existing, updates, Seq("k"))
    assert(toMap(once) == Map(
      1L -> ("a", 1.0), 2L -> ("B", 20.0), 3L -> ("c", 3.0), 4L -> ("D", 40.0)))
    // merge∘merge with the same updates ≡ merge (re-run-safe, like the
    // monthly overwrite above)
    val twice = Writers.mergeUpsert(once, updates, Seq("k"))
    assert(toMap(twice) == toMap(once))
  }

  test("scd2History: half-open versions chain, single current per key") {
    import spark.implicits._
    val changes = Seq(
      (1L, 10L, "2025-01-01 00:00:00"), (1L, 11L, "2025-02-01 00:00:00"),
      (1L, 12L, "2025-03-01 00:00:00"), (2L, 20L, "2025-06-01 00:00:00"))
      .toDF("key", "ver", "ts_s")
      .select(col("key"), col("ver"), col("ts_s").cast("timestamp").as("ts"))
    val hist = Writers.scd2History(changes, "key", "ts", "ver")
      .select(col("key"), col("ver"), col("effective_from"),
        col("effective_to"), col("is_current"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.getTimestamp(3)), r.getBoolean(4)))
    // each version closes at the next one's start; tails stay open
    val k1 = hist.filter(_._1 == 1L).sortBy(_._2)
    assert(k1.map(_._4).toSeq == Seq(false, false, true))
    assert(k1(0)._3.contains(java.sql.Timestamp.valueOf("2025-02-01 00:00:00")))
    assert(k1(1)._3.contains(java.sql.Timestamp.valueOf("2025-03-01 00:00:00")))
    assert(k1(2)._3.isEmpty)
    assert(hist.count(h => h._1 == 2L && h._4) == 1)
  }
}
