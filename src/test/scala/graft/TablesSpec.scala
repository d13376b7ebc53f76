package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables

/** `Tables.read` infers a file's schema once: a re-read of unchanged files
  * starts no job, a rewrite is seen, and the two shipped forms of
  * `events.ts` both still read as session-zone TIMESTAMP. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-tables").toString

  test("a second read of an unchanged file starts no job") {
    val dir = tmp()
    Seq((1L, "a"), (2L, "b")).toDF("o_orderkey", "o_comment").write.parquet(s"$dir/orders.parquet")
    Tables.t(spark, dir, "orders")
    val (df, jobs) = Jobs.during(spark)(Tables.t(spark, dir, "orders"))
    assert(jobs.isEmpty, s"jobs started by the re-read: $jobs")
    assert(df.columns.toSeq == Seq("o_orderkey", "o_comment"))
    assert(df.orderBy("o_orderkey").as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("an overwrite that adds a column is seen by the next read") {
    val dir = tmp()
    val path = s"$dir/orders.parquet"
    Seq((1L, "a")).toDF("o_orderkey", "o_comment").write.parquet(path)
    assert(Tables.t(spark, dir, "orders").columns.toSeq == Seq("o_orderkey", "o_comment"))
    Seq((2L, "b", 3.5)).toDF("o_orderkey", "o_comment", "o_totalprice")
      .write.mode("overwrite").parquet(path)
    val df = Tables.t(spark, dir, "orders")
    assert(df.columns.toSeq == Seq("o_orderkey", "o_comment", "o_totalprice"))
    assert(df.as[(Long, String, Double)].collect().toSeq == Seq((2L, "b", 3.5)))
  }

  test("int64-nanos and timestamp events read in one session, in both orders") {
    // the same two instants, once as int64 nanos and once as a timestamp
    val micros = Seq(1700000000123456L, 1700000042000001L)
    def nanosEvents(dir: String): Unit =
      micros.map(m => (m, m * 1000L + 789L)).toDF("event_id", "ts")
        .write.parquet(s"$dir/events.parquet")
    def tsEvents(dir: String): Unit =
      micros.toDF("event_id").withColumn("ts", timestamp_micros(col("event_id")))
        .write.parquet(s"$dir/events.parquet")
    def check(dir: String): Unit = {
      val df = Tables.t(spark, dir, "events")
      assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
      val got = df.select(col("event_id"), unix_micros(col("ts"))).as[(Long, Long)].collect().toMap
      assert(got == micros.map(m => m -> m).toMap, s"$dir: $got")
    }
    for (nanosFirst <- Seq(true, false)) {
      val (n, u) = (tmp(), tmp())
      nanosEvents(n)
      tsEvents(u)
      val order = if (nanosFirst) Seq(n, u) else Seq(u, n)
      // cold, then memoised
      (order ++ order).foreach(check)
    }
  }
}
