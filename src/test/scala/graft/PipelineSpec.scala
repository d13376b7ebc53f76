package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.Pipeline
import graft.etl.Pipeline.LoadReport

/** The load report (reference A12: the ingester logs its counts from the
  * load itself): rows in, rejected and written come from the write's own
  * pass, match what was planted, and cost no Spark job after the write. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  /** 17 good November trips, 3 with a NULL pickup and 2 with an
    * unparseable one (coerced to NULL, so also rejected). */
  private def plantedTrips(dir: String): Unit = {
    val schema = StructType(Seq(
      StructField("VendorID", IntegerType),
      StructField("tpep_pickup_datetime", StringType),
      StructField("tpep_dropoff_datetime", StringType),
      StructField("passenger_count", IntegerType),
      StructField("total_amount", DoubleType)))
    val good = (1 to 17).map(i => Row(Integer.valueOf(1),
      f"2025-11-$i%02d 10:00:00", f"2025-11-$i%02d 10:30:00",
      Integer.valueOf(i % 4), i * 1.5))
    val bad = Seq(null, null, null, "not-a-date", "2025-13-45 99:00:00").map(p =>
      Row(Integer.valueOf(2), p, "2025-11-20 10:00:00", Integer.valueOf(1), 9.0))
    spark.createDataFrame(spark.sparkContext.parallelize(good ++ bad, 3), schema)
      .write.parquet(dir)
  }

  test("loadTrips reports rows in, rejected and written from the write itself") {
    val root = Files.createTempDirectory("graft-pipeline").toString
    plantedTrips(s"$root/raw")
    Files.write(Paths.get(s"$root/zones.csv"),
      "LocationID,Borough,Zone,service_zone\n1,EWR,Newark Airport,EWR\n2,Queens,Jamaica Bay,Boro Zone\nx,Bad,Row,None\n"
        .getBytes("UTF-8"))
    val conf = Pipeline.Conf(s"$root/raw", s"$root/zones.csv", s"$root/wh")
    assert(Pipeline.refreshZones(spark, conf) == LoadReport(3, 1, 2))

    // the write is the only SQL execution, and no job starts after its
    // first one outside it (a count() or collect() would be a second)
    val (first, load) = Jobs.during(spark)(Pipeline.loadTrips(spark, conf))
    assert(first == LoadReport(22, 5, 17))
    assert(load.flatten.distinct.size == 1, s"jobs by execution id: $load")
    assert(load.dropWhile(_.isEmpty).forall(_.isDefined), s"jobs by execution id: $load")

    val table = s"$root/wh/taxi_trips"
    assert(spark.read.parquet(table).count() == 17)
    // a re-load of the same month: same report, same table, and every job
    // is the write's (the source's schema is not inferred again)
    val (again, reload) = Jobs.during(spark)(Pipeline.loadTrips(spark, conf))
    assert(again == first)
    assert(reload.nonEmpty && reload.forall(_.isDefined) && reload.flatten.distinct.size == 1,
      s"re-load jobs by execution id: $reload")
    assert(spark.read.parquet(table).count() == 17)
  }
}
