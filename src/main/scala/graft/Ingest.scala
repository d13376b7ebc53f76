package graft

import graft.core.Session
import graft.etl.Pipeline

/** EP1 as a CLI (the engine's equivalent of
  * `python3 python/ingest_data.py` — SURVEY.md §3):
  *
  *   runMain graft.Ingest <tripsParquet> <zonesCsv> <warehouseDir>
  *
  * Normalizes + loads zones (truncate-replace) and trips (month-partitioned
  * dynamic overwrite). Re-running is idempotent. Prints each load's rows
  * in, rejected and written, counted by the write itself.
  */
object Ingest {
  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: graft.Ingest <tripsParquet> <zonesCsv> <warehouseDir>")
    val spark = Session.builder("graft-ingest").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val conf = Pipeline.Conf(tripsSource = args(0), zonesSource = args(1),
      warehouse = args(2))
    for ((what, r) <- Seq("zones" -> Pipeline.refreshZones(spark, conf),
                          "trips" -> Pipeline.loadTrips(spark, conf)))
      println(s"[ingest] $what: in=${r.rowsIn} rejected=${r.rejected} written=${r.written} -> ${conf.warehouse}")
    spark.stop()
  }
}
