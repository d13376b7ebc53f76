package graft.etl

import org.apache.spark.sql.{Observation, SparkSession}

import graft.core.Tables

/** EP1 end-to-end (SURVEY.md §3): the reference's
  * `python/ingest_data.py main()` dataflow as one declarative Spark job —
  * zones refresh (truncate-replace) + trips monthly load (normalize →
  * idempotent partitioned write). Download (A1) happens outside the
  * engine, exactly as the reference separates fetch from load. Both sources
  * are read through `Tables.read`, so re-loading an unchanged file (the
  * reference's idempotent re-run) infers no schema and the write's own
  * jobs are the load's only ones.
  */
object Pipeline {

  final case class Conf(
      tripsSource: String,
      zonesSource: String,
      warehouse: String)

  /** Rows one load read, rejected (no key) and wrote — counted by the
    * write's own pass, never by a second scan. */
  final case class LoadReport(rowsIn: Long, rejected: Long, written: Long)

  private def report(obs: Observation): LoadReport = {
    val m = obs.get
    val in = m("rows_in").asInstanceOf[Long]
    val rejected = m("rows_rejected").asInstanceOf[Long]
    LoadReport(in, rejected, in - rejected)
  }

  /** Zones: CSV → normalize → truncate-replace dimension (A3, A4, A9). */
  def refreshZones(spark: SparkSession, conf: Conf): LoadReport = {
    val raw = Tables.read(spark, conf.zonesSource, "csv", Map("header" -> "true"))
    val (zones, obs) = Normalize.normalizeZones(raw)
    Writers.writeDimension(zones, s"${conf.warehouse}/taxi_zones")
    report(obs)
  }

  /** Trips: Parquet → normalize (multi-candidate resolution, coerce-to-NULL,
    * null-rejection) → month-partitioned dynamic-overwrite write (A2,
    * A4–A8). Re-running the same month is idempotent. */
  def loadTrips(spark: SparkSession, conf: Conf): LoadReport = {
    val raw = Tables.read(spark, conf.tripsSource)
    val (trips, obs) = Normalize.normalizeTrips(raw)
    Writers.writeTripsMonthly(Normalize.withTripId(trips), s"${conf.warehouse}/taxi_trips")
    report(obs)
  }
}
