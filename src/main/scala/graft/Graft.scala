package graft

import graft.models.{MtaMetrics, MtaModels, MtaSynthetic}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** User-facing facade — the switchover API for a user of the reference
  * project: build the four fact views from source DataFrames and run
  * any of the twelve metrics against them.
  *
  * Usage:
  * {{{
  *   val spark = SparkSession.builder()
  *     .withExtensions(new GraftExtensions)
  *     .getOrCreate()
  *   val mta = Graft.mta(tripUpdates, stopTimeUpdates, stops, trips,
  *     alerts, headerTx, descTx, activePeriod, informedEntity, routes)
  *   mta.factTrips.show()
  *   Graft.metrics.headwaysAtStop(mta.factTripsStops, "R14N",
  *     "2025-09-01", "America/New_York")
  * }}}
  */
object Graft {

  /** The four reference views as one bundle (computed lazily — exactly
    * dbt's all-views materialization). */
  final case class MtaViews(
      factTripsStops: DataFrame,
      factTrips: DataFrame,
      factDelays: DataFrame,
      factAlerts: DataFrame) {
    /** Register under the reference's model names (dbt `ref()` ns). */
    def register(): Unit = {
      factTripsStops.createOrReplaceTempView("fact_trips_stops")
      factTrips.createOrReplaceTempView("fact_trips")
      factDelays.createOrReplaceTempView("fact_delays")
      factAlerts.createOrReplaceTempView("fact_alerts")
    }
  }

  /** Build the full view DAG from the 10 source tables
    * (schemas per /root/reference/models/mta_sources.yml). */
  def mta(tripUpdates: DataFrame, stopTimeUpdates: DataFrame,
          stops: DataFrame, trips: DataFrame,
          alerts: DataFrame, headerTx: DataFrame, descTx: DataFrame,
          activePeriod: DataFrame, informedEntity: DataFrame,
          routes: DataFrame): MtaViews = {
    val fts = MtaModels.factTripsStops(tripUpdates, stopTimeUpdates,
      stops, trips)
    MtaViews(
      factTripsStops = fts,
      factTrips = MtaModels.factTrips(fts, stops),
      factDelays = MtaModels.factDelays(fts),
      factAlerts = MtaModels.factAlerts(alerts, headerTx, descTx,
        activePeriod, informedEntity, routes, stops))
  }

  /** Demo wiring over the driver testdata's synthetic MTA shapes. */
  def mtaFromTestdata(spark: SparkSession, dir: String): MtaViews = {
    val e = MtaSynthetic.ev(spark, dir)
    mta(MtaSynthetic.tripUpdates(e), MtaSynthetic.stopTimeUpdates(e),
      MtaSynthetic.stops(spark), MtaSynthetic.trips(e),
      MtaSynthetic.alerts(e), MtaSynthetic.headerTx(e),
      MtaSynthetic.descTx(e), MtaSynthetic.activePeriod(e),
      MtaSynthetic.informedEntity(e), MtaSynthetic.routes(spark))
  }

  /** The twelve metric queries (parameterized; metrics_guide.md). */
  def metrics: MtaMetrics.type = MtaMetrics
}
