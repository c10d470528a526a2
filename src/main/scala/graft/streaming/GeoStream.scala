package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._
import graft.functions.GeoFunctions

/** A live track ping with derived coordinates (the streaming shape of
  * the batch geo derivation — see graft.queries.GeoQueries).
  */
case class GeoPing(entityId: Long, eventId: Long,
                   ts: java.sql.Timestamp, lat: Double, lon: Double)

/** A fence crossing: `transition` is "enter"/"exit", `minM` the
  * nearest-station distance at the crossing point.
  */
case class FenceEvent(entityId: Long, eventId: Long,
                      ts: java.sql.Timestamp, transition: String,
                      minM: Double)

private case class GeoStatus(entityId: Long, eventId: Long,
                             ts: java.sql.Timestamp, inside: Boolean,
                             minM: Double)

/** Streaming geofence transition detection — the live form of
  * `q_geo_geofence` (the reference's alerting domain: its CoT types
  * classify emergency beacons, reference `task.ts:125`; a deployment
  * alerts when an entity crosses a fence).
  *
  * Scale shape: the containment check is MAP-SIDE (the station set
  * folds into [[GeoFunctions.minStationDistQ]]'s literal array — no
  * join, no broadcast exchange, no state); only the per-entity
  * transition memory shuffles, and that state is ONE BOOLEAN per live
  * entity. Contrast with keeping the last full point in state: the
  * transition question only needs the last containment bit.
  *
  * Ordering contract: per-entity in-order arrival across batches
  * (within a batch, rows sort on (ts, eventId) before folding). Late
  * out-of-order pings would mis-sequence transitions — a deployment
  * feeds this from a per-entity-keyed, time-ordered source, the same
  * contract the reference's webhook upsert assumes (last write wins,
  * reference `task.ts:148`).
  */
object GeoStream {

  def fenceTransitions(pings: Dataset[GeoPing],
      stations: Seq[(Double, Double)],
      radiusM: Double): Dataset[FenceEvent] = {
    val spark = pings.sparkSession
    import spark.implicits._
    val minDq = GeoFunctions.minStationDistQ(col("lat"), col("lon"), stations)
    val statuses = pings
      .withColumn("minM", minDq)
      .withColumn("inside", col("minM") <= radiusM)
      .select(col("entityId"), col("eventId"), col("ts"),
        col("inside"), col("minM"))
    // (µs, event_id) order: the batch geofence window's, so a sub-ms
    // tie can't emit a divergent enter/exit sequence
    KeyedFold(statuses.as(Encoders.product[GeoStatus]))(_.entityId,
        Some(KeyedFold.byTime[GeoStatus](_.ts, _.eventId))) {
      (_: Long, prev: Option[Boolean], r: GeoStatus) =>
        (r.inside,
          if (prev.exists(_ != r.inside))
            Some(FenceEvent(r.entityId, r.eventId, r.ts,
              if (r.inside) "enter" else "exit", r.minM))
          else None)
    }
  }
}
