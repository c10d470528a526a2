package graft

import org.apache.spark.sql.functions._

/** Streaming geofence transitions pinned row-identical to the batch
  * `q_geo_geofence` query on the same derived track data — the
  * stream/batch parity gate for the geo family.
  */
class GeoStreamSpec extends SparkSpec with StreamTwins {

  test("streaming transitions == batch q_geo_geofence, across batch splits") {
    val batch = graft.queries.GeoQueries
      .defs("q_geo_geofence")(spark, sf("0.001"))
      .select(col("event_id"), col("user_id"), col("transition"),
        col("min_m"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSet

    // three uneven micro-batches: transitions must survive the splits;
    // the feed is in full-µs order (getTime truncates to ms), the
    // order the operator's cross-batch state sequences enter/exit in
    val streamed = replay(geo).rows

    val got = streamed
      .map(e => (e.eventId, e.entityId, e.transition, e.minM)).toSet
    assert(got == batch,
      s"stream/batch divergence: only-stream=${got -- batch} " +
        s"only-batch=${batch -- got}")
    assert(batch.nonEmpty, "no transitions at sf0.001 — test is vacuous")
  }
}
