package graft.streaming

import org.apache.spark.sql.Dataset

/** One attribution-relevant event arriving on the stream. */
case class TouchEvent(user_id: Long, event_id: Long,
    ts: java.sql.Timestamp, event_type: String, value: Double)

/** Emitted when a purchase is attributed to its last touch. */
case class Attribution(user_id: Long, event_id: Long,
    channel: String, value: Double)

/** Streaming parity for the batch last-touch attribution window
  * ([[graft.queries.SequenceQueries]] `q_attribution_last_touch`):
  * ONE string of state per user (the latest touch channel seen),
  * where the batch form needs an unbounded-preceding window over
  * the whole history. Purchases emit immediately with their
  * attributed channel — append-mode, no retraction, O(1) state.
  *
  * Same in-order feed contract as the funnel/anomaly/CDC streams:
  * per-key order across micro-batches is the caller's job; each
  * group's slice is sorted here by (µs, event_id) — the same total
  * order the batch window uses (Timestamp.getTime is ms-truncated,
  * hence the Instant-based micros).
  */
object StreamAttribution {

  private val touches = Set("click", "view", "signup")

  def attributions(events: Dataset[TouchEvent]): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    KeyedFold(events)(_.user_id,
        Some(KeyedFold.byTime[TouchEvent](_.ts, _.event_id))) {
      (uid: Long, prev: Option[String], e: TouchEvent) =>
        val channel = prev.getOrElse("unattributed")
        if (touches(e.event_type)) (e.event_type, None)
        else if (e.event_type == "purchase")
          (channel, Some(Attribution(uid, e.event_id, channel, e.value)))
        else (channel, None)
    }
  }
}
