package graft.streaming

import org.apache.spark.sql.Dataset

/** One session-relevant event arriving on the stream. */
case class SessionEvent(user_id: Long, event_id: Long,
    ts: java.sql.Timestamp, event_type: String)

/** Emitted when a session CLOSES (a later event opened a new one). */
case class ClosedSession(user_id: Long, session_seq: Long,
    n_events: Long, duration_ms: Long, n_types: Long)

/** Per-user open session: ordinal, bounds, size, distinct types. */
case class SessionState(seq: Long, start_us: Long, last_us: Long,
    n: Long, types: Set[String])

/** Streaming parity for the batch gap-sessionizer
  * ([[graft.queries.AnalyticsQueries]] `q_sessionize`): sessions
  * close AS THE STREAM ARRIVES — when an event lands more than the
  * gap after its user's previous event, the open session is emitted
  * and a new one starts. State is one small struct per user (the
  * open session only — closed sessions leave state immediately),
  * where the batch form windows over the whole history.
  *
  * The final open session per user never closes on an unbounded
  * stream; SessionStreamSpec accounts for exactly that difference
  * against the batch answer. Same in-order feed contract as the
  * funnel/attribution streams; each group's slice is sorted here by
  * (µs, event_id) — the batch window's total order.
  */
object StreamSessionize {

  val gapUs: Long = 21600L * 1000000L // 6 hours, matches q_sessionize

  def closedSessions(events: Dataset[SessionEvent]): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    KeyedFold(events)(_.user_id,
        Some(KeyedFold.byTime[SessionEvent](_.ts, _.event_id))) {
      (uid: Long, prev: Option[SessionState], e: SessionEvent) =>
        val u = StreamArith.micros(e.ts)
        prev match {
          case None => (SessionState(1L, u, u, 1L, Set(e.event_type)), None)
          case Some(cur) if u - cur.last_us > gapUs =>
            (SessionState(cur.seq + 1, u, u, 1L, Set(e.event_type)),
              Some(ClosedSession(uid, cur.seq, cur.n,
                (cur.last_us - cur.start_us) / 1000L, cur.types.size.toLong)))
          case Some(cur) =>
            (cur.copy(last_us = u, n = cur.n + 1,
              types = cur.types + e.event_type), None)
        }
    }
  }
}
