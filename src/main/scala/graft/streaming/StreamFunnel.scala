package graft.streaming

import org.apache.spark.sql.Dataset

/** One funnel-relevant event arriving on the stream. */
case class FunnelEvent(user_id: Long, event_id: Long,
    ts: java.sql.Timestamp, event_type: String)

/** Emitted when a user advances a funnel stage. */
case class StageAdvance(user_id: Long, stage: Int, at_us: Long)

/** Per-user funnel position: stage reached + its event time (µs). */
case class FunnelState(st: Int, t: Long)

/** Stage advance tagged with the user's experiment arm. */
case class VariantStageAdvance(variant: String, user_id: Long,
    stage: Int, at_us: Long)

/** Streaming parity for the batch ordered-funnel fold
  * ([[graft.queries.AnalyticsQueries]] `q_funnel_steps`): users
  * advance signup → click → purchase AS EVENTS ARRIVE, with two
  * ints of state per user — where the batch form must wait for the
  * corpus and collect each user's array.
  *
  * Emits one row per stage ADVANCE (append-mode friendly, no
  * retraction); a user's latest emitted stage equals the batch
  * fold's final stage, which FunnelStreamSpec pins across uneven
  * micro-batch splits. Step comparisons use µs timestamps derived
  * via Instant (java.sql.Timestamp.getTime is ms-truncated — not
  * enough when the batch fold orders by unix_micros).
  *
  * Same in-order feed contract as the anomaly/geofence streams:
  * per-key order across micro-batches is the caller's job; each
  * group's slice is sorted here.
  */
object StreamFunnel {

  def stageAdvances(events: Dataset[FunnelEvent]): Dataset[StageAdvance] = {
    import events.sparkSession.implicits._
    KeyedFold(events)(_.user_id,
        Some(KeyedFold.byTime[FunnelEvent](_.ts, _.event_id))) {
      (uid: Long, prev: Option[FunnelState], e: FunnelEvent) =>
        val cur = prev.getOrElse(FunnelState(0, -1L))
        val u = StreamArith.micros(e.ts)
        val advance =
          (cur.st == 0 && e.event_type == "signup") ||
          (cur.st == 1 && e.event_type == "click" && u > cur.t) ||
          (cur.st == 2 && e.event_type == "purchase" && u > cur.t)
        if (advance)
          (FunnelState(cur.st + 1, u), Some(StageAdvance(uid, cur.st + 1, u)))
        else (cur, None)
    }
  }

  /** The user's experiment arm — byte-identical to the batch
    * `variantOf` (md5 hex prefix, 8 nibbles = first 4 digest bytes,
    * parity of the 32-bit value = lowest bit of byte 3): same hash,
    * same assignment, so stream and batch bucket every user alike.
    * Digest via StreamArith's per-thread md5 — this runs on the hot
    * path of every stage advance.
    */
  private[graft] def variantOf(uid: Long): String =
    if ((StreamArith.md5Bytes(uid.toString)(3) & 1) == 0) "control"
    else "treatment"

  /** `q_funnel_by_variant` twin: the same two-int per-user fold,
    * each advance tagged with the experiment arm. Per-variant
    * final-stage counts (stage ≥ k) reproduce the batch conversion
    * table; state stays O(1) per user because the arm is a pure
    * hash of the key, never stored.
    */
  def variantStageAdvances(events: Dataset[FunnelEvent])
      : Dataset[VariantStageAdvance] = {
    import events.sparkSession.implicits._
    stageAdvances(events).map(a => VariantStageAdvance(
      variantOf(a.user_id), a.user_id, a.stage, a.at_us))
  }
}
