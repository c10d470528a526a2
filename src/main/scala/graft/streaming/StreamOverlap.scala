package graft.streaming

import org.apache.spark.sql.Dataset

/** One (user, event-type) observation arriving on the stream. */
case class TypeUserEvent(user_id: Long, event_type: String)

/** A user's current distinct-type set (emitted only on growth). */
case class UserTypeSet(user_id: Long, types: Seq[String])

/** Streaming twin of the audience-overlap Jaccard matrix
  * ([[graft.queries.StatsQueries]] `q_user_overlap_jaccard`).
  *
  * The batch form self-joins the distinct (type, user) aggregate on
  * the user key. The streaming form keeps ONE set of event types per
  * user — O(|type domain|) per key, i.e. O(1) for the bounded type
  * vocabulary the matrix is defined over — and emits the user's set
  * only when it GROWS, so a key emits at most |types| rows over the
  * stream's lifetime regardless of event volume. The latest emission
  * per user is exactly the batch aggregate's row set: per-type sizes,
  * pairwise intersections and the Jaccard matrix all derive from it
  * (OverlapStreamSpec pins the parity cell-for-cell).
  *
  * Retraction-free by construction: sets only grow, so an append
  * stream suffices — no update-mode sink, no replays. At 100 TB the
  * state is |users|·|types| bits sharded by the group key, the same
  * envelope the batch distinct aggregate shuffles.
  */
object StreamOverlap {

  def userTypeSets(events: Dataset[TypeUserEvent])
      : Dataset[UserTypeSet] = {
    import events.sparkSession.implicits._
    KeyedFold(events)(_.user_id)(
      step = (_: Long, prev: Option[Seq[String]], e: TypeUserEvent) => {
        val types = prev.getOrElse(Seq.empty)
        (if (types.contains(e.event_type)) types
         else (types :+ e.event_type).sorted, None)
      },
      emit = (uid: Long, before: Option[Seq[String]], after: Seq[String]) =>
        if (before.exists(_.size == after.size)) Iterator.empty
        else Iterator.single(UserTypeSet(uid, after)))
  }
}
