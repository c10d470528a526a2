package graft.streaming

import org.apache.spark.sql.Dataset

/** One change-log record arriving on the stream. */
case class ChangeEvent(user_id: Long, event_id: Long,
    ts: java.sql.Timestamp, op: String, value: Double)

/** A key's current snapshot row (op = "D" means deleted). */
case class SnapshotRow(user_id: Long, last_op: String,
    last_value: Double, last_ts_ms: Long, n_changes: Long)

/** The winning change per key + how many changes were applied. */
case class CdcState(op: String, value: Double, tsUs: Long,
    eventId: Long, n: Long)

/** Streaming form of the CDC apply-changes snapshot
  * (`q_cdc_apply`): the keyed insert/update/delete log collapses as
  * it arrives, keeping ONE winning change per key — last (ts,
  * event_id) wins, exactly the batch `max_by` ordering, so the
  * stream is order-independent across micro-batch splits: a
  * late-delivered older change never displaces a newer one
  * (CdcStreamSpec feeds splits and compares against the batch
  * query). Emits the key's current snapshot row each batch it
  * changes in; downstream sinks upsert by key and drop op="D" rows —
  * the delete-wins contract. State is one small case class per LIVE
  * key, the same asymptotics as the batch aggregate's hash table.
  */
object StreamCdc {

  def applyChanges(changes: Dataset[ChangeEvent]): Dataset[SnapshotRow] = {
    import changes.sparkSession.implicits._
    KeyedFold(changes)(_.user_id)(
      step = (_: Long, prev: Option[CdcState], c: ChangeEvent) => {
        val u = StreamArith.micros(c.ts)
        val newer = prev.forall(cur =>
          u > cur.tsUs || (u == cur.tsUs && c.event_id > cur.eventId))
        val n = prev.fold(1L)(_.n + 1)
        (if (newer) CdcState(c.op, c.value, u, c.event_id, n)
         else prev.get.copy(n = n), None)
      },
      emit = (uid: Long, _: Option[CdcState], cur: CdcState) =>
        Iterator.single(SnapshotRow(uid, cur.op, cur.value,
          cur.tsUs / 1000L, cur.n)))
  }
}
