package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The keyed fold every streaming twin is built on — the reference's
  * one-cached-record-per-device upsert (`task.ts:148`) generalized to
  * any per-key state: `groupByKey` → `flatMapGroupsWithState` in
  * Append mode with no timeout, one state value per live key.
  *
  * Contract, per key and micro-batch (a NoTimeout group is invoked
  * only for keys with rows in the batch):
  *  1. load the key's state: `None` until the key's first batch, so
  *     a twin can tell "no state yet" from a zero;
  *  2. if `order` is given, sort the key's slice of the batch by it
  *     ([[byTime]] is the (µs, id) order the batch windows use);
  *  3. fold `step` over the rows — each step returns the next state
  *     and at most one row to emit for that input row;
  *  4. store the last state, then append `emit(key, before, after)`
  *     — the batch-level readout over the state the batch started
  *     from and the one it ended on.
  *
  * The state class `S` IS the checkpoint and RocksDB state schema:
  * changing a twin's state-class fields breaks restart from an
  * existing checkpoint, so those classes stay frozen.
  *
  * Per-key order across micro-batches is the caller's job (an
  * ordered log, or a watermark + sorted repartition upstream); this
  * helper only orders rows within one batch.
  */
private[graft] object KeyedFold {

  /** The batch windows' total order: full-µs time, then id. */
  def byTime[I](ts: I => java.sql.Timestamp, id: I => Long): Ordering[I] =
    Ordering.by((r: I) => (StreamArith.micros(ts(r)), id(r)))

  def apply[I, K: Encoder, S: Encoder, O: Encoder](rows: Dataset[I])(
      key: I => K, order: Option[Ordering[I]] = None)(
      step: (K, Option[S], I) => (S, Option[O]),
      emit: (K, Option[S], S) => Iterator[O] =
        (_: K, _: Option[S], _: S) => Iterator.empty): Dataset[O] =
    rows.groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (k: K, it: Iterator[I], state: GroupState[S]) =>
          val before = state.getOption
          val slice = order.fold(it)(o => it.toSeq.sorted(o).iterator)
          var cur = before
          val out = List.newBuilder[O]
          slice.foreach { r =>
            val (next, o) = step(k, cur, r)
            cur = Some(next)
            o.foreach(out += _)
          }
          val after = cur.get
          state.update(after)
          out.result().iterator ++ emit(k, before, after)
      }
}
