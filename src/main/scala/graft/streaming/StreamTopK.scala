package graft.streaming

import org.apache.spark.sql.Dataset

/** One keyed item observation arriving on the stream. */
case class TKEvent(event_id: Long, event_type: String, item: String)

/** One top-k row emitted after a micro-batch: `est` never
  * undercounts the item's true frequency, and `est - err` never
  * overcounts it (the Space-Saving invariant).
  */
case class TopKEstimate(event_type: String, item: String,
    est: Long, err: Long, rank: Int)

/** counters: item → (estimated count, overestimation error). */
case class TopKState(counters: Map[String, (Long, Long)])

/** Streaming heavy hitters via Space-Saving (Metwally et al.,
  * ICDT'05) — the bounded-state alternative to counting every
  * distinct item: per key, at most `capacity` counters, with the
  * classic guarantees (any item with true count > n/capacity is
  * retained; true ≤ est ≤ true + err). The replacement step evicts
  * the (count, item)-minimal counter, so a feed's outcome is a
  * deterministic function of its arrival order — and when
  * `capacity` exceeds the key's distinct-item count the sketch
  * degenerates to EXACT counting, which is the stream==batch parity
  * contract TopKStreamSpec pins against the batch aggregate.
  * State per key is `capacity` (item, count, err) entries — fixed,
  * uptime-independent; the batch analogue is
  * `q_agg_heavy_hitters_cms` (probabilistic counts) and
  * `q_topk_per_group` (exact top-k).
  */
object StreamTopK {

  private[streaming] def feed(
      counters: Map[String, (Long, Long)], item: String,
      capacity: Int): Map[String, (Long, Long)] =
    counters.get(item) match {
      case Some((c, e)) => counters.updated(item, (c + 1, e))
      case None if counters.size < capacity =>
        counters.updated(item, (1L, 0L))
      case None =>
        // evict the (count, item)-minimal counter; the newcomer
        // inherits its count as the overestimation error
        val (minItem, (minC, _)) =
          counters.minBy { case (i, (c, _)) => (c, i) }
        (counters - minItem).updated(item, (minC + 1, minC))
    }

  def topK(events: Dataset[TKEvent], capacity: Int = 64, k: Int = 10)
      : Dataset[TopKEstimate] = {
    import events.sparkSession.implicits._
    // intra-batch determinism: micro-batch contents replay in
    // (event_id) order no matter how tasks interleaved upstream
    KeyedFold(events)(_.event_type,
        Some(Ordering.by[TKEvent, Long](_.event_id)))(
      step = (_: String, prev: Option[TopKState], e: TKEvent) =>
        (TopKState(feed(prev.fold(Map.empty[String, (Long, Long)])(
          _.counters), e.item, capacity)), None),
      emit = (key: String, _: Option[TopKState], st: TopKState) =>
        st.counters.toSeq
          .sortBy { case (i, (c, _)) => (-c, i) }.take(k)
          .zipWithIndex.iterator
          .map { case ((item, (c, e)), r) =>
            TopKEstimate(key, item, c, e, r + 1) })
  }
}
