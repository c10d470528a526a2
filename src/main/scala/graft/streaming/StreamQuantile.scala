package graft.streaming

import org.apache.spark.sql.Dataset

/** One keyed value observation arriving on the stream. */
case class QPoint(event_id: Long, event_type: String, value: Double)

/** Per-batch quantile estimates for one key. */
case class QuantileEstimate(event_type: String, n_sample: Long,
    est_p50: Double, est_p90: Double)

/** The k entries with the smallest (hash, id), ascending. */
case class QSketchState(entries: List[(Long, Long, Double)])

/** Streaming form of the deterministic-sample quantile sketch
  * (`q_agg_quantile_sketch`): per key, keep the k observations with
  * the smallest md5(event_id) — a uniform random sample whose
  * membership is a pure function of the ids, so it is
  * ORDER-INDEPENDENT: any arrival order, any micro-batch split, and
  * any merge of partial sketches lands on the identical sample, which
  * is why the streaming estimates equal the batch query's exactly
  * (QuantileStreamSpec pins it). State is k (hash, id, value) triples
  * per key — fixed, uptime-independent, the streaming analogue of
  * the batch plan's WindowGroupLimit bound.
  */
object StreamQuantile {

  def estimates(points: Dataset[QPoint], k: Int = 256)
      : Dataset[QuantileEstimate] = {
    import points.sparkSession.implicits._
    KeyedFold(points)(_.event_type)(
      step = (_: String, prev: Option[QSketchState], p: QPoint) => {
        // the batch SQL's 60-bit md5 hash of the id
        val e = (StreamArith.hash60(p.event_id.toString), p.event_id,
          p.value)
        val entries = prev.fold(List.empty[(Long, Long, Double)])(_.entries)
        // skip a re-delivered triple BEFORE take(k): an at-least-once
        // source can replay an event, and a duplicate would occupy
        // two sample slots and evict a legitimate distinct event —
        // membership must stay a pure function of the id set
        (if (entries.contains(e)) QSketchState(entries)
         else QSketchState((entries :+ e).sortBy(x => (x._1, x._2)).take(k)),
          None)
      },
      emit = (key: String, _: Option[QSketchState], st: QSketchState) => {
        val sv = st.entries.map(_._3).sorted
        val n = sv.length
        def est(q: Double) = StreamArith.round4(
          sv(math.max(1, math.ceil(q * n).toInt) - 1))
        Iterator.single(
          QuantileEstimate(key, n.toLong, est(0.5), est(0.9)))
      })
  }
}
