package graft.streaming

import org.apache.spark.sql.Dataset

/** One binned observation from the live (current) period. */
case class DriftEvent(event_type: String, bin: Long)

/** Per-key PSI readout after a micro-batch. */
case class DriftEstimate(event_type: String, n_ref: Long, n_cur: Long,
    n_bins: Long, psi: Double)

/** Running current-period histogram for one key. */
case class DriftState(cur: Map[Long, Long])

/** Streaming PSI drift monitor — the live twin of `q_drift_psi`: the
  * REFERENCE histogram (training period) is fixed and rides the
  * closure; the stream accumulates the current period's bin counts
  * as keyed state and re-emits the population-stability index after
  * every micro-batch. State per key is one count per occupied bin —
  * bounded by the bin domain (decade-binned values), independent of
  * uptime. Arithmetic replays the batch query's exactly (add-one
  * smoothing over the UNION bin set, per-term DECIMAL(18,6)
  * quantization of ln(p/q) and of each term, exact decimal sum), so
  * once the stream has seen the whole current period its last
  * emission EQUALS the batch PSI bit-for-bit — DriftStreamSpec pins
  * it across uneven, unordered micro-batch splits.
  */
object StreamDrift {

  /** PSI of `cur` vs `ref` replicating q_drift_psi's quantized form. */
  private[streaming] def psi(ref: Map[Long, Long],
      cur: Map[Long, Long]): (Long, Long, Long, Double) = {
    val bins = (ref.keySet ++ cur.keySet).toSeq.sorted
    val nRef = ref.values.sum
    val nCur = cur.values.sum
    val nBins = bins.size.toLong
    val total = bins.map { b =>
      val p = (ref.getOrElse(b, 0L) + 1).toDouble / (nRef + nBins)
      val q = (cur.getOrElse(b, 0L) + 1).toDouble / (nCur + nBins)
      StreamArith.dec6((p - q) * StreamArith.dec6(math.log(p / q)).toDouble)
    }.sum
    (nRef, nCur, nBins,
      total.toDouble) // exact decimal sum, then one double round
  }

  def monitor(events: Dataset[DriftEvent],
      ref: Map[String, Map[Long, Long]]): Dataset[DriftEstimate] = {
    import events.sparkSession.implicits._
    KeyedFold(events)(_.event_type)(
      step = (_: String, prev: Option[DriftState], e: DriftEvent) => {
        val cur = prev.fold(Map.empty[Long, Long])(_.cur)
        (DriftState(cur.updated(e.bin, cur.getOrElse(e.bin, 0L) + 1)),
          None)
      },
      emit = (key: String, _: Option[DriftState], st: DriftState) => {
        val (nRef, nCur, nBins, v) =
          psi(ref.getOrElse(key, Map.empty), st.cur)
        Iterator.single(DriftEstimate(key, nRef, nCur, nBins,
          StreamArith.round6(v)))
      })
  }
}
