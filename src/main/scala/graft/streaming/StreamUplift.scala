package graft.streaming

import org.apache.spark.sql.Dataset

/** One experiment observation: the segment, the md5-assigned arm,
  * and the binary response (value above the static median).
  */
case class UpliftEvent(event_type: String, treated: Boolean,
    resp: Long)

/** Per-segment uplift readout after a micro-batch — mirrors the
  * `q_uplift_two_model` row.
  */
case class UpliftEstimate(event_type: String, n_c: Long, n_t: Long,
    rate_control: Double, rate_treatment: Double, uplift: Double,
    se_uplift: Double)

/** Four counters of keyed state per segment. */
case class UpliftState(nC: Long, nT: Long, rC: Long, rT: Long)

/** Streaming uplift monitor — the live twin of `q_uplift_two_model`:
  * the response threshold (global median) is static and rides the
  * assignment done upstream, the stream accumulates FOUR COUNTERS
  * per segment (the minimal sufficient statistic for a two-arm
  * binary readout), and the rates / uplift / Wald SE re-emit after
  * every micro-batch. State is O(1) per key, arrival order is
  * irrelevant (counter addition commutes), and the arithmetic is
  * the batch query's exactly — integer-ratio rates and per-row IEEE
  * SE — so once the stream has seen every event its last emission
  * EQUALS the batch row bit-for-bit (UpliftStreamSpec pins it
  * across shuffled uneven splits). This is the experiment-platform
  * dashboard loop: no rescan of history, counters merge, the SE
  * shrinks live as evidence accumulates.
  */
object StreamUplift {

  private[graft] def readout(key: String, st: UpliftState)
      : UpliftEstimate = {
    val pc = st.rC / st.nC.toDouble
    val pt = st.rT / st.nT.toDouble
    UpliftEstimate(key, st.nC, st.nT,
      StreamArith.round4(pc), StreamArith.round4(pt),
      StreamArith.round4(pt - pc),
      StreamArith.round6(math.sqrt(pc * (1.0 - pc) / st.nC +
        pt * (1.0 - pt) / st.nT)))
  }

  def monitor(events: Dataset[UpliftEvent])
      : Dataset[UpliftEstimate] = {
    import events.sparkSession.implicits._
    KeyedFold(events)(_.event_type)(
      step = (_: String, prev: Option[UpliftState], e: UpliftEvent) => {
        val st = prev.getOrElse(UpliftState(0, 0, 0, 0))
        (if (e.treated) st.copy(nT = st.nT + 1, rT = st.rT + e.resp)
         else st.copy(nC = st.nC + 1, rC = st.rC + e.resp), None)
      },
      emit = (key: String, _: Option[UpliftState], st: UpliftState) =>
        if (st.nC > 0 && st.nT > 0) Iterator.single(readout(key, st))
        else Iterator.empty)
  }
}
