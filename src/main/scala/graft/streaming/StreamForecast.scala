package graft.streaming

import org.apache.spark.sql.Dataset

/** One observation for the forecast monitor: the event's hour bucket
  * (epoch µs, already truncated) and its metric value.
  */
case class ForecastEvent(event_type: String, hour_us: Long,
    value: Double)

/** Per-key backtest readout after a micro-batch — mirrors the
  * `q_forecast_backtest` row (seasonal-naive lag-24 on the dense
  * hourly spine, scored MAE/RMSE/WAPE).
  */
case class ForecastEstimate(event_type: String, n_eval: Long,
    mae: Double, rmse: Double, wape: Option[Double])

/** Running per-hour revenue sums for one key (hour epoch µs →
  * DECIMAL(18,6)-quantized sum, stored as its unscaled string for a
  * stable Spark encoder).
  */
case class ForecastState(sums: Map[Long, String])

/** Streaming seasonal-naive forecast-error monitor — the live twin
  * of `q_forecast_backtest`: the stream accumulates per-(key, hour)
  * revenue sums as keyed state and after every micro-batch re-scores
  * the seasonal-naive baseline (predict each hour by the same hour a
  * day earlier on the ZERO-FILLED spine) with MAE / RMSE / WAPE.
  *
  * State per key is one decimal per OCCUPIED hour — bounded by the
  * calendar span of the stream (the gap-fill argument: spine-sized,
  * independent of event volume). Late events are handled by
  * construction: a late row lands in its hour bucket and the next
  * emission re-scores the whole spine, so arrival order never
  * matters. (A production variant would finalize hours behind the
  * watermark and keep only a 25-hour tail of open buckets; the
  * re-scoring form is what makes the stream == batch guarantee
  * testable bit-for-bit.)
  *
  * Arithmetic replays the batch query exactly: per-event values
  * quantized to DECIMAL(18,6) before summing (exact, associative —
  * micro-batch boundaries can't change the total), errors and their
  * squares kept in exact decimal (scale 6 / 12), and only the final
  * /n, sqrt and round(4) run in doubles — the same contract the
  * DuckDB oracle pins for the batch query. ForecastStreamSpec
  * asserts the final emission equals the batch rows exactly across
  * shuffled, uneven micro-batch splits.
  */
object StreamForecast {

  private val HourUs = 3600L * 1000000L

  /** Score the seasonal-naive baseline over the dense spine implied
    * by `sums` — exactly the batch query's arithmetic. Returns None
    * while the spine is shorter than one season (< 24h of history):
    * the batch query emits no row for such a key, and the stream
    * must mirror that row-presence, not emit a zero-filled stub.
    * WAPE is None (SQL NULL — matching the batch row, whose
    * non-ANSI sae/sa division yields NULL at sa = 0) when every eval
    * hour sums to exactly 0: "undefined", never NaN, and never a
    * fake-perfect 0.0 while MAE shows real error.
    */
  private[graft] def score(key: String,
      sums: Map[Long, BigDecimal]): Option[ForecastEstimate] = {
    if (sums.isEmpty) return None
    val h0 = sums.keys.min
    val h1 = sums.keys.max
    val zero = BigDecimal(0).setScale(6)
    var n = 0L
    var sae = BigDecimal(0)
    var sse = BigDecimal(0)
    var sa = BigDecimal(0)
    var h = h0 + 24 * HourUs
    while (h <= h1) {
      val actual = sums.getOrElse(h, zero)
      val pred = sums.getOrElse(h - 24 * HourUs, zero)
      val err = actual - pred // scale 6, exact
      n += 1
      sae += err.abs
      sse += err * err // scale 12, exact
      sa += actual.abs
      h += HourUs
    }
    if (n == 0) None
    else Some(ForecastEstimate(key, n,
      StreamArith.round4(sae.toDouble / n),
      StreamArith.round4(math.sqrt(sse.toDouble / n)),
      if (sa.signum == 0) None
      else Some(StreamArith.round4(sae.toDouble / sa.toDouble))))
  }

  def monitor(events: Dataset[ForecastEvent])
      : Dataset[ForecastEstimate] = {
    import events.sparkSession.implicits._
    KeyedFold(events)(_.event_type)(
      step = (_: String, prev: Option[ForecastState], e: ForecastEvent) => {
        // the unscaled string round-trips the decimal exactly
        val sums = prev.fold(Map.empty[Long, String])(_.sums)
        val sum = sums.get(e.hour_us).fold(BigDecimal(0).setScale(6))(
          BigDecimal(_)) + StreamArith.dec6(e.value)
        (ForecastState(sums.updated(e.hour_us, sum.toString)), None)
      },
      emit = (key: String, _: Option[ForecastState], st: ForecastState) =>
        score(key, st.sums.map { case (h, s) => h -> BigDecimal(s) })
          .iterator)
  }
}
