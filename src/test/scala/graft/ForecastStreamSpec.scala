package graft

import graft.streaming.StreamForecast

/** Stream/batch parity for the seasonal-naive forecast monitor:
  * after the stream has absorbed every event — shuffled, across
  * uneven micro-batches — its final per-key emission must equal the
  * batch `q_forecast_backtest` row exactly (same zero-filled spine,
  * same DECIMAL quantization, same rounding).
  */
class ForecastStreamSpec extends SparkSpec with StreamTwins {

  test("final streaming backtest == batch q_forecast_backtest") {
    val batch = SparkEntry.queries("q_forecast_backtest")(spark, sf())
      .collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_eval"), r.getAs[Double]("mae"),
          r.getAs[Double]("rmse"), r.getAs[Double]("wape"))).toMap
    assert(batch.nonEmpty)

    // the twin table feeds the events in reverse, not arrival order
    val streamed = replay(forecast).latest(_.event_type)

    assert(batch.keySet.subsetOf(streamed.keySet))
    batch.foreach { case (et, (n, mae, rmse, wape)) =>
      val s = streamed(et)
      assert(s.n_eval == n, s"$et: n_eval ${s.n_eval} != batch $n")
      assert(s.mae == mae, s"$et: MAE ${s.mae} != batch $mae")
      assert(s.rmse == rmse, s"$et: RMSE ${s.rmse} != batch $rmse")
      assert(s.wape.contains(wape), s"$et: WAPE ${s.wape} != batch $wape")
    }
  }

  test("mid-stream emissions are well-formed (monotone spine growth)") {
    val sums = Map(
      0L -> BigDecimal("10.000000"),
      3600000000L * 24 -> BigDecimal("12.500000"),
      3600000000L * 25 -> BigDecimal("7.250000"))
    val est = StreamForecast.score("t", sums).get
    // spine covers hours 24..25 relative to hour 0 → 2 eval points
    assert(est.n_eval == 2)
    // hour 24: |12.5 - 10| = 2.5 ; hour 25: |7.25 - 0| = 7.25
    assert(est.mae == BigDecimal((2.5 + 7.25) / 2)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(est.wape.contains(BigDecimal((2.5 + 7.25) / (12.5 + 7.25))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
  }

  test("short spine (< one season) emits nothing, mirroring batch") {
    // batch emits no row when every pred is NULL (lag-24 undefined)
    assert(StreamForecast.score("t", Map.empty).isEmpty)
    assert(StreamForecast.score("t",
      Map(0L -> BigDecimal("5.000000"),
        3600000000L * 23 -> BigDecimal("2.000000"))).isEmpty)
  }

  test("all-zero eval span yields undefined WAPE (None), never NaN or fake 0.0") {
    // hour 0 carries value; hours 24..25 sum to exactly 0 → sa == 0:
    // MAE shows real error (total miss) so WAPE must not read as a
    // perfect 0.0 — it is undefined, the batch row's NULL
    val est = StreamForecast.score("t", Map(
      0L -> BigDecimal("10.000000"),
      3600000000L * 24 -> BigDecimal("0.000000"),
      3600000000L * 25 -> BigDecimal("0.000000"))).get
    assert(est.n_eval == 2)
    assert(est.wape.isEmpty)
    assert(est.mae == 5.0)
    assert(!est.mae.isNaN && !est.rmse.isNaN)
  }
}
