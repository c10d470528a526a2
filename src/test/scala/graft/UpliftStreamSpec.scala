package graft

import graft.streaming.StreamUplift

/** Stream/batch parity for the uplift monitor: after the stream has
  * absorbed every event — shuffled, uneven micro-batches — its final
  * per-segment emission must equal the batch `q_uplift_two_model`
  * row exactly (same arm assignment, same threshold, same rounding).
  */
class UpliftStreamSpec extends SparkSpec with StreamTwins {

  test("final streaming uplift == batch q_uplift_two_model") {
    val batch = SparkEntry.queries("q_uplift_two_model")(spark, sf())
      .collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_c"), r.getAs[Long]("n_t"),
          r.getAs[Double]("rate_control"),
          r.getAs[Double]("rate_treatment"),
          r.getAs[Double]("uplift"),
          r.getAs[Double]("se_uplift"))).toMap
    assert(batch.nonEmpty)

    // the twin table replicates the batch derivation (global median
    // + md5 arms) and feeds it in reverse
    val streamed = replay(uplift).latest(_.event_type)

    assert(streamed.keySet == batch.keySet)
    batch.foreach { case (et, (nC, nT, pc, pt, up, se)) =>
      val s = streamed(et)
      assert(s.n_c == nC && s.n_t == nT,
        s"$et: arm sizes (${s.n_c},${s.n_t}) != batch ($nC,$nT)")
      assert(s.rate_control == pc && s.rate_treatment == pt,
        s"$et: rates (${s.rate_control},${s.rate_treatment}) != " +
          s"batch ($pc,$pt)")
      assert(s.uplift == up, s"$et: uplift ${s.uplift} != batch $up")
      assert(s.se_uplift == se, s"$et: SE ${s.se_uplift} != batch $se")
    }
  }

  test("readout is exact on a tiny hand-checked state") {
    val est = StreamUplift.readout("t",
      graft.streaming.UpliftState(nC = 4, nT = 5, rC = 1, rT = 3))
    assert(est.rate_control == 0.25)
    assert(est.rate_treatment == 0.6)
    assert(est.uplift == 0.35)
    val se = math.sqrt(0.25 * 0.75 / 4 + 0.6 * 0.4 / 5)
    assert(est.se_uplift ==
      BigDecimal.decimal(se).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
  }
}
