package graft

/** Stream/batch parity for the PSI drift monitor: after the stream
  * has absorbed the whole current period — in shuffled order, across
  * uneven micro-batches — its final per-key emission must equal the
  * batch `q_drift_psi` row exactly (same smoothing, same DECIMAL
  * quantization, same union bin set).
  */
class DriftStreamSpec extends SparkSpec with StreamTwins {

  test("final streaming PSI == batch q_drift_psi") {
    val batch = SparkEntry.queries("q_drift_psi")(spark, sf())
      .collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"),
          r.getAs[Long]("n_bins"), r.getAs[Double]("psi"))).toMap

    // the twin table replicates the batch split (same wk cutoff) and
    // feeds the current period in reverse, not arrival order
    val streamed = replay(drift).latest(_.event_type)

    assert(batch.nonEmpty, "q_drift_psi returned no rows — vacuous")
    assert(streamed.keySet == batch.keySet)
    batch.foreach { case (et, (nRef, nCur, nBins, psi)) =>
      val s = streamed(et)
      assert(s.n_ref == nRef && s.n_cur == nCur && s.n_bins == nBins,
        s"$et: histogram shape (${s.n_ref},${s.n_cur},${s.n_bins}) != " +
          s"batch ($nRef,$nCur,$nBins)")
      assert(s.psi == psi, s"$et: stream PSI ${s.psi} != batch $psi")
    }
  }
}
