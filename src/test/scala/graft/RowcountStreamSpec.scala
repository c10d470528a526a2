package graft

import graft.streaming.StreamRowcount

/** Stream/batch parity for the ingest row-count monitor: after the
  * stream has absorbed every event — shuffled, uneven micro-batches
  * — its final per-key summary must agree with the batch
  * `q_dq_rowcount_anomaly` rows exactly (same trailing-7 window,
  * same integer-exact moments, same flags).
  */
class RowcountStreamSpec extends SparkSpec with StreamTwins {

  test("final streaming summary == batch q_dq_rowcount_anomaly") {
    val batchRows = SparkEntry.queries("q_dq_rowcount_anomaly")(
      spark, sf()).collect()
    assert(batchRows.nonEmpty)
    val batch = batchRows.groupBy(_.getAs[String]("event_type"))
      .map { case (et, rs) =>
        val last = rs.maxBy(_.getAs[String]("day"))
        et -> (rs.length.toLong,
          rs.count(_.getAs[Boolean]("anomaly")).toLong,
          last.getAs[String]("day"), last.getAs[Double]("z_score"))
      }

    val streamed = replay(rowcount).latest(_.event_type)

    assert(batch.keySet.subsetOf(streamed.keySet))
    batch.foreach { case (et, (nScored, nAnom, lastDay, lastZ)) =>
      val s = streamed(et)
      assert(s.n_scored == nScored,
        s"$et: scored ${s.n_scored} != batch $nScored")
      assert(s.n_anomalies == nAnom,
        s"$et: anomalies ${s.n_anomalies} != batch $nAnom")
      assert(s.last_day == lastDay, s"$et: last day ${s.last_day} != $lastDay")
      assert(s.last_z == lastZ, s"$et: last z ${s.last_z} != batch $lastZ")
    }
  }

  test("score matches a hand-checked series") {
    val counts = Map(
      "2024-01-01" -> 10L, "2024-01-02" -> 10L, "2024-01-03" -> 10L,
      "2024-01-04" -> 10L, "2024-01-05" -> 100L)
    val est = StreamRowcount.score("t", counts)
    // days 4 and 5 have >=3 prior days
    assert(est.n_days == 5 && est.n_scored == 2)
    // day 5: window {10,10,10,10}, mean 10, var 0 -> clamp 1 ->
    // z = 90
    assert(est.last_day == "2024-01-05")
    assert(est.last_z == 90.0)
    assert(est.n_anomalies == 1)
  }
}
