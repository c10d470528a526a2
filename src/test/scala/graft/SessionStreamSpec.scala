package graft

/** Stream/batch parity for gap sessionization: replaying the event
  * table must close exactly the batch window's sessions — every
  * session except each user's final (still-open) one — with
  * identical ordinals, sizes, durations, and type counts, across
  * uneven micro-batch splits.
  */
class SessionStreamSpec extends SparkSpec with StreamTwins {

  test("streamed closed sessions equal batch sessions minus each user's open one") {
    // in-order feed contract: the twin table sorts by (µs, event_id)
    val streamed = replay(sessionize).rows

    val batch = SparkEntry.queries("q_sessionize")(spark, sf("0.001"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_seq")) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("duration_ms"),
          r.getAs[Long]("n_types")))
      .toMap
    // each user's final session is still open on the stream
    val lastSeq = batch.keys.groupBy(_._1)
      .map { case (u, ks) => u -> ks.map(_._2).max }
    val expected = batch.filter { case ((u, s), _) => s < lastSeq(u) }
    assert(expected.nonEmpty,
      "no closed sessions in the fixture — parity below is vacuous")

    val got = streamed
      .map(s => (s.user_id, s.session_seq) ->
        (s.n_events, s.duration_ms, s.n_types)).toMap
    assert(got.size == streamed.size, "duplicate closed sessions")
    assert(got.keySet == expected.keySet,
      s"session sets differ: missing=${expected.keySet -- got.keySet} " +
        s"extra=${got.keySet -- expected.keySet}")
    expected.foreach { case (k, v) =>
      assert(got(k) == v, s"session $k: stream ${got(k)} != batch $v")
    }
  }
}
