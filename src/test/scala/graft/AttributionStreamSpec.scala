package graft

/** Stream/batch parity for last-touch attribution: replaying the
  * event table through the O(1)-state tracker must credit every
  * channel with exactly the batch window's conversion count and
  * DECIMAL revenue, across uneven micro-batch splits.
  */
class AttributionStreamSpec extends SparkSpec with StreamTwins {

  test("streamed attributions equal the batch window per channel") {
    // in-order feed contract: the twin table sorts by (µs, event_id)
    val streamed = replay(attribution).rows

    def dec(d: Double) = BigDecimal(d).setScale(6,
      BigDecimal.RoundingMode.HALF_UP)
    val got = streamed.groupBy(_.channel).map { case (ch, rows) =>
      ch -> (rows.size.toLong, rows.map(r => dec(r.value)).sum)
    }

    val expected = SparkEntry.queries("q_attribution_last_touch")(
        spark, sf("0.001")).collect()
      .map(r => r.getAs[String]("channel") ->
        (r.getAs[Long]("n_conversions"),
          // batch emits round(decimal→double, 6); dec() recovers the
          // exact 6-dp decimal the stream's quantized sum carries
          dec(r.getAs[Double]("revenue"))))
      .toMap

    assert(got.keySet == expected.keySet,
      s"channel sets differ: $got vs $expected")
    expected.foreach { case (ch, (n, rev)) =>
      val (gn, grev) = got(ch)
      assert(gn == n, s"$ch: stream count $gn != batch $n")
      assert(grev == rev, s"$ch: stream revenue $grev != batch $rev")
    }
  }
}
