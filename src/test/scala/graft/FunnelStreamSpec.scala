package graft

import graft.streaming.StreamFunnel

/** Stream/batch parity for the ordered funnel: replaying the event
  * table through the stateful stage tracker must land every user on
  * the same final stage as the batch HOF fold, across uneven
  * micro-batch splits — and stage advances must arrive monotonically.
  */
class FunnelStreamSpec extends SparkSpec with StreamTwins {
  import spark.implicits._

  test("streaming stage advances land on the batch fold's final stages") {
    val batch = graft.queries.AnalyticsQueries
      .userStages(spark, sf("0.001"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

    // the table's feed is in full-µs order (the in-order contract)
    val advances = replay(funnel).rows
      .map(a => (a.user_id, a.stage, a.at_us))

    // advances are strictly monotone per user: 1, 2, 3 with no skips
    advances.groupBy(_._1).foreach { case (uid, rows) =>
      val stages = rows.sortBy(_._3).map(_._2)
      assert(stages == (1 to stages.max).toList,
        s"user $uid advanced non-monotonically: $stages")
    }

    val streamedFinal = advances.groupBy(_._1)
      .map { case (uid, rows) => uid -> rows.map(_._2).max }
    // every batch stage ≥1 must match; batch stage-0 users emit nothing
    assert(batch.nonEmpty, "batch funnel returned no users — vacuous")
    assert(streamedFinal.keySet.subsetOf(batch.keySet),
      s"stream advanced unknown users: " +
        s"${streamedFinal.keySet.diff(batch.keySet)}")
    batch.foreach { case (uid, st) =>
      assert(streamedFinal.getOrElse(uid, 0) == st,
        s"user $uid: stream ${streamedFinal.getOrElse(uid, 0)} != batch $st")
    }
  }

  test("variant-tagged advances reproduce q_funnel_by_variant") {
    val batch = SparkEntry.queries("q_funnel_by_variant")(
        spark, sf("0.001"))
      .collect()
      .map(r => r.getAs[String]("variant") ->
        (r.getAs[Long]("n_signup"), r.getAs[Long]("n_click"),
          r.getAs[Long]("n_purchase"), r.getAs[Double]("cr_click"),
          r.getAs[Double]("cr_purchase"))).toMap
    assert(batch.nonEmpty)

    val advances = replay(funnel.feed, 3, 2)(
        StreamFunnel.variantStageAdvances)
      .rows.map(a => (a.variant, a.user_id, a.stage, a.at_us))

    // per-variant conversion table from each user's final stage
    val streamed = advances.groupBy(_._2)
      .map { case (uid, rows) => (rows.head._1, uid,
        rows.map(_._3).max) }
      .groupBy(_._1)
      .map { case (v, users) =>
        val n1 = users.count(_._3 >= 1).toLong
        val n2 = users.count(_._3 >= 2).toLong
        val n3 = users.count(_._3 >= 3).toLong
        def r4(x: Double) = BigDecimal(x)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        v -> (n1, n2, n3, r4(n2.toDouble / n1), r4(n3.toDouble / n1))
      }
    assert(streamed == batch,
      s"variant funnel parity broken:\n stream=$streamed\n batch=$batch")
  }
}
