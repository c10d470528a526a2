package graft

import graft.streaming.{ChangeEvent, StreamArith, StreamCdc}

/** Stream/batch parity for CDC apply-changes: replaying the change
  * log through the stateful collapser — in a SHUFFLED order, since
  * last-(ts,event_id)-wins is order-independent — must land every
  * key on the batch q_cdc_apply snapshot, with deleted keys' final
  * emission carrying op="D".
  */
class CdcStreamSpec extends SparkSpec with StreamTwins {
  import spark.implicits._

  /** A key's winning change: last by full-µs ts, then event_id — the
    * batch `max_by` order (getTime would truncate to ms). */
  private def winner(es: Seq[ChangeEvent]): ChangeEvent =
    es.maxBy(e => (StreamArith.micros(e.ts), e.event_id))

  test("streaming snapshot == batch q_cdc_apply, shuffled arrival order") {
    val batch = SparkEntry.queries("q_cdc_apply")(spark, sf())
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[String]("last_op"), r.getAs[Double]("last_value"),
          r.getAs[Long]("last_ts_ms"), r.getAs[Long]("n_changes")))
      .toMap

    val all = cdc.feed
    val finalRows = replay(cdc).latest(_.user_id)

    // live keys match the batch snapshot (value rounded like batch)
    batch.foreach { case (uid, (op, v, ms, n)) =>
      val s = finalRows(uid)
      val sVr = BigDecimal.decimal(s.last_value)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(s.last_op == op && sVr == v && s.last_ts_ms == ms &&
        s.n_changes == n,
        s"key $uid: stream (${s.last_op},$sVr,${s.last_ts_ms}," +
          s"${s.n_changes}) != batch ($op,$v,$ms,$n)")
    }
    // every key absent from the batch snapshot ended deleted — AND
    // every deleted key must actually appear in the stream's final
    // emissions (iterating only finalRows let a stream that swallows
    // deleted keys pass, since q_cdc_apply filters them out of batch)
    val deleted = all.groupBy(_.user_id).collect {
      case (uid, es) if winner(es).op == "D" => uid
    }.toSet
    assert(deleted.nonEmpty,
      "fixture has no deleted keys — the delete leg is vacuous")
    deleted.foreach { uid =>
      assert(finalRows.contains(uid) && finalRows(uid).last_op == "D",
        s"deleted key $uid: final stream emission is " +
          s"${finalRows.get(uid)}, expected op=D")
    }
    finalRows.foreach { case (uid, row) =>
      if (!batch.contains(uid))
        assert(row.last_op == "D", s"key $uid missing from batch but not deleted")
    }
  }

  test("same-millisecond changes: the later one by µs wins, not the larger id") {
    // both changes fall in millisecond 1000; the delete is later by
    // µs but carries the SMALLER event_id, so an ms-truncated
    // (getTime, event_id) order would wrongly crown the update. The
    // delete arrives first, so the update must not displace it
    // across the batch boundary either.
    def ts(us: Long) = {
      val t = new java.sql.Timestamp(us / 1000L)
      t.setNanos((us % 1000000L).toInt * 1000); t
    }
    val del = ChangeEvent(7L, 1L, ts(1000900L), "D", 0.0)
    val upd = ChangeEvent(7L, 2L, ts(1000100L), "U", 3.0)
    assert(del.ts.getTime == upd.ts.getTime, "fixture must share a ms")
    assert(winner(Seq(del, upd)) == del)

    val last = replay(Seq(del, upd), 2)(StreamCdc.applyChanges)
      .latest(_.user_id)(7L)
    assert(last.last_op == "D" && last.last_value == 0.0,
      s"µs winner is the delete, stream emitted $last")
    assert(last.last_ts_ms == 1000L && last.n_changes == 2L, s"$last")
  }
}
