package graft

import org.apache.spark.sql.functions._
import graft.streaming.{MetricPoint, StreamAnomaly}

/** Stream/batch parity for rolling z-score anomaly detection: the
  * flatMapGroupsWithState ring-buffer scorer must produce
  * BIT-IDENTICAL z-scores to the batch window plan
  * ([[graft.operators.Anomaly.rollingZ]]) on the same data, across
  * uneven micro-batch splits — the decimal-quantized moments are
  * what make that equality exact rather than ulp-close.
  */
class AnomalyStreamSpec extends SparkSpec with StreamTwins {
  import spark.implicits._

  test("streaming z-scores == batch rollingZ, bit-exact, across splits") {
    val batch = graft.operators.Anomaly.rollingZ(
        Tables(spark, sf("0.001"), "events"), col("event_type"),
        Seq(col("ts"), col("event_id")), col("value"))
      .select(col("event_id"), col("z")).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap

    val streamed = replay(anomaly).rows.map(s => s.event_id -> s.z).toMap

    assert(streamed.size == batch.size,
      s"row counts differ: stream ${streamed.size} vs batch ${batch.size}")
    val diffs = batch.collect {
      case (id, z) if streamed(id) != z => (id, z, streamed(id))
    }
    assert(diffs.isEmpty,
      s"${diffs.size} z-scores differ, e.g. ${diffs.take(3)}")
  }

  test("same-millisecond events score in full-µs order, not ms+id order") {
    // pA and pB land in the same millisecond (getTime = 1000 for
    // both) but pA precedes pB by µs while having the LARGER
    // event_id — an ms-truncated (getTime, event_id) sort would
    // process pB first and assign both events the wrong z.
    def ts(us: Long) = {
      val t = new java.sql.Timestamp(us / 1000L)
      t.setNanos((us % 1000000L).toInt * 1000); t
    }
    val pts = Seq(
      MetricPoint(100L, ts(0L), "k", 0.0),
      MetricPoint(101L, ts(500000L), "k", 10.0),
      MetricPoint(2L, ts(1000100L), "k", 20.0), // first by µs, 2nd by id
      MetricPoint(1L, ts(1000900L), "k", 40.0))

    val got = replay(pts)(StreamAnomaly.zScores(_, window = 2))
      .rows.map(s => s.event_id -> s.z).toMap

    // µs order: pA(20) vs [0,10] → z=3; pB(40) vs [10,20] → z=5.
    // ms+id order would give pB z=7 and pA z=-1/3 instead.
    assert(got(2L) == Some(3.0), s"pA z: ${got(2L)}")
    assert(got(1L) == Some(5.0), s"pB z: ${got(1L)}")
  }

  test("rollingZ scores large-offset series (exact-decimal variance)") {
    // values ~1e7 with σ ~1e-3: the E[x²] − E[x]² double form
    // cancels to var = 0 (both terms ~1e14, true difference ~1e-6 —
    // below double's 15-16 significant digits) and silently leaves
    // every row unscored; the exact-decimal numerator must score
    val base = 1.0e7
    val rows = (1 to 30).map { i =>
      (i.toLong,
        java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$i%02d"),
        "t", base + (i % 3) * 0.001)
    }
    val df = spark.createDataFrame(rows)
      .toDF("event_id", "ts", "event_type", "value")
    val scored = graft.operators.Anomaly.rollingZ(df,
        col("event_type"), Seq(col("ts"), col("event_id")),
        col("value"))
      .select(col("event_id"), col("z")).collect()
    val zs = scored.filter(!_.isNullAt(1))
    assert(zs.length == 10,
      s"rows 21-30 must score (got ${zs.length}): var cancellation?")
    zs.foreach(r => assert(!r.getDouble(1).isNaN))
  }
}
