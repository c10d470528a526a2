package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{QPoint, StreamQuantile}

/** Stream/batch parity for the deterministic-sample quantile sketch:
  * sample membership is a pure function of the ids (k smallest md5
  * hashes), so the stream's final estimates must EQUAL the batch
  * query's — even when the stream sees the data in a different order
  * across uneven micro-batch splits.
  */
class QuantileStreamSpec extends SparkSpec with StreamTwins {
  import spark.implicits._
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  test("streaming sketch estimates == batch q_agg_quantile_sketch") {
    val batch = SparkEntry.queries("q_agg_quantile_sketch")(spark, sf())
      .select(col("event_type"), col("n_sample"), col("est_p50"),
        col("est_p90"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap

    // the twin table feeds by descending event_id, NOT arrival
    // order; the last emission per key is the final sketch
    val streamed = replay(quantile).latest(_.event_type)

    assert(batch.nonEmpty,
      "q_agg_quantile_sketch returned no rows — vacuous")
    assert(streamed.keySet == batch.keySet)
    batch.foreach { case (et, (n, p50, p90)) =>
      val s = streamed(et)
      assert(s.n_sample == n, s"$et: sample size ${s.n_sample} != $n")
      assert(s.est_p50 == p50 && s.est_p90 == p90,
        s"$et: stream (${s.est_p50},${s.est_p90}) != batch ($p50,$p90)")
    }
  }

  test("at-least-once re-delivery leaves the sketch unchanged") {
    // an at-least-once source can replay a micro-batch: the replayed
    // triples are identical, and membership must stay a pure
    // function of the id set — the sketch dedups before take(k)
    val pts = (1L to 400L).map(i => QPoint(i, "t", i.toDouble))
    val input = MemoryStream[QPoint]
    val q = StreamQuantile.estimates(input.toDS())
      .writeStream.format("memory").queryName("qsketch_redeliver")
      .outputMode(OutputMode.Append).start()
    val rows = try {
      input.addData(pts); q.processAllAvailable()
      input.addData(pts.take(200)); q.processAllAvailable() // replay
      spark.table("qsketch_redeliver")
        .as[(String, Long, Double, Double)].collect().toSeq
    } finally q.stop()
    assert(rows.size == 2)
    assert(rows(0) == rows(1),
      s"re-delivery changed the sketch: ${rows(0)} vs ${rows(1)}")
  }

  test("StreamArith.hash60 equals the hex-string md5 reference form") {
    def ref(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    (0L to 500L).map(_.toString).foreach { s =>
      assert(graft.streaming.StreamArith.hash60(s) == ref(s),
        s"hash60 mismatch for '$s'")
    }
  }
}
