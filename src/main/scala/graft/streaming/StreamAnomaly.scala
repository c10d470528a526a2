package graft.streaming

import org.apache.spark.sql.Dataset

/** One keyed metric observation arriving on the stream. */
case class MetricPoint(event_id: Long, ts: java.sql.Timestamp,
    event_type: String, value: Double)

/** Per-event verdict; z is None until the key has full history (and
  * when the trailing window has zero variance).
  */
case class AnomalyScore(event_id: Long, event_type: String,
    z: Option[Double], anomalous: Boolean)

/** The last `window` raw values per key, oldest first. */
case class RingState(values: List[Double])

/** Streaming parity for the batch rolling z-score operator
  * ([[graft.operators.Anomaly.rollingZ]] / `q_anomaly_zscore`):
  * events score as they arrive against the mean/stddev of the
  * previous `window` same-key values.
  *
  * State is the raw trailing values (`window` doubles per key — a
  * few hundred bytes regardless of uptime), NOT running moments:
  * storing sum/sum-of-squares would need exact decimal state to stay
  * drift-free, and re-deriving both from the ring costs O(window)
  * per event — trivial at any realistic window. Scoring quantizes
  * through the SAME DECIMAL(18,6) grid as the batch plan (Spark's
  * double→decimal cast is HALF_UP on the shortest decimal form,
  * which `BigDecimal.decimal` reproduces), then runs the identical
  * double arithmetic — so stream and batch z-scores are
  * bit-identical, which AnomalyStreamSpec pins across uneven
  * micro-batch splits.
  *
  * In-order feed contract: like the geofence stream, per-key
  * ordering across micro-batches is the caller's responsibility
  * (each group's batch slice is sorted here; production fronts this
  * with a watermark + sorted repartition or reads an ordered log).
  */
object StreamAnomaly {

  def zScores(events: Dataset[MetricPoint], window: Int = 20,
      zMax: Double = 3.0): Dataset[AnomalyScore] = {
    import events.sparkSession.implicits._
    KeyedFold(events)(_.event_type,
        Some(KeyedFold.byTime[MetricPoint](_.ts, _.event_id))) {
      (key: String, prev: Option[RingState], e: MetricPoint) =>
        val buf = prev.map(_.values).getOrElse(Nil)
        val z: Option[Double] =
          if (buf.length == window) {
            val q = buf.map(StreamArith.dec6)
            val sm = q.sum
            val sq = q.map(d => d * d).sum
            val mean = sm.toDouble / window
            // exact-decimal numerator — same formula as the batch
            // rollingZ and its oracle (no E[x²] − E[x]² double
            // cancellation)
            val variance = (sq * window - sm * sm).toDouble /
              (window.toLong * window)
            if (variance > 0)
              Some((e.value - mean) / math.sqrt(variance))
            else None
          } else None
        (RingState((buf :+ e.value).takeRight(window)),
          Some(AnomalyScore(e.event_id, key, z,
            z.exists(v => math.abs(v) > zMax))))
    }
  }
}
