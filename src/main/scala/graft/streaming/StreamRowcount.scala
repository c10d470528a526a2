package graft.streaming

import org.apache.spark.sql.Dataset

/** One ingest observation: the event's calendar day (ISO string). */
case class RowcountEvent(event_type: String, day: String)

/** Per-key monitor readout after a micro-batch. */
case class RowcountEstimate(event_type: String, n_days: Long,
    n_scored: Long, n_anomalies: Long, last_day: String,
    last_z: Double)

/** Per-day ingest counts for one key. */
case class RowcountState(counts: Map[String, Long])

/** Streaming ingest row-count anomaly monitor — the live twin of
  * `q_dq_rowcount_anomaly`: keyed state is the per-day count map
  * (calendar-bounded, one long per observed day — the gap-fill
  * argument again), and every micro-batch re-scores the day series
  * against its trailing 7-row window exactly as the batch query
  * does (integer-exact Σ and Σ² → the same IEEE mean/var/z chain →
  * the same |z| > 3 flag). Late rows land in their day bucket and
  * the next emission re-scores, so arrival order never matters;
  * RowcountStreamSpec pins the final per-key summary equal to the
  * batch rows across shuffled uneven splits. This is the monitor
  * that catches a broken producer MID-DAY — the current day's
  * partial count is visibly anomalous long before any batch job
  * would run.
  */
object StreamRowcount {

  /** Score the day series exactly like the batch query: trailing
    * 7-ROW window, scored only with ≥3 prior days.
    */
  private[graft] def score(key: String, counts: Map[String, Long])
      : RowcountEstimate = {
    val days = counts.keys.toSeq.sorted
    var scored = 0L
    var anomalies = 0L
    var lastDay = ""
    var lastZ = 0.0
    days.zipWithIndex.foreach { case (d, i) =>
      val win = days.slice(math.max(0, i - 7), i).map(counts)
      val k = win.size
      if (k >= 3) {
        val s1 = win.sum
        // BigInt squares — the batch query's DECIMAL(38,0) Σ²
        // widening (long n*n wraps past ~3e9/day)
        val s2 = win.map(x => BigInt(x) * BigInt(x)).sum
        val mean = s1.toDouble / k
        val variance = s2.toDouble / k - mean * mean
        val z = (counts(d) - mean) / math.sqrt(math.max(variance, 1.0))
        scored += 1
        if (math.abs(z) > 3.0) anomalies += 1
        lastDay = d
        lastZ = StreamArith.round4(z)
      }
    }
    RowcountEstimate(key, days.size.toLong, scored, anomalies,
      lastDay, lastZ)
  }

  def monitor(events: Dataset[RowcountEvent])
      : Dataset[RowcountEstimate] = {
    import events.sparkSession.implicits._
    KeyedFold(events)(_.event_type)(
      step = (_: String, prev: Option[RowcountState], e: RowcountEvent) => {
        val counts = prev.fold(Map.empty[String, Long])(_.counts)
        (RowcountState(counts.updated(e.day,
          counts.getOrElse(e.day, 0L) + 1)), None)
      },
      emit = (key: String, _: Option[RowcountState], st: RowcountState) =>
        Iterator.single(score(key, st.counts)))
  }
}
