package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One incoming track point (the reference's webhook/poll record after
  * decode — reference `task.ts:14-39`, SURVEY.md §1.1).
  */
case class TrackPoint(entityId: Long, ts: java.sql.Timestamp,
    isEmergency: Boolean, course: Double)

/** A state update emitted downstream: the newest cached position for
  * a device, or a tombstone (`evicted=true`) when retention expires —
  * the streaming observable form of the reference's cache eviction
  * (`task.ts:251-258`).
  */
case class DeviceUpdate(entityId: Long, ts: java.sql.Timestamp,
    isEmergency: Boolean, course: Double, evicted: Boolean)

/** The reference pipeline re-expressed over Structured Streaming
  * (SURVEY.md §7.1 step 5): the webhook path's keyed last-write-wins
  * cache (A2, `task.ts:148`) with the retention TTL (F1,
  * `task.ts:251-258`) becomes `flatMapGroupsWithState` with an
  * event-time timeout; the poll cadence (A4, `task.ts:172`) becomes
  * the trigger interval; watermarks subsume the late-data `?? 0`
  * eviction rule.
  *
  * Scale notes: state is one small record per device key, hash
  * partitioned across executors by the shuffle — state size is
  * O(live devices), not O(events). The timeout removes dead keys, so
  * state can't grow unboundedly (the reference's webhook path keeps
  * devices forever — quirk SURVEY.md §5.2.5 — we fix that here and
  * note the divergence).
  */
object TrackStream {

  /** A2 + F1 streaming: newest point per device, emitted on every
    * update; a tombstone when the retention TTL fires.
    */
  def latestWithTtl(points: Dataset[TrackPoint],
      retentionMs: Long): Dataset[DeviceUpdate] = {
    val spark = points.sparkSession
    import spark.implicits._
    points
      .withWatermark("ts", s"$retentionMs milliseconds")
      .groupByKey(_.entityId)
      .flatMapGroupsWithState[TrackPoint, DeviceUpdate](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout()) {
        (id: Long, rows: Iterator[TrackPoint],
         state: GroupState[TrackPoint]) =>
          if (state.hasTimedOut) {
            val dead = state.get
            state.remove()
            Iterator.single(DeviceUpdate(id, dead.ts, dead.isEmergency,
              dead.course, evicted = true))
          } else {
            // newest ts wins AT FULL µs PRECISION (getTime is
            // ms-truncated — it would treat a point newer by µs as a
            // tie and drop it); on truly equal ts the FIRST arrival
            // wins — the stored point goes first so maxBy (which
            // keeps the first maximal element) can't let a same-ts
            // point from a later micro-batch displace it.
            val candidates = state.getOption.iterator ++ rows
            val best = candidates.maxBy(p => StreamArith.micros(p.ts))
            state.update(best)
            state.setTimeoutTimestamp(best.ts.getTime + retentionMs)
            Iterator.single(DeviceUpdate(id, best.ts, best.isEmergency,
              best.course, evicted = false))
          }
      }
  }

  /** Streaming tumbling-window counts with a watermark (late rows
    * beyond it are dropped — the streaming form of F1).
    */
  def windowedCounts(points: Dataset[TrackPoint], window_ : String,
      watermark: String): DataFrame =
    points.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("isEmergency"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("isEmergency"),
        col("cnt"))

  /** Streaming dedup: drop re-delivered points (same device+ts)
    * within the watermark horizon — at-least-once delivery made
    * effectively-once, state bounded by the watermark.
    */
  def dedupWithinWatermark(points: Dataset[TrackPoint],
      watermark: String): Dataset[TrackPoint] = {
    val spark = points.sparkSession
    import spark.implicits._
    points.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("entityId", "ts")
      .as[TrackPoint]
  }

  /** Stream–static enrichment: each micro-batch of points joins the
    * (small) device dimension; `broadcast` keeps it map-side per
    * batch — the streaming analogue of the reference's per-device
    * metadata lookup (`task.ts:131-137`).
    */
  def enrich(points: Dataset[TrackPoint], deviceDim: DataFrame): DataFrame =
    points.join(broadcast(deviceDim), Seq("entityId"), "left")

  /** Stream–stream interval join: an alert attaches to the track
    * point of the same entity it follows within `maxDelay`. Both
    * sides carry watermarks and the join condition bounds event time
    * in both directions, so Spark can size and expire the join state
    * (unbounded state otherwise — the streaming scale hazard).
    */
  def correlateAlerts(points: Dataset[TrackPoint], alerts: Dataset[Alert],
      watermark: String, maxDelay: String): DataFrame = {
    val p = points.withWatermark("ts", watermark)
    val a = alerts.withWatermark("a_ts", watermark)
    p.join(a,
      p("entityId") === a("entityId") &&
        a("a_ts") >= p("ts") &&
        a("a_ts") <= p("ts") + expr(s"interval $maxDelay"))
      .select(p("entityId").as("entityId"), p("ts").as("ts"),
        a("a_ts").as("a_ts"), a("kind").as("kind"), p("course").as("course"))
  }
}

/** An alert event correlated against track points (the reference's
  * `alertsList` items — `task.ts:24-28` — lifted to a first-class
  * stream).
  */
case class Alert(entityId: Long, a_ts: java.sql.Timestamp, kind: String)
