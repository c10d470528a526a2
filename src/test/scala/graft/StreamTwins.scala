package graft

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions._
import graft.streaming._

/** One keyed-fold streaming twin as its specs replay it: the feed its
  * stream == batch spec builds (row order included — it is part of
  * the in-order or order-independence claim under test), the pipe,
  * and that spec's micro-batch splits (see [[SparkSpec.replay]]).
  */
final class Twin[I, O](val label: String, feedOf: => Seq[I],
    val pipe: Dataset[I] => Dataset[O], val splits: Int*)(
    implicit val in: Encoder[I], val out: Encoder[O]) {
  lazy val feed: Seq[I] = feedOf
}

/** The twin table: one entry per keyed-fold twin. Each twin's own
  * stream == batch spec and RocksDbParitySpec replay these entries,
  * so a feed is built in exactly one place.
  */
trait StreamTwins { this: SparkSpec =>
  import spark.implicits._

  def replay[I, O](t: Twin[I, O], splits: Int*): Replay[O] =
    replay(t.feed, splits: _*)(t.pipe)(t.in, t.out)

  def replay[I, O](t: Twin[I, O]): Replay[O] = replay(t, t.splits: _*)

  private def events = Tables(spark, sf(), "events")

  lazy val funnel: Twin[FunnelEvent, StageAdvance] = new Twin(
    "funnel stage advances",
    events
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"))
      .as[FunnelEvent].collect().toSeq
      // the in-order feed contract, at full µs precision
      .sorted(KeyedFold.byTime[FunnelEvent](_.ts, _.event_id)),
    StreamFunnel.stageAdvances, 4, 3)

  lazy val sessionize: Twin[SessionEvent, ClosedSession] = new Twin(
    "sessionize closed sessions",
    events
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"))
      .as[SessionEvent].collect().toSeq
      // the in-order feed contract, at full µs precision
      .sorted(KeyedFold.byTime[SessionEvent](_.ts, _.event_id)),
    StreamSessionize.closedSessions, 4, 3)

  lazy val attribution: Twin[TouchEvent, Attribution] = new Twin(
    "attribution",
    events
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), col("value"))
      .as[TouchEvent].collect().toSeq
      // the in-order feed contract, at full µs precision
      .sorted(KeyedFold.byTime[TouchEvent](_.ts, _.event_id)),
    StreamAttribution.attributions, 4, 3)

  lazy val cdc: Twin[ChangeEvent, SnapshotRow] = new Twin(
    "CDC snapshot rows",
    events
      .select(col("user_id"), col("event_id"), col("ts"),
        when(col("event_type") === "signup", "I")
          .when(col("event_type") === "error", "D")
          .otherwise("U").as("op"),
        col("value"))
      .as[ChangeEvent].collect().toSeq
      // deterministic NON-chronological order: the collapser must not care
      .sortBy(e => (e.event_id * 2654435761L) % 1000003),
    StreamCdc.applyChanges, 3, 2)

  /** The RocksDB leg's pipe: capacity below the distinct-item count,
    * so the eviction path runs under both providers. */
  lazy val topK: Twin[TKEvent, TopKEstimate] = new Twin(
    "space-saving top-k",
    events
      .select(col("event_id"), col("event_type"),
        col("user_id").cast("string").as("item"))
      .as[TKEvent].collect().toSeq.sortBy(_.event_id),
    (ds: Dataset[TKEvent]) => StreamTopK.topK(ds, capacity = 64, k = 10),
    3, 2)

  private lazy val geoStations: Seq[(Double, Double)] =
    Tables(spark, sf(), "nation")
      .select(
        (lit(30.0) + (col("n_nationkey") * 613 % 3000).cast("double") / 100.0)
          .as("sla"),
        (lit(-120.0) + (col("n_nationkey") * 937 % 6000).cast("double") / 100.0)
          .as("slo"))
      .orderBy(col("sla"), col("slo"))
      .as[(Double, Double)].collect().toSeq

  lazy val geo: Twin[GeoPing, FenceEvent] = new Twin(
    "geofence transitions",
    events
      .withColumn("lat",
        lit(30.0) + (col("event_id") * 37 % 3000).cast("double") / 100.0)
      .withColumn("lon", lit(-120.0) +
        ((col("event_id") * 73 + col("user_id") * 131) % 6000)
          .cast("double") / 100.0)
      .select(col("user_id").as("entityId"), col("event_id").as("eventId"),
        col("ts"), col("lat"), col("lon"))
      .as[GeoPing].collect().toSeq
      // the in-order feed contract, at full µs precision
      .sorted(KeyedFold.byTime[GeoPing](_.ts, _.eventId)),
    (ds: Dataset[GeoPing]) =>
      GeoStream.fenceTransitions(ds, geoStations, 100000.0),
    3, 2)

  lazy val anomaly: Twin[MetricPoint, AnomalyScore] = new Twin(
    "rolling z-score anomaly",
    events
      .select(col("event_id"), col("ts"), col("event_type"),
        col("value"))
      .as[MetricPoint].collect().toSeq
      // the in-order feed contract, at full µs precision
      .sorted(KeyedFold.byTime[MetricPoint](_.ts, _.event_id)),
    (ds: Dataset[MetricPoint]) => StreamAnomaly.zScores(ds), 3, 2)

  /** q_drift_psi's split: value decades, reference = weeks before the
    * middle week, current = the rest. */
  private lazy val driftWeeks = {
    val e = events
      .select(col("event_type"),
        expr("unix_micros(ts) div 604800000000").as("wk"),
        floor(col("value") / 10).cast("long").as("bin"))
    val Array(minWk, maxWk) = e
      .agg(min(col("wk")), max(col("wk"))).collect()
      .head.toSeq.map(_.asInstanceOf[Long]).toArray
    (e, Math.floorDiv(minWk + maxWk + 1, 2L))
  }

  private lazy val driftRef: Map[String, Map[Long, Long]] = {
    val (e, cut) = driftWeeks
    e.filter(col("wk") < cut)
      .groupBy(col("event_type"), col("bin")).count().collect()
      .groupBy(_.getString(0))
      .map { case (k, rows) =>
        k -> rows.map(r => r.getLong(1) -> r.getLong(2)).toMap
      }
  }

  lazy val drift: Twin[DriftEvent, DriftEstimate] = new Twin(
    "drift monitor", {
      val (e, cut) = driftWeeks
      e.filter(col("wk") >= cut)
        .select(col("event_type"), col("bin")).as[DriftEvent]
        .collect().toSeq.reverse // deliberately not arrival order
    },
    (ds: Dataset[DriftEvent]) => StreamDrift.monitor(ds, driftRef), 4, 3)

  lazy val forecast: Twin[ForecastEvent, ForecastEstimate] = new Twin(
    "forecast monitor",
    events
      .select(col("event_type"),
        expr("unix_micros(date_trunc('hour', ts))").as("hour_us"),
        col("value"))
      .as[ForecastEvent]
      .collect().toSeq.reverse, // deliberately not arrival order
    (ds: Dataset[ForecastEvent]) => StreamForecast.monitor(ds), 5, 2)

  lazy val overlap: Twin[TypeUserEvent, UserTypeSet] = new Twin(
    "overlap user-type sets",
    events
      .select(col("user_id"), col("event_type"))
      .as[TypeUserEvent].collect().toSeq,
    (ds: Dataset[TypeUserEvent]) => StreamOverlap.userTypeSets(ds), 4, 2)

  lazy val quantile: Twin[QPoint, QuantileEstimate] = new Twin(
    "quantile sketch",
    events
      .select(col("event_id"), col("event_type"), col("value"))
      .as[QPoint].collect().toSeq
      .sortBy(_.event_id).reverse, // deliberately NOT arrival order
    (ds: Dataset[QPoint]) => StreamQuantile.estimates(ds), 5, 2)

  lazy val rowcount: Twin[RowcountEvent, RowcountEstimate] = new Twin(
    "rowcount monitor",
    events
      .select(col("event_type"),
        to_date(col("ts")).cast("string").as("day"))
      .as[RowcountEvent]
      .collect().toSeq.reverse,
    (ds: Dataset[RowcountEvent]) => StreamRowcount.monitor(ds), 4, 2)

  lazy val uplift: Twin[UpliftEvent, UpliftEstimate] = new Twin(
    "uplift monitor", {
      // the batch derivation: global median + md5 arms
      val med = events
        .agg(expr("percentile(value, 0.5)")).collect().head.getDouble(0)
      events
        .select(col("event_type"),
          (expr("cast(conv(substring(md5(cast(user_id as string)),1,8)" +
            ",16,10) as bigint)") % 2 =!= 0).as("treated"),
          when(col("value") > med, 1L).otherwise(0L).as("resp"))
        .as[UpliftEvent]
        .collect().toSeq.reverse
    },
    (ds: Dataset[UpliftEvent]) => StreamUplift.monitor(ds), 3, 4)

  /** Every keyed-fold twin, in RocksDbParitySpec's order. */
  lazy val twins: Seq[Twin[_, _]] = Seq(funnel, sessionize, attribution,
    cdc, topK, geo, anomaly, drift, forecast, overlap, quantile,
    rowcount, uplift)
}
