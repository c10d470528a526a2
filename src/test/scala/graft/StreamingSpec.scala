package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{DeviceUpdate, TrackPoint, TrackStream}

/** The Structured Streaming form of the reference pipeline, driven
  * through MemoryStream (SURVEY.md §5.3: stateful streaming has no
  * DuckDB oracle — these sequences ARE the gate).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  private def ts(min: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")

  /** Final state per key as the SINK observed it: the LAST
    * non-evicted update emitted for each key. Memory-sink rows
    * accumulate in batch order and each key emits at most once per
    * batch, so the last emission IS the stored state. (A maxBy(ts)
    * reconstruction would mask the stale-clobber bug these gates
    * exist for: a broken operator that re-emits an OLDER point still
    * has the newer one in the emission history, so maxBy picks the
    * right answer from a wrong stream.)
    */
  private def lastByKey(out: Seq[DeviceUpdate]): Map[Long, DeviceUpdate] =
    out.zipWithIndex.filter(!_._1.evicted)
      .groupBy(_._1.entityId)
      .map { case (k, vs) => k -> vs.maxBy(_._2)._1 }

  private def runUpdates(input: MemoryStream[TrackPoint],
      ds: org.apache.spark.sql.Dataset[DeviceUpdate], name: String)(
      feed: (() => Unit) => Unit): Seq[DeviceUpdate] = {
    val q = ds.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update).start()
    try {
      feed(() => q.processAllAvailable())
      spark.table(name).as[DeviceUpdate].collect().toSeq
    } finally q.stop()
  }

  test("latestWithTtl: last-write-wins per device across batches") {
    val input = MemoryStream[TrackPoint]
    val out = runUpdates(input,
      TrackStream.latestWithTtl(input.toDS(), retentionMs = 60 * 60000),
      "t_lww") { sync =>
      input.addData(TrackPoint(1, ts(0), false, 10.0),
        TrackPoint(2, ts(1), true, 20.0))
      sync()
      // batch 2: newer point for 1, stale (older) point for 2
      input.addData(TrackPoint(1, ts(5), false, 11.0),
        TrackPoint(2, ts(0), false, 99.0))
      sync()
    }
    val latest = lastByKey(out).map { case (k, u) => k -> u.course }
    assert(latest == Map(1L -> 11.0, 2L -> 20.0),
      s"stale update must not clobber newer state: $out")
  }

  test("equal-ts point in a later batch does NOT displace the stored one") {
    // tie policy: newest ts wins, FIRST arrival wins on equal ts (the
    // stored point is iterated first, so maxBy keeps it)
    val input = MemoryStream[TrackPoint]
    val out = runUpdates(input,
      TrackStream.latestWithTtl(input.toDS(), retentionMs = 60 * 60000),
      "t_tie") { sync =>
      input.addData(TrackPoint(1, ts(0), false, 1.0))
      sync()
      input.addData(TrackPoint(1, ts(0), false, 2.0)) // same ts, later batch
      sync()
    }
    assert(out.forall(_.course == 1.0),
      s"same-ts later arrival displaced the stored point: $out")
  }

  test("latestWithTtl: retention TTL evicts idle devices (tombstone)") {
    val input = MemoryStream[TrackPoint]
    val out = runUpdates(input,
      TrackStream.latestWithTtl(input.toDS(), retentionMs = 30 * 60000),
      "t_ttl") { sync =>
      input.addData(TrackPoint(1, ts(0), false, 10.0))
      sync()
      // advance event time far past 1's timeout via another device
      input.addData(TrackPoint(2, ts(120), false, 20.0))
      sync()
      input.addData(TrackPoint(2, ts(130), false, 21.0))
      sync()
    }
    assert(out.exists(u => u.entityId == 1 && u.evicted),
      s"device 1 should be evicted after 30min idle: $out")
    assert(!out.exists(u => u.entityId == 2 && u.evicted))
  }

  test("streaming latest-cache == batch latestPerKey on the same data") {
    // Feed real testdata events through the stream in micro-batches;
    // the final per-device state must equal the batch operator's
    // answer on the identical rows (retention long enough that
    // nothing times out).
    val rows = Tables(spark, sf(), "events")
      .orderBy("ts").limit(300)
      .select($"user_id", $"ts", ($"event_type" === "error").as("emg"),
        $"value")
      .as[(Long, java.sql.Timestamp, Boolean, Double)]
      .collect()
      .map { case (u, t, e, v) => TrackPoint(u, t, e, v) }
    val input = MemoryStream[TrackPoint]
    val out = runUpdates(input,
      TrackStream.latestWithTtl(input.toDS(),
        retentionMs = 365L * 24 * 3600 * 1000), "t_equiv") { sync =>
      rows.grouped(100).foreach { chunk =>
        input.addData(chunk.toSeq); sync()
      }
    }
    val streamed = lastByKey(out).map { case (k, u) =>
      k -> ((u.ts.getTime, u.course))
    }
    val batch = graft.operators.TrackPipeline
      .latestPerKey(rows.toSeq.toDF("entityId", "ts", "isEmergency",
        "course"), "entityId", "ts", "course")
      .select($"entityId", $"latest.ts", $"latest.course")
      .as[(Long, java.sql.Timestamp, Double)].collect()
      .map { case (k, t, c) => k -> ((t.getTime, c)) }.toMap
    assert(streamed == batch)
  }

  test("latestWithTtl: stale point never clobbers; idle devices tombstoned, active kept") {
    val input = MemoryStream[TrackPoint]
    val out = runUpdates(input,
      TrackStream.latestWithTtl(input.toDS(), retentionMs = 30 * 60000),
      "t_lww_ttl") { sync =>
      input.addData(TrackPoint(1, ts(0), false, 10.0),
        TrackPoint(2, ts(1), true, 20.0))
      sync()
      // newer point for 1, stale point for 2 (must not clobber)
      input.addData(TrackPoint(1, ts(5), false, 11.0),
        TrackPoint(2, ts(0), false, 99.0))
      sync()
      // advance event time far past everyone's 30-min TTL
      input.addData(TrackPoint(3, ts(240), false, 30.0))
      sync()
      input.addData(TrackPoint(3, ts(250), false, 31.0))
      sync()
    }
    val latest = lastByKey(out).map { case (k, u) => k -> u.course }
    assert(latest == Map(1L -> 11.0, 2L -> 20.0, 3L -> 31.0),
      s"last-write-wins mismatch: $out")
    assert(out.exists(u => u.entityId == 1 && u.evicted) &&
      out.exists(u => u.entityId == 2 && u.evicted),
      s"idle devices 1 and 2 should be tombstoned: $out")
    assert(!out.exists(u => u.entityId == 3 && u.evicted))
  }

  test("dedupWithinWatermark drops redelivered points") {
    val input = MemoryStream[TrackPoint]
    val q = TrackStream.dedupWithinWatermark(input.toDS(), "1 hour")
      .writeStream.format("memory").queryName("t_dedup")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(TrackPoint(1, ts(0), false, 1.0),
        TrackPoint(1, ts(0), false, 1.0)) // duplicate delivery
      q.processAllAvailable()
      input.addData(TrackPoint(1, ts(0), false, 1.0)) // redelivery later
      q.processAllAvailable()
      val n = spark.table("t_dedup").count()
      assert(n == 1, s"expected single surviving row, got $n")
    } finally q.stop()
  }

  test("foreachBatch sink receives every micro-batch (K1 submit analogue)") {
    val input = MemoryStream[TrackPoint]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = input.toDS().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[TrackPoint],
          id: Long) =>
        seen.synchronized { seen += ((id, batch.count())) }; ()
      }
      .start()
    try {
      input.addData(TrackPoint(1, ts(0), false, 1.0),
        TrackPoint(2, ts(1), false, 2.0))
      q.processAllAvailable()
      input.addData(TrackPoint(3, ts(2), true, 3.0))
      q.processAllAvailable()
      val total = seen.synchronized(seen.map(_._2).sum)
      assert(total == 3, s"sink saw $seen")
    } finally q.stop()
  }

  test("end-to-end: webhook JSON stream → decode → CoT → latest cache → sink") {
    // The reference's whole webhook program (task.ts:97-164) as one
    // streaming flow: S1 source, V1 validated decode, T1-T7
    // transform, A2 keyed cache, K1 sink.
    def body(entity: Long, timeMs: Long, emergency: Boolean,
        dir: Double): String =
      s"""{"entityId": $entity, "deviceId": 42, "name": "Unit-$entity",
          "alias": "", "deviceType": "inReach",
          "trackPoint": {"time": $timeMs, "direction": $dir,
            "isEmergency": $emergency,
            "point": {"x": -105.0, "y": 40.0}}}"""
    val t0 = 1754956800000L
    val input = MemoryStream[String]
    val decoded = graft.sources.JsonSources
      .decodeWebhook(input.toDF().toDF("body"), "body")
      .filter($"is_valid")
      .select($"rec.entityId".cast("long").as("entityId"),
        timestamp_millis($"rec.trackPoint.time").as("ts"),
        coalesce($"rec.trackPoint.isEmergency", lit(false))
          .as("isEmergency"),
        $"rec.trackPoint.direction".as("course"))
      .as[TrackPoint]
    val sunk = scala.collection.mutable.ArrayBuffer.empty[(String, String, Double)]
    val q = TrackStream.latestWithTtl(decoded, retentionMs = 3600000L)
      .writeStream.outputMode(OutputMode.Update)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[DeviceUpdate],
          _: Long) =>
        // K1: the CoT feature submit — apply T2/T3 at the sink edge
        val rows = batch.filter(!$"evicted")
          .select(
            graft.operators.TrackPipeline.cotId($"entityId").as("id"),
            graft.operators.TrackPipeline.cotType($"isEmergency")
              .as("cot_type"),
            $"course")
          .as[(String, String, Double)].collect()
        sunk.synchronized { sunk ++= rows }; ()
      }.start()
    try {
      input.addData(body(1001, t0, emergency = false, 270.0),
        "garbage not json", // V1 rejects, stream keeps going
        body(1002, t0 + 1000, emergency = true, 90.0))
      q.processAllAvailable()
      input.addData(body(1001, t0 + 5000, emergency = false, 275.0))
      q.processAllAvailable()
    } finally q.stop()
    val latest = sunk.synchronized {
      sunk.groupBy(_._1).map { case (k, vs) => k -> vs.last }
    }
    assert(latest("inreach-1001") == (("inreach-1001", "a-f-G-U-U-S-X", 275.0)))
    assert(latest("inreach-1002") == (("inreach-1002", "b-a-o-tbl", 90.0)))
    assert(latest.size == 2) // the garbage body never produced output
  }

  test("stream-static enrich: device dim joins map-side per batch") {
    val input = MemoryStream[TrackPoint]
    val dim = Seq((1L, "inReach Mini 2"), (2L, "inReach SE"))
      .toDF("entityId", "deviceType")
    val q = TrackStream.enrich(input.toDS(), dim)
      .writeStream.format("memory").queryName("t_enrich")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(TrackPoint(1, ts(0), false, 10.0),
        TrackPoint(3, ts(1), false, 30.0))
      q.processAllAvailable()
      val rows = spark.table("t_enrich")
        .select($"entityId", $"deviceType").as[(Long, Option[String])]
        .collect().toSet
      // matched row enriched; unmatched keeps left row with null dim
      assert(rows == Set((1L, Some("inReach Mini 2")), (3L, None)))
    } finally q.stop()
  }

  test("stream-stream interval join: alerts attach within the delay bound") {
    val points = MemoryStream[TrackPoint]
    val alerts = MemoryStream[graft.streaming.Alert]
    val joined = TrackStream.correlateAlerts(points.toDS(), alerts.toDS(),
      watermark = "10 minutes", maxDelay = "2 minutes")
    val q = joined.writeStream.format("memory").queryName("t_corr")
      .outputMode(OutputMode.Append).start()
    try {
      points.addData(TrackPoint(1, ts(0), false, 10.0),
        TrackPoint(1, ts(30), false, 11.0),
        TrackPoint(2, ts(0), true, 20.0))
      alerts.addData(graft.streaming.Alert(1, ts(1), "sos"), // joins t0 only
        graft.streaming.Alert(1, ts(31), "low-batt"), // joins t30 only
        graft.streaming.Alert(2, ts(5), "sos")) // outside 2-min bound
      q.processAllAvailable()
      val rows = spark.table("t_corr")
        .select($"entityId", $"course", $"kind").as[(Long, Double, String)]
        .collect().toSet
      assert(rows == Set((1L, 10.0, "sos"), (1L, 11.0, "low-batt")))
    } finally q.stop()
  }

  test("checkpointed restart recovers aggregation state (file source)") {
    // the production recovery path: durable source + checkpoint; the
    // restarted query must CONTINUE the window count, not restart it
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft-stream-src").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-stream-ckpt").toString
    def writeFile(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(srcDir, name),
        lines.mkString("\n").getBytes("UTF-8"))
    def point(id: Long, minute: Int, course: Double): String =
      s"""{"entityId":$id,"ts":"2024-01-01 00:0$minute:00",""" +
        s""""isEmergency":false,"course":$course}"""
    // the memory sink is not fault-tolerant (no recovery support);
    // foreachBatch is the production recoverable sink
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def start() = {
      val pts = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[TrackPoint]].schema)
        .json(srcDir).as[TrackPoint]
      TrackStream.windowedCounts(pts, "5 minutes", "30 minutes")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select($"cnt").as[Long].collect().foreach(seen.add)
        }
        .outputMode(OutputMode.Update)
        .option("checkpointLocation", ckpt).start()
    }
    writeFile("a.json", Seq(point(1, 1, 10.0), point(2, 2, 20.0)))
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(seen.contains(2L), s"run 1 should count 2: $seen")
    // new data for the SAME window arrives while the query is down
    writeFile("b.json", Seq(point(3, 3, 30.0)))
    // delete the already-processed file: a fresh (checkpoint-
    // ignoring) restart would now list only b.json and emit cnt=1,
    // so cnt=3 below can ONLY come from recovered state + new data.
    // With a.json still present, a fresh restart would re-read it
    // and also emit 3 — the gate could not fail.
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(srcDir, "a.json"))
    seen.clear()
    val q2 = start()
    try {
      q2.processAllAvailable()
      // 2 (recovered state) + 1 (new) — a fresh query would emit 1
      assert(seen.contains(3L),
        s"restored count must continue at 3, got $seen")
    } finally q2.stop()
  }

  test("streaming MinHash-LSH candidates match the batch operator") {
    import graft.streaming.{DocEvent, StreamDedup}
    // three near-dup groups + noise, all arriving within the horizon
    val mk = (i: Long, m: Int, t: String) => DocEvent(i, ts(m), t)
    val base1 = "the quick brown fox jumps over the lazy dog every single day"
    val base2 = "structured streaming joins band keys inside a bounded event horizon"
    val docs = Seq(
      mk(1, 0, base1), mk(2, 2, base1 + " indeed"),
      mk(3, 4, base2), mk(4, 5, base2.replace("bounded", "small")),
      mk(5, 6, "completely unrelated text with nothing shared at all here now"),
      mk(6, 8, base1.replace("lazy", "sleepy")))
    val input = MemoryStream[DocEvent]
    val q = StreamDedup.lshCandidates(input.toDS(),
        watermark = "30 minutes", horizon = "30 minutes")
      .writeStream.format("memory").queryName("t_lsh")
      .outputMode(OutputMode.Append).start()
    val streamed = try {
      input.addData(docs.take(3): _*)
      q.processAllAvailable()
      input.addData(docs.drop(3): _*)
      q.processAllAvailable()
      spark.table("t_lsh").select($"id_a", $"id_b")
        .as[(Long, Long)].collect().toSet
    } finally q.stop()
    val batch = graft.operators.Dedup.minhashLshPairs(
        docs.toDF("doc_id", "ts", "text"), "doc_id", "text",
        n = 3, k = 128, bands = 32, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(batch.nonEmpty, "fixture should contain near-dups")
    assert(streamed == batch,
      s"stream candidates $streamed != batch $batch")
  }

  test("streaming LSH vs static index == batch incremental, stateless plan") {
    import graft.streaming.{DocEvent, StreamDedup}
    // static corpus = real docs; the stream delivers one genuine
    // near-dup of a corpus doc (its exact text under a new id), one
    // clone of another, and one unrelated doc
    val corpus = Tables(spark, sf("0.01"), "documents")
      .select($"doc_id", $"text").limit(300).cache()
    val picks = corpus.orderBy($"doc_id").limit(2)
      .as[(Long, String)].collect()
    val stream = Seq(
      DocEvent(900001L, ts(0), picks(0)._2),
      DocEvent(900002L, ts(5), picks(1)._2 + " extra"),
      DocEvent(900003L, ts(6),
        "wholly novel words never appearing in any corpus document xyz"))
    val input = MemoryStream[DocEvent]
    val ds = StreamDedup.lshCandidatesVsIndex(input.toDS(), corpus,
      "doc_id", "text")
    val q = ds.writeStream.format("memory").queryName("t_lsh_idx")
      .outputMode(OutputMode.Append).start()
    val streamed = try {
      input.addData(stream: _*)
      q.processAllAvailable()
      spark.table("t_lsh_idx").select($"new_id", $"corpus_id")
        .as[(Long, Long)].collect().toSet
    } finally q.stop()
    val batch = graft.operators.Dedup.minhashLshIncremental(
        stream.toDF("doc_id", "ts", "text"), corpus, "doc_id", "text")
      .select($"new_id", $"corpus_id").as[(Long, Long)].collect().toSet
    assert(batch.exists(_._1 == 900001L),
      "the exact-copy stream doc must match its corpus original")
    assert(streamed == batch,
      s"stream-vs-index $streamed != batch incremental $batch")
    // stream-static joins keep NO state: nothing in the progress
    // metrics reports stateful operators
    assert(q.lastProgress == null ||
      q.lastProgress.stateOperators.isEmpty,
      s"expected a stateless plan: ${q.lastProgress}")
  }

  test("streaming LSH: docs beyond the horizon never pair") {
    import graft.streaming.{DocEvent, StreamDedup}
    val text = "the quick brown fox jumps over the lazy dog every single day"
    val input = MemoryStream[DocEvent]
    val q = StreamDedup.lshCandidates(input.toDS(),
        watermark = "5 minutes", horizon = "10 minutes")
      .writeStream.format("memory").queryName("t_lsh_hz")
      .outputMode(OutputMode.Append).start()
    val streamed = try {
      input.addData(DocEvent(1, ts(0), text))
      q.processAllAvailable()
      // an exact clone, but 2 hours later — outside the horizon
      input.addData(DocEvent(2, ts(120), text))
      q.processAllAvailable()
      spark.table("t_lsh_hz").select($"id_a", $"id_b")
        .as[(Long, Long)].collect().toSet
    } finally q.stop()
    assert(streamed.isEmpty,
      s"pairs must respect the event-time horizon: $streamed")
  }

  test("windowedCounts: tumbling event-time aggregation with watermark") {
    val input = MemoryStream[TrackPoint]
    val q = TrackStream.windowedCounts(input.toDS(), "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("t_win")
      .outputMode(OutputMode.Complete).start()
    try {
      input.addData(TrackPoint(1, ts(10), false, 1.0),
        TrackPoint(2, ts(20), false, 1.0),
        TrackPoint(3, ts(70), true, 1.0))
      q.processAllAvailable()
      val rows = spark.table("t_win")
        .select("window_start", "isEmergency", "cnt")
        .as[(java.sql.Timestamp, Boolean, Long)].collect().toSet
      assert(rows == Set((ts(0), false, 2L), (ts(60), true, 1L)))
    } finally q.stop()
  }
}
