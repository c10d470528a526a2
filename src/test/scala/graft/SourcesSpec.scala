package graft

import org.apache.spark.sql.functions._
import graft.sources.JsonSources

/** Golden-fixture tests for the ingest boundary: the FIXTURES.md A1
  * webhook body must decode and transform into the A3 CoT feature
  * exactly as the reference does (`task.ts:121-143`).
  */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private val webhookA1 =
    """{
      "converterId": "conv-1", "deviceId": 42, "teamId": 7,
      "trackPoint": {
        "time": 1754956800000, "direction": 270,
        "inboundMessageId": 9001, "isEmergency": false,
        "source": "iridium",
        "alertsList": [{"id": 1, "description": "low battery", "type": "device"}],
        "point": {"x": -105.27, "y": 40.01}
      },
      "source": "everywhere", "entityId": 1001,
      "deviceType": "inReach Mini 2", "name": "Unit Alpha",
      "alias": "ALPHA-1"
    }"""

  test("webhook A1 fixture decodes and transforms to the A3 CoT feature") {
    val decoded = JsonSources.decodeWebhook(
      Seq(webhookA1).toDF("body"), "body")
    assert(decoded.select("is_valid").as[Boolean].head())
    val cot = JsonSources.webhookToCot(decoded)
    val row = cot.selectExpr(
      "id", "properties.type", "properties.how", "properties.course",
      "properties.callsign", "properties.time",
      "properties.metadata.inreachId",
      "properties.metadata.inreachDeviceId",
      "geometry.coordinates")
      .as[(String, String, String, Double, String, String, String,
        String, Seq[Double])].head()
    assert(row == (("inreach-1001", "a-f-G-U-U-S-X", "m-g", 270.0,
      "ALPHA-1", "2025-08-12T00:00:00.000Z", "1001", "42",
      Seq(-105.27, 40.01))))
  }

  test("emergency flag flips the CoT type (T3)") {
    val body = webhookA1.replace("\"isEmergency\": false",
      "\"isEmergency\": true")
    val cot = JsonSources.webhookToCot(
      JsonSources.decodeWebhook(Seq(body).toDF("body"), "body"))
    assert(cot.select("properties.type").as[String].head() == "b-a-o-tbl")
  }

  test("empty alias falls back to name (T4 falsy coalesce)") {
    val body = webhookA1.replace("\"alias\": \"ALPHA-1\"", "\"alias\": \"\"")
    val cot = JsonSources.webhookToCot(
      JsonSources.decodeWebhook(Seq(body).toDF("body"), "body"))
    assert(cot.select("properties.callsign").as[String].head() ==
      "Unit Alpha")
  }

  test("invalid body lands on the error channel (V1)") {
    val bodies = Seq(webhookA1, "not json at all",
      """{"entityId": 5}""").toDF("body")
    val strict = JsonSources.decodeWebhook(bodies, "body")
    assert(strict.filter(col("is_valid")).count() == 1)
  }

  test("poll response decodes and explodes its features (S2/T8)") {
    val poll =
      """{
        "type": "FeatureCollection",
        "features": [
          {"type": "Feature",
           "properties": {"name": "Unit Alpha", "entityId": 1001,
             "entityType": "asset", "deviceType": "inReach Mini 2",
             "teamId": 7, "time": 1754956800000,
             "inboundMessageId": 9001, "isEmergency": true,
             "direction": 270.5},
           "geometry": {"type": "Point", "coordinates": [-105.27, 40.01]}},
          {"type": "Feature",
           "properties": {"name": "Unit Bravo", "entityId": 1002,
             "entityType": "asset", "deviceType": "inReach Mini 2",
             "teamId": 7, "time": 1754956860000,
             "inboundMessageId": 9002, "direction": 90},
           "geometry": {"type": "Point", "coordinates": [-106.0, 41.0]}}
        ]
      }"""
    val feats = JsonSources.decodePollResponse(Seq(poll).toDF("body"), "body")
    assert(feats.count() == 2)
    val d = feats.select(
      col("feature.properties.entityId"),
      col("feature.properties.direction"),
      col("feature.geometry.coordinates"))
      .as[(Int, Double, Seq[Double])].collect().toSeq
    assert(d == Seq((1001, 270.5, Seq(-105.27, 40.01)),
      (1002, 90.0, Seq(-106.0, 41.0))))
  }

  test("DSv2 source: filter + column pushdown reach the reader") {
    val path = graft.sources.TrackPointFixture.ensure(spark, sf())
    val df = spark.read.format("graft.sources.TrackPointSource")
      .option("path", path).load()
      .filter(col("ts") >= 1704844800000L && col("name").startsWith("u"))
      .select(col("entity_id"), col("ts"))
    val plan = df.queryExecution.executedPlan.toString
    // the numeric ts predicate is pushed into the scan (the inferred
    // IsNotNull guard rides along in the pushed list)...
    assert(plan.contains("GreaterThanOrEqual(ts,1704844800000)") &&
      plan.contains("PushedFilters: ["),
      s"ts filter not pushed:\n$plan")
    // ...the unsupported string predicate stays a Spark-side Filter...
    assert(plan.contains("StartsWith"), s"residual filter lost:\n$plan")
    // ...and parsing is pruned to the required columns (+ filter refs)
    assert(!plan.contains("lon"), s"column pruning failed:\n$plan")
    assert(df.count() > 0)
  }

  test("DSv2 source: pushed long comparisons keep 64-bit precision") {
    // Spark trusts an accepted pushed filter completely (no re-check
    // beyond the declared residual), so the reader must compare
    // longs in LONG arithmetic: 2^53 and 2^53+1 round to the SAME
    // double, and a double-based pushed EqualTo would match both
    val dir =
      java.nio.file.Files.createTempDirectory("tp_prec").toFile
    val big = 9007199254740992L // 2^53
    val rows = Seq(big, big + 1).map(id =>
      s"""{"entity_id": $id, "event_id": 1, "name": "u",""" +
        s""" "ts": 1000, "lon": 1.0, "lat": 2.0,""" +
        """ "emergency": false}""")
    java.nio.file.Files.write(
      new java.io.File(dir, "part-00000").toPath,
      rows.mkString("\n").getBytes("UTF-8"))
    val df = spark.read.format("graft.sources.TrackPointSource")
      .option("path", dir.getAbsolutePath).load()
      .filter(col("entity_id") === (big + 1))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains(s"EqualTo(entity_id,${big + 1})"),
      s"equality not pushed:\n$plan")
    val got = df.select(col("entity_id")).as[Long].collect().toSeq
    assert(got == Seq(big + 1),
      s"pushed compare lost precision beyond 2^53: $got")
  }

  test("DSv2 source: aggregate pushdown fires and matches the plain path") {
    val path = graft.sources.TrackPointFixture.ensure(spark, sf())
    def src = spark.read.format("graft.sources.TrackPointSource")
      .option("path", path).load()
      .filter(col("ts") >= 1704844800000L)
    val agged = src.groupBy(col("entity_id"))
      .agg(max(col("ts")).as("last_ms"),
        min(col("event_id")).as("first_event"),
        count(lit(1)).as("n"))
    val plan = agged.queryExecution.executedPlan.toString
    // the scan itself must report the pushed aggregation — per-file
    // partials computed inside the reader, raw rows never built
    assert(plan.contains("PushedAggregates: [max(ts), min(event_id), " +
      "count()] groupBy [entity_id]"),
      s"aggregation not pushed into the source:\n$plan")
    // the pushed time filter composes with the aggregation
    assert(plan.contains("GreaterThanOrEqual(ts,1704844800000)"),
      s"filter lost under aggregation:\n$plan")
    // identical result via a plan where pushdown is impossible: a
    // non-pushable avg rides along IN THE OUTPUT (dropping it
    // pre-execution would let Catalyst prune it and re-push), so
    // Spark keeps the raw scan and aggregates itself
    val plain = src.groupBy(col("entity_id"))
      .agg(max(col("ts")).as("last_ms"),
        min(col("event_id")).as("first_event"),
        count(lit(1)).as("n"), avg(col("lon")))
    assert(!plain.queryExecution.executedPlan.toString
      .contains("PushedAggregates"))
    val a = agged.collect().map(_.toSeq).toSet
    val b = plain.collect().map(_.toSeq.dropRight(1)).toSet
    assert(a.nonEmpty && a == b,
      s"pushed-down aggregate diverged from the plain plan")
  }

  test("DSv2 source: pushed numeric filter is null-safe on missing fields") {
    // a JSONL row with no `ts` must fail a pushed ts comparison
    // (SQL three-valued logic), not NPE in the reader — regardless of
    // where an inferred IsNotNull lands in the pushed array
    val dir = java.nio.file.Files.createTempDirectory("tp_nullsafe").toFile
    val rows = Seq(
      """{"entity_id": 1, "event_id": 10, "name": "u1", "ts": 1704844800000, "lon": 1.0, "lat": -1.0, "emergency": false}""",
      """{"entity_id": 2, "event_id": 20, "name": "u2", "lon": 2.0, "lat": -2.0, "emergency": false}""",
      """{"entity_id": 3, "event_id": 30, "name": "u3", "ts": null, "lon": 3.0, "lat": -3.0, "emergency": false}""")
    java.nio.file.Files.write(
      new java.io.File(dir, "part-0.json").toPath,
      rows.mkString("\n").getBytes("UTF-8"))
    val df = spark.read.format("graft.sources.TrackPointSource")
      .option("path", dir.getAbsolutePath).load()
      .filter(col("ts") >= 1704844800000L)
      .select(col("entity_id"))
    assert(df.queryExecution.executedPlan.toString
      .contains("PushedFilters: ["), "ts filter not pushed")
    assert(df.as[Long].collect().toSeq == Seq(1L),
      "missing/null ts rows must be dropped by the pushed comparison")
  }

  test("DSv2 source roundtrips events exactly") {
    import spark.implicits._
    val path = graft.sources.TrackPointFixture.ensure(spark, sf())
    val viaSource = spark.read
      .format("graft.sources.TrackPointSource")
      .option("path", path).load()
      .filter(col("ts") >= 1704844800000L)
      .select($"entity_id", $"ts", $"lon", $"emergency")
      .as[(Long, Long, Double, Boolean)].collect().toSet
    val direct = Tables(spark, sf(), "events")
      .select($"user_id", unix_millis($"ts").as("ms"), $"value",
        ($"event_type" === "error").as("em"))
      .filter($"ms" >= 1704844800000L)
      .as[(Long, Long, Double, Boolean)].collect().toSet
    assert(viaSource.nonEmpty)
    assert(viaSource == direct)
  }

  test("ORC source: pushed filter + pruned columns, like the parquet scans") {
    val p = SparkEntry.queries("q_source_orc")(spark, sf())
      .queryExecution.executedPlan.toString
    assert(p.contains("Scan orc"), s"expected an ORC scan:\n$p")
    assert(p.contains("LessThanOrEqual(p_size,30)"),
      s"p_size filter not pushed into the ORC reader:\n$p")
    assert(!p.contains("p_partkey") && !p.contains("p_brand"),
      s"untouched columns should be pruned from the ORC scan:\n$p")
  }
}
