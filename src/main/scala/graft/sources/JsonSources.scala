package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.TrackPipeline

/** The reference's two ingest boundaries (SURVEY.md §2a S1/S2/V1) as
  * schema-validated JSON decoders, plus the full CoT transform.
  *
  * Schemas transcribed from the reference's TypeBox declarations:
  *  - webhook body `EverywhereItem` (reference `task.ts:14-39`)
  *  - poll response FeatureCollection (reference `task.ts:182-205`)
  *  - CoT output feature (reference `task.ts:121-143`)
  *
  * `direction` is Integer on the webhook path but Number on the poll
  * path (`task.ts:20` vs `task.ts:197`) — normalized to DoubleType
  * here (SURVEY.md §1.1 note 2).
  */
object JsonSources {

  val alertSchema: StructType = StructType(Seq(
    StructField("id", IntegerType),
    StructField("description", StringType),
    StructField("type", StringType)))

  /** `EverywhereItem` — reference `task.ts:14-39`. */
  val webhookSchema: StructType = StructType(Seq(
    StructField("converterId", StringType),
    StructField("deviceId", IntegerType),
    StructField("teamId", IntegerType),
    StructField("trackPoint", StructType(Seq(
      StructField("time", LongType),          // epoch millis
      StructField("direction", DoubleType),   // normalized (see docs)
      StructField("inboundMessageId", IntegerType),
      StructField("isEmergency", BooleanType),
      StructField("source", StringType),
      StructField("alertsList", ArrayType(alertSchema)),
      StructField("point", StructType(Seq(
        StructField("x", DoubleType),         // longitude
        StructField("y", DoubleType))))))),   // latitude
    StructField("source", StringType),
    StructField("entityId", IntegerType),
    StructField("deviceType", StringType),
    StructField("name", StringType),
    StructField("alias", StringType)))

  /** Poll-path feature — reference `task.ts:184-204`. */
  val pollFeatureSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("properties", StructType(Seq(
      StructField("name", StringType),
      StructField("entityId", IntegerType),
      StructField("entityType", StringType),
      StructField("deviceType", StringType),
      StructField("alias", StringType),
      StructField("oemSerial", StringType),
      StructField("teamId", IntegerType),
      StructField("time", LongType),
      StructField("inboundMessageId", IntegerType),
      StructField("isEmergency", BooleanType),
      StructField("direction", DoubleType),
      StructField("source", StringType)))),
    StructField("geometry", StructType(Seq(
      StructField("type", StringType),
      StructField("coordinates", ArrayType(DoubleType)))))))

  /** Poll response envelope — reference `task.ts:182-205`. */
  val pollResponseSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("features", ArrayType(pollFeatureSchema))))

  /** V1 — decode + validate a webhook JSON body column. Returns the
    * decoded struct plus an error channel: rows whose JSON fails to
    * parse (or misses required fields) get `is_valid = false`, the
    * Spark analogue of the reference 400-ing invalid bodies
    * (`task.ts:110`). The reference's DEBUG mode (`Type.Any()`) is
    * the receiver's: [[WebhookReceiver]] with `debug` spools any body.
    */
  def decodeWebhook(raw: DataFrame, jsonCol: String): DataFrame = {
    val rec = from_json(col(jsonCol), webhookSchema)
    // PERMISSIVE-mode from_json yields an all-null struct for
    // malformed input, so validity is judged on required fields
    val valid = rec.isNotNull && rec.getField("entityId").isNotNull &&
      rec.getField("trackPoint").isNotNull &&
      rec.getField("trackPoint").getField("time").isNotNull
    raw.withColumn("rec", rec).withColumn("is_valid", valid)
  }

  /** S2 — decode a poll-response JSON column and explode its features
    * (the reference's `latest.features.map(...)`, `task.ts:211`).
    */
  def decodePollResponse(raw: DataFrame, jsonCol: String): DataFrame =
    raw.select(explode(
      from_json(col(jsonCol), pollResponseSchema).getField("features"))
      .as("feature"))

  /** T1–T7 — the full CoT feature transform of a decoded webhook
    * record (reference `task.ts:121-143`): computed id, emergency
    * classification, falsy-coalesce callsign, ISO times, nested
    * properties/metadata structs, GeoJSON point geometry.
    */
  def webhookToCot(decoded: DataFrame): DataFrame = {
    val r = col("rec")
    val tp = r.getField("trackPoint")
    val timeMs = tp.getField("time")
    val iso = TrackPipeline.isoTime(timestamp_millis(timeMs))
    decoded.filter(col("is_valid")).select(
      TrackPipeline.cotId(r.getField("entityId")).as("id"),
      lit("Feature").as("type"),
      struct(
        TrackPipeline.cotType(
          coalesce(tp.getField("isEmergency"), lit(false))).as("type"),
        lit("m-g").as("how"),
        tp.getField("direction").as("course"),
        TrackPipeline.callsign(r.getField("alias"), r.getField("name"))
          .as("callsign"),
        iso.as("time"),
        iso.as("start"),
        struct(
          r.getField("entityId").cast("string").as("inreachId"),
          r.getField("name").as("inreachName"),
          r.getField("deviceType").as("inreachDeviceType"),
          r.getField("deviceId").cast("string").as("inreachDeviceId"),
          iso.as("inreachReceive")).as("metadata")).as("properties"),
      struct(
        lit("Point").as("type"),
        array(tp.getField("point").getField("x"),
          tp.getField("point").getField("y")).as("coordinates"))
        .as("geometry"))
  }
}
