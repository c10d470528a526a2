package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.sources.JsonSources
import graft.streaming.SubmitSink

/** The sink's driver-side parquet writer (`SubmitSink.writeParquet`)
  * against Spark's own `DataFrameWriter`: the same file format for
  * the same rows, and a crash mid-write that no reader sees.
  */
class DriverParquetWriterSpec extends SparkSpec {

  private val RowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  private def tmp(p: String) =
    Files.createTempDirectory(s"graft-driverpq-$p").toString

  /** Serve's CoT rows (nested structs, nullable and non-nullable
    * fields) with its message key, from three webhook bodies, some
    * without alias, name, direction or emergency flag. */
  private def cotRows(): DataFrame = {
    import spark.implicits._
    def body(eid: Int, t: Long, extra: String) =
      s"""{"entityId": $eid, "deviceType": "inReach", "deviceId": $eid,""" +
        s""" "trackPoint": {"time": $t,""" +
        s""" "point": {"x": 1.5, "y": 2.5}$extra}""" +
        (if (eid % 2 == 1) s""", "name": "n$eid", "alias": "a$eid"}"""
         else "}")
    val raw = Seq(
      body(1, 1704844800000L, """, "direction": 90.0, "isEmergency": true"""),
      body(2, 1704844801000L, ""),
      body(3, 1704844802000L, """, "direction": 12.5""")).toDF("value")
    JsonSources.webhookToCot(JsonSources.decodeWebhook(raw, "value"))
      .withColumn("msg_key",
        concat_ws("@", col("id"), col("properties").getField("time")))
  }

  /** Footer of the one data file in `dir`. */
  private def footer(dir: String): ParquetMetadata = {
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
    assert(files.length == 1, s"$dir: ${files.map(_.getName).toSeq}")
    val in = HadoopInputFile.fromPath(new Path(files.head.toURI),
      spark.sessionState.newHadoopConf())
    val reader = ParquetFileReader.open(in)
    try reader.getFooter finally reader.close()
  }

  test("driver writer: CoT rows get DataFrameWriter's parquet schema, row metadata and rows") {
    val cot = cotRows()
    assert(cot.schema.exists(!_.nullable) && cot.schema.exists(_.nullable),
      s"want mixed nullability: ${cot.schema.treeString}")
    val rows = cot.collect().toSeq
    assert(rows.size == 3)
    val (driver, spark_) = (tmp("driver") + "/out", tmp("spark") + "/out")
    SubmitSink.writeParquet(spark, driver, cot.schema, rows)
    cot.coalesce(1).write.parquet(spark_)

    val (d, s) = (footer(driver).getFileMetaData, footer(spark_).getFileMetaData)
    assert(d.getSchema == s.getSchema,
      s"parquet schema:\n${d.getSchema}\nvs\n${s.getSchema}")
    assert(d.getKeyValueMetaData.get(RowMetadataKey) != null)
    assert(d.getKeyValueMetaData.get(RowMetadataKey) ==
      s.getKeyValueMetaData.get(RowMetadataKey))

    def back(dir: String) = spark.read.parquet(dir).orderBy("msg_key")
    assert(back(driver).schema == back(spark_).schema)
    assert(back(driver).collect().toSeq == back(spark_).collect().toSeq)
    assert(back(driver).count() == 3)
    // no temporary file stays behind, and no _SUCCESS marker is written
    assert(new java.io.File(driver).list().toSeq
      .filterNot(_.endsWith(".crc")).forall(_.startsWith("part-")),
      new java.io.File(driver).list().toSeq)
  }

  test("driver writer: a truncated temporary file from a crash mid-write is ignored by the guard load and by readers") {
    import spark.implicits._
    val stateDir = tmp("state") + "/st"
    val submitDir = tmp("submit") + "/out"
    def batch(ks: String*) = ks.map(k => (k, 1.0)).toDF("msg_key", "course")
    SubmitSink.processBatch(batch("a", "b"), "msg_key",
      SubmitSink.StateFirst, submitDir, stateDir)
    // what a kill between the writer's first bytes and its rename
    // leaves: a dot-prefixed, footer-less part of a parquet file
    val done = new java.io.File(stateDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val torn = Paths.get(stateDir, s".${done.getName.replace(
      "part-00000-", "part-00000-0000")}.tmp")
    Files.write(torn, Files.readAllBytes(done.toPath).take(20))

    assert(spark.read.parquet(stateDir).as[String].collect().sorted.toSeq ==
      Seq("a", "b"))
    // a new guard loads the log past the torn file
    SubmitSink.processBatch(batch("b", "c"), "msg_key",
      SubmitSink.StateFirst, submitDir, stateDir,
      guard = Some(new SubmitSink.Guard(stateDir)))
    assert(spark.read.parquet(submitDir).select("msg_key").as[String]
      .collect().sorted.toSeq == Seq("a", "b", "c"))

    // a torn first write: the log holds no committed file yet, so
    // nothing counts as processed
    val fresh = tmp("fresh") + "/st"
    Files.createDirectories(Paths.get(fresh))
    Files.copy(torn, Paths.get(fresh, torn.getFileName.toString))
    val freshSubmit = tmp("freshsubmit") + "/out"
    SubmitSink.processBatch(batch("a"), "msg_key",
      SubmitSink.StateFirst, freshSubmit, fresh)
    assert(spark.read.parquet(freshSubmit).count() == 1)
    assert(spark.read.parquet(fresh).as[String].collect().toSeq == Seq("a"))
  }

  test("driver writer: an empty batch still writes a readable file with the schema") {
    val dir = tmp("empty") + "/out"
    val schema = cotRows().schema
    SubmitSink.writeParquet(spark, dir, schema, Seq.empty[Row])
    val back = spark.read.parquet(dir)
    assert(back.count() == 0)
    assert(back.schema.fieldNames.toSeq == schema.fieldNames.toSeq)
  }
}
