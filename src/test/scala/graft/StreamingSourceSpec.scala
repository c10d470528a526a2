package graft

import org.apache.spark.sql.functions._
import graft.sources.TrackPointSource

/** Streaming a directory of track points. Spark's file source is the
  * one streaming reader: it remembers the paths it has read, so each
  * file is read once across triggers and restarts whatever its name,
  * and it takes pushed filters and a pruned read schema.
  */
class StreamingSourceSpec extends SparkSpec {

  // hidden tmp + atomic rename, as the receiver spools: a trigger
  // that lists the directory mid-write must not see a partial file
  private def writeFile(dir: java.io.File, name: String,
      rows: Seq[String]): Unit = {
    val tmp = new java.io.File(dir, s".$name.tmp").toPath
    java.nio.file.Files.write(tmp, rows.mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, new java.io.File(dir, name).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def row(eid: Long, evid: Long, ts: Long): String =
    s"""{"entity_id": $eid, "event_id": $evid, "name": "u$eid", """ +
      s""""ts": $ts, "lon": 1.0, "lat": 2.0, "emergency": false}"""

  test("file source stream: each file read once across triggers, restarts and name order; ts filter and columns pushed") {
    val dir = java.nio.file.Files.createTempDirectory("tp_stream").toFile
    val ckpt = java.nio.file.Files.createTempDirectory("tp_ckpt").toFile
    writeFile(dir, "part-00000",
      Seq(row(1, 10, 1000), row(2, 20, 2000), row(9, 90, 500)))
    writeFile(dir, "part-00002", Seq(row(3, 30, 3000)))

    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def start() = spark.readStream.schema(TrackPointSource.schema)
      .json(dir.getAbsolutePath)
      .filter(col("ts") >= 1000L)
      .select(col("entity_id"), col("event_id"))
      .writeStream
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.synchronized {
          seen ++= df.collect().map(r => (r.getLong(0), r.getLong(1)))
        }
        ()
      }
      .start()
    def seenNow = seen.synchronized(seen.sorted.toSeq)

    val q = start()
    try {
      q.processAllAvailable()
      assert(seenNow == Seq((1L, 10L), (2L, 20L), (3L, 30L)),
        s"initial backlog wrong: $seenNow")
      // a file whose name sorts before one already read: read once,
      // and the file it sorts before is not read again
      writeFile(dir, "part-00001", Seq(row(4, 40, 4000)))
      q.processAllAvailable()
      assert(seenNow == Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)),
        s"out-of-order file wrong: $seenNow")
      // a later trigger reads only the new file
      writeFile(dir, "part-00003", Seq(row(5, 50, 5000)))
      q.processAllAvailable()
      assert(seenNow == Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L),
        (5L, 50L)), s"incremental batch wrong: $seenNow")
      // the row gate and the column pruning reach the file scan
      val plan = new java.io.ByteArrayOutputStream()
      Console.withOut(plan)(q.explain())
      val scan = plan.toString("UTF-8").linesIterator
        .find(_.contains("FileScan json")).getOrElse("")
      assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(ts,1000\\)".r
          .findFirstIn(scan).isDefined, s"ts filter not pushed: $plan")
      assert(scan.contains(
        "ReadSchema: struct<entity_id:bigint,event_id:bigint,ts:bigint>"),
        s"read schema not pruned: $plan")
    } finally q.stop()

    // restart against the same checkpoint: only the file that arrived
    // while down is read
    writeFile(dir, "part-00004", Seq(row(6, 60, 6000)))
    seen.clear()
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(seenNow == Seq((6L, 60L)),
        s"restart must read only files new since the last commit: $seenNow")
    } finally q2.stop()
  }

  test("S1 HTTP leg: POST round-trip, 200/400/405, streaming drain") {
    // The reference webhook is HTTP, not a raw socket
    // (`task.ts:97-164`): POST body validated against EverywhereItem
    // (400 on failure, `task.ts:110`), 200 + {status, message} on
    // success (`task.ts:156-159`). WebhookReceiver reproduces that
    // contract over JDK com.sun.net.httpserver; this leg drives it
    // with a real HTTP client end-to-end into the streaming decode.
    import graft.sources.{JsonSources, WebhookReceiver}
    val dir = java.nio.file.Files.createTempDirectory("tp_http").toFile
    val recv = scala.util.Try(new WebhookReceiver(dir)) match {
      case scala.util.Success(r) => r
      case scala.util.Failure(e) =>
        cancel(s"sandbox forbids loopback sockets: $e")
    }
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      def req(path: String) = java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(
          s"http://127.0.0.1:${recv.port}$path"))
      def post(body: String, path: String = "/hook1") =
        client.send(req(path).POST(java.net.http.HttpRequest
            .BodyPublishers.ofString(body)).build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
      def item(eid: Int, t: Long, x: Double, y: Double) =
        s"""{"entityId": $eid, "name": "n$eid", "alias": "a$eid",""" +
          s""" "deviceType": "inReach", "deviceId": $eid,""" +
          s""" "trackPoint": {"time": $t, "isEmergency": false,""" +
          s""" "direction": 90.0, "point": {"x": $x, "y": $y}}}"""

      val ok = post(item(1, 1704844800000L, 1.5, 2.5))
      assert(ok.statusCode() == 200, s"valid body: ${ok.body()}")
      assert(ok.body().contains("\"message\":\"Received\""))
      // schema gate: missing entityId / malformed JSON both 400
      assert(post("""{"name": "no entity id"}""").statusCode() == 400)
      assert(post("{not json").statusCode() == 400)
      // TYPED gate: present-but-wrong-typed required fields must 400
      // (PERMISSIVE from_json would null them — a 200 here would
      // acknowledge a record the decoder then silently drops)
      assert(post("""{"entityId": "abc",""" +
        """ "trackPoint": {"time": 1}}""").statusCode() == 400)
      assert(post("""{"entityId": 1,""" +
        """ "trackPoint": {"time": "xx"}}""").statusCode() == 400)
      // trailing garbage after a valid object
      assert(post("""{"entityId": 1,""" +
        """ "trackPoint": {"time": 1}} extra""").statusCode() == 400)
      // wrong method: 405 names the one it takes (RFC 9110 §15.5.6)
      val get = client.send(req("/hook1").GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(get.statusCode() == 405)
      assert(get.headers().firstValue("Allow").orElse("") == "POST")
      assert(post(item(2, 1704844860000L, 3.5, 4.5))
        .statusCode() == 200)
      // CRLF pretty-printed body: accepted AND spooled as ONE line
      // (lone CR is a Hadoop line delimiter — must be flattened)
      assert(post(item(3, 1704844920000L, 5.5, 6.5)
        .replace(", ", ",\r\n ")).statusCode() == 200)
      // only the three VALID bodies spooled
      assert(dir.listFiles().count(_.getName.startsWith("part-")) == 3)

      // drain the spool through the V1 decode + CoT transform
      val got = scala.collection.mutable.ArrayBuffer.empty[String]
      val q = graft.sources.JsonSources.webhookToCot(
          JsonSources.decodeWebhook(
            spark.readStream.text(dir.getAbsolutePath), "value"))
        .select(col("id"))
        .writeStream
        .foreachBatch {
          (df: org.apache.spark.sql.DataFrame, _: Long) =>
            got.synchronized {
              got ++= df.collect().map(_.getString(0))
            }
            ()
        }
        .start()
      try {
        q.processAllAvailable()
        assert(got.sorted.toSeq ==
          Seq("inreach-1", "inreach-2", "inreach-3"),
          s"HTTP-ingested records wrong: $got")
      } finally q.stop()
    } finally recv.close()

    // N receivers → N prefixes in one spool dir: no name collision
    val shared =
      java.nio.file.Files.createTempDirectory("tp_http_n").toFile
    val ra = new WebhookReceiver(shared, prefix = "a-")
    val rb = new WebhookReceiver(shared, prefix = "b-")
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      def postTo(p: Int) = client.send(
        java.net.http.HttpRequest.newBuilder()
          .uri(java.net.URI.create(s"http://127.0.0.1:$p/h"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            """{"entityId": 9, "trackPoint": {"time": 5}}"""))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(postTo(ra.port).statusCode() == 200)
      assert(postTo(rb.port).statusCode() == 200)
      val names = shared.listFiles().map(_.getName).sorted.toSeq
      assert(names == Seq("a-000000000", "b-000000000"),
        s"spool: $names")
      // restart resumes AFTER the committed spool, never onto it
      val ra2 = new WebhookReceiver(shared, prefix = "a-")
      try {
        assert(postTo(ra2.port).statusCode() == 200)
        val after = shared.listFiles().map(_.getName).sorted.toSeq
        assert(after == Seq("a-000000000", "a-000000001",
          "b-000000000"), s"restart overwrote the spool: $after")
      } finally ra2.close()
    } finally { ra.close(); rb.close() }

    // DEBUG mode = Type.Any(): any body accepted (task.ts:110)
    val dbgDir =
      java.nio.file.Files.createTempDirectory("tp_http_dbg").toFile
    val dbg = new WebhookReceiver(dbgDir, debug = true)
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      val r = client.send(java.net.http.HttpRequest.newBuilder()
          .uri(java.net.URI.create(
            s"http://127.0.0.1:${dbg.port}/hookd"))
          .POST(java.net.http.HttpRequest.BodyPublishers
            .ofString("anything goes")).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200)
      assert(dbgDir.listFiles()
        .count(_.getName.startsWith("part-")) == 1)
    } finally dbg.close()
  }
}
