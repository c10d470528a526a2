package graft

import graft.sources.WebhookReceiver
import graft.streaming.SubmitSink

/** End-to-end gate for the deployable runtime (`graft.Serve`): a real
  * HTTP POST lands in the submit directory as a CoT feature, exactly
  * once per message identity — the full reference webhook path
  * (receiver → spool → decode → transform → ordered two-write sink)
  * in one process, the same wiring `main` starts under spark-submit.
  */
class ServeSpec extends SparkSpec {

  private def item(eid: Int, t: Long) =
    s"""{"entityId": $eid, "name": "n$eid", "alias": "a$eid",""" +
      s""" "deviceType": "inReach", "deviceId": $eid,""" +
      s""" "trackPoint": {"time": $t, "isEmergency": false,""" +
      s""" "direction": 90.0, "point": {"x": 1.5, "y": 2.5}}}"""

  private def post(port: Int, body: String) =
    java.net.http.HttpClient.newHttpClient().send(
      java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(s"http://127.0.0.1:$port/h1"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
        .build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())

  test("Serve pipeline: POST → submit parquet, dedupe by message identity") {
    val root = java.nio.file.Files.createTempDirectory("serve").toFile
    def dir(n: String) = new java.io.File(root, n).getAbsolutePath
    val spool = new java.io.File(dir("spool")); spool.mkdirs()
    val recv = scala.util.Try(new WebhookReceiver(spool)) match {
      case scala.util.Success(r) => r
      case scala.util.Failure(e) =>
        cancel(s"sandbox forbids loopback sockets: $e")
    }
    val q = Serve.pipeline(spark, spool.getAbsolutePath,
      dir("ckpt"), dir("submit"), dir("state"))
    try {
      assert(post(recv.port, item(1, 1704844800000L)).statusCode() == 200)
      assert(post(recv.port, item(1, 1704844800000L)).statusCode() == 200) // dup POST
      assert(post(recv.port, item(2, 1704844860000L)).statusCode() == 200)
      assert(post(recv.port, """{"no": "entityId"}""").statusCode() == 400)
      q.processAllAvailable()
      // replay across batches: the duplicate arrives again later —
      // the StateFirst processed-log guard must drop it
      assert(post(recv.port, item(1, 1704844800000L)).statusCode() == 200)
      // a NEWER point for entity 1 is a new message identity: flows
      assert(post(recv.port, item(1, 1704844980000L)).statusCode() == 200)
      q.processAllAvailable()

      val out = spark.read.parquet(dir("submit"))
      val rows = out.select("id", "msg_key").collect()
        .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      // 3 distinct message identities: e1@t0, e2@t1, e1@t2 — the two
      // duplicate POSTs (same batch + later batch) are guarded off
      assert(rows.map(_._1) == Seq("inreach-1", "inreach-1", "inreach-2"),
        s"submitted rows wrong: $rows")
      assert(rows.map(_._2).distinct.size == 3, s"dup leaked: $rows")
      // transform really ran (T1–T7): CoT envelope fields present
      val first = out.filter(org.apache.spark.sql.functions
        .col("msg_key").startsWith("inreach-1@2024-01-10T00:00:00"))
      assert(first.count() == 1)
      // the state log carries exactly the processed identities
      assert(spark.read.parquet(dir("state")).distinct().count() == 3)
    } finally {
      q.stop()
      recv.close()
    }
  }

  /** A receiver on a fresh spool dir, or cancel where the sandbox
    * forbids loopback sockets.
    */
  private def receiver(): (java.io.File, WebhookReceiver) = {
    val spool = java.nio.file.Files.createTempDirectory("spool").toFile
    scala.util.Try(new WebhookReceiver(spool)) match {
      case scala.util.Success(r) => (spool, r)
      case scala.util.Failure(e) =>
        cancel(s"sandbox forbids loopback sockets: $e")
    }
  }

  test("receiver: a spool that cannot be written answers 503, not a dropped connection") {
    val (spool, recv) = receiver()
    try {
      assert(spool.delete(), s"could not remove $spool")
      val r = post(recv.port, item(1, 1704844800000L))
      assert(r.statusCode() == 503, s"got ${r.statusCode()}: ${r.body()}")
      assert(r.body().contains("\"status\":503") &&
        r.body().contains("\"message\":"), r.body())
      // the receiver keeps serving once the spool is back
      assert(spool.mkdirs())
      assert(post(recv.port, item(1, 1704844800000L)).statusCode() == 200)
      assert(spool.list().toSeq.filter(_.startsWith("part-")).size == 1,
        spool.list().toSeq)
    } finally recv.close()
  }

  test("receiver: the spool counter resumes past part-2147483647 without wrapping") {
    val spool = java.nio.file.Files.createTempDirectory("spool").toFile
    java.nio.file.Files.write(new java.io.File(spool, "part-2147483647")
      .toPath, (item(1, 1704844800000L) + "\n").getBytes("UTF-8"))
    val recv = scala.util.Try(new WebhookReceiver(spool)) match {
      case scala.util.Success(r) => r
      case scala.util.Failure(e) =>
        cancel(s"sandbox forbids loopback sockets: $e")
    }
    try {
      assert(post(recv.port, item(2, 1704844860000L)).statusCode() == 200)
      assert(spool.list().toSet == Set("part-2147483647", "part-2147483648"),
        spool.list().toSeq)
    } finally recv.close()
  }

  test("receiver: a body over the 1 MiB cap answers 413 and spools nothing") {
    val (spool, recv) = receiver()
    try {
      val cap = WebhookReceiver.MaxBodyBytes
      val over = post(recv.port, "x" * (cap + 1))
      assert(over.statusCode() == 413,
        s"got ${over.statusCode()}: ${over.body()}")
      assert(over.body().contains("\"status\":413"), over.body())
      // exactly at the cap is read in full and judged on its content
      assert(post(recv.port, "x" * cap).statusCode() == 400)
      assert(spool.list().isEmpty, spool.list().toSeq)
      assert(post(recv.port, item(1, 1704844800000L)).statusCode() == 200)
    } finally recv.close()
  }

  test("N receivers, one stream: distinct spool prefixes merge behind one query") {
    // the documented scale-out shape (Serve.scala scaladoc): N HTTP
    // receivers spool N prefixes into the SAME directory behind one
    // streaming query — no receiver-side coordination. Two live
    // receivers, interleaved POSTs, one pipeline; every message from
    // both must land exactly once.
    val root = java.nio.file.Files.createTempDirectory("serveN").toFile
    def dir(n: String) = new java.io.File(root, n).getAbsolutePath
    val spool = new java.io.File(dir("spool")); spool.mkdirs()
    val (ra, rb) = scala.util.Try((
      new WebhookReceiver(spool, prefix = "a-"),
      new WebhookReceiver(spool, prefix = "b-"))) match {
      case scala.util.Success(p) => p
      case scala.util.Failure(e) =>
        cancel(s"sandbox forbids loopback sockets: $e")
    }
    assert(ra.port != rb.port, "two receivers must bind distinct ports")
    val q = Serve.pipeline(spark, spool.getAbsolutePath,
      dir("ckpt"), dir("submit"), dir("state"))
    try {
      // interleave across receivers, including the same entity
      // hitting BOTH receivers with distinct event times (load
      // balancer reassignment): all 4 identities are distinct
      assert(post(ra.port, item(1, 1704844800000L)).statusCode() == 200)
      assert(post(rb.port, item(2, 1704844860000L)).statusCode() == 200)
      assert(post(rb.port, item(1, 1704844920000L)).statusCode() == 200)
      assert(post(ra.port, item(3, 1704844980000L)).statusCode() == 200)
      // same identity POSTed to the OTHER receiver: cross-receiver
      // dedup must still hold (identity, not file origin, is the key)
      assert(post(rb.port, item(3, 1704844980000L)).statusCode() == 200)
      q.processAllAvailable()
      val rows = spark.read.parquet(dir("submit"))
        .select("msg_key").collect().map(_.getString(0)).sorted.toSeq
      assert(rows.size == 4, s"expected 4 distinct identities: $rows")
      assert(rows.distinct.size == 4, s"cross-receiver dup leaked: $rows")
      assert(rows.count(_.startsWith("inreach-1@")) == 2 &&
        rows.count(_.startsWith("inreach-3@")) == 1, s"wrong mix: $rows")
      // both prefixes actually contributed spool files
      val names = spool.list().toSeq
      assert(names.exists(_.startsWith("a-")) &&
        names.exists(_.startsWith("b-")), s"spool files: $names")
    } finally {
      q.stop()
      ra.close(); rb.close()
    }
  }

  test("Serve pipeline lists a spool batch of more than 32 files without a Spark job") {
    // 40 files in one batch is past Spark's default parallel-listing
    // threshold (32), where the file source would list the batch with
    // a job of one task per file
    val s = spark.newSession()
    val root = java.nio.file.Files.createTempDirectory("serveList").toFile
    def dir(n: String) = new java.io.File(root, n).getAbsolutePath
    val spool = new java.io.File(dir("spool")); spool.mkdirs()
    (1 to 40).foreach { i =>
      java.nio.file.Files.write(new java.io.File(spool, f"part-$i%09d").toPath,
        (item(i, 1704844800000L + i) + "\n").getBytes("UTF-8"))
    }
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      // listening from before the start: the first batch may run at once
      val listing = jobDescriptionsDuring {
        q = Serve.pipeline(s, spool.getAbsolutePath,
          dir("ckpt"), dir("submit"), dir("state"))
        q.processAllAvailable()
      }.filter(_.startsWith("Listing leaf files and directories"))
      assert(listing.isEmpty, s"spool listed by a Spark job: $listing")
      assert(s.read.parquet(dir("submit")).count() == 40)
    } finally if (q != null) q.stop()
  }

  test("Serve pipeline resolves file: to the fork-free classes on its session only") {
    val uri = java.net.URI.create("file:///")
    def classes(s: org.apache.spark.sql.SparkSession) = {
      val conf = s.sessionState.newHadoopConf()
      (org.apache.hadoop.fs.FileSystem.get(uri, conf).getClass,
        org.apache.hadoop.fs.AbstractFileSystem.get(uri, conf).getClass)
    }
    val s = spark.newSession()
    // what the classpath's service files give `file:` (with Hive on it,
    // Hive's ProxyLocalFileSystem over Hadoop's LocalFileSystem)
    val hadoopDefault = classes(s)
    assert(hadoopDefault._2 == classOf[org.apache.hadoop.fs.local.LocalFs],
      hadoopDefault)
    assert(hadoopDefault._1 != classOf[NioLocalFileSystem])
    val root = java.nio.file.Files.createTempDirectory("serveFs").toFile
    def dir(n: String) = new java.io.File(root, n).getAbsolutePath
    val spool = new java.io.File(dir("spool")); spool.mkdirs()
    val staged = new java.io.File(spool, ".part-1")
    java.nio.file.Files.write(staged.toPath,
      (item(7, 1704844800000L) + "\n").getBytes("UTF-8"))
    java.nio.file.Files.move(staged.toPath,
      new java.io.File(spool, "part-1").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val q = Serve.pipeline(s, spool.getAbsolutePath,
      dir("ckpt"), dir("submit"), dir("state"))
    try {
      q.processAllAvailable()
      assert(classes(s) == (classOf[NioLocalFileSystem], classOf[NioLocalFs]))
      assert(classes(spark.newSession()) == hadoopDefault)
      // the batch went through the checkpoint logs and both writes
      assert(s.read.parquet(dir("submit")).count() == 1)
      assert(s.read.parquet(dir("state")).count() == 1)
    } finally q.stop()
  }
}
