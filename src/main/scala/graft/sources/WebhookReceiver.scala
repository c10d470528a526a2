package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

/** S1 HTTP transport — the reference's live webhook endpoint
  * (reference `task.ts:97-164`): `POST /{webhookid}` with an
  * `EverywhereItem` JSON body. JDK-only (`com.sun.net.httpserver`),
  * no servlet container.
  *
  * Behavior reproduced:
  *  - valid body → spooled + `{"status":200,"message":"Received"}`
  *    (`task.ts:156-159`);
  *  - invalid body → HTTP 400 with an error message (the TypeBox
  *    `body: EverywhereItem` schema gate, `task.ts:110`); validity
  *    here is the same required-field rule as
  *    [[JsonSources.decodeWebhook]] — `entityId` and
  *    `trackPoint.time` present — so the transport gate and the
  *    Spark-side V1 validator agree by construction;
  *  - DEBUG → any body accepted (`body: Type.Any()`, `task.ts:110`)
  *    and logged to stderr (`task.ts:116-118`);
  *  - non-POST → 405 with `Allow: POST` (RFC 9110 §15.5.6);
  *  - body over [[WebhookReceiver.MaxBodyBytes]] → 413, nothing
  *    spooled;
  *  - spool write fails (an `IOException`: disk full, dir gone) →
  *    503, so the sender knows the point was not taken and can retry.
  *
  * Accepted payloads land as immutable `<prefix><index>` files
  * (`part-` by default; write hidden tmp + atomic rename, so a
  * concurrent directory listing never sees a half-written file) in
  * `spoolDir`, which `graft.Serve` drains with `readStream.text` +
  * [[JsonSources.decodeWebhook]]: Spark's file source, the one
  * streaming reader of a spool, remembers the paths it has read, so
  * each new file is read once, whatever its name or prefix sorts
  * after. The receiver is the transport shim between a push protocol
  * and Spark's pull-based micro-batching; it holds no state beyond
  * the spool counter, so at scale N receivers spool to N prefixes
  * behind one stream.
  */
final class WebhookReceiver(spoolDir: java.io.File,
    debug: Boolean = false,
    prefix: String = "part-",
    // container deployment: fixed port + all-interfaces bind
    // (docker/entrypoint.sh); the 0/loopback default keeps local
    // runs and tests collision-free
    requestedPort: Int = 0,
    bindAll: Boolean = false) extends AutoCloseable {

  // a hidden tmp prefix would make the atomic-rename dance moot
  require(prefix.nonEmpty && !prefix.startsWith("."),
    s"spool prefix must be visible: '$prefix'")

  private val mapper = new ObjectMapper
  // resume AFTER the highest already-spooled index: a restarted
  // receiver starting at 0 would atomically rename ONTO committed
  // part- files — the file source has already seen that path, so the
  // new body is never ingested, and the old one is gone. A Long: an
  // Int index wraps negative past part-2147483647, and a name past
  // Long range is no index at all
  private val nFiles = new java.util.concurrent.atomic.AtomicLong({
    val existing = Option(spoolDir.listFiles()).getOrElse(Array.empty)
      .map(_.getName)
      .filter(n => n.startsWith(prefix) &&
        n.drop(prefix.length).forall(_.isDigit))
      .flatMap(_.drop(prefix.length).toLongOption)
    if (existing.isEmpty) 0L else existing.max + 1
  })
  private val server = HttpServer.create(
    if (bindAll)
      new java.net.InetSocketAddress(requestedPort)
    else
      new java.net.InetSocketAddress(
        java.net.InetAddress.getLoopbackAddress, requestedPort), 16)

  server.createContext("/", new HttpHandler {
    def handle(ex: HttpExchange): Unit = try {
      if (ex.getRequestMethod != "POST") {
        ex.getResponseHeaders.add("Allow", "POST")
        respond(ex, 405, "Method Not Allowed")
      } else {
        val webhookid = ex.getRequestURI.getPath.stripPrefix("/")
        // one byte past the cap tells "at the cap" from "over it"
        val raw = ex.getRequestBody.readNBytes(
          WebhookReceiver.MaxBodyBytes + 1)
        if (raw.length > WebhookReceiver.MaxBodyBytes)
          respond(ex, 413, "Webhook body too large")
        else {
          val body = new String(raw, "UTF-8")
          if (debug)
            System.err.println(s"DEBUG Webhook: $webhookid - $body")
          if (debug || isValid(body)) {
            // a 200 promises the point was spooled; a spool that
            // cannot be written says so instead of dropping the socket
            val spooled = try { spool(body); true } catch {
              case _: java.io.IOException => false
            }
            if (spooled) respond(ex, 200, "Received")
            else respond(ex, 503, "Spool unavailable")
          } else respond(ex, 400, "Invalid webhook body")
        }
      }
    } finally ex.close()
  })
  server.start()

  /** Bound loopback port (requested port 0 = ephemeral). */
  def port: Int = server.getAddress.getPort

  /** The reference 400s any body failing the EverywhereItem schema;
    * this mirrors decodeWebhook's validity rule INCLUDING types:
    * the required fields must be present as integral JSON numbers
    * (PERMISSIVE from_json nulls wrong-typed fields, so accepting a
    * string entityId here would 200 a record the decoder then
    * drops — a silent loss the 400 exists to prevent). Trailing
    * content after the JSON object is rejected for the same reason.
    */
  private def isValid(body: String): Boolean = try {
    val parser = mapper.createParser(body)
    try {
      val n: com.fasterxml.jackson.databind.JsonNode =
        mapper.readTree(parser)
      val clean = parser.nextToken() == null // no trailing garbage
      // range-checked against the decode schema's physical types
      // (entityId IntegerType, time LongType): an integral value the
      // schema can't hold would be nulled by PERMISSIVE from_json —
      // the silent post-200 loss this gate exists to prevent
      clean && n != null && n.isObject &&
        n.path("entityId").isIntegralNumber &&
        n.path("entityId").canConvertToInt &&
        n.path("trackPoint").path("time").isIntegralNumber &&
        n.path("trackPoint").path("time").canConvertToLong
    } finally parser.close()
  } catch { case _: Exception => false }

  private def spool(body: String): Unit = {
    val i = nFiles.getAndIncrement()
    // the index only has to be unique across restarts (nFiles resumes
    // after the highest one spooled): the file source tracks the
    // paths it has seen, not their order, so the 9-digit pad keeps
    // listings tidy but carries no guarantee
    val tmp = new java.io.File(spoolDir, f".$prefix$i%09d.tmp")
    // flatten BOTH newline flavors: Hadoop's line reader splits on
    // lone CR too, so a CRLF pretty-printed body would otherwise
    // spool as several malformed JSON fragments after a 200
    try {
      java.nio.file.Files.write(tmp.toPath,
        body.replace('\n', ' ').replace('\r', ' ').getBytes("UTF-8"))
      java.nio.file.Files.move(tmp.toPath,
        new java.io.File(spoolDir, f"$prefix$i%09d").toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch { case e: java.io.IOException =>
      java.nio.file.Files.deleteIfExists(tmp.toPath)
      throw e
    }
  }

  private def respond(ex: HttpExchange, status: Int,
      message: String): Unit = {
    val out = mapper.createObjectNode
    out.put("status", status)
    out.put("message", message)
    val bytes = mapper.writeValueAsBytes(out)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
  }

  override def close(): Unit = server.stop(0)
}

object WebhookReceiver {

  /** Largest accepted body. A valid `EverywhereItem` is about 400 B;
    * the cap bounds what one request can make the receiver hold in
    * memory and write to the spool.
    */
  val MaxBodyBytes: Int = 1 << 20
}
