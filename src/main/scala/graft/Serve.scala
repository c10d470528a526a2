package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.sources.{JsonSources, WebhookReceiver}
import graft.streaming.SubmitSink

/** The deployable runtime: the reference's webhook invocation path
  * (reference `task.ts:97-164` express route + `Dockerfile:1-8`
  * container entry) as ONE long-running spark-submit main —
  * HTTP receiver → spool → micro-batch decode/transform → ordered
  * two-write sink. This is the "execution-model shell" the library
  * mains (Verify/Bench) don't provide: start it, POST track points,
  * read CoT features from the submit directory.
  *
  * ```
  * spark-submit --class graft.Serve graft.jar \
  *   <spoolDir> <checkpointDir> <submitDir> <stateDir> \
  *   [--debug] [--order state-first|submit-first]
  * ```
  *
  * Layout mirrors the reference deployment 1:1:
  *  - [[WebhookReceiver]] is the express route (`task.ts:103`):
  *    schema-gated POST, 200/400/405, DEBUG accept-anything;
  *  - the spool + `readStream.text` file stream is the Lambda event
  *    queue — push transport adapted to Spark's pull micro-batching;
  *  - [[JsonSources.decodeWebhook]]/[[JsonSources.webhookToCot]] are
  *    V1 + T1–T7 (`task.ts:110,121-143`);
  *  - [[SubmitSink]] keeps the webhook path's state-THEN-submit
  *    crash ordering (`task.ts:149,151`: at-most-once per message
  *    identity) — or `--order submit-first` for the refresh path's
  *    at-least-once ordering (`task.ts:235`).
  *
  * Scale shape: the single JVM here is local-mode packaging, not a
  * design limit — N receivers spool N prefixes into the same
  * directory behind one query. The query's one [[SubmitSink]] takes
  * each micro-batch whole and handles its rows on the driver, 1 Spark
  * job a batch: the batches this path sees are small (about 18 rows
  * at a steady 20 points/s, about 226 under a four-client flood;
  * `perfbench/LAYERS.md`). A rate at which one task per batch becomes
  * the bottleneck would need wider batches, and a sink that stays on
  * the executors, again.
  *
  * Filesystem: [[pipeline]] resolves `file:` to [[NioLocalFs]]'s
  * fork-free classes on its session. Hadoop's own local filesystem,
  * without libhadoop, starts a `chmod`, `ls` or `readlink` child
  * process for every permission or link-status call, about 100 of
  * them per micro-batch (about 20 per checkpoint-log commit, about
  * 19 per parquet write), about a fifth of each trigger's time.
  * [[NioLocalFs.install]] sets three session keys before the query
  * starts: `fs.file.impl` (the FileSystem class),
  * `fs.AbstractFileSystem.file.impl` (the FileContext class the
  * checkpoint logs rename through) and `fs.file.impl.disable.cache`
  * (the SparkContext has already cached its `file` FileSystem by the
  * time `pipeline` runs). The spool scan, the checkpoint logs, the
  * state-log read and both sink writes then share that one
  * filesystem; other sessions of the SparkContext keep the
  * classpath's `file` classes. [[pipeline]] also sets
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` to
  * `Int.MaxValue`: a spool batch of any size is listed on the driver
  * through that filesystem, never by a Spark job of one task per file
  * (the default for a batch of more than 32 files).
  */
object Serve {

  /** The streaming wiring, factored out so tests can drive it
    * without the process-lifecycle main.
    *
    * Message identity for the sink is `id @ event-time`: a
    * crash-replayed or duplicate-POSTed point dedupes (within a batch
    * and, on StateFirst, across batches against the processed keys of
    * the query's one [[SubmitSink]], read from the state log on its
    * first batch), while a NEWER point for the same entity is a new
    * key and flows through — the reference's keyed upsert granularity
    * (`task.ts:148`).
    *
    * `spark` keeps the fork-free `file:` classes and the driver-side
    * listing threshold afterwards (see the object doc); the query runs
    * on a copy of its conf taken at start.
    */
  def pipeline(spark: SparkSession, spoolDir: String,
      checkpointDir: String, submitDir: String, stateDir: String,
      order: SubmitSink.Order = SubmitSink.StateFirst): StreamingQuery = {
    val sink = new SubmitSink("msg_key", order, submitDir, stateDir)
    NioLocalFs.install(spark)
    spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold",
      Int.MaxValue.toLong)
    JsonSources.webhookToCot(
        JsonSources.decodeWebhook(
          spark.readStream.text(spoolDir), "value"))
      .withColumn("msg_key",
        concat_ws("@", col("id"), col("properties").getField("time")))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) => sink.write(batch) }
      .start()
  }

  /** The command line, parsed. */
  private[graft] final case class Args(spoolDir: String,
      checkpointDir: String, submitDir: String, stateDir: String,
      debug: Boolean, order: SubmitSink.Order)

  private val Usage = "usage: graft.Serve <spoolDir> <checkpointDir> " +
    "<submitDir> <stateDir> [--debug] [--order state-first|submit-first]"

  /** Four directories and the two flags, in any order. An unknown
    * flag, a missing `--order` value or an unrecognized one fails
    * fast (IllegalArgumentException) and never falls back to
    * StateFirst: the two orders have OPPOSITE crash semantics.
    */
  private[graft] def parseArgs(args: Seq[String]): Args = {
    def fail(why: String) = throw new IllegalArgumentException(s"$why\n$Usage")
    @scala.annotation.tailrec
    def go(rest: List[String], dirs: Vector[String], debug: Boolean,
        order: SubmitSink.Order): Args = rest match {
      case "--debug" :: t => go(t, dirs, true, order)
      case "--order" :: v :: t => go(t, dirs, debug, v match {
        case "submit-first" => SubmitSink.SubmitFirst
        case "state-first"  => SubmitSink.StateFirst
        case other =>
          fail(s"--order must be state-first or submit-first, got '$other'")
      })
      case "--order" :: Nil => fail("--order needs a value")
      case f :: _ if f.startsWith("--") => fail(s"unknown flag '$f'")
      case d :: t => go(t, dirs :+ d, debug, order)
      case Nil => dirs match {
        case Vector(spool, ckpt, submit, state) =>
          Args(spool, ckpt, submit, state, debug, order)
        case _ => fail(s"want 4 directories, got ${dirs.length}")
      }
    }
    go(args.toList, Vector.empty, false, SubmitSink.StateFirst)
  }

  def main(args: Array[String]): Unit = {
    val Args(spoolDir, checkpointDir, submitDir, stateDir, debug, order) =
      parseArgs(args.toSeq)

    val spool = new java.io.File(spoolDir)
    spool.mkdirs()

    // spark-submit provides master/conf; defaults cover bare `java`
    val spark = SparkSession.builder()
      .appName("graft-serve")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // container packaging (docker/entrypoint.sh): GRAFT_HTTP_PORT
    // fixes the port and binds all interfaces so EXPOSE works;
    // unset → loopback + ephemeral, the local/test default
    val fixedPort = sys.env.get("GRAFT_HTTP_PORT").map { raw =>
      val p = scala.util.Try(raw.trim.toInt).getOrElse(
        sys.error(s"GRAFT_HTTP_PORT must be an integer, got '$raw'"))
      require(p > 0 && p < 65536, s"GRAFT_HTTP_PORT out of range: $p")
      p
    }
    val receiver = new WebhookReceiver(spool, debug = debug,
      requestedPort = fixedPort.getOrElse(0),
      bindAll = fixedPort.isDefined)
    val query = pipeline(spark, spoolDir, checkpointDir, submitDir,
      stateDir, order)
    // the driver's only output contract: where to POST
    println(s"""{"serve":"ready","port":${receiver.port},""" +
      s""""spool":"$spoolDir","submit":"$submitDir"}""")

    sys.addShutdownHook {
      receiver.close()
      query.stop()
    }
    query.awaitTermination()
  }
}
