package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.Serve
import graft.sources.WebhookReceiver

/** Ingest service JVM, wired the way `graft.Serve.main` wires it: a
  * session with Serve's settings on `local[cores]` (what
  * `spark-submit --master local[*]` gives the container entry point),
  * a [[WebhookReceiver]] on a loopback port, and `Serve.pipeline` in
  * its default StateFirst order.
  *
  * {{{
  * ServeBench <spool> <checkpoint> <submit> <state> <statsFile> <trace 0|1> <cores>
  * }}}
  *
  * Prints `{"serve":"ready","port":N}` once the receiver listens.
  * Control lines on stdin: `mark` starts the measured window (a
  * collection, then the live-heap peak and codegen counters reset),
  * `stop` (or end of
  * input) closes the receiver, stops the query and writes
  * `statsFile`. With trace 1 the stats also carry every
  * `StreamingQueryProgress` (with the spool size when it arrived) and
  * scheduler totals and the jobs (with their stages) of each
  * micro-batch.
  */
object ServeBench {

  def main(args: Array[String]): Unit = {
    val Array(spool, checkpoint, submit, state, statsPath, traceArg,
      cores) = args
    val trace = traceArg == "1"
    val spoolDir = new File(spool)
    spoolDir.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-serve")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val exec = if (trace) {
      val l = new ExecTrace; spark.sparkContext.addSparkListener(l); Some(l)
    } else None
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[String]
    if (trace) spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent) = ()
      def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent) = ()
      override def onQueryIdle(
          e: StreamingQueryListener.QueryIdleEvent) = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent) = {
        val spooled = Option(spoolDir.list()).map(
          _.count(n => n.startsWith("part-"))).getOrElse(0)
        progress.add(s"""{"at_ms":${System.currentTimeMillis()},""" +
          s""""spooled":$spooled,"progress":${e.progress.json}}""")
      }
    })

    val receiver = new WebhookReceiver(spoolDir)
    val query = Serve.pipeline(spark, spool, checkpoint, submit, state)
    println(s"""{"serve":"ready","port":${receiver.port}}""")
    System.out.flush()

    val heap = new LiveHeap()
    var codegen0 = Harness.codegenCounters()
    var markMs = System.currentTimeMillis()
    val stdin = new java.io.BufferedReader(
      new java.io.InputStreamReader(System.in))
    var line = stdin.readLine()
    while (line != null && line.trim != "stop") {
      if (line.trim == "mark") {
        System.gc()
        heap.reset()
        codegen0 = Harness.codegenCounters()
        markMs = System.currentTimeMillis()
      }
      line = stdin.readLine()
    }
    receiver.close()
    query.stop()
    heap.close()
    val codegen1 = Harness.codegenCounters()
    val batches = exec.map { l =>
      l.drain()
      val ids = l.jobs.values.asScala.map(_.batch).filter(_.nonEmpty).toSet
      val stageOf = l.stages.values.asScala.map(s => s.id -> s).toMap
      ids.toSeq.map { b =>
        val s = l.summary(_.batch == b)
        val jobs = l.jobs.values.asScala.filter(_.batch == b).toSeq
          .sortBy(_.id).map { j => Map("id" -> j.id, "start" -> j.start,
            "end" -> j.end, "stages" -> j.stages.flatMap(stageOf.get).map(
              st => Map("id" -> st.id, "start" -> st.submitted,
                "end" -> st.completed))) }
        b -> Map("jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
          "task_busy_s" -> s.taskBusyS, "task_run_s" -> s.taskRunS,
          "task_cpu_s" -> s.taskCpuS, "gc_s" -> s.gcS,
          "shuffle_write_mb" -> s.shuffleWriteMb,
          "shuffle_read_mb" -> s.shuffleReadMb, "spill_mb" -> s.spillMb,
          "task_failures" -> s.taskFailures, "job_s" -> s.jobS,
          "stage_s" -> s.stageS, "jobs_detail" -> jobs)
      }.toMap
    }.getOrElse(Map.empty)
    val stats = "{" +
      s""""heap_peak_mb":${heap.peakMb},"mark_ms":$markMs,""" +
      s""""codegen_compiles":${codegen1._1 - codegen0._1},""" +
      s""""codegen_compile_s":${codegen1._2 - codegen0._2},""" +
      s""""batches":${Harness.json(batches)},""" +
      s""""progress":[${progress.asScala.mkString(",")}]}"""
    Harness.writeFile(statsPath, stats)
    spark.stop()
  }
}
