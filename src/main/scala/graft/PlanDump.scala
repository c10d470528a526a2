package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.graftbridge.ListenerBridge

/** Optimization-round measurement harness (guide §1): for each named
  * query, dump `.explain("formatted")` to `<outDir>/<name>.txt` and
  * time it the way Bench does — `count()` as the action, three runs
  * back-to-back with CachedPlans retained across runs and released
  * after (so the reported min is warm-cache, exactly the bench's
  * per-query number) — PLUS one cold traced run (caches released
  * first) whose per-Spark-job breakdown shows where a multi-job
  * query (iterative Lloyd/CC loops, eager cache builds) spends its
  * wall. Not part of the driver contract — local tooling only.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <name1,name2,...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, namesCsv) = args.take(3)
    val names = SparkEntry.selectNames(namesCsv, SparkEntry.queries.keySet)
    val spark = LocalSession(LocalSession.cpus(32))
    new java.io.File(outDir).mkdirs()

    // per-job wall clock with the thread-local job description
    val inflight = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val done = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Double)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        inflight.put(js.jobId,
          (Option(js.properties.getProperty("spark.job.description"))
            .getOrElse(""), js.time))
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(inflight.remove(je.jobId)).foreach { case (d, t0) =>
          done.synchronized {
            done += ((je.jobId, d, (je.time - t0) / 1e3))
          }
        }
    })

    // warmup (JIT/classloading), matches Bench
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val dfPlan = fn(spark, sfDir)
      val plan = dfPlan.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/$name.txt"),
        plan.getBytes("UTF-8"))
      graft.CachedPlans.release()
      if (sys.env.get("SPARK_GRAFT_PLANS_ONLY").contains("1")) {
        println(s"$name: plan dumped (plans-only mode)")
      } else {
        def run(tag: String): Double = {
          val t0 = System.nanoTime()
          spark.sparkContext.setJobDescription(tag)
          fn(spark, sfDir).count()
          spark.sparkContext.setJobDescription(null)
          (System.nanoTime() - t0) / 1e9
        }
        // the listener bus is async: drain it so every job-end
        // event of the runs so far has been recorded (a sleep-poll
        // can miss late events on a loaded box and attribute them
        // to the next query)
        def settled(): List[(Int, String, Double)] = {
          ListenerBridge.drain(spark.sparkContext)
          done.synchronized(done.toList)
        }
        // cold traced run: caches just released, full job structure;
        // drained first so no earlier job's late events land in it
        settled()
        done.synchronized(done.clear())
        val cold = run(s"$name#cold")
        graft.CachedPlans.release()
        // bench protocol: 3 runs back-to-back, caches retained; the
        // job list keeps collecting, so it covers cold and warm runs
        val warm = (1 to 3).map(i => run(s"$name#w$i"))
        graft.CachedPlans.release()
        val jobLines = settled().map {
          case (id, d, sec) => f"    job $id%5d $sec%8.3f s  $d"
        }
        val summary =
          f"$name: bench_min=${warm.min}%.3f warm=${warm.map(t => f"$t%.3f").mkString("/")} cold=$cold%.3f"
        println(summary)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/$name.timing.txt"),
          (summary + "\n" + jobLines.mkString("\n") + "\n").getBytes("UTF-8"))
      }
    }
    spark.stop()
  }
}
