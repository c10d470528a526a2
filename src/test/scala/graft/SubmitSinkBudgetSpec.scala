package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.{QueryExecution, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.streaming.SubmitSink

/** Job budget of the ingest path: one webhook micro-batch, as
  * `Serve.pipeline` hands it over, through the sink in either order
  * (StateFirst on a sink's loaded processed keys). Every Spark job
  * is a driver round trip, and at ~20-row batches those round trips,
  * not the rows, set how fresh a POSTed point is. Adding a job to this
  * path fails here; lowering the budget is an ordinary change.
  */
class SubmitSinkBudgetSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Jobs of a batch: the collect. A StateFirst batch that loads its
    * processed keys may take one more. */
  private val JobBudget = 1

  /** Spark jobs started by `f`, and the plans of the actions it ran
    * (by action name). The plan listener rides the same async bus
    * `jobsDuring` drains, so it registers after the first drain.
    */
  private def observed(f: => Unit): (Int, Seq[(String, QueryExecution)]) = {
    val plans =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]
    val ql = new QueryExecutionListener {
      def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(name -> qe)
      def onFailure(name: String, qe: QueryExecution, e: Exception): Unit =
        ()
    }
    try {
      val jobs = jobsDuring { spark.listenerManager.register(ql); f }
      (jobs, plans.toArray(Array.empty[(String, QueryExecution)]).toSeq)
    } finally spark.listenerManager.unregister(ql)
  }

  /** Root paths of the files an action's plan reads. */
  private def reads(qe: QueryExecution): Seq[String] =
    qe.analyzed.collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation =>
        r.location.rootPaths.map(_.toUri.getPath) }
      .flatten

  private def keys(df: org.apache.spark.sql.Dataset[_]): DataFrame =
    df.select(concat(lit("e"), col("id"), lit("@t")).as("msg_key"))

  private def tmp(p: String) = java.nio.file.Files
    .createTempDirectory(s"graft-budget-$p").toString

  /** The batch is read as it arrives, one narrow partition: no action
    * shuffles, sorts or aggregates it. */
  private def assertNarrow(plans: Seq[(String, QueryExecution)]): Unit =
    plans.foreach { case (name, qe) =>
      val shuffles = collect(qe.executedPlan) { case s: ShuffleExchangeLike => s }
      assert(shuffles.isEmpty, s"$name shuffles:\n${qe.executedPlan}")
      val sortsOrAggs = collect(qe.executedPlan) {
        case s: SortExec => s
        case a: BaseAggregateExec => a
      }
      assert(sortsOrAggs.isEmpty,
        s"$name sorts or aggregates:\n${qe.executedPlan}")
    }

  /** A state log of `files` committed files holding keys e0..e49. */
  private def stateLog(files: Int): String = {
    val stateDir = tmp("state") + "/st"
    keys(spark.range(0, 50, 1, files))
      .write.mode(SaveMode.Append).parquet(stateDir)
    assert(new java.io.File(stateDir).list()
      .count(_.endsWith(".parquet")) == files)
    stateDir
  }

  /** A four-partition batch with every key twice: keys e`from` until
    * e`until`.
    */
  private def batch(from: Int, until: Int): DataFrame = {
    val n = until - from
    val raw = keys(spark.range(0, 2L * n, 1, 4)
        .select((col("id") % n + from).as("id")))
      .withColumn("payload", length(col("msg_key")))
    assert(raw.rdd.getNumPartitions == 4)
    raw
  }

  test("StateFirst micro-batch on a loaded guard: at most 1 job, no shuffle, no read of the state log") {
    val stateDir = stateLog(5)
    val submitDir = tmp("submit") + "/out"
    val sink =
      new SubmitSink("msg_key", SubmitSink.StateFirst, submitDir, stateDir)
    def run(b: DataFrame) = observed(sink.write(b))
    // the first batch loads the keys: one more job, one read of the log
    val (loadJobs, loadPlans) = run(batch(40, 60))
    assert(loadJobs <= JobBudget + 1, s"first batch ran $loadJobs jobs")
    assert(loadPlans.map(p => reads(p._2).count(_ == stateDir)).sum == 1,
      s"the load should read the log once: ${loadPlans.map(_._1)}")
    assert(sink.keysHeld == 60)

    // e30..e69, of which e30..e59 are already processed
    val (jobs, plans) = run(batch(30, 70))
    info(s"$jobs jobs: ${plans.map(_._1).mkString(", ")}")
    assert(jobs <= JobBudget,
      s"StateFirst batch ran $jobs Spark jobs, budget $JobBudget")
    assert(plans.exists(_._1 == "collect"), s"actions: ${plans.map(_._1)}")
    val logReads = plans.filter(p => reads(p._2).contains(stateDir))
    assert(logReads.isEmpty,
      s"actions after the load read the state log: ${logReads.map(_._1)}")
    assertNarrow(plans)

    val submitted = spark.read.parquet(submitDir)
      .select("msg_key").collect().map(_.getString(0)).toSeq
    assert(submitted.sorted == (50 until 70).map(i => s"e$i@t").sorted,
      s"submitted: $submitted")
    assert(sink.keysHeld == 70)
  }

  test("StateFirst jobs per batch do not grow with the state log: 5 files vs 50") {
    def perBatch(files: Int): Int = {
      val stateDir = stateLog(files)
      val submitDir = tmp("submit") + "/out"
      val sink =
        new SubmitSink("msg_key", SubmitSink.StateFirst, submitDir, stateDir)
      def run(from: Int) = jobsDuring(sink.write(batch(from, from + 20)))
      run(40)
      // later batches add a file each to the log; none re-reads it
      val jobs = (60 until 120 by 20).map(run)
      assert(jobs.distinct.size == 1, s"$files-file log: $jobs")
      jobs.head
    }
    val (small, large) = (perBatch(5), perBatch(50))
    assert(small == large,
      s"jobs per batch: $small on a 5-file log, $large on a 50-file log")
    assert(large <= JobBudget)
  }

  test("SubmitFirst micro-batch: at most 1 job, and the spool is read once") {
    // the four-partition batch, every key twice, as spool files
    val spool = tmp("spool")
    batch(0, 20).write.mode(SaveMode.Append).json(spool)
    val b = spark.read.schema("msg_key STRING, payload INT").json(spool)
    assert(b.count() == 40)
    val submitDir = tmp("submit") + "/out"
    val stateDir = tmp("state") + "/st"
    val (jobs, plans) = observed {
      new SubmitSink("msg_key", SubmitSink.SubmitFirst, submitDir, stateDir)
        .write(b)
    }
    info(s"$jobs jobs: ${plans.map(_._1).mkString(", ")}")
    assert(jobs <= JobBudget,
      s"SubmitFirst batch ran $jobs Spark jobs, budget $JobBudget")
    val spoolReads = plans.map(p => reads(p._2).count(_ == spool)).sum
    assert(spoolReads == 1,
      s"the batch should be read from the spool once: ${plans.map(_._1)}")
    assertNarrow(plans)

    // each key submitted once and logged once
    val expected = (0 until 20).map(i => s"e$i@t").sorted
    Seq(submitDir, stateDir).foreach { dir =>
      val got = spark.read.parquet(dir).select("msg_key").collect()
        .map(_.getString(0)).toSeq
      assert(got.sorted == expected, s"$dir: $got")
    }
  }
}
