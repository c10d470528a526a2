package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.streaming.SubmitSink

/** Job budget of the ingest path: one webhook micro-batch, shaped the
  * way `Serve.pipeline` shapes it, through the StateFirst sink. Every
  * Spark job is a driver round trip, and at ~20-row batches those
  * round trips, not the rows, set how fresh a POSTed point is. Adding
  * a job to this path fails here; lowering the budget is an ordinary
  * change.
  */
class SubmitSinkBudgetSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val JobBudget = 4

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

  private def keys(df: org.apache.spark.sql.Dataset[_]): DataFrame =
    df.select(concat(lit("e"), col("id"), lit("@t")).as("msg_key"))

  test("StateFirst micro-batch: at most 4 jobs, no shuffle with a broadcast state log") {
    def tmp(p: String) = java.nio.file.Files
      .createTempDirectory(s"graft-budget-$p").toString
    val stateDir = tmp("state") + "/st"
    val submitDir = tmp("submit") + "/out"
    // a log of several committed files (five earlier batches, two
    // files each) holding keys e0..e49
    (0 until 5).foreach { b =>
      keys(spark.range(b * 10, b * 10 + 10, 1, 2))
        .write.mode(SaveMode.Append).parquet(stateDir)
    }
    // a four-partition batch, every key twice: e30..e69, of which
    // e30..e49 are already in the log
    val raw = keys(spark.range(0, 80, 1, 4)
        .select((col("id") % 40 + 30).as("id")))
      .withColumn("payload", length(col("msg_key")))
    assert(raw.rdd.getNumPartitions == 4)

    val (jobs, plans) = observed {
      SubmitSink.processBatch(Serve.dedupBatch(raw), "msg_key",
        SubmitSink.StateFirst, submitDir, stateDir)
    }
    info(s"$jobs jobs: ${plans.map(_._1).mkString(", ")}")
    assert(jobs <= JobBudget,
      s"StateFirst batch ran $jobs Spark jobs, budget $JobBudget")

    val cut = plans.collect { case ("localCheckpoint", qe) => qe }
    assert(cut.size == 1, s"actions: ${plans.map(_._1)}")
    val plan = cut.head.executedPlan
    assert(collect(plan) { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"state log should broadcast at this size:\n$plan")
    val shuffles = collect(plan) { case s: ShuffleExchangeLike => s }
    assert(shuffles.isEmpty, s"checkpointed plan shuffles:\n$plan")

    val submitted = spark.read.parquet(submitDir)
      .select("msg_key").collect().map(_.getString(0)).toSeq
    assert(submitted.sorted == (50 until 70).map(i => s"e$i@t").sorted,
      s"submitted: $submitted")
  }
}
