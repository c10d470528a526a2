package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.sql.{Dataset, Encoder, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(d: String = "0.001"): String = s"/root/testdata/sf$d"

  /** Run a block with AQE off — plan-shape assertions need the
    * static physical plan (AdaptiveSparkPlan hides codegen subtrees
    * until execution).
    */
  def withoutAqe[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  /** Run a block with automatic broadcast-join selection off (both
    * the static and the AQE thresholds; explicit broadcast() hints
    * still apply). Scaling gates use this to pin the AT-SCALE
    * exchange-based plan: after the r13 fan-out/cache work the
    * planner broadcasts whole small-SF dedup tables, executing the
    * match pipelines map-side with no shuffle at all — correct at
    * these sizes, but it hides the exchange growth the decade gates
    * exist to measure (at 100 TB nothing corpus-sized broadcasts).
    */
  def withoutBroadcastJoins[T](body: => T): T = {
    val k1 = "spark.sql.autoBroadcastJoinThreshold"
    val k2 = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    // restore ABSENT confs by unsetting, never by re-setting a
    // guessed default (ADVICE r13): k2 unset means "fall back to
    // k1"; re-setting it to the guessed "-1" would permanently
    // disable AQE broadcast conversion for every later test in the
    // shared session, making plan gates order-dependent.
    val p1 = spark.conf.getOption(k1)
    val p2 = spark.conf.getOption(k2)
    def restore(k: String, v: Option[String]): Unit = v match {
      case Some(s) => spark.conf.set(k, s)
      case None => spark.conf.unset(k)
    }
    spark.conf.set(k1, "-1")
    spark.conf.set(k2, "-1")
    try body finally {
      restore(k1, p1); restore(k2, p2)
    }
  }

  /** Run `f` with `record` called on every finished task's metrics,
    * then drain the async listener bus to empty (via the private-API
    * bridge) so every task has been recorded before this returns.
    */
  private def onEveryTask(f: => Unit)(
      record: org.apache.spark.executor.TaskMetrics => Unit): Unit = {
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) record(te.taskMetrics)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      f
      ListenerBridge.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Spark jobs started by `f`. The listener bus is async: drain it
    * before listening so earlier work can't leak in, and after so no
    * job of `f` is missed.
    */
  def jobsDuring(f: => Unit): Int = jobDescriptionsDuring(f).size

  /** The `spark.job.description` of each Spark job started by `f`
    * ("" where none is set), drained as in [[jobsDuring]].
    */
  def jobDescriptionsDuring(f: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    ListenerBridge.drain(sc)
    sc.addSparkListener(l)
    try {
      f
      ListenerBridge.drain(sc)
      jobs.toArray(Array.empty[String]).toSeq
    } finally sc.removeSparkListener(l)
  }

  /** Total shuffle records written by everything `f` runs, from real
    * task metrics.
    */
  def shuffledRecords(f: => Unit): Long = {
    val tally = new AtomicLong
    onEveryTask(f)(m =>
      tally.addAndGet(m.shuffleWriteMetrics.recordsWritten))
    tally.get
  }

  /** (max single-task, total) shuffle read bytes across `f` — the
    * skew-ratio form of "no task receives an unbounded payload":
    * max/total stays near 1/partitions when work is spread, and
    * approaches the dominant stage's share of the wire when one
    * task serializes it.
    */
  def shuffleReadSkew(f: => Unit): (Long, Long) = {
    val peak = new AtomicLong
    val total = new AtomicLong
    onEveryTask(f) { m =>
      val b = m.shuffleReadMetrics.totalBytesRead
      peak.accumulateAndGet(b, Math.max(_, _))
      total.addAndGet(b)
    }
    (peak.get, total.get)
  }

  /** Max shuffle bytes read by any SINGLE task across everything `f`
    * runs — the measured form of "no task receives an unbounded
    * per-key payload". (Execution-memory metrics can't see this:
    * ObjectHashAggregate's per-key buffers are untracked on-heap
    * state, which is exactly why a whale key is dangerous there.)
    */
  def maxTaskShuffleReadBytes(f: => Unit): Long = shuffleReadSkew(f)._1

  /** Replay `feed` through the streaming `pipe` over a MemoryStream
    * into a memory sink, one micro-batch per chunk. Each of `splits`
    * cuts `rest.size / d` rows off the front of what is left; the
    * remainder is the last chunk, so no splits means one batch.
    */
  def replay[I: Encoder, O: Encoder](feed: Seq[I], splits: Int*)(
      pipe: Dataset[I] => Dataset[O]): Replay[O] = {
    implicit val ctx: SQLContext = spark.sqlContext
    val (cut, last) = splits.foldLeft((Vector.empty[Seq[I]], feed)) {
      case ((done, rest), d) =>
        val (chunk, more) = rest.splitAt(rest.size / d)
        (done :+ chunk, more)
    }
    val name = s"replay_${SparkSpec.replays.incrementAndGet()}"
    val input = MemoryStream[I]
    val q = pipe(input.toDS()).writeStream.format("memory")
      .queryName(name).outputMode(OutputMode.Append).start()
    try {
      var seen = 0
      val batches = (cut :+ last).map { chunk =>
        input.addData(chunk); q.processAllAvailable()
        val sink = spark.table(name).as[O].collect().toSeq
        val fresh = sink.drop(seen)
        seen = sink.size
        fresh
      }
      // the provider's own fingerprint: a RocksDB leg that silently
      // ran the default provider would make its parity vacuous
      val sawRocksDb = q.recentProgress.exists(_.stateOperators.exists(
        _.customMetrics.keySet.toArray.exists(
          _.toString.toLowerCase.contains("rocksdb"))))
      Replay(batches, sawRocksDb)
    } finally q.stop()
  }
}

/** What [[SparkSpec.replay]] saw: the rows each micro-batch emitted,
  * in order, and whether any state operator reported a rocksdb*
  * custom metric.
  */
final case class Replay[O](batches: Seq[Seq[O]], sawRocksDb: Boolean) {
  def rows: Seq[O] = batches.flatten

  /** Each key's latest emission. */
  def latest[K](key: O => K): Map[K, O] =
    rows.groupBy(key).map { case (k, rs) => k -> rs.last }
}

object SparkSpec {
  private val replays = new AtomicInteger
  lazy val session: SparkSession = LocalSession("4")
}
