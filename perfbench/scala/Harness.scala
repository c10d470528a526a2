package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Pieces shared by the benchmark's JVM mains. Nothing here is part
  * of the program under test: it only calls public entry points and
  * listens on Spark's public listener buses.
  */
object Harness {

  /** Local session configured the way the repo's own mains configure
    * theirs (`graft.Verify`, `graft.Bench`). */
  def session(cores: Int, app: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def secs(ns: Long): Double = ns / 1e9

  /** Sorted, merged [start, end) intervals; total covered length. */
  def unionLength(iv: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(p => p._2 > p._1).toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Minimal JSON rendering for flat/nested Scala values. */
  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def writeFile(path: String, text: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    val tmp = java.nio.file.Paths.get(path + ".tmp")
    java.nio.file.Files.writeString(tmp, text)
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** CPU time of the whole JVM process, all threads. */
  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Codegen counters of the whole JVM: (compiles, compile seconds). */
  def codegenCounters(): (Long, Double) = (
    org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .compileTime / 1e9)
}

/** Live heap: the heap in use right after a garbage collection, summed
  * over the heap pools, taken from the collectors' notifications.
  * `peakMb` is the highest such figure since the last `reset`. Used
  * heap sampled at an arbitrary moment would include garbage that no
  * collection has reclaimed yet, and on a fixed heap that figure only
  * shows how far eden fills before a collection. `reset` starts from
  * the current usage, so call it right after a collection. */
final class LiveHeap extends AutoCloseable {
  private val peak = new AtomicLong(0L)
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val listener: NotificationListener = (n: Notification, _: Any) =>
    if (n.getType ==
        GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[CompositeData])
      val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peak.accumulateAndGet(after, (a, b) => math.max(a, b))
    }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def reset(): Unit =
    peak.set(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  def peakMb: Double = peak.get / 1048576.0
  override def close(): Unit =
    emitters.foreach(_.removeNotificationListener(listener))
}

/** One recorded span: a named interval with its parent, kept in
  * memory until the run ends. Times are epoch milliseconds (the
  * clock Spark's listener events use). */
final case class Span(name: String, start: Long, end: Long,
    parent: String, runId: String) {
  def toJson: String = Harness.json(Map("name" -> name,
    "start" -> start, "end" -> end, "parent" -> parent, "run" -> runId))
}

/** Raw scheduler events, attributed after the run: jobs carry the
  * job group (set by the benchmark around each query phase) and the
  * streaming batch id (set by Structured Streaming), stages belong to
  * jobs, tasks to stages. */
final class ExecTrace extends SparkListener {
  final case class Job(id: Int, group: String, batch: String,
      start: Long, stages: Seq[Int]) {
    @volatile var end: Long = -1L
  }
  final case class Stage(id: Int, submitted: Long, completed: Long)
  final case class Task(stage: Int, launch: Long, finish: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long, ok: Boolean)

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[(Int, Int), Stage]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, Job(e.jobId, prop(e.properties, "spark.jobGroup.id"),
      prop(e.properties, "streaming.sql.batchId"), e.time, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.put((i.stageId, i.attemptNumber()),
      Stage(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val ti = e.taskInfo
    val m = Option(e.taskMetrics)
    tasks.add(Task(e.stageId, ti.launchTime, ti.finishTime,
      m.map(_.executorRunTime).getOrElse(0L),
      m.map(_.executorCpuTime).getOrElse(0L),
      m.map(_.jvmGCTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
      m.map(_.diskBytesSpilled).getOrElse(0L),
      e.reason == TaskSuccess))
  }

  /** Wait until every started job has ended and the task count has
    * stopped moving (the listener bus is asynchronous). */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1
    var stable = 0
    while (System.currentTimeMillis() < deadline && stable < 3) {
      val n = tasks.size
      val open = jobs.values.asScala.exists(_.end < 0)
      stable = if (!open && n == last) stable + 1 else 0
      last = n
      Thread.sleep(50)
    }
  }

  /** Scheduler totals over the jobs `keep` selects. */
  def summary(keep: Job => Boolean): ExecSummary = {
    val js = jobs.values.asScala.filter(keep).toSeq
    val stageIds = js.flatMap(_.stages).toSet
    val ss = stages.values.asScala.filter(s => stageIds(s.id)).toSeq
    val ts = tasks.asScala.filter(t => stageIds(t.stage)).toSeq
    ExecSummary(js.size, ss.size, ts.size,
      Harness.unionLength(ts.map(t => (t.launch, t.finish))) / 1e3,
      ts.map(_.runMs).sum / 1e3, ts.map(_.cpuNs).sum / 1e9,
      ts.map(_.gcMs).sum / 1e3, ts.map(_.shuffleWrite).sum / 1048576.0,
      ts.map(_.shuffleRead).sum / 1048576.0, ts.map(_.spill).sum / 1048576.0,
      ts.count(!_.ok),
      js.map(j => (j.start, j.end)), ss.map(s => (s.submitted, s.completed)))
  }
}

final case class ExecSummary(jobs: Int, stages: Int, tasks: Int,
    taskBusyS: Double, taskRunS: Double, taskCpuS: Double, gcS: Double,
    shuffleWriteMb: Double, shuffleReadMb: Double, spillMb: Double,
    taskFailures: Int, jobIv: Seq[(Long, Long)], stageIv: Seq[(Long, Long)]) {
  def jobS: Double = Harness.unionLength(jobIv) / 1e3
  def stageS: Double = Harness.unionLength(stageIv) / 1e3
}
