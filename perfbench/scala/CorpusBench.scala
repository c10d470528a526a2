package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{CachedPlans, SparkEntry, Tables}

/** The timed corpus action: the complete result of a query, every
  * column of every row, delivered to the caller. `count()` is never
  * used, because Catalyst prunes every output column under it. */
object Action {
  def fullResult(df: DataFrame): Array[Row] = df.collect()
}

/** Corpus workload JVM.
  *
  * {{{
  * CorpusBench run <dataDir> <outDir> <namesFile> <passes> <trace 0|1> <cores> [warmup,...]
  * CorpusBench probe <dataDir> <outFile> <query> <cores>
  * CorpusBench names <outFile>
  * }}}
  *
  * `run` sets up a session, registers the tables, runs each warm-up
  * query once, untimed, and prints one `{"ready":true}` line. It then
  * runs the queries of `namesFile` in file order, `passes` times.
  * Each execution is
  * construction (`SparkEntry.queries(name)(spark, dir)`) plus
  * [[Action.fullResult]]. Outside the timed region it writes the
  * collected rows to `outDir/<exec>/` for the oracle check and calls
  * `CachedPlans.release()`. `outDir/result.json` holds one record
  * per execution; with trace 1 it also holds the layer totals and the
  * recorded spans.
  *
  * `probe` writes, for one query, the plans that `count()` and
  * [[Action.fullResult]] actually executed, so a test can check that
  * the benchmark's action computes every output column.
  */
object CorpusBench {

  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: dir :: out :: names :: passes :: trace :: cores :: rest =>
      run(dir, out, readNames(names), passes.toInt, trace == "1",
        cores.toInt, rest.headOption.toSeq.flatMap(_.split(',')))
    case "probe" :: dir :: out :: name :: cores :: Nil =>
      probe(dir, out, name, cores.toInt)
    case "names" :: out :: Nil =>
      Harness.writeFile(out, SparkEntry.queries.keys.toSeq.sorted
        .mkString("", "\n", "\n"))
    case _ =>
      System.err.println("usage: CorpusBench run|probe ...")
      sys.exit(2)
  }

  private def readNames(path: String): Seq[String] =
    scala.io.Source.fromFile(path).getLines().map(_.trim)
      .filter(_.nonEmpty).toSeq

  private def setup(dir: String, cores: Int): SparkSession = {
    val spark = Harness.session(cores, "perfbench-corpus")
    Tables.names.foreach(n => Tables(spark, dir, n))
    Tables.registerViews(spark, dir)
    spark
  }

  private final case class Exec(k: Int, name: String, pass: Int,
      wallS: Double, cpuS: Double, constructS: Double, planS: Double,
      executeS: Double,
      rows: Long, error: String, spans: Seq[(String, Long, Long)],
      compiles: Long, compileS: Double, phases: Map[String, Double],
      persists: Int, storageMb: Double, releaseS: Double,
      heapPeakMb: Double)

  def run(dir: String, out: String, names: Seq[String], passes: Int,
      trace: Boolean, cores: Int, warmup: Seq[String]): Unit = {
    val s0 = System.nanoTime()
    val spark = setup(dir, cores)
    val sc = spark.sparkContext
    new java.io.File(out).mkdirs()
    val s1 = System.nanoTime()
    warmup.foreach { w =>
      try Action.fullResult(SparkEntry.queries(w)(spark, dir))
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] warm-up $w failed: $e") }
      CachedPlans.release()
    }
    System.gc()
    System.err.println(f"[perfbench] session+tables ${Harness.secs(s1 - s0)}%.2f s, " +
      f"warm-up ${Harness.secs(System.nanoTime() - s1)}%.2f s")
    val oracle = SparkEntry.oracleSql
    Harness.writeFile(s"$out/oracle_sql.json", Harness.json(
      names.distinct.map(n => n -> oracle.getOrElse(n, "")).toMap))
    val exec = if (trace) {
      val l = new ExecTrace; sc.addSparkListener(l); Some(l)
    } else None
    val heap = new LiveHeap()
    println("""{"ready":true}""")
    System.out.flush()

    val runId = s"corpus-${System.currentTimeMillis()}"
    val execs = mutable.ArrayBuffer.empty[Exec]
    val p0 = System.nanoTime()
    (0 until passes).foreach { pass =>
      names.foreach { name => execs += one(spark, dir, out, execs.size,
        name, pass, trace, heap) }
    }
    heap.close()
    System.err.println(f"[perfbench] timed passes and checks ${
      Harness.secs(System.nanoTime() - p0)}%.2f s")

    val layers = exec.map { l => l.drain(); layerTotals(l, execs.toSeq, runId) }
    val records = execs.map { e => Map(
      "k" -> e.k, "name" -> e.name, "pass" -> e.pass, "wall_s" -> e.wallS,
      "cpu_s" -> e.cpuS,
      "construct_s" -> e.constructS, "plan_s" -> e.planS,
      "execute_s" -> e.executeS, "rows" -> e.rows, "error" -> e.error,
      "compiles" -> e.compiles, "compile_s" -> e.compileS,
      "phases" -> e.phases, "persists" -> e.persists,
      "storage_mb" -> e.storageMb, "release_s" -> e.releaseS,
      "heap_peak_mb" -> e.heapPeakMb) }
    val body = Map("executions" -> records.toSeq, "passes" -> passes) ++
      layers.map(l => Map("layers" -> l._1)).getOrElse(Map.empty)
    val spanLines = layers.map(_._2).getOrElse(Seq.empty)
    Harness.writeFile(s"$out/spans.jsonl",
      spanLines.map(_.toJson).mkString("", "\n", "\n"))
    Harness.writeFile(s"$out/result.json", Harness.json(body))
    spark.stop()
  }

  /** One timed execution plus its untimed check output and release. */
  private def one(spark: SparkSession, dir: String, out: String, k: Int,
      name: String, pass: Int, trace: Boolean, heap: LiveHeap): Exec = {
    val sc = spark.sparkContext
    val fn = SparkEntry.queries(name)
    val spans = mutable.ArrayBuffer.empty[(String, Long, Long)]
    val (cg0, cgS0) = Harness.codegenCounters()
    heap.reset()
    var rows: Array[Row] = null
    var df: DataFrame = null
    var err = ""
    val m0 = System.currentTimeMillis()
    val c0 = Harness.processCpuNs()
    val t0 = System.nanoTime()
    var t1, t2, t3 = t0
    var m1, m2, m3 = m0
    try {
      sc.setJobGroup(s"pb:$k:construct", name)
      df = fn(spark, dir)
      t1 = System.nanoTime(); m1 = System.currentTimeMillis()
      t2 = t1; m2 = m1
      if (trace) {
        sc.setJobGroup(s"pb:$k:plan", name)
        df.queryExecution.executedPlan
        t2 = System.nanoTime(); m2 = System.currentTimeMillis()
      }
      sc.setJobGroup(s"pb:$k:execute", name)
      rows = Action.fullResult(df)
    } catch { case NonFatal(e) =>
      err = s"${e.getClass.getSimpleName}: " +
        Option(e.getMessage).getOrElse("").replaceAll("\\s+", " ").take(300)
    } finally sc.clearJobGroup()
    t3 = System.nanoTime(); m3 = System.currentTimeMillis()
    val c3 = Harness.processCpuNs()
    val heapPeak = heap.peakMb
    val (cg1, cgS1) = Harness.codegenCounters()
    if (m1 == m0 && err.nonEmpty) { m1 = m3; m2 = m3 }
    spans += (("construct", m0, m1))
    if (trace) spans += (("plan", m1, m2))
    spans += (("execute", m2, m3))
    spans += (("query", m0, m3))
    val phases = if (trace && df != null)
      df.queryExecution.tracker.phases.map { case (p, s) =>
        p -> s.durationMs / 1e3 }
    else Map.empty[String, Double]

    // ---- untimed: check output, cache accounting, release ----
    sc.setJobGroup("pb:check", name)
    if (rows != null) try {
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/e$k")
    } catch { case NonFatal(e) =>
      err = s"result write-back failed: ${e.getClass.getSimpleName}: " +
        Option(e.getMessage).getOrElse("").take(200)
    }
    sc.clearJobGroup()
    val persists = sc.getPersistentRDDs.size
    val storageMb = sc.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    val r0 = System.nanoTime()
    CachedPlans.release()
    val releaseS = Harness.secs(System.nanoTime() - r0)
    System.gc()
    Exec(k, name, pass, Harness.secs(t3 - t0), Harness.secs(c3 - c0),
      Harness.secs(t1 - t0),
      Harness.secs(t2 - t1), Harness.secs(t3 - t2),
      if (rows == null) -1L else rows.length.toLong, err, spans.toSeq,
      cg1 - cg0, cgS1 - cgS0, phases, persists, storageMb, releaseS,
      heapPeak)
  }

  /** Per-layer totals over the timed executions, and the span list:
    * query -> construct/plan/execute -> job -> stage, with each job
    * attributed through the job group set around its phase. */
  private def layerTotals(l: ExecTrace, execs: Seq[Exec], runId: String)
      : (Map[String, Double], Seq[Span]) = {
    val spans = mutable.ArrayBuffer.empty[Span]
    val acc = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = acc(k) = acc(k) + v
    val jobsByGroup = l.jobs.values.asScala.toSeq.groupBy(_.group)
    val stageOf = l.stages.values.asScala.map(s => s.id -> s).toMap
    execs.foreach { e =>
      val q = s"q${e.k}"
      e.spans.foreach { case (n, s, t) =>
        spans += Span(if (n == "query") q else s"$q.$n", s, t,
          if (n == "query") "" else q, runId)
      }
      val phaseLen = e.spans.map { case (n, s, t) => n -> (t - s) }.toMap
      var childMs = 0L
      Seq("construct", "plan", "execute").foreach { ph =>
        val js = jobsByGroup.getOrElse(s"pb:${e.k}:$ph", Seq.empty)
        js.foreach { j =>
          spans += Span(s"job${j.id}", j.start, j.end, s"$q.$ph", runId)
          j.stages.flatMap(stageOf.get).foreach { s =>
            spans += Span(s"stage${s.id}", s.submitted, s.completed,
              s"job${j.id}", runId)
          }
        }
        val sum = l.summary(j => j.group == s"pb:${e.k}:$ph")
        val len = phaseLen.getOrElse(ph, 0L)
        childMs += len
        add(s"self.${ph}_s", (len - Harness.unionLength(sum.jobIv)) / 1e3)
        add("self.job_s", sum.jobS - sum.stageS)
        add("self.stage_s", sum.stageS - sum.taskBusyS)
        add("self.task_s", sum.taskBusyS)
        if (ph == "construct") {
          add("queries.construct_s", e.constructS)
          add("queries.construct_jobs", sum.jobs)
        }
        if (ph == "execute")
          add("exec.driver_gap_s", e.executeS - sum.taskBusyS)
        add("exec.jobs", sum.jobs); add("exec.stages", sum.stages)
        add("exec.tasks", sum.tasks); add("exec.task_busy_s", sum.taskBusyS)
        add("exec.task_run_s", sum.taskRunS)
        add("exec.task_cpu_s", sum.taskCpuS); add("exec.gc_s", sum.gcS)
        add("exec.shuffle_write_mb", sum.shuffleWriteMb)
        add("exec.shuffle_read_mb", sum.shuffleReadMb)
        add("exec.spill_mb", sum.spillMb)
        add("exec.task_failures", sum.taskFailures)
      }
      add("self.query_s", (phaseLen.getOrElse("query", 0L) - childMs) / 1e3)
      add("catalyst.analyze_s", e.phases.getOrElse("analysis", 0.0))
      add("catalyst.optimize_s", e.phases.getOrElse("optimization", 0.0))
      add("catalyst.plan_s", e.phases.getOrElse("planning", 0.0))
      add("codegen.compiles", e.compiles)
      add("codegen.compile_s", e.compileS)
      add("cachedplans.persists", e.persists)
      add("cachedplans.release_s", e.releaseS)
    }
    acc("cachedplans.storage_peak_mb") =
      if (execs.isEmpty) 0.0 else execs.map(_.storageMb).max
    acc("exec.busy_cores") =
      if (acc("exec.task_busy_s") > 0)
        acc("exec.task_run_s") / acc("exec.task_busy_s") else 0.0
    (acc.toMap, spans.toSeq)
  }

  /** Which plans did `count()` and [[Action.fullResult]] execute? */
  def probe(dir: String, out: String, name: String, cores: Int): Unit = {
    val spark = setup(dir, cores)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add((f, qe))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def describe(qe: QueryExecution): Map[String, Any] = Map(
      "output" -> qe.analyzed.output.map(_.name),
      "optimized_operators" -> qe.optimizedPlan.collect {
        case p => p.nodeName }.distinct,
      "executed_operators" -> new AdaptiveSparkPlanHelper {}
        .collect(qe.executedPlan) { case p => p.nodeName }.distinct)
    val df = SparkEntry.queries(name)(spark, dir)
    df.count()
    waitFor(seen, 1)
    val countQe = seen.poll()._2
    Action.fullResult(SparkEntry.queries(name)(spark, dir))
    waitFor(seen, 1)
    val actionQe = seen.poll()._2
    Harness.writeFile(out, Harness.json(Map(
      "columns" -> df.columns.toSeq,
      "count" -> describe(countQe),
      "action" -> describe(actionQe))))
    CachedPlans.release()
    spark.stop()
  }

  private def waitFor(q: java.util.Queue[_], n: Int): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    while (q.size < n && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    require(q.size >= n, "query execution listener saw no event")
  }
}
